"""Temporal core parity vs the single-node pandas oracle (FIXTURES.md §5):
asof_join ≡ pd.merge_asof (backward/forward, tolerance, exact-match),
lag_lead ≡ groupby.shift, locf ≡ ffill, sessionize ≡ lag-gap-cumsum —
plus the zero-temporal-leakage property (BASELINE.json north_rule)."""

import numpy as np
import pandas as pd
import pytest

from towhee_spark import asof_join, bfill, lag_lead, locf, sessionize
from towhee_spark.schema import CONTEXT_SCHEMA, TRANSCRIPT_SCHEMA
from towhee_spark.synth import context_pdf, transcripts_pdf
from towhee_spark import temporal


@pytest.fixture(scope="module")
def corpus():
    t = transcripts_pdf(n_convs=40, seed=42)
    c = context_pdf(t, seed=43)
    return t, c


@pytest.fixture(scope="module")
def sdfs(spark, corpus):
    t, c = corpus
    return (
        spark.createDataFrame(t, schema=TRANSCRIPT_SCHEMA),
        spark.createDataFrame(c, schema=CONTEXT_SCHEMA),
    )


def oracle_asof(t, c, direction="backward", tolerance=None, allow_exact=True):
    tl = t.sort_values("ts", kind="mergesort").reset_index(drop=True)
    cl = c.sort_values("ts", kind="mergesort").reset_index(drop=True)
    out = pd.merge_asof(
        tl,
        cl,
        on="ts",
        by="conv_id",
        direction=direction,
        tolerance=pd.Timedelta(seconds=tolerance) if tolerance else None,
        allow_exact_matches=allow_exact,
    )
    return out.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").reset_index(drop=True)


def collect_sorted(df):
    pdf = df.orderBy("conv_id", "ts", "turn_idx").toPandas()
    return pdf.reset_index(drop=True)


def assert_asof_matches(got, exp):
    assert len(got) == len(exp)
    assert list(got.conv_id) == list(exp.conv_id)
    assert list(got.turn_idx) == list(exp.turn_idx)
    np.testing.assert_allclose(
        got.ctx_score.astype(float).to_numpy(),
        exp.ctx_score.astype(float).to_numpy(),
        equal_nan=True,
    )
    assert list(got.ctx_label.fillna("∅")) == list(exp.ctx_label.fillna("∅"))


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("tolerance", [None, 600.0])
@pytest.mark.parametrize("allow_exact", [True, False])
def test_asof_join_matrix(spark, corpus, sdfs, direction, tolerance, allow_exact):
    t, c = corpus
    st, sc = sdfs
    got = collect_sorted(
        asof_join(st, sc, direction=direction, tolerance=tolerance,
                  allow_exact_matches=allow_exact)
    )
    exp = oracle_asof(t, c, direction, tolerance, allow_exact)
    assert_asof_matches(got, exp)


def test_no_temporal_leakage(spark, corpus, sdfs):
    """Ablation check: dropping all context rows later than a turn's ts must
    not change that turn's backward-asof features (north_rule)."""
    t, c = corpus
    st, sc = sdfs
    full = collect_sorted(asof_join(st, sc))
    probe = full.iloc[len(full) // 3]
    cutoff = probe.ts
    c_ablate = c[c.ts <= cutoff]
    sc2 = st.sparkSession.createDataFrame(c_ablate, schema=CONTEXT_SCHEMA)
    ablated = collect_sorted(asof_join(st, sc2))
    mask = full.ts <= cutoff
    a, b = full[mask], ablated[mask]
    np.testing.assert_allclose(
        a.ctx_score.astype(float).to_numpy(),
        b.ctx_score.astype(float).to_numpy(),
        equal_nan=True,
    )


def test_lag_lead_vs_shift(spark, corpus, sdfs):
    t, _ = corpus
    st, _ = sdfs
    got = collect_sorted(lag_lead(st, ["turn_idx"], [1, 2, -1]))
    g = t.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort").groupby("conv_id")
    exp_lag1 = g.turn_idx.shift(1)
    exp_lag2 = g.turn_idx.shift(2)
    exp_lead1 = g.turn_idx.shift(-1)
    for got_col, exp in [
        (got.turn_idx_lag1, exp_lag1),
        (got.turn_idx_lag2, exp_lag2),
        (got.turn_idx_lead1, exp_lead1),
    ]:
        np.testing.assert_allclose(
            got_col.astype(float).to_numpy(),
            exp.reset_index(drop=True).astype(float).to_numpy(),
            equal_nan=True,
        )


def test_locf_bfill_vs_pandas(spark, corpus, sdfs):
    t, _ = corpus
    st, _ = sdfs
    got = collect_sorted(bfill(locf(st, ["tool"]), ["tool"]))
    srt = t.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
    exp_ff = srt.groupby("conv_id").tool.ffill().reset_index(drop=True)
    exp_bf = srt.groupby("conv_id").tool.bfill().reset_index(drop=True)
    assert list(got.tool_ff.fillna("∅")) == list(exp_ff.fillna("∅"))
    assert list(got.tool_bf.fillna("∅")) == list(exp_bf.fillna("∅"))


def test_sessionize_vs_pandas(spark, corpus, sdfs):
    t, _ = corpus
    st, _ = sdfs
    gap = 1800.0
    got = collect_sorted(sessionize(st, gap=gap, seq_out="sess_seq"))
    srt = t.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
    prev = srt.groupby("conv_id").ts.shift(1)
    is_new = prev.isna() | ((srt.ts - prev).dt.total_seconds() > gap)
    exp_seq = is_new.groupby(srt.conv_id).cumsum().reset_index(drop=True)
    np.testing.assert_array_equal(got.sess_seq.to_numpy(), exp_seq.to_numpy())
    # at least some conversations split into >1 session (generator contract)
    assert got.groupby("conv_id").sess_seq.max().gt(1).any()


def test_asof_exact_ties(spark):
    """Context rows at exactly a turn's ts: matched when allow_exact, the
    strictly-earlier row otherwise."""
    t = pd.DataFrame(
        {"conv_id": ["c"] * 2, "turn_idx": np.array([0, 1], dtype="int32"),
         "role": ["user"] * 2, "text": ["a", "b"], "tool": [None, None],
         "ts": pd.to_datetime(["2026-01-01 00:00:10", "2026-01-01 00:00:20"]).astype("datetime64[us]")}
    )
    c = pd.DataFrame(
        {"conv_id": ["c"] * 2,
         "ts": pd.to_datetime(["2026-01-01 00:00:05", "2026-01-01 00:00:20"]).astype("datetime64[us]"),
         "ctx_score": [1.0, 2.0], "ctx_label": ["x", "y"]}
    )
    st = t.pipe(lambda p: pytest.importorskip("pyspark") and None) or None
    spark_t = spark.createDataFrame(t, schema=TRANSCRIPT_SCHEMA)
    spark_c = spark.createDataFrame(c, schema=CONTEXT_SCHEMA)
    exact = collect_sorted(asof_join(spark_t, spark_c))
    assert list(exact.ctx_score) == [1.0, 2.0]
    strict = collect_sorted(asof_join(spark_t, spark_c, allow_exact_matches=False))
    assert list(strict.ctx_score) == [1.0, 1.0]


def test_asof_nearest_row_nulls_preserved(spark):
    """A NULL inside the matched (nearest) right row must stay NULL — no
    stale fill from older right rows, no cross-row column mixing (the
    pd.merge_asof contract; regression for the per-column ignorenulls bug)."""
    t = pd.DataFrame(
        {"conv_id": ["c"], "turn_idx": np.array([0], dtype="int32"),
         "role": ["user"], "text": ["x"], "tool": [None],
         "ts": pd.to_datetime(["2026-01-01 00:00:30"]).astype("datetime64[us]")}
    )
    c = pd.DataFrame(
        {"conv_id": ["c", "c"],
         "ts": pd.to_datetime(["2026-01-01 00:00:10", "2026-01-01 00:00:20"]).astype("datetime64[us]"),
         "ctx_score": [0.5, None], "ctx_label": ["old", None]}
    )
    st_ = spark.createDataFrame(t, schema=TRANSCRIPT_SCHEMA)
    sc_ = spark.createDataFrame(c, schema=CONTEXT_SCHEMA)
    got = asof_join(st_, sc_).first()
    # nearest row is ts=20 whose values are NULL — must NOT fall back to 0.5
    assert got.ctx_score is None and got.ctx_label is None
    exp = oracle_asof(t, c)
    assert pd.isna(exp.ctx_score.iloc[0])


def test_asof_column_collision_raises(spark, sdfs):
    st_, sc_ = sdfs
    with pytest.raises(ValueError, match="suffix"):
        asof_join(st_, sc_.withColumnRenamed("ctx_score", "text"))
    # suffix resolves it
    out = asof_join(st_, sc_.withColumnRenamed("ctx_score", "text"), suffix="_r")
    assert "text_r" in out.columns


def test_locf_chunked_matches_locf_with_mega_conversation(spark):
    """Value-chunked two-pass LOCF == window LOCF, including a hot key
    spanning many chunks (the mega-conversation case plain
    Window.partitionBy would serialize onto one task)."""
    from towhee_spark.temporal import locf_chunked

    rng = np.random.default_rng(5)
    rows = []
    # one mega conversation (5000 turns) + 20 small ones
    for conv, n in [("mega", 5000)] + [(f"c{i}", 20) for i in range(20)]:
        for t in range(n):
            tool = f"tool{t // 7}" if rng.random() < 0.1 else None
            rows.append((conv, t, "user", "x", tool,
                         pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=t)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)

    exp = {(r.conv_id, r.turn_idx): r.tool_ff for r in locf(df, ["tool"]).collect()}
    # 600s chunks → the 5000s mega conversation spans ~9 chunks
    got_df = locf_chunked(df, ["tool"], chunk_seconds=600.0)
    got = {(r.conv_id, r.turn_idx): r.tool_ff for r in got_df.collect()}
    assert got == exp
    from pyspark.sql import functions as SF
    from towhee_spark.temporal import epoch_us
    nchunks = (
        df.filter(SF.col("conv_id") == "mega")
        .select(SF.floor(epoch_us("ts") / SF.lit(600_000_000)).alias("c"))
        .distinct().count()
    )
    assert nchunks > 1


def test_sessionize_chunked_matches_sessionize(spark):
    """Value-chunked sessionize == window sessionize row-for-row, including
    a mega-conversation spanning many chunks, boundary rows landing exactly
    at chunk edges, and sessions crossing chunk boundaries."""
    from towhee_spark.temporal import sessionize_chunked

    rng = np.random.default_rng(11)
    rows = []
    for conv, n in [("mega", 8000)] + [(f"c{i}", 25) for i in range(15)]:
        t = 0.0
        for i in range(n):
            # gaps straddle the 600s session gap AND the 900s chunk span
            t += float(rng.choice([30, 300, 601, 899, 900, 901, 1800]))
            rows.append((conv, i, "user", "x", None,
                         pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=t)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)

    exp = {(r.conv_id, r.turn_idx): (r.session_id, r.seq)
           for r in sessionize(df, gap=600.0, seq_out="seq").collect()}
    got_df = sessionize_chunked(df, gap=600.0, seq_out="seq", chunk_seconds=900.0)
    got = {(r.conv_id, r.turn_idx): (r.session_id, r.seq) for r in got_df.collect()}
    assert got == exp
    # plan: no per-row window partitioned on the bare key
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "windowspecdefinition(conv_id#" in line and "__sess_ck" not in line:
            raise AssertionError(f"bare-key per-row window:\n{line}")


def test_lag_lead_chunked_and_bfill_chunked_match(spark):
    """Chunked lag/lead (boundary-row arrays carried across chunks) and
    chunked bfill must equal their window forms row-for-row — including
    chunks SHORTER than the largest offset (the carry must chain across
    several chunks) and null values."""
    from towhee_spark.temporal import bfill_chunked, lag_lead_chunked

    rng = np.random.default_rng(3)
    rows = []
    for conv, n in [("mega", 4000)] + [(f"c{i}", 7) for i in range(12)]:
        t = 0.0
        for i in range(n):
            t += float(rng.choice([200, 400, 2500]))  # some 1-row 1000s chunks
            tool = f"t{i}" if rng.random() < 0.25 else None
            rows.append((conv, i, "user", f"x{i}", tool,
                         pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=t)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)

    offs = [1, 3, -1, -2]
    names = ["text_lag1", "text_lag3", "text_lead1", "text_lead2",
             "tool_lag1", "tool_lag3", "tool_lead1", "tool_lead2"]
    exp = {(r.conv_id, r.turn_idx): tuple(r[n] for n in names)
           for r in lag_lead(df, ["text", "tool"], offs).collect()}
    got = {(r.conv_id, r.turn_idx): tuple(r[n] for n in names)
           for r in lag_lead_chunked(df, ["text", "tool"], offs,
                                     chunk_seconds=1000.0).collect()}
    assert got == exp

    from towhee_spark import bfill

    exp_b = {(r.conv_id, r.turn_idx): r.tool_bf for r in bfill(df, ["tool"]).collect()}
    got_b = {(r.conv_id, r.turn_idx): r.tool_bf
             for r in bfill_chunked(df, ["tool"], chunk_seconds=1000.0).collect()}
    assert got_b == exp_b


def test_carry_join_broadcast_guard_plan_flips(spark, sdfs):
    """broadcast_carry is a plan hint only: False must flip the carry join
    from BroadcastHashJoin to a shuffled join (the 10^9-carry-rows escape
    hatch) with byte-identical results."""
    from towhee_spark.temporal import locf_chunked

    st, _ = sdfs
    bcast = locf_chunked(st, ["tool"], chunk_seconds=600.0, broadcast_carry=True)
    shuf = locf_chunked(st, ["tool"], chunk_seconds=600.0, broadcast_carry=False)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" in plan(bcast)
    p = plan(shuf)
    assert "BroadcastHashJoin" not in p and ("SortMergeJoin" in p or "ShuffledHashJoin" in p)
    key = lambda r: (r.conv_id, r.turn_idx)
    assert sorted(((key(r), r.tool_ff) for r in bcast.collect())) == \
           sorted(((key(r), r.tool_ff) for r in shuf.collect()))


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("allow_exact", [True, False])
def test_asof_chunked_matches_asof(spark, corpus, sdfs, direction, allow_exact):
    """Chunked as-of == plain as-of across all modes (1h chunks split the
    synthetic conversations into several chunks each)."""
    from towhee_spark.temporal import asof_join_chunked

    st, sc = sdfs
    base = collect_sorted(
        asof_join(st, sc, direction=direction, allow_exact_matches=allow_exact,
                  tolerance=900.0)
    )
    chunked = collect_sorted(
        asof_join_chunked(st, sc, direction=direction, allow_exact_matches=allow_exact,
                          tolerance=900.0, chunk_seconds=3600.0)
    )
    assert_asof_matches(chunked, base)


def test_asof_multi_key(spark):
    """Composite join keys: asof on ['conv_id', 'role']."""
    t = pd.DataFrame({
        "conv_id": ["c", "c", "c"], "turn_idx": np.array([0, 1, 2], dtype="int32"),
        "role": ["user", "tool", "user"], "text": ["a", "b", "d"], "tool": [None] * 3,
        "ts": pd.to_datetime(["2026-01-01 00:00:10", "2026-01-01 00:00:20",
                              "2026-01-01 00:00:30"]).astype("datetime64[us]"),
    })
    c = pd.DataFrame({
        "conv_id": ["c", "c"], "role": ["user", "tool"],
        "ts": pd.to_datetime(["2026-01-01 00:00:05", "2026-01-01 00:00:15"]).astype("datetime64[us]"),
        "score": [1.0, 2.0],
    })
    st_ = spark.createDataFrame(t, schema=TRANSCRIPT_SCHEMA)
    sc_ = spark.createDataFrame(c, schema="conv_id string, role string, ts timestamp, score double")
    got = asof_join(st_, sc_, on=["conv_id", "role"], ts="ts").orderBy("turn_idx").collect()
    # user turns match the user context row; tool turn matches the tool row
    assert [r.score for r in got] == [1.0, 2.0, 1.0]
    exp = pd.merge_asof(
        t.sort_values("ts"), c.sort_values("ts"), on="ts", by=["conv_id", "role"],
        direction="backward",
    ).sort_values("turn_idx")
    np.testing.assert_allclose([r.score for r in got], exp.score.to_numpy())


# --------------------------------------------------------------------------
# point_in_time_enrich: K-table as-of enrichment in one sweep


@pytest.fixture(scope="module")
def pte_features(spark, corpus, sdfs):
    from pyspark.sql import functions as F

    _, c = sdfs
    aux = c.select(
        "conv_id", "ts",
        (F.col("ctx_score") * 2).alias("s2"),
        F.upper("ctx_label").alias("lab2"),
    ).where(F.col("ctx_score") > 0)
    return c, aux


@pytest.mark.parametrize("allow_exact", [True, False])
def test_pte_matches_sequential_asof(spark, sdfs, pte_features, allow_exact):
    from towhee_spark.temporal import point_in_time_enrich

    t, _ = sdfs
    c, aux = pte_features
    ref = asof_join(t, c, allow_exact_matches=allow_exact, tolerance=900,
                    matched_ts_col="t1")
    ref = asof_join(ref, aux, allow_exact_matches=allow_exact,
                    matched_ts_col="t2")
    got = point_in_time_enrich(
        t, {"ctx": c, "aux": aux}, allow_exact_matches=allow_exact,
        tolerances={"ctx": 900}, matched_ts=True)
    cols = ["conv_id", "turn_idx", "ctx_score", "ctx_label", "s2", "lab2"]
    a = sorted(tuple(r) for r in ref.select(*cols, "t1", "t2").collect())
    b = sorted(tuple(r) for r in
               got.select(*cols, "ctx_ts", "aux_ts").collect())
    assert a == b


def test_pte_duplicate_ts_max_payload(spark):
    """Duplicate (key, ts) feature rows resolve to the MAX payload in both
    the K-table sweep and asof_join (direction-dependent tie rule)."""
    from towhee_spark.temporal import point_in_time_enrich

    sp = spark.createDataFrame(
        [("c", 0, 10.0)], "conv_id string, turn_idx int, ts double")
    f = spark.createDataFrame(
        [("c", 5.0, 1), ("c", 5.0, 7), ("c", 5.0, 3)],
        "conv_id string, ts double, v long")
    got = point_in_time_enrich(sp, {"f": f}).collect()[0]
    ref = asof_join(sp, f, ts="ts").collect()[0]
    assert got["v"] == ref["v"] == 7


def test_pte_validation(spark, sdfs, pte_features):
    from towhee_spark.temporal import point_in_time_enrich

    t, _ = sdfs
    c, aux = pte_features
    with pytest.raises(ValueError, match="empty"):
        point_in_time_enrich(t, {})
    with pytest.raises(ValueError, match="collides"):
        point_in_time_enrich(t, {"a": c, "b": c})
    # suffix disambiguation fixes the collision
    out = point_in_time_enrich(t, {"a": c, "b": c},
                               suffixes={"b": "_b"})
    assert "ctx_score" in out.columns and "ctx_score_b" in out.columns
    with pytest.raises(ValueError, match="not in features"):
        point_in_time_enrich(t, {"a": c}, tolerances={"zzz": 5})
    with pytest.raises(ValueError, match="no value columns"):
        point_in_time_enrich(t, {"a": c.select("conv_id", "ts")})


def test_pte_one_exchange_plan(spark, sdfs, pte_features):
    """K tables, ONE hash exchange + ONE window — the whole point."""
    from towhee_spark.temporal import point_in_time_enrich

    t, _ = sdfs
    c, aux = pte_features
    got = point_in_time_enrich(t, {"ctx": c, "aux": aux},
                               suffixes={"aux": ""})
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window ") == 1
    assert "Python" not in plan


# --------------------------------------------------------------------------
# interval_join: event-in-interval containment via time-bucket decomposition


@pytest.fixture(scope="module")
def iv_frames(spark, sdfs):
    from pyspark.sql import functions as F

    t, c = sdfs
    iv = c.select(
        "conv_id", F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
        F.col("ctx_label").alias("label"))
    return t, iv


def brute_interval(t, iv, lo_op, hi_op):
    from pyspark.sql import functions as F

    lo = getattr(F.col("ts"), lo_op)(F.col("start_ts"))
    hi = getattr(F.col("ts"), hi_op)(F.col("end_ts"))
    return (
        t.join(iv.withColumnRenamed("conv_id", "c2"),
               (F.col("c2") == F.col("conv_id")) & lo & hi)
        .select("conv_id", "turn_idx", "label", "start_ts"))


@pytest.mark.parametrize("chunk_seconds", [120.0, 3600.0, 86400.0])
def test_interval_join_matches_brute_force(spark, iv_frames, chunk_seconds):
    """Equality across chunk sizes — the decomposition must be invisible
    whether intervals span many chunks or share one."""
    from towhee_spark.temporal import interval_join

    t, iv = iv_frames
    got = interval_join(t, iv, chunk_seconds=chunk_seconds) \
        .select("conv_id", "turn_idx", "label", "start_ts")
    exp = brute_interval(t, iv, "__ge__", "__le__")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


@pytest.mark.parametrize("closed,lo_op,hi_op", [
    ("both", "__ge__", "__le__"), ("left", "__ge__", "__lt__"),
    ("right", "__gt__", "__le__"), ("neither", "__gt__", "__lt__")])
def test_interval_join_closed_variants(spark, iv_frames, closed, lo_op, hi_op):
    from towhee_spark.temporal import interval_join

    t, iv = iv_frames
    got = interval_join(t, iv, closed=closed) \
        .select("conv_id", "turn_idx", "label", "start_ts")
    exp = brute_interval(t, iv, lo_op, hi_op)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_interval_join_left_and_guards(spark, iv_frames):
    from pyspark.sql import functions as F

    from towhee_spark.temporal import interval_join

    t, iv = iv_frames
    inner = interval_join(t, iv)
    left = interval_join(t, iv, how="left")
    matched = inner.select("conv_id", "turn_idx").distinct().count()
    assert left.count() == inner.count() + t.count() - matched
    assert left.where(F.col("label").isNull()
                      & F.col("start_ts").isNull()).count() \
        == t.count() - matched
    # inverted intervals match nothing (and never explode backwards)
    flipped = iv.select("conv_id", F.col("end_ts").alias("start_ts"),
                        F.col("start_ts").alias("end_ts"), "label")
    assert interval_join(t, flipped).count() == 0
    # span guard fires loudly
    wide = iv.withColumn("end_ts",
                         F.col("start_ts") + F.expr("INTERVAL 2000 HOURS"))
    with pytest.raises(Exception, match="max_chunks_per_interval"):
        interval_join(t, wide, chunk_seconds=1.0,
                      max_chunks_per_interval=100).count()
    with pytest.raises(ValueError, match="collide"):
        interval_join(t.withColumn("label", F.lit("x")), iv)
    with pytest.raises(ValueError, match="how"):
        interval_join(t, iv, how="outer")


def test_interval_join_numeric_ts(spark):
    from towhee_spark.temporal import interval_join

    ev = spark.createDataFrame(
        [("c", i, float(i)) for i in range(10)],
        "conv_id string, turn_idx int, ts double")
    iv = spark.createDataFrame(
        [("c", 2.0, 5.0, "a"), ("c", 4.0, 8.5, "b")],
        "conv_id string, start_ts double, end_ts double, label string")
    got = sorted((r["turn_idx"], r["label"]) for r in
                 interval_join(ev, iv, chunk_seconds=2.0).collect())
    assert got == [(2, "a"), (3, "a"), (4, "a"), (4, "b"), (5, "a"),
                   (5, "b"), (6, "b"), (7, "b"), (8, "b")]


# --------------------------------------------------------------------------
# validity_intervals: change events -> SCD-2 validity spans


def test_validity_intervals_lead_semantics(spark, sdfs):
    from pyspark.sql import functions as F

    from towhee_spark.temporal import validity_intervals

    _, c = sdfs
    iv = validity_intervals(c, on="conv_id", ts="ts")
    pdf = iv.orderBy("conv_id", "ts").toPandas()
    for _, g in pdf.groupby("conv_id"):
        starts = g["start_ts"].tolist()
        ends = g["end_ts"].tolist()
        assert starts == g["ts"].tolist()
        assert ends[:-1] == starts[1:]   # chained: end = next start
        assert pd.isna(ends[-1])         # last version open


def test_validity_plus_interval_join_equals_asof(spark, sdfs):
    """The SCD composition is the join-side dual of backward as-of:
    label each turn by the version valid at its ts (open ends coalesced
    to a far horizon; end exclusive -> closed='left')."""
    from pyspark.sql import functions as F

    from towhee_spark.temporal import interval_join, validity_intervals

    t, c = sdfs
    iv = validity_intervals(c, on="conv_id", ts="ts").withColumn(
        "end_ts", F.coalesce("end_ts", F.lit("2100-01-01").cast("timestamp")))
    via_iv = interval_join(
        t.select("conv_id", "turn_idx", "ts"),
        iv.select("conv_id", "start_ts", "end_ts", "ctx_score"),
        closed="left", chunk_seconds=86400.0 * 365)
    via_asof = asof_join(t, c, right_cols=["ctx_score"])
    a = sorted((r["conv_id"], r["turn_idx"], r["ctx_score"])
               for r in via_iv.collect())
    b = sorted((r["conv_id"], r["turn_idx"], r["ctx_score"])
               for r in via_asof.collect()
               if r["ctx_score"] is not None)
    assert a == b


# --------------------------------------------------------------------------
# last_k_join: gather the last k events before each spine row


def test_last_k_join_vs_python_reference(spark, corpus, sdfs):
    import collections

    from pyspark.sql import functions as F

    from towhee_spark.temporal import last_k_join

    t, c = sdfs
    sp = t.where(F.col("role") == "assistant").select(
        "conv_id", "turn_idx", "ts")
    byc = collections.defaultdict(list)
    for r in sorted((r["conv_id"], r["ts"], r["ctx_score"])
                    for r in c.collect()):
        byc[r[0]].append((r[1], r[2]))
    for allow_exact in (True, False):
        got = last_k_join(sp, c, k=3, allow_exact_matches=allow_exact,
                          value_cols=["ctx_score"])
        for r in got.collect():
            if allow_exact:
                evs = [e for e in byc[r["conv_id"]] if e[0] <= r["ts"]]
            else:
                evs = [e for e in byc[r["conv_id"]] if e[0] < r["ts"]]
            exp = evs[-3:]
            act = [(x["__rts"], x["ctx_score"]) for x in r["ctx"]]
            assert act == exp, (r["conv_id"], r["turn_idx"], allow_exact)


def test_last_k_join_k1_equals_asof(spark, sdfs):
    from pyspark.sql import functions as F

    from towhee_spark.temporal import last_k_join

    t, c = sdfs
    sp = t.where(F.col("role") == "assistant").select(
        "conv_id", "turn_idx", "ts")
    k1 = {(r["conv_id"], r["turn_idx"]):
          (r["ctx"][0]["ctx_score"] if r["ctx"] else None)
          for r in last_k_join(sp, c, k=1,
                               value_cols=["ctx_score"]).collect()}
    ref = {(r["conv_id"], r["turn_idx"]): r["ctx_score"]
           for r in asof_join(sp, c, right_cols=["ctx_score"]).collect()}
    assert k1 == ref


def test_last_k_join_validation(spark, sdfs):
    from pyspark.sql import functions as F

    from towhee_spark.temporal import last_k_join

    t, c = sdfs
    sp = t.where(F.col("role") == "assistant").select(
        "conv_id", "turn_idx", "ts")
    with pytest.raises(ValueError, match="k must be"):
        last_k_join(sp, c, k=0)
    with pytest.raises(ValueError, match="already"):
        last_k_join(sp.withColumn("ctx", F.lit(1)), c)
    # spine rows before any event get an EMPTY array, never NULL
    empt = last_k_join(sp, c.where(F.lit(False)), k=2)
    rows = empt.collect()
    assert len(rows) == sp.count()
    assert all(r["ctx"] == [] for r in rows)


# ---------------------------------------------------------------------------
# time_folds (walk-forward purged CV)
# ---------------------------------------------------------------------------


def test_time_folds_matches_integer_reference(spark):
    import datetime as dt

    from towhee_spark.temporal import time_folds

    base = dt.datetime(2024, 1, 1)
    rows = [(i, base + dt.timedelta(minutes=7 * i)) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    out = {r.id: r for r in
           time_folds(df, "ts", k=4, embargo_seconds=60).collect()}
    us = [int((t - base).total_seconds() * 1e6) for _, t in rows]
    mn, mx = min(us), max(us)
    w = mx - mn + 1
    for i, t in rows:
        f = (us[i] - mn) * 4 // w
        lo = mn + (f * w + 3) // 4
        r = out[i]
        assert r.fold == f, i
        assert r.fold_lo_us == lo + _EPOCH_BASE_US
        assert r.purge_lo_us == r.fold_lo_us - 60_000_000
    # every fold non-empty and ordered: fold 0 holds the earliest rows
    folds = [out[i].fold for i, _ in rows]
    assert folds == sorted(folds)
    assert set(folds) == {0, 1, 2, 3}


_EPOCH_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in epoch µs


def test_time_folds_purge_property(spark):
    # for every fold f: all rows STRICTLY before purge_lo_us belong to
    # earlier folds, and none of them is within the embargo of fold f
    import datetime as dt

    from towhee_spark.temporal import epoch_us, time_folds
    from pyspark.sql import functions as F

    base = dt.datetime(2024, 3, 1)
    rows = [(i, base + dt.timedelta(seconds=13 * i)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    out = time_folds(df, "ts", k=5, embargo_seconds=26) \
        .withColumn("us", epoch_us("ts")).collect()
    by_fold = {}
    for r in out:
        by_fold.setdefault(r.fold, []).append(r)
    for f, rws in by_fold.items():
        lo = rws[0].fold_lo_us
        purge = rws[0].purge_lo_us
        assert all(r.fold_lo_us == lo for r in rws)
        assert all(r.us >= lo for r in rws)
        train = [r for r in out if r.us < purge]
        assert all(r.fold < f for r in train)
        assert all(lo - r.us > 26_000_000 for r in train)


def test_time_folds_numeric_and_validation(spark):
    from towhee_spark.temporal import time_folds

    dfi = spark.createDataFrame([(i, i * 10) for i in range(10)],
                                "id long, t long")
    out = time_folds(dfi, "t", k=2).collect()
    assert {r.fold for r in out} == {0, 1}
    with pytest.raises(ValueError, match="k >= 2"):
        time_folds(dfi, "t", k=1)
    with pytest.raises(ValueError, match="embargo"):
        time_folds(dfi, "t", k=2, embargo_seconds=-1)
    dff = spark.createDataFrame([(0, 1.5)], "id long, t double")
    with pytest.raises(ValueError, match="integral"):
        time_folds(dff, "t", k=2)


# ---------------------------------------------------------------------------
# leakage_audit
# ---------------------------------------------------------------------------


def test_leakage_audit_backward_clean_forward_flagged(spark, sdfs):
    from towhee_spark.temporal import leakage_audit

    t, c = sdfs
    sp = t.select("conv_id", "ts", "turn_idx")
    back = asof_join(sp, c, on="conv_id", ts="ts",
                     matched_ts_col="m_ts", suffix="_r")
    a = leakage_audit(back, "ts", ["m_ts"]).collect()[0]
    assert a.n_rows == sp.count()
    assert a.n_violations == 0
    assert a.max_skew_us is None or a.max_skew_us <= 0
    fwd = asof_join(sp, c, on="conv_id", ts="ts", direction="forward",
                    allow_exact_matches=False,
                    matched_ts_col="m_ts", suffix="_r")
    af = leakage_audit(fwd, "ts", ["m_ts"]).collect()[0]
    assert af.n_violations > 0 and af.max_skew_us > 0
    # violations can never exceed matches
    assert af.n_violations <= af.n_matched


def test_leakage_audit_multi_column_and_validation(spark, sdfs):
    from pyspark.sql import functions as F

    from towhee_spark.temporal import leakage_audit

    t, c = sdfs
    sp = t.select("conv_id", "ts")
    f1 = asof_join(sp, c, on="conv_id", ts="ts",
                   matched_ts_col="a_ts", suffix="_a")
    f2 = asof_join(f1, c, on="conv_id", ts="ts", direction="forward",
                   matched_ts_col="b_ts", suffix="_b")
    got = {r.ts_col: r for r in leakage_audit(f2, "ts", ["a_ts", "b_ts"]).collect()}
    assert set(got) == {"a_ts", "b_ts"}
    assert got["a_ts"].n_violations == 0
    with pytest.raises(ValueError, match="at least one"):
        leakage_audit(f2, "ts", [])
    with pytest.raises(ValueError, match="integral"):
        leakage_audit(f2.withColumn("bad", F.lit(1.5)), "ts", ["bad"])


# ---------------------------------------------------------- cohort_retention


def test_cohort_retention_hand_computed(spark):
    import datetime as dt

    def t(day):
        return dt.datetime(2024, 1, day)

    # periods of 1 day; u1 cohort day1 active days {1,2,4}; u2 cohort day1
    # active {1}; u3 cohort day2 active {2,4}
    rows = [(1, t(1)), (1, t(2)), (1, t(2)), (1, t(4)),
            (2, t(1)),
            (3, t(2)), (3, t(4)), (None, t(9)), (4, None)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = temporal.cohort_retention(df, key="user_id", ts="ts",
                                    period_seconds=86_400)
    got = {(r["cohort"], r["period_off"]): (r["n_active"], r["n_cohort"],
                                            r["retention"])
           for r in out.collect()}
    d1 = dt.date(2024, 1, 1).toordinal() - dt.date(1970, 1, 1).toordinal()
    c1, c2 = d1, d1 + 1
    assert got == {
        (c1, 0): (2, 2, 1.0),
        (c1, 1): (1, 2, 0.5),
        (c1, 3): (1, 2, 0.5),
        (c2, 0): (1, 1, 1.0),
        (c2, 2): (1, 1, 1.0),
    }
    # cohort_lo_us is the bucket start in epoch-µs
    lo = {r["cohort"]: r["cohort_lo_us"] for r in out.collect()}
    assert lo[c1] == d1 * 86_400 * 1_000_000


def test_cohort_retention_validation(spark):
    df = spark.createDataFrame([(1, None)], "user_id long, ts timestamp")
    with pytest.raises(ValueError, match="period_seconds"):
        temporal.cohort_retention(df, period_seconds=0)


# --------------------------------------------------------- calendar_features


def test_calendar_features_vs_python_isocalendar(spark):
    import datetime as dt

    # boundary-heavy picks: ISO week 53 (2021-01-01), week 1 spilling
    # into the previous year (2024-12-30 is week 1 of 2025), leap day,
    # a Sunday, and NULL
    dates = [dt.datetime(2021, 1, 1, 5, 30), dt.datetime(2024, 12, 30, 23, 59),
             dt.datetime(2024, 2, 29, 0, 0), dt.datetime(2024, 1, 7, 12, 0),
             None]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(dates)],
                               "i int, ts timestamp")
    out = {r["i"]: r for r in temporal.calendar_features(df, "ts").collect()}
    for i, d in enumerate(dates):
        r = out[i]
        if d is None:
            assert r["hour"] is None and r["iso_dow"] is None
            assert r["week"] is None and r["is_weekend"] is None
            continue
        iso = d.isocalendar()
        assert r["hour"] == d.hour and r["minute"] == d.minute
        assert (r["day"], r["month"], r["year"]) == (d.day, d.month, d.year)
        assert r["iso_dow"] == d.isoweekday()
        assert r["week"] == iso.week
        assert r["epoch_day"] == (d.date() - dt.date(1970, 1, 1)).days
        assert r["is_weekend"] == int(d.isoweekday() >= 6)


def test_calendar_features_cyclical_and_prefix(spark):
    import datetime as dt
    import math

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 6, 0))], "i int, ts timestamp")
    out = temporal.calendar_features(df, "ts", prefix="t_", cyclical=True)
    r = out.collect()[0]
    assert r["t_hour"] == 6 and r["t_iso_dow"] == 1
    assert abs(r["t_hour_sin"] - math.sin(2 * math.pi * 6 / 24)) < 1e-12
    assert abs(r["t_dow_cos"] - 1.0) < 1e-12  # Monday → angle 0


# ---------------------------------------------------------- session_features


def test_session_features_hand_computed_and_plan(spark):
    import datetime as dt

    from towhee_spark.plans import assert_max_exchanges, plan_stats

    base = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [("c", 0, base), ("c", 1, base + 10 * s), ("c", 2, base + 20 * s),
            ("c", 3, base + 2000 * s),  # gap > 1800 → new session
            ("c", 4, base + 2005 * s)]
    df = spark.createDataFrame(rows,
                               "conv_id string, turn_idx int, ts timestamp")
    out = {r["turn_idx"]: r for r in temporal.session_features(
        df, gap=1800.0).collect()}
    assert [out[i]["session_seq"] for i in range(5)] == [1, 1, 1, 2, 2]
    assert [out[i]["turn_in_session"] for i in range(5)] == [0, 1, 2, 0, 1]
    assert out[2]["us_into_session"] == 20_000_000
    assert out[3]["us_into_session"] == 0          # session restart
    assert out[4]["us_into_session"] == 5_000_000
    assert out[4]["session_start_us"] == out[3]["session_start_us"]
    # the whole block shares ONE conv_id exchange
    plan = temporal.session_features(df, gap=1800.0)
    assert_max_exchanges(plan, 1)
    assert plan_stats(plan)["python_evals"] == 0


def test_asof_nearest_tie_and_plan(spark):
    """Equal-distance ties resolve BACKWARD (pd.merge_asof); both sweeps
    share one exchange."""
    import datetime as dt

    from towhee_spark.plans import assert_max_exchanges

    base = dt.datetime(2026, 1, 1, 0, 0, 10)
    s = dt.timedelta(seconds=1)
    t = spark.createDataFrame(
        [("c", 0, "user", "x", None, base)],
        schema=TRANSCRIPT_SCHEMA)
    c = spark.createDataFrame(
        pd.DataFrame({
            "conv_id": ["c", "c"],
            "ts": pd.Series([base - s, base + s]).astype("datetime64[us]"),
            "ctx_score": [1.0, 2.0], "ctx_label": ["back", "fwd"]}),
        schema=CONTEXT_SCHEMA)
    r = asof_join(t, c, direction="nearest").collect()[0]
    assert r["ctx_label"] == "back"  # tie → backward
    # tolerance rules each side out independently before the pick
    c2 = spark.createDataFrame(
        pd.DataFrame({
            "conv_id": ["c", "c"],
            "ts": pd.Series([base - 10 * s, base + s]).astype("datetime64[us]"),
            "ctx_score": [1.0, 2.0], "ctx_label": ["far_back", "near_fwd"]}),
        schema=CONTEXT_SCHEMA)
    r2 = asof_join(t, c2, direction="nearest", tolerance=5.0).collect()[0]
    assert r2["ctx_label"] == "near_fwd"
    r3 = asof_join(t, c2, direction="nearest", tolerance=0.5).collect()[0]
    assert r3["ctx_label"] is None
    assert_max_exchanges(asof_join(t, c, direction="nearest"), 1)


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("allow_exact", [True, False])
def test_asof_duplicate_ties_agree_across_entry_points(spark, direction, allow_exact):
    """Duplicate right (key, ts) rows with distinct payloads, some exactly at
    a left ts: asof_join, asof_join_chunked (the key spans 5 chunks) and,
    backward, one-table point_in_time_enrich resolve them alike — MAX
    payload backward, MIN forward."""
    from towhee_spark.temporal import asof_join_chunked, point_in_time_enrich

    left = spark.createDataFrame(
        [(k, i, float(t)) for k in ("c", "d") for i, t in enumerate(range(10, 70, 10))],
        "conv_id string, turn_idx int, ts double")
    right = spark.createDataFrame(
        [(k, float(t), v, f"s{v}") for k in ("c", "d")
         for t, v in [(5, 1), (5, 7), (5, 3), (20, 4), (20, 9), (35, 2), (35, 8),
                      (50, 6), (50, 5)]],
        "conv_id string, ts double, v long, s string")
    kw = dict(direction=direction, allow_exact_matches=allow_exact, tolerance=100.0)
    base = asof_join(left, right, **kw)
    got = {(r.conv_id, r.turn_idx): (r.v, r.s) for r in base.collect()}
    chunked = asof_join_chunked(left, right, chunk_seconds=15.0, **kw)
    assert {(r.conv_id, r.turn_idx): (r.v, r.s) for r in chunked.collect()} == got
    # left ts 10 sees (5, ·) x3 backward and (20, ·) x2 forward; left ts 20
    # meets (20, 4) and (20, 9) exactly
    assert got[("c", 0)] == ((7, "s7") if direction == "backward" else (4, "s4"))
    assert got[("c", 1)] == {("backward", True): (9, "s9"), ("forward", True): (4, "s4"),
                             ("backward", False): (7, "s7"),
                             ("forward", False): (2, "s2")}[direction, allow_exact]
    if direction == "backward":
        pte = point_in_time_enrich(left, {"r": right}, allow_exact_matches=allow_exact,
                                   tolerances={"r": 100.0})
        assert {(r.conv_id, r.turn_idx): (r.v, r.s) for r in pte.collect()} == got

    clash = right.withColumnRenamed("v", "turn_idx")
    with pytest.raises(ValueError) as plain:
        asof_join(left, clash)
    with pytest.raises(ValueError) as chunk_err:
        asof_join_chunked(left, clash)
    assert str(chunk_err.value) == str(plain.value)


def test_asof_null_ts_never_matches(spark):
    """A NULL ts on either side never matches (DuckDB ASOF JOIN), on every
    as-of entry point and direction."""
    from towhee_spark.temporal import asof_join_chunked, point_in_time_enrich

    left = spark.createDataFrame([("c", 0, 10.0), ("c", 1, None)],
                                 "conv_id string, turn_idx int, ts double")
    right = spark.createDataFrame([("c", None, 1), ("c", 20.0, 2)],
                                  "conv_id string, ts double, v long")
    want = {"backward": {0: None, 1: None}, "forward": {0: 2, 1: None},
            "nearest": {0: 2, 1: None}}
    for direction, exp in want.items():
        outs = [asof_join(left, right, direction=direction)]
        if direction != "nearest":
            outs.append(asof_join_chunked(left, right, direction=direction,
                                          chunk_seconds=5.0))
        if direction == "backward":
            outs.append(point_in_time_enrich(left, {"r": right}))
        for out in outs:
            assert {r.turn_idx: r.v for r in out.collect()} == exp, direction


def test_asof_tolerance_bound_is_inclusive_at_fractional_seconds(spark):
    """A match exactly ``tolerance`` away is kept even when tolerance * 1e6
    is not exact in floating point (1.001 s), on every entry point."""
    import datetime as dt

    from towhee_spark.temporal import asof_join_chunked, point_in_time_enrich

    base = dt.datetime(2026, 1, 1, 0, 0, 10)
    gap = dt.timedelta(microseconds=1_001_000)
    left = spark.createDataFrame([("c", 0, base)], "conv_id string, turn_idx int, ts timestamp")
    back = spark.createDataFrame([("c", base - gap, 1)], "conv_id string, ts timestamp, v long")
    fwd = spark.createDataFrame([("c", base + gap, 2)], "conv_id string, ts timestamp, v long")
    outs = [asof_join(left, back, tolerance=1.001),
            asof_join(left, fwd, direction="forward", tolerance=1.001),
            asof_join(left, back, direction="nearest", tolerance=1.001),
            asof_join_chunked(left, back, tolerance=1.001, chunk_seconds=1.0),
            point_in_time_enrich(left, {"r": back}, tolerances={"r": 1.001})]
    assert [out.first().v for out in outs] == [1, 2, 1, 1, 1]
