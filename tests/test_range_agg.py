"""range_agg: trailing range-window feature aggregates.

Parity strategy: the window impl is checked against a brute-force pandas
range-join oracle on the synthetic corpus; the prefix impl is pinned to
the window impl (both bound variants), plus hand-built boundary frames
that exercise the exact [ts-w, ts) edge semantics, NULL exclusion rules,
and the loud-guard validation surface.
"""

import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from towhee_spark.schema import TRANSCRIPT_SCHEMA
from towhee_spark.synth import transcripts_pdf
from towhee_spark.temporal import range_agg

W = 600.0  # seconds


@pytest.fixture(scope="module")
def corpus(spark):
    t = transcripts_pdf(n_convs=30, seed=7)
    t["tlen"] = t["text"].str.len().astype("int64")
    sdf = spark.createDataFrame(
        t[[f.name for f in TRANSCRIPT_SCHEMA.fields]],
        schema=TRANSCRIPT_SCHEMA,
    ).withColumn("tlen", F.length("text").cast("long"))
    return t, sdf


def pandas_oracle(t, include_current=False):
    """Brute-force per-spine-row range scan (spine = assistant turns)."""
    rows = []
    for conv, g in t.groupby("conv_id"):
        ev_ts = g["ts"].astype("datetime64[us]")
        for _, r in g[g["role"] == "assistant"].iterrows():
            hi = pd.Timestamp(r["ts"])
            lo = hi - pd.Timedelta(seconds=W)
            if include_current:
                m = (ev_ts >= lo) & (ev_ts <= hi)
            else:
                m = (ev_ts >= lo) & (ev_ts < hi)
            sel = g.loc[m.values]
            rows.append({
                "conv_id": conv,
                "turn_idx": r["turn_idx"],
                "n": len(sel),
                "chars": int(sel["tlen"].sum()) if len(sel) else None,
                "mx": int(sel["tlen"].max()) if len(sel) else None,
                "mean": float(sel["tlen"].mean()) if len(sel) else None,
            })
    return (
        pd.DataFrame(rows)
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )


AGGS = {
    "n": ("count", "*"),
    "chars": ("sum", "tlen"),
    "mx": ("max", "tlen"),
    "mean": ("avg", "tlen"),
}


def spine_of(sdf):
    return sdf.where(F.col("role") == "assistant").select(
        "conv_id", "turn_idx", "ts")


@pytest.mark.parametrize("include_current", [False, True])
def test_window_impl_vs_pandas_oracle(spark, corpus, include_current):
    t, sdf = corpus
    got = (
        range_agg(spine_of(sdf), sdf, window_seconds=W, aggs=AGGS,
                  include_current=include_current)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = pandas_oracle(t, include_current)
    assert got["conv_id"].tolist() == exp["conv_id"].tolist()
    assert got["n"].tolist() == exp["n"].tolist()
    assert got["chars"].astype("float64").equals(exp["chars"].astype("float64"))
    assert got["mx"].astype("float64").equals(exp["mx"].astype("float64"))
    pd.testing.assert_series_equal(
        got["mean"].astype("float64"), exp["mean"].astype("float64"),
        check_names=False)


@pytest.mark.parametrize("include_current", [False, True])
def test_prefix_impl_matches_window(spark, corpus, include_current):
    _, sdf = corpus
    aggs = {"n": ("count", "*"), "chars": ("sum", "tlen"),
            "mean": ("avg", "tlen")}
    kw = dict(window_seconds=W, aggs=aggs, include_current=include_current)
    w = (
        range_agg(spine_of(sdf), sdf, **kw)
        .select("conv_id", "turn_idx", "n", "chars", "mean")
        .orderBy("conv_id", "turn_idx").collect()
    )
    p = (
        range_agg(spine_of(sdf), sdf, impl="prefix",
                  spine_id=("conv_id", "turn_idx"), **kw)
        .select("conv_id", "turn_idx", "n", "chars", "mean")
        .orderBy("conv_id", "turn_idx").collect()
    )
    assert [tuple(r) for r in w] == [tuple(r) for r in p]


def _toy(spark):
    """One conversation, events at t=0,300,600,900s; value 1,2,4,8."""
    base = datetime.datetime(2026, 1, 1)
    rows = [
        ("c", i, base + datetime.timedelta(seconds=s), v)
        for i, (s, v) in enumerate([(0, 1), (300, 2), (600, 4), (900, 8)])
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, v long")


@pytest.mark.parametrize("impl", ["window", "prefix"])
def test_exact_boundary_semantics(spark, impl):
    df = _toy(spark)
    kw = dict(on="conv_id", ts="ts", window_seconds=600.0,
              aggs={"n": ("count", "*"), "s": ("sum", "v")}, impl=impl)
    if impl == "prefix":
        kw["spine_id"] = ("conv_id", "turn_idx")
    # exclusive upper: row at 600s sees [0s, 600s) -> events at 0 and 300
    got = {r["turn_idx"]: (r["n"], r["s"])
           for r in range_agg(df, df, **kw).collect()}
    assert got[0] == (0, None)       # empty window: count 0, sum NULL
    assert got[1] == (1, 1)          # [-300, 300) -> event at 0
    assert got[2] == (2, 3)          # [0, 600) -> 0s and 300s, 600s excluded
    assert got[3] == (2, 6)          # [300, 900) -> 300s INCLUDED (closed lower)
    # inclusive upper bound pulls the row's own event in
    got_i = {r["turn_idx"]: (r["n"], r["s"])
             for r in range_agg(df, df, include_current=True, **kw).collect()}
    assert got_i[0] == (1, 1)
    assert got_i[2] == (3, 7)


@pytest.mark.parametrize("impl", ["window", "prefix"])
def test_null_ts_events_and_null_values_excluded(spark, impl):
    base = datetime.datetime(2026, 1, 1)
    ev = spark.createDataFrame(
        [
            ("c", base, 5),
            ("c", base + datetime.timedelta(seconds=100), None),  # null value
            ("c", None, 99),  # null ts: never in any window
        ],
        "conv_id string, ts timestamp, v long",
    )
    spine = spark.createDataFrame(
        [("c", 0, base + datetime.timedelta(seconds=200))],
        "conv_id string, turn_idx int, ts timestamp")
    kw = dict(window_seconds=600.0,
              aggs={"rows": ("count", "*"), "vals": ("count", "v"),
                    "s": ("sum", "v")}, impl=impl)
    if impl == "prefix":
        kw["spine_id"] = ("conv_id", "turn_idx")
    r = range_agg(spine, ev, **kw).collect()[0]
    assert (r["rows"], r["vals"], r["s"]) == (2, 1, 5)


def test_numeric_ts_prefix_only(spark):
    ev = spark.createDataFrame(
        [("c", 0.0, 1), ("c", 5.0, 2), ("c", 10.0, 4)],
        "conv_id string, ts double, v long")
    spine = spark.createDataFrame(
        [("c", 0, 10.0)], "conv_id string, turn_idx int, ts double")
    out = range_agg(
        spine, ev, window_seconds=10.0, aggs={"s": ("sum", "v")},
        impl="prefix", spine_id=("conv_id", "turn_idx")).collect()[0]
    assert out["s"] == 3  # [0, 10): 0.0 and 5.0; 10.0 excluded
    with pytest.raises(ValueError, match="temporal ts"):
        range_agg(spine, ev, window_seconds=10.0, aggs={"s": ("sum", "v")})


def test_validation_surface(spark, corpus):
    _, sdf = corpus
    sp = spine_of(sdf)
    with pytest.raises(ValueError, match="aggs"):
        range_agg(sp, sdf)
    with pytest.raises(ValueError, match="unknown agg fn"):
        range_agg(sp, sdf, aggs={"x": ("median", "tlen")})
    with pytest.raises(ValueError, match="needs a column"):
        range_agg(sp, sdf, aggs={"x": ("sum", None)})
    with pytest.raises(ValueError, match="spine_id"):
        range_agg(sp, sdf, aggs={"x": ("sum", "tlen")}, impl="prefix")
    with pytest.raises(ValueError, match="not invertible"):
        range_agg(sp, sdf, aggs={"x": ("max", "tlen")}, impl="prefix",
                  spine_id=("conv_id", "turn_idx"))
    with pytest.raises(ValueError, match="window_seconds"):
        range_agg(sp, sdf, window_seconds=0, aggs={"x": ("sum", "tlen")})


def test_window_impl_plan_shape(spark, corpus):
    """ONE exchange (the key partitioning), ONE window, zero Python."""
    _, sdf = corpus
    df = range_agg(spine_of(sdf), sdf, window_seconds=W,
                   aggs={"n": ("count", "*"), "s": ("sum", "tlen")})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Python" not in plan


@pytest.mark.parametrize("include_current", [False, True])
def test_prefix_chunked_matches_unchunked(spark, corpus, include_current):
    """chunk_seconds must be invisible (the chunked-family contract) —
    and the sweep must actually partition on (key, chunk)."""
    kw = dict(window_seconds=W,
              aggs={"n": ("count", "*"), "chars": ("sum", "tlen")},
              include_current=include_current, impl="prefix",
              spine_id=("conv_id", "turn_idx"))
    _, sdf = corpus
    sp = spine_of(sdf)
    plain = range_agg(sp, sdf, **kw) \
        .select("conv_id", "turn_idx", "n", "chars") \
        .orderBy("conv_id", "turn_idx").collect()
    chunked = range_agg(sp, sdf, chunk_seconds=120.0, **kw)
    got = chunked.select("conv_id", "turn_idx", "n", "chars") \
        .orderBy("conv_id", "turn_idx").collect()
    assert [tuple(r) for r in plain] == [tuple(r) for r in got]
    plan = chunked._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(conv_id" in plan and "__ra_ck" in plan


def test_prefix_chunked_mega_key(spark):
    """A single hot conversation fans out across chunks with identical
    results (the locf_chunked mega-conversation treatment)."""
    import datetime

    base = datetime.datetime(2026, 1, 1)
    rows = [("hot", i, base + datetime.timedelta(seconds=7 * i), i % 13)
            for i in range(4000)]
    rows += [("cold", i, base + datetime.timedelta(seconds=60 * i), i)
             for i in range(20)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts timestamp, v long")
    kw = dict(window_seconds=300.0,
              aggs={"n": ("count", "*"), "s": ("sum", "v")},
              impl="prefix", spine_id=("conv_id", "turn_idx"))
    a = range_agg(df, df, **kw).select("conv_id", "turn_idx", "n", "s") \
        .orderBy("conv_id", "turn_idx").collect()
    b = range_agg(df, df, chunk_seconds=60.0, **kw) \
        .select("conv_id", "turn_idx", "n", "s") \
        .orderBy("conv_id", "turn_idx").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # cross-check one window against the window impl too
    c = range_agg(df, df, window_seconds=300.0,
                  aggs={"n": ("count", "*"), "s": ("sum", "v")}) \
        .select("conv_id", "turn_idx", "n", "s") \
        .orderBy("conv_id", "turn_idx").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in c]


def test_chunk_seconds_rejected_on_window_impl(spark, corpus):
    _, sdf = corpus
    with pytest.raises(ValueError, match="chunk_seconds"):
        range_agg(spine_of(sdf), sdf, window_seconds=W,
                  aggs={"n": ("count", "*")}, chunk_seconds=60.0)


# --------------------------------------------------------------------------
# multi_range_agg: N horizons, one exchange

MW = {"2m": 120.0, "10m": 600.0, "1h": 3600.0}


@pytest.mark.parametrize("include_current", [False, True])
def test_multi_range_agg_matches_per_window(spark, corpus, include_current):
    """Each {agg}_{window} column equals the single-window range_agg —
    the shared-sweep optimization must be semantically invisible."""
    from towhee_spark.temporal import multi_range_agg

    _, sdf = corpus
    sp = spine_of(sdf)
    aggs = {"n": ("count", "*"), "chars": ("sum", "tlen"),
            "mx": ("max", "tlen")}
    multi = multi_range_agg(sp, sdf, windows=MW, aggs=aggs,
                            include_current=include_current)
    for wname, wsec in MW.items():
        got = [tuple(r) for r in multi.select(
            "conv_id", "turn_idx",
            F.col(f"n_{wname}").alias("n"),
            F.col(f"chars_{wname}").alias("chars"),
            F.col(f"mx_{wname}").alias("mx"),
        ).orderBy("conv_id", "turn_idx").collect()]
        ref = [tuple(r) for r in range_agg(
            sp, sdf, window_seconds=wsec, aggs=aggs,
            include_current=include_current,
        ).select("conv_id", "turn_idx", "n", "chars", "mx")
         .orderBy("conv_id", "turn_idx").collect()]
        assert got == ref, wname


def test_multi_range_agg_single_exchange(spark, corpus):
    """THE point: 3 horizons plan ONE hash exchange + ONE WindowExec
    (same partitionBy/orderBy → Catalyst fuses every frame), zero
    Python — vs 3 exchanges + 2 join-backs for stacked range_agg calls."""
    from towhee_spark.temporal import multi_range_agg

    _, sdf = corpus
    df = multi_range_agg(
        spine_of(sdf), sdf, windows=MW,
        aggs={"n": ("count", "*"), "s": ("sum", "tlen")})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window ") == 1
    assert "Python" not in plan


def test_multi_range_agg_validation(spark, corpus):
    from towhee_spark.temporal import multi_range_agg

    _, sdf = corpus
    sp = spine_of(sdf)
    with pytest.raises(ValueError, match="aggs"):
        multi_range_agg(sp, sdf, windows=MW)
    with pytest.raises(ValueError, match="windows"):
        multi_range_agg(sp, sdf, aggs={"n": ("count", "*")})
    with pytest.raises(ValueError, match="must be > 0"):
        multi_range_agg(sp, sdf, windows={"bad": 0},
                        aggs={"n": ("count", "*")})
    ev = spark.createDataFrame(
        [("c", 0.0, 1)], "conv_id string, ts double, v long")
    with pytest.raises(ValueError, match="temporal ts"):
        multi_range_agg(ev, ev, windows={"w": 10},
                        aggs={"s": ("sum", "v")})


# ------------------------------------------------------------- future_agg


def future_pandas_oracle(t, include_current=False):
    """Brute-force per-spine-row forward scan (spine = user turns)."""
    rows = []
    for conv, g in t.groupby("conv_id"):
        ev_ts = g["ts"].astype("datetime64[us]")
        for _, r in g[g["role"] == "user"].iterrows():
            lo = pd.Timestamp(r["ts"])
            hi = lo + pd.Timedelta(seconds=W)
            if include_current:
                m = (ev_ts >= lo) & (ev_ts <= hi)
            else:
                m = (ev_ts > lo) & (ev_ts <= hi)
            sel = g.loc[m.values]
            rows.append({
                "conv_id": conv,
                "turn_idx": r["turn_idx"],
                "n": len(sel),
                "s": int(sel["text"].str.len().sum()) if len(sel) else None,
            })
    return rows


@pytest.mark.parametrize("include_current", [False, True])
def test_future_window_impl_vs_pandas_oracle(spark, corpus, include_current):
    from towhee_spark.temporal import future_agg

    t, sdf = corpus
    spine = sdf.where(F.col("role") == "user").select(
        "conv_id", "turn_idx", "ts")
    out = future_agg(
        spine, sdf, on="conv_id", ts="ts", horizon_seconds=W,
        aggs={"n": ("count", "*"), "s": ("sum", "tlen")},
        include_current=include_current)
    got = {(r["conv_id"], r["turn_idx"]): (r["n"], r["s"])
           for r in out.collect()}
    for e in future_pandas_oracle(t, include_current):
        assert got[(e["conv_id"], e["turn_idx"])] == (e["n"], e["s"])
    assert len(got) == spine.count()


@pytest.mark.parametrize("include_current", [False, True])
def test_future_prefix_matches_window(spark, corpus, include_current):
    from towhee_spark.temporal import future_agg

    _, sdf = corpus
    spine = sdf.where(F.col("role") == "user").select(
        "conv_id", "turn_idx", "ts")
    aggs = {"n": ("count", "*"), "s": ("sum", "tlen"),
            "a": ("avg", "tlen")}
    win = future_agg(spine, sdf, horizon_seconds=W, aggs=aggs,
                     include_current=include_current)
    pre = future_agg(spine, sdf, horizon_seconds=W, aggs=aggs,
                     include_current=include_current, impl="prefix",
                     spine_id=("conv_id", "turn_idx"))
    cols = ["conv_id", "turn_idx", "n", "s", F.round("a", 9).alias("a")]
    w2, p2 = win.select(*cols), pre.select(*cols)
    assert w2.exceptAll(p2).count() == 0 and p2.exceptAll(w2).count() == 0
    # chunked prefix sweep is invisible too (negated-µs chunk domain)
    chk = future_agg(spine, sdf, horizon_seconds=W, aggs=aggs,
                     include_current=include_current, impl="prefix",
                     spine_id=("conv_id", "turn_idx"), chunk_seconds=300.0,
                     broadcast_carry=False).select(*cols)
    assert w2.exceptAll(chk).count() == 0 and chk.exceptAll(w2).count() == 0


def test_future_exact_boundary_semantics(spark):
    """(t, t+h]: the as-of instant is OUT, the horizon instant is IN —
    the exact complement of range_agg's [t−w, t) frame."""
    from towhee_spark.temporal import future_agg

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)
    sec = datetime.timedelta(seconds=1)
    ev = spark.createDataFrame(
        [("c", base, 1), ("c", base + 10 * sec, 10),
         ("c", base + 600 * sec, 600), ("c", base + 601 * sec, 601)],
        "conv_id string, ts timestamp, v long")
    spine = spark.createDataFrame([("c", 0, base)],
                                  "conv_id string, turn_idx int, ts timestamp")
    for impl, kw in (("window", {}),
                     ("prefix", {"spine_id": ("conv_id", "turn_idx")})):
        out = future_agg(spine, ev, horizon_seconds=600.0,
                         aggs={"n": ("count", "*"), "s": ("sum", "v")},
                         impl=impl, **kw).collect()[0]
        assert (out["n"], out["s"]) == (2, 610), impl  # 10 + 600 only
        closed = future_agg(spine, ev, horizon_seconds=600.0,
                            aggs={"s": ("sum", "v")}, include_current=True,
                            impl=impl, **kw).collect()[0]
        assert closed["s"] == 611, impl  # + the as-of-instant event


@pytest.mark.parametrize("kw", [
    {},
    {"impl": "prefix", "spine_id": ("conv_id", "turn_idx")},
    {"impl": "prefix", "spine_id": ("conv_id", "turn_idx"), "chunk_seconds": 60.0},
], ids=["window", "prefix", "prefix_chunked"])
def test_future_horizon_is_inclusive_at_fractional_seconds(spark, kw):
    """An event exactly 1.001 s ahead is inside horizon_seconds=1.001 on
    every impl: the horizon converts to 1,001,000 µs (not 1,000,999.99…).
    The prefix sweep runs in doubles, which keep that fraction only within
    about a second of the epoch, so the spine sits on it."""
    from towhee_spark.temporal import future_agg

    base = datetime.datetime(1970, 1, 1)
    ev = spark.createDataFrame(
        [("c", base + datetime.timedelta(microseconds=1_001_000), 1)],
        "conv_id string, ts timestamp, v long")
    spine = spark.createDataFrame([("c", 0, base)],
                                  "conv_id string, turn_idx int, ts timestamp")
    out = future_agg(spine, ev, horizon_seconds=1.001,
                     aggs={"n": ("count", "*")}, **kw)
    assert out.collect()[0]["n"] == 1


def test_future_validation(spark, corpus):
    from towhee_spark.temporal import future_agg

    _, sdf = corpus
    spine = sdf.select("conv_id", "turn_idx", "ts")
    with pytest.raises(ValueError, match="aggs"):
        future_agg(spine, sdf)
    with pytest.raises(ValueError, match="horizon_seconds"):
        future_agg(spine, sdf, horizon_seconds=0, aggs={"n": ("count", "*")})
    with pytest.raises(ValueError, match="spine_id"):
        future_agg(spine, sdf, aggs={"n": ("count", "*")}, impl="prefix")
    with pytest.raises(ValueError, match="min/max"):
        future_agg(spine, sdf, aggs={"m": ("max", "tlen")}, impl="prefix",
                   spine_id=("conv_id", "turn_idx"))
    with pytest.raises(ValueError, match="chunk_seconds"):
        future_agg(spine, sdf, aggs={"n": ("count", "*")},
                   chunk_seconds=60.0)


# ---------------------------------------------------------- range_quantile


def test_range_quantile_vs_pandas_selection(spark, corpus):
    import math

    from towhee_spark.temporal import range_quantile

    t, sdf = corpus
    spine = sdf.where(F.col("role") == "assistant").select(
        "conv_id", "turn_idx", "ts")
    out = range_quantile(
        spine, sdf, window_seconds=W, value="tlen",
        qs={"med": 0.5, "p90": 0.9, "mx": 1.0})
    got = {(r["conv_id"], r["turn_idx"]): (r["med"], r["p90"], r["mx"])
           for r in out.collect()}
    for conv, g in t.groupby("conv_id"):
        ev_ts = g["ts"].astype("datetime64[us]")
        for _, r in g[g["role"] == "assistant"].iterrows():
            hi = pd.Timestamp(r["ts"])
            m = (ev_ts >= hi - pd.Timedelta(seconds=W)) & (ev_ts < hi)
            vals = sorted(g.loc[m.values]["text"].str.len().astype(int))
            key = (conv, r["turn_idx"])
            if not vals:
                assert got[key] == (None, None, None)
            else:
                n = len(vals)
                exp = tuple(vals[math.ceil(q * n) - 1] for q in (0.5, 0.9, 1.0))
                assert got[key] == exp, key


def test_range_quantile_forward_and_doubles_exact(spark):
    """direction='forward' takes future_agg's (t, t+h] frame; double
    values pass through selection bit-identically (no interpolation)."""
    import datetime as dt

    from towhee_spark.temporal import range_quantile

    base = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    vals = [0.1 + 0.2, 1e-30, 3.3333333333333335, 7.0]
    ev = spark.createDataFrame(
        [("c", base + (i + 1) * s, v) for i, v in enumerate(vals)],
        "conv_id string, ts timestamp, value double")
    spine = spark.createDataFrame(
        [("c", 0, base)], "conv_id string, turn_idx int, ts timestamp")
    out = range_quantile(
        spine, ev, window_seconds=10.0, qs={"med": 0.5, "mx": 1.0},
        direction="forward").collect()[0]
    ordered = sorted(vals)
    assert out["med"] == ordered[1]  # ceil(0.5·4)=2 → exact bits
    assert out["mx"] == ordered[3]
    # backward from the same spine sees nothing (all events are after)
    back = range_quantile(spine, ev, window_seconds=10.0, qs=0.5).collect()[0]
    assert back["quantile"] is None


def test_range_quantile_validation(spark, corpus):
    from towhee_spark.temporal import range_quantile

    _, sdf = corpus
    spine = sdf.select("conv_id", "turn_idx", "ts")
    with pytest.raises(ValueError, match=r"\(0, 1\]"):
        range_quantile(spine, sdf, value="tlen", qs=0.0)
    with pytest.raises(ValueError, match="direction"):
        range_quantile(spine, sdf, value="tlen", direction="up")
    with pytest.raises(ValueError, match="window_seconds"):
        range_quantile(spine, sdf, value="tlen", window_seconds=-1)
    with pytest.raises(ValueError, match="at least one"):
        range_quantile(spine, sdf, value="tlen", qs={})


# ------------------------------------------------------------ range_zscore


def test_range_zscore_matches_numpy(spark):
    import datetime as dt

    import numpy as np

    from towhee_spark.temporal import range_zscore

    base = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=60)
    vals = [10.0, 12.0, 8.0, 30.0, 11.0, None, 9.5]
    rows = [("u", i, base + i * s, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "user_id string, i int, ts timestamp, value double")
    out = {r["i"]: (r["z_n"], r["z"]) for r in range_zscore(
        df, on="user_id", ts="ts", value="value",
        window_seconds=3600.0).collect()}
    for i, v in enumerate(vals):
        prior = [x for x in vals[:i] if x is not None]
        n, z = out[i]
        assert n == len(prior)
        if v is None or len(prior) < 2 or float(np.std(prior)) == 0.0:
            assert z is None
        else:
            exp = (v - np.mean(prior)) / np.std(prior)  # population std
            assert abs(z - exp) < 1e-5, (i, z, exp)
    # the planted outlier (30.0 after 10,12,8) stands out
    assert out[3][1] > 3.0


def test_range_zscore_rules_and_plan(spark):
    import datetime as dt

    from towhee_spark.plans import assert_max_exchanges, plan_stats
    from towhee_spark.temporal import range_zscore

    base = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=60)
    # zero-variance baseline → NULL; include_current pulls the row in
    df = spark.createDataFrame(
        [("u", 0, base, 5.0), ("u", 1, base + s, 5.0),
         ("u", 2, base + 2 * s, 7.0)],
        "user_id string, i int, ts timestamp, value double")
    out = {r["i"]: r["z"] for r in range_zscore(
        df, on="user_id", ts="ts", window_seconds=3600.0).collect()}
    assert out[2] is None  # baseline {5, 5} has zero variance
    inc = {r["i"]: r["z"] for r in range_zscore(
        df, on="user_id", ts="ts", window_seconds=3600.0,
        include_current=True).collect()}
    assert inc[2] is not None and inc[2] > 0  # own point opts in
    plan = range_zscore(df, on="user_id", ts="ts")
    assert_max_exchanges(plan, 1)
    assert plan_stats(plan)["python_evals"] == 0
    with pytest.raises(ValueError, match="window_seconds"):
        range_zscore(df, window_seconds=0)
    with pytest.raises(ValueError, match="min_n"):
        range_zscore(df, min_n=0)
    num = spark.createDataFrame([("u", 1.0, 2.0)],
                                "user_id string, ts double, value double")
    with pytest.raises(ValueError, match="temporal"):
        range_zscore(num)


# ------------------------------------------------------------ expanding_agg


def test_expanding_agg_hand_computed_and_rules(spark):
    import datetime as dt

    from towhee_spark.plans import assert_max_exchanges
    from towhee_spark.temporal import expanding_agg

    base = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=60)
    rows = [("u", 0, base, 5.0), ("u", 1, base + s, None),
            ("u", 2, base + s, 3.0),          # tied with row 1
            ("u", 3, base + 2 * s, 9.0),
            ("v", 4, base, 1.0)]
    df = spark.createDataFrame(
        rows, "k string, i int, ts timestamp, v double")
    out = {r["i"]: r for r in expanding_agg(
        df, on="k", ts="ts",
        aggs={"n": ("count", "*"), "s": ("sum", "v"), "mx": ("max", "v"),
              "mn": ("min", "v"), "a": ("avg", "v")}).collect()}
    assert (out[0]["n"], out[0]["s"], out[0]["mx"], out[0]["a"]) == \
        (0, None, None, None)                  # empty history
    # ties share a frame: rows 1 and 2 both see ONLY row 0
    for i in (1, 2):
        assert (out[i]["n"], out[i]["s"], out[i]["mx"]) == (1, 5.0, 5.0)
    assert (out[3]["n"], out[3]["s"], out[3]["mn"], out[3]["a"]) == \
        (3, 8.0, 3.0, 4.0)                     # NULL v excluded from s/a
    assert out[4]["n"] == 0                    # other key isolated
    inc = {r["i"]: r for r in expanding_agg(
        df, on="k", ts="ts", aggs={"n": ("count", "*"), "s": ("sum", "v")},
        include_current=True).collect()}
    assert inc[1]["n"] == 3 and inc[2]["n"] == 3    # self + tie both in
    assert inc[0]["s"] == 5.0
    assert_max_exchanges(
        expanding_agg(df, on="k", ts="ts", aggs={"n": ("count", "*")}), 1)
    import pytest as pt
    with pt.raises(ValueError, match="aggs"):
        expanding_agg(df, on="k", ts="ts")
    num = spark.createDataFrame([("u", 1.0, 2.0)],
                                "k string, ts double, v double")
    with pt.raises(ValueError, match="temporal"):
        expanding_agg(num, on="k", ts="ts", aggs={"n": ("count", "*")})


@pytest.mark.parametrize("include_current", [False, True])
def test_expanding_agg_chunked_matches_plain(spark, corpus, include_current):
    from towhee_spark.temporal import expanding_agg

    _, sdf = corpus
    aggs = {"n": ("count", "*"), "s": ("sum", "tlen"),
            "mn": ("min", "tlen"), "mx": ("max", "tlen"),
            "a": ("avg", "tlen")}
    cols = ["conv_id", "turn_idx", "n", "s", "mn", "mx",
            F.round("a", 9).alias("a")]
    plain = expanding_agg(sdf, on="conv_id", ts="ts", aggs=aggs,
                          include_current=include_current).select(*cols)
    chunked = expanding_agg(sdf, on="conv_id", ts="ts", aggs=aggs,
                            include_current=include_current,
                            chunk_seconds=600.0,
                            broadcast_carry=False).select(*cols)
    assert plain.exceptAll(chunked).count() == 0
    assert chunked.exceptAll(plain).count() == 0


def test_multi_range_agg_forward_matches_future_agg(spark, corpus):
    from towhee_spark.plans import assert_max_exchanges
    from towhee_spark.temporal import future_agg, multi_range_agg

    _, sdf = corpus
    spine = sdf.where(F.col("role") == "user").select(
        "conv_id", "turn_idx", "ts")
    aggs = {"n": ("count", "*"), "s": ("sum", "tlen")}
    multi = multi_range_agg(
        spine, sdf, windows={"a": 300.0, "b": 1200.0}, aggs=aggs,
        direction="forward")
    for suffix, w in (("a", 300.0), ("b", 1200.0)):
        single = future_agg(spine, sdf, horizon_seconds=w, aggs=aggs) \
            .select("conv_id", "turn_idx", "n", "s")
        m = multi.select("conv_id", "turn_idx",
                         F.col(f"n_{suffix}").alias("n"),
                         F.col(f"s_{suffix}").alias("s"))
        assert m.exceptAll(single).count() == 0
        assert single.exceptAll(m).count() == 0
    assert_max_exchanges(multi, 1)
    import pytest as pt
    with pt.raises(ValueError, match="direction"):
        multi_range_agg(spine, sdf, windows={"a": 300.0}, aggs=aggs,
                        direction="sideways")


def test_null_ts_rows_empty_history_everywhere(spark):
    """Code-review regression: NULL-ts rows share a window peer group —
    every range-family op must give them an EMPTY result and keep them
    out of all baselines, on plain AND chunked paths."""
    import datetime as dt

    from towhee_spark.temporal import (
        expanding_agg, future_agg, range_quantile, range_zscore)

    base = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=60)
    rows = [("u", 0, None, 100.0), ("u", 1, base, 5.0),
            ("u", 2, base + s, 7.0), ("u", 3, None, 50.0)]
    df = spark.createDataFrame(
        rows, "k string, i int, ts timestamp, v double")
    aggs = {"n": ("count", "*"), "s": ("sum", "v"), "mx": ("max", "v")}
    for chunk in (None, 3600.0):
        out = {r["i"]: (r["n"], r["s"], r["mx"]) for r in expanding_agg(
            df, on="k", ts="ts", aggs=aggs, chunk_seconds=chunk).collect()}
        assert out[0] == (0, None, None), chunk   # empty history, no self
        assert out[3] == (0, None, None), chunk
        assert out[1] == (0, None, None), chunk   # 100.0 never leaks in
        assert out[2] == (1, 5.0, 5.0), chunk
    fa = {r["i"]: (r["n"], r["s"]) for r in future_agg(
        df, df, on="k", ts="ts", horizon_seconds=3600.0,
        aggs={"n": ("count", "*"), "s": ("sum", "v")}).collect()}
    assert fa[0] == (0, None) and fa[3] == (0, None)
    assert fa[1] == (1, 7.0)                       # NULL-ts events excluded
    rq = {r["i"]: r["quantile"] for r in range_quantile(
        df, df, on="k", ts="ts", window_seconds=3600.0, value="v",
        qs=0.5).collect()}
    assert rq[0] is None and rq[3] is None and rq[2] == 5.0
    zs = {r["i"]: (r["z_n"], r["z"]) for r in range_zscore(
        df, on="k", ts="ts", value="v", window_seconds=3600.0,
        min_n=1).collect()}
    assert zs[0] == (0, None) and zs[3] == (0, None)
    assert zs[2][0] == 1


# ---------------------------------------------------------------- rows_agg


def test_rows_agg_hand_computed_and_plan(spark):
    import datetime as dt

    from towhee_spark.plans import assert_max_exchanges
    from towhee_spark.temporal import rows_agg

    base = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=60)
    rows = [("u", i, base + i * s, float(v))
            for i, v in enumerate([1, 2, 4, 8, 16])]
    df = spark.createDataFrame(rows, "k string, i int, ts timestamp, v double")
    out = {r["i"]: (r["n"], r["s"], r["a"]) for r in rows_agg(
        df, on="k", ts="ts", n=2,
        aggs={"n": ("count", "*"), "s": ("sum", "v"), "a": ("avg", "v")},
        order_extra=("i",)).collect()}
    assert out[0] == (0, None, None)
    assert out[1] == (1, 1.0, 1.0)
    assert out[4] == (2, 12.0, 6.0)        # last 2 of [1,2,4,8] = 4+8
    inc = {r["i"]: r["s"] for r in rows_agg(
        df, on="k", ts="ts", n=2, aggs={"s": ("sum", "v")},
        include_current=True, order_extra=("i",)).collect()}
    assert inc[4] == 28.0                  # 4+8+16
    plan = rows_agg(df, on="k", ts="ts", n=2, aggs={"n": ("count", "*")})
    assert_max_exchanges(plan, 1)
    with pytest.raises(ValueError, match="n must"):
        rows_agg(df, n=0, aggs={"n": ("count", "*")})
    with pytest.raises(ValueError, match="aggs"):
        rows_agg(df, on="k")
