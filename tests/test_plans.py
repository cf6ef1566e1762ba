"""Plan-shape regression tests: pushdown reaches scans, shuffle budgets hold."""

import pytest
from pyspark.sql import functions as F

from towhee_spark import asof_join, lag_lead, locf, sessionize
from towhee_spark.plans import assert_max_exchanges, assert_pushed_filters, plan_stats
from towhee_spark.schema import CONTEXT_SCHEMA, TRANSCRIPT_SCHEMA
from towhee_spark.synth import context_pdf, transcripts_pdf

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_to_parquet(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") > 30.0)
        .select("l_orderkey", "l_quantity")
    )
    assert_pushed_filters(df, "GreaterThan(l_quantity,30.0)")
    # column pruning: scan reads only the 2 needed columns
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_flagship_single_shuffle(spark):
    """The whole temporal chain must reuse ONE conv_id hash exchange."""
    t = spark.createDataFrame(transcripts_pdf(10), schema=TRANSCRIPT_SCHEMA)
    c = spark.createDataFrame(context_pdf(transcripts_pdf(10)), schema=CONTEXT_SCHEMA)
    j = asof_join(t, c, tolerance=3600.0)
    j = lag_lead(j.withColumn("text_len", F.length("text")), ["text_len"], [1, 2, -1])
    j = sessionize(locf(j, ["tool"]), gap=1800.0, seq_out="s")
    assert_max_exchanges(j, 1)
    stats = plan_stats(j)
    assert stats["sorts"] <= 2, stats
    assert stats["python_evals"] == 0  # temporal core is 100% JVM


def test_tpch_q3_broadcasts_customer(spark):
    import __spark_entry__ as e

    df = e.queries()["tpch_q3ish"](spark, SF)
    assert plan_stats(df)["broadcasts"] >= 1


def test_brute_force_topk_broadcasts_queries(spark):
    from towhee_spark.functions import similarity

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = similarity.brute_force_topk(embs.limit(5), embs, k=3)
    st = plan_stats(out)
    assert st["broadcasts"] >= 1
    assert st["python_evals"] == 0  # cosine is native zip_with/aggregate


def test_brute_force_topk_two_phase_sharded(spark):
    """Scale guard: scored rows must first rank inside (query_id, __shard)
    partitions — no single task may sort a query's whole index scan. The
    global per-query window only sees the <= shards*k survivors."""
    import re

    from towhee_spark.functions import similarity
    from towhee_spark.plans.explain import _plan_text

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = similarity.brute_force_topk(embs.limit(5), embs, k=3)
    plan = _plan_text(out)
    assert re.search(r"hashpartitioning\(query_id#\d+L?, __shard", plan), plan[:2000]


def test_scan_topk_single_tiny_shuffle(spark):
    """Arrow scan top-k: one MapInPandas over the index scan, and the only
    exchange carries the per-partition-pruned rows (<= n_q*k per partition),
    never the full scored set."""
    from towhee_spark.functions import similarity

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = similarity.scan_topk(embs.limit(5), embs, k=3)
    st = plan_stats(out)
    assert st["python_evals"] >= 1
    assert st["exchanges"] <= 1, st


def test_native_gate_queries_have_zero_python_stages(spark):
    """Sweeping plan guard: every gate query whose semantics are fully
    native must plan with ZERO Python eval stages (ArrowEvalPython /
    mapInPandas / applyInPandas). A Python stage sneaking into one of
    these (a probe mis-verdict, an accidental impl default flip) is a
    10-100x regression at scale that row-correctness checks can't see."""
    import __spark_entry__ as entry

    from towhee_spark.plans.explain import plan_stats

    native = [
        "asof_backward", "asof_forward", "asof_strict", "asof_tolerance",
        "asof_chunked", "lag_lead", "lag_lead_chunked", "locf_backfill",
        "locf_chunked", "bfill", "bfill_chunked",
        "sessionize", "sessionize_chunked", "session_stats", "towhee_map",
        "towhee_filter",
        "towhee_flat_map", "towhee_time_window", "towhee_time_window_exact",
        "towhee_time_window_exact_chunked", "towhee_window_sliding",
        "towhee_window_sliding_chunked",
        "towhee_concat", "dedup_exact", "dedup_ngram_jaccard",
        "dedup_ngram_capped", "minhash_lsh", "simhash_pairs",
        "simhash_weighted", "simhash_permuted", "embedding_neardup",
        "similarity_topk",
        "ivf_topk", "ivfsq_topk", "bm25_topk", "tfidf_terms",
        "decontaminate", "bloom_decontaminate", "hash_split",
        "sample_by_hash", "gopher_quality", "curated_corpus",
        "heavy_hitters", "quality_quantile",
        "dedup_groups", "dedup_survivors", "dedup_best", "duplicate_spans",
        "strip_spans",
        "unigram_ppl",
        "bigram_ppl",
        "token_budget", "neardup_static", "pack_sequences", "semdedup",
        "pq_topk", "ivfpq_topk", "classifier_score", "dsir_select",
        "kmeans_assign", "pooled_embeddings", "shard_layout",
        "quantized_embeddings",
        "embedding_norms", "text_stats", "text_repetition", "quality_score",
        "pii_scrub", "chunk_text", "conv_prompt", "rerank", "json_extract",
        "tpch_q1", "tpch_q3ish", "tpch_q5ish", "cube_agg", "monthly_orders",
        "topk_orders", "window_analytics", "anti_semi_join", "flagship",
        # round-5 transcript/curation family — all pure Column plans
        "conv_features", "role_transitions", "sft_examples", "curriculum",
        "data_card", "domain_mixture", "hard_negatives", "hll_registers",
        "preference_pairs", "truncate_context", "tool_chains",
        "canned_responses", "self_repetition", "conv_dedup", "conv_neardup",
        "sft_corpus", "length_bias",
    ]
    qs = entry.queries()
    sf = "/root/testdata/sf0.001"
    bad = {}
    for name in native:
        n = plan_stats(qs[name](spark, sf))["python_evals"]
        if n:
            bad[name] = n
    assert not bad, f"python stages in native plans: {bad}"


def test_aqe_skew_join_splits_mega_key(spark):
    """Demonstrates the AQE runtime skew lever the engine relies on at
    100 TB (CLAUDE.md hot-key story): a join where one key holds 95% of the
    fact side gets its skewed partition SPLIT at runtime —
    SortMergeJoin(skew=true) — instead of serializing onto one task.
    Thresholds are shrunk so the demonstration runs on a test-sized input;
    production uses the defaults (256MB/5x)."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(500_000).select(
            F.when(F.col("id") % 100 < 95, F.lit("hot"))
            .otherwise(F.concat(F.lit("k"), (F.col("id") % 1000).cast("string")))
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(1001).select(
            F.when(F.col("id") == 1000, F.lit("hot"))
            .otherwise(F.concat(F.lit("k"), F.col("id").cast("string"))).alias("k"),
            (F.col("id") * 2).alias("w"),
        )
        j = big.join(dim, "k")
        jplan = j._jdf.queryExecution().executedPlan()
        jplan.execute().count()  # drive THIS plan instance so AQE finalizes
        plan = jplan.toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_profile_run_reports_metrics(spark):
    """Per-operator SQLMetrics profiler (Towhee time_profiler analogue):
    after a forced run, operators report output-row counts and the formatted
    tree renders."""
    from towhee_spark.plans import format_profile, metric_total, profile_run

    ev = spark.read.parquet(f"{SF}/events.parquet")
    agg = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    prof = profile_run(agg)
    assert any("Aggregate" in p["op"] for p in prof), [p["op"] for p in prof]
    assert metric_total(prof, "number of output rows") > 0
    assert "Aggregate" in format_profile(prof)


def test_exact_time_window_native_plan(spark):
    """The exact Towhee time_window must compile with ZERO Python evals
    when the fn is a native aggregate — the closed-form realign recurrence
    replaced the per-key Python buffer."""
    from towhee_spark.pipeline import Pipeline

    ev = spark.read.parquet(f"{SF}/events.parquet")
    p = (
        Pipeline.input("value")
        .time_window("value", ("n", "s"), "ts", 3600, 1800,
                     lambda v: (F.count(v), F.round(F.sum(v), 4)),
                     exact=True, emit_start="wstart")
        .output("user_id", "wstart", "n", "s")
    )
    out = p.apply(ev, by="user_id")
    st = plan_stats(out)
    assert st["python_evals"] == 0, st


def test_transcript_curation_shuffle_budgets(spark):
    """The new transcript family must hold its exchange budgets: the
    (conv, island) windows and aggregate in tool_chains reuse the conv
    exchange (ClusteredDistribution is satisfied by a partitioning on a
    SUBSET of its keys), truncate_context is one window pass, and
    self_repetition needs NO window at all (two stacked hash aggs)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    budgets = {
        # events→user_id window for turn_idx + one conv-keyed stage
        "truncate_context": 2,
        "tool_chains": 2,
        "self_repetition": 2,
        "canned_responses": 2,
        "conv_dedup": 3,
        # lag window (conv) + prompt partition shared by both row_numbers
        # AND the final argmax aggregate
        "preference_pairs": 3,
    }
    for name, budget in budgets.items():
        assert_max_exchanges(qs[name](spark, SF), budget)
        st = plan_stats(qs[name](spark, SF))
        assert st["python_evals"] == 0, (name, st)


def test_python_stages_names_every_python_operator():
    """The Python-stage count reads every Python-worker operator Spark 4.1
    prints, including the cogroup, batch-eval and Arrow routes."""
    from towhee_spark.plans.explain import python_stages

    names = ["ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
             "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
             "FlatMapCoGroupsInPandas", "ArrowAggregatePython"]
    for name in names:
        plan = f"AdaptiveSparkPlan isFinalPlan=false\n+- {name} [f(x#1L)#2], [y#3]\n   +- Scan"
        assert python_stages(plan) == 1, name
    plan = ("MapInPandas run(a#1)#2, [a#3], false\n+- ArrowEvalPython [pred(a#1)]\n"
            "   +- FlatMapCoGroupsInPandas [k#4], [k#5], merge(k#4)\n"
            "      +- ArrowEvalPythonUDTF [t(a#1)]")
    assert python_stages(plan) == 4
    assert python_stages("Project [MapInPandasX#1, SortMergeJoin]") == 0


def test_python_row_run_plans_one_python_operator(spark):
    """The benchmark's map → filter → flat_map prefix (plain-Python fns,
    native=False) is one run: one MapInPandas, no ArrowEvalPython."""
    import re

    from pyspark.sql import types as T

    from towhee_spark.pipeline import Pipeline
    from towhee_spark.plans.explain import _plan_text

    def n_words(text):
        return len(text.split())

    def keep_long(n):
        return n >= 3

    def first_pieces(text):
        return text.split()[:2]

    turns = spark.createDataFrame(
        [("c1", 1.0, 0, "a b c d"), ("c1", 2.0, 1, "e f")],
        "conv_id string, ts double, turn_idx int, text string")
    p = (
        Pipeline.input("conv_id", "ts", "turn_idx", "text")
        .map("text", "n_words", n_words, out_types=[T.LongType()], native=False)
        .filter("n_words", "n_words", "n_words", keep_long, native=False)
        .flat_map("text", "piece", first_pieces, native=False)
    )
    out = p.apply(turns, by="conv_id", order=("ts", "turn_idx"))
    plan = _plan_text(out)
    assert len(re.findall(r"\bMapInPandas\b", plan)) == 1, plan
    assert "ArrowEvalPython" not in plan, plan
    assert plan_stats(out)["python_evals"] == 1
    assert sorted(r.piece for r in out.collect()) == ["a", "b"]


def test_native_node_splits_python_runs(spark):
    """A native map between two Python maps ends the first run: two
    Python operators."""
    from pyspark.sql import types as T

    from towhee_spark.pipeline import Pipeline

    df = spark.createDataFrame([("ab",), ("cde",)], "s string")
    p = (
        Pipeline.input("s")
        .map("s", "n", len, out_types=[T.LongType()], native=False)
        .map("n", "m", lambda n: n + 1, out_types=[T.LongType()])
        .map("m", "t", lambda m: "x" * m, native=False)
        .output("s", "t")
    )
    out = p.apply(df)
    assert plan_stats(out)["python_evals"] == 2
    assert sorted(tuple(r) for r in out.collect()) == [("ab", "xxx"), ("cde", "xxxx")]


def test_asof_and_one_table_pte_plan_one_sweep(spark):
    """The benchmark's as-of call and one-table point_in_time_enrich plan
    the same sweep: one exchange, one sort, one window, no Python."""
    from towhee_spark.plans.explain import _plan_text, python_stages
    from towhee_spark.temporal import point_in_time_enrich

    t = spark.createDataFrame(transcripts_pdf(10), schema=TRANSCRIPT_SCHEMA)
    c = spark.createDataFrame(context_pdf(transcripts_pdf(10)), schema=CONTEXT_SCHEMA)
    for out in (asof_join(t, c, direction="backward", tolerance=3600.0,
                          matched_ts_col="ctx_ts"),
                point_in_time_enrich(t, {"ctx": c}, tolerances={"ctx": 3600.0},
                                     matched_ts=True)):
        st = plan_stats(out)
        assert (st["exchanges"], st["sorts"], st["windows"]) == (1, 1, 1), st
        assert python_stages(_plan_text(out)) == 0
