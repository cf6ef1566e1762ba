"""layout.collect_small — the one small-input gate every driver-local
train/solve operator and driver-snapshot guard goes through."""

import pathlib
import re
import uuid

import pytest

from towhee_spark.layout import collect_small


def _jobs_in_group(spark, fn):
    """Run ``fn`` under a fresh job group; return (its result, number of
    Spark jobs the group ran)."""
    sc = spark.sparkContext
    group = f"collect-small-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_collect_small_bounds_and_empty(spark):
    df = spark.range(5)
    assert sorted(r.id for r in collect_small(df, 5)) == [0, 1, 2, 3, 4]
    assert sorted(r.id for r in collect_small(df, 50)) == [0, 1, 2, 3, 4]
    assert collect_small(df, 4) is None
    assert collect_small(spark.range(0), 3) == []
    pdf = collect_small(df, 5, to_pandas=True)
    assert sorted(pdf["id"]) == [0, 1, 2, 3, 4]
    assert collect_small(df, 4, to_pandas=True) is None
    assert len(collect_small(spark.range(0), 3, to_pandas=True)) == 0


def test_collect_small_cap_zero_runs_no_job(spark):
    df = spark.range(100).groupBy("id").count()
    for cap in (0, -1):
        out, jobs = _jobs_in_group(spark, lambda c=cap: collect_small(df, c))
        assert out is None and jobs == 0, (cap, jobs)
    out, jobs = _jobs_in_group(spark, lambda: collect_small(df, 1000))
    assert len(out) == 100 and jobs >= 1  # the counter does see jobs


def test_guards_at_cap_zero_raise_without_a_job(spark):
    """0 means the same at every site: no probe job. For the two
    driver-snapshot guards that is the loud error and nothing else."""
    from towhee_spark.functions.similarity import scan_topk
    from towhee_spark.streaming.ops import stream_asof_static

    def error_of(call):
        with pytest.raises(ValueError) as err:
            call()
        return str(err.value)

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>")
    msg, jobs = _jobs_in_group(spark, lambda: error_of(
        lambda: scan_topk(vecs, vecs, k=1, max_queries=0)))
    assert "max_queries=0" in msg and jobs == 0
    ev = spark.createDataFrame([("a", 1)], "conv_id string, ts long")
    ctx = spark.createDataFrame([("a", 0, 1.0)], "conv_id string, ts long, v double")
    msg, jobs = _jobs_in_group(spark, lambda: error_of(
        lambda: stream_asof_static(ev, ctx, max_snapshot_rows=0)))
    assert re.search("max_snapshot_rows.*stateful", msg) and jobs == 0


def test_kmeans_train_empty_index_same_error_on_both_sides_of_cap(spark):
    from towhee_spark.functions.clustering import kmeans_train

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    for cap in (100_000, 0):
        with pytest.raises(ValueError, match="ivf_train: empty index"):
            kmeans_train(empty, k=2, iters=2, collect_vectors=cap)


def test_no_hand_rolled_small_input_probe():
    """Only layout.collect_small may run the limit(cap + 1) probe; every
    other module calls it, so the cap convention lives in one place."""
    root = pathlib.Path(__file__).resolve().parents[1] / "towhee_spark"
    probe = re.compile(r"\.limit\(\s*[A-Za-z_][\w.]*\s*\+\s*1\s*\)")
    offenders = [
        str(p.relative_to(root)) for p in sorted(root.rglob("*.py"))
        if p != root / "layout.py" and probe.search(p.read_text())
    ]
    assert offenders == []
