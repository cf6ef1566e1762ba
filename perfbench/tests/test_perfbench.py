"""Tests of the benchmark's own code: seeded inputs and their recorded row
counts, the order-insensitive checksum, prefix deltas, pass accounting and
the Spark status-store reader.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import random
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(HERE.parent), str(HERE)]

import checks  # noqa: E402
import inputs  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_row_counts_do_not_depend_on_the_seed():
    for seed in range(3):
        t = inputs.transcripts(seed, n_convs=200)
        assert len(t) == inputs.turn_counts(200, 20, 2, 2000).sum()
        assert len(inputs.context(seed, t)) == len(inputs.context(0, inputs.transcripts(0, 200)))
        docs, bench = inputs.documents(seed, 600)
        assert (len(docs), len(bench)) == (600, 200)


def test_recorded_row_counts_match_the_generators():
    with open(HERE / "reference.json") as f:
        ref = json.load(f)
    assert set(ref) == set(workloads.WORKLOADS)
    for name, cls in workloads.WORKLOADS.items():
        wl = object.__new__(cls)  # generate() needs the seed, not a session
        wl.seed = 3
        assert {k: len(v) for k, v in wl.generate().items()} == ref[name]["input_rows"]


def test_failed_checks_outside_passes_are_not_failed_passes():
    class Fake:
        def run_pass(self, i):
            if i == 1:
                raise RuntimeError("boom")
            return {"rows": 1}

        def after_pass(self, i):
            pass

        def check(self, res):
            return []

    tally = run.Tally()
    for i in range(3):
        tally.run(Fake(), i)
    tally.problem("input rows differ")
    assert (tally.attempted, tally.failed, tally.checks_failed) == (3, 1, 1)
    assert not tally.correct and len(tally.problems) == 2


def test_context_never_duplicates_a_key_and_ties_land_on_turns():
    t = inputs.transcripts(3, n_convs=100)
    c = inputs.context(3, t)
    assert not c.duplicated(["conv_id", "ts"]).any()
    on_turn = c.merge(t[["conv_id", "ts"]], on=["conv_id", "ts"])
    assert len(on_turn) > 0


@pytest.mark.parametrize("medians", [
    [0.1, 0.5, 0.4, 0.9, 1.2],  # a dip after stage 1
    [1.0, 0.2, 0.3, 0.1],       # every later prefix faster than the first
    [0.0, 0.0, 0.0],
])
def test_prefix_deltas_never_negative(medians):
    d = checks.prefix_deltas(medians)
    assert len(d) == len(medians)
    assert all(x >= 0 for x in d)
    assert sum(d) == pytest.approx(max(medians))


def test_prefix_deltas_random_never_negative():
    rng = random.Random(0)
    for _ in range(200):
        m = [rng.uniform(0, 5) for _ in range(rng.randint(1, 8))]
        assert min(checks.prefix_deltas(m)) >= 0


def test_embed_reference_is_unit_norm():
    import numpy as np  # noqa: PLC0415

    v = checks.embed_reference("tok1 tok2 tok2", 32)
    assert v.dtype == np.float32 and abs(float(np.linalg.norm(v)) - 1) < 1e-6
    assert not checks.embed_reference("", 32).any()


@pytest.fixture(scope="module")
def spark():
    from towhee_spark.session import get_spark  # noqa: PLC0415

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g"})
    yield s


def test_same_seed_same_input_checksum_other_seed_other_checksum(spark):
    from towhee_spark.schema import CONTEXT_SCHEMA, TRANSCRIPT_SCHEMA  # noqa: PLC0415

    def sums(seed):
        t = inputs.transcripts(seed, n_convs=200)
        docs, bench = inputs.documents(seed, 400)
        frames = [(t, TRANSCRIPT_SCHEMA), (inputs.context(seed, t), CONTEXT_SCHEMA),
                  (docs, "doc_id long, text string"), (bench, "doc_id long, text string")]
        return [checks.spark_checksum(spark.createDataFrame(p, schema=s))["checksum"]
                for p, s in frames]

    a, b, c = sums(7), sums(7), sums(8)
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_spark_checksum_ignores_row_order_and_partitioning(spark):
    from pyspark.sql import functions as F  # noqa: PLC0415

    df = spark.range(0, 2000).select(
        F.col("id"), (F.col("id") / 7).alias("x"),
        F.array(F.col("id").cast("float"), F.lit(0.5).cast("float")).alias("v"))
    a = checks.spark_checksum(df)
    b = checks.spark_checksum(df.repartition(5).orderBy(F.rand(3)))
    assert a == b and a["rows"] == 2000
    assert checks.spark_checksum(df.filter("id > 0"))["checksum"] != a["checksum"]


def test_spark_checksum_rounds_floating_noise(spark):
    from pyspark.sql import functions as F  # noqa: PLC0415

    df = spark.range(0, 100).select((F.col("id") / 3).alias("x"))
    noisy = df.select((F.col("x") + F.lit(1e-12)).alias("x"))
    assert checks.spark_checksum(df) == checks.spark_checksum(noisy)


def test_status_store_reader_counts_a_toy_job_with_the_ui_off(spark):
    from pyspark.sql import functions as F  # noqa: PLC0415

    sc = spark.sparkContext
    assert sc.getConf().get("spark.ui.enabled") == "false"
    sc.setJobGroup("perfbench-toy", "toy")
    try:
        spark.range(0, 50_000, numPartitions=3).groupBy((F.col("id") % 11).alias("k")) \
            .count().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    c = probes.group_counters(sc, "perfbench-toy")
    assert c["jobs"] >= 1 and c["stages"] >= 2
    assert c["tasks"] >= 3
    assert c["shuffle_write_bytes"] > 0 and c["shuffle_read_bytes"] > 0
    assert c["executor_cpu_s"] > 0
    assert probes.jvm_gc_s(sc) >= 0


def test_rss_skips_a_child_that_still_maps_its_parents_pages():
    import os  # noqa: PLC0415
    import time  # noqa: PLC0415

    with open("/proc/self/comm") as f:
        me = f.read().strip()
    before = probes.tree_rss_mb()[me][0]
    pid = os.fork()
    if pid == 0:  # the child maps nothing of its own, then leaves
        time.sleep(1.0)
        os._exit(0)
    try:
        time.sleep(0.3)
        assert probes.tree_rss_mb()[me][0] == before
    finally:
        os.waitpid(pid, 0)


def test_process_tree_probes_see_this_process():
    import os  # noqa: PLC0415

    assert probes.tree_pids()[0] == os.getpid()
    assert probes.tree_cpu_s() > 0
    with open("/proc/self/comm") as f:
        me = f.read().strip()
    # other entries may read 0: a child that has exited but is not yet reaped
    n, mb = probes.tree_rss_mb()[me]
    assert n >= 1 and mb > 0
