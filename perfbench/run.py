"""Benchmark entry point.

    python3 perfbench/run.py --workload turn_features --seed 0 --seconds 12 --trace 0

Runs from the root of a checkout. One invocation starts one Spark session
on ``local[<cores>]``, builds the workload's seeded inputs, warms up, then
times steady passes for ``--seconds`` seconds. Every pass's output is
checked. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the metrics are the
end-to-end ones with ``--trace 0`` and the per-layer ones with
``--trace 1``. ``--workload all`` runs every workload in one process (for
reading, not for comparison). Spans, diagnostics and Spark scratch files
go under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

import numpy
import pyarrow
import pyspark
from pyspark import SparkContext
from pyspark.sql import functions as F

import probes
from spans import Tracer
from workloads import WARMUP_PASSES, WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DEFAULT_SEED = 0
# An explicit heap that fits a small host (the library default is 48g). Its
# size is fixed (-Xms = -Xmx) so that GC sizing does not differ from run to
# run, but its pages are not touched up front: peak_rss_mb counts the heap
# the workload actually uses.
DRIVER_MEMORY = "1g"
MIN_PASSES = 2     # timed passes even when they outlast --seconds
TRACED_PASSES = 1

END_TO_END_UNITS = {"setup_s": "s", "run_s": "s", "rows_per_s": "rows/s",
                    "cpu_s": "s", "peak_rss_mb": "MB"}


def process_age_s() -> float:
    """Seconds since this process started (interpreter start included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def import_library():
    """Import the library from this checkout, never from elsewhere."""
    sys.path[:0] = [str(ROOT), str(HERE)]
    import towhee_spark  # noqa: PLC0415

    where = Path(towhee_spark.__file__).resolve()
    if ROOT not in where.parents:
        raise ImportError(f"towhee_spark resolved outside the checkout: {where}")


def start_session(workdir: Path, cores: int):
    """Spark session whose scratch files, Python workers' imports and JVM
    temp files all stay inside the checkout."""
    tmp, local = workdir / "tmp", workdir / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    inherited = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT), str(HERE), *inherited])
    from towhee_spark.session import get_spark  # noqa: PLC0415

    return get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(local),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
        "spark.ui.showConsoleProgress": "false",
    })


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait for every child process."""
    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(probes.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in probes.tree_pids()[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


class Tally:
    """Passes attempted and failed, and checks outside the passes (inputs,
    oracles) that failed, with the reason for each. ``error_rate`` counts
    passes only; any failure makes the run incorrect."""

    def __init__(self):
        self.attempted = self.failed = self.checks_failed = 0
        self.problems: list[str] = []

    @property
    def correct(self) -> bool:
        return self.failed == 0 and self.checks_failed == 0

    def run(self, wl, i: int):
        """One checked pass; returns (result or None, wall s, tree CPU s)."""
        self.attempted += 1
        c0, t0 = probes.tree_cpu_s(), time.perf_counter()
        try:
            res = wl.run_pass(i)
        except Exception:  # noqa: BLE001 - a failing pass is counted, not fatal
            wall, cpu = time.perf_counter() - t0, probes.tree_cpu_s() - c0
            self.fail(f"pass {i} raised:\n{traceback.format_exc()}")
            return None, wall, cpu
        wall, cpu = time.perf_counter() - t0, probes.tree_cpu_s() - c0
        wl.after_pass(i)
        problems = wl.check(res)
        if problems:
            self.fail(f"pass {i}: " + "; ".join(problems))
        return res, wall, cpu

    def fail(self, why: str) -> None:
        """A failed pass."""
        self.failed += 1
        self._note(why)

    def problem(self, why: str) -> None:
        """A failed check that is not a pass: input rows or checksums, or
        an oracle run once per workload."""
        self.checks_failed += 1
        self._note(why)

    def _note(self, why: str) -> None:
        self.problems.append(why)
        print(f"# FAIL {why}", file=sys.stderr)


def load_reference() -> dict:
    with open(HERE / "reference.json") as f:
        return json.load(f)


def setup(wl, ref: dict, seed: int, tally: Tally, tracer) -> dict:
    """Build and check the inputs, then run the warm-up pass (code
    generation, Python-worker start, most JIT). Returns the setup timings."""
    with tracer.span("layout.load"):
        build = wl.load()
    inputs = build.pop("inputs")
    want = ref["input_rows"]
    got = {k: v["rows"] for k, v in inputs.items()}
    if got != want:
        tally.problem(f"input rows {got} != recorded {want}")
    sums = {k: v["checksum"] for k, v in inputs.items()}
    if seed == DEFAULT_SEED:
        if sums != ref["default_seed"]["inputs"]:
            tally.problem(f"input checksums {sums} != recorded {ref['default_seed']['inputs']}")
        wl.expected = ref["default_seed"]["output"]
    warmups = []
    for i in range(WARMUP_PASSES):
        with tracer.span("session.warmup", index=i):
            res, wall, _ = tally.run(wl, i)
        warmups.append(wall)
    return {**build, "warmup_s": warmups[0], "warmup_walls": warmups,
            "input_checksums": sums,
            "output": res and {k: res[k] for k in wl.EXPECT}}


def timed_passes(wl, tally: Tally, seconds: float, first: int) -> dict:
    """Steady passes until ``seconds`` have elapsed (at least MIN_PASSES)."""

    walls, cpus = [], []
    h0 = probes.host_cpu_sample()
    t_end = time.perf_counter() + seconds
    i = first
    while time.perf_counter() < t_end or len(walls) < MIN_PASSES:
        _, wall, cpu = tally.run(wl, i)
        walls.append(wall)
        cpus.append(cpu)
        i += 1
    return {"walls": walls, "cpus": cpus, "next": i,
            "host": probes.host_cpu_shares(h0, probes.host_cpu_sample())}


def traced_passes(wl, tally: Tally, tracer, first: int) -> tuple[list[float], list[float], dict]:
    """TRACED_PASSES passes with Spark job groups, spans and counter reads,
    each between two untraced passes, so that both sides see the same
    warm-up trend. Returns (untraced walls, traced walls, median of each
    Spark counter over the traced passes)."""
    sc = wl.spark.sparkContext
    plain, walls, counters = [], [], []
    for i in range(first, first + 2 * TRACED_PASSES, 2):
        plain.append(tally.run(wl, i)[1])
        with tracer.span("pass", workload=wl.name, index=i + 1) as sp:
            gc0, t0 = probes.jvm_gc_s(sc), time.perf_counter()
            _, c = probes.jobs_during(sc, f"perfbench-pass-{i + 1}",
                               lambda i=i: tally.run(wl, i + 1))
            walls.append(time.perf_counter() - t0)
            c["gc_s"] = probes.jvm_gc_s(sc) - gc0
            sp["spark"] = c
        counters.append(c)
    plain.append(tally.run(wl, first + 2 * TRACED_PASSES)[1])
    med = {f"spark.{k}": statistics.median(c[k] for c in counters) for k in counters[0]}
    return plain, walls, med


def host_info(cores: int, spark, seed: int) -> dict:
    """Versions and session settings, recorded as diagnostics only."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    return {
        "cores": cores, "seed": seed,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
        "jdk": jvm.java.lang.System.getProperty("java.version"),
    }


def run_workload(spark, name: str, args, session_s: float, workdir: Path,
                 tracer) -> tuple[dict, dict, Tally]:
    """Set up, time and check one workload, or with ``--trace 1`` trace it.
    Returns (metrics, diagnostics, tally): the end-to-end metrics, or the
    per-layer ones when tracing."""
    tally = Tally()
    wl = WORKLOADS[name](spark, args.seed, str(workdir))
    wl.tracer = tracer
    su = setup(wl, load_reference()[name], args.seed, tally, tracer)
    # process start (imports included) until timing begins; in a process
    # that runs several workloads this includes the earlier ones
    setup_s = process_age_s()
    diag = {"workload": name, "input_rows": wl.input_rows, "session_s": session_s, **su}
    if args.trace:
        metrics, diag["layers"] = trace_workload(wl, tally, tracer, session_s, su)
    else:
        tp = timed_passes(wl, tally, args.seconds, first=WARMUP_PASSES)
        run_s = statistics.median(tp["walls"])
        metrics = {
            "setup_s": setup_s,
            "run_s": run_s,
            "rows_per_s": wl.input_rows / run_s,
            "cpu_s": statistics.median(tp["cpus"]),
        }
        diag.update({"pass_walls": tp["walls"], "pass_cpus": tp["cpus"], **tp["host"]})
    with tracer.span("verify"):
        for p in wl.verify():
            tally.problem(p)
    diag.update(wl.details())
    wl.unload()
    # after the timed passes, so that it stays out of setup_s
    diag["host_canary_s"] = probes.host_canary_s()
    return metrics, diag, tally


def main(argv=None) -> int:
    args = parse_args(argv)
    import_library()

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {list(WORKLOADS)} or all")
    workdir = ROOT / ".perfbench"
    workdir.mkdir(exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(enabled=bool(args.trace))

    results = []
    with probes.RssSampler() as rss:
        spark = start_session(workdir, cores)
        session_s = process_age_s()
        tracer.add("session.start", time.perf_counter() - session_s, time.perf_counter())
        try:
            for name in names:
                results.append((name, *run_workload(spark, name, args, session_s, workdir,
                                                    tracer)))
            info = host_info(cores, spark, args.seed)
        finally:
            stop_session(spark)
    shutil.rmtree(workdir / "commit", ignore_errors=True)

    units = LAYER_UNITS if args.trace else END_TO_END_UNITS
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name, metrics, diag, tally in results:
        if not args.trace:
            metrics["peak_rss_mb"] = rss.peak_mb
        print(f"{name}: " + "  ".join(f"{k}={v:.4g} {units[k]}" for k, v in metrics.items())
              + f"  error_rate={tally.failed / tally.attempted:.4g} fraction"
              f" ({tally.failed}/{tally.attempted} passes;"
              f" {tally.checks_failed} other checks failed)")
        print("# diag " + json.dumps({**info, **diag, "peak_rss_split": rss.peak_split}))
        for p in tally.problems:
            print(f"# problem {p.splitlines()[0]}")
        out["correct"] &= tally.correct
        out["attempted"] += tally.attempted
        out["failed"] += tally.failed
        prefix = f"{name}." if len(names) > 1 else ""
        out["metrics"].update({f"{prefix}{k}": {"value": float(v), "unit": units[k]}
                               for k, v in metrics.items()})
    if args.trace:
        tracer.write(str(workdir / f"trace-{args.workload}-seed{args.seed}.json"))
    print(json.dumps(out))
    return 0


# -- traced run ----------------------------------------------------------------

# Per-layer metrics every workload has; BENCHMARK.json lists these. Each
# workload's own layer split (stage deltas, Python-boundary and plan
# counters) is printed on the "# diag" line under "layers" and written to
# the trace file: see README.md for the metric -> layer -> workload map.
LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "layout.cache_s": "s", "layout.skew": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "trace.run_s": "s", "trace.overhead": "fraction",
}


def trace_workload(wl, tally: Tally, tracer, session_s: float, su: dict) -> tuple[dict, dict]:
    """(per-layer metrics, the workload's own layer split)."""
    out = {"session.start_s": session_s, "session.warmup_s": su["warmup_s"],
           "layout.cache_s": su["cache_s"]}
    # rows per cached partition of the main input
    parts = [r["count"] for r in next(iter(wl.frames.values()))
             .groupBy(F.spark_partition_id()).count().collect()]
    out["layout.skew"] = max(parts) / statistics.median(parts)
    plain, walls, counters = traced_passes(wl, tally, tracer, WARMUP_PASSES)
    out.update(counters)
    out["trace.run_s"] = statistics.median(walls)
    out["trace.overhead"] = out["trace.run_s"] / statistics.median(plain) - 1
    with tracer.span(f"decompose:{wl.name}"):
        layers = wl.decompose()
    # 0 on these inputs, so kept with the layer split rather than among the
    # metrics compared run to run
    layers["spark.spill_bytes"] = out.pop("spark.spill_bytes")
    return out, layers


if __name__ == "__main__":
    sys.exit(main())
