"""Measurement probes read from outside the program: the process tree's
CPU time and resident memory from ``/proc``, host CPU state, a single-core
canary, and Spark's own job/stage counters.

None of these change a metric they sit next to: host state and the canary
are recorded as diagnostics only.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # process ended between listdir and open
        return None
    # the command name may contain spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the process tree, including the waited-for
    children each process has reaped (so a Python worker that exits keeps
    counting through its parent)."""
    total = 0
    for p in tree_pids(root):
        f = _stat_fields(p)
        if f is not None:
            # fields 14..17 of stat(5): utime stime cutime cstime
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_mb(root: int | None = None) -> dict[str, list]:
    """Resident memory of the process tree by command name:
    ``{name: [processes, MB]}``.

    A child whose virtual size equals its parent's is skipped: it still
    maps the parent's pages, either as a spawn (the JVM starting a helper
    process) that has not yet called exec, or as a fork that has not yet
    mapped anything of its own. Counting a spawn would count the JVM's
    memory twice, 1.4 GB at once. Virtual size changes far less often than
    resident pages, so a read of the two processes a moment apart still
    matches."""
    stats = {}
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        f = raw[raw.rindex(")") + 2:].split()
        # fields 4, 23 and 24 of stat(5): ppid, vsize, rss in pages
        stats[p] = (raw[raw.index("(") + 1:raw.rindex(")")], int(f[1]), int(f[20]), int(f[21]))
    out: dict[str, list] = {}
    for name, ppid, vsize, rss in stats.values():
        parent = stats.get(ppid)
        if parent is not None and parent[2] == vsize:
            continue
        entry = out.setdefault(name, [0, 0.0])
        entry[0] += 1
        entry[1] += rss * _PAGE / 2**20
    return out


class RssSampler:
    """Background thread that keeps the peak resident memory of the process
    tree, and its split by command name at that moment. Use as a context
    manager; ``peak_mb`` and ``peak_split`` are valid after exit."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_split: dict[str, list] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        split = tree_rss_mb()
        total = sum(mb for _, mb in split.values())
        if total > self.peak_mb:
            self.peak_mb, self.peak_split = total, split

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def host_cpu_sample() -> tuple[int, ...]:
    with open("/proc/stat") as f:
        return tuple(int(x) for x in f.readline().split()[1:9])


def host_cpu_shares(a: tuple[int, ...], b: tuple[int, ...]) -> dict[str, float]:
    """sys and steal as a fraction of the jiffies elapsed between two
    ``/proc/stat`` samples (columns: user nice system idle iowait irq
    softirq steal)."""
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d) or 1
    return {"sys_share": round(d[2] / tot, 4), "steal_share": round(d[7] / tot, 4)}


def host_canary_s() -> float:
    """Single-core canary: seconds for a fixed 10^7-iteration Python add
    loop. A slow reading means a slow host, not a slow plan."""
    t0 = time.perf_counter()
    x = 0
    for i in range(10**7):
        x += i
    return time.perf_counter() - t0


# -- Spark counters ----------------------------------------------------------

STAGE_FIELDS = {
    # name: (StageData getter, scale to the reported unit)
    "tasks": ("numTasks", 1),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "spill_bytes": ("diskBytesSpilled", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
}


def group_counters(sc, group: str) -> dict[str, float]:
    """Jobs, stages and summed stage counters of every job tagged
    ``sc.setJobGroup(group, ...)``. Reads the driver's status store, which
    Spark keeps with the UI disabled. Skipped stages (shuffle reuse) have
    no attempt and count as nothing."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    out = {"jobs": 0, "stages": 0, **{k: 0.0 for k in STAGE_FIELDS}}
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            try:
                st = store.lastStageAttempt(stage_id)
            except Exception:  # noqa: BLE001 - py4j NoSuchElement: skipped stage
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            for k, (getter, scale) in STAGE_FIELDS.items():
                out[k] += getattr(st, getter)() * scale
    return out


def jobs_during(sc, group: str, fn):
    """Run ``fn`` with its Spark jobs tagged ``group``; return (result,
    counters of those jobs)."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, group_counters(sc, group)


def jvm_gc_s(sc) -> float:
    """Collection time of every garbage collector of the JVM so far, in
    seconds. In local mode driver and executors share this JVM, so it also
    counts the GC that planning and result handling cause, which the
    per-task GC time of the stages leaves out."""
    mgmt = sc._jvm.java.lang.management  # noqa: SLF001
    beans = mgmt.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def plan_operator_metrics(df, op_prefix: str) -> dict[str, int]:
    """Summed SQLMetrics of the executed-plan operators of ``df`` whose
    node name starts with ``op_prefix`` (call after an action on ``df``
    itself), plus the number of such operators under ``"__nodes"``."""
    from towhee_spark.plans.profile import plan_profile  # noqa: PLC0415

    out: dict[str, int] = {"__nodes": 0}
    seen = set()
    for p in plan_profile(df):
        if not p["op"].startswith(op_prefix):
            continue
        # the profile walk can reach one operator twice (through the
        # adaptive wrapper and its final plan): count each metric set once
        key = tuple(sorted(p["metrics"].items()))
        if key in seen:
            continue
        seen.add(key)
        out["__nodes"] += 1
        for k, v in p["metrics"].items():
            out[k] = out.get(k, 0) + v
    return out
