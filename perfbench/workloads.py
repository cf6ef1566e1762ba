"""The benchmark workloads.

Each workload builds its cached inputs from a seed (``load``), runs one
steady pass from cached input to a complete, checksummed result
(``run_pass``), checks that result (``check``), runs a slower oracle once
(``verify``) and, for the traced run, splits its time over the library's
layers by timing calls into their public functions (``decompose``).

* ``transcripts`` — the paper's headline chain, as-of join → lag/lead →
  LOCF → sessionize → Arrow embedding kernel (``temporal``, ``kernels``);
  the write side, as-of join + LOCF committed with
  ``lineage.write_with_lineage``, resumed and verified (``lineage``); and
  Towhee-style ``Pipeline`` map/filter/flat_map with plain-Python
  callables, then count and time windows folded in Python (``pipeline``).
* ``doc_curation`` — the ``pretraining_curation`` preset: Gopher gate,
  exact and MinHash near-dup removal, benchmark decontamination
  (``functions.text``, ``functions.dedup``, ``functions.curation``).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

import checks
import inputs
import probes
from spans import Tracer

TOLERANCE_S = 3600.0
GAP_S = 1800.0
EMBED_DIM = 32
N_BUCKETS = 8
WARMUP_PASSES = 1  # passes run before timing starts (code generation, JIT, workers)
# runs per traced prefix, interleaved; each prefix reports their median
# (two, to keep a traced run within its time: the longest prefix takes 7 s)
REPS = 2


def noop(df: DataFrame) -> None:
    """Run ``df`` to completion, computing every column, and keep nothing."""
    df.write.format("noop").mode("overwrite").save()


def interleaved_prefix_medians(tracer, prefixes: dict, reps: int) -> list[float]:
    """Median wall time of each forced prefix (name -> run function), the
    prefixes interleaved round by round so that a slow spell of the host
    lands on all of them. Each run is one span named after its prefix."""
    times: list[list[float]] = [[] for _ in prefixes]
    for _ in range(reps):
        for i, (name, run) in enumerate(prefixes.items()):
            with tracer.span(f"prefix:{name}"):
                t0 = time.perf_counter()
                run()
                times[i].append(time.perf_counter() - t0)
    return [statistics.median(t) for t in times]


class Workload:
    name = ""
    sizes: dict = {}
    EXPECT = ("rows", "checksum")  # result keys every pass must reproduce

    def __init__(self, spark, seed: int, workdir: str):
        self.spark, self.seed, self.workdir = spark, seed, workdir
        self.cores = spark.sparkContext.defaultParallelism
        self.frames: dict[str, DataFrame] = {}
        self.pdfs: dict[str, pd.DataFrame] = {}
        self.expected: dict | None = None  # checksum a pass must reproduce
        self.tracer = Tracer(enabled=False)

    # -- inputs ------------------------------------------------------------
    def generate(self) -> dict[str, pd.DataFrame]:
        raise NotImplementedError

    def to_spark(self, pdfs: dict[str, pd.DataFrame]) -> dict[str, DataFrame]:
        raise NotImplementedError

    def load(self) -> dict:
        """Generate the inputs, lay them out and fill the cache. Returns the
        rows and checksum of each input, and the generate/cache split."""
        self.unload()
        t0 = time.perf_counter()
        self.pdfs = self.generate()
        frames = self.to_spark(self.pdfs)
        t1 = time.perf_counter()
        stats = {}
        for name, df in frames.items():
            df = df.cache()
            stats[name] = checks.spark_checksum(df)
            self.frames[name] = df
        t2 = time.perf_counter()
        return {"inputs": stats, "generate_s": t1 - t0, "cache_s": t2 - t1}

    def unload(self) -> None:
        for df in self.frames.values():
            df.unpersist()
        self.frames = {}

    @property
    def input_rows(self) -> int:
        """Rows of the main input (the first one ``generate`` returns)."""
        return len(next(iter(self.pdfs.values())))

    # -- passes ------------------------------------------------------------
    def run_pass(self, i: int) -> dict:
        raise NotImplementedError

    def after_pass(self, i: int) -> None:
        """Clean-up outside the timed region."""

    def check(self, res: dict) -> list[str]:
        """Problems with one pass's result; the first result becomes the
        expected one when no reference is recorded for this seed."""
        if self.expected is None:
            self.expected = {k: res[k] for k in self.EXPECT}
        return [f"{k} {res[k]} != expected {v}" for k, v in self.expected.items()
                if res[k] != v]

    def verify(self) -> list[str]:
        return []

    def details(self) -> dict:
        """Per-pass splits for the diagnostics line."""
        return {}

    def decompose(self) -> dict[str, float]:
        return {}


# -- transcripts ---------------------------------------------------------------
# Plain-Python callables for the Towhee operators, as a Towhee user writes
# them; native=False keeps them on the Python path instead of compiling
# them to Column expressions.

def n_words(text):
    return len(text.split())


def keep_long(n):
    return n >= 3


def first_pieces(text):
    return text.split()[:2]


def fold_sum(values):
    total = 0
    for v in values:
        total += v
    return total


COUNT_WINDOW = (16, 8)     # rows: size, step
TIME_WINDOW_S = (7200, 3600)  # seconds: size, step
OPS_APPLY = {"by": "conv_id", "order": ("ts", "turn_idx")}


def turn_chain(turns: DataFrame, ctx: DataFrame, upto: int = 5) -> DataFrame:
    """The headline chain cut after stage ``upto`` (0 = the cached turns)."""
    from towhee_spark.kernels import embed_text_udf  # noqa: PLC0415
    from towhee_spark.temporal import asof_join, lag_lead, locf, sessionize  # noqa: PLC0415

    if upto == 0:
        return turns
    j = asof_join(turns, ctx, direction="backward", tolerance=TOLERANCE_S,
                  matched_ts_col="ctx_ts")
    if upto >= 2:
        j = lag_lead(j.withColumn("text_len", F.length("text")), ["text_len"], [1, 2, -1])
    if upto >= 3:
        j = locf(j, ["tool"])
    if upto >= 4:
        j = sessionize(j, gap=GAP_S, seq_out="session_seq")
    if upto >= 5:
        j = j.withColumn("emb", embed_text_udf(dim=EMBED_DIM)(F.col("text")))
    return j


def towhee_pipelines(upto: int = 5):
    """(count-window pipeline, time-window pipeline) sharing one
    map → filter → flat_map prefix. ``upto`` < 4 returns the prefix cut
    after that many operators (as both elements)."""
    from towhee_spark.pipeline import Pipeline  # noqa: PLC0415

    p = Pipeline.input("conv_id", "ts", "turn_idx", "text")
    if upto >= 1:
        p = p.map("text", "n_words", n_words, out_types=[T.LongType()], native=False)
    if upto >= 2:
        p = p.filter("n_words", "n_words", "n_words", keep_long, native=False)
    if upto >= 3:
        p = p.flat_map("text", "piece", first_pieces, native=False)
    if upto < 4:
        return p, p
    return (p.window("n_words", "w_sum", COUNT_WINDOW[0], COUNT_WINDOW[1], fold_sum,
                     out_types=[T.LongType()]),
            p.time_window("n_words", "t_sum", "ts", TIME_WINDOW_S[0], TIME_WINDOW_S[1],
                          fold_sum, out_types=[T.LongType()]))


class Transcripts(Workload):
    """Everything the library runs over conversation transcripts. One pass:

    1. features: the headline chain (as-of join → lag/lead → LOCF →
       sessionize → Arrow embedding) to a checksum sink;
    2. commit: the lighter as-of + LOCF features written with
       ``write_with_lineage`` to a fresh directory, a resume call that must
       write nothing, and ``verify_lineage``; its bucketed output shuffle
       uses the layout differently from the checksum sink;
    3. ops: Towhee ``Pipeline`` map/filter/flat_map with Python callables,
       then a count and a time window folded in Python, over a small
       transcript set (one ``applyInPandas`` group per window).
    """
    name = "transcripts"
    sizes = {"n_convs": 3_000}
    ops_sizes = {"n_convs": 45, "hot_convs": 1, "hot_turns": 250}
    EXPECT = ("rows", "checksum", "commit_checksum", "ops_rows", "ops_checksum")
    STAGES = ("temporal.asof_s", "temporal.lag_lead_s", "temporal.locf_s",
              "temporal.sessionize_s", "kernels.embed_s")
    parts: list[dict] = []  # per pass: time of each part, bytes/files committed
    _count_ref: dict | None = None

    def generate(self):
        turns = inputs.transcripts(self.seed, **self.sizes)
        return {"turns": turns, "context": inputs.context(self.seed, turns),
                "ops_turns": inputs.transcripts(self.seed, **self.ops_sizes)}

    def to_spark(self, pdfs):
        from towhee_spark.layout import repartition_by_key  # noqa: PLC0415
        from towhee_spark.schema import CONTEXT_SCHEMA, TRANSCRIPT_SCHEMA  # noqa: PLC0415

        def df(name, schema):
            return self.spark.createDataFrame(pdfs[name], schema=schema)

        return {
            "turns": repartition_by_key(df("turns", TRANSCRIPT_SCHEMA), "conv_id",
                                        num_partitions=2 * self.cores),
            "context": df("context", CONTEXT_SCHEMA),
            # one partition per core: at this size every extra task is one
            # more Python-runner start per operator, not more parallel work
            "ops_turns": repartition_by_key(df("ops_turns", TRANSCRIPT_SCHEMA), "conv_id",
                                            num_partitions=self.cores),
        }

    def load(self):
        self.parts, self._count_ref = [], None
        return super().load()

    @property
    def n_turns(self) -> int:
        return len(self.pdfs["turns"])

    @property
    def input_rows(self) -> int:
        return self.n_turns + len(self.pdfs["ops_turns"])

    # -- the three parts -----------------------------------------------------
    def chain(self, upto: int = 5) -> DataFrame:
        return turn_chain(self.frames["turns"], self.frames["context"], upto)

    def features(self) -> DataFrame:
        """The commit's lighter chain: as-of join + LOCF."""
        from towhee_spark.temporal import asof_join, locf  # noqa: PLC0415

        j = asof_join(self.frames["turns"], self.frames["context"], direction="backward",
                      tolerance=TOLERANCE_S, matched_ts_col="ctx_ts")
        return locf(j, ["tool"])

    def target(self, i) -> str:
        return os.path.join(self.workdir, "commit", f"pass-{i}")

    def commit(self, base: str) -> dict:
        """Write, resume and verify once; returns the three results and
        the time each took."""
        from towhee_spark.lineage import verify_lineage, write_with_lineage  # noqa: PLC0415

        df = self.features()
        kw = {"key": "conv_id", "n_buckets": N_BUCKETS, "input_snapshot": f"seed-{self.seed}"}
        t0 = time.perf_counter()
        first = write_with_lineage(df, base, **kw)
        t1 = time.perf_counter()
        again = write_with_lineage(df, base, **kw)
        t2 = time.perf_counter()
        ok = verify_lineage(df, base)
        t3 = time.perf_counter()
        return {"first": first, "again": again, "ok": ok,
                "write_s": t1 - t0, "resume_s": t2 - t1, "verify_s": t3 - t2}

    def ops_outputs(self, upto: int = 5) -> tuple[DataFrame, DataFrame]:
        cw, tw = towhee_pipelines(upto)
        t = self.frames["ops_turns"]
        return cw.apply(t, **OPS_APPLY), tw.apply(t, **OPS_APPLY)

    def run_pass(self, i):
        t0 = time.perf_counter()
        res = checks.spark_checksum(
            self.chain(),
            F.sum(F.when(F.col("ctx_ts") > F.col("ts"), 1).otherwise(0)).alias("leaks"))
        t1 = time.perf_counter()
        base = self.target(i)
        shutil.rmtree(base, ignore_errors=True)
        c = self.commit(base)
        t2 = time.perf_counter()
        # both window outputs are a few hundred rows: collect them, so that
        # every pass's count windows are checked against pandas
        cw, tw = self.ops_outputs()
        counts = sorted((r["conv_id"], r["__row_order"], r["w_sum"]) for r in cw.collect())
        times = sorted(tuple(r) for r in tw.collect())
        t3 = time.perf_counter()
        self.parts.append({"chain_s": t1 - t0, "commit_s": t2 - t1, "ops_s": t3 - t2,
                           **{k: c[k] for k in ("write_s", "resume_s", "verify_s")}})

        rows = checksum = 0
        mdir = os.path.join(base, "_lineage")
        for f in sorted(os.listdir(mdir)):
            if f.startswith("bucket="):
                with open(os.path.join(mdir, f)) as fh:
                    m = json.load(fh)
                rows += m["rows"]
                checksum = (checksum * 1_000_003 + m["checksum"]) % (2**61 - 1)
        digest = hashlib.sha256(repr((counts, times)).encode()).digest()
        return {**res, "commit_rows": rows, "commit_checksum": checksum,
                "verified": c["ok"], "written": len(c["first"]["written"]),
                "rewritten": len(c["again"]["written"]),
                "ops_rows": len(counts) + len(times),
                "ops_checksum": int.from_bytes(digest[:7], "big"), "counts": counts}

    def after_pass(self, i):
        data = os.path.join(self.target(i), "data")
        found = [os.path.join(d, f) for d, _, fs in os.walk(data) for f in fs
                 if f.endswith(".parquet")]
        self.parts[-1].update(files=len(found), bytes=sum(os.path.getsize(f) for f in found))
        shutil.rmtree(self.target(i), ignore_errors=True)

    def details(self):
        return {"parts": self.parts}

    def check(self, res):
        problems = super().check(res)
        n = self.n_turns
        if res["leaks"]:
            problems.append(f"{res['leaks']} turns joined context from their future")
        if res["rows"] != n:
            problems.append(f"{res['rows']} output rows for {n} turns")
        if not res["verified"]:
            problems.append("verify_lineage returned False")
        if res["written"] != N_BUCKETS:
            problems.append(f"{res['written']} of {N_BUCKETS} buckets committed")
        if res["rewritten"]:
            problems.append(f"resume rewrote {res['rewritten']} buckets")
        if res["commit_rows"] != n:
            problems.append(f"{res['commit_rows']} rows committed for {n} turns")
        want = self.count_reference()
        got = {(c, w): s for c, w, s in res["counts"]}
        if got != want:
            bad = sum(got.get(k) != v for k, v in want.items()) + len(set(got) - set(want))
            problems.append(f"{bad} of {len(want)} count windows differ from the pandas reference")
        return problems

    def count_reference(self) -> dict:
        """{(conv_id, window id): folded sum} of the count window, in pandas."""
        if self._count_ref is None:
            t = self.pdfs["ops_turns"].sort_values(["conv_id", "ts", "turn_idx"])
            t = t.assign(n_words=t.text.map(n_words))
            t = t[t.n_words.map(keep_long)]
            t = t.loc[t.index.repeat(t.text.map(lambda s: len(first_pieces(s))))]
            size, step = COUNT_WINDOW
            self._count_ref = {}
            for conv, g in t.groupby("conv_id", sort=False):
                v = g.n_words.to_list()
                for w in range(0, (len(v) - 1) // step + 1):
                    self._count_ref[(conv, w)] = sum(v[step * w:step * w + size])
        return self._count_ref

    def verify(self):
        """The pandas oracle on five conversations, the hottest included."""
        turns, ctx = self.pdfs["turns"], self.pdfs["context"]
        sizes = turns.groupby("conv_id").size()
        rng = np.random.default_rng(self.seed)
        sample = [sizes.idxmax(), *rng.choice(sizes.index.to_numpy(), 4, replace=False)]
        want = checks.turn_features_oracle(
            turns[turns.conv_id.isin(sample)], ctx[ctx.conv_id.isin(sample)],
            tolerance_s=TOLERANCE_S, gap_s=GAP_S, dim=EMBED_DIM)
        got = (self.chain().filter(F.col("conv_id").isin(sample)).toPandas()
               .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
        cols = ["ctx_score", "ctx_label", "ctx_ts", "text_len_lag1", "text_len_lag2",
                "text_len_lead1", "tool_ff", "session_seq", "emb"]
        return [f"oracle: {p}" for p in checks.compare_frames(got, want, cols)]

    # -- traced run ------------------------------------------------------------
    def decompose(self):
        from towhee_spark.plans.profile import profile_run  # noqa: PLC0415

        sc = self.spark.sparkContext
        ops_in = self.frames["ops_turns"]

        def ops_cut(k):
            p, _ = towhee_pipelines(k)
            return p.apply(ops_in, **OPS_APPLY)

        def time_window_only():
            _, tw = towhee_pipelines()
            return tw.apply(ops_in, **OPS_APPLY)

        chain_names = ("cached_input", "asof", "lag_lead", "locf", "sessionize", "embed")
        ops_names = ("ops_input", "map", "filter", "flat_map", "window")
        runs = {n: lambda k=k: noop(self.chain(k)) for k, n in enumerate(chain_names)}
        runs.update({n: lambda k=k: noop(ops_cut(k)) for k, n in enumerate(ops_names)})
        runs["time_window"] = lambda: noop(time_window_only())
        med = interleaved_prefix_medians(self.tracer, runs, REPS)
        out = dict(zip(self.STAGES, checks.prefix_deltas(med[:6])[1:]))
        ops = checks.prefix_deltas(med[6:11])
        out.update({"pipeline.map_s": ops[1], "pipeline.filter_s": ops[2],
                    "pipeline.flat_map_s": ops[3], "pipeline.window_s": ops[4],
                    "pipeline.time_window_s": checks.prefix_deltas([med[9], med[11]])[1]})

        # the commits of the passes after warm-up (untraced and traced)
        steady = self.parts[WARMUP_PASSES:]
        out.update({f"lineage.{k}": statistics.median(c[k] for c in steady)
                    for k in ("write_s", "resume_s", "verify_s")})
        out["lineage.bytes_written"] = steady[-1]["bytes"]
        out["lineage.files_written"] = steady[-1]["files"]

        full = self.chain()
        profile_run(full)
        py = probes.plan_operator_metrics(full, "ArrowEvalPython")
        out.update({
            "temporal.exchanges": probes.plan_operator_metrics(full, "Exchange")["__nodes"],
            "kernels.py_run_s": py.get("time to run Python workers", 0) / 1e3,
            "kernels.py_bytes_out": py.get("data sent to Python workers", 0),
            "kernels.py_bytes_in": py.get("data returned from Python workers", 0),
        })

        apply_times = []
        for r in range(REPS):
            t0 = time.perf_counter()
            (cw, tw), c = probes.jobs_during(sc, f"perfbench-apply-{r}", self.ops_outputs)
            apply_times.append(time.perf_counter() - t0)
        out["pipeline.apply_s"] = statistics.median(apply_times)
        out["pipeline.probe_jobs"] = c["jobs"]
        groups = py_ms = 0
        for df in (cw, tw):
            profile_run(df)
            m = probes.plan_operator_metrics(df, "FlatMapGroupsInPandas")
            groups += m.get("number of output rows", 0)
            py_ms += m.get("time to run Python workers", 0)
        out["pipeline.py_groups"] = groups
        out["pipeline.py_run_s"] = py_ms / 1e3
        return out


# -- doc_curation ------------------------------------------------------------

NEARDUP_THRESHOLD = 0.8


class DocCuration(Workload):
    name = "doc_curation"
    sizes = {"n_docs": 1_000}
    survivors: pd.DataFrame | None = None  # the first pass's output, for verify
    build_walls: list[float] = []  # plan build time of each pass

    def generate(self):
        docs, bench = inputs.documents(self.seed, **self.sizes)
        return {"docs": docs, "benchmark": bench}

    def to_spark(self, pdfs):
        schema = "doc_id long, text string"
        docs = self.spark.createDataFrame(pdfs["docs"], schema=schema)
        return {"docs": docs.repartition(2 * self.cores),
                "benchmark": self.spark.createDataFrame(pdfs["benchmark"], schema=schema)}

    def build(self) -> DataFrame:
        from towhee_spark.pipelines import pipeline  # noqa: PLC0415

        run = pipeline("pretraining_curation", neardup_threshold=NEARDUP_THRESHOLD,
                       benchmark=self.frames["benchmark"])
        return run(self.frames["docs"])

    def load(self):
        self.survivors, self.build_walls = None, []
        return super().load()

    def run_pass(self, i):
        from towhee_spark.functions.dedup import release_cached  # noqa: PLC0415

        t0 = time.perf_counter()
        out = self.build()
        self.build_walls.append(time.perf_counter() - t0)
        try:
            res = checks.spark_checksum(out)
            if i == 0:
                # the oracle's input comes from the warm-up pass, so that
                # verify costs no extra build
                self.survivors = out.select("doc_id", "text").toPandas()
            return res
        finally:
            release_cached(out)

    def details(self):
        return {"build_walls": self.build_walls}

    def verify(self):
        """Survivors of the first pass clear the 50-word floor and are
        unique after normalization; duplicates were removed."""
        got = self.survivors
        if got is None:
            return ["oracle: the first pass collected no survivors"]
        norm = got.text.str.lower().str.split().str.join(" ")
        problems = []
        if (norm.str.count(" ") + 1 < 50).any():
            problems.append("oracle: a survivor is under the 50-word floor")
        if norm.duplicated().any():
            problems.append("oracle: two survivors share a normalized text")
        if len(got) >= len(self.pdfs["docs"]) * (1 - 0.10 - 0.08):
            problems.append(f"oracle: {len(got)} survivors; duplicates were kept")
        return problems

    def decompose(self):
        from towhee_spark.functions import curation, dedup, text  # noqa: PLC0415

        sc = self.spark.sparkContext
        docs, bench = self.frames["docs"], self.frames["benchmark"]

        def gopher():
            return docs.filter(text.gopher_rules("text").getField("keep"))

        def exact():
            kept = gopher()
            return kept.join(dedup.dedup_exact(kept, "doc_id", "text").select("doc_id"), "doc_id")

        def pairs(threshold=NEARDUP_THRESHOLD):
            return dedup.minhash_lsh_pairs(exact(), "doc_id", "text", threshold=threshold)

        def survivors():
            kept, p = exact(), pairs()
            surv = dedup.dedup_survivors(kept, p, "doc_id").select("doc_id")
            return kept.join(surv, "doc_id"), p

        def decontaminated():
            kept, p = survivors()
            flagged = curation.decontaminate(kept, bench, n=3, threshold=3).select("doc_id")
            return kept.join(flagged, "doc_id", "left_anti"), p

        def forced(build):
            def run():
                res = build()
                df, deps = (res if isinstance(res, tuple) else (res, res))
                noop(df)
                dedup.release_cached(deps)
            return run

        med = interleaved_prefix_medians(self.tracer, {
            "cached_input": forced(lambda: docs), "gopher": forced(gopher),
            "exact": forced(exact), "minhash": forced(pairs), "cc": forced(survivors),
            "decontam": forced(decontaminated)}, REPS)
        d = checks.prefix_deltas(med)
        out = {"text.gopher_s": d[1], "dedup.exact_s": d[2], "dedup.minhash_s": d[3],
               "dedup.cc_s": d[4], "curation.decontam_s": d[5]}

        # build time of the passes after warm-up (untraced and traced)
        out["curation.build_s"] = statistics.median(self.build_walls[WARMUP_PASSES:])
        built, c = probes.jobs_during(sc, "perfbench-build", self.build)
        dedup.release_cached(built)
        out["curation.build_jobs"] = c["jobs"]

        cand_df, pair_df = pairs(0.0), pairs()
        out["dedup.candidates"] = cand_df.count()
        out["dedup.pairs"] = pair_df.count()
        out["dedup.pair_yield"] = out["dedup.pairs"] / max(1, out["dedup.candidates"])
        dedup.release_cached(cand_df)
        dedup.release_cached(pair_df)
        return out


WORKLOADS = {w.name: w for w in (Transcripts, DocCuration)}
