"""Corpus curation: benchmark decontamination + deterministic sampling.

Beyond dedup (``functions.dedup``), a web-scale training-data pipeline
needs two more selection primitives:

1. **Test-set decontamination** — drop training documents that share
   word n-grams with an evaluation benchmark (the n-gram-overlap rule of
   public LLM data recipes, e.g. the 13-gram check described in the
   GPT-3 and PaLM papers). Distinct from pairwise dedup: the benchmark
   side is tiny and fixed, so the right plan is a broadcast join against
   the benchmark's n-gram set, never a corpus self-join.
2. **Reproducible sampling/splitting** — train/val splits and
   per-stratum keep-rates that are a pure function of each row's key.
   ``rand()``-based sampling resamples under task retries, AQE re-plans
   and partition moves; a hash fraction of the id never does, and two
   runs (or two engines) agree row for row.

The reference has no curation layer — its pipelines take data selection
as given upstream (``data_source.glob``/hub datasets feed rows in,
data_source.py:24-60); these close that gap for the 100 TB target, and
every decision here is a pure Column expression the scan can evaluate
(predicate-pushdown-friendly, zero shuffle for the sampling ops).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: scale of the cross-engine 60-bit md5 hash (dedup.simhash_hash_expr
#: contract): Spark conv(substr(md5(x),1,15),16,10) == DuckDB
#: ('0x'||substr(md5(x),1,15))::BIGINT — 15 hex digits = 60 bits.
HASH_SPACE = 1 << 60


def hash60(col: Column | str, salt: str = "") -> Column:
    """Cross-engine 60-bit hash of ``salt || str(value)`` (md5-based, the
    same construction dedup's oracle-mode sketches use). Uniform on
    [0, 2^60); a pure function of the value — deterministic across
    retries, partitionings and engines."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, 15),
        16, 10,
    ).cast("long")


def _thresholds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """Cumulative integer thresholds on the 60-bit hash space, in dict
    order (order defines which labels absorb rounding — document splits
    as an ordered mapping). Comparing hashes against INTEGER thresholds
    keeps the assignment float-free on both engines."""
    if not weights:
        raise ValueError("hash_split: need at least one split weight")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("hash_split: weights must sum to a positive value")
    out, cum = [], 0.0
    for name, w in weights.items():
        if w < 0:
            raise ValueError(f"hash_split: negative weight for {name!r}")
        cum += w
        out.append((name, min(HASH_SPACE, int(round(cum / total * HASH_SPACE)))))
    return out


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic dataset split: label each row by where
    ``hash60(salt || id)`` falls among the cumulative weight thresholds.

    The label is a pure function of (salt, id): re-runs, engine swaps and
    10^5-partition re-layouts all produce the identical split, and a doc
    keeps its split when the corpus around it grows — the property that
    makes eval sets stable across pipeline versions. Zero shuffle: one
    projected CASE expression the scan evaluates in place. Change
    ``salt`` to draw an independent split."""
    h = hash60(id_col, salt)
    th = _thresholds(weights or {"train": 0.98, "val": 0.01, "test": 0.01})
    expr = F.when(h < F.lit(th[0][1]), F.lit(th[0][0]))
    for name, thr in th[1:]:
        expr = expr.when(h < F.lit(thr), F.lit(name))
    # h == top threshold can only happen for HASH_SPACE itself (excluded
    # by the hash range), but keep the final label total anyway
    return df.withColumn(out_col, expr.otherwise(F.lit(th[-1][0])))


def sample_by_hash(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str,
    id_col: str = "doc_id",
    salt: str = "sample",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (data mixing): keep a row iff
    ``hash60(salt || id) < rate[stratum] * 2^60``. The workhorse of
    training-mix construction — up-weight scarce languages/sources,
    down-weight crawl bulk — with exact reproducibility and the same
    stable-membership property as hash_split (a kept row stays kept when
    rates for OTHER strata change). Pure filter, zero shuffle, pushes
    past column pruning to the scan. Strata absent from ``rates`` keep
    ``default_rate`` (0 drops them)."""
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"sample_by_hash: rate for {s!r} outside [0,1]")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError("sample_by_hash: default_rate outside [0,1]")
    thr: Column | None = None
    for s, r in rates.items():
        t = F.lit(int(round(r * HASH_SPACE)))
        cond = F.col(strata_col) == s
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    default = F.lit(int(round(default_rate * HASH_SPACE)))
    thr_col = default if thr is None else thr.otherwise(default)
    return df.filter(hash60(id_col, salt) < thr_col)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination: (doc_id, hits, sample_shingle) for every
    training doc sharing ≥ ``threshold`` distinct word n-grams with the
    benchmark corpus — the docs to DROP before training. ``hits`` counts
    the doc's distinct contaminated n-grams; ``sample_shingle`` is the
    lexicographically first one (audit trail).

    Plan (100 TB story): the benchmark's distinct n-gram set is small and
    fixed (an eval suite is MBs, not TBs) → broadcast it and the corpus
    side never shuffles on the n-gram key. The corpus shingle stream is
    the NON-distinct bag — per-doc dedup before the join would be a
    full-corpus (id, shingle) exchange; instead the broadcast join drops
    the clean rows first and ``countDistinct`` dedups only the MATCHED
    stream (contamination is rare, so that aggregate is tiny).
    ``broadcast_benchmark=False`` falls back to a shuffled join (+AQE)
    for benchmark sets beyond driver memory. Tokenization and the
    short-doc rule are ``dedup.shingles``'s (shared normalize mirror), so
    the gate oracle reuses the proven shingle SQL."""
    from towhee_spark.functions.dedup import shingles  # noqa: PLC0415

    if threshold < 1:
        raise ValueError("decontaminate: threshold must be >= 1")
    d_sh = shingles(docs, id_col, text_col, n=n, distinct=False)
    b_sh = (
        shingles(benchmark, id_col, bench_text_col, n=n)
        .select("shingle").distinct()
    )
    side = F.broadcast(b_sh) if broadcast_benchmark else b_sh
    return (
        d_sh.join(side, "shingle")
        .groupBy("id")
        .agg(
            F.countDistinct("shingle").alias("hits"),
            F.min("shingle").alias("sample_shingle"),
        )
        .filter(F.col("hits") >= threshold)
        .select(F.col("id").alias(id_col), "hits", "sample_shingle")
    )


def bloom_build(
    values: DataFrame,
    value_col: str = "shingle",
    m_bits: int = 1 << 16,
    k: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """Build a Bloom filter as a DataFrame of (word:int, bits:long) — the
    set bits of an ``m_bits``-wide bitmap packed 32 per word (32, not 64:
    ``1::BIGINT << 63`` overflows DuckDB while Java wraps silently, so the
    cross-engine mirror stays in the safe shift range). Bit positions are
    ``pmod(hash60(salt||i||value), m_bits)`` for i in 0..k-1 — the
    cross-engine md5 hash, so both engines set identical bits. ≤ m_bits/32
    rows regardless of input CONTENT: the frame costs ~m_bits/2 bytes
    ((int word, long bits) ≈ 16 B per 32-bit word), so 2^26 bits ≈ 32 MB
    of rows — comfortably broadcastable — and ~2^28 bits (~128 MB) is
    the practical broadcast ceiling (review finding: an earlier draft
    claimed 2^30 bits = 4 MiB, off by two orders; a 2^30-bit filter is
    ~512 MB as rows — use the shuffled-join fallback there)."""
    if m_bits % 32 or m_bits <= 0:
        raise ValueError("bloom_build: m_bits must be a positive multiple of 32")
    if not 1 <= k <= 16:
        raise ValueError("bloom_build: k must be in 1..16")
    c = F.col(value_col)
    pos = F.explode(F.array(*[
        F.pmod(hash60(c, f"{salt}{i}"), F.lit(m_bits)) for i in range(k)
    ]))
    return (
        values.select(pos.alias("p"))
        .select(
            F.shiftright("p", 5).cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("__m"),
        )
        .groupBy("word")
        .agg(F.bit_or("__m").alias("bits"))
    )


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: int = 1,
    m_bits: int = 1 << 16,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    salt: str = "bloom",
    inline_bits_max: int = 1 << 17,
) -> DataFrame:
    """:func:`decontaminate` with a Bloom-filter benchmark set — the
    100 TB shape for benchmark suites too large to broadcast verbatim:
    the broadcast costs ~m_bits/2 bytes NO MATTER how many shingles the
    suite holds (a 2^26-bit filter ≈ 32 MB of rows holds ~4M shingles at
    <0.1% FP), vs GBs for the exact distinct-shingle frame. Same output
    contract (doc_id, hits, sample_shingle), where ``hits`` now counts
    maybe-contaminated shingles: a superset of the exact answer with
    per-shingle false-positive rate ≈ (1 − e^(−k·n_set/m_bits))^k — size
    m_bits ≥ ~16× the benchmark's distinct-shingle count for <0.1% FP at
    k=3. Deterministic: both engines derive the identical FP set, so the
    estimate itself is exactly reproducible (and gateable).

    Plan: the corpus shingle stream stays the NON-distinct bag (the
    decontaminate discipline — no full-corpus pre-dedup exchange); each
    shingle probes k words of the broadcast filter, a probe survives iff
    its bit is set, and a shingle is maybe-present iff all k DISTINCT
    probe indexes survive — counted per (doc, shingle) on the pruned
    stream only, so both aggregates are contamination-sized, not
    corpus-sized.

    When ``m_bits <= inline_bits_max`` the filter INLINES instead: the
    built bitmap (≤ m_bits/32 rows) is collected once — a train-step
    action, the encode_ids/kmeans convention — and expanded to one
    constant ``array<boolean>`` literal of m_bits elements, so the whole
    membership test is k ``element_at`` lookups in ONE codegen filter
    over the shingle stream: no ×k probe explode, no join, no
    per-(doc, shingle) pre-aggregate. Each probe position feeds exactly
    ONE element_at (never a word index + a bit mask), so even after
    predicate pushdown rewrites the filter, each of the k md5 hashes is
    evaluated once per shingle — the same hash count as the join path.
    The default cap (2^17 bits = a 128 Ki-element constant) keeps the
    plan literal ~128 KB; past it (the 2^26-bit production sizing) the
    broadcast-join path below is unchanged. Both paths emit identical
    rows (pytest pins them; the bit map is the same bloom_build)."""
    from towhee_spark.functions.dedup import shingles  # noqa: PLC0415

    if threshold < 1:
        raise ValueError("bloom_decontaminate: threshold must be >= 1")
    b_sh = (
        shingles(benchmark, id_col, bench_text_col, n=n)
        .select("shingle").distinct()
    )
    bloom = bloom_build(b_sh, "shingle", m_bits=m_bits, k=k, salt=salt)
    d_sh = shingles(docs, id_col, text_col, n=n, distinct=False)
    if m_bits <= inline_bits_max:
        # k-row-ish collect (≤ m_bits/32 words): expand set bits to a
        # boolean array indexed by bit position (word*32 + bit)
        bools = [False] * m_bits
        for r in bloom.collect():
            bits = r["bits"]
            base = r["word"] << 5
            while bits:
                low = bits & -bits
                bools[base + low.bit_length() - 1] = True
                bits ^= low
        arr = F.lit(bools)
        cond = None
        for i in range(k):
            probe = F.element_at(
                arr,
                (F.pmod(hash60(F.col("shingle"), f"{salt}{i}"),
                        F.lit(m_bits)) + 1).cast("int"))
            cond = probe if cond is None else (cond & probe)
        # two-stage tail, same shape as the join path: dedupe the
        # surviving (doc, shingle) bag first (map-side partial agg), then
        # the per-doc count — a single countDistinct+min aggregate would
        # plan an Expand (x2 rows into the shuffle), measurably worse
        # when an undersized filter lets most of the stream through
        surv = d_sh.where(cond).groupBy("id", "shingle").agg(F.lit(1))
        return (
            surv.groupBy("id")
            .agg(F.count(F.lit(1)).alias("hits"),
                 F.min("shingle").alias("sample_shingle"))
            .filter(F.col("hits") >= threshold)
            .select(F.col("id").alias(id_col), "hits", "sample_shingle")
        )
    probes = d_sh.select(
        "id", "shingle",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("i"),
                F.pmod(hash60(F.col("shingle"), f"{salt}{i}"), F.lit(m_bits))
                .alias("p"),
            )
            for i in range(k)
        ])).alias("__pr"),
    ).select(
        "id", "shingle", F.col("__pr.i").alias("i"), F.col("__pr.p").alias("p")
    )
    hit = (
        probes.join(
            F.broadcast(bloom), F.shiftright("p", 5).cast("int") == F.col("word")
        )
        .filter(
            F.col("bits").bitwiseAND(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))")
            ) != 0
        )
        .groupBy("id", "shingle")
        .agg(F.countDistinct("i").alias("__kk"))
        .filter(F.col("__kk") == k)
    )
    return (
        hit.groupBy("id")
        .agg(F.count(F.lit(1)).alias("hits"), F.min("shingle").alias("sample_shingle"))
        .filter(F.col("hits") >= threshold)
        .select(F.col("id").alias(id_col), "hits", "sample_shingle")
    )


def sample_to_token_budget(
    df: DataFrame,
    budgets: dict[str, float],
    strata_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "budget",
    count_col: str | None = None,
) -> DataFrame:
    """Down-sample each stratum to ≈ a TOKEN budget (the unit training
    mixes are actually specified in), deterministically.

    ``count_col`` switches the budget unit from whitespace tokens
    (text.token_count over ``text_col``, the default) to a precomputed
    per-row count column — the MODEL-token passthrough (VERDICT r04 ask
    #2): join wordpiece_tokenize's ``n_tokens`` onto the corpus and
    budget in subword units; ``text_col`` is ignored when set.

    Two phases, both scale-clean: (1) one aggregation computes each
    stratum's total token count; (2) each stratum's keep-rate
    ``min(1, budget/total)`` becomes an integer threshold
    ``floor(rate · 2^60)`` on the cross-engine hash — the same
    integer-threshold filter as :func:`sample_by_hash`, joined back via a
    broadcast of the tiny per-stratum frame. No global sort, no prefix
    sum: an exact take-until-budget scan would serialize the corpus
    through one ordered window, while the rate filter keeps the 100 TB
    pass embarrassingly parallel and lands within ~1/√(docs kept)
    relative error of the budget (docs are kept whole — token budgets cut
    at document granularity, never mid-document).

    Membership is stable under corpus growth ONLY through the rate (a doc
    flips only when its stratum's rate changes); strata absent from
    ``budgets`` are dropped; a budgeted stratum with zero total tokens is
    kept in full. Rates derive from data, but every arithmetic step
    (BIGINT totals → one double division → power-of-two scale → floor)
    is IEEE-deterministic, so both engines derive bit-identical
    thresholds."""
    from towhee_spark.functions.text import token_count  # noqa: PLC0415

    if not budgets:
        raise ValueError("sample_to_token_budget: need at least one budget")
    for s, b in budgets.items():
        if b < 0:
            raise ValueError(f"sample_to_token_budget: negative budget for {s!r}")
    cnt = (F.col(count_col).cast("long") if count_col is not None
           else token_count(text_col))
    tot = df.groupBy(strata_col).agg(
        F.sum(cnt).cast("long").alias("__t")
    )
    bcol: Column | None = None
    for s, b in budgets.items():
        cond = F.col(strata_col) == s
        lit = F.lit(float(b))
        bcol = F.when(cond, lit) if bcol is None else bcol.when(cond, lit)
    rate = (
        F.when(bcol.isNull(), F.lit(None).cast("double"))
        .when(F.col("__t") == 0, F.lit(1.0))
        .otherwise(F.least(bcol / F.col("__t").cast("double"), F.lit(1.0)))
    )
    thr = tot.select(
        strata_col,
        F.floor(rate * F.lit(float(HASH_SPACE))).cast("long").alias("__thr"),
    )
    return (
        df.join(F.broadcast(thr), strata_col, "left")
        .filter(hash60(id_col, salt) < F.col("__thr"))
        .drop("__thr")
    )


# --------------------------------------------------------------------------
# DSIR — data selection via importance resampling


def dsir_logratio_table(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    dim: int = 1024,
    salt: str = "feat",
    smoothing: float = 1.0,
    scale_bits: int = 20,
    raw_bucket_counts: DataFrame | None = None,
) -> DataFrame:
    """The DSIR importance model (Xie et al. 2023, arXiv:2302.03169):
    hashed-n-gram bag-of-words distributions p (target) and q (raw), one
    log-ratio per bucket. Returns (bucket:int, li:bigint) where li =
    ROUND(log((cnt_t+s)/(T_t+s·dim) / ((cnt_q+s)/(T_q+s·dim))) · 2^scale_bits)
    — the log computed ONCE per bucket (dim values, broadcastable), then
    frozen to an INTEGER so every per-document accumulation downstream is
    exact int64 arithmetic (the classifier's order-free-sum discipline;
    per-doc feature counts are far below the 2^(63-scale_bits-7) overflow
    line). Features are the shared unigram+bigram set
    (classifier.feature_array), so the importance model and the quality
    classifier read the same representation.

    The plan is action-free: corpus totals ride 1-row broadcast
    crossJoins (the bm25 stats shape); both count aggregates are
    map-side-combined hash aggregates over the exploded features.

    ``raw_bucket_counts`` substitutes a precomputed (bucket, cnt) frame
    for the raw side (dsir_logweights derives it from its cached per-doc
    feature frame so the raw corpus is feature-hashed ONCE, not twice —
    the md5 hash60 per feature is the dominant per-pass cost)."""
    from towhee_spark.functions.classifier import feature_array  # noqa: PLC0415 (cycle)

    def bucket_counts(df):
        return (
            df.select(F.explode(feature_array(F.col(text_col))).alias("feat"))
            .select(F.pmod(hash60(F.col("feat"), salt), F.lit(dim))
                    .cast("int").alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
        )
    from towhee_spark.functions.dedup import _with_cached_deps  # noqa: PLC0415

    spark = raw.sparkSession
    s = float(smoothing)
    denom = F.lit(s * dim)
    # each count frame feeds TWO consumers (the per-bucket join and its
    # corpus total); cache so the explode+aggregate runs once per corpus
    ct = bucket_counts(target).cache()
    cq = (raw_bucket_counts if raw_bucket_counts is not None
          else bucket_counts(raw)).cache()
    tt = ct.agg(F.sum("cnt").alias("__tt"))
    tq = cq.agg(F.sum("cnt").alias("__tq"))
    lr = (
        spark.range(dim).select(F.col("id").cast("int").alias("bucket"))
        .join(F.broadcast(ct.withColumnRenamed("cnt", "__ct")), "bucket", "left")
        .join(F.broadcast(cq.withColumnRenamed("cnt", "__cq")), "bucket", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tq))
        .select(
            "bucket",
            (F.log(F.coalesce("__ct", F.lit(0)) + F.lit(s))
             - F.log(F.coalesce("__tt", F.lit(0)) + denom)
             - F.log(F.coalesce("__cq", F.lit(0)) + F.lit(s))
             + F.log(F.coalesce("__tq", F.lit(0)) + denom)).alias("__lr"),
        )
        .select(
            "bucket",
            F.round(F.col("__lr") * F.lit(float(1 << scale_bits)), 0)
            .cast("long").alias("li"),
        )
    )
    return _with_cached_deps(lr, ct, cq)


def dsir_logweights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 1024,
    salt: str = "feat",
    smoothing: float = 1.0,
    scale_bits: int = 20,
    logratios: DataFrame | None = None,
) -> DataFrame:
    """Per-document DSIR importance log-weight: (id_col, n_feats,
    lw_scaled:bigint, logweight:double) with lw_scaled = Σ_feat li[bucket]
    (exact int64; logweight = lw_scaled / 2^scale_bits, an exact binary
    division). Docs with no features get lw_scaled = 0. Pass
    ``logratios`` (a dsir_logratio_table result, possibly read back from
    parquet) to train once and reuse — the 100 TB shape: fit the model on
    samples, then ONE broadcast join + hash aggregate over the corpus."""
    from towhee_spark.functions.classifier import feature_array  # noqa: PLC0415

    feats = raw.select(
        F.col(id_col),
        F.explode(feature_array(F.col(text_col))).alias("feat"),
    ).select(
        id_col,
        F.pmod(hash60(F.col("feat"), salt), F.lit(dim)).cast("int").alias("bucket"),
    )
    extra_deps: list[DataFrame] = []
    if logratios is not None:
        lr = logratios
    else:
        # the raw corpus is feature-hashed ONCE: the cached per-doc
        # bucket frame feeds both the model's raw-side counts and the
        # per-document accumulation (identical counts — the same explode
        # minus the id column)
        feats = feats.cache()
        extra_deps.append(feats)
        lr = dsir_logratio_table(
            raw, target, text_col, dim, salt, smoothing, scale_bits,
            raw_bucket_counts=feats.groupBy("bucket").agg(
                F.count(F.lit(1)).alias("cnt")))
    agg = (
        feats.join(F.broadcast(lr), "bucket")
        .groupBy(id_col)
        .agg(F.sum("li").alias("lw_scaled"), F.count(F.lit(1)).alias("n_feats"))
    )
    out = (
        raw.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            F.coalesce("lw_scaled", F.lit(0)).alias("lw_scaled"),
        )
        .withColumn(
            "logweight",
            F.col("lw_scaled") / F.lit(float(1 << scale_bits)))
    )
    out._cached_deps = (  # noqa: SLF001
        list(getattr(lr, "_cached_deps", [])) + extra_deps)
    return out


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 1024,
    salt: str = "feat",
    smoothing: float = 1.0,
    scale_bits: int = 20,
    gumbel: bool = False,
    gumbel_salt: str = "gumbel",
    shards: int | None = 32,
    logratios: DataFrame | None = None,
) -> DataFrame:
    """Select the ``k`` most-target-like documents by DSIR importance.

    ``gumbel=False`` (deterministic, the gate config): rank by the EXACT
    integer (lw_scaled DESC, id ASC) — a pure argmax selection.
    ``gumbel=True`` (the paper's resampling): rank by logweight + g where
    g = -log(-log(u)) and u = (hash60(gumbel_salt||id)+1)/(2^60+1) — a
    seeded Gumbel-top-k, which IS sampling-without-replacement
    proportional to exp(logweight); hash-derived noise keeps it
    deterministic across retries and engines up to float ulp (hence not
    the oracle path).

    Two-phase top-k (``shards``) exactly like the retrieval family: no
    single task ever sorts the whole corpus."""
    lw = dsir_logweights(raw, target, id_col, text_col, dim, salt,
                         smoothing, scale_bits, logratios)
    if gumbel:
        u = (hash60(id_col, gumbel_salt) + F.lit(1)).cast("double") / \
            F.lit(float(HASH_SPACE + 1))
        lw = lw.withColumn("__key", F.col("logweight") - F.log(-F.log(u)))
        order = (F.col("__key").desc(), F.col(id_col).asc())
    else:
        order = (F.col("lw_scaled").desc(), F.col(id_col).asc())
    w = Window.orderBy(*order)
    if shards:
        w1 = Window.partitionBy("__shard").orderBy(*order)
        lw = (
            lw.withColumn("__shard", F.pmod(F.xxhash64(id_col), F.lit(shards)))
            .withColumn("__r1", F.row_number().over(w1))
            .filter(F.col("__r1") <= k)
            .drop("__r1", "__shard")
        )
    out = (
        lw.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "n_feats", "lw_scaled", "logweight", "rank")
    )
    out._cached_deps = list(getattr(lw, "_cached_deps", []))  # noqa: SLF001
    return out


def top_quantile_by(
    df: DataFrame,
    score_col: Column | str,
    strata_col: str,
    q: float,
    scale: int = 1_000_000,
) -> DataFrame:
    """Keep each stratum's top-``q`` fraction of rows by score — the
    per-language quality cut (keep the best 20% of every language), with
    KEEP-TIES semantics: every row scoring exactly the threshold stays,
    so each stratum yields ≥ ⌈q·n_s⌉ rows (and the cut is a pure function
    of the score, never of row order).

    Scale story (the reason this is NOT a per-stratum window over the
    data): scores are frozen to ROUND(score·scale) int64, the per-
    (stratum, score) HISTOGRAM is one map-side-combined hash aggregate
    (cells ≤ strata × distinct scores — thousands, not corpus-sized),
    the threshold = MAX frozen score whose top-down cumulative count
    reaches ⌈q·n_s⌉ comes from a window over that tiny histogram, and
    the data pass is one broadcast-join + filter at the scan. A
    Window.partitionBy(stratum).orderBy(score) over the rows would
    serialize a 10^9-row language onto one task; the histogram never
    does. ⌈q·n⌉ is EXACT integer arithmetic: q is snapped to the
    rational num/den its decimal literal denotes (Fraction(str(q))) and
    k = (num·n + den − 1) div den — no float product anywhere, so the
    boundary cannot diverge across engines (a float CEIL(q·n) would:
    DuckDB parses 0.07 as exact DECIMAL while Spark multiplies doubles —
    review finding). NULL scores are EXCLUDED from both the histogram
    and n_s (they never pass the cut, and they must not inflate k);
    rows with NULL strata are dropped by the join."""
    if not 0.0 < q <= 1.0:
        raise ValueError("top_quantile_by: q must be in (0, 1]")
    if "__st" in df.columns or "__thr" in df.columns:
        raise ValueError("top_quantile_by: input has reserved columns "
                         "__st/__thr — rename them first")
    from fractions import Fraction  # noqa: PLC0415

    frac = Fraction(str(q))
    num, den = frac.numerator, frac.denominator
    sc = F.col(score_col) if isinstance(score_col, str) else score_col
    si = F.round(sc * F.lit(float(scale)), 0).cast("long")
    hist = (
        df.select(F.col(strata_col).alias("__st"), si.alias("__s"))
        .where(F.col("__s").isNotNull())
        .groupBy("__st", "__s")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w_cum = (
        Window.partitionBy("__st").orderBy(F.col("__s").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("__st")
    thr = (
        hist.withColumn("__cum", F.sum("__c").over(w_cum))
        .withColumn("__n", F.sum("__c").over(w_tot))
        .withColumn(
            "__k", F.expr(f"({num} * __n + {den - 1}) div {den}")
        )
        .filter(F.col("__cum") >= F.col("__k"))
        .groupBy("__st")
        .agg(F.max("__s").alias("__thr"))
    )
    return (
        df.join(
            F.broadcast(thr), F.col(strata_col) == F.col("__st"), "inner"
        )
        .filter(si >= F.col("__thr"))
        .drop("__st", "__thr")
    )


# --------------------------------------------------------------------------
# Domain mixture with epoch repeats


def _mixture_plan(rates: dict[str, float]) -> dict[str, tuple[int, int, int]]:
    """Per-stratum (n_full, frac_thr, n_max) from a rate: ``n_full``
    whole epochs, a fractional epoch kept iff the hash falls under
    ``frac_thr`` (integer on the 60-bit space), ``n_max = n_full +
    (frac_thr > 0)``. Rates snap to the exact rational their decimal
    literal denotes (Fraction(str(r)) — the top_quantile_by rule), so a
    rate of 2.3 means exactly 23/10 on every engine; a fraction that
    rounds to the full space folds into one more whole epoch."""
    from fractions import Fraction  # noqa: PLC0415

    plan: dict[str, tuple[int, int, int]] = {}
    for s, r in rates.items():
        if r < 0:
            raise ValueError(f"mixture_sample: negative rate for {s!r}")
        fr = Fraction(str(r))
        n_full = int(fr)  # floor for non-negative
        thr = int(round((fr - n_full) * HASH_SPACE))
        if thr >= HASH_SPACE:
            n_full, thr = n_full + 1, 0
        plan[s] = (n_full, thr, n_full + (1 if thr > 0 else 0))
    return plan


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str,
    id_col: str = "doc_id",
    salt: str = "mix",
    default_rate: float = 0.0,
    epoch_col: str = "epoch",
) -> DataFrame:
    """Domain-mixture resampling with EPOCH REPEATS — the missing half of
    :func:`sample_by_hash`: rates may exceed 1. A row in a stratum with
    rate ``r`` is emitted ``floor(r)`` times (epochs 0..floor(r)-1) plus
    one more in epoch ``floor(r)`` iff ``hash60(salt || id || ':' ||
    epoch) < frac(r)·2^60`` — the Pile/DoReMi construction (upweight
    scarce domains by repeating them whole epochs, fractional tails by a
    deterministic per-epoch subsample). The output carries ``epoch_col``
    so downstream shuffling/packing can salt on it (two copies of a doc
    land in different shards).

    Determinism & stability: membership of (row, epoch) is a pure
    function of (salt, id, epoch, rate of its OWN stratum) — re-runs,
    engine swaps and rate changes to other strata never flip it, and
    RAISING a stratum's rate only ADDS pairs (thresholds grow, epochs
    append) — monotone mixture growth, the property that lets a mix be
    tuned without churning shards already written.

    Scale story: one generator (explode of a ≤⌈max rate⌉-element
    sequence) + one scan-evaluated filter — zero shuffle, zero Python,
    pushdown-friendly. Strata absent from ``rates`` get
    ``default_rate`` (0 drops them; the common case for an explicit
    mix). The reference has no mixture layer (data selection is
    upstream of its pipelines, data_source.py:24-60)."""
    if not 0.0 <= default_rate:
        raise ValueError("mixture_sample: negative default_rate")
    if epoch_col in df.columns:
        raise ValueError(
            f"mixture_sample: input already has column {epoch_col!r}")
    plan = _mixture_plan(rates)
    dflt = _mixture_plan({"__d": default_rate})["__d"]

    def _case(i: int) -> Column:
        expr: Column | None = None
        for s, tup in plan.items():
            cond = F.col(strata_col) == s
            lit = F.lit(tup[i])
            expr = F.when(cond, lit) if expr is None else expr.when(cond, lit)
        d = F.lit(dflt[i])
        return d if expr is None else expr.otherwise(d)

    n_full, fthr, n_max = _case(0), _case(1), _case(2)
    epochs = F.when(
        n_max >= 1, F.sequence(F.lit(0), (n_max - 1).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    out = df.withColumn(epoch_col, F.explode(epochs))
    keep = (F.col(epoch_col) < n_full) | (
        hash60(
            F.concat(
                F.col(id_col).cast("string"), F.lit(":"),
                F.col(epoch_col).cast("string"),
            ),
            salt,
        ) < fthr
    )
    return out.filter(keep)


def mixture_rates(
    df: DataFrame,
    weights: dict[str, float],
    strata_col: str,
    budget: float,
    count_col: str | None = None,
    max_rate: float | None = None,
    round_to: int = 6,
) -> dict[str, float]:
    """Turn target mixture WEIGHTS + a total budget into per-stratum
    RATES for :func:`mixture_sample`: ``rate_s = (w_s/Σw)·budget /
    size_s`` where size is the stratum's row count (or ``count_col``
    sum — budget in tokens). A train-step ACTION (kmeans_train
    convention): one k-row hash-aggregate collect, never corpus-sized.
    Rates are rounded to ``round_to`` decimals so the returned dict
    re-snaps exactly under Fraction(str(r)) in mixture_sample — the
    collect→literal freeze. Strata absent from the data (or zero-size)
    are omitted; ``max_rate`` caps repeats (common guard: ≤ 4 epochs of
    any domain, the data-repetition diminishing-returns rule)."""
    if budget <= 0:
        raise ValueError("mixture_rates: budget must be positive")
    tot = float(sum(weights.values()))
    if tot <= 0:
        raise ValueError("mixture_rates: weights must sum to > 0")
    cnt = (F.sum(F.col(count_col).cast("long")) if count_col is not None
           else F.count(F.lit(1)))
    # k-row action: one map-side-combined aggregate, k = |strata| rows
    sizes = {
        r["__s"]: r["__n"]
        for r in df.groupBy(F.col(strata_col).alias("__s"))
        .agg(cnt.alias("__n")).collect()
    }
    out: dict[str, float] = {}
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"mixture_rates: negative weight for {s!r}")
        n = sizes.get(s)
        if not n:
            continue
        rate = (w / tot) * budget / float(n)
        if max_rate is not None:
            rate = min(rate, max_rate)
        out[s] = round(rate, round_to)
    return out


# --------------------------------------------------------------------------
# Per-stratum data card


def data_card(
    df: DataFrame,
    strata_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    quality: Column | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-stratum corpus report — the "data card" table that rides along
    a published dataset: (strata, n_docs, n_dup_docs, n_tokens,
    total_chars, avg_tokens, avg_quality). One hash aggregate over the
    corpus; every number is exact-integer or a single ROUND(int_sum/n, 6)
    IEEE division (the conv_features posture), so the card is
    reproducible bit for bit across engines and re-runs.

    n_dup_docs counts EXACT duplicates (rows beyond the first per
    text.fingerprint) via n − countDistinct(fingerprint) inside the same
    aggregate — no self-join, no second pass. ``quality`` defaults to
    text.quality_score; pass any pre-rounded [0,1] column to card a
    custom scorer. For near-dup rates / distinct-vocabulary columns at
    100 TB, join this card with dedup_groups output and
    sketches.hll_estimate respectively — both are separate passes by
    design (the card itself must stay one cheap aggregate)."""
    from towhee_spark.functions.text import (  # noqa: PLC0415
        fingerprint, quality_score, token_count)

    q = quality if quality is not None else quality_score(text_col)
    qi = F.round(q * F.lit(float(scale)), 0).cast("long")
    n = F.count(F.lit(1))
    toks = F.sum(token_count(text_col)).cast("long")
    return (
        df.select(
            F.col(strata_col).alias("strata"),
            F.col(id_col),
            token_count(text_col).alias("__tc"),
            F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("__ch"),
            fingerprint(text_col).alias("__fp"),
            qi.alias("__qi"),
        )
        .groupBy("strata")
        .agg(
            n.alias("n_docs"),
            (n - F.countDistinct("__fp")).alias("n_dup_docs"),
            F.sum("__tc").cast("long").alias("n_tokens"),
            F.sum("__ch").cast("long").alias("total_chars"),
            F.round(F.sum("__tc").cast("double") / n, 6).alias("avg_tokens"),
            F.round(F.sum("__qi").cast("double")
                    / (n * F.lit(float(scale))), 6).alias("avg_quality"),
        )
    )


def stratified_sample(
    df: DataFrame,
    quotas: dict[str, int] | int,
    strata_col: str,
    id_col: str = "doc_id",
    salt: str = "strat",
    default_quota: int = 0,
    rank_col: str | None = None,
    chunk_bits: int | None = None,
    broadcast_carry: bool | None = True,
) -> DataFrame:
    """Exact-count quota sampling: keep the ``quotas[stratum]`` rows of
    each stratum with the LOWEST ``hash60(salt || id)`` (ties broken by
    id). Where :func:`sample_by_hash` keeps an expected *fraction*, this
    keeps an exact *count* — the primitive for "exactly 1M examples per
    language" training-mix specs and for budgeted eval-set carving. The
    hash order makes the choice deterministic across engines, retries
    and partitionings; note the trade vs ``sample_by_hash``: adding or
    removing corpus rows can shift the rank cut, so membership is stable
    only for a fixed corpus (exact counts cannot have both).

    ``quotas`` is a per-stratum dict (strata absent keep
    ``default_quota``; 0 drops) or a single int applied to every
    stratum. ``rank_col`` optionally keeps the 1-based rank.

    Plan: one hash exchange on ``strata_col`` + a row_number window —
    the same shape as the shard-layout op. A mega-stratum (one language
    = half the corpus) serializes that window onto one task; pass
    ``chunk_bits=b`` for the hot-key path: rows bucket by the TOP b bits
    of the hash (bucket order == hash order, ties share a bucket), rank
    = local row_number per (stratum, bucket) + an exclusive prefix-sum
    carry of per-bucket counts through ``temporal._chunk_carry``
    (``temporal.chunked_row_number``'s recurrence re-keyed to hash
    space) — identical output, and the mega-stratum fans out over 2^b
    tasks. The reference has no sampling
    layer (data selection is upstream of its pipelines,
    data_source.py:24-60)."""
    if isinstance(quotas, int):
        if quotas < 0:
            raise ValueError("stratified_sample: quota must be >= 0")
        quota_col: Column = F.lit(quotas)
    else:
        q: Column | None = None
        for s, v in quotas.items():
            if v < 0:
                raise ValueError(f"stratified_sample: quota for {s!r} < 0")
            cond = F.col(strata_col) == s
            q = F.when(cond, F.lit(int(v))) if q is None else q.when(cond, F.lit(int(v)))
        if default_quota < 0:
            raise ValueError("stratified_sample: default_quota must be >= 0")
        quota_col = F.lit(int(default_quota)) if q is None \
            else q.otherwise(F.lit(int(default_quota)))
    if rank_col is not None and rank_col in df.columns:
        raise ValueError(
            f"stratified_sample: rank_col {rank_col!r} already exists — "
            "rename it (the asof_join suffix-clash convention)")
    out = df.withColumn("__ss_h", hash60(id_col, salt))
    if chunk_bits is None:
        w = Window.partitionBy(strata_col).orderBy("__ss_h", id_col)
        out = out.withColumn("__ss_rn", F.row_number().over(w).cast("long"))
    else:
        if not 1 <= chunk_bits <= 30:
            raise ValueError("stratified_sample: chunk_bits must be in [1, 30]")
        from towhee_spark.temporal import _chunk_carry  # noqa: PLC0415

        out = out.withColumn("__ss_bk", F.shiftright("__ss_h", 60 - chunk_bits))
        w_local = Window.partitionBy(strata_col, "__ss_bk") \
            .orderBy("__ss_h", id_col)
        out = _chunk_carry(
            out.withColumn("__lrn", F.row_number().over(w_local)),
            [strata_col], "__ss_bk", [F.count(F.lit(1)).alias("__cnt")],
            lambda before, _: {
                "__off": F.coalesce(F.sum("__cnt").over(before), F.lit(0))},
            source=out, broadcast=broadcast_carry,
        ).withColumn(
            "__ss_rn", (F.col("__off") + F.col("__lrn")).cast("long"),
        ).drop("__ss_bk", "__lrn", "__off")
    out = out.filter(F.col("__ss_rn") <= quota_col)
    # the carry join puts join keys first — restore the input column order so
    # both physical paths present the identical schema
    cols = list(df.columns)
    if rank_col is not None:
        out = out.withColumn(rank_col, F.col("__ss_rn"))
        cols.append(rank_col)
    return out.select(*cols)
