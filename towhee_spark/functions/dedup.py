"""Deduplication operators for training-data pipelines.

Four tiers, increasing scale-friendliness:

* exact        — hash groupBy on normalized text (one shuffle, map-side combine)
* ngram-Jaccard— exact set similarity via shingle self-join (the oracle for
                 the approximate tiers; frequency-capped to survive scale)
* MinHash+LSH  — signature → banded buckets → candidate join → exact verify;
                 shuffle cost O(docs × bands), never O(docs²)
* SimHash      — 64-bit sketch, hamming-distance blocks

All stages are native DataFrame ops (explode/groupBy/join); hashing uses
xxhash64 (JVM, codegen). Nothing here crosses into Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from towhee_spark.functions.text import normalize_text
from towhee_spark.layout import collect_small


def _with_cached_deps(out: DataFrame, *deps: DataFrame) -> DataFrame:
    """Tag the result with the intermediate frames this builder cached (the
    shingle/signature/sketch frames reused by 2+ downstream branches).
    Callers that materialize many dedup queries in one session (bench, the
    correctness gate) call release_cached() afterwards so cached storage
    doesn't accumulate across invocations (ADVICE)."""
    out._cached_deps = list(deps)  # noqa: SLF001
    return out


def release_cached(df: DataFrame) -> None:
    """Unpersist the intermediates a dedup builder cached for ``df``
    (no-op for frames without any)."""
    for dep in getattr(df, "_cached_deps", []):
        try:
            dep.unpersist()
        except Exception:  # noqa: BLE001, S110
            pass


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id representative of each exact (normalized) text.
    Returns (id, text, dup_count). Single hash aggregation."""
    return (
        df.select(F.col(id_col), F.col(text_col), normalize_text(text_col).alias("__norm"))
        .groupBy("__norm")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select(id_col, "dup_count")
    )


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3,
             distinct: bool = True) -> DataFrame:
    """(id, shingle) pairs: word-level n-gram shingles of the normalized
    text, distinct per doc by default (set semantics — what Jaccard wants).
    ``distinct=False`` keeps multiplicity (bag semantics — what weighted
    SimHash wants). Documents shorter than n words yield their full text
    as a single shingle (so trivially-short docs still compare).

    Implementation: n shifted O(tokens) slices zipped (arrays_zip), exploded,
    then a NATIVE concat_ws — everything whole-stage-codegen. The round-3
    form (transform(sequence, i -> array_join(slice(toks, i+1, n)))) ran the
    per-element slice in the INTERPRETED HOF evaluator: measured 3.7 s →
    0.26 s (14×) on the sf0.1 bag at n=3. Short docs take a separate
    filter branch (cheap scan reuse) instead of a per-row conditional
    array."""
    toks = F.split(normalize_text(text_col), " ")
    # NOT fanned out (layout.fan_out): A/B'd at sf0.1 — the shingle-family
    # per-row hash work is sub-second on one core at this size, and the
    # extra exchange + 32-task overhead LOST ~0.2 s on every warm
    # cached-consumer row (dedup_ngram 1.20→1.41, decontaminate
    # 0.59→0.81); only multi-second single-task CPU stages clear the bar
    # (fuzzy_pairs' candidate stream: 4.5×)
    base = df.select(
        F.col(id_col).alias("id"), toks.alias("__toks"),
        F.size(toks).alias("__sz"),
    )
    # arrays_zip names unaliased inputs "0".."{n-1}" (Spark 4.x)
    zipped = F.arrays_zip(
        *[F.slice("__toks", i + 1, F.col("__sz") - (n - 1)) for i in range(n)]
    )
    long_rows = (
        base.filter(F.col("__sz") >= n)
        .select("id", F.explode(zipped).alias("__g"))
        .select(
            "id",
            F.concat_ws(
                " ", *[F.col("__g").getField(str(i)) for i in range(n)]
            ).alias("shingle"),
        )
    )
    short_rows = base.filter(F.col("__sz") < n).select(
        "id", F.array_join("__toks", " ").alias("shingle")
    )
    out = long_rows.unionByName(short_rows)
    return out.distinct() if distinct else out


def _jaccard_join(inter: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, inter) ⋈ per-doc sizes → (id_a, id_b, jaccard ≥ threshold).
    The single jaccard formula every dedup tier flows through — exact,
    capped, MinHash-verified and SimHash-verified outputs stay comparable by
    construction."""
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (id_a < id_b, jaccard ≥
    threshold).

    Scale levers: the self-join runs on the (shingle → ids) inverted index;
    ``max_shingle_freq`` drops boilerplate shingles that occur in more than
    that many docs (a frequency cap — the standard defence against the
    O(freq²) pair blow-up of stop-shingles at corpus scale). None disables
    the cap (exact semantics; used by the sf0.01 oracle check)."""
    sh_cached = shingles(df, id_col, text_col, n).cache()
    sh = sh_cached
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    if max_shingle_freq is not None:
        freq_ok = (
            sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("f"))
            .filter(F.col("f") <= max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(freq_ok, "shingle")
    a = sh.select(F.col("shingle"), F.col("id").alias("id_a"))
    b = sh.select(F.col("shingle"), F.col("id").alias("id_b"))
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # tag the CACHED frame itself — when the frequency cap rebinds sh to a
    # derived join, unpersisting that join would be a no-op and the cached
    # shingles would leak (code-review finding)
    return _with_cached_deps(_jaccard_join(inter, sizes, threshold), sh_cached)


def _verify_pairs_exact_jaccard(
    cand: DataFrame, sh: DataFrame, threshold: float, impl: str = "explode"
) -> DataFrame:
    """Exact n-gram-Jaccard verification of candidate (id_a, id_b) pairs
    against the (id, shingle) inverted index. Cost is candidate-bounded:
    never touches non-candidate pairs, so LSH does the O(n²)→O(candidates)
    reduction and this stage stays exact. Both impls emit IDENTICAL
    rows (same inter counts over distinct-per-id shingles, same
    _jaccard_join rounding) — the choice is purely a cost model, A/B'd
    at sf0.1:

    * ``"explode"`` — cand ⋈ sh(id_a) explodes each pair by the left
      id's shingles, then an equi-join on (id_b, shingle) keeps
      intersections. Wins when ids have MANY small shingles (word
      3-grams: 52/doc → 4.0 s vs 9.4 for intersect at the minhash gate —
      ArrayIntersect on string arrays builds per-call hash structures).
    * ``"intersect"`` — gather each id's shingle set into an array once,
      native array_intersect per pair. Wins when ids have FEW large
      shingles (conversation turn texts: ~8/conv of ~100 chars → 3.3 s
      vs 6.8 explode on prod_conv_neardup_lsh — the explode would ship
      every pair × every left turn text through a shuffle). An
      ``inter >= 1`` keep mirrors the explode join's matching-only
      semantics; a row must hold one id's whole set (fine ≤ ~10^5)."""
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    if impl == "intersect":
        sets = sh.groupBy("id").agg(F.collect_list("shingle").alias("__ss"))
        inter = (
            cand.join(sets.select(F.col("id").alias("id_a"),
                                  F.col("__ss").alias("__sa")), "id_a")
            .join(sets.select(F.col("id").alias("id_b"),
                              F.col("__ss").alias("__sb")), "id_b")
            .select(
                "id_a", "id_b",
                F.size(F.array_intersect("__sa", "__sb")).alias("inter"))
            .where(F.col("inter") >= 1)
        )
        return _jaccard_join(inter, sizes, threshold)
    if impl != "explode":
        raise ValueError(
            f"verify impl must be 'explode' or 'intersect', got {impl!r}")
    inter = (
        cand.join(sh.select(F.col("id").alias("id_a"), "shingle"), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_join(inter, sizes, threshold)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 64,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """(id, sig: array<bigint>) MinHash signatures: sig[i] = min over
    shingles of xxhash64(shingle, seed=i). One explode + one groupBy —
    map-side partial min keeps the shuffle tiny. ``shingles_df`` reuses a
    prebuilt (id, shingle) frame (minhash_lsh_pairs shares one with its
    exact-verify stage)."""
    sh = shingles_df if shingles_df is not None else shingles(df, id_col, text_col, n)
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy("id").agg(*mins)
    return sig.select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    verify: str = "estimate",
    shingles_df: DataFrame | None = None,
    verify_impl: str = "explode",
) -> DataFrame:
    """Approximate Jaccard near-dup pairs via MinHash + banded LSH:
    signature sliced into ``bands`` bands of ``num_hashes/bands`` rows;
    docs sharing any band bucket become candidates; candidates are verified
    per ``verify``:

    * ``"estimate"`` — signature agreement rate ≥ threshold; emits
      (id_a, id_b, est_jaccard). Cheapest; probabilistic values.
    * ``"exact"``    — true shingle-set Jaccard ≥ threshold; emits
      (id_a, id_b, jaccard), identical to ngram_jaccard_pairs restricted to
      LSH-recalled candidates (with enough bands, recall → 1, making the
      output oracle-checkable against the exact pair set). Verification cost
      is candidate-bounded, so LSH still does the O(n²) reduction.

    Never materializes O(n²): candidate generation is a groupBy on
    (band, band_hash) buckets.

    ``shingles_df`` substitutes a prebuilt (id, shingle) feature frame for
    the word-n-gram shingling — any set representation dedups through the
    same machinery (transcripts.conv_neardup_pairs passes distinct turn
    texts per conversation). ``verify_impl`` picks the exact-verify cost
    model (see _verify_pairs_exact_jaccard): "explode" for many small
    shingles per id (the n-gram default), "intersect" for few large ones
    (turn-text sets) — identical results either way."""
    rows_per_band = num_hashes // bands
    sh = shingles_df if shingles_df is not None else shingles(df, id_col, text_col, n)
    if verify == "exact":
        sh = sh.cache()
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes, shingles_df=sh).cache()
    bands_df = sig.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(*[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]).alias("bh"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bh")
    cand = (
        bands_df.alias("x")
        .join(bands_df.alias("y"), ["band", "bh"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    if verify == "exact":
        return _with_cached_deps(
            _verify_pairs_exact_jaccard(cand, sh, threshold, verify_impl),
            sh, sig)
    est = (
        cand.join(sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
        .withColumn(
            "est_jaccard",
            F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda m: m))
            / F.lit(float(num_hashes)),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )
    return _with_cached_deps(est, sig)


def simhash_hash_expr(col, hash: str = "xxhash64"):
    """Per-feature hash for SimHash. "xxhash64" (JVM, fast, 64-bit) or
    "md5" — a 60-bit hash both engines can compute EXACTLY
    (Spark: conv(substr(md5(x),1,15),16,10); DuckDB:
    ('0x'||substr(md5(x),1,15))::BIGINT), which lets the correctness oracle
    re-run the whole simhash algorithm in SQL."""
    if hash == "xxhash64":
        return F.xxhash64(col)
    if hash == "md5":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown simhash hash {hash!r}")


def simhash_sketch(
    df: DataFrame, id_col: str, text_col: str, ngram: int = 1,
    hash: str = "xxhash64", bits: int = 63,
    weight: str | None = None,
) -> DataFrame:
    """(id, simhash: bigint) 64-bit SimHash: per-bit majority vote of
    feature hashes, built natively from bitwise expressions.

    ``ngram``: feature granularity. 1 = word tokens (classic). ≥2 = word
    n-gram shingles — MEASURED to matter: on template-heavy corpora (shared
    vocabulary, different word order) unigram sketches collapse onto each
    other (sf0.1 documents: 5.28M of 12.5M possible candidate pairs, typical
    inter-doc hamming < 24), while 3-gram sketches separate (450k candidates,
    hamming≤12 keeps 263). Use shingles for near-dup blocking.

    ``weight``: Charikar feature weighting. None = current semantics
    (unigram tokens vote per occurrence; n-gram shingles vote once per
    distinct shingle). "count" = votes weighted by term frequency for BOTH
    granularities, pre-aggregated per (id, feature) so the per-bit vote agg
    sees one row per distinct feature — identical result to bag voting,
    fewer rows into the wide aggregate.

    ``hash``/``bits``: see simhash_hash_expr — "md5" with bits=60 makes the
    sketch reproducible in ANSI SQL for the oracle."""
    if ngram <= 1:
        feats = df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(normalize_text(text_col), " ")).alias("shingle"),
        )
    else:
        feats = shingles(df, id_col, text_col, ngram, distinct=(weight is None))
    # hash ONCE, not per bit: referencing the hash expr inside each of the
    # per-bit aggregates made Catalyst evaluate it per bit per feature
    feats = feats.select("id", simhash_hash_expr(F.col("shingle"), hash).alias("__h"))
    h = F.col("__h")
    if weight == "count":
        feats = feats.groupBy("id", "__h").agg(F.count(F.lit(1)).alias("__w"))
        w = F.col("__w")
    elif weight is None:
        w = F.lit(1)
    else:
        raise ValueError(f"weight must be None or 'count', got {weight!r}")
    votes = feats.groupBy("id").agg(
        *[
            F.sum(F.when(h.bitwiseAND(F.lit(1 << b)) != 0, w).otherwise(-w)).alias(f"b{b}")
            for b in range(bits)  # bit 63 excluded by default: sketch stays positive
        ]
    )
    sketch = votes.select(
        "id",
        sum(
            [F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)) for b in range(bits)],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return sketch


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 8,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming via block-key
    LSH: split the 64-bit sketch into ``blocks`` segments — any pair within
    hamming k < blocks must agree on ≥1 segment (pigeonhole) → candidates
    from segment-bucket joins, verified with bit_count(xor)."""
    sk = simhash_sketch(df, id_col, text_col).cache()
    cand = _simhash_candidates(sk, blocks)
    return _with_cached_deps(
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming"),
        sk,
    )


def _simhash_candidates(sk: DataFrame, blocks: int, bits: int = 64) -> DataFrame:
    """Candidate (id_a, id_b, sh_a, sh_b) pairs whose sketches agree on ≥1
    of ``blocks`` segments — pigeonhole-complete for any pair within
    hamming distance < blocks.

    SIZING RULE (100 TB posture). With random sketches, expected raw
    candidates ≈ ``blocks · n² / 2^(bits/blocks)`` — quadratic in n with a
    2^-segment_width constant (the same candidate-bounding contract the
    reference delegates to Faiss/Milvus, hub_ops/ann_search.py:36-53). Size
    the segment width so buckets stay sub-linear: pick
    ``bits/blocks ≥ log2(n) + margin`` (e.g. n=10M docs → ≥24-bit segments
    ⇒ at 63 bits use blocks ≤ 2 for hamming < 2, or widen ``bits``).
    When the hamming budget forces many narrow blocks (k ≥ 4 at large n),
    switch to Manku-style permuted-table blocking: sort ``tables``
    bit-permuted copies and scan fixed-width prefixes — candidates become
    O(n·tables·run_length) instead of n²-with-a-constant. The gate config
    (blocks=6, bits=60 ⇒ 10-bit segments) is a 5k-doc oracle shape, NOT a
    production sizing."""
    seg_bits = bits // blocks
    segs = sk.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("seg"),
                    F.shiftrightunsigned(F.col("simhash"), s * seg_bits)
                    .bitwiseAND(F.lit((1 << seg_bits) - 1))
                    .alias("seg_val"),
                )
                for s in range(blocks)
            ])
        ).alias("ss"),
    ).select("id", "simhash", "ss.seg", "ss.seg_val")
    cand = (
        segs.alias("x")
        .join(segs.alias("y"), ["seg", "seg_val"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.simhash").alias("sh_a"),
            F.col("y.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return cand


def simhash_pairs_permuted(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 4,
    blocks: int = 6,
    ngram: int = 1,
    hash: str = "xxhash64",
    bits: int = 63,
    weight: str | None = None,
) -> DataFrame:
    """Near-dup (id_a, id_b, hamming ≤ max_hamming) pairs via Manku-style
    permuted-table blocking (Manku/Jain/Sarma, WWW'07) — the scale path for
    HIGH hamming budgets where single-segment blocking's candidate volume
    blows up (see _simhash_candidates sizing rule).

    The sketch is split into ``blocks`` segments; a pair within hamming k
    has ≤ k differing segments, so it agrees on some ``t = blocks − k``
    segments. One "table" per t-subset of segments (C(blocks, t) tables)
    buckets on that subset's concatenated values — COMPLETE for
    hamming ≤ max_hamming (this is what the gate checks: output ==
    the exact all-pairs hamming ≤ k set), with candidates per table
    ∝ n²/2^(t·bits/blocks) — the prefix stays t segments WIDE where
    single-segment blocking narrows to one. E.g. blocks=6, k=4 at 63 bits:
    15 tables × n²/2^20 vs segment blocking's (k+1)-block requirement of
    5 tables × n²/2^12 — 256× fewer raw candidates per table. Bits beyond
    blocks·(bits//blocks) are uncovered by blocking but still counted by
    the verify, which cannot break completeness (≤ k total diffs ⇒ ≤ k
    covered diffs). Same contract the reference delegates to its ANN
    backends (hub_ops/ann_search.py:36-53)."""
    from itertools import combinations  # noqa: PLC0415

    t = blocks - max_hamming
    if t < 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs blocks > max_hamming "
            f"(got blocks={blocks}): completeness requires ≥1 agreeing segment subset"
        )
    sk = simhash_sketch(df, id_col, text_col, ngram=ngram, hash=hash,
                        bits=bits, weight=weight).cache()
    seg_bits = bits // blocks
    mask = (1 << seg_bits) - 1
    entries = []
    for ti, sub in enumerate(combinations(range(blocks), t)):
        entries.append(F.struct(
            F.lit(ti).alias("tbl"),
            *[
                F.shiftrightunsigned(F.col("simhash"), s * seg_bits)
                .bitwiseAND(F.lit(mask)).alias(f"k{j}")
                for j, s in enumerate(sub)
            ],
        ))
    keyed = (
        sk.select("id", "simhash", F.explode(F.array(*entries)).alias("kk"))
        .select("id", "simhash", "kk.*")
    )
    join_cols = ["tbl"] + [f"k{j}" for j in range(t)]
    cand = (
        keyed.alias("x")
        .join(keyed.alias("y"), join_cols)
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.simhash").alias("sh_a"),
            F.col("y.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return _with_cached_deps(
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming"),
        sk,
    )


def simhash_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    blocks: int = 8,
    max_hamming: int | None = 16,
    hash: str = "xxhash64",
    bits: int = 63,
) -> DataFrame:
    """SimHash-blocked near-dup pairs with exact n-gram-Jaccard verification:
    segment-bucket candidates over the n-gram sketch, hamming-pruned at
    ``max_hamming`` (None disables), then re-scored against the true shingle
    sets, emitting (id_a, id_b, jaccard ≥ threshold). The sketch join does
    the O(n²) reduction, the prune bounds the verify fan-in (measured
    J≥0.5 pairs sit at hamming ≤ 12 on this corpus; 16 is the margin), and
    the verify stage is exact — with recall-1 blocking the output equals
    ngram_jaccard_pairs, the oracle-checkable production shape."""
    sk = simhash_sketch(df, id_col, text_col, ngram=n, hash=hash, bits=bits).cache()
    cand = _simhash_candidates(sk, blocks, bits=bits)
    if max_hamming is not None:
        cand = cand.filter(
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))) <= max_hamming
        )
    # cache: the exact-verify stage consumes sh THREE times (sizes + both
    # join sides); uncached it recomputes normalize+explode each time —
    # measured 5.1 s → 0.81 s at sf0.1 (round-3 verdict finding #1)
    sh = shingles(df, id_col, text_col, n).cache()
    return _with_cached_deps(
        _verify_pairs_exact_jaccard(cand.select("id_a", "id_b"), sh, threshold), sk, sh)


def neardup_planes(tables: int, block_planes: int, dim: int, seed: int):
    """The seeded hyperplane bank shared by embedding_neardup_pairs and its
    SQL-mirror oracle: ONE rng draw of (tables·block_planes, dim) normals,
    table t owning rows [t·block_planes, (t+1)·block_planes). Keeping the
    draw in one place is what lets the oracle reproduce the buckets."""
    import numpy as np  # noqa: PLC0415

    return np.random.default_rng(seed).normal(size=(tables * block_planes, dim))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_planes: int = 16,
    tables: int = 16,
    probes: int = 1,
    seed: int = 7,
    dim: int | None = None,
    impl: str = "arrow",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ threshold) via
    OR-amplified random-hyperplane blocking + exact cosine verification.

    ``tables`` independent hyperplane tables of ``block_planes`` sign bits
    each (AND within a table, OR across tables): a pair is a candidate if it
    agrees on ALL bits of ANY table, so recall at angle θ is
    1 − (1 − p^b)^L with p = 1 − θ/π — e.g. b=16, L=16 ⇒ ~0.96 at cos=0.95
    and ~0.9999 at cos=0.99, vs ~0.28/0.57 for the single-table design this
    replaces. ``probes`` > 1 additionally probes per-table 1-bit-flip
    neighbor buckets on one join side (multi-probe, as in
    similarity.lsh_topk), raising per-table recall to P(hamming ≤ 1) — the
    cheap way to buy recall without more tables. Candidate generation stays
    O(n · tables · probes) and the cosine verify is candidate-bounded, so
    nothing here is O(n²).

    Per-table bucket width ``block_planes`` controls precision: random pairs
    collide per table with prob 2^-b, so expected junk candidates are
    ≈ L · n² / 2^b — size b to the corpus (16 bits ⇒ 1/65k per table).

    ``impl`` picks the signature computation. "arrow" (default, the 100 TB
    path): ONE float64 matmul (batch, dim) @ (dim, tables·planes) per Arrow
    batch packs every table's bits at once. "expr": native Column
    expressions — Spark's array HOF lambdas are INTERPRETED, so 256 plane
    dots per row run ~15× slower than the kernel (measured), but the exact
    expression is reproducible in the DuckDB oracle, which is what the gate
    config needs. Both produce identical buckets on non-degenerate data
    (sign flips only at dot == 0 boundaries); each is self-consistent
    because both join sides share one signature frame.

    ``dim`` is required: the hyperplanes are plan constants, and inferring
    the width would trigger a hidden Spark job at plan-construction time."""
    from towhee_spark.kernels import (  # noqa: PLC0415
        cosine_with_norms_expr, norm_expr)
    from towhee_spark.functions.similarity import _bucket_expr  # noqa: PLC0415

    if dim is None:
        raise ValueError(
            "embedding_neardup_pairs: pass dim= (embedding width); it is a "
            "plan constant and is not inferred to keep plan construction "
            "action-free"
        )
    bank = neardup_planes(tables, block_planes, dim, seed)
    # the signature folds (tables × planes interpreted dots per row on the
    # expr impl) and the verify side's norm folds all evaluate in the
    # input's scan stage — one task on a single-row-group corpus file.
    # Fan the vectors out first (layout.fan_out: no-op at scale; the three
    # readers below share one ReusedExchange)
    from towhee_spark.layout import fan_out  # noqa: PLC0415

    df = fan_out(df)
    vec = F.col(vec_col)
    if impl == "arrow":
        from towhee_spark.kernels import hyperplane_bucket_kernel  # noqa: PLC0415

        kern = hyperplane_bucket_kernel(bank.T.copy(), tables, block_planes)
        sigs = df.select(
            F.col(id_col).alias("id"),
            F.posexplode(kern(vec)).alias("tbl", "bucket"),
        )
    elif impl == "expr":
        # (id, table, bucket) — one row per table; the table id lives in the
        # join key so buckets from different tables never collide
        sigs = df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        _bucket_expr(vec, bank[t * block_planes:(t + 1) * block_planes])
                        .alias("bucket"),
                    )
                    for t in range(tables)
                ])
            ).alias("tb"),
        ).select("id", "tb.tbl", "tb.bucket")
    else:
        raise ValueError(f"impl must be 'arrow' or 'expr', got {impl!r}")
    if probes > 1:
        flips = [0] + [1 << p for p in range(min(probes - 1, block_planes))]
        probed = sigs.select(
            "id", "tbl",
            F.explode(F.array(*[
                F.col("bucket").bitwiseXOR(F.lit(off)) for off in flips
            ])).alias("bucket"),
        )
    else:
        probed = sigs
    cand = (
        sigs.alias("x")
        .join(probed.alias("y"), ["tbl", "bucket"])
        .filter(F.col("x.id") != F.col("y.id"))
        .select(
            F.least("x.id", "y.id").alias("id_a"),
            F.greatest("x.id", "y.id").alias("id_b"),
        )
        .distinct()
    )
    # norms hoisted per row onto the join inputs (norm_expr note): the
    # candidate-bounded verify then folds only the dot per pair
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                   norm_expr(F.col(vec_col)).alias("__na"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                   norm_expr(F.col(vec_col)).alias("__nb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", F.round(cosine_with_norms_expr(
            F.col("va"), F.col("vb"), F.col("__na"), F.col("__nb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# --------------------------------------------------------------------------
# pair set → duplicate groups (connected components)


def _cc_local(edges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Union-find over a collected edge list → sorted (id, component)
    rows for every node appearing in the edges, component = the minimum
    member id — the definitionally identical output of the star loop."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # with min-root unions the root IS the component minimum
    return sorted((n, find(n)) for n in parent)


def _star_fingerprint(edges: DataFrame) -> tuple[int, int]:
    """(row count, pmod-bounded hash sum) of an edge set — the convergence
    check for connected_components. pmod keeps the SUM inside BIGINT under
    ANSI mode (SUM(xxhash64) overflows; see CLAUDE.md gotchas)."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(2**40))), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in MapReduce
    and Beyond", reference semantics anchor: the dedup group-merge the
    reference delegates to its vector store, hub_ops/ann_insert.py:20-40):
    for every node u, connect each strictly-larger neighbor to
    min(Γ(u) ∪ {u}). Output edges always point high → low."""
    bi = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        bi.groupBy("u")
        .agg(F.min("v").alias("__mn"))
        .select("u", F.least("__mn", F.col("u")).alias("m"))
    )
    return (
        bi.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: edges arrive high → low (large-star's postcondition);
    for every node u, connect u and all its smaller neighbors to the
    minimum of that set."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    moved = (
        edges.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return moved.union(mins.select("u", F.col("m").alias("v"))).distinct()


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
    collect_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components of an undirected pair graph via alternating
    large-star / small-star (Kiveris et al.) — the step every dedup tier
    needs after pair generation: near-dup PAIRS become duplicate GROUPS so
    one canonical doc per group survives.

    Returns (id, component) for every node that appears in ``pairs``, with
    ``component`` = the minimum node id in its component. Join back to the
    corpus (see :func:`dedup_groups`) to pick up singletons.

    An edge set of ≤ ``collect_edges`` rows (layout.collect_small; 1M
    edges = 16 MB of longs) is collected ONCE and solved
    with driver-side union-find — the same (id, min-of-component) output
    by definition, pytest-pinned against the star loop — because each
    distributed round costs 2 grouped aggregates + a distinct + a
    fingerprint collect regardless of size: at sf0.1's 256-edge graph
    the rounds were 2.4 s of pure job latency, the union-find is
    microseconds.

    Scale (past the threshold): O(log n) rounds, each round two grouped
    aggregations + one distinct — never materializes a component as a
    single row or task, so a 100M-doc duplicate cluster still fans out
    across the cluster. Each round ends in ``localCheckpoint`` (lineage
    truncation — without it the plan doubles per round and the optimizer
    chokes around round 10; swap for ``checkpoint()`` + a checkpoint dir
    on a real cluster if executor loss matters). Convergence is detected
    by an edge-set fingerprint, so this function RUNS Spark jobs when
    called — it is an iterative algorithm, not an action-free plan
    builder like the rest of this module; callers composing it into lazy
    plans get a frame whose inputs are already materialized star edges
    (or a driver-local component table below the threshold)."""
    edge_plan = (
        pairs.select(
            F.col(a_col).cast("long").alias("u"),
            F.col(b_col).cast("long").alias("v"),
        )
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
    )
    head = collect_small(edge_plan, collect_edges)
    if head is not None:
        return pairs.sparkSession.createDataFrame(
            _cc_local([(r["u"], r["v"]) for r in head]),
            "id long, component long")  # the schema types an empty result
    edges = edge_plan.localCheckpoint()
    prev = _star_fingerprint(edges)
    if prev[0] == 0:
        return edges.select(
            F.col("u").alias("id"), F.col("v").alias("component")
        )
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        cur = _star_fingerprint(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(pathological graph or max_iter too small for its diameter)"
        )
    # fixpoint edges form stars: u → component root (the component minimum);
    # roots themselves carry no outgoing edge, so add their self-rows
    nodes = edges.select(F.col("u").alias("id")).union(
        edges.select(F.col("v").alias("id"))
    ).distinct()
    return (
        nodes.join(edges.withColumnRenamed("u", "id"), "id", "left")
        .select("id", F.coalesce("v", F.col("id")).alias("component"))
    )


def dedup_groups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, group_id) for EVERY row of ``df``: near-dup pairs collapsed
    to connected components (group_id = min doc id in the component);
    singletons map to themselves. ``pairs`` is any dedup tier's output
    (ngram_jaccard_pairs / minhash_lsh_pairs / simhash / embedding)."""
    comp = connected_components(pairs)
    return (
        df.select(F.col(id_col).cast("long").alias(id_col))
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("group_id"),
        )
    )


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """One canonical row per duplicate group: (id_col = the group's min doc
    id, group_size = docs it represents). The keep-list a dedup pass feeds
    to the corpus writer."""
    return (
        dedup_groups(df, pairs, id_col)
        .groupBy("group_id")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .select(F.col("group_id").alias(id_col), "group_size")
    )


def dedup_best_survivors(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per duplicate group keeping the HIGHEST-``score_col``
    member (ties → lowest id) — the quality-aware keep rule: when near-dups
    differ in cleanliness, keep the best-written copy, not the
    lowest-id one. Returns (id_col = the kept member, group_id,
    group_size, score_col).

    The argmax is ONE hash aggregate — max(struct(score, -id)) per group,
    never a per-group window over the rows — so a viral boilerplate
    cluster with 10^6 members costs the same as any aggregate group.
    Scores should arrive pre-rounded (quality_score rounds to 6) so the
    cross-engine compare is on identical values.

    ``id_col`` must be an integral column: the tie-break is integer
    negation inside the max-struct, so the op is numeric-only by
    construction. A non-numeric id would silently cast('long') to NULL
    and drop every row — validated loudly up front instead (the
    asof_join_chunked / kmeans_assign loud-guard convention)."""
    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"dedup_best_survivors: id column {id_col!r} must be integral "
            f"(got {id_type}) — the tie-break negates the id inside a "
            f"max(struct); map string ids to a surrogate BIGINT first "
            f"(e.g. xxhash64) or use dedup_survivors for min-id keep")
    g = dedup_groups(df, pairs, id_col)
    scored = df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(score_col)
    )
    j = g.join(scored, id_col)
    best = (
        j.groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.max(
                F.struct(
                    F.col(score_col).alias("s"),
                    (-F.col(id_col)).alias("negid"),
                )
            ).alias("__b"),
        )
        .select(
            (-F.col("__b.negid")).alias(id_col),
            "group_id",
            "group_size",
            F.col("__b.s").alias(score_col),
        )
    )
    return best


# --------------------------------------------------------------------------
# substring-level duplication (duplicated k-token spans)


def _dup_islands(df: DataFrame, id_col: str, text_col: str, k: int):
    """Shared construction for the substring-level dedup pair
    (duplicate_spans / strip_duplicate_spans): (base, win, spans) where
    base = (id, __toks, n_tokens), win = the CACHED (id, start, h)
    k-token-window hashes, and spans = the merged maximal duplicated
    runs (id, s_start, s_end) in 1-based token positions. Both public
    ops and their oracles read these exact stages — change together."""
    from towhee_spark.functions.curation import hash60  # noqa: PLC0415

    toks = F.split(normalize_text(text_col), " ")
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        toks.alias("__toks"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    zipped = F.arrays_zip(
        *[F.slice("__toks", i + 1, F.col("n_tokens") - (k - 1)) for i in range(k)]
    )
    # cache: win feeds BOTH the ≥2-docs aggregate and the hits join —
    # uncached the window explode would run twice (the simhash round-3
    # verdict lesson)
    win = (
        base.filter(F.col("n_tokens") >= k)
        .select("id", F.posexplode(zipped).alias("pos", "__g"))
        .select(
            "id",
            (F.col("pos") + 1).alias("start"),
            hash60(
                F.concat_ws(" ", *[F.col("__g").getField(str(i)) for i in range(k)])
            ).alias("h"),
        )
        .cache()
    )
    dup_h = (
        win.groupBy("h")
        .agg(F.count_distinct("id").alias("__docs"))
        .filter(F.col("__docs") >= 2)
        .select("h")
    )
    hits = win.join(dup_h, "h").select("id", "start")
    w = Window.partitionBy("id").orderBy("start")
    islands = (
        hits.withColumn("__prev", F.lag("start").over(w))
        .withColumn(
            "__brk",
            F.when(
                F.col("__prev").isNull() | (F.col("start") > F.col("__prev") + k),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("__isl", F.sum("__brk").over(w))
    )
    spans = (
        islands.groupBy("id", "__isl")
        .agg(
            F.min("start").alias("s_start"),
            (F.max("start") + k - 1).alias("s_end"),
        )
        .select("id", "s_start", "s_end")
    )
    return base, win, spans


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Cross-document duplicated k-token spans, merged into maximal runs —
    the substring-level dedup signal (Lee et al., "Deduplicating Training
    Data Makes Language Models Better") that doc-level Jaccard misses:
    boilerplate headers, quoted paragraphs, licence blocks.

    Per input row: (id_col, n_tokens, dup_spans, dup_tokens, dup_frac)
    where a position is "duplicated" if its k-token window occurs in ≥ 2
    DISTINCT documents (within-doc repetition is text.repetition_ratio's
    job), overlapping/adjacent duplicated windows merge into one span, and
    dup_frac = dup_tokens / n_tokens rounded to 6.

    Plan: the k shifted slices zip into windows exactly like
    :func:`shingles` (whole-stage codegen, no interpreted HOF), windows
    hash through curation.hash60 (cross-engine md5 contract, so the DuckDB
    oracle reproduces every bucket), the ≥2-docs filter is one hash
    aggregate over (hash → distinct docs), and span merging is a
    gaps-and-islands window per doc — partition width bounded by document
    length, never by corpus size. At 60-bit hashes a corpus of 10^9
    windows sees ~birthday 10^18/2^61 ≈ 0.4 expected false-collision pairs;
    raise to two stacked hashes or verify-by-string if that matters."""
    base, win, spans = _dup_islands(df, id_col, text_col, k)
    per_doc = (
        spans.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("dup_spans"),
            F.sum(F.col("s_end") - F.col("s_start") + 1).alias("dup_tokens"),
        )
    )
    out = (
        base.select("id", "n_tokens")
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce("dup_spans", F.lit(0)).alias("dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
            ).alias("dup_frac"),
        )
    )
    return _with_cached_deps(out, win)


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    out_col: str = "clean_text",
) -> DataFrame:
    """The removal half of :func:`duplicate_spans` (Lee et al.'s actual
    intervention): rewrite every document with its cross-corpus
    duplicated k-token runs CUT OUT. Returns (id_col, n_tokens,
    kept_tokens, out_col) where out_col is the surviving tokens rejoined
    with single spaces — note the rebuild is over the NORMALIZED token
    stream (lowercased, whitespace-collapsed), the same stream the spans
    are defined on; a doc whose every token is duplicated comes back as
    ''. Span construction is shared with duplicate_spans via
    :func:`_dup_islands` — the two can never disagree on what counts as
    duplicated.

    Plan: token positions posexplode once (O(total tokens) rows — the
    inherent cost of text surgery), the span cut is a co-partitioned
    LEFT ANTI range join on id (spans per doc are few), and the rebuild
    is one hash aggregate whose array_sort(struct(pos, tok)) makes the
    collect_list order-independent (the CLAUDE.md collect_list rule).
    Per-doc aggregate width is bounded by document length, never corpus
    size."""
    base, win, spans = _dup_islands(df, id_col, text_col, k)
    tokpos = base.select(
        "id", "n_tokens", F.posexplode("__toks").alias("__p0", "tok")
    ).select("id", "n_tokens", (F.col("__p0") + 1).alias("pos"), "tok")
    sp = spans.withColumnRenamed("id", "__sid")
    kept = tokpos.join(
        sp,
        (F.col("id") == F.col("__sid"))
        & (F.col("pos") >= F.col("s_start"))
        & (F.col("pos") <= F.col("s_end")),
        "left_anti",
    )
    rebuilt = kept.groupBy("id", "n_tokens").agg(
        F.count(F.lit(1)).alias("kept_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.getField("tok"),
            ),
            " ",
        ).alias(out_col),
    )
    out = (
        base.select("id", "n_tokens")
        .join(rebuilt.drop("n_tokens"), "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
            F.coalesce(out_col, F.lit("")).alias(out_col),
        )
    )
    return _with_cached_deps(out, win)


# --------------------------------------------------------------------------
# per-row MinHash signatures + static near-dup index (streaming front door)


def minhash_row_signature(
    text_col, num_hashes: int = 32, n: int = 3, hash: str = "md5",
    seed: int = 11, impl: str = "expr",
):
    """Per-row MinHash signature Column (array<bigint>) — NO aggregation,
    so it is streaming-safe and usable in any stateless projection.

    Family: base = md5-60-bit(shingle) folded to 30 bits, then
    h_i = (a_i·h30 + b_i) mod (2^61−1) with seeded (a_i, b_i)
    (kernels.minhash_affine_params). Every op is exact BIGINT arithmetic,
    so the DuckDB oracle reproduces signatures bit-for-bit.

    ``impl="expr"``: native Column expressions — the shingle slice runs in
    Spark's INTERPRETED HOF evaluator (the round-3 shingles lesson), so
    this is the oracle/gate path. ``impl="arrow"``: one Arrow batch kernel
    (kernels.minhash_sig_np) — identical output for hash="md5" (lockstep-
    tested), and the production path; hash="crc32" is arrow-only (no
    crc32 in DuckDB) for maximum ingest throughput.

    Shingling mirrors :func:`shingles` exactly (normalize_text tokens,
    short-doc rule via the slice-clamp: slice(toks, 1, n) of a short array
    returns the whole array)."""
    from towhee_spark.kernels import (  # noqa: PLC0415
        MINHASH_H30, MINHASH_P, minhash_affine_params, minhash_sig_udf,
    )

    if impl == "arrow":
        c = F.col(text_col) if isinstance(text_col, str) else text_col
        return minhash_sig_udf(num_hashes, n, hash, seed)(c)
    if impl != "expr":
        raise ValueError(f"minhash_row_signature: impl must be expr|arrow, got {impl!r}")
    if hash != "md5":
        raise ValueError("minhash_row_signature: impl='expr' supports hash='md5' only "
                         "(crc32 has no cross-engine mirror — use impl='arrow')")
    toks = F.split(normalize_text(text_col), " ")
    sz = F.size(toks)
    sh_arr = F.transform(
        F.sequence(F.lit(1), F.greatest(sz - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    h30_arr = F.transform(
        sh_arr,
        lambda s: F.pmod(
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
            F.lit(MINHASH_H30),
        ),
    )
    params = minhash_affine_params(num_hashes, seed)
    # ONE aggregate fold computing all num_hashes minima per traversal:
    # the earlier per-hash form (num_hashes separate
    # array_min(transform(h30_arr, affine)) columns) re-EVALUATED the
    # whole shingle+md5 chain once per hash function in the interpreted
    # HOF evaluator — measured 220 s → 9.1 s (24×) for 32 hashes on the
    # sf0.1 corpus, output identical. acc starts at P (every affine
    # value is < P, so the first shingle always replaces it).
    pstruct = F.array(*[
        F.struct(F.lit(a).alias("a"), F.lit(b).alias("b")) for a, b in params
    ])
    init = F.array(*[F.lit(MINHASH_P).cast("long")] * num_hashes)
    return F.aggregate(
        h30_arr,
        init,
        lambda acc, h: F.zip_with(
            acc,
            pstruct,
            lambda m, p: F.least(
                m, F.pmod(p.getField("a") * h + p.getField("b"),
                          F.lit(MINHASH_P))),
        ),
    )


def minhash_band_bucket_expr(
    sig_col, bands: int, num_hashes: int, hash: str = "md5",
):
    """array<struct<band,bh>> band buckets of a signature column. md5 mode
    hashes the '|'-joined band slice through the cross-engine 60-bit md5
    (oracle-reproducible); any other mode uses xxhash64 (JVM codegen —
    bucketing only needs consistency between the two join sides)."""
    c = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    rows = num_hashes // bands
    structs = []
    for bnd in range(bands):
        cols = [c[bnd * rows + r] for r in range(rows)]
        if hash == "md5":
            bh = F.conv(
                F.substring(F.md5(F.concat_ws("|", *[x.cast("string") for x in cols])), 1, 15),
                16, 10,
            ).cast("long")
        else:
            bh = F.xxhash64(*cols)
        structs.append(F.struct(F.lit(bnd).alias("band"), bh.alias("bh")))
    return F.array(*structs)


def minhash_static_index(
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    hash: str = "md5",
    seed: int = 11,
    impl: str = "arrow",
) -> DataFrame:
    """(band, bh, ref_id, ref_sig): the banded MinHash index of a static
    reference corpus — build once, then either keep it as a frame (small
    refs), or materialize with layout.write_bucketed on (band, bh) so the
    per-micro-batch stream join needs no static-side shuffle."""
    if num_hashes % bands:
        raise ValueError("minhash_static_index: bands must divide num_hashes")
    sig = ref.select(
        F.col(id_col).alias("ref_id"),
        minhash_row_signature(text_col, num_hashes, n, hash, seed, impl).alias("ref_sig"),
    )
    return sig.select(
        F.explode(
            minhash_band_bucket_expr("ref_sig", bands, num_hashes, hash)
        ).alias("bb"),
        "ref_id", "ref_sig",
    ).select(F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"),
             "ref_id", "ref_sig")


# --------------------------------------------------------------------------
# semantic dedup (cluster-then-prune over embeddings)


def semdedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    threshold: float = 0.95,
    impl: str = "arrow",
    centroids: list[tuple] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then prune near-duplicates WITHIN each cluster only —
    the cluster assignment replaces the all-pairs O(n²) cosine scan with
    per-cell scans, the paper's own scale story. Fills the semantic tier
    of the dedup ladder next to the lexical ones (exact / n-gram Jaccard /
    MinHash / SimHash) and the geometric LSH tier
    (embedding_neardup_pairs): SemDeDup catches paraphrases whose token
    overlap is low but whose embeddings nearly coincide.

    Reference anchor: towhee's ann_insert/ann_search hub ops delegate
    vector dedup to the vector store (hub_ops/ann_search.py:36-53); here
    the cluster-prune is a first-class DataFrame plan.

    Stages (train/assign shared with the IVF ANN machinery):
      1. centroids — ``ivf_train`` (deterministic md5-hash-sampled rows,
         one driver action; pass ``centroids=`` to reuse a trained set);
      2. ``ivf_assign`` — every vector joins its (ROUND(cos,6) DESC,
         cid ASC) argmax cell;
      3. within-cell self-join on ``cell`` with ``id <`` — candidates are
         per-cell quadratic, NEVER corpus-quadratic;
      4. a vector is a duplicate iff some LOWER-id vector in its cell has
         ROUND(cos, 6) >= threshold; ``dup_of`` = the smallest such id
         (the paper keeps one representative per ε-ball; min-id is the
         deterministic, engine-agnostic choice of representative).

    Returns ALL input rows as (id_col, cell, dup_of): survivors carry
    dup_of NULL; NULL vectors pass through with cell NULL (never dropped —
    same posture as ivf_assign). Filter ``dup_of IS NULL`` for the keep
    list.

    Sizing rule (100 TB): per-cell candidate volume is Σ|cell|²/2 ≈
    n²/(2·nlist) under uniform assignment — grow ``nlist`` ∝ n to hold
    E[|cell|] at a constant budget (the paper runs 50k clusters on LAION;
    sqrt(n) cells ⇒ linear total work). The self-join shuffles BOTH sides
    on ``cell`` once; materialize ``ivf_assign`` output partitioned by
    cell (layout.write_bucketed) to amortize across reruns.

    ``impl``: "arrow" = float64 matmul per Arrow batch for assignment
    (production); "expr" = centroid literals inlined in Column expressions
    (oracle-reproducible — the gate config)."""
    from towhee_spark.functions.similarity import (  # noqa: PLC0415 (cycle)
        ivf_assign,
        ivf_train,
    )
    from towhee_spark.kernels import (  # noqa: PLC0415
        cosine_with_norms_expr, norm_expr)

    cents = centroids if centroids is not None else ivf_train(
        emb, id_col, vec_col, nlist)
    # the per-row norm rides the CACHED assignment so the per-cell
    # quadratic cosine pays only the dot fold per pair (norm_expr note)
    assigned = ivf_assign(emb, cents, id_col, vec_col, impl).withColumn(
        "__nrm", norm_expr(F.col(vec_col))).cache()
    a = assigned.select(F.col(id_col).alias("__aid"),
                        F.col(vec_col).alias("__av"),
                        F.col("__nrm").alias("__an"), "cell")
    b = assigned.select(F.col(id_col).alias("__bid"),
                        F.col(vec_col).alias("__bv"),
                        F.col("__nrm").alias("__bn"), "cell")
    close = (
        a.join(b, "cell")
        .where(F.col("__aid") < F.col("__bid"))
        .where(F.round(cosine_with_norms_expr(
            F.col("__av"), F.col("__bv"), F.col("__an"), F.col("__bn")), 6)
               >= F.lit(float(threshold)))
    )
    dups = close.groupBy(F.col("__bid").alias(id_col)).agg(
        F.min("__aid").alias("dup_of"))
    out = (
        assigned.select(id_col, "cell")
        .join(dups, id_col, "left")
        .select(id_col, "cell", "dup_of")
    )
    return _with_cached_deps(out, assigned)


def fuzzy_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 2,
    prefix: int | None = None,
    extra_block: str | None = None,
) -> DataFrame:
    """Edit-distance near-duplicate pairs: ``(id_a, id_b, dist)`` for every
    unordered pair with ``levenshtein(a, b) <= max_dist`` — the
    short-string fuzzy matcher (titles, names, URLs, code lines) that
    complements the token-set family (minhash/simhash measure shingle
    overlap and miss single-character typos).

    EXACT, not approximate: levenshtein(a, b) >= |len(a) − len(b)|, so
    blocking by length band (width = max_dist) is LOSSLESS — a qualifying
    pair always lands in the same or adjacent band. The left side
    explodes to its own and the next band; same-band pairs take the
    id_a < id_b half, adjacent-band pairs join exactly once (lower band
    is always the left row). Candidates then pass the |Δlen| prefilter
    and Spark's THRESHOLDED levenshtein (banded O(max_dist·len) DP with
    early exit, returns −1 past the threshold) — the full O(len²) DP
    never runs.

    Scale: per-band work is quadratic in the band's population — length
    alone under-blocks a uniform-length corpus (the semdedup sizing
    concern). ``extra_block`` adds an equality key (e.g. first token,
    language) to every candidate; ``prefix`` compares only the first N
    chars (documents: typo-dup detection on prefixes — bounds both the
    DP cost and the shuffle width). NULL texts never pair.

    Candidate pairs pass a LOSSLESS character-histogram prefilter before
    the DP: every edit operation changes per-character counts by at most
    2 (substitution: −1 one char, +1 another), so
    ``levenshtein(a, b) <= k  ⟹  Σ_c |count_a(c) − count_b(c)| <= 2k``
    over ANY fixed character partition (uncounted characters only weaken
    the bound, never break it). Counts are one native
    ``length(t) − length(translate(t, bucket, ''))`` projection per
    bucket per ROW (8 letter-group buckets), and the per-pair check is a
    codegen sum of absolute differences — ~1000× cheaper than the banded
    DP it guards. On a uniform-length corpus (prefix-truncated docs: one
    band of n docs ⇒ n²/2 candidates) this is the difference between
    quadratic DP work and quadratic integer arithmetic: measured
    14.2 s → 3.5 s at sf0.1 (10.7M candidates → 231k DP calls, same 255
    pairs). Bucket count is a measured sweet spot: per-pair filter cost
    grows ~linearly to ≥19 buckets then falls off a codegen cliff
    (28 buckets → whole-stage codegen bails on the join condition and
    the predicate runs INTERPRETED per pair: 89 s), while 8 buckets
    already prune 46× — do not widen without re-measuring.

    Cross-engine note: Spark counts CODEPOINTS, DuckDB's levenshtein
    counts BYTES — identical on ASCII; the gate corpus is ASCII, and
    non-ASCII production data gets Spark's (correct) codepoint distance.

    Reference anchor: towhee has no pairwise text matcher at all (its
    dedup story is embedding similarity, hub_ops/ann_search.py:25);
    this is the classic record-linkage blocking design (Fellegi-Sunter
    era) expressed as two Catalyst equi-joins.
    """
    if max_dist < 0:
        raise ValueError("fuzzy_pairs: max_dist must be >= 0")
    band = max(max_dist, 1)
    txt = F.col(text_col)
    if prefix is not None:
        if prefix <= 0:
            raise ValueError("fuzzy_pairs: prefix must be positive")
        txt = F.substring(txt, 1, prefix)
    blocks = [extra_block] if extra_block else []
    # histogram buckets: 8 letter groups (+ space/digits in the tail).
    # Any partition is lossless (see docstring); 8 is the measured
    # codegen-safe sweet spot. Counted once per ROW as native
    # translate/length arithmetic.
    buckets = ["abc", "defg", "hij", "klmn", "opq", "rst", "uvw",
               "xyz 0123456789"]
    nh = len(buckets)

    def _hist(col):
        return [
            (F.length(col) - F.length(F.translate(col, bs, "")))
            .cast("int").alias(f"__hc{i}")
            for i, bs in enumerate(buckets)
        ]

    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__fz_id"),
        txt.alias("__fz_t"),
        F.length(txt).alias("__fz_len"),
        F.floor(F.length(txt) / band).alias("__fz_b"),
        *_hist(txt),
        *blocks,
    )
    left = base.select(
        F.col("__fz_id").alias("__la"), F.col("__fz_t").alias("__ta"),
        F.col("__fz_len").alias("__na"), F.col("__fz_b").alias("__ba"),
        *[F.col(f"__hc{i}").alias(f"__ha{i}") for i in range(nh)],
        *[F.col(c).alias(f"__xa_{i}") for i, c in enumerate(blocks)],
        F.explode(F.array(F.col("__fz_b"), F.col("__fz_b") + 1)).alias("__gb"),
    )
    right = base.select(
        F.col("__fz_id").alias("__lb"), F.col("__fz_t").alias("__tb"),
        F.col("__fz_len").alias("__nb"), F.col("__fz_b").alias("__bb"),
        *[F.col(f"__hc{i}").alias(f"__hb{i}") for i in range(nh)],
        *[F.col(c).alias(f"__xb_{i}") for i, c in enumerate(blocks)],
    )
    cond = F.col("__gb") == F.col("__bb")
    for i in range(len(blocks)):
        cond = cond & (F.col(f"__xa_{i}") == F.col(f"__xb_{i}"))
    once = (
        (F.col("__ba") == F.col("__bb")) & (F.col("__la") < F.col("__lb"))
    ) | (F.col("__ba") == F.col("__bb") - 1)
    hist_l1 = sum(
        [F.abs(F.col(f"__ha{i}") - F.col(f"__hb{i}")) for i in range(1, nh)],
        F.abs(F.col("__ha0") - F.col("__hb0")),
    )
    d = F.levenshtein(F.col("__ta"), F.col("__tb"), max_dist)
    # the candidate enumeration + per-pair prefilter work all runs in the
    # PROBE side's tasks — a small single-file corpus scans as ONE split,
    # serializing the whole O(band²) pair stream onto one core (measured:
    # every stage of the sf0.1 gate ran 1 task; 3.3 → 0.7 s after the
    # fan-out). The dictionary side is pinned broadcast so the planner
    # can never flip which side streams.
    from towhee_spark.layout import fan_out  # noqa: PLC0415

    left = fan_out(left)
    right = F.broadcast(right)
    pairs = (
        left.join(right, on=cond, how="inner")
        .where(once)
        .where(F.abs(F.col("__na") - F.col("__nb")) <= max_dist)
        .where(F.col("__la") != F.col("__lb"))
        .where(hist_l1 <= 2 * max_dist)
        .withColumn("__d", d)
        .where(F.col("__d") >= 0)
    )
    return pairs.select(
        F.least("__la", "__lb").alias("id_a"),
        F.greatest("__la", "__lb").alias("id_b"),
        F.col("__d").cast("int").alias("dist"),
    )
