"""Lloyd k-means over embedding columns (spherical / cosine flavor).

The data-mixing cluster step (cluster-then-select curation à la SemDeDup /
cluster-balanced sampling) the reference delegates to Faiss index training
(ref hub_ops/ann_search.py:36-53, ann_insert.py:24-43); here the train
loop is a sequence of Spark jobs — ONE map-side-combined hash aggregate
per iteration producing k·(dim+1) longs — and the model is k·dim doubles
broadcast back into the plan as kernel constants / literals.

Cosine is scale-invariant, so the spherical-k-means update (normalized
mean direction) and the plain mean produce IDENTICAL assignments — we
keep the raw mean and skip the normalize, which keeps the oracle SQL a
pure SUM/COUNT mirror.

Exact cross-engine parity (the round-4 integer-freeze discipline): each
component is frozen ONCE per iteration to ROUND(x·2^scale_bits) BIGINT,
so the per-cell sums are order-free exact int64 arithmetic in both
engines, and the new centroid component  s / (n·2^scale_bits)  is one
IEEE double division of exactly-representable integers — bit-identical in
Spark, Python and DuckDB. The only float surfaces are the freeze
(boundary risk measured like DSIR's) and the ROUND(cos, 6) argmax shared
with ivf_assign.

Scale story (100 TB): per iteration the corpus is scanned once, reduced
map-side to k rows of dim+1 longs (no shuffle of vectors, no skew — hash
aggregate, not a window), and k·dim doubles come back to the driver.
iters actions total, same as any distributed Lloyd implementation; the
assignment itself is shuffle-free (per-row argmax against broadcast
centroids).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from towhee_spark.functions.similarity import _ivf_cells_of, ivf_train
from towhee_spark.layout import collect_small


def _rebuild_cents(
    cents: list[tuple],
    rows: list,
    dim: int,
    scale: int,
) -> list[tuple]:
    """Lloyd update from the collected per-cell integer sums: new
    component = s_j / (n·scale) (exact-int division, see module doc); a
    cell that captured no vectors keeps its previous centroid, and a
    PER-COMPONENT NULL sum (every member NULL at that component — e.g.
    short arrays under non-ANSI element_at) keeps the old component —
    the exact granularity of the SQL oracle's per-component COALESCE
    (review finding: a per-cell-only rule crashed on None here while
    the oracle silently kept the component)."""
    by_cell = {r["cell"]: r for r in rows}
    out = []
    for cid, old in cents:
        r = by_cell.get(cid)
        if r is None or r["__n"] == 0:
            out.append((cid, list(old)))
        else:
            n = r["__n"]
            out.append((cid, [
                old[j] if r[f"__s{j}"] is None else r[f"__s{j}"] / (n * scale)
                for j in range(dim)
            ]))
    return out


def _ivf_sample_local(
    rows: list,
    k: int,
    id_type,
) -> list[tuple] | None:
    """ivf_train's md5-lowest-id sample replayed over the collected
    vector table: hash = int(md5(CAST(id AS STRING)).hexdigest()[:15],
    16) — the documented cross-engine identity of
    dedup.simhash_hash_expr(md5) — ordered (hash, id) ascending, head k,
    returned cid-ascending. Python str() matches Spark's CAST-to-string
    only for integral and string ids; any other id type (or a NULL id,
    which Spark's asc-nulls-first ordering would sample differently)
    returns None and the caller runs the distributed ivf_train."""
    import hashlib  # noqa: PLC0415

    from pyspark.sql import types as T  # noqa: PLC0415

    if not isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType,
                                T.LongType, T.StringType)):
        return None
    if any(cid is None for cid, _ in rows):
        return None
    if not rows:
        raise ValueError("ivf_train: empty index")
    hashed = sorted(
        ((int(hashlib.md5(str(cid).encode()).hexdigest()[:15], 16), cid, v)
         for cid, v in rows),
        key=lambda t: (t[0], t[1]))
    return sorted(((cid, list(v)) for _, cid, v in hashed[:k]),
                  key=lambda t: t[0])


def _kmeans_train_local(
    vals: list,
    cents: list[tuple],
    iters: int,
    dim: int,
    scale: int,
) -> tuple[bool, list[tuple] | None]:
    """Driver-side replay of the distributed Lloyd loop over a collected
    (small) vector table — the bpe_train / connected_components
    threshold convention. Replicates the impl="expr" iteration
    BIT-EXACTLY, op for op:

    * dot / norm = the same left-to-right fold order (per-component
      vectorized adds accumulate in element order — each element's
      scalar op sequence is identical to the interpreted evaluator's);
    * cos = one ``dot / (na·nb)`` division under the same
      ``(na>0) & (nb>0)`` guard; centroid norms via kernels.py_norm
      (the literal-inlining fold the expr plan itself uses);
    * ROUND(cos, 6) = Decimal(repr(x)) HALF_UP — Java's
      BigDecimal.valueOf(double) rounds the SAME shortest decimal repr,
      verified bit-equal to F.round on 20k+ boundary-adversarial samples
      (nextafter around every k·1e-6 + 5e-7);
    * argmax = first strict (1−cos6, cid) min over cid-ascending
      centroids == the expr path's array_sort-ascending head;
    * freeze = floor(|x·2^20| + 0.5)·sign — HALF_UP at 0 decimals
      wherever the +0.5 add is exact, int64 sums, and the SAME Python
      ``int / (n·scale)`` division _rebuild_cents performs. The add is
      NOT exact for |p| ≥ 2^52 (odd integers tie-to-even up) nor just
      below a k+0.5 boundary (p = 0.49999999999999994 sums to 1.0), so
      any component within one ulp of k+0.5 (an exact tie is fine) or
      past 2^52 is left to the distributed loop.

    Returns (False, None) on any shape the replica does not cover
    (ragged/NULL-component vectors, freeze boundaries, non-finite
    cosines, sums that could overflow int64) — the caller falls back to
    the distributed loop, whose semantics are authoritative for those
    edges."""
    import numpy as np  # noqa: PLC0415
    from decimal import ROUND_HALF_UP, Decimal  # noqa: PLC0415

    from towhee_spark.kernels import py_norm  # noqa: PLC0415

    if not vals:  # empty table: every round's aggregate is empty — the
        return True, list(cents)  # distributed loop would keep all cents
    for v in vals:
        if v is None or len(v) != dim or any(x is None for x in v):
            return False, None
    m = np.asarray(vals, dtype=np.float64)
    n_rows = len(vals)
    # row norms: acc + x*x in element order (norm_expr's fold)
    accn = np.zeros(n_rows)
    for j in range(dim):
        accn = accn + m[:, j] * m[:, j]
    na = np.sqrt(accn)
    # integer freeze (exact HALF_UP at 0 decimals, see docstring)
    p = m * float(scale)
    if not np.isfinite(p).all():
        return False, None
    ap = np.abs(p)
    half_off = np.abs(ap - np.floor(ap) - 0.5)
    if ((ap >= 2.0**52)
            | ((half_off > 0) & (half_off <= np.spacing(ap)))).any():
        return False, None
    fz = np.where(p >= 0, np.floor(p + 0.5), -np.floor(-p + 0.5))
    if float(np.abs(fz).max(initial=0.0)) * max(n_rows, 1) >= float(2**62):
        return False, None  # int64 sum could overflow; ANSI Spark would throw
    fz = fz.astype(np.int64)
    q6 = Decimal("1e-6")
    k = len(cents)
    for _ in range(iters):
        cmat = np.asarray([cv for _, cv in cents], dtype=np.float64)
        nb = np.asarray([py_norm(cv) for _, cv in cents])
        dot = np.zeros((n_rows, k))
        for j in range(dim):
            dot = dot + m[:, j:j + 1] * cmat[:, j][None, :]
        denom = na[:, None] * nb[None, :]
        ok = (na[:, None] > 0) & (nb[None, :] > 0)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(ok, dot / denom, 0.0)
        if not np.isfinite(cos).all():
            return False, None
        flat = cos.ravel()
        c6 = np.fromiter(
            (float(Decimal(repr(float(x))).quantize(q6, rounding=ROUND_HALF_UP))
             for x in flat),
            dtype=np.float64, count=flat.size).reshape(cos.shape)
        d = 1.0 - c6
        best = np.zeros(n_rows, dtype=np.int64)
        bestd = d[:, 0].copy()
        for c in range(1, k):
            better = d[:, c] < bestd  # strict: ties keep the lower cid
            bestd = np.where(better, d[:, c], bestd)
            best = np.where(better, c, best)
        new_cents = []
        for ci, (cid, old) in enumerate(cents):
            sel = best == ci
            n = int(sel.sum())
            if n == 0:
                new_cents.append((cid, list(old)))
            else:
                s = fz[sel].sum(axis=0)
                new_cents.append((cid, [
                    int(s[j]) / (n * scale) for j in range(dim)]))
        cents = new_cents
    return True, cents


def kmeans_train(
    index: DataFrame,
    k: int = 8,
    iters: int = 2,
    i_id: str = "vec_id",
    i_vec: str = "embedding",
    impl: str = "arrow",
    scale_bits: int = 20,
    collect_vectors: int = 100_000,
) -> list[tuple]:
    """Train Lloyd k-means: init = the ivf_train md5-lowest-id sample
    (centroid LABELS are those init vector ids, stable across updates),
    then ``iters`` rounds of argmax-ROUND(cos,6) assignment (cid-asc
    tie-break — exactly ivf_assign's rule) + integer-frozen mean update.
    Returns [(cid, [double]*dim), ...] cid-ascending; feed to
    kmeans_assign / ivf_topk(centroids=) to cluster once and reuse.

    Vector tables with ≤ ``collect_vectors`` rows (layout.collect_small)
    collect ONCE and the Lloyd loop replays driver-side (:func:`_kmeans_train_local` —
    bit-exact replica of the impl="expr" iteration; pytest pins
    local == distributed). Each distributed round was 2 jobs of pure
    latency on a 2k-row gate table — measured 1.50 s → 0.17 s for the
    2-iteration train at sf0.1. Past the cap (or on ragged/non-finite
    inputs the replica rejects) the unchanged distributed loop runs —
    one map-side-combined aggregate per round, the 100 TB shape.

    Sizing note: the probe collects up to ``collect_vectors`` full
    (id, vector) rows, so size it such that rows·dim·8 bytes stays well
    under ``spark.driver.maxResultSize`` (100k × dim 64 ≈ 51 MB; for
    dim ≥ 512 lower the cap, or pass 0 to always train distributed)."""
    if impl not in ("arrow", "expr"):
        raise ValueError(f"impl must be 'arrow' or 'expr', got {impl!r}")
    scale = 1 << scale_bits
    e = (
        index.select(
            F.col(i_id).alias("__id"),
            F.col(i_vec).cast("array<double>").alias("__v"),
        )
        .where(F.col("__v").isNotNull())
    )
    cents: list[tuple] | None = None
    if iters > 0:
        head = collect_small(e, collect_vectors)
        if head is not None:
            cents = _ivf_sample_local(
                [(r["__id"], r["__v"]) for r in head], k,
                index.schema[i_id].dataType)
            if cents is None:  # id type the md5 replica can't cast — one
                cents = ivf_train(index, i_id=i_id, i_vec=i_vec, nlist=k)
            dim = len(cents[0][1])
            done, local = _kmeans_train_local(
                [r["__v"] for r in head], cents, iters, dim, scale)
            if done:
                return local
    if cents is None:
        cents = ivf_train(index, i_id=i_id, i_vec=i_vec, nlist=k)
    dim = len(cents[0][1])
    # every Lloyd iteration re-reads the (id, vec) projection — cache it
    # for the loop's actions and release before returning (at 100 TB this
    # is the standard persist-the-training-frame pattern; all actions
    # happen inside this call, so the unpersist can't strand a consumer)
    if iters > 0:
        e = e.cache()
    id_type = index.schema[i_id].dataType
    sums = [
        F.sum(
            F.round(F.element_at("__v", j + 1) * F.lit(float(scale)), 0)
            .cast("long")
        ).alias(f"__s{j}")
        for j in range(dim)
    ]
    try:
        for _ in range(iters):
            cells_of = _ivf_cells_of(cents, impl, id_type)
            rows = (
                e.withColumn(
                    "cell",
                    F.element_at(cells_of(F.col("__v"), 1), 1).getField("c"),
                )
                .groupBy("cell")
                .agg(F.count(F.lit(1)).alias("__n"), *sums)
                .collect()
            )
            cents = _rebuild_cents(cents, rows, dim, scale)
    finally:
        if iters > 0:
            e.unpersist()
    return cents


def kmeans_assign(
    index: DataFrame,
    centroids: list[tuple],
    i_id: str = "vec_id",
    i_vec: str = "embedding",
    impl: str = "arrow",
    score_col: str | None = None,
) -> DataFrame:
    """Assign every vector to its trained cluster: original columns + a
    ``cell`` column (the owning centroid's label) and, when ``score_col``
    is set, the ROUND(cos, 6) similarity to that centroid — the per-row
    outlier / mixing-weight signal. Action-free (centroids are REQUIRED —
    the lsh_topk dim= convention); NULL vectors get NULL cell/score."""
    clash = {"cell", "__best"} & set(index.columns)
    if score_col is not None and score_col in index.columns:
        clash.add(score_col)
    if clash:
        raise ValueError(
            f"kmeans_assign: index already has column(s) {sorted(clash)} — "
            "rename them first")
    from towhee_spark.layout import fan_out  # noqa: PLC0415

    cells_of = _ivf_cells_of(centroids, impl, index.schema[i_id].dataType)
    # per-row cell folds evaluate in the scan stage (layout.fan_out note)
    index = fan_out(index)
    vec = F.col(i_vec)
    if dict(index.dtypes).get(i_vec) != "array<double>":
        vec = vec.cast("array<double>")
    if score_col is None:
        return index.withColumn(
            "cell", F.element_at(cells_of(vec, 1), 1).getField("c"))
    # cell AND score both come from the same k-cosine fold: route it
    # through ONE explode_outer generator so the fold runs once per row
    # (two sibling Column exprs would re-run it — the interpreted-HOF
    # re-evaluation trap; explode_outer also keeps NULL-vector rows,
    # which get NULL cell/score)
    return (
        index.select("*", F.explode_outer(cells_of(vec, 1)).alias("__best"))
        .select(
            *index.columns,
            F.col("__best.c").alias("cell"),
            # cells_of sorts by d = 1 - ROUND(cos, 6); invert to the cosine
            F.round(F.lit(1.0) - F.col("__best.d"), 6).alias(score_col),
        )
    )


def pool_embeddings(
    index: DataFrame,
    by: str,
    i_vec: str = "embedding",
    dim: int | None = None,
    mode: str = "mean",
    quantize_bits: int | None = None,
    out_col: str = "pooled",
    validate: bool = True,
) -> DataFrame:
    """Aggregate per-chunk/per-turn vectors into one vector per ``by``
    group (chunk→document embeddings, turn→conversation features):
    (by, out_col:array<double>, n_vecs).

    ONE map-side-combined hash aggregate of ``dim`` per-component
    aggregates — never a posexplode of the corpus (which would shuffle
    n·dim rows). ``dim`` is REQUIRED (the lsh_topk action-free-plan
    convention). Modes: 'mean', 'sum', 'max'. NULL vectors are ignored;
    a group with only NULLs disappears (no rows reach the aggregate).

    Inputs must be FIXED-DIM arrays of exactly ``dim`` non-NULL
    components: 'mean' divides each component sum by the group ROW count
    (n_vecs) while F.sum skips NULLs, so a NULL component would silently
    deflate that component's mean (the DuckDB oracle mirrors this, but it
    is not a useful semantic). ``validate=True`` (default) weaves an
    ``assert_true(size(v) = dim)`` guard into the plan — action-free at
    build time, loud at execution — catching ragged/short vectors;
    per-component NULLs inside a right-sized array are NOT checked (an
    exists() HOF per row — interpreted, too hot for production).

    Float reproducibility: 'max' is order-free exactly; 'mean'/'sum'
    over doubles are order-DEPENDENT at the 1e-16 level under partial
    aggregation (fine in production). ``quantize_bits=b`` switches
    mean/sum to the kmeans_train freeze discipline — components frozen
    to ROUND(x·2^b) BIGINT, exact order-free int64 sums, one IEEE
    division back — bit-identical across runs and engines (the gate
    path)."""
    if dim is None:
        raise ValueError("pool_embeddings: dim= is required "
                         "(plan construction is action-free)")
    if mode not in ("mean", "sum", "max"):
        raise ValueError(f"pool_embeddings: unknown mode {mode!r}")
    if mode == "max" and quantize_bits is not None:
        raise ValueError("pool_embeddings: max is already exact — "
                         "quantize_bits only applies to mean/sum")
    v = F.col(i_vec).cast("array<double>")
    base = index.select(F.col(by), v.alias("__v")).where(F.col("__v").isNotNull())
    if validate:
        # assert_true returns NULL when the predicate holds and throws at
        # execution otherwise; weaving it through a when() keeps it in the
        # plan (a free-standing column would be pruned by Catalyst).
        guard = F.assert_true(
            F.size("__v") == F.lit(dim),
            F.concat(F.lit(f"pool_embeddings: ragged input — size({i_vec}) "
                           f"!= dim={dim}; pass fixed-dim vectors or "
                           f"validate=False"),
                     F.lit(" (got size "), F.size("__v"), F.lit(")")))
        base = base.select(
            by, F.when(guard.isNull(), F.col("__v")).alias("__v"))
    comps = [F.element_at("__v", j + 1) for j in range(dim)]
    if mode == "max":
        aggs = [F.max(c).alias(f"__a{j}") for j, c in enumerate(comps)]
    elif quantize_bits is None:
        aggs = [F.sum(c).alias(f"__a{j}") for j, c in enumerate(comps)]
    else:
        scale = float(1 << quantize_bits)
        aggs = [
            F.sum(F.round(c * F.lit(scale), 0).cast("long")).alias(f"__a{j}")
            for j, c in enumerate(comps)
        ]
    g = base.groupBy(by).agg(F.count(F.lit(1)).alias("n_vecs"), *aggs)
    if mode == "max" or (mode == "sum" and quantize_bits is None):
        vals = [F.col(f"__a{j}") for j in range(dim)]
    elif mode == "sum":
        vals = [F.col(f"__a{j}") / F.lit(float(1 << quantize_bits))
                for j in range(dim)]
    elif quantize_bits is None:
        vals = [F.col(f"__a{j}") / F.col("n_vecs") for j in range(dim)]
    else:
        # exact-int mean: one IEEE division of exactly-representable ints
        vals = [F.col(f"__a{j}")
                / (F.col("n_vecs") * F.lit(1 << quantize_bits))
                for j in range(dim)]
    return g.select(by, F.array(*vals).alias(out_col), "n_vecs")
