"""Vectorized Arrow feature kernels (the engine's hot path).

Replaces Towhee's model-bearing operators (e.g. sentence_embedding.*,
towhee/runtime/hub_ops/sentence_embedding.py:26) with batched
``arrow_udf`` kernels: the Python boundary is crossed once per Arrow
batch, never per row, and heavy state (a model) is cached once per
executor Python worker — mirroring Towhee's OperatorPool reuse
(towhee/runtime/operator_manager/operator_pool.py:56-126) with a
module-level cache.

Every batch kernel has one shape: Arrow in, numpy math, Arrow out.
Vector columns are read through ``_list_array_to_matrix`` (one flat
values buffer gathered by the array's own offsets, plus a validity
mask) and written through ``_mat_to_list_array`` (one flat buffer plus
arithmetic offsets), so no per-row Python object exists on either side.

The test/bench kernel is a deterministic hashed bag-of-tokens embedding:
pure numpy, reproducible bit-for-bit by the single-node oracle
(np.allclose parity per BASELINE.json).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

# ---------------------------------------------------------------------------
# Per-worker operator cache (≈ Towhee OperatorPool Shareable semantics)
_WORKER_CACHE: dict[str, object] = {}


def worker_singleton(key: str, factory):
    """One instance per executor Python worker, created lazily — the Spark
    analogue of SharedType.Shareable (towhee/operator/base.py:20-29)."""
    if key not in _WORKER_CACHE:
        _WORKER_CACHE[key] = factory()
    return _WORKER_CACHE[key]


# ---------------------------------------------------------------------------
# Deterministic hashed bag-of-tokens embedding

def _scatter_signs(out: np.ndarray, row_ids: np.ndarray, buckets: np.ndarray,
                   signs: np.ndarray) -> np.ndarray:
    """Accumulate ±1 signs into out[row, bucket] via flat-index bincount —
    measured 5× over np.add.at at 450k tokens (add.at takes a per-element
    C fancy-indexing path; bincount is a single weighted histogram).
    Bit-identical regardless of summation order: the addends are ±1.0, so
    every partial sum is an exact small integer in float64."""
    n, dim = out.shape
    idx = row_ids * dim + buckets
    out += np.bincount(idx, weights=signs, minlength=n * dim).reshape(n, dim)
    return out


def embed_tokens_np(texts: "Sequence[str]", dim: int = 64) -> np.ndarray:
    """Hashed bag-of-tokens embedding, L2-normalized. (n, dim) float32.

    token → bucket h % dim with sign from bit 31 (feature-hashing trick).
    Single-node oracle AND the Arrow kernel body — the same function runs on
    both sides of parity.

    Hot path: tokenize in Arrow C++ (utf8_split_whitespace), then
    dictionary-encode the flat token array so crc32 runs once per UNIQUE
    token and fans back out through the indices — measured 2.6× over the
    per-token map() loop on a 500-word vocab (the loop survives as the
    no-pyarrow fallback and the differential-test oracle)."""
    try:
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.compute as pc  # noqa: PLC0415
    except ImportError:
        return _embed_tokens_np_loop(texts, dim)
    import zlib  # noqa: PLC0415

    n = len(texts)
    out = np.zeros((n, dim), dtype=np.float64)
    if n:
        arr = pa.array([str(t) if t else "" for t in texts], type=pa.string())
        toks = pc.utf8_split_whitespace(arr)
        counts = np.asarray(pc.list_value_length(toks).fill_null(0), dtype=np.int64)
        flat = pc.list_flatten(toks)
        if len(flat):
            row_ids = np.repeat(np.arange(n), counts)
            # Arrow keeps boundary empties ("" / " x " → ['', 'x', '']);
            # str.split() semantics drop them
            keep = np.asarray(pc.utf8_length(flat), dtype=np.int64) > 0
            dic = flat.dictionary_encode()
            uh = np.fromiter(
                (zlib.crc32(u.as_py().encode("utf-8")) for u in dic.dictionary),
                dtype=np.uint32,
                count=len(dic.dictionary),
            )
            hs = uh[np.asarray(dic.indices, dtype=np.int64)]
            row_ids, hs = row_ids[keep], hs[keep]
            signs = np.where(hs < 0x80000000, 1.0, -1.0)
            _scatter_signs(out, row_ids, (hs % dim).astype(np.int64), signs)
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    np.divide(out, norms, out=out, where=norms > 0)
    return out.astype(np.float32)


def _embed_tokens_np_loop(texts: "Sequence[str]", dim: int = 64) -> np.ndarray:
    """Reference implementation (per-token crc32 through map()); the Arrow
    fast path must match it bit-for-bit (tests/test_kernels.py)."""
    import zlib  # noqa: PLC0415

    n = len(texts)
    out = np.zeros((n, dim), dtype=np.float64)
    toks_per_row = [str(t).split() if t else [] for t in texts]
    counts = np.fromiter((len(t) for t in toks_per_row), dtype=np.int64, count=n)
    if counts.sum():
        row_ids = np.repeat(np.arange(n), counts)
        flat = [tok.encode("utf-8") for toks in toks_per_row for tok in toks]
        hs = np.fromiter(map(zlib.crc32, flat), dtype=np.uint32, count=len(flat))
        signs = np.where(hs < 0x80000000, 1.0, -1.0)
        np.add.at(out, (row_ids, hs % dim), signs)
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    np.divide(out, norms, out=out, where=norms > 0)
    return out.astype(np.float32)


def hashed_bow_expr(text_col, dim: int = 32):
    """Fully-native hashed bag-of-tokens embedding (xxhash64 variant):
    split → per-token hash → bucket/sign → dense accumulate → L2 normalize
    as Column expressions — useful where Python workers are unavailable.

    Measured caveat: Spark evaluates higher-order-function lambdas
    interpreted (not codegen), so at O(tokens × dim) terms this is ~6x
    SLOWER than the Arrow kernel (47s vs 7.4s on 1.8M rows, dim=32,
    local[32]). The Arrow `embed_text_udf` is the hot path; this exists for
    completeness and tiny dims."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.filter(F.split(F.coalesce(c, F.lit("")), r"\s+"), lambda t: t != "")
    hs = F.transform(toks, lambda t: F.xxhash64(t))
    zeros = F.array_repeat(F.lit(0.0), dim)
    acc = F.aggregate(
        hs,
        zeros,
        lambda a, h: F.transform(
            a,
            lambda v, i: v
            + F.when(
                F.pmod(h, F.lit(dim)) == i.cast("bigint"),
                F.when(h >= 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
            ).otherwise(F.lit(0.0)),
        ),
    )
    norm = F.sqrt(F.aggregate(acc, F.lit(0.0), lambda s, v: s + v * v))
    return F.when(
        norm > 0, F.transform(acc, lambda v: (v / norm).cast("float"))
    ).otherwise(F.transform(acc, lambda v: v.cast("float")))


def embed_tokens_md5_np(texts: "Sequence[str]", dim: int = 32) -> np.ndarray:
    """Oracle-parity hashed bag-of-tokens embedding, L2-normalized, float64.

    Same feature-hashing semantics as embed_tokens_np but with a token hash
    that an ANSI-SQL engine can reproduce exactly:

        h      = int(md5(token).hexdigest()[:15], 16)   # 60-bit, positive
        bucket = h % dim
        sign   = +1 if (h >> 59) & 1 == 0 else -1

    (DuckDB mirror: ``('0x' || substr(md5(tok),1,15))::BIGINT``.) Bucket sums
    are exact integers, the L2 norm is sqrt of an exact integer, so the
    normalized components are bit-identical doubles across engines. crc32
    (`embed_tokens_np`) stays the hot-path hash; this variant exists so the
    embedding is verifiable by the cross-engine correctness gate."""
    import hashlib  # noqa: PLC0415

    n = len(texts)
    out = np.zeros((n, dim), dtype=np.float64)
    toks_per_row = [str(t).split() if t else [] for t in texts]
    counts = np.fromiter((len(t) for t in toks_per_row), dtype=np.int64, count=n)
    if counts.sum():
        row_ids = np.repeat(np.arange(n), counts)
        hs = np.fromiter(
            (
                int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
                for toks in toks_per_row
                for tok in toks
            ),
            dtype=np.int64,
            count=int(counts.sum()),
        )
        signs = np.where((hs >> 59) & 1 == 0, 1.0, -1.0)
        _scatter_signs(out, row_ids, hs % dim, signs)
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    np.divide(out, norms, out=out, where=norms > 0)
    return out


def _split_hash_scatter(arr, dim: int, hash_unique) -> np.ndarray:
    """Shared Arrow-native kernel core: tokenize a pyarrow string array in
    Arrow C++, dictionary-encode the flat token stream so the hash runs
    once per UNIQUE token (Zipfian win), scatter ±1 signs, L2-normalize.
    ``hash_unique(list[str]) -> (np.int64 hashes, np.float64 signs,
    np.int64 buckets)`` supplies the hash family. Returns (n, dim)
    float64."""
    import pyarrow.compute as pc  # noqa: PLC0415

    if isinstance(arr, pa.ChunkedArray):  # dictionary_encode needs one chunk
        arr = arr.combine_chunks()
    n = len(arr)
    out = np.zeros((n, dim), dtype=np.float64)
    if n:
        toks = pc.utf8_split_whitespace(pc.fill_null(arr, ""))
        counts = np.asarray(pc.list_value_length(toks).fill_null(0),
                            dtype=np.int64)
        flat = pc.list_flatten(toks)
        if len(flat):
            row_ids = np.repeat(np.arange(n), counts)
            # Arrow keeps boundary empties ("" / " x " → ['', 'x', '']);
            # str.split() semantics drop them
            keep = np.asarray(pc.utf8_length(flat), dtype=np.int64) > 0
            dic = flat.dictionary_encode()
            buckets_u, signs_u = hash_unique(
                [u.as_py() for u in dic.dictionary], dim)
            idx = np.asarray(dic.indices, dtype=np.int64)
            row_ids, idx = row_ids[keep], idx[keep]
            _scatter_signs(out, row_ids, buckets_u[idx], signs_u[idx])
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    np.divide(out, norms, out=out, where=norms > 0)
    return out


def _crc32_unique(tokens: list, dim: int):
    import zlib  # noqa: PLC0415

    uh = np.fromiter((zlib.crc32(t.encode("utf-8")) for t in tokens),
                     dtype=np.uint32, count=len(tokens))
    return ((uh % dim).astype(np.int64),
            np.where(uh < 0x80000000, 1.0, -1.0))


def _md5_unique(tokens: list, dim: int):
    import hashlib  # noqa: PLC0415

    hs = np.fromiter(
        (int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
         for t in tokens),
        dtype=np.int64, count=len(tokens))
    return ((hs % dim).astype(np.int64),
            np.where((hs >> 59) & 1 == 0, 1.0, -1.0))


# ---------------------------------------------------------------------------
# Arrow list layout <-> numpy: the read and write halves every batch
# kernel shares (flat buffers and offsets, never per-row Python objects)

def _list_array_parts(arr) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Arrow list array of n rows → (flat values, (n+1,) int64 offsets
    into them, (n,) bool validity). Built on the array's OWN offsets, so
    a sliced batch (non-zero ``offset``) and null rows backed by
    non-empty sub-lists read correctly — ``ListArray.values`` ignores
    both. Null elements become NaN, as ``np.asarray(rows, float64)``
    makes them."""
    offsets = np.asarray(arr.offsets, dtype=np.int64)
    lo = int(offsets[0])
    flat = arr.values.slice(lo, int(offsets[-1]) - lo).to_numpy(
        zero_copy_only=False)
    return flat, offsets - lo, np.asarray(arr.is_valid(), dtype=bool)


def _list_array_to_matrix(arr, who: str) -> tuple[np.ndarray, np.ndarray]:
    """Arrow list array of n vectors → ((k, dim) float64 matrix of its k
    non-null rows, (n,) bool validity). Non-null rows of unequal width
    raise ValueError naming the kernel ``who``."""
    flat, offsets, valid = _list_array_parts(arr)
    starts, widths = offsets[:-1][valid], np.diff(offsets)[valid]
    if len(widths) and (widths != widths[0]).any():
        raise ValueError(f"{who}: vectors in one batch must share one "
                         f"width, got widths {sorted(set(widths.tolist()))}")
    dim = int(widths[0]) if len(widths) else 0
    mat = flat[starts[:, None] + np.arange(dim)]
    return mat.astype(np.float64, copy=False), valid


def _row_offsets(valid: np.ndarray, width: int) -> np.ndarray:
    """(n+1,) offsets of n rows that hold ``width`` values each when
    valid and none when null."""
    return np.concatenate(([0], np.cumsum(valid * width)))


def _list_array(offsets: np.ndarray, values: pa.Array,
                valid: "np.ndarray | None" = None) -> pa.ListArray:
    """Flat ``values`` + (n+1,) offsets → list array; rows where
    ``valid`` is False are null."""
    mask = None if valid is None or valid.all() else pa.array(~valid)
    return pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()),
                                    values, mask=mask)


def _mat_to_list_array(mat: np.ndarray, pa_type,
                       valid: "np.ndarray | None" = None) -> pa.ListArray:
    """(k, dim) matrix → pyarrow list array ZERO-COPY: one flat values
    buffer + arithmetic offsets — no per-row Python objects. ``valid``
    ((n,) bool with k True) spreads the k rows over n slots and makes
    the rest null; without it every row is valid."""
    k, dim = mat.shape
    if valid is None:
        valid = np.ones(k, dtype=bool)
    return _list_array(_row_offsets(valid, dim),
                       pa.array(mat.ravel(), type=pa_type), valid)


def embed_text_parity_udf(dim: int = 32):
    """Arrow-native UDF for the md5-parity embedding: text → array<double>.
    Used by the gated embed_text query so DuckDB can verify every
    component. Same math as embed_tokens_md5_np (pytest-pinned) with the
    Arrow fast path: C++ tokenize, md5 once per UNIQUE token
    (dictionary-encoded — the crc32 kernel's Zipfian win, newly applied
    to the parity hash), zero-copy list return."""

    @F.arrow_udf(T.ArrayType(T.DoubleType()))
    def embed(texts: pa.Array) -> pa.Array:
        mat = _split_hash_scatter(texts, dim, _md5_unique)
        return _mat_to_list_array(mat, pa.float64())

    return embed


def embed_text_udf(dim: int = 64):
    """Arrow-native batched UDF: text → array<float> embedding. The
    strings never materialize as Python/pandas objects (pa.Array in),
    and the result is one flat float buffer + offsets out — measured
    ~1.9 s → ~1.2 s for the flagship's 6.17M-turn embed stage vs the
    per-row pandas return path. Bit-identical to embed_tokens_np
    (differential-tested)."""

    @F.arrow_udf(T.ArrayType(T.FloatType()))
    def embed(texts: pa.Array) -> pa.Array:
        mat = _split_hash_scatter(texts, dim, _crc32_unique)
        return _mat_to_list_array(mat.astype(np.float32), pa.float32())

    return embed


# ---------------------------------------------------------------------------
# numpy utility kernels (Towhee towhee.np_normalize, hub_ops/utils.py:23)

def centroid_cells_kernel(cmat: np.ndarray, cids: np.ndarray, n: int, id_type):
    """Arrow kernel factory for IVF cell assignment: vector column →
    array<struct<d, c>> of the ``n`` nearest centroids by
    (ROUND(cos, 6) DESC, cid ASC) — the same (d = 1 − cos6, c) structs the
    expr path sorts, so similarity.ivf_topk can swap impls freely. ONE
    float64 matmul (batch, dim) @ (dim, nlist) per Arrow batch.

    ``cids`` MUST be in ascending order: tie-break falls out of the stable
    argsort over cid-ordered columns."""
    order_chk = np.argsort(cids, kind="stable")
    if not np.array_equal(order_chk, np.arange(len(cids))):
        raise ValueError("centroid_cells_kernel: cids must be ascending")
    cn = cmat / np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-300)

    out_t = T.ArrayType(T.StructType([
        T.StructField("d", T.DoubleType()), T.StructField("c", id_type)]))

    out_pa, c_type = to_arrow_type(out_t), to_arrow_type(id_type)

    @F.arrow_udf(out_t)
    def cells(vecs: pa.Array) -> pa.Array:
        m, valid = _list_array_to_matrix(vecs, "centroid_cells_kernel")
        if not len(m):  # NULL vectors get no cells
            return pa.nulls(len(valid), out_pa)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        zero = norms[:, 0] == 0
        m = m / np.maximum(norms, 1e-300)
        # half-away-from-zero like F.round/DuckDB ROUND (scan_topk note)
        raw = m @ cn.T
        cos = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6, raw)
        cos[zero] = 0.0  # cosine_expr's zero-norm convention
        top = np.argsort(-cos, axis=1, kind="stable")[:, :n]
        d = 1.0 - np.take_along_axis(cos, top, axis=1)
        structs = pa.StructArray.from_arrays(
            [pa.array(d.ravel()), pa.array(cids[top].ravel(), type=c_type)],
            names=["d", "c"])
        return _list_array(_row_offsets(valid, top.shape[1]), structs, valid)

    return cells


def hyperplane_bucket_kernel(bank_T: np.ndarray, tables: int, block_planes: int):
    """Arrow kernel factory: array<float/double> column → array<long> of
    per-table hyperplane bucket ids. ONE float64 matmul
    (batch, dim) @ (dim, tables·block_planes) per Arrow batch, bits packed
    per table — the 100 TB signature path for embedding_neardup_pairs
    (Spark's array HOF lambdas are interpreted, ~15× slower per plane)."""
    weights = 1 << np.arange(block_planes, dtype=np.int64)

    @F.arrow_udf(T.ArrayType(T.LongType()))
    def buckets(vecs: pa.Array) -> pa.Array:
        # NULL vectors → NULL bucket arrays (posexplode emits no rows),
        # matching the expr path where a null array yields a null bucket
        # that joins nothing — instead of crashing the whole batch
        m, valid = _list_array_to_matrix(vecs, "hyperplane_bucket_kernel")
        if not len(m):
            return pa.nulls(len(valid), pa.list_(pa.int64()))
        bits = (m @ bank_T > 0).astype(np.int64)
        packed = bits.reshape(len(m), tables, block_planes) @ weights
        return _mat_to_list_array(packed, pa.int64(), valid)

    return buckets


@F.arrow_udf(T.ArrayType(T.FloatType()))
def np_normalize(vecs: pa.Array) -> pa.Array:
    """L2-normalize an array<float> column (Arrow-batched, float32). ONE
    path for every batch: the non-null rows are grouped by width and each
    group takes the (k, w) matrix normalize ``m / ‖m‖``. A row's norm
    does not depend on the other rows of its group, so a vector gets the
    same bits whichever rows share its Arrow batch. Zero and empty
    vectors pass through unchanged; NULL rows stay NULL."""
    flat, offsets, valid = _list_array_parts(vecs)
    out = flat.astype(np.float32)
    starts, widths = offsets[:-1], np.diff(offsets)
    for w in np.unique(widths[valid]):
        idx = starts[valid & (widths == w)][:, None] + np.arange(w)
        m = out[idx]
        n = np.linalg.norm(m, axis=1, keepdims=True)
        out[idx] = m / np.where(n > 0, n, 1.0)
    return _list_array(offsets, pa.array(out, type=pa.float32()), valid)


def norm_expr(a):
    """sqrt(Σ x²) left-fold — the EXACT norm subexpression cosine_expr
    uses, exposed so per-PAIR call sites can hoist it per ROW. Array HOF
    lambdas run in the interpreted evaluator (no codegen, no CSE), so a
    join that scores candidate pairs with bare cosine_expr re-folds both
    operands' norms per PAIR; attaching norm_expr as a column on each
    join input computes it once per input row and leaves only the dot
    fold per pair (~3× less interpreted work at dim 64). Bit-identical:
    same fold, same operand order."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def py_norm(v) -> float:
    """norm_expr replayed in Python for a CONSTANT vector (centroid /
    plane literals): float64 left-fold acc + x*x in element order, then
    sqrt — IEEE-identical to what the interpreted evaluator computes, so
    the norm of a literal array can be inlined as ONE double literal
    instead of a per-row aggregate fold."""
    acc = 0.0
    for x in v:
        acc += float(x) * float(x)
    import math  # noqa: PLC0415

    return math.sqrt(acc)


def cosine_with_norms_expr(a, b, na, nb):
    """cosine_expr with the two norms supplied by the caller (columns
    hoisted per row, or literals for constant vectors): same dot fold,
    same zero-norm guard, same single division — bit-identical values."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def cosine_expr(a, b):
    """Native (JVM, codegen) cosine similarity between two array<float/double>
    columns: zip_with dot product + aggregate norms — no Python at all.
    Prefer cosine_with_norms_expr + hoisted norm_expr columns when this
    is evaluated per candidate PAIR (see norm_expr)."""
    return cosine_with_norms_expr(a, b, norm_expr(a), norm_expr(b))


def dot_expr(a, b):
    """Native dot product of two array columns (left-fold, deterministic
    accumulation order — float-stable across engines)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


# ---------------------------------------------------------------------------
# per-row MinHash signatures (streaming-safe: no aggregation)

#: Mersenne prime for the affine MinHash family h_i = (a_i*h30 + b_i) mod P.
#: The base hash is folded to 30 bits FIRST so a_i*h30 + b_i < 2^62 stays
#: exact in int64 on every engine (numpy int64, Spark BIGINT under ANSI,
#: DuckDB BIGINT) — no 128-bit modmul anywhere.
MINHASH_P = (1 << 61) - 1
MINHASH_H30 = 1 << 30


def minhash_affine_params(num_hashes: int, seed: int = 11) -> list[tuple[int, int]]:
    """Seeded (a_i, b_i) pairs shared by the Arrow kernel, the native
    Column expression and the DuckDB oracle (the neardup_planes
    plan-constant pattern): a_i odd in [1, 2^31), b_i in [0, P)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 1 << 30, size=num_hashes, dtype=np.int64) * 2 + 1
    b = rng.integers(0, MINHASH_P, size=num_hashes, dtype=np.int64)
    return list(zip(a.tolist(), b.tolist()))


def _row_shingles(text: str, n: int) -> list[str]:
    """normalize_text + the dedup.shingles short-doc rule, per row: Java's
    \\s class is ASCII-only, so the mirror collapses [ \\t\\n\\x0b\\f\\r]
    exactly (NOT Python \\s, which also eats unicode spaces)."""
    import re  # noqa: PLC0415

    norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", ("" if text is None else str(text)).lower()).strip()
    toks = norm.split(" ")
    if len(toks) < n:
        return [norm]
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def minhash_sig_np(
    texts: "Sequence[str]", num_hashes: int = 32, n: int = 3,
    hash: str = "md5", seed: int = 11,
) -> np.ndarray:
    """(len(texts), num_hashes) int64 MinHash signatures: base hash per
    shingle (md5-60-bit for oracle parity, crc32 for the hot path), folded
    to 30 bits, then ONE vectorized affine map per shingle row and a
    column-min. One digest per shingle (not per shingle×hash) — the affine
    family does the seed fan-out."""
    import hashlib  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    params = minhash_affine_params(num_hashes, seed)
    a = np.array([p[0] for p in params], dtype=np.int64)[None, :]
    b = np.array([p[1] for p in params], dtype=np.int64)[None, :]
    out = np.empty((len(texts), num_hashes), dtype=np.int64)
    for r, t in enumerate(texts):
        sh = _row_shingles(t, n)
        if hash == "md5":
            base = np.fromiter(
                (int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) for s in sh),
                dtype=np.int64, count=len(sh),
            )
        elif hash == "crc32":
            base = np.fromiter(
                (zlib.crc32(s.encode("utf-8")) for s in sh),
                dtype=np.int64, count=len(sh),
            )
        else:
            raise ValueError(f"minhash_sig_np: unknown hash {hash!r}")
        h30 = (base % MINHASH_H30)[:, None]
        out[r] = ((a * h30 + b) % MINHASH_P).min(axis=0)
    return out


def minhash_sig_udf(num_hashes: int = 32, n: int = 3, hash: str = "md5",
                    seed: int = 11):
    """Batched Arrow UDF: text → array<bigint> signature (stateless — the
    streaming-safe signature path; dedup.minhash_signatures is the
    explode+groupBy batch equivalent of the same idea with a different
    hash family)."""

    @F.arrow_udf(T.ArrayType(T.LongType()))
    def sig(texts: pa.Array) -> pa.Array:
        # to_pylist: iterating a StringArray yields Arrow scalars, not str
        mat = minhash_sig_np(texts.to_pylist(), num_hashes, n, hash, seed)
        return _mat_to_list_array(mat, pa.int64())

    return sig


def pq_codes_kernel(cbs: "list[np.ndarray]", ds: int):
    """Arrow kernel factory for product-quantization encoding: vector
    column → array<int> of per-subspace codes. ``cbs[j]`` is the
    (ksub, ds) codebook of subspace j with rows in CODE order (code =
    row index + 1). Per Arrow batch and subspace: ONE float64 matmul of
    the sliced batch against the codebook, argmax of the 6-rounded
    `dot(v_j, c) - 0.5*||c||²` key (== argmin L2², the dot(v,v) term is
    constant per row); np.argmax returns the FIRST max index, which is
    exactly the code-ascending tie-break the expr path and the DuckDB
    oracle use."""
    m = len(cbs)
    mats = [np.asarray(cb, dtype=np.float64) for cb in cbs]
    halves = [0.5 * (mat * mat).sum(axis=1) for mat in mats]

    @F.arrow_udf(T.ArrayType(T.IntegerType()))
    def codes(vecs: pa.Array) -> pa.Array:
        x, valid = _list_array_to_matrix(vecs, "pq_codes_kernel")
        if not len(x):
            return pa.nulls(len(valid), pa.list_(pa.int32()))
        per_j = []
        for j in range(m):
            raw = x[:, j * ds:(j + 1) * ds] @ mats[j].T - halves[j]
            # half-away-from-zero like F.round/DuckDB ROUND
            key = np.copysign(np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6, raw)
            per_j.append(np.argmax(key, axis=1) + 1)  # codes are 1-based
        rows = np.stack(per_j, axis=1).astype(np.int32)
        return _mat_to_list_array(rows, pa.int32(), valid)

    return codes
