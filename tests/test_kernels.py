"""Arrow kernel parity vs the single-node numpy oracle (np.allclose per
BASELINE.json) + native-expression kernels."""

import pathlib

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from towhee_spark.kernels import (
    _list_array_to_matrix,
    _mat_to_list_array,
    cosine_expr,
    dot_expr,
    embed_text_udf,
    embed_tokens_np,
    hashed_bow_expr,
    hyperplane_bucket_kernel,
    np_normalize,
    pq_codes_kernel,
    worker_singleton,
)
from towhee_spark.schema import TRANSCRIPT_SCHEMA
from towhee_spark.synth import transcripts_pdf


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = transcripts_pdf(20, seed=11)
    return pdf, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)


def test_embed_udf_allclose_oracle(corpus):
    pdf, df = corpus
    got = (
        df.select("conv_id", "turn_idx", embed_text_udf(dim=16)(F.col("text")).alias("emb"))
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    srt = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    exp = embed_tokens_np(srt.text.fillna("").tolist(), dim=16)
    got_mat = np.stack([np.asarray(v, dtype="float32") for v in got.emb])
    assert np.allclose(got_mat, exp, atol=1e-6)


def test_embed_unit_norm_or_zero(corpus):
    _, df = corpus
    rows = df.select(embed_text_udf(dim=16)(F.col("text")).alias("emb")).collect()
    for r in rows:
        n = np.linalg.norm(r.emb)
        assert abs(n - 1.0) < 1e-5 or n == 0.0


def test_native_bow_properties(spark):
    """Native xxhash64 BoW: deterministic, unit-norm, word-order-insensitive,
    token-sensitive."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta delta"), (4, "")],
        "id long, text string",
    )
    out = {r.id: np.array(r.emb) for r in
           df.select("id", hashed_bow_expr("text", dim=16).alias("emb")).collect()}
    assert np.allclose(out[1], out[2])          # bag semantics
    assert not np.allclose(out[1], out[3])      # content-sensitive
    assert np.allclose(np.linalg.norm(out[1]), 1.0, atol=1e-6)
    assert np.allclose(out[4], np.zeros(16))    # empty text → zero vector
    again = {r.id: np.array(r.emb) for r in
             df.select("id", hashed_bow_expr("text", dim=16).alias("emb")).collect()}
    assert np.allclose(out[1], again[1])


def test_cosine_dot_exprs(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [2.0, 4.0]), ([0.0, 0.0], [1.0, 1.0])],
        "a array<double>, b array<double>",
    )
    rows = df.select(
        cosine_expr(F.col("a"), F.col("b")).alias("cos"),
        dot_expr(F.col("a"), F.col("b")).alias("dot"),
    ).collect()
    assert abs(rows[0].cos - 0.0) < 1e-9 and rows[0].dot == 0.0
    assert abs(rows[1].cos - 1.0) < 1e-9 and rows[1].dot == 10.0
    assert rows[2].cos == 0.0  # zero-vector guard


def test_np_normalize(spark):
    df = spark.createDataFrame([([3.0, 4.0],), ([0.0, 0.0],)], "v array<float>")
    rows = df.select(np_normalize(F.col("v")).alias("n")).collect()
    assert np.allclose(rows[0].n, [0.6, 0.8])
    assert np.allclose(rows[1].n, [0.0, 0.0])


def test_np_normalize_ragged_batch(spark):
    """Mixed widths + null + empty in ONE Arrow batch exercises the
    segmented reduceat fallback: each vector normalizes independently,
    nulls and empties pass through unchanged."""
    df = spark.createDataFrame(
        [([3.0, 4.0],), ([1.0, 2.0, 2.0],), (None,), ([],), ([0.0, 0.0],),
         ([5.0],)],
        "v array<float>",
    ).coalesce(1)
    rows = df.select(np_normalize(F.col("v")).alias("n")).collect()
    assert np.allclose(rows[0].n, [0.6, 0.8])
    assert np.allclose(rows[1].n, [1 / 3, 2 / 3, 2 / 3])
    assert rows[2].n is None
    assert list(rows[3].n) == []
    assert np.allclose(rows[4].n, [0.0, 0.0])  # zero norm: unchanged
    assert np.allclose(rows[5].n, [1.0])


def test_worker_singleton_caches():
    calls = []
    f1 = worker_singleton("k1", lambda: calls.append(1) or "obj")
    f2 = worker_singleton("k1", lambda: calls.append(1) or "obj2")
    assert f1 == f2 == "obj" and len(calls) == 1


def test_embed_arrow_fast_path_matches_loop():
    """The Arrow dictionary-encoded tokenize path must equal the per-token
    loop bit-for-bit, including empty/whitespace/None/NaN rows."""
    import numpy as np

    from towhee_spark.kernels import _embed_tokens_np_loop, embed_tokens_np

    rng = np.random.default_rng(3)
    vocab = [f"w{i}" for i in range(80)] + ["héllo", "日本語", "a-b.c"]
    texts = [" ".join(rng.choice(vocab, rng.integers(0, 20))) for _ in range(500)]
    texts += ["", "  ", " x ", "x  y", None, float("nan")]
    fast = embed_tokens_np(texts, 32)
    loop = _embed_tokens_np_loop(texts, 32)
    assert fast.shape == loop.shape
    assert np.array_equal(fast, loop)


# ---------------------------------------------------------------------------
# Arrow list-layout helpers (the read/write halves every batch kernel uses)

def _f32_lists(rows):
    return pa.array(rows, type=pa.list_(pa.float32()))


def test_list_array_to_matrix_empty_and_all_null():
    m, valid = _list_array_to_matrix(_f32_lists([]), "k")
    assert m.shape == (0, 0) and valid.shape == (0,)
    m, valid = _list_array_to_matrix(_f32_lists([None, None]), "k")
    assert m.shape == (0, 0) and valid.tolist() == [False, False]


def test_list_array_to_matrix_null_row_backed_by_values():
    """A null row whose offsets still span a non-empty sub-list must be
    skipped by the offsets walk, not read as data."""
    arr = pa.ListArray.from_arrays(
        pa.array([0, 2, 4, 6], type=pa.int32()),
        pa.array([1.0, 2.0, 3.0, 4.0, 5.0, 6.0]),
        mask=pa.array([False, True, False]))
    m, valid = _list_array_to_matrix(arr, "k")
    assert valid.tolist() == [True, False, True]
    assert m.tolist() == [[1.0, 2.0], [5.0, 6.0]]


def test_list_array_to_matrix_sliced_and_null_elements():
    """A sliced batch (non-zero offset) reads its own rows; a null element
    becomes NaN and a NaN element stays NaN."""
    arr = _f32_lists([[9.0, 9.0], [1.0, None], None, [float("nan"), 4.0],
                      [7.0, 7.0]]).slice(1, 3)
    m, valid = _list_array_to_matrix(arr, "k")
    assert valid.tolist() == [True, False, True]
    assert m.dtype == np.float64 and m.shape == (2, 2)
    assert m[0, 0] == 1.0 and np.isnan(m[0, 1])
    assert np.isnan(m[1, 0]) and m[1, 1] == 4.0


def test_list_array_to_matrix_ragged_raises_naming_kernel():
    with pytest.raises(ValueError, match="my_kernel"):
        _list_array_to_matrix(_f32_lists([[1.0, 2.0], None, [3.0]]),
                              "my_kernel")


def test_mat_to_list_array_spreads_rows_over_valid_slots():
    mat = np.array([[1, 2], [3, 4]], dtype=np.int64)
    out = _mat_to_list_array(mat, pa.int64(), np.array([False, True, False, True]))
    assert out.to_pylist() == [None, [1, 2], None, [3, 4]]
    assert _mat_to_list_array(mat, pa.int64()).to_pylist() == [[1, 2], [3, 4]]
    empty = _mat_to_list_array(np.empty((0, 0)), pa.float64(), np.zeros(2, bool))
    assert empty.to_pylist() == [None, None]
    assert len(_mat_to_list_array(np.empty((0, 3)), pa.float32())) == 0


def test_matrix_kernels_reject_ragged_batches_by_name():
    ragged = _f32_lists([[1.0, 0.0], [1.0]])
    with pytest.raises(ValueError, match="hyperplane_bucket_kernel"):
        hyperplane_bucket_kernel(np.ones((2, 3)), 1, 3).func(ragged)
    with pytest.raises(ValueError, match="pq_codes_kernel"):
        pq_codes_kernel([np.eye(2)], 2).func(ragged)


def test_np_normalize_kernel_on_sliced_batch():
    out = np_normalize.func(
        _f32_lists([[9.0], [3.0, 4.0], None, [], [0.0, 0.0]]).slice(1))
    rows = out.to_pylist()
    assert np.allclose(rows[0], [0.6, 0.8])
    assert rows[1] is None and rows[2] == [] and rows[3] == [0.0, 0.0]


def test_np_normalize_bits_independent_of_batch(spark):
    """The same vector normalizes to the same float32 bits whether its
    Arrow batch is uniform or holds a NULL and a vector of another width."""
    rng = np.random.default_rng(1)
    vecs = [rng.standard_normal(64).astype(np.float32).tolist()
            for _ in range(8)]
    rows = [(i, v) for i, v in enumerate(vecs)]
    schema = "id int, v array<float>"
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "10000")  # every row of a partition in one batch
    try:
        def normalized(data):
            df = spark.createDataFrame(data, schema).coalesce(1)
            return {r.id: r.n for r in
                    df.select("id", np_normalize(F.col("v")).alias("n"))
                    .collect()}

        uniform = normalized(rows)
        ragged = normalized(rows + [(100, None), (101, [3.0, 4.0])])
    finally:
        spark.conf.set(key, old)
    assert ragged[100] is None and np.allclose(ragged[101], [0.6, 0.8])
    for i in range(len(vecs)):
        assert uniform[i] == ragged[i], i


def test_batch_kernels_use_only_the_arrow_idiom():
    """The batch kernels are arrow_udfs over the shared list-array helpers;
    the per-row pandas round trip must not come back."""
    root = pathlib.Path(__file__).resolve().parents[1] / "towhee_spark"
    for rel in ("kernels.py", "functions/tokenize.py"):
        src = (root / rel).read_text()
        for banned in ("pandas_udf", "pd.Series(list("):
            assert banned not in src, f"{rel} contains {banned!r}"
