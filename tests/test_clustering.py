"""Lloyd k-means: impl parity, objective monotonicity, the empty-cell
keep-old rule, NULL handling, and the HOF single-evaluation plan shape."""
import pytest
from pyspark.sql import functions as F

from towhee_spark.functions import clustering

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embs(spark):
    return (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .cache()
    )


def test_arrow_expr_parity(embs):
    """The production arrow kernel and the oracle-mirror expr path must be
    bit-identical — same trained centroids, same assignments, same scores."""
    ce = clustering.kmeans_train(embs, k=4, iters=2, impl="expr")
    ca = clustering.kmeans_train(embs, k=4, iters=2, impl="arrow")
    assert ce == ca
    rows_e = sorted(
        clustering.kmeans_assign(embs, ce, impl="expr", score_col="s").select(
            "vec_id", "cell", "s").collect())
    rows_a = sorted(
        clustering.kmeans_assign(embs, ca, impl="arrow", score_col="s").select(
            "vec_id", "cell", "s").collect())
    assert rows_e == rows_a


def test_objective_monotone(embs):
    """Spherical-k-means objective (mean cosine to own centroid) never
    decreases across Lloyd iterations — cosine is scale-invariant, so the
    raw-mean update is the spherical update; the integer freeze perturbs
    each centroid component by <2^-20, hence the tiny tolerance."""
    prev = None
    for iters in (0, 1, 2, 3):
        c = clustering.kmeans_train(embs, k=4, iters=iters, impl="arrow")
        m = (
            clustering.kmeans_assign(embs, c, impl="arrow", score_col="s")
            .agg(F.avg("s")).first()[0]
        )
        if prev is not None:
            assert m >= prev - 1e-6, (iters, prev, m)
        prev = m


def test_centroids_change_and_labels_stable(embs):
    c0 = clustering.kmeans_train(embs, k=4, iters=0, impl="arrow")
    c2 = clustering.kmeans_train(embs, k=4, iters=2, impl="arrow")
    assert [cid for cid, _ in c0] == [cid for cid, _ in c2]  # stable labels
    assert c0 != c2  # the update actually moved the centroids


def test_rebuild_cents_empty_cell_keeps_old():
    """A cell that captured no vectors keeps its previous centroid — the
    rule the oracle's per-component COALESCE mirrors."""
    cents = [(1, [1.0, 0.0]), (2, [0.0, 1.0])]
    rows = [{"cell": 1, "__n": 2, "__s0": 2 << 20, "__s1": 2 << 20}]
    out = clustering._rebuild_cents(cents, rows, dim=2, scale=1 << 20)
    assert out == [(1, [1.0, 1.0]), (2, [0.0, 1.0])]


def test_assign_null_vector_gets_null_cell(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None)], "vec_id int, embedding array<double>")
    cents = [(7, [1.0, 0.0]), (9, [0.0, 1.0])]
    rows = {r.vec_id: r for r in clustering.kmeans_assign(
        df, cents, impl="expr", score_col="s").collect()}
    assert rows[1].cell == 7 and rows[1].s == 1.0
    assert rows[2].cell is None and rows[2].s is None
    # tie on ROUND(cos,6) → lowest cid wins (the shared ivf rule)
    tie = spark.createDataFrame(
        [(3, [1.0, 1.0])], "vec_id int, embedding array<double>")
    assert clustering.kmeans_assign(
        tie, cents, impl="expr").first().cell == 7


def test_assign_rejects_cell_collision(spark):
    df = spark.createDataFrame([(1, [1.0], "x")],
                               "vec_id int, embedding array<double>, cell string")
    with pytest.raises(ValueError, match="cell"):
        clustering.kmeans_assign(df, [(1, [1.0])])


def test_score_path_single_generator(embs):
    """score_col routes the k-cosine fold through ONE explode generator —
    exactly one Generate node, no duplicated fold subtree."""
    cents = clustering.kmeans_train(embs, k=4, iters=1, impl="expr")
    plan = clustering.kmeans_assign(
        embs, cents, impl="expr", score_col="s")._jdf.queryExecution(
    ).optimizedPlan().toString()
    assert plan.count("Generate") == 1


def test_pool_embeddings_modes(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, [3.0, 6.0]), (1, [5.0, -1.0]), (1, None)],
        "g int, embedding array<double>")
    mean = {r.g: (r.pooled, r.n_vecs) for r in clustering.pool_embeddings(
        df, "g", dim=2, mode="mean").collect()}
    assert mean[0] == ([2.0, 4.0], 2)
    assert mean[1] == ([5.0, -1.0], 1)  # NULL vector ignored
    mx = {r.g: r.pooled for r in clustering.pool_embeddings(
        df, "g", dim=2, mode="max").collect()}
    assert mx[0] == [3.0, 6.0]
    sm = {r.g: r.pooled for r in clustering.pool_embeddings(
        df, "g", dim=2, mode="sum", quantize_bits=20).collect()}
    assert sm[0] == [4.0, 8.0]
    # quantized mean matches plain mean on exactly-representable inputs
    qm = {r.g: r.pooled for r in clustering.pool_embeddings(
        df, "g", dim=2, mode="mean", quantize_bits=20).collect()}
    assert qm == {g: p for g, (p, _) in mean.items()}
    with pytest.raises(ValueError, match="dim="):
        clustering.pool_embeddings(df, "g")
    with pytest.raises(ValueError, match="max is already exact"):
        clustering.pool_embeddings(df, "g", dim=2, mode="max", quantize_bits=20)
    with pytest.raises(ValueError, match="unknown mode"):
        clustering.pool_embeddings(df, "g", dim=2, mode="median")


def test_quantize_roundtrip_error_bound(spark, embs):
    """Codes stay in [-127,127], reconstruction error <= scale/254 per
    component, NULL/zero vectors degrade to NULL codes."""
    from towhee_spark.functions import quantize

    qd = quantize.quantize_embeddings(embs)
    rows = qd.select("vec_id", "embedding", "q_codes", "q_scale").collect()
    assert rows
    for r in rows:
        assert r.q_codes is not None and r.q_scale > 0
        assert all(-127 <= q <= 127 for q in r.q_codes)
        for x, q in zip(r.embedding, r.q_codes):
            assert abs(x - q * r.q_scale / 127.0) <= r.q_scale / 254.0 + 1e-12
    deg = spark.createDataFrame(
        [(1, None), (2, [0.0, 0.0])], "vec_id int, embedding array<double>")
    dr = {r.vec_id: r for r in quantize.quantize_embeddings(deg).collect()}
    assert dr[1].q_codes is None and dr[1].q_scale is None
    assert dr[2].q_codes is None and dr[2].q_scale == 0.0
    # dequantize_expr round-trips NULL codes to NULL
    from pyspark.sql import functions as F
    back = quantize.quantize_embeddings(deg).select(
        "vec_id",
        quantize.dequantize_expr(F.col("q_codes"), F.col("q_scale")).alias("x"))
    assert all(r.x is None for r in back.collect())
    import pytest as _pt
    with _pt.raises(ValueError, match="already exists"):
        quantize.quantize_embeddings(qd)


def test_ivfsq_quality_and_materialized_index(spark, embs):
    """IVF-SQ8 sanity: full-probe SQ results track brute force closely
    (int8 reconstruction error is tiny relative to score gaps), the
    materialized quantized index round-trips through parquet, and
    arrow/expr assignments agree."""
    from towhee_spark.functions import quantize, similarity

    qs = embs.filter(F.col("vec_id") < 5)
    full = sorted(
        (r.query_id, r.match_id) for r in similarity.ivfsq_topk(
            qs, embs, k=3, nlist=4, nprobe=4, impl="expr").collect())
    exact = sorted(
        (r.query_id, r.match_id) for r in similarity.brute_force_topk(
            qs, embs, k=3).collect())
    overlap = len(set(full) & set(exact)) / len(exact)
    assert overlap >= 0.8, (overlap, full, exact)
    arrow = sorted(
        (r.query_id, r.match_id) for r in similarity.ivfsq_topk(
            qs, embs, k=3, nlist=4, nprobe=4, impl="arrow").collect())
    assert arrow == full
    # materialized quantized inverted file: write once, probe from read-back
    import tempfile

    cents = similarity.ivf_train(embs, nlist=4)
    assigned = similarity.ivf_assign(embs, cents, impl="arrow")
    qd = quantize.quantize_embeddings(assigned)
    with tempfile.TemporaryDirectory() as td:
        qd.select("vec_id", "cell", "q_codes", "q_scale").write.partitionBy(
            "cell").parquet(f"{td}/ivfsq")
        back = spark.read.parquet(f"{td}/ivfsq")
        mat = sorted(
            (r.query_id, r.match_id) for r in similarity.ivfsq_topk(
                qs, embs, k=3, nlist=4, nprobe=4, impl="arrow",
                centroids=cents, quantized=back).collect())
    assert mat == arrow


def test_ivf_train_kmeans_improves_recall(spark, embs):
    """VERDICT r04 ask #3: ivf_train(method='kmeans') wires Lloyd-trained
    centroids into the IVF tiers and must beat (or at worst match) the
    md5-sample centroids on recall@k at EQUAL nprobe."""
    from towhee_spark.functions import similarity

    qs = embs.filter(F.col("vec_id") < 40)
    exact = similarity.brute_force_topk(qs, embs, k=5)

    def recall(cents):
        ann = similarity.ivf_topk(qs, embs, k=5, nlist=8, nprobe=2,
                                  impl="arrow", centroids=cents)
        row = similarity.ann_recall(ann, exact, per_query=False).collect()[0]
        return row.n_hits / row.n_exact

    sample = similarity.ivf_train(embs, nlist=8)  # default method
    trained = similarity.ivf_train(embs, nlist=8, method="kmeans", iters=3)
    r_sample, r_kmeans = recall(sample), recall(trained)
    assert r_kmeans >= r_sample, (r_kmeans, r_sample)
    # both deterministic; record the measured gap in the assertion message
    assert r_kmeans > 0.0
    with pytest.raises(ValueError, match="method"):
        similarity.ivf_train(embs, nlist=8, method="bogus")


def test_ann_recall_op(spark, embs):
    """ann_recall: exact-vs-itself is 1.0 everywhere; a deliberately
    crippled ANN result scores < 1; per_query=False micro-averages."""
    from towhee_spark.functions import similarity

    qs = embs.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(qs, embs, k=3)
    perfect = similarity.ann_recall(exact, exact)
    rows = perfect.collect()
    assert len(rows) == 10 and all(r.recall == 1.0 for r in rows)
    # drop every odd match_id from the "ANN" side → recall < 1 somewhere,
    # and missed queries still appear with n_hits = 0
    crippled = exact.filter(F.col("match_id") % 2 == 0)
    rr = {r.query_id: r for r in
          similarity.ann_recall(crippled, exact).collect()}
    assert len(rr) == 10
    assert any(v.n_hits < v.n_exact for v in rr.values())
    agg = similarity.ann_recall(crippled, exact, per_query=False).collect()
    assert len(agg) == 1 and agg[0].n_exact == 30
    assert agg[0].n_hits == sum(v.n_hits for v in rr.values())


def test_pool_embeddings_ragged_guard(spark):
    """ADVICE r04: ragged/short vectors silently deflate mean components
    (F.sum skips NULL/absent) — validate=True (default) must fail loudly
    at execution; validate=False keeps the documented raw semantics."""
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, [3.0])], "g int, embedding array<double>")
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkRuntimeError, SparkRuntimeException

    with pytest.raises(
            (Py4JJavaError, PySparkRuntimeError, SparkRuntimeException),
            match="ragged input"):
        clustering.pool_embeddings(df, "g", dim=2, mode="mean").collect()
    # NULL components inside a RIGHT-SIZED array pass the size guard and
    # deflate that component's mean — the documented raw semantics
    df2 = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, [3.0, None])], "g int, embedding array<double>")
    raw = clustering.pool_embeddings(df2, "g", dim=2, mode="mean").collect()
    assert raw[0].pooled == [2.0, 1.0]  # component 2: sum 2.0 / n_vecs 2


def test_ivfsq_all_zero_index_vector_dropped(spark):
    """ADVICE r04: all-zero index vectors quantize to NULL codes → NULL
    reconstruction; they must be FILTERED (matching the oracle's mx > 0
    rule), never emitted at cosine-fallback score 0.0 — even when a
    probed cell has fewer than k positive-scoring candidates."""
    from towhee_spark.functions import similarity

    idx = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>")
    qs = spark.createDataFrame(
        [(10, [1.0, 0.05])], "vec_id long, embedding array<double>")
    out = similarity.ivfsq_topk(
        qs, idx, k=3, nlist=1, nprobe=1, impl="expr",
        exclude_self=False).collect()
    assert sorted(r.match_id for r in out) == [1, 2]
    assert all(r.match_id != 3 for r in out)


def test_kmeans_train_local_matches_distributed(spark, embs):
    """Driver-local Lloyd replay (collect_vectors probe, the bpe_train /
    connected_components convention) must produce EXACTLY the distributed
    loop's centroids — same floats, same labels — for both impls.
    collect_vectors=0 forces the distributed loop (the probe row count
    always exceeds the cap)."""
    for impl in ("expr", "arrow"):
        local = clustering.kmeans_train(embs, k=4, iters=3, impl=impl)
        dist = clustering.kmeans_train(embs, k=4, iters=3, impl=impl,
                                       collect_vectors=0)
        assert local == dist, impl


def test_kmeans_train_local_ragged_falls_back(spark):
    """Vectors the local replica does not cover (NULL components) must
    fall back to the distributed loop rather than diverge or crash."""
    # ids chosen so the md5-lowest init sample (ids 6, 7) never picks the
    # NULL-component vector (id 3 hashes highest of these four)
    df = spark.createDataFrame(
        [(6, [1.0, 0.0]), (7, [0.8, 0.2]), (1, [0.0, 1.0]),
         (3, [None, 0.5])],
        "vec_id long, embedding array<double>")
    local = clustering.kmeans_train(df, k=2, iters=2, impl="expr")
    dist = clustering.kmeans_train(df, k=2, iters=2, impl="expr",
                                   collect_vectors=0)
    assert local == dist


def test_kmeans_train_local_freeze_boundary_falls_back(spark):
    """A component whose frozen value sits on a HALF_UP boundary the
    local floor(p + 0.5) freeze gets wrong: 4.7683715820312495e-07 ·
    2^20 = 0.49999999999999994, which F.round takes to 0 but p + 0.5
    rounds to 1.0. The driver-local replay must fall back, so local and
    distributed training agree."""
    df = spark.createDataFrame(
        [(6, [1.0, 4.7683715820312495e-07]), (7, [0.8, 0.2]),
         (1, [0.0, 1.0]), (3, [0.1, 0.9])],
        "vec_id long, embedding array<double>")
    for impl in ("expr", "arrow"):
        local = clustering.kmeans_train(df, k=2, iters=2, impl=impl)
        dist = clustering.kmeans_train(df, k=2, iters=2, impl=impl,
                                       collect_vectors=0)
        assert local == dist, impl


def test_kmeans_train_rejects_bad_impl_under_cap(spark):
    """impl is validated before the collect probe, so a table under the
    driver-local cap raises exactly as a large one does."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="impl"):
        clustering.kmeans_train(df, k=1, iters=1, impl="bogus")
