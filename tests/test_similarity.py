import numpy as np
import pytest

from deftunes_spark.ext import similarity as S


@pytest.fixture(scope="module")
def vectors(spark):
    """3 gaussian clusters in 16d, 120 vectors, deterministic."""
    rng = np.random.RandomState(7)
    centers = rng.randn(3, 16) * 3
    rows = []
    for i in range(120):
        c = i % 3
        v = centers[c] + rng.randn(16) * 0.3
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    return df, rows


def _exact_topk(rows, q, k):
    qv = np.asarray(q)
    sims = []
    for vid, v in rows:
        x = np.asarray(v)
        sims.append(
            (float(qv @ x / (np.linalg.norm(qv) * np.linalg.norm(x))), vid)
        )
    sims.sort(key=lambda t: (-t[0], t[1]))
    return [vid for _, vid in sims[:k]]


def test_brute_force_topk_matches_numpy(spark, vectors):
    df, rows = vectors
    q = rows[5][1]
    got = [r.vec_id for r in S.cosine_topk(df, q, k=10).collect()]
    assert got == _exact_topk(rows, q, 10)
    # Ranking is on the 6-dp value: cosines 0.8000001 (id 1) and
    # 0.8000004 (id 2) differ by < 5e-7 and both round to 0.8, so they
    # tie and come back in id order (the raw values would rank id 2
    # first), each emitting the rounded value.
    near = spark.createDataFrame(
        [
            (vid, [c, float(np.sqrt(1.0 - c * c))])
            for vid, c in ((1, 0.8000001), (2, 0.8000004), (3, 0.5))
        ],
        ["vec_id", "embedding"],
    )
    top = S.cosine_topk(near, [1.0, 0.0], k=3).collect()
    assert [(r.vec_id, r.cosine_sim) for r in top] == [
        (1, 0.8), (2, 0.8), (3, 0.5)
    ]


def test_ann_recall(vectors):
    df, rows = vectors
    q = rows[11][1]
    exact = set(_exact_topk(rows, q, 10))
    approx = {
        r.vec_id
        for r in S.ann_topk(df, q, k=10, n_bits=8, n_probes=4).collect()
    }
    # Multi-probe LSH over clustered data: high recall expected.
    assert len(exact & approx) >= 7


def test_neardup_pairs_planted(spark):
    rng = np.random.RandomState(3)
    base = rng.randn(16)
    rows = [(0, [float(x) for x in base]),
            (1, [float(x) for x in base * 1.001])]  # same direction
    for i in range(2, 40):
        rows.append((i, [float(x) for x in rng.randn(16)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = S.cosine_neardup_pairs(df, threshold=0.99, n_bits=6)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in found
    assert all({a, b} == {0, 1} for a, b in found)


def test_norm_expr_matches_numpy(spark, vectors):
    df, rows = vectors
    from pyspark.sql import functions as F

    got = df.select(
        "vec_id", S.norm_expr(F.col("embedding")).alias("n")
    ).first()
    expected = float(np.linalg.norm(np.asarray(rows[0][1])))
    assert abs(got.n - expected) < 1e-9


def test_ivf_recall(vectors):
    df, rows = vectors
    q = rows[23][1]
    assigned, centroids = S.ivf_index(df, n_lists=6, max_iter=8)
    exact = set(_exact_topk(rows, q, 10))
    approx = {
        r.vec_id
        for r in S.ivf_topk(assigned, centroids, q, k=10, n_probe=2).collect()
    }
    # The query's own cluster must land in the probed lists: on 3
    # well-separated gaussian clusters recall should be near-perfect.
    assert len(exact & approx) >= 9
    # ivf_topk probes exactly the lists ivf_probe_lists names: with k
    # at the corpus size it returns every row of those lists.
    probe = S.ivf_probe_lists(centroids, q, 2)
    assert len(probe) == 2
    import pyspark.sql.functions as F

    in_probe = assigned.filter(F.col("ivf_list").isin(probe))
    everything = S.ivf_topk(assigned, centroids, q, k=len(rows), n_probe=2)
    assert {r.vec_id for r in everything.collect()} == {
        r.vec_id for r in in_probe.collect()
    }


def test_ivf_lists_partition_data(vectors):
    df, _ = vectors
    assigned, centroids = S.ivf_index(df, n_lists=6, max_iter=8)
    assert assigned.count() == 120
    assert len(centroids) == 6
    n_lists_used = assigned.select("ivf_list").distinct().count()
    assert 2 <= n_lists_used <= 6


def test_ivf_sampled_fit_recall(vectors):
    """Quantizer fit on a sample (the 100 TB path: k-means iterations
    never touch the full corpus), assignment over everything — recall
    must hold."""
    df, rows = vectors
    q = rows[23][1]
    assigned, centroids = S.ivf_index(
        df, n_lists=6, max_iter=8, fit_max_rows=60
    )
    assert assigned.count() == 120  # every vector assigned
    exact = set(_exact_topk(rows, q, 10))
    approx = {
        r.vec_id
        for r in S.ivf_topk(assigned, centroids, q, k=10, n_probe=3).collect()
    }
    assert len(exact & approx) >= 8


def test_ivf_assign_matches_numpy(vectors):
    """Expression-only assignment = numpy argmin over squared L2."""
    df, rows = vectors
    rng = np.random.RandomState(3)
    cents = [[float(x) for x in rng.randn(16)] for _ in range(5)]
    got = {
        r.vec_id: r.ivf_list
        for r in S.ivf_assign(df, cents).select("vec_id", "ivf_list").collect()
    }
    C = np.asarray(cents)
    for vid, v in rows:
        d = ((np.asarray(v)[None, :] - C) ** 2).sum(axis=1)
        assert got[vid] == int(np.argmin(d)), vid


def test_lsh_arrow_bucketing_high_dim(spark):
    """768-dim × 12-bit corpus: the vectorized Arrow path (a) is what
    'auto' dispatches to past LSH_EXPR_MAX_COEFFS, (b) matches the
    numpy reference bucket-for-bucket, and (c) keeps the plan free of
    the unrolled per-coefficient literal tree."""
    dim, n_bits, n = 768, 12, 50
    rng = np.random.RandomState(0)
    rows = [(i, [float(x) for x in rng.randn(dim)]) for i in range(n)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    planes = S.random_hyperplanes(dim, n_bits, seed=1)
    assert planes.size > S.LSH_EXPR_MAX_COEFFS  # auto → arrow

    bucketed = S.with_lsh_bucket(df, planes)  # method="auto"
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "Python" in plan

    got = {r.vec_id: r.lsh_bucket for r in bucketed.collect()}
    for vid, v in rows:
        proj = planes @ np.asarray(v)
        want = int(((proj >= 0).astype(np.int64) << np.arange(n_bits)).sum())
        assert got[vid] == want, vid


def test_lsh_arrow_and_expr_paths_agree(spark):
    """Integer-valued vectors and planes → every projection is exact in
    float64 regardless of summation order, so the codegen-expression
    path and the Arrow matmul path must agree bucket-for-bucket."""
    dim, n_bits, n = 16, 6, 80
    rng = np.random.RandomState(5)
    rows = [
        (i, [float(x) for x in rng.randint(-5, 6, size=dim)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    planes = rng.randint(-3, 4, size=(n_bits, dim)).astype(np.float64)

    a = {
        r.vec_id: r.lsh_bucket
        for r in S.with_lsh_bucket(df, planes, method="expr").collect()
    }
    b = {
        r.vec_id: r.lsh_bucket
        for r in S.with_lsh_bucket(df, planes, method="arrow").collect()
    }
    assert a == b


def test_pq_encode_matches_numpy(vectors):
    df, rows = vectors
    books = S.pq_codebooks_random(16, m=4, k_sub=8, seed=5)
    got = {
        r.vec_id: list(r.pq_code)
        for r in S.pq_encode(df, books).collect()
    }
    for vid, v in rows[:20]:
        x = np.asarray(v)
        want = []
        for j in range(4):
            s = x[j * 4 : (j + 1) * 4]
            d = [float(-2 * s @ c + c @ c) for c in books[j]]
            want.append(int(np.argmin(d)))
        assert got[vid] == want


def test_pq_trained_recall_beats_floor(vectors):
    df, rows = vectors
    books = S.pq_train(df, dim=16, m=4, k_sub=8, seed=5)
    assert books.shape == (4, 8, 4)
    q = rows[23][1]
    exact = set(_exact_topk(rows, q, 10))
    approx = {
        r.vec_id
        for r in S.pq_topk(df, books, q, k=10, refine=4).collect()
    }
    # Trained codebooks over 3 tight clusters: the ADC ranking keeps
    # most of the true neighborhood in the refine set.
    assert len(exact & approx) >= 7


def test_pq_encode_arrow_realistic_dims(spark):
    """The 100 TB encode shape: 768-dim vectors, m=8, k_sub=256 —
    196,608 codebook coefficients, far past PQ_EXPR_MAX_COEFFS, so
    method='auto' must take the Arrow path (the expr path at this size
    is a driver-side plan-construction blow-up). Codes must match a
    direct numpy full-distance argmin."""
    dim, m, k_sub, n = 768, 8, 256, 40
    rng = np.random.RandomState(11)
    rows = [
        (i, [float(x) for x in rng.randn(dim)]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = S.pq_codebooks_random(dim, m=m, k_sub=k_sub, seed=7)
    assert k_sub * dim > S.PQ_EXPR_MAX_COEFFS

    got = {
        r.vec_id: list(r.pq_code)
        for r in S.pq_encode(df, books, method="auto").collect()
    }
    dsub = dim // m
    for vid, v in rows:
        x = np.asarray(v)
        want = []
        for j in range(m):
            s = x[j * dsub : (j + 1) * dsub]
            d = ((books[j] - s) ** 2).sum(axis=1)
            want.append(int(np.argmin(d)))
        assert got[vid] == want, vid


def test_pq_encode_expr_and_arrow_paths_agree(spark):
    """Integer-valued vectors and codebooks → every distance is exact
    in float64, so the expr and Arrow paths must agree code-for-code
    (same guarantee style as the LSH twin test)."""
    dim, m, k_sub, n = 16, 4, 8, 60
    rng = np.random.RandomState(3)
    rows = [
        (i, [float(x) for x in rng.randint(-4, 5, size=dim)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    books = rng.randint(-3, 4, size=(m, k_sub, dim // m)).astype(np.float64)
    a = {
        r.vec_id: list(r.pq_code)
        for r in S.pq_encode(df, books, method="expr").collect()
    }
    b = {
        r.vec_id: list(r.pq_code)
        for r in S.pq_encode(df, books, method="arrow").collect()
    }
    assert a == b


def test_pq_precomputed_code_column(vectors):
    df, rows = vectors
    books = S.pq_codebooks_random(16, m=4, k_sub=8, seed=5)
    enc = S.pq_encode(df, books)
    out = S.pq_topk(
        enc, books, rows[3][1], k=5, refine=4, code_col="pq_code"
    )
    assert len(out.collect()) == 5


def test_ivfpq_composition_recall(vectors):
    """IVF-PQ: coarse quantizer prunes to probed lists, trained PQ
    codes ADC-rank inside them, exact rerank — recall must survive
    BOTH approximations stacked (the FAISS IVFPQ shape)."""
    df, rows = vectors
    q = rows[23][1]
    assigned, centroids = S.ivf_index(df, n_lists=6, max_iter=8)
    books = S.pq_train(df, dim=16, m=4, k_sub=8, seed=5)
    C = np.asarray(centroids)
    d = ((np.asarray(q)[None, :] - C) ** 2).sum(axis=1)
    probe = [int(i) for i in np.argsort(d)[:3]]
    assert S.ivf_probe_lists(centroids, q, 3) == probe
    import pyspark.sql.functions as F

    cands = assigned.filter(F.col("ivf_list").isin(probe)).drop("ivf_list")
    exact = set(_exact_topk(rows, q, 10))
    approx = {
        r.vec_id
        for r in S.pq_topk(cands, books, q, k=10, refine=4).collect()
    }
    assert len(exact & approx) >= 7
