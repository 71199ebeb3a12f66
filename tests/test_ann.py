"""ANN operator tests: LSH bucketing and IVF assignment/search."""

import pytest
from pyspark.sql import functions as F

from tidyvec_spark.operators import ann


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


@pytest.fixture(scope="module")
def qvec(emb):
    row = emb.filter(F.col("vec_id") == 0).first()
    return [float(x) for x in row["embedding"]]


def test_planes_deterministic():
    a = ann.random_planes(8, nbits=4, seed=42)
    b = ann.random_planes(8, nbits=4, seed=42)
    assert a == b
    assert len(a) == 4 and len(a[0]) == 8
    assert ann.random_planes(8, nbits=4, seed=1) != a


def test_query_bucket_matches_spark_bucket(emb, qvec):
    planes = ann.random_planes(64, nbits=8, seed=42)
    qb = ann.query_bucket(qvec, planes)
    spark_b = (
        emb.filter(F.col("vec_id") == 0)
        .select(ann.hyperplane_bucket_expr("embedding", planes).alias("b"))
        .first()["b"]
    )
    assert spark_b == qb
    assert 0 <= qb < 2**8


def test_multiprobe_sizes():
    assert len(ann.multiprobe_buckets(5, 8, hamming=0)) == 1
    assert len(ann.multiprobe_buckets(5, 8, hamming=1)) == 9
    assert len(ann.multiprobe_buckets(5, 8, hamming=2)) == 9 + 28


def test_multiprobe_radius_is_the_hamming_ball():
    """Radius h probes exactly the buckets within Hamming h, for every
    h: radius 3 is not radius 2, radius >= nbits is every bucket, and a
    negative radius is an error rather than radius 0."""
    for h in range(6):
        want = sorted(b for b in range(16) if bin(b ^ 5).count("1") <= h)
        assert ann.multiprobe_buckets(5, 4, hamming=h) == want
    assert len(ann.multiprobe_buckets(0, 4, 3)) == 15
    assert ann.multiprobe_buckets(0, 4, 9) == list(range(16))
    with pytest.raises(ValueError, match="probe_hamming"):
        ann.multiprobe_buckets(0, 4, -1)


def test_lsh_topk_finds_self(emb, qvec):
    out = ann.ann_lsh_topk(
        emb, "embedding", "vec_id", qvec, k=10, nbits=8, probe_hamming=1,
        round_to=6,
    ).collect()
    assert 0 < len(out) <= 10
    assert out[0]["vec_id"] == 0 and out[0]["similarity"] == 1.0
    sims = [r["similarity"] for r in out]
    assert sims == sorted(sims, reverse=True)


def test_lsh_recall_vs_exact(emb, qvec):
    """With hamming<=2 multiprobe the candidate set is ~15% of a random
    corpus; recall@10 against the exact scan should be well above the
    scan fraction (neighbors collide preferentially)."""
    from tidyvec_spark import vec
    from tidyvec_spark.operators.nearest import nearest

    exact = {
        r["vec_id"]
        for r in nearest(
            vec(emb), qvec, n=10, as_embedding=True, tiebreak="vec_id"
        ).df.select("vec_id").collect()
    }
    approx = {
        r["vec_id"]
        for r in ann.ann_lsh_topk(
            emb, "embedding", "vec_id", qvec, k=10, nbits=8, probe_hamming=2
        ).collect()
    }
    assert len(exact & approx) >= 3


def test_ivf_assign_total(emb):
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    assigned = ann.ivf_assign(e, "embedding", "vec_id", cents)
    assert assigned.count() == e.count()  # exactly one centroid per row
    n_used = assigned.select("centroid_id").distinct().count()
    assert 1 <= n_used <= 8
    # each centroid vector is assigned to itself (distance 0)
    self_rows = assigned.filter(F.col("vec_id") < 8).collect()
    assert all(r["centroid_id"] == r["vec_id"] for r in self_rows)


def test_ivf_topk_finds_self(emb, qvec):
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    out = ann.ivf_topk(
        e, "embedding", "vec_id", cents, qvec, k=5, nprobe=2, round_to=6
    ).collect()
    assert len(out) == 5
    assert out[0]["vec_id"] == 0 and out[0]["similarity"] == 1.0


@pytest.mark.parametrize("k", [8, 24])
def test_ivf_assign_matches_numpy_reference(emb, k):
    """The one assignment kernel against a NumPy reference: argmin of
    the sequential fold sum((x - c)^2) rounded to 6 places, smaller
    centroid id on ties — at k=8 and k=24 alike (no size switch)."""
    import numpy as np

    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    cents = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    rows = e.orderBy("vec_id").collect()
    assert [r["vec_id"] for r in rows[:k]] == list(range(k))
    # centroids in id order: argmin's first minimum is the smaller id
    C = np.asarray([r["embedding"] for r in rows[:k]], dtype=np.float64)
    X = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    d = np.zeros((len(X), k))
    for j in range(X.shape[1]):
        d += (X[:, None, j] - C[None, :, j]) ** 2
    want = dict(
        zip((r["vec_id"] for r in rows), np.argmin(np.round(d, 6), axis=1).tolist())
    )
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in ann.ivf_assign(e, "embedding", "vec_id", cents)
        .select("vec_id", "centroid_id")
        .collect()
    }
    assert got == want


def _jobs_fired(spark, fn):
    """Number of Spark jobs ``fn()`` fires (the status-store idiom of
    test_partitioning.py)."""
    sc = spark.sparkContext._jsc.sc()

    def last():
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    before = last()
    fn()
    return last() - before


def test_ivf_topk_fires_two_jobs(spark, emb, qvec):
    """One job collects the centroids (the assignment kernel and the
    driver-side probe ranking share them), one runs the search: no
    probe-ranking job and no broadcast of probe ids."""
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    n = _jobs_fired(
        spark,
        lambda: ann.ivf_topk(
            e, "embedding", "vec_id", cents, qvec, k=5, nprobe=2, round_to=6
        ).collect(),
    )
    assert n == 2


def test_kmeans_centroids_feed_ivf(emb, qvec):
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    cents = ann.kmeans_centroids(e, "embedding", k=8, seed=7)
    assert cents.count() == 8
    assert len(cents.first()["centroid"]) == 64
    out = ann.ivf_topk(
        e, "embedding", "vec_id", cents, qvec, k=5, nprobe=3, round_to=6
    ).collect()
    assert len(out) == 5
    assert out[0]["similarity"] >= out[-1]["similarity"]


def test_random_projection_preserves_neighborhoods(spark, emb):
    """JL projection: driver twin matches the expression bit-for-bit,
    self-similarity stays 1, and the 64->32 projected top-10 overlaps
    heavily with the exact top-10 (distance preservation)."""
    from tidyvec_spark.functions.vector import array_lit, cosine_sim_expr
    from tidyvec_spark.operators.ann import exact_topk_batch
    from tidyvec_spark.operators.reduce import (
        random_projection_expr,
        random_projection_py,
    )

    row = emb.filter(F.col("vec_id") == 0).first()
    raw = [float(x) for x in row["embedding"]]
    proj = emb.select(
        "vec_id", random_projection_expr("embedding", 64, 32).alias("pv")
    )
    got = proj.filter(F.col("vec_id") == 0).first()["pv"]
    assert list(got) == random_projection_py(raw, 32)

    q = random_projection_py(raw, 32)
    top_p = [
        r["vec_id"]
        for r in proj.select(
            "vec_id",
            cosine_sim_expr(F.col("pv"), array_lit(q)).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(10)
        .collect()
    ]
    top_e = [
        r["vec_id"]
        for r in exact_topk_batch(
            emb, "embedding", "vec_id",
            emb.filter(F.col("vec_id") == 0).select(
                F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
            ),
            "qid", "qv", k=10,
        ).collect()
    ]
    assert top_p[0] == top_e[0] == 0  # self survives projection
    # fixture embeddings are near-uniform random (neighbors barely
    # separated), so overlap is the weak signal here; the bit-exact
    # twin + self-top-1 are the strong ones
    assert len(set(top_p) & set(top_e)) >= 3
    import pytest as pt
    with pt.raises(ValueError):
        random_projection_expr("embedding", 64, 0)


def test_cascade_topk_matches_exact_when_prefilter_covers(spark, emb):
    """With prefilter = corpus size the cascade degenerates to exact
    search; with a tight prefilter the top-1 (self) must survive the
    coarse stage and the output stays ordered."""
    from tidyvec_spark.operators.ann import (
        exact_topk_batch,
        matryoshka_cascade_topk,
    )

    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    full = matryoshka_cascade_topk(
        e, "embedding", "vec_id", q, k=5, prefix_dim=16,
        prefilter=500, round_to=6,
    ).collect()
    want = exact_topk_batch(
        e, "embedding", "vec_id",
        e.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        ),
        "qid", "qv", k=5, round_to=6,
    ).collect()
    assert [(r["vec_id"], r["similarity"]) for r in full] == [
        (r["vec_id"], r["similarity"]) for r in want
    ]
    tight = matryoshka_cascade_topk(
        e, "embedding", "vec_id", q, k=5, prefix_dim=16,
        prefilter=25, round_to=6,
    ).collect()
    assert tight[0]["vec_id"] == 0 and abs(tight[0]["similarity"] - 1.0) < 1e-6
    sims = [r["similarity"] for r in tight]
    assert sims == sorted(sims, reverse=True)
    import pytest as pt
    with pt.raises(ValueError):
        matryoshka_cascade_topk(e, "embedding", "vec_id", q, k=10, prefilter=5)


def test_ivf_assign_null_embedding_gets_null_cell(spark):
    """The engine NULL-embedding law in assignment: a NULL vector gets
    a NULL cent_id (no crash in the kernel's vstack), and the row
    itself survives."""
    from tidyvec_spark.operators.ann import ivf_assign

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id INT, centroid ARRAY<DOUBLE>",
    )
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(df, "embedding", "vec_id", cents).collect()
    }
    assert got == {1: 0, 2: None, 3: 1}


def test_semdedup_and_balanced_sample_skip_null_embeddings(spark):
    from tidyvec_spark.operators.sampling import cluster_balanced_sample
    from tidyvec_spark.operators.semdedup import semantic_dedup_pairs

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, None)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "centroid_id INT, centroid ARRAY<DOUBLE>"
    )
    pairs = semantic_dedup_pairs(
        df, "embedding", "vec_id", cents, threshold=0.9
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    kept = {
        r["vec_id"]
        for r in cluster_balanced_sample(
            df, "embedding", "vec_id", cents, n_per_cluster=5
        ).collect()
    }
    assert kept == {1, 2}  # the NULL row is excluded, not quota'd


def test_hyperplane_bucket_sql_path_matches_column_path(spark):
    """The string-name input builds the bucket expression as one
    JVM-parsed SQL text (r14 construction-cost fix); buckets must be
    identical to the Column-builder path for every row."""
    import random

    from pyspark.sql import functions as F

    from tidyvec_spark.operators.ann import hyperplane_bucket_expr

    rng = random.Random(5)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(200)
    ] + [(999, None)]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    planes = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(8)]
    got_sql = {
        r["id"]: r["b"]
        for r in df.select(
            "id", hyperplane_bucket_expr("v", planes).alias("b")
        ).collect()
    }
    got_col = {
        r["id"]: r["b"]
        for r in df.select(
            "id", hyperplane_bucket_expr(F.col("v"), planes).alias("b")
        ).collect()
    }
    assert got_sql == got_col


def test_null_embeddings_are_never_search_candidates(spark):
    """The engine NULL-embedding law in the top-k and join operators:
    a NULL vector is neither a candidate nor a query. Every NULL lands
    in LSH bucket 0, and so does this query, so a probe of bucket 0
    alone used to return only the NULL rows."""
    from tidyvec_spark.operators.nearest import (
        similarity_join_exact,
        similarity_join_lsh,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [-1.0, 0.5]), (4, None)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    planes = [[0.0, 1.0]]
    q = [1.0, -0.1]
    queries = spark.createDataFrame(
        [(10, q), (11, None)], "qid LONG, qv ARRAY<DOUBLE>"
    )
    assert ann.query_bucket(q, planes) == 0
    assert ann.ann_lsh_topk(
        df, "embedding", "vec_id", q, k=3, planes=planes, probe_hamming=0
    ).collect() == []
    assert ann.ann_lsh_topk_batch(
        df, "embedding", "vec_id", queries, "qid", "qv", planes,
        k=3, probe_hamming=0,
    ).collect() == []
    assert similarity_join_lsh(
        queries, df, "qv", "embedding", planes,
        left_id="qid", right_id="vec_id", k=3,
    ).collect() == []
    got = ann.ann_lsh_topk(
        df, "embedding", "vec_id", q, k=3, planes=planes, probe_hamming=1,
        round_to=6,
    ).collect()
    assert [r["vec_id"] for r in got] == [1, 3]
    exact = ann.exact_topk_batch(
        df, "embedding", "vec_id", queries, "qid", "qv", k=3, round_to=6
    ).collect()
    assert [(r["qid"], r["vec_id"], r["rank"]) for r in exact] == [
        (10, 1, 1), (10, 3, 2)
    ]
    joined = similarity_join_exact(
        queries, df, "qv", "embedding",
        left_id="qid", right_id="vec_id", k=3, round_to=6,
    ).collect()
    assert sorted((r["qid"], r["vec_id"]) for r in joined) == [(10, 1), (10, 3)]
    assert all(r["similarity"] is not None for r in exact + joined)


def test_full_probe_lsh_equals_exact_through_one_window(spark, emb):
    """With 2 planes a radius-2 probe covers every bucket, so the LSH
    batch search and the LSH join must reproduce their exact twins row
    for row, ranks and tie order included."""
    from tidyvec_spark.operators.nearest import (
        similarity_join_exact,
        similarity_join_lsh,
    )

    planes = ann.random_planes(64, nbits=2, seed=42)
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = corpus.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )

    def rows(df, cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    cols = ("qid", "vec_id", "similarity", "rank")
    lsh = ann.ann_lsh_topk_batch(
        corpus, "embedding", "vec_id", queries, "qid", "qv", planes,
        k=3, probe_hamming=2, round_to=6,
    )
    exact = ann.exact_topk_batch(
        corpus, "embedding", "vec_id", queries, "qid", "qv", k=3, round_to=6
    )
    got = rows(lsh, cols)
    assert len(got) == 60 and got == rows(exact, cols)

    cols = ("qid", "vec_id", "similarity")
    jl = similarity_join_lsh(
        queries, corpus, "qv", "embedding", planes,
        left_id="qid", right_id="vec_id", k=3, probe_hamming=2, round_to=6,
    )
    je = similarity_join_exact(
        queries, corpus, "qv", "embedding",
        left_id="qid", right_id="vec_id", k=3, round_to=6,
    )
    got = rows(jl, cols)
    assert len(got) == 60 and got == rows(je, cols)
