"""Dedup operator tests: exact, MinHash-LSH, SimHash, n-gram Jaccard."""

import pytest
from pyspark.sql import functions as F

from tidyvec_spark.functions.hashing import md5_long, minhash_signature, simhash
from tidyvec_spark.operators import dedup


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and often"),  # near-dup of 0
        (2, "completely different text about spark sql engines and shuffles"),
        (3, "The  Quick   Brown fox jumps over the lazy dog again and again"),  # exact dup of 0 after norm
        (4, "tiny"),  # too short for 3-gram shingles
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture(scope="module")
def emb_corpus(spark):
    # embeddings + perturbed near-dup copies so pairs exist by construction
    e = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(100)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    pert = e.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.1)),
            F.slice("embedding", 2, 1_000_000),
        ).alias("embedding"),
    )
    return e.unionByName(pert)


def test_md5_long_matches_python(spark):
    import hashlib

    df = spark.createDataFrame([("hello world",)], ["s"])
    got = df.select(md5_long("s").alias("h")).first()["h"]
    want = int(hashlib.md5(b"hello world").hexdigest()[:15], 16)
    assert got == want


def test_exact_dup_groups(corpus):
    groups = dedup.exact_dup_groups(corpus, "text", "doc_id").collect()
    assert len(groups) == 1
    assert groups[0]["n_copies"] == 2
    assert groups[0]["keep_id"] == 0


def test_drop_exact_dups(corpus):
    kept = dedup.drop_exact_dups(corpus, "text", "doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [0, 1, 2, 4]  # 3 dropped (dup of 0, higher id)


def test_minhash_signature_shape(corpus):
    from tidyvec_spark.functions import text as X

    sig = (
        corpus.filter(F.col("doc_id") == 0)
        .select(
            minhash_signature(
                F.array_distinct(X.ngrams("text", 3)), num_hashes=16
            ).alias("sig")
        )
        .first()["sig"]
    )
    assert len(sig) == 16
    assert all(isinstance(v, int) and v >= 0 for v in sig)


def test_minhash_lsh_finds_near_dup(corpus):
    pairs = dedup.minhash_lsh_pairs(
        corpus, "text", "doc_id", num_hashes=16, bands=8, threshold=0.5
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    # 0-1 share all but the last shingle; 0-3 identical after lowering
    assert (0, 1) in found
    assert (0, 3) in found
    assert all(p not in found for p in [(0, 2), (1, 2), (2, 3)])
    for r in pairs:
        assert 0.5 <= r["jaccard"] <= 1.0


def test_minhash_estimates_jaccard(spark):
    """MinHash agreement rate should approximate the true Jaccard."""
    a = set(f"tok{i}" for i in range(100))
    b = set(f"tok{i}" for i in range(50, 150))  # true J = 50/150 = 1/3
    df = spark.createDataFrame(
        [(0, list(a)), (1, list(b))], ["id", "sh"]
    ).select("id", minhash_signature("sh", num_hashes=128).alias("sig"))
    s0, s1 = [r["sig"] for r in df.orderBy("id").collect()]
    est = sum(x == y for x, y in zip(s0, s1)) / 128
    assert abs(est - 1 / 3) < 0.15


def test_simhash_near_dup_close_hamming(corpus):
    fps = {
        r["id"]: r["simhash"]
        for r in dedup.simhash_fingerprints(corpus, "text", "doc_id", bits=32).collect()
    }
    ham01 = bin(fps[0] ^ fps[1]).count("1")
    ham02 = bin(fps[0] ^ fps[2]).count("1")
    assert fps[0] == fps[3]  # exact dup after normalization
    assert ham01 < ham02  # near-dup closer than unrelated
    assert all(0 <= v < 2**32 for v in fps.values())


def test_simhash_pairs(corpus):
    pairs = dedup.simhash_pairs(
        corpus, "text", "doc_id", bits=32, bands=4, max_hamming=6
    ).collect()
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert found.get((0, 3)) == 0
    assert (0, 1) in found


def test_ngram_jaccard_pairs(corpus):
    pairs = dedup.ngram_jaccard_pairs(
        corpus, "text", "doc_id", threshold=0.5, round_to=6
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in found and (0, 3) in found


def test_embedding_near_dup_pairs_matches_expression_kernel(spark):
    """The GEMM path must agree with the codegen cosine kernel."""
    import random

    from tidyvec_spark.functions.vector import cosine_sim_expr

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    rows.append((40, [v + 0.01 for v in rows[0][1]]))  # near-dup of 0
    rows.append((41, [0.0] * 16))  # zero-norm vector
    df = spark.createDataFrame(rows, ["vid", "emb"])

    got = {
        (r["id_a"], r["id_b"]): r["similarity"]
        for r in dedup.embedding_near_dup_pairs(
            df, "emb", "vid", threshold=0.9, round_to=6
        ).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    want = {
        (r["id_a"], r["id_b"]): r["similarity"]
        for r in a.join(b, F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.round(
                cosine_sim_expr(F.col("a.emb"), F.col("b.emb")), 6
            ).alias("similarity"),
        )
        .filter(F.col("similarity") >= 0.9)
        .collect()
    }
    assert got == want
    assert (0, 40) in got


def test_empty_and_null_text(spark):
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "one two three four five six")],
        ["doc_id", "text"],
    )
    # no shingleable docs pair up; nothing crashes on NULL/empty
    assert dedup.minhash_lsh_pairs(df, "text", "doc_id").count() == 0
    fps = dedup.simhash_fingerprints(df, "text", "doc_id").collect()
    assert len(fps) == 3


def test_connected_components_chain_and_star(spark):
    # components: chain 1-2-3-4 (diameter 3), star 10-{11,12,13},
    # isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)],
        ["id_a", "id_b"],
    )
    got = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 13: 10,
                   20: 20, 21: 20}


def test_connected_components_rejects_zero_iterations(spark):
    # max_iterations < 1 would skip the loop and return identity labels
    # — the silent wrong answer the convergence raise guards against
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(ValueError):
        dedup.connected_components(pairs, max_iterations=0)


def test_connected_components_string_ids(spark):
    # the r1 convergence signal cast labels to decimal — under Spark 4
    # ANSI that raises on string ids, and with ANSI off it silently
    # returned wrong components for any diameter >= 2 graph. String ids
    # (URLs, UUIDs, content hashes) are the COMMON dedup case; pin the
    # id-type-agnostic changed-count signal with a diameter-3 chain.
    pairs = spark.createDataFrame(
        [("url-b", "url-c"), ("url-c", "url-d"), ("url-d", "url-e"),
         ("doc-x", "doc-y")],
        ["id_a", "id_b"],
    )
    got = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {"url-b": "url-b", "url-c": "url-b", "url-d": "url-b",
                   "url-e": "url-b", "doc-x": "doc-x", "doc-y": "doc-x"}


def test_near_dup_groups_end_to_end(corpus):
    groups = dedup.near_dup_groups(corpus, "text", "doc_id")
    labels = {r["id"]: r["component"] for r in groups.collect()}
    # 0, 1 (near-dup) and 3 (exact dup of 0) form one component rooted
    # at min id 0; 2 (distinct) and 4 (unshingleable) stay out
    assert labels == {0: 0, 1: 0, 3: 0}


def test_bpe_pieces():
    from tidyvec_spark.functions.text import bpe_pieces  # noqa: F401


def test_bpe_piece_count(spark):
    from tidyvec_spark.functions import text as X

    df = spark.createDataFrame(
        [(0, "Don't say GPT-4 costs $20.50, it's 2x!"), (1, None), (2, "")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n"], r["p"])
        for r in df.select(
            "doc_id",
            X.bpe_piece_count("text").alias("n"),
            X.bpe_pieces("text").alias("p"),
        ).collect()
    }
    assert got[0][1] == [
        "don", "'t", "say", "gpt", "-", "4", "costs", "$", "20", ".",
        "50", ",", "it", "'s", "2", "x", "!",
    ]
    assert got[0][0] == 17
    assert got[2] == (0, [])


def test_lsh_near_dup_pairs(spark):
    from tidyvec_spark.operators.ann import random_planes

    # two identical vectors + one opposite: identical pair must share
    # every bucket bit and pass verify; the opposite vector lands in the
    # complement bucket and never pairs
    rows = [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0, 3.0, 4.0]),
            (3, [-1.0, -2.0, -3.0, -4.0])]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = dedup.lsh_near_dup_pairs(
        df, "v", "id", planes=random_planes(4, nbits=4, seed=7),
        threshold=0.98,
    ).collect()
    assert [(r["id_a"], r["id_b"], r["similarity"]) for r in got] == [(1, 2, 1.0)]


def test_release_frees_pair_generator_cache(spark, corpus):
    # long-lived sessions must be able to free the persisted
    # signature/index intermediates without a wholesale clearCache
    pairs = dedup.minhash_lsh_pairs(corpus, "text", "doc_id")
    pairs.count()  # materialize (and populate the persist)
    handles = pairs._tidyvec_persisted
    assert handles and all(h.storageLevel.useMemory for h in handles)
    dedup.release(pairs)
    assert all(not h.storageLevel.useMemory for h in handles)


@pytest.mark.parametrize(
    "op",
    [
        "minhash_lsh_pairs",
        "incremental_near_dup_pairs",
        "fuzzy_contamination_hits",
        "decontaminate_fuzzy",
        "near_dup_groups_bucket",
        "leakage_free_split",
    ],
)
def test_release_frees_every_minhash_cache(spark, corpus, op):
    """Every MinHash operator either frees its signature cache itself
    or rides it on its result: after collecting the result and calling
    release(), the session's cache manager holds nothing."""
    other = spark.createDataFrame(
        [(900, "the quick brown fox jumps over the lazy dog again and more")],
        ["doc_id", "text"],
    )
    build = {
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(
            corpus, "text", "doc_id"
        ),
        "incremental_near_dup_pairs": lambda: dedup.incremental_near_dup_pairs(
            other, dedup.minhash_sign(corpus, "text", "doc_id"), "text", "doc_id"
        ),
        "fuzzy_contamination_hits": lambda: dedup.fuzzy_contamination_hits(
            corpus, other, "text", "doc_id"
        ),
        "decontaminate_fuzzy": lambda: dedup.decontaminate_fuzzy(
            corpus, other, "text", "doc_id"
        ),
        "near_dup_groups_bucket": lambda: dedup.near_dup_groups(
            corpus, "text", "doc_id", method="bucket"
        ),
        "leakage_free_split": lambda: dedup.leakage_free_split(
            corpus, "text", "doc_id"
        ),
    }[op]
    spark.catalog.clearCache()
    out = build()
    assert out.collect()
    dedup.release(out)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_two_phase_components_match_label_prop(spark):
    # large-star/small-star must produce the same components as
    # label propagation on every graph shape: random, chain, star,
    # disconnected — exercised over several deterministic seeds
    import random

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        n = 60
        es = [(rng.randrange(n), rng.randrange(n)) for _ in range(50)]
        es = [(a, b) for a, b in es if a != b]
        pairs = spark.createDataFrame(es, ["id_a", "id_b"])
        lp = {
            r["id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
        tp = {
            r["id"]: r["component"]
            for r in dedup.connected_components_two_phase(pairs).collect()
        }
        assert tp == lp, f"seed={seed}"


def test_two_phase_components_deep_chain(spark):
    # a 40-node path: diameter 39 — label prop needs 39 rounds, the
    # star alternation O(log n); both must agree, and every node must
    # resolve to the chain minimum
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["component"]
        for r in dedup.connected_components_two_phase(
            pairs, max_iterations=12
        ).collect()
    }
    assert got == {i: 0 for i in range(40)}


def test_two_phase_round_frames_are_materialized(spark):
    # r14 optimization: each round localCheckpoints BOTH star outputs
    # (the small-star references its input four times — self-union for
    # the bidirectional set, then both sides of the neighborhood join
    # — so an un-materialized large-star would re-run its shuffles up
    # to 4x per round). Pin the two guarantees the round structure
    # relies on: (a) a long path that needs several alternation rounds
    # still resolves exactly through the lazily-checkpointed
    # intermediate, and (b) the returned frame's plan is fully
    # lineage-cut — no Join survives into the result (every round's
    # work was materialized, the final plan reads checkpoint scans).
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"]
    )
    comps = dedup.connected_components_two_phase(pairs)
    got = {r["id"]: r["component"] for r in comps.collect()}
    assert got == {i: 0 for i in range(n)}
    plan = comps._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    assert "LogicalRDD" in plan or "ExistingRDD" in plan


def test_two_phase_components_string_ids(spark):
    pairs = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("x", "y")], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["component"]
        for r in dedup.connected_components_two_phase(pairs).collect()
    }
    assert got == {"b": "b", "c": "b", "d": "b", "x": "x", "y": "x"}


def test_block_gemm_invariant_to_num_blocks(spark, emb_corpus):
    # the block tiling is a physical choice: any num_blocks must produce
    # the identical pair set (each unordered pair meets in exactly one
    # block-pair group)
    base = {
        (r["id_a"], r["id_b"], r["similarity"])
        for r in dedup.embedding_near_dup_pairs(
            emb_corpus, "embedding", "vec_id", threshold=0.9, round_to=6,
            num_blocks=8,
        ).collect()
    }
    for nb in (1, 3):
        got = {
            (r["id_a"], r["id_b"], r["similarity"])
            for r in dedup.embedding_near_dup_pairs(
                emb_corpus, "embedding", "vec_id", threshold=0.9, round_to=6,
                num_blocks=nb,
            ).collect()
        }
        assert got == base, f"num_blocks={nb}"


def test_multi_table_lsh_recall_superset(spark, emb_corpus):
    # extra tables can only ADD same-bucket candidate pairs; the
    # verified similarity per pair is identical, so single-table
    # results must be a subset of the multi-table union
    from tidyvec_spark.operators.ann import random_planes

    t42 = random_planes(64, nbits=8, seed=42)
    t43 = random_planes(64, nbits=8, seed=43)
    single = {
        (r["id_a"], r["id_b"])
        for r in dedup.bucket_gemm_near_dup_pairs(
            emb_corpus, "embedding", "vec_id", t42, threshold=0.98, round_to=6
        ).collect()
    }
    multi = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_near_dup_pairs_multi(
            emb_corpus, "embedding", "vec_id", [t42, t43],
            threshold=0.98, round_to=6,
        ).collect()
    }
    assert single <= multi


def test_block_gemm_empty_input(spark):
    # the r1 broadcast formulation crashed on an empty corpus
    # (np.vstack of nothing); the block-pair rewrite must return empty
    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>"
    )
    assert dedup.embedding_near_dup_pairs(
        empty, "embedding", "vec_id", threshold=0.9
    ).count() == 0


def test_bucket_gemm_invariant_to_sub_blocks(spark, emb_corpus):
    # sub-block tiling inside a bucket is a physical (anti-skew)
    # choice: the pair set must not change
    from tidyvec_spark.operators.ann import random_planes

    planes = random_planes(64, nbits=6, seed=42)
    base = {
        (r["id_a"], r["id_b"], r["similarity"])
        for r in dedup.bucket_gemm_near_dup_pairs(
            emb_corpus, "embedding", "vec_id", planes,
            threshold=0.9, round_to=6, sub_blocks=1,
        ).collect()
    }
    for nb in (2, 4):
        got = {
            (r["id_a"], r["id_b"], r["similarity"])
            for r in dedup.bucket_gemm_near_dup_pairs(
                emb_corpus, "embedding", "vec_id", planes,
                threshold=0.9, round_to=6, sub_blocks=nb,
            ).collect()
        }
        assert got == base, f"sub_blocks={nb}"


def test_gemm_near_dup_operators_share_one_kernel(spark, emb_corpus):
    # the exact, bucketed and semantic operators run one tile kernel:
    # three blocks over one group (no key, the bucket 0 of zero planes,
    # one centroid) and one block per cluster give the identical set
    from tidyvec_spark.operators.semdedup import semantic_dedup_pairs

    def pairset(df):
        return {(r["id_a"], r["id_b"], r["similarity"]) for r in df.collect()}

    kw = dict(threshold=0.9, round_to=6)
    exact = pairset(
        dedup.embedding_near_dup_pairs(
            emb_corpus, "embedding", "vec_id", num_blocks=3, **kw
        )
    )
    assert exact, "planted near-dups must produce pairs"
    bucketed = pairset(
        dedup.bucket_gemm_near_dup_pairs(
            emb_corpus, "embedding", "vec_id", planes=[], sub_blocks=3, **kw
        )
    )
    assert bucketed == exact
    cents = spark.createDataFrame(
        [(0, [1.0] * 64)], "centroid_id INT, centroid ARRAY<DOUBLE>"
    )
    n = emb_corpus.count()
    tile_rows = -(-n // 3)
    assert -(-n // tile_rows) == 3  # the one cluster gets 3 blocks
    tiled = semantic_dedup_pairs(
        emb_corpus, "embedding", "vec_id", cents, tile_rows=tile_rows, **kw
    )
    assert pairset(tiled) == exact
    dedup.release(tiled)
    untiled = semantic_dedup_pairs(
        emb_corpus, "embedding", "vec_id", cents, tile_rows=None, **kw
    )
    assert pairset(untiled) == exact


def test_banding_knobs_raise_before_any_job(spark):
    # one _validate_banding per fingerprint family: a bands value that
    # does not divide the fingerprint width raises before a job fires
    sc = spark.sparkContext._jsc.sc()

    def last_job_id():
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return max(
            (jobs.apply(i).jobId() for i in range(jobs.size())), default=-1
        )

    docs = spark.createDataFrame([(1, "a b c")], "doc_id LONG, text STRING")
    media = spark.createDataFrame(
        [(1, bytearray(b"x"))], "doc_id LONG, content BINARY"
    )
    before = last_job_id()
    with pytest.raises(ValueError, match="must divide"):
        dedup.simhash_pairs(docs, "text", "doc_id", bits=32, bands=5)
    with pytest.raises(ValueError, match="must divide"):
        dedup.image_near_dup_pairs(media, "content", "doc_id", bands=5)
    with pytest.raises(ValueError, match="must divide"):
        dedup.audio_near_dup_pairs(media, "content", "doc_id", bands=5)
    assert last_job_id() == before


def test_incremental_near_dup_equals_full_recompute(spark, corpus):
    """The continuous-ingest contract: pairs(old) ∪ incremental(new vs
    index) == pairs(old ∪ new). Band membership is per-document, so the
    incremental path must reproduce the batch pipeline's new-touching
    pairs exactly."""
    # new batch: a near-dup of doc 0 (last word changed) + a fresh doc
    new = spark.createDataFrame(
        [
            (10000, "the quick brown fox jumps over the lazy dog again and once"),
            (10001, "an entirely novel document about distributed joins"),
        ],
        ["doc_id", "text"],
    )
    union = corpus.unionByName(new)

    def pairs(df):
        return {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup.minhash_lsh_pairs(
                df, "text", "doc_id", threshold=0.5, round_to=6
            ).collect()
        }

    full = pairs(union)
    old_only = pairs(corpus)
    index = dedup.minhash_sign(corpus, "text", "doc_id")
    inc = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.incremental_near_dup_pairs(
            new, index, "text", "doc_id", threshold=0.5, round_to=6
        ).collect()
    }
    assert old_only | inc == full
    assert inc and all(b >= 10000 for _, b, _ in inc)
    # the incremental pairs are disjoint from the old-only pairs
    assert not (inc & old_only)
    # bad band split still rejected on the incremental path
    with pytest.raises(ValueError):
        dedup.incremental_near_dup_pairs(
            new, index, "text", "doc_id", num_hashes=16, bands=5
        )


def test_decontaminate_fuzzy_drops_only_contaminated(spark, corpus):
    """Benchmark decontamination: corpus docs near-duplicating an eval
    item are dropped; everything else survives; eval-internal and
    corpus-internal duplicates are irrelevant."""
    benchmark = spark.createDataFrame(
        [
            # near-dup of corpus doc 0 (last word changed)
            (900, "the quick brown fox jumps over the lazy dog again and more"),
            (901, "totally unrelated benchmark question about biology"),
        ],
        ["doc_id", "text"],
    )
    clean = dedup.decontaminate_fuzzy(
        corpus, benchmark, "text", "doc_id", threshold=0.5
    )
    kept = sorted(r["doc_id"] for r in clean.collect())
    # docs 0 and 3 (its normalized twin) near-dup benchmark 900 -> dropped;
    # 1 is borderline-but-above at this threshold too (shares all but 2
    # shingles) -> verify against the pair kernel instead of guessing
    pairs = dedup.minhash_lsh_pairs(
        corpus.unionByName(
            benchmark.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        ),
        "text",
        "doc_id",
        threshold=0.5,
    )
    bad = {
        r["id_a"]
        for r in pairs.filter(F.col("id_b") >= 100000).collect()
    }
    assert kept == sorted(
        r["doc_id"] for r in corpus.collect() if r["doc_id"] not in bad
    )
    assert 2 in kept and 4 in kept  # unrelated + unshingleable survive
    assert 0 not in kept
    with pytest.raises(ValueError):
        dedup.decontaminate_fuzzy(corpus, benchmark, "text", "doc_id", bands=5)


def test_drop_near_dups_keep_best(spark):
    """Canonical selection keeps the highest-score member per
    component (tie -> min id) and all unique docs; the corpus is only
    touched by the final anti-join."""
    from tidyvec_spark.operators.dedup import drop_near_dups_keep_best

    corpus = spark.createDataFrame(
        [
            (1, "a", 10),
            (2, "a copy", 50),   # best of component A
            (3, "a copy2", 50),  # tie with 2 -> 2 wins (min id)
            (4, "unique", 7),    # in no component -> always kept
            (5, "b", 30),
            (6, "b copy", 20),
        ],
        "doc_id bigint, text string, score bigint",
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)], "id bigint, component bigint"
    )
    kept = sorted(
        r["doc_id"]
        for r in drop_near_dups_keep_best(
            corpus, comps, "doc_id", "score"
        ).collect()
    )
    assert kept == [2, 4, 5]


def test_dedup_lines_global(spark):
    """C4-style first-occurrence line dedup: a line repeated across
    (or within) documents survives only at the lowest (doc_id, pos);
    documents are rebuilt in original line order; fully-deduped docs
    drop unless keep_empty_docs."""
    from tidyvec_spark.operators.dedup import dedup_lines_global

    corpus = spark.createDataFrame(
        [
            (1, "alpha one\nshared banner\nalpha two"),
            (2, "shared banner\nbeta one\n\nshared banner"),
            (3, "shared banner"),          # nothing left -> dropped
            (4, "  shared banner  \ngamma"),  # trimmed key collides too
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_lines"])
        for r in dedup_lines_global(corpus, "text", "doc_id").collect()
    }
    assert out == {
        1: ("alpha one\nshared banner\nalpha two", 3),
        2: ("beta one", 1),
        4: ("gamma", 1),
    }
    with_empty = {
        r["doc_id"]: (r["text"], r["n_lines"])
        for r in dedup_lines_global(
            corpus, "text", "doc_id", keep_empty_docs=True
        ).collect()
    }
    assert with_empty[3] == ("", 0)
    assert set(with_empty) == {1, 2, 3, 4}


def test_decontaminate_ngram_hits(spark):
    """GPT-3-style exact n-gram collision: a doc quoting one benchmark
    n-gram is contaminated even when its Jaccard to the benchmark is
    tiny; min_hits raises the bar; short docs can never collide."""
    from tidyvec_spark.operators.dedup import decontaminate_ngram_hits

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string",
    )
    corpus = spark.createDataFrame(
        [
            # long doc quoting one 5-gram of the benchmark -> dropped
            (1, "intro words " + "quick brown fox jumps over" + " plus a very long unrelated tail " * 3),
            (2, "completely unrelated content about spark partitions"),
            (3, "quick brown fox"),  # < n tokens shared, only a 3-gram
        ],
        "doc_id bigint, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in decontaminate_ngram_hits(
            corpus, bench, "text", "doc_id", n=5
        ).collect()
    )
    assert kept == [2, 3]
    # min_hits=2: doc 1 has several colliding 5-grams? it quotes one
    # contiguous 5-token span -> exactly one 5-gram -> survives at 2
    kept2 = sorted(
        r["doc_id"]
        for r in decontaminate_ngram_hits(
            corpus, bench, "text", "doc_id", n=5, min_hits=2
        ).collect()
    )
    assert kept2 == [1, 2, 3]
    import pytest as pt
    with pt.raises(ValueError):
        decontaminate_ngram_hits(corpus, bench, "text", "doc_id", n=0)


def test_corpus_diff(spark):
    from tidyvec_spark.operators.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "gone"), (4, "ws   same")],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "now different"), (4, "WS same"), (5, "brand new")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["status"]
           for r in corpus_diff(old, new, "text", "doc_id").collect()}
    # 4 is whitespace/case-only -> unchanged -> excluded
    assert got == {2: "changed", 3: "removed", 5: "added"}
    full = {r["doc_id"]: r["status"]
            for r in corpus_diff(old, new, "text", "doc_id",
                                 include_unchanged=True).collect()}
    assert full[1] == "unchanged" and full[4] == "unchanged"


def test_corpus_diff_null_text(spark):
    # ADVICE r5: NULL-text rows must compare by presence, not by the
    # (NULL) normalized hash — NULL vs NULL is unchanged, NULL on one
    # side with text on the other is changed, and a NULL-text doc
    # present only in one snapshot is added/removed like any other.
    from tidyvec_spark.operators.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "text"), (4, None)],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(1, None), (2, "filled in"), (3, None), (5, None)],
        "doc_id bigint, text string",
    )
    full = {r["doc_id"]: r["status"]
            for r in corpus_diff(old, new, "text", "doc_id",
                                 include_unchanged=True).collect()}
    assert full == {
        1: "unchanged", 2: "changed", 3: "changed",
        4: "removed", 5: "added",
    }


def test_substring_dup_spans_hand_case(spark):
    from tidyvec_spark.operators.dedup import (
        substring_dup_spans,
        substring_dup_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "x x a b c d e f y y"),
            (3, "z z z z"),
        ],
        "doc_id bigint, text string",
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
        for r in substring_dup_spans(docs, "text", "doc_id", k=4).collect()
    }
    # shared run "a b c d e f": doc1 windows 0-2 -> [0,6); doc2 2-4 -> [2,8)
    assert spans == {1: (0, 6, 3), 2: (2, 8, 3)}
    stats = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_fraction"])
        for r in substring_dup_stats(docs, "text", "doc_id", k=4).collect()
    }
    assert stats == {1: (8, 6, 0.75), 2: (10, 6, 0.6), 3: (4, 0, 0.0)}


def test_substring_dup_spans_split_and_merge(spark):
    from tidyvec_spark.operators.dedup import substring_dup_spans

    docs = spark.createDataFrame(
        [
            (4, "a b c d q q q q q a b c d"),
            (5, "a b c d"),
        ],
        "doc_id bigint, text string",
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in substring_dup_spans(docs, "text", "doc_id", k=4).collect()
    )
    # doc4: two disjoint duplicated regions (gap > k), doc5: whole doc
    assert got == [(4, 0, 4), (4, 9, 13), (5, 0, 4)]
    with pytest.raises(ValueError):
        substring_dup_spans(docs, "text", "doc_id", k=0)
    with pytest.raises(ValueError):
        substring_dup_spans(docs, "text", "doc_id", min_docs=1)


def test_substring_dedup_cut_keeps_first_occurrence(spark):
    from tidyvec_spark.operators.dedup import substring_dedup_cut

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),          # owner of the shared run
            (2, "x x a b c d e f y y"),      # repeats it -> cut
            (3, "z z z z"),                  # untouched
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: (r["text"], r["n_tokens"], r["n_cut"])
           for r in substring_dedup_cut(docs, "text", "doc_id", k=4).collect()}
    assert got[1] == ("a b c d e f g h", 8, 0)       # owner untouched
    assert got[2] == ("x x y y", 4, 6)               # shared run removed
    assert got[3] == ("z z z z", 4, 0)
    # ownership is corpus-first (lowest doc), not per-pair arbitrary:
    # swap ids and the cut moves
    docs2 = spark.createDataFrame(
        [(9, "a b c d e f g h"), (2, "x x a b c d e f y y")],
        "doc_id bigint, text string",
    )
    got2 = {r["doc_id"]: r["n_cut"]
            for r in substring_dedup_cut(docs2, "text", "doc_id", k=4).collect()}
    assert got2[2] == 0 and got2[9] == 6


def test_substring_dedup_cut_preserves_untouched_text(spark):
    """Documents with nothing to cut come back byte-for-byte — case,
    whitespace, and punctuation intact — because the rebuild only
    re-assembles documents that actually lost tokens (tokenization is
    lowercase+split, so a rebuilt doc IS normalized, but an untouched
    one must never be)."""
    from tidyvec_spark.operators.dedup import substring_dedup_cut

    original = "The  QUICK   Brown\tFox! [keeps]  its_Bytes"
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "x x a b c d e f y y"),
            (3, original),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: (r["text"], r["n_cut"])
           for r in substring_dedup_cut(docs, "text", "doc_id", k=4).collect()}
    assert got[3] == (original, 0)
    assert got[1] == ("a b c d e f g h", 0)  # owner also untouched
    assert got[2] == ("x x y y", 6)


def test_substring_dedup_cut_carry_passthrough(spark):
    """carry= threads extra input columns through the cut unchanged
    (the funnel's per-stage length seam, r15) while every cut result —
    text, n_tokens, n_cut — stays identical to the carry-free call."""
    from pyspark.sql import functions as F

    from tidyvec_spark.operators.dedup import substring_dedup_cut

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h", 11),
            (2, "x x a b c d e f y y", 22),
            (3, "z z z z", 33),
        ],
        "doc_id bigint, text string, tag int",
    ).withColumn("__l", F.length("text"))
    plain = {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_cut"])
        for r in substring_dedup_cut(docs, "text", "doc_id", k=4).collect()
    }
    carried = substring_dedup_cut(
        docs, "text", "doc_id", k=4, carry=("tag", "__l")
    ).collect()
    assert set(carried[0].asDict()) == {
        "doc_id", "text", "n_tokens", "n_cut", "tag", "__l"
    }
    want_tag = {1: 11, 2: 22, 3: 33}
    for r in carried:
        assert (r["text"], r["n_tokens"], r["n_cut"]) == plain[r["doc_id"]]
        assert r["tag"] == want_tag[r["doc_id"]]
    # carried length is the INPUT text's length, untouched by the cut
    lens = {r["doc_id"]: r["__l"] for r in carried}
    assert lens == {1: 15, 2: 19, 3: 7}


def test_shared_line_matrix(spark):
    from tidyvec_spark.operators.dedup import shared_line_matrix

    docs = spark.createDataFrame(
        [
            (1, "web", "cookie banner\nunique web one"),
            (2, "web", "cookie banner\nunique web two"),
            (3, "books", "cookie banner\nchapter one"),
            (4, "wiki", "infobox\nchapter one"),
        ],
        "doc_id bigint, source string, text string",
    )
    got = {(r["source_a"], r["source_b"]): r["n_shared_lines"]
           for r in shared_line_matrix(docs, "text", "source").collect()}
    # diagonal = distinct lines per source
    assert got[("web", "web")] == 3     # banner + two uniques
    assert got[("books", "books")] == 2
    assert got[("wiki", "wiki")] == 2
    # off-diagonal overlaps
    assert got[("books", "web")] == 1   # cookie banner
    assert got[("books", "wiki")] == 1  # chapter one
    assert ("web", "wiki") not in got   # nothing shared


def test_drop_exact_dups_weighted(spark):
    from tidyvec_spark.operators.dedup import drop_exact_dups_weighted

    df = spark.createDataFrame(
        [(1, "same"), (2, "SAME  "), (3, "unique"), (9, "same")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["n_copies"]
           for r in drop_exact_dups_weighted(df, "text", "doc_id").collect()}
    assert got == {1: 3, 3: 1}


def test_winnow_guarantee_shared_run(spark):
    """The winnowing guarantee: two documents sharing a run of
    w + k - 1 tokens share at least one fingerprint."""
    from tidyvec_spark.operators.dedup import winnow_pairs

    shared = "one two three four five six seven eight"  # 8 = 4 + 5 - 1
    df = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma delta epsilon zeta"),
            (2, f"completely different prefix {shared} and a different tail"),
            (3, "no overlap with anything here at all whatsoever truly"),
        ],
        "doc_id long, text string",
    )
    pairs = winnow_pairs(df, "text", "doc_id", k=5, w=4, min_shared=1)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert not any(3 in p for p in got)


def test_winnow_short_doc_single_window(spark):
    """A doc with fewer than w k-grams still fingerprints (its global
    min); an empty doc contributes nothing."""
    from tidyvec_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(df, "text", "doc_id", k=5, w=4)
    rows = fp.collect()
    assert {r.doc_id for r in rows} == {1}
    assert len(rows) == 1  # 2 grams < w -> exactly one global-min fp


def test_winnow_hot_cap_drops_boilerplate(spark):
    """A fingerprint present in every doc is excluded from the join by
    max_doc_freq, so pairs riding only on it disappear."""
    from tidyvec_spark.operators.dedup import winnow_pairs

    boiler = "this footer appears on every single page here"
    df = spark.createDataFrame(
        [(i, f"unique{i} content{i} words{i} {boiler}") for i in range(6)],
        "doc_id long, text string",
    )
    capped = winnow_pairs(
        df, "text", "doc_id", k=5, w=4, min_shared=1, max_doc_freq=3
    )
    uncapped = winnow_pairs(
        df, "text", "doc_id", k=5, w=4, min_shared=1, max_doc_freq=None
    )
    assert capped.count() == 0
    assert uncapped.count() == 15  # all C(6,2) pairs share the boilerplate


def test_winnow_validation(documents):
    import pytest as pt

    from tidyvec_spark.operators.dedup import winnow_fingerprints, winnow_pairs

    with pt.raises(ValueError):
        winnow_fingerprints(documents, "text", "doc_id", k=0)
    with pt.raises(ValueError):
        winnow_pairs(documents, "text", "doc_id", min_shared=0)


def test_soft_dedup_unique_docs_always_kept(spark):
    """Docs outside any component have weight 1 and always survive the
    unit-hash trial (u < 1.0 for every u)."""
    from tidyvec_spark.operators.dedup import soft_dedup_sample

    df = spark.createDataFrame(
        [(i, f"unique text {i}") for i in range(50)],
        "doc_id long, text string",
    )
    comps = spark.createDataFrame([], "id long, component long")
    out = soft_dedup_sample(df, comps, "doc_id")
    rows = out.collect()
    assert len(rows) == 50
    assert all(r.cluster_size == 1 and r.weight == 1.0 for r in rows)


def test_soft_dedup_expected_one_per_cluster(spark):
    """Over many 4-member clusters, ~1/4 of members survive — and the
    selection is deterministic under the salt (same result twice)."""
    from tidyvec_spark.operators.dedup import soft_dedup_sample

    n_clusters = 200
    rows = [
        (c * 10 + m, f"cluster {c}") for c in range(n_clusters)
        for m in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    comps = spark.createDataFrame(
        [(r[0], r[0] // 10) for r in rows], "id long, component long"
    )
    out = soft_dedup_sample(df, comps, "doc_id", salt="s")
    kept = sorted(r.doc_id for r in out.collect())
    # E[kept] = 200; binomial(800, 1/4) is within +-4 sigma of 200
    assert 150 <= len(kept) <= 250
    again = sorted(
        r.doc_id
        for r in soft_dedup_sample(df, comps, "doc_id", salt="s").collect()
    )
    assert kept == again
    assert all(
        r.weight == 0.25 and r.cluster_size == 4 for r in out.collect()
    )


def test_overlap_degree_template_flags(spark):
    pairs = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 2), (1, 4, 2), (2, 3, 2)],
        "id_a long, id_b long, n_shared long",
    )
    docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    from tidyvec_spark.operators.dedup import overlap_degree

    got = {
        r["id"]: (r["n_partners"], r["is_template"])
        for r in overlap_degree(docs, pairs, "doc_id", min_partners=3).collect()
    }
    assert got == {
        1: (3, True),   # partners 2,3,4
        2: (2, False),  # partners 1,3
        3: (2, False),
        4: (1, False),
        5: (0, False),
        6: (0, False),
    }
    import pytest as pt

    with pt.raises(ValueError):
        overlap_degree(docs, pairs, "doc_id", min_partners=0)


def test_containment_catches_embedded_snippets_jaccard_misses(spark, documents):
    """A 25-token snippet of a 90-token doc has containment ~1.0 to
    its source but Jaccard well under 0.5 — the embedded-duplication
    class only containment detects."""
    from pyspark.sql import functions as F

    from tidyvec_spark.functions.text import tokens
    from tidyvec_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = documents.select("doc_id", "text").filter(
        F.size(tokens("text")) >= 60
    )
    snips = docs.limit(20).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat_ws(" ", F.slice(tokens("text"), 1, 25)).alias("text"),
    )
    corpus = docs.unionByName(snips)
    cont = ngram_containment_pairs(
        corpus, "text", "doc_id", threshold=0.8, max_doc_freq=None
    ).collect()
    cont_pairs = {(r["id_a"], r["id_b"]) for r in cont}
    # every snippet pairs with its source at high containment
    snip_ids = {r["doc_id"] for r in snips.collect()}
    own = {
        (a, b) for a, b in cont_pairs if b in snip_ids and a == b - 20000
    }
    assert len(own) >= 15  # nearly every snippet found with its source
    for r in cont:
        assert 0.8 <= r["containment"] <= 1.0
    # jaccard at the usual 0.5 threshold misses those same pairs
    jac = ngram_jaccard_pairs(
        corpus, "text", "doc_id", threshold=0.5, max_doc_freq=None
    ).collect()
    jac_pairs = {(r["id_a"], r["id_b"]) for r in jac}
    assert not (own & jac_pairs)


def test_drop_contained_docs_keeps_supersets(spark, documents):
    from pyspark.sql import functions as F

    from tidyvec_spark.functions.text import tokens
    from tidyvec_spark.operators.dedup import drop_contained_docs

    docs = documents.select("doc_id", "text").filter(
        F.size(tokens("text")) >= 60
    )
    snips = docs.limit(15).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat_ws(" ", F.slice(tokens("text"), 1, 25)).alias("text"),
    )
    corpus = docs.unionByName(snips)
    kept = {
        r["doc_id"]
        for r in drop_contained_docs(
            corpus, "text", "doc_id", threshold=0.8, max_doc_freq=None
        ).collect()
    }
    snip_ids = {r["doc_id"] for r in snips.collect()}
    # every snippet dies
    assert not (kept & snip_ids)
    # a dropped SOURCE is legitimate only when it is itself embedded
    # in another non-snippet doc (the sf0.001 fixture really has such
    # pairs: e.g. doc 8 ⊂ docs 12/120/360) — verify each casualty
    from tidyvec_spark.operators.dedup import ngram_containment_pairs

    dropped_sources = {i - 20000 for i in snip_ids} - kept
    if dropped_sources:
        pairs = ngram_containment_pairs(
            corpus, "text", "doc_id", threshold=0.8, max_doc_freq=None
        ).collect()
        for s in dropped_sources:
            partners = [
                r for r in pairs
                if s in (r["id_a"], r["id_b"])
                and (r["id_b"] if r["id_a"] == s else r["id_a"]) < 20000
            ]
            assert partners, f"source {s} dropped with no superset"


class TestBinaryDedup:
    """dedup_binary_exact: byte-identical media dedup, both paths."""

    @pytest.fixture(scope="class")
    def media(self, spark):
        rows = [
            (1, bytearray(b"\x89PNG\x01\x02")),
            (2, bytearray(b"\x89PNG\x01\x02")),   # dup of 1 (same bytes)
            (3, bytearray(b"\x89PNG\x01\x03")),   # same length, different bytes
            (4, bytearray(b"RIFFxxxxWAVE")),      # unique length
            (5, bytearray(b"\x89PNG\x01\x02")),   # another dup of 1
        ]
        return spark.createDataFrame(rows, "doc_id long, content binary")

    def test_keeps_min_id_per_blob(self, media):
        from tidyvec_spark.operators.dedup import dedup_binary_exact

        kept = sorted(
            r["doc_id"]
            for r in dedup_binary_exact(media, "content", "doc_id").collect()
        )
        assert kept == [1, 3, 4]

    def test_prefilter_path_identical(self, media):
        from tidyvec_spark.operators.dedup import dedup_binary_exact

        plain = sorted(
            r["doc_id"]
            for r in dedup_binary_exact(media, "content", "doc_id").collect()
        )
        pre = sorted(
            r["doc_id"]
            for r in dedup_binary_exact(
                media, "content", "doc_id", length_prefilter=True
            ).collect()
        )
        assert plain == pre == [1, 3, 4]

    def test_prefilter_skips_unique_lengths(self, spark, media):
        """The unique-length blob must survive without being hashed —
        its plan branch is a broadcast anti-join, not an md5 project."""
        from tidyvec_spark.operators.dedup import dedup_binary_exact

        out = dedup_binary_exact(
            media, "content", "doc_id", length_prefilter=True
        )
        assert {r["doc_id"] for r in out.collect()} >= {4}


def test_prefix_dup_groups_catches_tail_mutations(spark):
    from tidyvec_spark.operators.dedup import prefix_dup_groups

    head = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, head + " original ending"),
        (2, head + " mirrored with a brand new footer"),
        (3, "a completely different document body here"),
        (4, head + " third copy"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    groups = prefix_dup_groups(df, "text", "doc_id", n_tokens=12).collect()
    assert len(groups) == 1
    assert groups[0]["n_copies"] == 3 and groups[0]["keep_id"] == 1

    # documents shorter than the prefix group on their whole text
    short = spark.createDataFrame(
        [(1, "same words"), (2, "same words"), (3, "other")],
        "doc_id INT, text STRING",
    )
    g2 = prefix_dup_groups(short, "text", "doc_id", n_tokens=20).collect()
    assert len(g2) == 1 and g2[0]["n_copies"] == 2

    import pytest

    with pytest.raises(ValueError):
        prefix_dup_groups(df, "text", "doc_id", n_tokens=0)


def test_ngram_jaccard_exact_path_row_bound(spark):
    """max_doc_freq=None is eval-only: quadratic in hot-shingle doc
    frequency, so the exact path counts the input and raises past
    exact_row_bound (r7 verdict watch item)."""
    from tidyvec_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(i, "a b c d") for i in range(5)], "doc_id INT, text STRING"
    )
    with pytest.raises(ValueError, match="exact_row_bound"):
        ngram_jaccard_pairs(
            df, "text", "doc_id", max_doc_freq=None, exact_row_bound=2
        )
    # opting out of the guard (or a corpus under the bound) still works
    assert (
        ngram_jaccard_pairs(
            df, "text", "doc_id", max_doc_freq=None, exact_row_bound=None
        ).count()
        == 10
    )


def test_fuzzy_decontamination_catches_near_copies(spark):
    """The fuzzy rule must catch truncated/paraphrased benchmark
    copies that share most shingles; decontaminate_fuzzy drops
    exactly the hit ids; unrelated docs are untouched."""
    from tidyvec_spark.operators.dedup import (
        decontaminate_fuzzy,
        fuzzy_contamination_hits,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, "completely different text about spark shuffle partitions and joins here"),
            (3, base.replace("lazy", "sleepy")),  # 1-word edit of base
        ],
        "doc_id INT, text STRING",
    )
    # benchmark: base truncated by 3 words — no long exact n-gram
    # SUFFIX shared, but most shingles survive
    bench = spark.createDataFrame(
        [(100, " ".join(base.split()[:-3]))], "doc_id INT, text STRING"
    )
    hits = fuzzy_contamination_hits(
        corpus, bench, "text", "doc_id", threshold=0.5
    )
    got = {(r["doc_id"], r["bench_id"]) for r in hits.collect()}
    assert (1, 100) in got
    assert all(c != 2 for c, _ in got)
    kept = decontaminate_fuzzy(corpus, bench, "text", "doc_id")
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 2 in kept_ids and 1 not in kept_ids
    assert kept_ids | {r[0] for r in got} == {1, 2, 3}

    with pytest.raises(ValueError, match="divide"):
        fuzzy_contamination_hits(corpus, bench, "text", "doc_id", bands=5)


def test_bucket_grouping_superset_of_verified(spark):
    """method='bucket' groups anything sharing a band bucket (no
    verify), so its components are a coarsening of the verified ones:
    every verified group sits inside one bucket group; bucket-star
    edge count is bounded by n*bands."""
    from tidyvec_spark.operators.dedup import (
        lsh_bucket_star_edges,
        near_dup_groups,
    )

    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [(i, base + f" tail {i}") for i in range(6)]
    rows += [(100 + i, f"completely unrelated text number {i} about "
              f"spark shuffles and joins partition {i}") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    ver = near_dup_groups(df, "text", "doc_id", method="verify")
    buc = near_dup_groups(df, "text", "doc_id", method="bucket")
    vmap = {r["id"]: r["component"] for r in ver.collect()}
    bmap = {r["id"]: r["component"] for r in buc.collect()}
    # every verified group member is grouped (same partner set or
    # coarser) in the bucket components
    assert set(vmap) <= set(bmap)
    for a in vmap:
        for b in vmap:
            if vmap[a] == vmap[b]:
                assert bmap[a] == bmap[b]
    edges = lsh_bucket_star_edges(df, "text", "doc_id")
    assert edges.count() <= df.count() * 4

    import pytest

    with pytest.raises(ValueError, match="method"):
        near_dup_groups(df, "text", "doc_id", method="nope")


def test_exact_dedup_key_fn_seam_catches_homoglyph_spoofs(spark):
    """The key_fn seam: exact dedup under the confusable-folded key
    collapses a Cyrillic-spoofed copy the default law keeps."""
    from tidyvec_spark.functions.quality import confusable_fold_expr
    from tidyvec_spark.operators.dedup import (
        drop_exact_dups,
        exact_dup_groups,
        normalized_text_key,
    )

    df = spark.createDataFrame(
        [(1, "page with spam"), (2, "раgе with sраm"), (3, "other")],
        "doc_id INT, text STRING",
    )
    assert exact_dup_groups(df, "text", "doc_id").count() == 0
    folded = lambda c: normalized_text_key(confusable_fold_expr(c))
    g = exact_dup_groups(df, "text", "doc_id", key_fn=folded).collect()
    assert len(g) == 1 and g[0]["n_copies"] == 2 and g[0]["keep_id"] == 1
    kept = {
        r["doc_id"]
        for r in drop_exact_dups(
            df, "text", "doc_id", key_fn=folded
        ).collect()
    }
    assert kept == {1, 3}


def test_near_dup_groups_lpa_resists_bridge_merge(spark):
    """method='lpa': two dense near-dup groups joined by one bridge
    document stay DISTINCT communities (the bridge vote never outvotes
    a group's internal majority), where method='verify' (connected
    components) merges everything reachable into one."""
    from pyspark.sql import functions as F

    from tidyvec_spark.operators.dedup import near_dup_groups

    a_words = "alpha beta gamma delta epsilon zeta eta theta"
    b_words = "red orange yellow green blue indigo violet pink"
    rows = [(i, f"{a_words} tail{i % 2}") for i in range(5)]
    rows += [(10 + i, f"{b_words} tail{i % 2}") for i in range(5)]
    # the bridge shares ~a third of its shingles with EACH side; at
    # 16x1 banding it verifiably pairs with all ten core docs
    rows += [(
        99,
        "gamma delta epsilon zeta eta theta "
        "red orange yellow green blue indigo",
    )]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    kw = dict(num_hashes=16, bands=16, shingle_n=2, threshold=0.2)
    cc = near_dup_groups(df, "text", "doc_id", method="verify", **kw)
    assert cc.select("component").distinct().count() == 1  # CC merged
    got = {
        r["id"]: r["component"]
        for r in near_dup_groups(
            df, "text", "doc_id", method="lpa", **kw
        ).collect()
    }
    a_comms = {got[i] for i in range(5)}
    b_comms = {got[10 + i] for i in range(5)}
    assert len(a_comms) == 1 and len(b_comms) == 1
    assert a_comms != b_comms    # LPA keeps the cores apart
    assert got[99] in a_comms | b_comms  # the bridge joins ONE side


def test_gemm_near_dup_paths_skip_null_embeddings(spark):
    from tidyvec_spark.operators.ann import random_planes
    from tidyvec_spark.operators.dedup import (
        bucket_gemm_near_dup_pairs,
        embedding_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, None)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, "embedding", "vec_id", threshold=0.9, num_blocks=2
        ).collect()
    }
    assert got == {(1, 2)}
    planes = random_planes(2, nbits=2, seed=7)
    for sb in (1, 2):
        got2 = {
            (r["id_a"], r["id_b"])
            for r in bucket_gemm_near_dup_pairs(
                df, "embedding", "vec_id", planes, threshold=0.9,
                sub_blocks=sb,
            ).collect()
        }
        assert got2 == {(1, 2)}, f"sub_blocks={sb}"


def test_dup_ngram_coverage_exact(spark):
    """dup_ngram_coverage: exact positional coverage — 'a b a b c'
    has bigram 'a b' twice covering tokens 0..1 and 2..3 (4 of 5);
    a doc with all-unique bigrams scores 0; short docs never emit a
    descending sequence."""
    import pytest

    from tidyvec_spark.operators.dedup import dup_ngram_coverage

    docs = spark.createDataFrame(
        [(0, "a b a b c"), (1, "x y z"), (2, "w"), (3, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in
           dup_ngram_coverage(docs, "text", "doc_id", n=2).collect()}
    assert got[0]["n_tokens"] == 5 and got[0]["n_covered"] == 4
    assert abs(got[0]["dup_frac"] - 0.8) < 1e-9
    assert got[1]["n_covered"] == 0 and got[1]["dup_frac"] == 0.0
    assert got[2]["n_covered"] == 0  # no bigram at all
    assert got[3]["n_tokens"] == 0 and got[3]["dup_frac"] == 0.0
    with pytest.raises(ValueError, match="n must"):
        dup_ngram_coverage(docs, "text", "doc_id", n=0)


def test_jaccard_prefix_pairs_lossless_vs_bruteforce(spark):
    """jaccard_prefix_pairs (AllPairs/PPJoin prefix filtering): equals
    the brute-force all-pairs Jaccard exactly — the prefix index loses
    no pair — on a corpus engineered with near-dups, exact dups, and
    disjoint docs; unigram and shingle element laws both hold;
    validation raises."""
    import itertools

    import pytest
    from pyspark.sql import functions as F

    from tidyvec_spark.operators.dedup import jaccard_prefix_pairs

    vocab = [f"w{i}" for i in range(30)]
    texts = {
        1: " ".join(vocab[:20]),
        2: " ".join(vocab[:18] + ["x1", "x2"]),   # J(1,2)=18/22
        3: " ".join(vocab[:20]),                   # exact dup of 1
        4: " ".join(vocab[10:30]),                 # J(1,4)=10/30
        5: "q1 q2 q3 q4 q5",                       # disjoint
        6: " ".join(vocab[:5]),                    # subset, small
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )

    def brute(t):
        sets = {k: set(v.split()) for k, v in texts.items()}
        out = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            i = len(sets[a] & sets[b])
            j = i / (len(sets[a]) + len(sets[b]) - i)
            if j >= t:
                out[(a, b)] = round(j, 6)
        return out

    for t in (0.3, 0.5, 0.8, 1.0):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_prefix_pairs(
                df, "text", "doc_id", threshold=t, round_to=6
            ).collect()
        }
        assert got == brute(t), f"t={t}"
    # the exact-dup pair is found at t=1.0 with J=1.0
    assert brute(1.0) == {(1, 3): 1.0}

    with pytest.raises(ValueError, match="threshold"):
        jaccard_prefix_pairs(df, "text", "doc_id", threshold=0.0)
    with pytest.raises(ValueError, match="shingle_n"):
        jaccard_prefix_pairs(df, "text", "doc_id", shingle_n=0)


def test_dup_cluster_stats_laws(spark):
    """dup_cluster_stats: hand case — 3 singletons, one pair, one
    triple → rows (1,3,3), (2,1,2), (3,1,3); doc_share sums to 1;
    normalization folds case/whitespace into the same cluster."""
    from tidyvec_spark.operators.dedup import dup_cluster_stats

    rows = [
        (1, "alpha"), (2, "beta"), (3, "gamma"),
        (4, "dup  one"), (5, "DUP ONE"),              # pair via norm
        (6, "tri"), (7, " tri "), (8, "TRI"),         # triple via norm
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["size"]: r for r in
           dup_cluster_stats(df, "text", "doc_id", round_to=6).collect()}
    assert (got[1]["n_clusters"], got[1]["n_docs"]) == (3, 3)
    assert (got[2]["n_clusters"], got[2]["n_docs"]) == (1, 2)
    assert (got[3]["n_clusters"], got[3]["n_docs"]) == (1, 3)
    assert round(sum(r["doc_share"] for r in got.values()), 6) == 1.0
    assert got[2]["doc_share"] == 0.25


@pytest.fixture(scope="module")
def curation_docs(spark):
    """Small seeded corpus for the curation dedup chain: shared
    boilerplate lines, a 30-token passage quoted by several documents,
    exact copies (case and whitespace variants) and near copies (one
    word changed per line)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(400)]

    def line(n=20):
        return " ".join(rng.choice(vocab) for _ in range(n))

    banner = "accept all cookies to keep reading this page"
    passage = line(30)
    docs = {}
    for i in range(24):
        lines = [line() for _ in range(3)]
        if i % 4 == 0:
            lines.append(banner)
        if i % 5 == 0:
            lines.insert(1, passage)
        docs[i] = lines
    rows = [(i, "\n".join(ls)) for i, ls in docs.items()]
    for j, src in enumerate((0, 3, 7)):
        rows.append((100 + j, "\n".join(docs[src]).upper().replace(" ", "  ")))
    for j, src in enumerate((1, 6, 11)):
        near = []
        for ln in docs[src]:
            words = ln.split(" ")
            words[2] = "changed"
            near.append(" ".join(words))
        rows.append((200 + j, "\n".join(near)))
    return spark.createDataFrame(rows, "id long, text string")


def _curation_chain(docs):
    df = dedup.drop_exact_dups(docs, "text", "id")
    df = dedup.dedup_lines_global(df, "text", "id")
    cut = dedup.substring_dedup_cut(df, "text", "id", k=20)
    groups = dedup.near_dup_groups(
        cut, "text", "id", num_hashes=32, bands=16, shingle_n=3, threshold=0.5
    )
    kept = dedup.drop_near_dups_keep_best(cut, groups, "id", "n_tokens")
    out = (
        sorted((r["id"], r["text"]) for r in kept.select("id", "text").collect()),
        sorted((r["id"], r["component"]) for r in groups.collect()),
    )
    dedup.release(cut)
    dedup.release(groups)
    return out


def test_curation_chain_invariant_to_shuffle_partitions(spark, curation_docs):
    """drop_exact_dups → dedup_lines_global → substring_dedup_cut →
    near_dup_groups → drop_near_dups_keep_best gives the same survivors
    and components at 1 and 7 shuffle partitions: frames that already
    shuffled keep the width their shuffle gave them (ensure_parallelism
    no longer widens them), and that width must not change a result."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    runs = []
    try:
        for n in (1, 7):
            spark.conf.set(key, str(n))
            runs.append(_curation_chain(curation_docs))
    finally:
        spark.conf.set(key, prev)
    (kept1, comps1), (kept7, comps7) = runs
    assert kept1 == kept7
    assert comps1 == comps7
    ids = {i for i, _ in kept1}
    # the planted copies are found: exact copies and near copies go
    assert not ids & {100, 101, 102}
    assert {i for i, _ in comps1} >= {1, 6, 11, 200, 201, 202}
    assert len(ids) == 24
