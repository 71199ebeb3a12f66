"""Plan-shape regression tests: the 100 TB properties, pinned.

A wrong plan shape at sf0.001 is the same wrong plan at 100 TB — these
tests fail on shape regressions (lost pushdown, lost broadcast, global
sort instead of top-k heaps) even while answers stay correct.
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from tidyvec_spark import plans as P

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return entry.queries()


def test_q1_filter_pushed_and_pruned(spark, qs):
    df = qs["q1_pricing"](spark, SF)
    P.assert_filter_pushed(df, "l_shipdate")
    # scan must not read uninvolved wide columns
    for cols in P.read_schemas(df):
        assert "l_comment" not in cols


def test_q3_broadcasts_customer(spark, qs):
    df = qs["q3_top_orders"](spark, SF)
    P.assert_broadcast(df, at_least=1)
    P.assert_no_cartesian(df)
    assert P.has_take_ordered(df)
    P.assert_filter_pushed(df, "c_mktsegment")


def test_q5_broadcasts_dims(spark, qs):
    df = qs["q5_region_revenue"](spark, SF)
    P.assert_broadcast(df, at_least=2)  # nation, region, supplier
    P.assert_no_cartesian(df)


def test_knn_is_scan_plus_topk(spark, qs):
    df = qs["knn_cosine"](spark, SF)
    assert P.has_take_ordered(df)  # no global sort
    assert P.num_shuffles(df) == 0  # single scan, per-partition heaps


def test_metadata_query_prunes_embedding(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = emb.groupBy("label").agg(F.count("*").alias("n"))
    P.assert_column_pruned(df, "embedding")


def test_ann_lsh_no_shuffle_before_topk(spark, qs):
    df = qs["ann_lsh_topk"](spark, SF)
    # bucket + filter + rerank is map-side; only TakeOrdered merges
    assert P.has_take_ordered(df)
    assert P.num_shuffles(df) == 0


def test_tfidf_search_has_codegen(spark, qs):
    df = qs["tfidf_search"](spark, SF)
    assert P.codegen_stage_count(df) >= 1


def test_tfidf_search_no_single_partition_sort(spark, qs):
    # the dense vocab index (global Window.orderBy) is deferred to the
    # dense parity path; the sparse search plan must not pay its
    # single-partition Exchange
    df = qs["tfidf_search"](spark, SF)
    s = P.explain_str(df)
    assert "SinglePartition" not in s
    assert "Window" not in s


def test_dedup_pair_generators_never_cartesian(spark, qs):
    # candidate generation must stay an equi-join on a band/bucket key
    for q in ("minhash_lsh_pairs", "simhash_pairs", "ngram_jaccard_pairs"):
        P.assert_no_cartesian(qs[q](spark, SF))


def test_ngram_jaccard_default_is_capped(spark):
    # a DEFAULT call must carry the hot-shingle broadcast anti-join —
    # the uncapped 10^12-row inverted-index self-join requires an
    # explicit max_doc_freq=None opt-out
    from tidyvec_spark.operators.dedup import ngram_jaccard_pairs, release

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = ngram_jaccard_pairs(docs, "text", "doc_id")
    s = P.explain_str(df)
    assert "LeftAnti" in s, "default ngram_jaccard_pairs lost the shingle cap"
    assert "BroadcastHashJoin" in s or "BroadcastExchange" in s
    uncapped = ngram_jaccard_pairs(docs, "text", "doc_id", max_doc_freq=None)
    assert "LeftAnti" not in P.explain_str(uncapped)
    release(df)
    release(uncapped)


def test_embedding_near_dup_is_distributed_block_gemm(spark, qs):
    # the exact all-pairs kernel is block-pair GEMM via applyInPandas:
    # no join, no cartesian, and — critically — no driver collect of
    # the corpus (the r1 scale-killer); the only exchanges are the
    # block-pair groupBy and the small-file parallelism guard
    df = qs["embedding_near_dup"](spark, SF)
    P.assert_no_cartesian(df)
    assert "FlatMapGroupsInPandas" in P.explain_str(df)
    assert P.num_shuffles(df) <= 2


def test_embedding_near_dup_never_driver_collects():
    # pin the fix for the r1 finding: the corpus must never pass
    # through the driver (toPandas/collect/broadcast) in any near-dup
    # pair generator
    import inspect

    from tidyvec_spark.operators import dedup

    for fn in (
        dedup._gemm_pairs,
        dedup.embedding_near_dup_pairs,
        dedup.bucket_gemm_near_dup_pairs,
        dedup.lsh_near_dup_pairs,
    ):
        src = inspect.getsource(fn)
        for banned in ("toPandas", ".collect(", "broadcast("):
            assert banned not in src, f"{fn.__name__} uses {banned}"


def test_similarity_join_lsh_is_equi_join(spark, qs):
    # the large×large %~% path must candidate-generate via the bucket
    # equi-join — a cartesian/broadcast-nested-loop here means the LSH
    # restriction was lost and the plan is O(n·m) at scale
    df = qs["similarity_join_lsh"](spark, SF)
    P.assert_no_cartesian(df)
    js = P.join_strategies(df)
    assert not any("NestedLoop" in j for j in js), js


def test_bucketed_gemm_near_dup_single_shuffle(spark, qs):
    # bucket key is a map-side expression; the only exchanges are the
    # bucket groupBy and the small-file parallelism guard
    df = qs["bucketed_gemm_near_dup"](spark, SF)
    P.assert_no_cartesian(df)
    assert "FlatMapGroupsInPandas" in P.explain_str(df)
    assert P.num_shuffles(df) <= 2


def test_drop_exact_dups_preaggregates(spark, qs):
    # keep-set is groupBy-min + join back: a million-copy document
    # pre-combines map-side instead of serializing through one window
    # partition; pin no-Window and a partial aggregation in the plan
    df = qs["dedup_drop_exact"](spark, SF)
    s = P.explain_str(df)
    assert "Window" not in s
    assert "partial_min" in s


def test_exact_dedup_single_shuffle(spark, qs):
    # hash → groupBy: exactly one exchange on the content-hash key
    df = qs["exact_dup_groups"](spark, SF)
    assert P.num_shuffles(df) == 1


def test_events_hourly_single_shuffle(spark, qs):
    # tumbling-window agg: partial map-side combine, one exchange
    df = qs["events_hourly"](spark, SF)
    assert P.num_shuffles(df) == 1


def test_ivf_topk_zero_shuffle(spark, qs):
    # centroid assignment is a map-side BLAS argmin (mapInPandas); the
    # driver-ranked probe IN-filter + TakeOrdered complete the plan
    # without any exchange
    df = qs["ann_ivf_topk"](spark, SF)
    assert P.num_shuffles(df) == 0
    assert P.has_take_ordered(df)


def test_curation_ops_stay_map_side(spark, qs):
    """The quality/redact/temperature/fixed-n family is the 100 TB
    'one scan' claim — pin their shuffle budgets."""
    from tidyvec_spark import plans as P

    # quality_flags opts into the input-parallelism round-robin spread
    # (_read(par=True)); keyed data movement stays zero
    assert P.num_data_shuffles(qs["docs_quality_flags"](spark, SF)) == 0
    assert P.num_shuffles(qs["docs_redact"](spark, SF)) == 0
    assert P.num_shuffles(qs["docs_chunks"](spark, SF)) == 0
    # temperature: the keep-filter itself is map-side (the fraction fit
    # runs one tiny aggregate driver-side, before this plan exists)
    assert P.num_shuffles(qs["mix_temperature"](spark, SF)) == 0
    # fixed-n / packing: exactly the one window shuffle
    assert P.num_shuffles(qs["sample_fixed_per_lang"](spark, SF)) == 1
    assert P.num_shuffles(qs["docs_pack"](spark, SF)) == 1


def test_sq_and_matryoshka_plans(spark, qs):
    from tidyvec_spark import plans as P

    m = qs["matryoshka_topk"](spark, SF)
    assert P.num_shuffles(m) == 0
    assert P.has_take_ordered(m)
    h = qs["embedding_health"](spark, SF)
    assert P.num_shuffles(h) == 0


def test_q6_all_predicates_pushed(spark, qs):
    """Q6 is the pushdown poster child: every predicate reaches the
    parquet scan and only the 4 involved columns are read."""
    df = qs["q6_forecast_revenue"](spark, SF)
    P.assert_filter_pushed(df, "l_shipdate")
    P.assert_filter_pushed(df, "l_discount")
    P.assert_filter_pushed(df, "l_quantity")
    for cols in P.read_schemas(df):
        assert set(cols) <= {
            "l_shipdate", "l_discount", "l_quantity", "l_extendedprice"
        }


def test_q4_semi_join_not_nested_loop(spark, qs):
    """The EXISTS stays a hash LEFT SEMI on the order key; the date
    inequality is a residual, not a nested-loop driver."""
    df = qs["q4_order_priority"](spark, SF)
    P.assert_no_cartesian(df)
    assert not any(
        "NestedLoop" in s for s in P.join_strategies(df)
    ), P.join_strategies(df)


def test_q10_q14_q18_broadcast_dims(spark, qs):
    for name in ("q10_returned_items", "q14_promo_revenue", "q18_large_orders"):
        df = qs[name](spark, SF)
        P.assert_broadcast(df, at_least=1)
        P.assert_no_cartesian(df)


def test_q19_disjunction_stays_equi_join(spark, qs):
    """The OR-block predicate must not degrade the partkey equi-join
    to a nested loop; the quantity hull is pushable to the scan."""
    df = qs["q19_disjunctive_revenue"](spark, SF)
    P.assert_no_cartesian(df)
    assert not any("NestedLoop" in s for s in P.join_strategies(df))
    P.assert_broadcast(df, at_least=1)


def test_bq_code_scan_prunes_float_column(spark):
    """Hamming search over precomputed codes must not read the float
    embedding column — that pruning IS the 32x scan win."""
    from tidyvec_spark.operators.bq import bq_encode, bq_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    import tempfile
    path = tempfile.mkdtemp(prefix="tv_bq_") + "/codes"
    bq_encode(
        e.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        "embedding", dim=64,
    ).write.parquet(path)
    coded = spark.read.parquet(path)
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]
    df = bq_topk(coded, "embedding", "vec_id", q, k=5, code_col="bq")
    for cols in P.read_schemas(df):
        assert "embedding" not in cols, cols
    assert P.has_take_ordered(df)


def test_serving_shuffle_single_shuffle(spark, qs):
    df = qs["serving_shuffle"](spark, SF)
    assert P.num_shuffles(df) == 1  # only the per-shard rank window
    P.assert_no_cartesian(df)


def test_dedup_lines_bounded_shuffles(spark, qs):
    df = qs["docs_dedup_lines"](spark, SF)
    assert P.num_shuffles(df) <= 4, P.num_shuffles(df)
    P.assert_no_cartesian(df)


def test_decontaminate_ngram_broadcasts_benchmark(spark, qs):
    df = qs["decontaminate_ngram"](spark, SF)
    P.assert_broadcast(df, at_least=1)
    P.assert_no_cartesian(df)


def test_corpus_diff_no_cartesian(spark, qs):
    df = qs["corpus_diff"](spark, SF)
    P.assert_no_cartesian(df)


def test_q8_q15_q22_shapes(spark, qs):
    """Q8: five broadcast dims, no cartesian among facts; Q15: argmax
    without a second fact scan; Q22: anti-join churn test."""
    df8 = qs["q8_market_share"](spark, SF)
    P.assert_broadcast(df8, at_least=3)
    P.assert_no_cartesian(df8)
    df15 = qs["q15_top_supplier"](spark, SF)
    P.assert_broadcast(df15, at_least=1)
    assert len(P.read_schemas(df15)) <= 3  # lineitem once + supplier (+reuse)
    df22 = qs["q22_churned_value"](spark, SF)
    P.assert_broadcast(df22, at_least=1)
    assert not any(
        "NestedLoop" in s and "Broadcast" not in s
        for s in P.join_strategies(df22)
    )


def test_q13_left_outer_counts_order_key(spark, qs):
    """Zero-order customers must appear at c_count=0 — the LEFT OUTER
    + count(o_orderkey) pattern, never count(*)."""
    df = qs["q13_order_histogram"](spark, SF)
    P.assert_no_cartesian(df)
    rows = {r["c_count"]: r["custdist"] for r in df.collect()}
    n_cust = spark.read.parquet(f"{SF}/customer.parquet").count()
    assert sum(rows.values()) == n_cust  # every customer lands in a bucket


def test_q17_decorrelates_per_part_average(spark, qs):
    df = qs["q17_small_quantity"](spark, SF)
    P.assert_no_cartesian(df)
    assert not any("NestedLoop" in s for s in P.join_strategies(df))


def test_round6_map_side_passes(spark, qs):
    """Extraction, normalization, JL projection, manifest: pure
    map-side or single-agg plans — zero avoidable shuffles."""
    for name, max_sh in (
        ("docs_html_extract", 0),
        ("docs_normalize", 0),
        ("embedding_rp_topk", 0),
        ("corpus_manifest", 1),
        ("docs_keep_best", 1),
    ):
        df = qs[name](spark, SF)
        # data shuffles: rp_topk opts into the par= round-robin spread
        assert P.num_data_shuffles(df) <= max_sh, name
        P.assert_no_cartesian(df)


def test_round6_scans_prune_uninvolved_columns(spark, qs):
    # manifest/normalize touch only (doc_id, text); RP only
    # (vec_id, embedding) — wide columns must not reach the scan
    for name, banned in (
        ("corpus_manifest", {"lang", "source"}),
        ("docs_normalize", {"lang", "source"}),
        ("embedding_rp_topk", {"label"}),
    ):
        for cols in P.read_schemas(qs[name](spark, SF)):
            assert not (banned & set(cols)), (name, cols)


def test_pipeline_web_fuses_to_one_shuffle_pair(spark, qs):
    """The whole extract→clean→normalize chain must fuse map-side;
    only the dedup groupBy+join shuffles."""
    df = qs["pipeline_web"](spark, SF)
    assert P.num_shuffles(df) <= 2
    P.assert_no_cartesian(df)


def test_new_tpch_shapes(spark, qs):
    for name, bcast in (
        ("q2_min_cost_supplier", 2),
        ("q9_nation_profit", 3),
        ("q16_supplier_counts", 2),
        ("q20_share_suppliers", 2),
        ("q21_waiting_suppliers", 1),
    ):
        df = qs[name](spark, SF)
        P.assert_broadcast(df, at_least=bcast)
        P.assert_no_cartesian(df)
    P.assert_filter_pushed(qs["q16_supplier_counts"](spark, SF), "p_size")
    P.assert_filter_pushed(qs["q20_share_suppliers"](spark, SF), "l_shipdate")


def test_substring_dedup_no_pair_explosion(spark, qs):
    """The marking join must be a semi/equi join on the hash — never a
    candidate cross join — and the span merge one bounded window."""
    for name in ("docs_dup_spans", "docs_dedup_cut"):
        df = qs[name](spark, SF)
        P.assert_no_cartesian(df)
        assert P.num_shuffles(df) <= 6, name


def test_substring_cut_rebuild_has_no_token_level_exchange(spark, qs):
    """The CUT rebuild must never explode the corpus's tokens: the only
    Generate nodes are the window hashing (detect) and the per-marked-
    window cut-position sequence; the surviving text is reassembled
    map-side by filtering the token array in place, so no shuffle in
    the plan is corpus-token-wide."""
    import re

    df = qs["docs_dedup_cut"](spark, SF)
    plan = P.explain_str(df)
    assert "posexplode(__ts" not in plan, "token-level explode is back"
    tree = plan.split("== Initial Plan ==")[0]
    n_generate = len(set(re.findall(r"Generate \((\d+)\)", tree)))
    assert n_generate <= 2, f"{n_generate} Generate nodes (expected 2)"


def test_pipeline_dedup_full_plan_shape(spark, qs):
    """The five-rung dedup ladder composite: every shuffle a bounded
    key-agg or equi-join, no cartesian products, and the substring-cut
    rebuild stays map-side (no token-level explode). The near-dup
    component stage is checkpoint-materialized, so the final plan is
    the ladder + the keep-best anti-join."""
    df = qs["pipeline_dedup_full"](spark, SF)
    P.assert_no_cartesian(df)
    plan = P.explain_str(df)
    assert "posexplode(__ts" not in plan, "token-level cut rebuild is back"
    assert P.num_shuffles(df) <= 12


def test_round7_plan_shapes(spark, qs):
    """Round-7 additions: classifier scoring and drift are single-scan
    plans; fertility and the manifest merge are one bounded agg each;
    keyword extraction is the inverted-index pair of aggs + a window.
    None may contain a cartesian product."""
    for name, max_sh in (
        ("docs_quality_clf", 0),       # array-literal map pass
        ("embedding_drift", 1),        # one wide group-agg
        ("docs_tokenizer_fertility", 1),
        ("corpus_manifest_incremental", 2),  # two part-aggs merge
        ("source_quality_report", 3),
        ("docs_keyword_topk", 5),
    ):
        df = qs[name](spark, SF)
        # data shuffles: embedding_drift opts into the par= spread
        assert P.num_data_shuffles(df) <= max_sh, name
        P.assert_no_cartesian(df)


def test_round7_scans_prune_uninvolved_columns(spark, qs):
    for name, banned in (
        ("docs_quality_clf", {"n_chars"}),
        ("embedding_drift", set()),
        ("docs_keyword_topk", {"lang", "source", "n_chars"}),
    ):
        for cols in P.read_schemas(qs[name](spark, SF)):
            assert not (banned & set(cols)), (name, cols)


def test_decontaminate_bloom_shape(spark, qs):
    """Bloom decontamination: the corpus side must reach the verify
    join through broadcast bit-probes only — its grams never shuffle
    before the bloom filter has thinned them. k=4 probes + the final
    anti-join are all broadcast hash joins; the only exchanges are the
    bitmap build agg, the verify join of the (thinned) survivors, and
    the contaminated-id distinct."""
    df = qs["decontaminate_bloom"](spark, SF)
    P.assert_no_cartesian(df)
    P.assert_broadcast(df, at_least=5)
    assert P.num_shuffles(df) <= 6


def test_session_late_round7_plan_shapes(spark, qs):
    """Late round-7 additions: blocklist and maxsim are pure map
    passes; packing report is one bounded agg; PMI, winnowing, and
    soft dedup are bounded key-aggs/joins with no cartesian."""
    for name, max_sh in (
        ("docs_blocklist", 0),
        ("maxsim_topk", 0),  # keyed shuffles; opts into the par= spread (r14)
        ("packing_report", 2),  # bucket agg + the n_buckets-row sort
        ("token_pmi", 4),
        ("winnow_pairs", 5),    # fp distinct + hot agg + pair agg, all fp-sized
    ):
        df = qs[name](spark, SF)
        # data shuffles: the keyless par= round-robin spread is
        # excluded by design (the change-2 pin convention)
        assert P.num_data_shuffles(df) <= max_sh, name
        P.assert_no_cartesian(df)
    P.assert_no_cartesian(qs["soft_dedup"](spark, SF))


def test_session2_round7_plan_shapes(spark, qs):
    """Second round-7 wave: the ensemble is a pure map pass; heavy
    hitters is one agg + one bounded window; URL canonicalization is
    map-side into one host agg; length buckets shuffle the length
    HISTOGRAM (distinct lengths), never a corpus sort; vocab growth is
    one token agg + one map-side conditional agg."""
    for name, max_sh in (
        ("docs_quality_ensemble", 0),
        ("events_heavy_hitters", 2),
        ("docs_url_canonical", 2),   # host agg (+ distinct-merge agg)
        ("docs_length_buckets", 3),  # histogram + cdf window + bucket agg
        ("docs_vocab_growth", 3),    # token agg + 1-row joins
    ):
        df = qs[name](spark, SF)
        # data shuffles: quality_ensemble opts into the par= spread
        assert P.num_data_shuffles(df) <= max_sh, name
        P.assert_no_cartesian(df)
    # ensemble/url scans must not read the embedding-wide columns
    for name in ("docs_quality_ensemble", "docs_url_canonical"):
        txt = P.explain_str(qs[name](spark, SF))
        assert "embedding" not in txt, name


def test_pagerank_per_round_shape(spark, qs):
    """The iterated plan must stay O(1) deep (lineage cut per round):
    the FINAL frame's plan contains the last round's join/agg plus the
    result join only — not 10 rounds of nested exchanges."""
    df = qs["docs_pagerank"](spark, SF)
    assert P.num_shuffles(df) <= 6
    P.assert_no_cartesian(df)


def test_template_pages_plan_shape(spark, qs):
    """Degree profile: the pair-generation shuffles are the winnow
    ones (fp-table-sized); the degree agg + id left join add at most
    three more. No cartesian anywhere."""
    df = qs["docs_template_pages"](spark, SF)
    assert P.num_shuffles(df) <= 8
    P.assert_no_cartesian(df)


def test_pipeline_crawl_plan_shape(spark, qs):
    """Four-rung crawl ladder in one lazy plan: URL-dedup window +
    winnow fingerprint aggs + template join + exact-dedup agg. Bounded
    shuffles, no cartesian, embedding column never read. The count
    includes the shuffles inside the rungs' cached relations."""
    df = qs["pipeline_crawl"](spark, SF)
    assert P.num_shuffles(df) <= 17
    P.assert_no_cartesian(df)
    assert "embedding" not in P.explain_str(df)


def test_session3_round7_plan_shapes(spark, qs):
    """Third wave: confusion matrix is one bounded agg + window; host
    budget one window shuffle; rerank = BM25's shuffles + a BROADCAST
    candidate join (no extra corpus shuffle for the expensive stage)."""
    for name, max_sh in (
        ("lang_confusion", 3),
        ("crawl_host_budget", 2),
        ("rerank_search", 6),
    ):
        df = qs[name](spark, SF)
        assert P.num_shuffles(df) <= max_sh, name
        P.assert_no_cartesian(df)
    assert "BroadcastHashJoin" in P.explain_str(qs["rerank_search"](spark, SF))


def test_final_round7_plan_shapes(spark, qs):
    """Closing wave: containment shares the jaccard candidate plan
    (inverted index, no cross join); the recall evals join two bounded
    pair sets; held-out LM keeps the count-table join shape with left
    joins; rank-weighted mixing is the pagerank plan + a broadcast
    max + a map-side filter."""
    for name in (
        "ngram_containment",
        "docs_dedup_contained",
        "dedup_recall_lsh",
        "dedup_recall_simhash",
        "docs_lm_heldout",
        "mix_rank_weighted",
        "docs_dedup_funnel",
    ):
        P.assert_no_cartesian(qs[name](spark, SF))
    assert P.num_shuffles(qs["docs_lm_heldout"](spark, SF)) <= 7
    # the expensive acceptance filter must NOT add a corpus shuffle on
    # top of pagerank's iteration joins
    assert P.num_shuffles(qs["mix_rank_weighted"](spark, SF)) <= 8


def test_round8_plan_shapes(spark, qs):
    """Round-8 wave: KN scoring is vocabulary-sized joins (no token
    shuffle, scalars broadcast); radius search is a pure broadcast
    nested-loop scan — ZERO shuffles, nothing ranked."""
    kn = qs["docs_lm_kn"](spark, SF)
    P.assert_no_cartesian(kn)
    P.assert_broadcast(kn, at_least=1)  # (D, T, V) scalar frame
    # bigram/prefix/suffix/count-of-counts tables + scoring joins +
    # per-doc aggs: each shuffle is a distinct vocabulary- or doc-
    # bounded aggregation (11 at present; the add-alpha LM has 7)
    assert P.num_shuffles(kn) <= 11

    rs = qs["radius_search"](spark, SF)
    assert P.num_shuffles(rs) == 0

    # merge is union + ONE groupBy shuffle, no window
    cm = qs["corpus_merge"](spark, SF)
    P.assert_no_cartesian(cm)
    assert P.num_shuffles(cm) == 1

    # binary dedup: length histogram broadcasts; no blob-wide window
    md = qs["multimodal_dedup_exact"](spark, SF)
    P.assert_broadcast(md, at_least=1)
    P.assert_no_cartesian(md)


def test_round8_wave_plan_shapes(spark, qs):
    """Round-8 wave: blocking-join linkage, indexed retrieval, drift /
    funnel reports, SCD2, hot-cold split join — all bounded-shuffle,
    no cartesian anywhere."""
    mp = qs["entity_match_pairs"](spark, SF)
    P.assert_no_cartesian(mp)
    # blocking equi-join: one exchange per side; verify is map-side
    assert P.num_shuffles(mp) <= 2

    ps = qs["source_psi_drift"](spark, SF)
    P.assert_no_cartesian(ps)
    # two snapshot groupBys + outer join + totals join + final agg,
    # every one bounded by groups × bins
    assert P.num_shuffles(ps) <= 8

    da = qs["docs_drop_attribution"](spark, SF)
    P.assert_no_cartesian(da)
    # ONE corpus groupBy; spine join and windows run on ≤5 rows
    assert P.num_shuffles(da) <= 4

    sc = qs["docs_scd2"](spark, SF)
    P.assert_no_cartesian(sc)
    # run-detection lag and interval lead share one id partitioning
    assert P.num_shuffles(sc) <= 2

    sj = qs["skew_split_join"](spark, SF)
    P.assert_no_cartesian(sj)
    P.assert_broadcast(sj, at_least=1)  # the hot-key slice


def test_decode_and_governance_plan_shapes(spark, qs):
    """Sample/pixel decode, prefix dedup, encoding audit, k-anonymity,
    mutual-kNN: the decode and audit passes are pure scans; the dedup
    and governance aggregations are single bounded shuffles."""
    # byte decode stages: mapInPandas over a projection — ZERO shuffle
    # pcm_stats opts into the par= round-robin spread (decode kernel)
    assert P.num_data_shuffles(qs["multimodal_pcm_stats"](spark, SF)) == 0
    assert P.num_shuffles(qs["multimodal_image_ahash"](spark, SF)) == 0
    # encoding audit: pure codegen length-diff projection
    assert P.num_shuffles(qs["docs_mojibake"](spark, SF)) == 0

    # prefix dedup: the exact-dedup shape — ONE groupBy on the digest
    dp = qs["dedup_prefix"](spark, SF)
    P.assert_no_cartesian(dp)
    assert P.num_shuffles(dp) == 1

    # k-anonymity: two-phase distinct agg on the QI tuple only
    ka = qs["events_k_anonymity"](spark, SF)
    P.assert_no_cartesian(ka)
    assert P.num_shuffles(ka) <= 2

    # mutual kNN: broadcast-nested-loop scoring (the documented
    # small-side exact join — NOT an unplanned cartesian), per-anchor
    # window, then ONE canonical-pair groupBy — no self-join, so the
    # scoring stage appears exactly once in the plan
    mk = qs["knn_mutual_pairs"](spark, SF)
    P.assert_no_cartesian(mk)
    # 2 = window exchange + canonical-pair groupBy; a reversed-key
    # self-join formulation would re-run the scoring lineage and show
    # up here as extra exchanges + a sort-merge join
    assert P.num_data_shuffles(mk) <= 2  # + the par= round-robin spread
    assert "SortMergeJoin" not in P.join_strategies(mk)


def test_image_near_dup_plan_shape(spark, qs):
    """Visual near-dup: banded equi-join on hash substrings — never an
    image x image cross join; the Arrow decode frame is persisted so
    the pixel pass is not re-run per side per band."""
    nd = qs["multimodal_near_dup"](spark, SF)
    P.assert_no_cartesian(nd)
    # band self-join + pair dedup, both on bounded keys
    assert P.num_shuffles(nd) <= 4


def test_cms_plan_shape(spark, qs):
    """Count-Min round trip: the build groupBy is bounded by
    depth x width, the probe side broadcasts the tiny sketch — no
    corpus-wide join anywhere."""
    cq = qs["token_cms_topk"](spark, SF)
    P.assert_no_cartesian(cq)
    P.assert_broadcast(cq, at_least=1)  # sketch side of the probe join
    assert P.has_take_ordered(cq)       # top-20, no global sort


def test_audio_near_dup_plan_shape(spark, qs):
    """Audio near-dup rides the same banded equi-join stage as the
    visual twin — never track x track."""
    nd = qs["multimodal_audio_near_dup"](spark, SF)
    P.assert_no_cartesian(nd)
    assert P.num_shuffles(nd) <= 4


def test_pipeline_media_zero_shuffle(spark, qs):
    """Mixed-modality routing: three filtered map-side parser branches
    unioned — no exchange anywhere in the composite."""
    pm = qs["pipeline_media"](spark, SF)
    assert P.num_shuffles(pm) == 0


def test_media_quarantine_zero_shuffle(spark, qs):
    """Binary quarantine is one Arrow scan: classify, never throw."""
    mq = qs["media_quarantine"](spark, SF)
    assert P.num_shuffles(mq) == 0


def test_knn_mutual_ann_is_equi_join(spark, qs):
    """The scale-path mutual graph must candidate-generate via the
    LSH bucket equi-join: no nested-loop, no cartesian."""
    mk = qs["knn_mutual_ann"](spark, SF)
    P.assert_no_cartesian(mk)
    js = P.join_strategies(mk)
    assert not any("NestedLoop" in j for j in js), js


def test_round8_entry_plan_shapes(spark, qs):
    """Round-8 additions: the 100 TB shapes, pinned.

    - fuzzy decontamination: banded equi-join, never corpus x bench
    - cdc chunks: pure map-side projection, zero shuffle
    - image quality gate: one decode scan, zero shuffle
    - bucket components: no cartesian, edges bounded by n*bands
    - per-source zscore: stats side broadcasts
    """
    df = qs["decontaminate_fuzzy"](spark, SF)
    P.assert_no_cartesian(df)

    # keyed shuffles only — cdc opts into the keyless par= round-robin
    # spread (r14), which num_data_shuffles excludes by design
    df = qs["docs_cdc_chunks"](spark, SF)
    assert P.num_data_shuffles(df) == 0

    df = qs["multimodal_image_quality"](spark, SF)
    assert P.num_shuffles(df) == 0

    df = qs["dedup_components_bucket"](spark, SF)
    P.assert_no_cartesian(df)

    df = qs["docs_quality_zscore"](spark, SF)
    P.assert_broadcast(df, at_least=1)
    P.assert_no_cartesian(df)

    df = qs["docs_novelty"](spark, SF)
    P.assert_no_cartesian(df)


def test_round9_entry_plan_shapes(spark, qs):
    """Round-9 additions: the 100 TB shapes, pinned.

    - homoglyph dedup: the fold is map-side under the ordinary
      groupBy — exactly one data-sized shuffle, no cartesian
    - lang mix: explode + two bounded aggs (the per-doc window reuses
      the (doc_id, lang) partitioning)
    - WARC ingest: the READ side is one binaryFile scan + one Arrow
      pass (file-granular parallelism) — zero shuffle before the
      quarantine count
    - fertility entries: map-side tokenize + one lang-sized agg
    """
    df = qs["docs_dedup_homoglyph"](spark, SF)
    P.assert_no_cartesian(df)
    assert P.num_shuffles(df) <= 2

    df = qs["docs_lang_mix"](spark, SF)
    P.assert_no_cartesian(df)
    assert P.num_shuffles(df) <= 3

    from tidyvec_spark.sources.warc import read_warc
    import tempfile, os
    from tidyvec_spark.sources.warc import warc_record_bytes

    d = tempfile.mkdtemp(prefix="tv_warc_plan_")
    with open(os.path.join(d, "p.warc"), "wb") as fh:
        fh.write(warc_record_bytes("http://x/1", b"a", "u:1"))
    assert P.num_shuffles(read_warc(spark, d)) == 0

    df = qs["unigram_fertility"](spark, SF)
    assert P.num_shuffles(df) <= 2
    df = qs["wordpiece_fertility"](spark, SF)
    assert P.num_shuffles(df) <= 2


def test_hll_overlap_scans_each_corpus_once(spark, qs):
    """corpus_overlap_est's one-scan-per-side contract, pinned.

    The r10 verdict's one `weak` item: the old hll_overlap fed each
    1-row sketch frame into TWO branches (own estimate + union), so
    Catalyst re-evaluated both full-corpus sketch aggs — 2x the
    dominant term of the 100 TB triage. The rewrite reads the per-side
    estimates and the union off ONE final aggregate over the 2-row
    union of (side, sketch, estimate) rows, so each corpus subtree is
    referenced exactly once. Pin the operator at exactly one scan per
    corpus and the entry (operator + one-scan exact audit) at 3.
    """
    from pyspark.sql import functions as F

    from tidyvec_spark.operators.sketches import hll_overlap

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    a = docs.filter(F.col("doc_id") % 4 < 3)
    b = docs.filter(F.col("doc_id") % 3 == 0)
    assert P.num_scans(hll_overlap(a, b, "doc_id")) == 2

    df = qs["corpus_overlap_est"](spark, SF)
    assert P.num_scans(df) == 3
    P.assert_no_cartesian(df)


def test_corpus_overlap_est_plan_has_no_expand(spark, qs):
    """corpus_overlap_est's exact audit is one distinct plus plain
    conditional counts. Several countDistincts in one aggregate plan an
    Expand whose group order varies between runs of one build, so its
    explain text could not be compared across checkouts."""
    df = qs["corpus_overlap_est"](spark, SF)
    df.collect()
    assert "Expand" not in {name for name, _ in P._physical_nodes(df)}


def test_whiten_fit_is_one_scan_one_collect(spark, monkeypatch):
    """whiten_embeddings' fitting contract, pinned (r11 verdict's one
    weak item): covariance AND per-dimension means come off ONE
    covariance_stats aggregate (one corpus scan) read by ONE collect —
    the old shape ran a SEPARATE F.avg job for the means, doubling the
    dominant cost of the whitening pass at 100 TB. Also pin that the
    projection frame itself is a single scan (pure mapInPandas, no
    shuffle)."""
    from tidyvec_spark.operators.reduce import (
        covariance_stats,
        whiten_embeddings,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # the fit frame: one scan, and its d(d+1)/2 rows carry BOTH moments
    assert P.num_scans(covariance_stats(emb, "embedding", 64)) == 1

    calls = {"collect": 0, "first": 0}
    # patch the CONCRETE DataFrame class (pyspark 4's pyspark.sql.
    # DataFrame is an abstract parent whose subclass overrides collect)
    DataFrame = type(emb)
    orig_collect, orig_first = DataFrame.collect, DataFrame.first
    monkeypatch.setattr(
        DataFrame, "collect",
        lambda self: calls.__setitem__("collect", calls["collect"] + 1)
        or orig_collect(self),
    )
    monkeypatch.setattr(
        DataFrame, "first",
        lambda self: calls.__setitem__("first", calls["first"] + 1)
        or orig_first(self),
    )
    w = whiten_embeddings(emb, "embedding", dim=64, id_cols=["vec_id"])
    assert calls == {"collect": 1, "first": 0}
    assert P.num_scans(w) == 1
    assert P.num_shuffles(w) == 0


def test_round12_entry_plan_shapes(spark, qs):
    """Round-12 additions, plan-pinned: the shapes that make them
    100 TB-viable must not silently regress.

    - rocchio_search: ONE corpus scan (both retrieval passes read the
      persisted score frame), zero shuffles, no cartesian
    - docs_quality_rank_norm: one scan, one window shuffle
    - docs_span_corruption: positions explode from sequence() — the
      token strings never leave the scan; per-doc windows only
    - docs_jaccard_exact_pairs: every join is an equi-join (prefix
      index + verify) — no cartesian, no nested-loop blow-up
    - docs_clf_isotonic: the minimax non-equi joins stay broadcast
      over bin-sized frames, never CartesianProduct
    - docs_neyman_alloc: one corpus scan into a stratum-sized agg
    """
    df = qs["rocchio_search"](spark, SF)
    assert P.num_scans(df) == 1
    assert P.num_shuffles(df) == 0
    P.assert_no_cartesian(df)

    df = qs["docs_quality_rank_norm"](spark, SF)
    assert P.num_scans(df) == 1
    assert P.num_shuffles(df) == 1

    df = qs["docs_span_corruption"](spark, SF)
    assert P.num_scans(df) <= 2
    P.assert_no_cartesian(df)

    df = qs["docs_jaccard_exact_pairs"](spark, SF)
    assert P.num_scans(df) == 1
    P.assert_no_cartesian(df)
    assert "BroadcastNestedLoopJoin" not in P.join_strategies(df)

    df = qs["docs_clf_isotonic"](spark, SF)
    P.assert_no_cartesian(df)

    df = qs["docs_neyman_alloc"](spark, SF)
    assert P.num_scans(df) == 1
    P.assert_no_cartesian(df)

    # histogram quantiles: ONE corpus scan (the bounded histogram is
    # persisted against its two references); readability pure map-side
    df = qs["events_gap_quantiles"](spark, SF)
    assert P.num_scans(df) == 1
    P.assert_no_cartesian(df)

    df = qs["docs_readability"](spark, SF)
    assert P.num_scans(df) == 1
    assert P.num_shuffles(df) == 0


def test_bench_and_plans_artifacts_consistent():
    """Registry hygiene, pinned: every BENCH_QUERIES row is a registry
    entry, the committed PLANS.json covers exactly the bench rows (a
    missing row means bench.py was not re-run after adding an entry),
    and every oracle_sql() key is a queries() key."""
    import json
    import os

    import bench

    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(bench.BENCH_QUERIES) <= set(qs)
    assert set(oracles) <= set(qs)
    plans_path = os.path.join(os.path.dirname(bench.__file__), "PLANS.json")
    plans = json.load(open(plans_path))["plans"]
    assert set(plans) == set(bench.BENCH_QUERIES), (
        "PLANS.json is stale — re-run python bench.py"
    )


def test_round13_entry_plan_shapes(spark, qs):
    """Round-13 additions, plan-pinned.

    Cache state is CLEARED first: the session is shared across test
    files, and a frame another test left persisted makes Spark's
    CacheManager substitute InMemoryRelation into MATCHING subtrees
    here — cached size statistics can then flip join strategies and
    change the shuffle/scan counts these pins assert (observed once
    when the classifier-entry test's persisted holdout leaked in).

    - corpus_membership_manifest: the manifest BUILD is the declared
      in-entry cost (two token/doc passes over corpus A — production
      manifests are stored at ingest); the PROBE side adds only B's
      vocab agg and A's distinct-token audit join. 4 scans total, no
      cartesian, and the one-row bitmap reaches the probes as a
      broadcast, never a shuffle of the probe frame.
    - docs_clf_ml_agreement: the two scoring passes are map-side over
      the held-out corpus; AUC's rank statistics aggregate bounded
      distinct-score frames. No cartesian beyond the two 1-row AUC
      cross joins.
    """
    spark.catalog.clearCache()

    df = qs["corpus_membership_manifest"](spark, SF)
    assert P.num_scans(df) <= 4
    P.assert_no_cartesian(df)

    df = qs["docs_clf_ml_agreement"](spark, SF)
    assert P.num_scans(df) <= 3
    # keyed shuffles only: the r14 par= round-robin spread adds one
    # keyless exchange that num_data_shuffles deliberately excludes
    assert P.num_data_shuffles(df) <= 4

    # the analytics wave: every corpus-reading entry is one scan
    # (js_divergence persists its (group, term) frame; everything
    # else is a single agg/window chain); none plans a cartesian
    for name, max_scans in (
        ("events_cusum", 1),
        ("source_js_divergence", 1),
        ("source_token_entropy", 1),
        ("docs_ngram_coverage", 1),
        ("ql_search", 1),
        ("layout_prune_audit", 2),   # one pass per layout
        ("docs_clf_pr_auc", 2),      # clf fit split + holdout score
        ("docs_clf_brier_ece", 2),
        # wave 2: 2-scan shapes are all declared (two manifests /
        # synthetic-union branches / hist-fit + output projection)
        ("corpus_lenhist_manifest", 2),
        ("docs_script_mix", 2),
        ("docs_length_robust_z", 2),
        ("source_dup_rate", 2),
        ("corpus_psi_manifest", 2),      # one manifest per half
        ("embedding_effective_rank", 1),
        ("events_cusum_by_type", 1),
        ("docs_split_stratified", 2),    # stratum counts + output pass
        ("events_anomaly_robust", 2),    # hist fit + output pass
        ("ann_recall_bq", 1),            # one persisted (id,vec,code)
        ("source_winsorized_len", 1),
        ("events_funnel_latency", 3),    # the chained funnel shape
        # two manifests BUILT in-entry by declaration (per-doc + token
        # pass each) + the probe-terms scan — the triage convention;
        # production manifests are stored, making the probe zero-scan
        ("corpus_freq_drift_manifest", 5),
    ):
        df = qs[name](spark, SF)
        assert P.num_scans(df) <= max_scans, name
        P.assert_no_cartesian(df)


def test_round14_entry_plan_shapes(spark, qs):
    """Round-14 additions, plan-pinned (cache cleared first — see
    test_round13_entry_plan_shapes).

    - kmeans_lloyd: the T iteration reduces happen at CONSTRUCTION
      against the persisted int64 frame (k·(dim+1) integers to the
      driver each — the pyspark.ml KMeans shape); the RETURNED
      assignment is one map-side expression over that frame: 1 scan,
      ZERO shuffles, no cartesian.
    - mix_doremi: 2 scans by declaration (classifier fit split +
      holdout score, the docs_clf_pr_auc shape); the 8 MW steps are
      windows over the |sources|-row frame, so shuffle count stays
      O(1) regardless of corpus size.
    """
    spark.catalog.clearCache()

    df = qs["kmeans_lloyd"](spark, SF)
    assert P.num_scans(df) <= 1
    # zero keyed shuffles; the par= round-robin spread is not counted
    assert P.num_data_shuffles(df) == 0
    P.assert_no_cartesian(df)

    df = qs["mix_doremi"](spark, SF)
    assert P.num_scans(df) <= 2
    assert P.num_data_shuffles(df) <= 3  # + the par= round-robin spread
    P.assert_no_cartesian(df)

    # the analytics wave: single-scan one-pass shapes except the
    # declared 2-scan classifier fit+score (conformal persists the
    # scored holdout because it reads it twice)
    for name, max_scans in (
        ("embedding_anisotropy", 1),
        ("source_ks_distance", 1),
        ("docs_clf_conformal", 2),
        ("events_ewma", 1),
        ("events_seasonal_error", 1),
        # wave 2: 2-scan = one manifest per half (the psi convention);
        # 3-scan = the dup-clone union fixture (operator itself is one
        # hash groupBy); 4-scan = the declared composite (doremi's
        # fit+score plus the count agg and the admission filter pass)
        ("corpus_ks_manifest", 2),
        ("docs_dup_cluster_stats", 3),
        ("mix_doremi_sample", 4),
        ("embedding_coreset", 1),   # rides the persisted Lloyd frame
        ("docs_length_tail", 1),
    ):
        df = qs[name](spark, SF)
        assert P.num_scans(df) <= max_scans, name
        P.assert_no_cartesian(df)


def test_par_read_normalizer(spark, tmp_path):
    """The opt-in input-parallelism normalizer (round 14): a SINGLE
    parquet file under the small-input threshold gains exactly one
    round-robin REPARTITION_BY_NUM exchange (so heavy per-row kernels
    fused onto an unsplittable one-row-group scan use every core);
    a production-shaped many-file input passes through untouched; and
    num_data_shuffles never counts the normalizer exchange."""
    single = entry._read(spark, SF, "documents", par=True)
    txt = P.explain_str(single)
    assert "RoundRobinPartitioning" in txt
    assert P.num_shuffles(single) == 1
    assert P.num_data_shuffles(single) == 0

    # many-file layout (a directory, not a file): no exchange added
    multi_dir = str(tmp_path / "multi")
    spark.read.parquet(f"{SF}/documents.parquet").repartition(2).write.parquet(
        multi_dir
    )
    import os as _os
    import shutil as _shutil

    _shutil.move(multi_dir, str(tmp_path / "documents.parquet"))
    multi = entry._read(spark, str(tmp_path), "documents", par=True)
    assert "RoundRobinPartitioning" not in P.explain_str(multi)
    assert P.num_shuffles(multi) == 0

    # keyed exchanges still count as data shuffles
    agg = single.groupBy("lang").count()
    assert P.num_data_shuffles(agg) == 1
