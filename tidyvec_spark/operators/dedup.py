"""Deduplication operators for LLM training-data pipelines.

Not in the reference (tidyvec has no dedup surface at all); these are
the engine extension mandated by the north star: exact, MinHash-LSH,
SimHash, and n-gram-Jaccard near-dup — each designed for the 100 TB
shape, not the 60k-row test shape:

- every signature/fingerprint step is a *map-side* native expression
  (no UDF, no shuffle) so it scales linearly with input splits;
- candidate generation is always an **equi-join on a band/bucket key**
  (shuffle on the key, skew-tolerant under AQE) — never a cross join;
- verification runs only on candidate pairs, joining back the compact
  per-doc artifacts (shingle set / fingerprint), so the expensive exact
  comparison touches O(candidates), not O(n²).

Cross-engine determinism: all hashing is md5-derived
(functions/hashing.py) so the DuckDB oracle reproduces every stage
bit-for-bit.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tidyvec_spark.functions import text as X
from tidyvec_spark.partitioning import cut_lineage, ensure_parallelism
from tidyvec_spark.functions.hashing import (
    band_hash,
    hamming64,
    md5_long,
    minhash_signature,
    simhash,
    simhash_band,
)


def release(df: DataFrame) -> None:
    """Unpersist the intermediate tables a pair generator cached.

    ``minhash_lsh_pairs`` / ``simhash_pairs`` / ``ngram_jaccard_pairs``
    persist their signature/fingerprint/index table so the banded
    self-join doesn't recompute the expensive map-side expressions on
    both sides; the handles ride on the returned DataFrame
    (``_tidyvec_persisted``) so long-lived sessions can free them after
    the terminal action instead of accumulating cached tables (or
    calling ``spark.catalog.clearCache()`` wholesale, as bench.py does).
    """
    for h in getattr(df, "_tidyvec_persisted", []):
        h.unpersist()


def _with_persisted(out: DataFrame, handles: list) -> DataFrame:
    out._tidyvec_persisted = handles
    return out


def normalized_text_key(c) -> F.Column:
    """Exact-dedup key: md5 of whitespace-collapsed lowercase text."""
    col = F.col(c) if isinstance(c, str) else c
    return F.md5(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")))


def dedup_binary_exact(
    df: DataFrame,
    content_col: str,
    id_col: str,
    length_prefilter: bool = False,
) -> DataFrame:
    """Exact dedup over an opaque binary column (image / audio / video
    blobs): keep the lowest-id copy of each byte-identical blob — the
    multimodal twin of :func:`drop_exact_dups`.

    Key is (byte_length, md5): the 8-byte length disambiguates md5
    collisions for free and gives the aggregation an integer leading
    key. Same groupBy-min + equi-join shape as the text path — partial
    aggregation map-side, so a blob duplicated millions of times is ONE
    winner row per input partition (skew-immune), and only 24 bytes of
    key ride the shuffle regardless of blob size.

    ``length_prefilter=True``: hash only blobs whose byte length
    collides with another blob's. The length histogram (distinct sizes,
    a tiny table) broadcasts; blobs with a unique length pass through
    un-hashed. At 100 TB of media this skips the md5 CPU over the
    (typically large) unique-size majority for one extra integer
    aggregation — results are identical either way.
    """
    wl = df.withColumn("__len", F.length(F.col(content_col)).cast("long"))
    if not length_prefilter:
        keyed = wl.withColumn("__k", F.md5(F.col(content_col)))
        keep = keyed.groupBy("__len", "__k").agg(F.min(id_col).alias("__keep"))
        return (
            keyed.join(keep, ["__len", "__k"])
            .filter(F.col(id_col) == F.col("__keep"))
            .select(*df.columns)
        )
    multi = (
        wl.groupBy("__len")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .select("__len")
    )
    uniq = wl.join(F.broadcast(multi), "__len", "left_anti")
    cand = wl.join(F.broadcast(multi), "__len").withColumn(
        "__k", F.md5(F.col(content_col))
    )
    keep = cand.groupBy("__len", "__k").agg(F.min(id_col).alias("__keep"))
    kept = (
        cand.join(keep, ["__len", "__k"])
        .filter(F.col(id_col) == F.col("__keep"))
        .select(*df.columns)
    )
    return uniq.select(*df.columns).unionByName(kept)


def exact_dup_groups(
    df: DataFrame, text_col: str, id_col: str, key_fn=None
) -> DataFrame:
    """Groups of byte-identical (post-normalization) documents.

    hash → groupBy → filter: one shuffle on the 128-bit key, partial
    aggregation map-side. Returns (h, n_copies, keep_id = min id).

    ``key_fn``: the canonicalization law (column fn text → key;
    default :func:`normalized_text_key`) — plug e.g.
    ``lambda c: normalized_text_key(confusable_fold_expr(c))`` to
    catch homoglyph-spoofed copies without touching the plan shape.
    """
    key_fn = key_fn or normalized_text_key
    return (
        df.withColumn("h", key_fn(text_col))
        .groupBy("h")
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_copies") > 1)
    )


def prefix_dup_groups(
    df: DataFrame, text_col: str, id_col: str, n_tokens: int = 20
) -> DataFrame:
    """Groups sharing the same first-``n_tokens`` normalized-token
    prefix — the cheap rung between exact hashing and MinHash for
    catching tail-mutated copies (truncated mirrors, re-crawls that
    grew a footer, pages sharing a long boilerplate head) that exact
    keys miss entirely. md5 over the joined prefix, then the same
    groupBy shape as :func:`exact_dup_groups`: ONE shuffle on the
    128-bit key with map-side partials; the prefix slice itself is a
    codegen expression, so the key costs O(n_tokens) per doc
    regardless of document length — at 100 TB the scan reads only
    ``text`` and moves 16-byte digests.

    Returns (h, n_copies, keep_id = min id) for groups of >= 2.
    """
    if int(n_tokens) < 1:
        raise ValueError("n_tokens must be >= 1")
    key = F.md5(
        F.concat_ws(" ", F.slice(X.tokens(text_col), 1, int(n_tokens)))
    )
    return (
        df.withColumn("h", key)
        .groupBy("h")
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_copies") > 1)
    )


def drop_exact_dups(
    df: DataFrame, text_col: str, id_col: str, key_fn=None
) -> DataFrame:
    """Keep the lowest-id representative of each exact-dup group.
    ``key_fn`` plugs an alternative canonicalization law (see
    :func:`exact_dup_groups`).

    groupBy-min(id) then join back on the hash key: the aggregation
    pre-combines map-side, so a document duplicated millions of times
    contributes ONE partial row per input partition instead of piling
    every copy into a single window partition (the r1 shape — a
    row_number window over the hash — serialized exactly the hot keys
    dedup exists to remove). The join is skew-tolerant under AQE and
    the keep-set is min-id per key, so results are unchanged.
    """
    key_fn = key_fn or normalized_text_key
    keyed = df.withColumn("__h", key_fn(text_col))
    keep = keyed.groupBy("__h").agg(F.min(id_col).alias("__keep"))
    return (
        keyed.join(keep, "__h")
        .filter(F.col(id_col) == F.col("__keep"))
        .select(*df.columns)
    )


def dedup_lines_global(
    df: DataFrame,
    text_col: str,
    id_col: str,
    keep_empty_docs: bool = False,
) -> DataFrame:
    """C4-style global line-level exact dedup (Raffel et al., 2020):
    every distinct line survives only at its FIRST corpus occurrence —
    lowest (``id_col``, line position) lexicographically — and each
    document is rebuilt from its surviving lines. Boilerplate
    (cookie banners, nav bars, license headers) repeated across pages
    disappears everywhere but once.

    Returns (``id_col``, ``text_col`` rebuilt, n_lines kept). Documents
    whose every line was deduplicated away are dropped unless
    ``keep_empty_docs`` (then they appear with empty text / 0 lines).

    Scale shape: lines explode map-side; the winner table is one
    hash-agg with map-side partial combine, keyed by the line's md5
    (16 bytes through the shuffle regardless of line length); the
    winner join is a key-balanced equi-join (a line repeated millions
    of times is ONE winner row, so no skew on the build side); the
    rebuild is one per-document hash-agg folding (pos, line) structs.
    Three bounded shuffles total, shuffle width ∝ corpus lines — the
    honest cost of the operator, and exactly how C4 itself was built.
    Blank/whitespace-only lines carry no content and are dropped
    before keying (they would otherwise all collide on one hot key).
    """
    ex = (
        df.select(
            F.col(id_col).alias("__id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
        )
        .filter(F.trim(F.col("__line")) != "")
        .withColumn("__k", F.md5(F.trim(F.col("__line"))))
    )
    winners = ex.groupBy("__k").agg(
        F.min(F.struct(F.col("__id"), F.col("__pos"))).alias("__w")
    )
    kept = (
        ex.join(winners, "__k")
        .filter((F.col("__id") == F.col("__w.__id")) & (F.col("__pos") == F.col("__w.__pos")))
        .select("__id", "__pos", "__line")
    )
    rebuilt = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias(text_col),
        F.count("*").cast("long").alias("n_lines"),
    )
    if keep_empty_docs:
        rebuilt = (
            df.select(F.col(id_col).alias("__id"))
            .join(rebuilt, "__id", "left")
            .fillna({text_col: "", "n_lines": 0})
        )
    return rebuilt.withColumnRenamed("__id", id_col)


def minhash_sign(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(__id, __sh, __sig): distinct shingle array + MinHash signature
    per document — the one map-side signing stage behind every MinHash
    operator here (batch pairs, bucket-star edges, decontamination,
    incremental ingest, streaming pair discovery). At scale this IS the
    persisted near-dup index: write it once (ideally bucketed by a band
    hash) and every arriving batch signs itself and joins against it
    instead of re-shingling the corpus."""
    return _sign(df, text_col, id_col, num_hashes, shingle_n)


def _sign(df, text_col, id_col, num_hashes, shingle_n, *carry) -> DataFrame:
    """:func:`minhash_sign`, keeping the extra ``carry`` columns
    (expressions over ``df``) between ``__sh`` and ``__sig`` — how the
    streaming pair discovery carries its event time through signing."""
    return (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("__id"),
            F.array_distinct(X.ngrams(text_col, shingle_n)).alias("__sh"),
            *carry,
        )
        .filter(F.size("__sh") > 0)
        .withColumn("__sig", minhash_signature("__sh", num_hashes))
    )


def _band(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """One row per (document, LSH band) of a signed frame, every column
    of ``sigs`` kept, plus the band-join key (``__b``, ``__bh``).

    Callers band BEFORE persisting the signatures, so a bad split
    raises before anything is cached."""
    if num_hashes % bands != 0:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    return sigs.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("__b")
    ).withColumn("__bh", band_hash("__sig", F.col("__b"), num_hashes // bands))


def _side(banded: DataFrame, id_alias: str, sh_alias: str) -> DataFrame:
    """One side of a band join: id and shingles renamed, join key kept.
    Carrying the shingles through the join lets verification run
    without a second join back to the corpus."""
    return banded.select(
        F.col("__id").alias(id_alias), F.col("__sh").alias(sh_alias), "__b", "__bh"
    )


def _verify_jaccard(cand, threshold, round_to, ids=("id_a", "id_b")) -> DataFrame:
    """Exact-Jaccard verify on banded candidates carrying both shingle
    arrays (``sh_a``, ``sh_b``).

    Verify-then-dedup: the exact Jaccard is a pure function of the
    pair, so it runs map-side on the band-join output and the threshold
    prunes BEFORE the distinct — the dedup shuffle carries only
    surviving triples (≤ bands copies each), not every banded candidate
    with its shingle arrays. ``ids`` are the two pair-id columns to
    emit (names or aliased columns); pairs are deduplicated on them."""
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jac = inter / union
    if round_to is not None:
        jac = F.round(jac, round_to)
    out = cand.withColumn("jaccard", jac)
    if threshold is not None:
        out = out.filter(F.col("jaccard") >= float(threshold))
    out = out.select(*ids, "jaccard")
    return out.dropDuplicates(out.columns[:2])


def incremental_near_dup_pairs(
    new_df: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: Optional[float] = 0.5,
    round_to: Optional[int] = None,
) -> DataFrame:
    """Near-dup pairs INVOLVING an arriving batch, against a persisted
    signature index (:func:`minhash_sign` output) — the continuous-
    ingest shape: the historical corpus is never re-shingled, only its
    (id, shingles, signature) index is banded and joined.

    Returns exactly the pairs of the full-corpus run that touch ≥ 1 new
    document (band membership is a pure per-document function, so
    new×old and new×new candidates are identical to the batch
    pipeline's) — union(old pairs, these pairs) == full recompute,
    which is the oracle-checked contract.

    Scale shape: sign the batch map-side, ONE banded equi-join of
    (new) × (index ∪ new), verify-then-dedup. Cost scales with batch
    size × collision rate, not corpus size.
    """
    new_sigs = minhash_sign(new_df, text_col, id_col, num_hashes, shingle_n)
    a = _side(_band(new_sigs, num_hashes, bands), "na", "sha")
    all_sigs = index.select("__id", "__sh", "__sig").unionByName(new_sigs)
    b = _side(_band(all_sigs, num_hashes, bands), "nb", "shb")
    new_sigs.persist(StorageLevel.MEMORY_AND_DISK)
    cand = (
        a.join(b, on=["__b", "__bh"])
        .filter(F.col("na") != F.col("nb"))
        .select(
            F.least("na", "nb").alias("id_a"),
            F.greatest("na", "nb").alias("id_b"),
            # shingles follow the id ordering so verify sees the pair once
            F.when(F.col("na") < F.col("nb"), F.col("sha"))
            .otherwise(F.col("shb"))
            .alias("sh_a"),
            F.when(F.col("na") < F.col("nb"), F.col("shb"))
            .otherwise(F.col("sha"))
            .alias("sh_b"),
        )
    )
    return _with_persisted(
        _verify_jaccard(cand, threshold, round_to), [new_sigs]
    )


def leakage_free_split(
    df: DataFrame,
    text_col: str,
    id_col: str,
    test_fraction: float = 0.1,
    salt: str = "",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: Optional[float] = 0.5,
) -> DataFrame:
    """Near-dup-aware train/test split: every document in the same
    near-duplicate component lands in the SAME split, so evaluation
    data can never leak into training via a near-copy — the
    contamination failure plain random splits have on crawled corpora.

    Pipeline: :func:`near_dup_groups` (MinHash-LSH pairs → connected
    components) → split decided by a salted hash of the component label
    (singletons use their own id). The split is a pure function of
    content + salt: deterministic, engine-portable (SQL-oracle-
    checkable), stable under re-runs and corpus repartitioning. Adds one left join to the dedup pipeline's
    cost; the split itself is a map-side expression.

    Returns the input columns plus ``split_group`` (the component/id
    the decision hashed) and ``split`` ('train' | 'test').
    """
    from tidyvec_spark.operators.sampling import hash_unit

    if not 0.0 <= float(test_fraction) <= 1.0:
        raise ValueError(f"test_fraction must be in [0, 1], got {test_fraction}")
    comp = near_dup_groups(
        df, text_col, id_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        threshold=threshold,
    )
    out = df.join(
        comp.select(
            F.col("id").alias("__cid"), F.col("component").alias("__comp")
        ),
        df[id_col] == F.col("__cid"),
        "left",
    )
    group = F.coalesce(F.col("__comp"), df[id_col])
    split = F.when(
        hash_unit(group, salt) < float(test_fraction), F.lit("test")
    ).otherwise(F.lit("train"))
    return out.select(
        *df.columns, group.alias("split_group"), split.alias("split")
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str,
    id_col: str,
    include_unchanged: bool = False,
) -> DataFrame:
    """Snapshot diff between two corpus versions by content hash:
    (``id_col``, status ∈ added | removed | changed | unchanged) — the
    audit step between ingest runs ("what did this batch actually do")
    and the input to incremental re-embedding (re-embed exactly the
    added ∪ changed set, nothing else).

    'changed' compares the exact-dedup NORMALIZED key
    (:func:`normalized_text_key`), so whitespace-only edits are
    'unchanged' — the same equivalence every dedup operator here uses.

    Shape: one full-outer equi-join on the id (the id is the join key,
    so both sides shuffle once; at 100 TB both sides are id-bucketed
    tables and this is exchange-free); hashes are map-side. Unchanged
    rows — the overwhelming majority — are dropped before returning
    unless ``include_unchanged``.
    """
    # Presence flags disambiguate "row absent from that side" from
    # "row present with NULL text" (normalized_text_key(NULL) is NULL):
    # a NULL-text doc present in both snapshots must compare null-safely
    # as unchanged, not read as added/removed.
    o = old.select(
        F.col(id_col).alias("__id"),
        F.lit(True).alias("__po"),
        normalized_text_key(text_col).alias("__ho"),
    )
    n = new.select(
        F.col(id_col).alias("__id"),
        F.lit(True).alias("__pn"),
        normalized_text_key(text_col).alias("__hn"),
    )
    j = o.join(n, "__id", "full_outer")
    status = (
        F.when(F.col("__po").isNull(), F.lit("added"))
        .when(F.col("__pn").isNull(), F.lit("removed"))
        .when(~F.col("__ho").eqNullSafe(F.col("__hn")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(F.col("__id").alias(id_col), status.alias("status"))
    if not include_unchanged:
        out = out.filter(F.col("status") != "unchanged")
    return out


def decontaminate_ngram_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """EXACT n-gram-collision decontamination — the published GPT-3
    §C / PaLM rule verbatim: a training document is contaminated if it
    shares at least ``min_hits`` distinct ``n``-gram(s) (13 tokens in
    the papers) with any benchmark/eval document. Catches the case
    MinHash-Jaccard (:func:`decontaminate_fuzzy`) structurally
    misses: a short eval item quoted inside a long document has huge
    containment but tiny Jaccard.

    Physical shape: the benchmark's distinct n-grams are a SMALL
    broadcast side (eval suites are MBs, not TBs); the corpus explodes
    its n-grams map-side and the hit test is a broadcast semi/inner
    join — the 100 TB corpus is scanned exactly once and never
    shuffles on the gram key. With ``min_hits > 1`` a per-doc
    hash-agg counts distinct hit grams before the threshold.
    """
    from tidyvec_spark.functions.text import ngrams

    if n < 1:
        raise ValueError("n must be >= 1")
    if min_hits < 1:
        raise ValueError("min_hits must be >= 1")
    bench_grams = benchmark.select(
        F.explode(ngrams(text_col, n)).alias("__g")
    ).distinct()
    corpus_grams = corpus.select(
        F.col(id_col).alias("__cid"), F.explode(ngrams(text_col, n)).alias("__g")
    )
    if min_hits == 1:
        contaminated = (
            corpus_grams.join(F.broadcast(bench_grams), "__g", "left_semi")
            .select("__cid")
            .distinct()
        )
    else:
        contaminated = (
            corpus_grams.join(F.broadcast(bench_grams), "__g")
            .groupBy("__cid")
            .agg(F.count_distinct("__g").alias("__hits"))
            .filter(F.col("__hits") >= min_hits)
            .select("__cid")
        )
    return corpus.join(
        F.broadcast(contaminated),
        corpus[id_col] == F.col("__cid"),
        "left_anti",
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: Optional[float] = 0.5,
    round_to: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding + exact verify.

    Pipeline (each stage's scale behavior):
      1. shingle + sign: map-side expression, no shuffle;
      2. band → explode(bands) → equi-join on (band, band_hash): the
         only shuffle, on a well-distributed hash key; candidate count
         is controlled by bands/rows-per-band (here 4 bands × 4 rows:
         ~Jaccard 0.5 S-curve threshold);
      3. exact Jaccard verify on candidates only, via the distinct
         shingle arrays carried per doc (array_intersect — JVM-side).

    The signature table is persisted (the banded self-join would
    otherwise recompute the md5 minhash expressions on both sides);
    :func:`release` frees it after the terminal action.

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    sigs = minhash_sign(df, text_col, id_col, num_hashes, shingle_n)
    banded = _band(sigs, num_hashes, bands)
    sigs.persist(StorageLevel.MEMORY_AND_DISK)
    cand = (
        _side(banded, "id_a", "sh_a")
        .join(_side(banded, "id_b", "sh_b"), on=["__b", "__bh"])
        .filter(F.col("id_a") < F.col("id_b"))
    )
    return _with_persisted(_verify_jaccard(cand, threshold, round_to), [sigs])


def fuzzy_contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    round_to: Optional[int] = None,
) -> DataFrame:
    """NEAR-duplicate contamination between a training corpus and an
    evaluation benchmark — the fuzzy upgrade of the exact n-gram rule
    (:func:`decontaminate_ngram_hits`): paraphrased, truncated, or
    lightly-edited benchmark copies share most shingles but no long
    exact n-gram, so the exact rule misses them. Same MinHash + LSH
    banding + exact-Jaccard verify as :func:`minhash_lsh_pairs`, but
    the band join is ASYMMETRIC (corpus side × benchmark side), so
    cost scales with corpus + benchmark + verified candidates — never
    corpus × benchmark. The benchmark side is typically broadcast-
    sized; AQE picks the broadcast automatically. The corpus and
    benchmark id spaces may overlap: ids are only used within their
    own side.

    Returns (``id_col``, bench_id, jaccard) — one row per (corpus
    doc, benchmark doc) pair with verified shingle-Jaccard ≥
    ``threshold``. Both signature tables ride on the result for
    :func:`release`.
    """
    csigs = minhash_sign(corpus, text_col, id_col, num_hashes, shingle_n)
    a = _side(_band(csigs, num_hashes, bands), "__cid", "sh_a")
    bsigs = minhash_sign(benchmark, text_col, id_col, num_hashes, shingle_n)
    b = _side(_band(bsigs, num_hashes, bands), "__bid", "sh_b")
    csigs.persist(StorageLevel.MEMORY_AND_DISK)
    bsigs.persist(StorageLevel.MEMORY_AND_DISK)
    hits = _verify_jaccard(
        a.join(b, on=["__b", "__bh"]),
        threshold,
        round_to,
        ids=(F.col("__cid").alias(id_col), F.col("__bid").alias("bench_id")),
    )
    return _with_persisted(hits, [csigs, bsigs])


def decontaminate_fuzzy(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Drop every corpus document with a verified near-duplicate in
    the benchmark — training-data decontamination (the GPT-3 §C /
    PaLM n-gram-overlap step, here with MinHash-LSH + exact-Jaccard
    verify instead of raw n-gram hits).

    Physical shape: :func:`fuzzy_contamination_hits` (both sides sign
    map-side, ONE banded corpus × benchmark equi-join — never corpus ×
    corpus — and verify), then one anti-join against the small
    contaminated-id set. The 100 TB corpus is scanned once. Returns
    the clean corpus with its original columns; the signature tables
    ride on it for :func:`release`."""
    hits = fuzzy_contamination_hits(
        corpus, benchmark, text_col, id_col,
        num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        threshold=threshold,
    )
    victims = hits.select(F.col(id_col).alias("__victim")).distinct()
    return _with_persisted(
        corpus.join(victims, corpus[id_col] == victims["__victim"], "left_anti"),
        hits._tidyvec_persisted,
    )


def _cos_block(ida, A, idb, B, thr, nd, upper_only):
    """One BLAS block of the cosine pair kernel: ``A @ B.T`` with hoisted
    L2 norms, threshold mask, id ordering. ``upper_only`` restricts to
    ``id_a < id_b`` positions (self-block); otherwise every cross-block
    pair survives once and is emitted ordered. Zero-norm vectors score
    0.0 (engine-wide convention, functions/vector.py)."""
    import numpy as np
    import pandas as pd

    na = np.sqrt((A * A).sum(axis=1))
    nb = np.sqrt((B * B).sum(axis=1))
    denom = np.outer(na, nb)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(denom == 0.0, 0.0, (A @ B.T) / denom)
    if nd is not None:
        cos = np.round(cos, nd)
    mask = cos >= thr
    if upper_only:
        mask &= ida[:, None] < idb[None, :]
    ai, bj = np.nonzero(mask)
    left, right = ida[ai], idb[bj]
    if not upper_only:
        left, right = np.minimum(left, right), np.maximum(left, right)
    return pd.DataFrame({"id_a": left, "id_b": right, "similarity": cos[ai, bj]})


def _gemm_pairs(src, keys, blocks, threshold, round_to) -> DataFrame:
    """The one cosine tile kernel of the embedding near-dup operators:
    (id_a, id_b, similarity) for every pair of an ``(id, v, *keys)``
    frame that shares all ``keys`` and whose (rounded) cosine clears
    ``threshold``, id_a < id_b.

    Block-pair tiling: every row is hashed to one of ``blocks`` blocks
    (deterministic xxhash64; ``blocks`` is an int or a per-row int
    column) and replicated to each block-pair (min(p,q), max(p,q)) it
    belongs to, so each unordered same-key pair meets in exactly one
    ``groupBy(*keys, __lo, __hi)`` group. Each group is one BLAS tile
    ``A @ B.T`` inside ``applyInPandas``: shuffle volume is
    ``blocks × input``, per-task memory ``2·|group|/blocks`` rows, and
    the pair set does not depend on ``blocks``."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = src.schema["id"].dataType
    nb = F.lit(blocks) if isinstance(blocks, int) else blocks
    tasks = (
        src.withColumn("__blk", F.pmod(F.xxhash64(F.col("id")), nb).cast("int"))
        .select(
            "id",
            "v",
            *keys,
            "__blk",
            F.explode(F.sequence(F.lit(0), nb - 1)).alias("__q"),
        )
        .select(
            "id",
            "v",
            *keys,
            "__blk",
            F.least("__blk", "__q").alias("__lo"),
            F.greatest("__blk", "__q").alias("__hi"),
        )
    )

    thr = float(threshold)
    nd = None if round_to is None else int(round_to)

    def gemm_tile(key, pdf):
        import numpy as np
        import pandas as pd

        lo, hi = key[-2:]
        a = pdf if lo == hi else pdf[pdf["__blk"] == lo]
        b = a if lo == hi else pdf[pdf["__blk"] == hi]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame(columns=["id_a", "id_b", "similarity"])
        A = np.vstack(a["v"].to_numpy()).astype(np.float64)
        B = A if lo == hi else np.vstack(b["v"].to_numpy()).astype(np.float64)
        return _cos_block(
            a["id"].to_numpy(), A, b["id"].to_numpy(), B, thr, nd,
            upper_only=lo == hi,
        )

    schema = StructType(
        [
            StructField("id_a", id_type, False),
            StructField("id_b", id_type, False),
            StructField("similarity", DoubleType(), False),
        ]
    )
    return tasks.groupBy(*keys, "__lo", "__hi").applyInPandas(
        gemm_tile, schema=schema
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    threshold: float = 0.98,
    round_to: Optional[int] = None,
    num_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs embedding-cosine near-dup pairs via a fully
    distributed block-pair GEMM — no driver collect, no broadcast.

    The O(n²) pair space is tiled into ``num_blocks²`` block-pairs by
    the shared tile kernel (:func:`_gemm_pairs`, with no grouping key):
    every row is hashed to a block, replicated to each of the
    ``num_blocks`` block-pairs it participates in, and each block-pair
    group computes its tile as one ``A @ B.T`` BLAS call inside
    ``applyInPandas``, emitting only pairs whose (rounded) cosine
    clears the threshold. Versus one codegen expression per pair this
    is a ~10x win at equal semantics; versus the previous broadcast
    formulation it removes the driver-memory ceiling: shuffle volume is
    ``num_blocks × input``, per-task memory is ``2·n/num_blocks`` rows,
    and both tune independently of driver RAM.

    Scale shape: exact all-pairs is inherently O(n²·d) compute — that
    is the price of exactness, paid in distributed BLAS tiles here. Set
    ``num_blocks ≈ sqrt(desired tasks)`` so tiles fit executor memory
    (~0.5 GB per 1M-row block at d=64 float64). For sub-quadratic
    near-dup use the LSH paths (:func:`lsh_near_dup_pairs`,
    :func:`bucket_gemm_near_dup_pairs`).

    Returns (id_a, id_b, similarity) with id_a < id_b.
    """
    nb = int(num_blocks)
    if nb < 1:
        raise ValueError(f"num_blocks must be >= 1, got {num_blocks}")
    # NULL embeddings are not candidates (the engine NULL law) and
    # would crash the tile GEMM's vstack
    src = ensure_parallelism(
        df.filter(F.col(emb_col).isNotNull()).select(
            F.col(id_col).alias("id"),
            F.col(emb_col).cast("array<double>").alias("v"),
        )
    )
    return _gemm_pairs(src, [], nb, threshold, round_to)


def bucket_gemm_near_dup_pairs(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    planes: list,
    threshold: float = 0.98,
    round_to: Optional[int] = None,
    sub_blocks: int = 1,
) -> DataFrame:
    """LSH-bucket-then-GEMM near-dup — the 100 TB default for
    embedding near-dup: hyperplane bucket (map-side sign-bit
    expression, operators/ann.py) as the grouping key of the shared
    tile kernel (:func:`_gemm_pairs`), so the dense GEMM runs *within
    each bucket* via ``applyInPandas``.

    Identical result set to :func:`lsh_near_dup_pairs` (pairs
    restricted to same-bucket candidates) but the per-bucket
    verification is one BLAS ``A @ A.T`` tile instead of a JVM
    self-join evaluating a fold expression per pair — the GEMM kernel
    demoted to the per-bucket verifier role, with one shuffle on the
    bucket key and zero driver participation. Recall is governed by
    the plane count exactly as in :func:`lsh_near_dup_pairs`.

    ``sub_blocks`` bounds per-task memory against SKEWED buckets (near-
    dup corpora concentrate by construction — one popular template can
    own a bucket): it is the kernel's block count, so each bucket is
    tiled into ``sub_blocks²`` block-pairs and a task holds at most
    ``2·|bucket|/sub_blocks`` rows at the cost of ``sub_blocks×``
    replication. The pair set is invariant to the choice (every
    same-bucket pair meets in exactly one tile).

    Returns (id_a, id_b, similarity) with id_a < id_b.
    """
    from tidyvec_spark.operators.ann import hyperplane_bucket_expr

    nb = int(sub_blocks)
    if nb < 1:
        raise ValueError(f"sub_blocks must be >= 1, got {sub_blocks}")
    # NULL embeddings are not candidates (the engine NULL law) and
    # would crash the per-bucket GEMM's vstack
    src = ensure_parallelism(
        df.filter(F.col(emb_col).isNotNull())
    ).select(
        F.col(id_col).alias("id"),
        F.col(emb_col).cast("array<double>").alias("v"),
    ).withColumn("__bucket", hyperplane_bucket_expr("v", planes))
    return _gemm_pairs(src, ["__bucket"], nb, threshold, round_to)


def lsh_near_dup_pairs(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    planes: list,
    threshold: float = 0.98,
    round_to: Optional[int] = None,
) -> DataFrame:
    """Embedding near-dup via hyperplane-LSH bucketing — the 100 TB
    path of :func:`embedding_near_dup_pairs`.

    Bucket id (map-side sign-bit expression, operators/ann.py) becomes
    the equi-join key: candidates exist only within a bucket, so the
    O(n²) pair space shrinks to sum over buckets of |bucket|², and the
    one shuffle is the self-join on a well-distributed key. Exact cosine
    verifies every candidate. Recall is a property of nbits (near-dup
    pairs at cosine ≥ 0.98 split buckets with probability
    ≲ nbits·arccos(0.98)/π ≈ nbits·0.064); raise recall by re-running
    with rotated plane sets and unioning, same operator.

    Returns (id_a, id_b, similarity) with id_a < id_b.
    """
    from tidyvec_spark.functions.vector import cosine_sim_expr
    from tidyvec_spark.operators.ann import hyperplane_bucket_expr

    b = ensure_parallelism(df).select(
        F.col(id_col).alias("__id"),
        F.col(emb_col).cast("array<double>").alias("__v"),
    ).withColumn("__bucket", hyperplane_bucket_expr("__v", planes))
    a_side = b.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("va"), "__bucket"
    )
    b_side = b.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("vb"), "__bucket"
    )
    sim = cosine_sim_expr("va", "vb")
    if round_to is not None:
        sim = F.round(sim, round_to)
    return (
        a_side.join(b_side, on="__bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("similarity", sim)
        .filter(F.col("similarity") >= float(threshold))
        .select("id_a", "id_b", "similarity")
    )


def lsh_near_dup_pairs_multi(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    plane_tables: list,
    threshold: float = 0.98,
    round_to: Optional[int] = None,
) -> DataFrame:
    """Multi-table hyperplane-LSH near-dup — the recall amplifier.

    One table of ``nbits`` planes misses a cosine-θ pair with
    probability ≈ 1−(1−θ/π)^nbits; running T independently-rotated
    tables and unioning drives the miss rate to that quantity^T while
    leaving precision untouched (every candidate is exact-verified).
    Each table is the per-bucket GEMM pipeline
    (:func:`bucket_gemm_near_dup_pairs`) — one shuffle per table, T
    scans (or one scan reused from cache at the caller's choice) —
    and the union dedups on the pair key, which is safe because the
    verified similarity is a pure function of the pair.

    Returns (id_a, id_b, similarity) with id_a < id_b.
    """
    if not plane_tables:
        raise ValueError("plane_tables must contain at least one plane set")
    out = None
    for planes in plane_tables:
        part = bucket_gemm_near_dup_pairs(
            df, emb_col, id_col, planes, threshold=threshold, round_to=round_to
        )
        out = part if out is None else out.unionByName(part)
    return out.dropDuplicates(["id_a", "id_b"])


def simhash_fingerprints(
    df: DataFrame, text_col: str, id_col: str, bits: int = 32
) -> DataFrame:
    """Per-document SimHash fingerprint — map-side only, no shuffle
    (beyond the small-file parallelism guard)."""
    return ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        simhash(X.tokens(text_col), bits=bits).alias("simhash"),
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs via SimHash banding + Hamming verification.

    Two fingerprints within Hamming distance < bands must agree exactly
    in at least one of ``bands`` bit-blocks (pigeonhole), so the banded
    equi-join finds all pairs at distance < bands and, probabilistically,
    most pairs up to ``max_hamming``. Shuffle only on (band, block
    value); verification is a bit_count on the pair.

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    _validate_banding(bits, bands, max_hamming, complete=False)
    band_bits = bits // bands
    # persist: the fingerprint (bits × tokens md5 votes) is the expensive
    # map-side expression; without this the self-join evaluates it twice
    # per side × once per band
    fps = simhash_fingerprints(df, text_col, id_col, bits=bits).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    banded = fps.select(
        "id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("__b"),
    ).withColumn("__bv", simhash_band("simhash", F.col("__b"), band_bits))
    a = banded.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("fp_a"), "__b", "__bv"
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("fp_b"), "__b", "__bv"
    )
    # verify-then-dedup: bit_count is a pure function of the pair, so the
    # Hamming filter runs map-side on the band-join output and the dedup
    # shuffle carries only pairs that already passed it
    return _with_persisted(
        a.join(b, on=["__b", "__bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64("fp_a", "fp_b").cast("int"))
        .filter(F.col("hamming") <= int(max_hamming))
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"]),
        [fps],
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Resolve near-dup pairs into groups: (id, component) where
    ``component`` is the minimum id reachable in the pair graph.

    Iterative min-label propagation — each round every node takes the
    minimum label among itself and its neighbors; converged when no
    row's label changed (labels are monotone non-increasing, so a
    changed-row count of zero is a sound convergence signal). The
    change count compares old vs new label directly, so it works for
    ANY orderable id type — numeric, string (URLs, UUIDs, content
    hashes), date — unlike a numeric-sum signal, which under Spark 4's
    default ANSI mode raises CAST_INVALID_INPUT on string ids (or,
    with ANSI off, silently NULLs and stops after one round).

    Scale shape: per round one shuffle (edge join on current labels) +
    one groupBy min; lineage is cut every round with localCheckpoint so
    the plan stays O(1) deep. Rounds needed = graph diameter, and
    near-dup graphs are overwhelmingly star-shaped (diameter ≤ 2-3).
    For adversarial long-chain graphs swap in the large-star/small-star
    alternation — same join/agg building blocks, O(log n) rounds.

    The convergence check is deliberately one round conservative: a
    graph that reaches its fixpoint exactly on the last allowed
    iteration still has ``changed != 0`` at the cap and raises even
    though the labels happen to be correct — i.e. the effective
    supported diameter is ``max_iterations - 1``. Safe-side by design
    (an unverified fixpoint is indistinguishable from a non-fixpoint
    without one more pass); size ``max_iterations`` accordingly.
    """
    if int(max_iterations) < 1:
        # with zero rounds the loop body never runs and `changed` stays
        # 0, which would return identity labels (every node its own
        # component) — exactly the silent wrong answer the
        # non-convergence raise below exists to prevent
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    # partitioned by the per-round join key before the dedup aggregate:
    # every min-label round joins this cached side on `es`, so cluster
    # it once instead of re-shuffling it every round (r14, guide §2.4)
    edges = (
        pairs.select(F.col(src).alias("es"), F.col(dst).alias("ed"))
        .union(pairs.select(F.col(dst).alias("es"), F.col(src).alias("ed")))
        .repartition(F.col("es"))
        .dropDuplicates(["es", "ed"])
        # lineage cut, not just persist: the pair generator's plan is
        # DEEP (banded self-join over signatures) and every min-label
        # round's plan embedded it, so the analyzer re-walked it per
        # round — pure driver planning cost (r14, guide §7.3; same
        # fix as pagerank). es-hash partitioning is preserved by the
        # checkpointed scan, so each round's edge-side join still
        # runs with no added Exchange (guide §2.4).
        .transform(cut_lineage)
    )
    # lazy: the first round's join is the materializing action, so the
    # label init does not spend a driver job of its own (the lazy
    # checkpoint already has its LogicalRDD plan, so analyzer depth is
    # O(1) either way — eagerness only decides WHICH action computes it)
    labels = (
        edges.select(F.col("es").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .transform(cut_lineage)
    )
    changed = 0
    for _ in range(int(max_iterations)):
        nbr_min = (
            edges.join(labels, edges["es"] == labels["id"])
            .groupBy(F.col("ed").alias("id"))
            .agg(F.min("lbl").alias("nmin"))
        )
        # lazy checkpoint + the convergence count as its materializing
        # action: one job per round instead of two (the eager form ran
        # a materialization job, then a second job re-reading the
        # blocks just to count changes)
        stepped = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce("nmin", "lbl")).alias("lbl"),
                F.col("lbl").alias("__prev"),
            )
            .transform(cut_lineage)
        )
        changed = stepped.filter(F.col("lbl") != F.col("__prev")).count()
        labels = stepped.drop("__prev")
        if changed == 0:
            break
    # edges is a localCheckpoint: its blocks are freed when the RDD is
    # garbage-collected (labels' lineage was cut every round, so the
    # returned frame holds no reference to it)
    if changed != 0:
        # exhausting the iteration cap with labels still moving means the
        # returned labels are NOT components (e.g. a transitive chain
        # longer than max_iterations) — silent wrong answers are worse
        # than a loud failure here; callers with adversarial diameters
        # should use connected_components_two_phase (O(log n) rounds)
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations ({changed} labels still changing); raise "
            "max_iterations or use connected_components_two_phase for "
            "long-chain graphs"
        )
    return labels.select("id", F.col("lbl").alias("component"))


def connected_components_two_phase(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components via large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the adversarial-graph path of
    :func:`connected_components`.

    Plain min-label propagation needs diameter rounds: a 10⁶-node
    chain (transitive near-dup runs, crawl redirect chains) takes 10⁶
    rounds. The star operations contract paths doubly-exponentially —
    O(log n) rounds on any graph — at the cost of a heavier round (two
    groupBy-min + join passes instead of one):

    - large-star: every node's strictly-larger neighbors re-attach to
      the minimum of its closed neighborhood;
    - small-star: every node and its smaller-or-equal neighbors
      re-attach to that minimum.

    Both preserve connectivity; at the fixpoint the graph is a union
    of stars whose centers are the component minima. Convergence is
    detected type-agnostically (count + xxhash64 checksum of the
    canonical edge set — works for string ids). Each round
    localCheckpoints so lineage stays O(1) deep.

    Returns (id, component) with component = min id reachable — same
    contract as :func:`connected_components`; prefer this variant when
    component diameters are unknown or adversarial.
    """
    edges = (
        pairs.select(F.col(src).alias("lo"), F.col(dst).alias("hi"))
        .union(pairs.select(F.col(dst).alias("lo"), F.col(src).alias("hi")))
        .filter(F.col("lo") != F.col("hi"))
        .select(F.least("lo", "hi").alias("lo"), F.greatest("lo", "hi").alias("hi"))
        .distinct()
        # lazy: the first _signature call is the materializing action
        .transform(cut_lineage)
    )

    def _signature(e: DataFrame):
        row = e.agg(
            F.count("*").alias("n"),
            F.sum(
                F.xxhash64(F.col("lo"), F.col("hi")).cast("decimal(38,0)")
            ).alias("h"),
        ).first()
        return (row["n"], row["h"])

    def _star(e: DataFrame, large: bool) -> DataFrame:
        # bidirectional neighborhoods from the canonical set
        bi = e.select("lo", "hi").union(
            e.select(F.col("hi").alias("lo"), F.col("lo").alias("hi"))
        ).toDF("u", "v")
        m = bi.groupBy("u").agg(F.min("v").alias("__nmin"))
        m = m.select("u", F.least(F.col("u"), F.col("__nmin")).alias("m"))
        nbr = bi.join(m, "u")
        if large:
            out = nbr.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")
            )
        else:
            out = (
                nbr.filter(F.col("v") <= F.col("u"))
                .select(F.col("v").alias("a"), F.col("m").alias("b"))
                .union(m.select(F.col("u").alias("a"), F.col("m").alias("b")))
            )
        return (
            out.filter(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
            )
            .distinct()
        )

    sig = _signature(edges)
    converged = False
    for _ in range(int(max_iterations)):
        # the small-star references its input FOUR times (self-union
        # for bi, then bi on both sides of the neighborhood join); an
        # un-materialized large-star output would therefore re-run its
        # two shuffles up to 4× per round. The lazy localCheckpoint
        # computes the large-star's edge set once per executor block
        # (on local[*] that is exactly once; on a multi-executor
        # cluster independent downstream stages can still schedule an
        # un-cached block's partition elsewhere and recompute it — a
        # perf detail, never a correctness one) and keeps the round
        # plan O(1) deep.
        mid = _star(edges, large=True).transform(cut_lineage)
        # lazy: the signature aggregate is the materializing action —
        # one job per round instead of an eager materialization plus a
        # cache-reading signature job
        stepped = _star(mid, large=False).transform(cut_lineage)
        new_sig = _signature(stepped)
        edges = stepped
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # exhausting the cap without the signature fixpoint means the
        # edge set is still contracting: emitting it as components
        # would silently mislabel — mirror connected_components' loud
        # non-convergence guard (r14 ADVICE). O(log n) round growth
        # makes this unreachable in practice below max_iterations=50.
        raise RuntimeError(
            f"connected_components_two_phase did not converge in "
            f"{max_iterations} iterations; raise max_iterations"
        )
    # fixpoint: union of stars, center = component min
    members = edges.select(F.col("hi").alias("id"), F.col("lo").alias("component"))
    centers = edges.select(
        F.col("lo").alias("id"), F.col("lo").alias("component")
    ).distinct()
    return members.unionByName(centers).distinct()


def lsh_bucket_star_edges(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """O(n·bands) near-dup candidate edges: each document connects to
    the MINIMUM id of every (band, band-hash) bucket it lands in —
    the bucket-star sparsification. Connectivity within a bucket is
    preserved (every member reaches the bucket min), so connected
    components over these edges equal components over the full
    all-pairs-per-bucket candidate graph, with O(n·bands) edges
    instead of O(Σ bucket²) rows.

    This is THE pair-explosion weapon for clique-dense corpora:
    duplicates cluster (mirror farms, template pages), and a single
    6k-member duplicate clique emits 19M verified pairs through
    :func:`minhash_lsh_pairs` but only 6k bucket-star edges here —
    measured in scripts/scale_sweep.py. One window shuffle on the
    (band, hash) key, one distinct bounded by n·bands rows.

    Returns (id_a, id_b) with id_a = the bucket root (min id).
    """
    from pyspark.sql import Window

    sigs = minhash_sign(df, text_col, id_col, num_hashes, shingle_n)
    banded = _band(sigs, num_hashes, bands)
    sigs.persist(StorageLevel.MEMORY_AND_DISK)
    wroot = Window.partitionBy("__b", "__bh")
    edges = (
        banded.select("__id", "__b", "__bh")
        .withColumn("__root", F.min("__id").over(wroot))
        .filter(F.col("__id") != F.col("__root"))
        .select(F.col("__root").alias("id_a"), F.col("__id").alias("id_b"))
        .distinct()
    )
    return _with_persisted(edges, [sigs])


def near_dup_groups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    method: str = "verify",
    lpa_rounds: int = 4,
) -> DataFrame:
    """End-to-end fuzzy-dedup grouping. Returns (id, component) for
    every document that has at least one near-duplicate; documents
    absent from the result are unique. The standard large-corpus dedup
    tail: keep ``min(id) per component``, drop the rest.

    ``method="verify"`` (default): MinHash-LSH candidate pairs →
    exact-Jaccard ≥ ``threshold`` verify → connected components. The
    precise grouping — but pair enumeration is quadratic IN CLIQUE
    SIZE: a single 6k-member duplicate cluster (mirror farms,
    boilerplate template pages — exactly what dedup exists to kill)
    emits C(6k,2) ≈ 19M verified pairs. Measured in
    scripts/scale_sweep.py: ~200 s at 100k docs on the dup-dense
    sweep corpus.

    ``method="bucket"``: group documents that share ANY LSH band
    bucket, via :func:`lsh_bucket_star_edges` — O(n·bands) edges, no
    per-pair verification; precision is governed by the banding
    S-curve alone (num_hashes/bands pick the effective threshold).
    This is the published large-scale MinHashLSH-dedup behavior
    (SlimPajama, BigCode) and the only viable regime when duplicates
    form large clusters; ``threshold`` is ignored. ~Linear on the
    same sweep corpus.

    ``method="lpa"``: the verified pair graph grouped by
    ``graph.label_propagation`` (``lpa_rounds`` synchronous rounds)
    instead of connected components — the BRIDGE-RESISTANT middle
    ground: one accidental over-threshold pair between two genuinely
    distinct dense groups merges them under reachability, but never
    outvotes either group's internal majority under LPA. Same pair
    cost as ``verify``; the grouping stage is the PageRank recurrence
    shape per round. Community keys are the winning member id, so the
    keep-min-id tail works unchanged.
    """
    if method == "lpa":
        from tidyvec_spark.operators.graph import label_propagation

        pairs = minhash_lsh_pairs(
            df, text_col, id_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            threshold=threshold,
        )
        labels = label_propagation(
            pairs.select(F.col("id_a").alias("src"),
                         F.col("id_b").alias("dst")),
            rounds=lpa_rounds,
        )
        # LPA is fully lazy (localCheckpoint(eager=False)): releasing
        # the pair generator's signature cache HERE would drop it
        # before the caller's first action re-runs the banded self-
        # join (the trap graph.py documents). Ride every handle —
        # the signature table AND LPA's undirected edge table — on
        # the returned frame for release() after the terminal action.
        # (the handle attribute does not survive .select, so collect
        # handles BEFORE projecting)
        handles = getattr(pairs, "_tidyvec_persisted", []) + getattr(
            labels, "_tidyvec_persisted", []
        )
        return _with_persisted(
            labels.select("id", F.col("community").alias("component")),
            handles,
        )
    if method == "bucket":
        edges = lsh_bucket_star_edges(
            df, text_col, id_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
        )
        comps = connected_components(edges)
        release(edges)
        return comps
    if method != "verify":
        raise ValueError(f"unknown method: {method!r}")
    pairs = minhash_lsh_pairs(
        df,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
    )
    comps = connected_components(pairs)
    # labels are localCheckpoint-materialized by now; the signature
    # cache the pair generator held is dead weight — free it
    release(pairs)
    return comps


def drop_near_dups_keep_best(
    corpus: DataFrame,
    components: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Quality-aware canonical selection: given near-dup ``components``
    (id, component) over ``corpus``, keep the HIGHEST-``score_col``
    member of each component (tie → min id) and every document that is
    in no component. Production dedup keeps the best copy — longest,
    highest quality score, freshest — not the arbitrary min-id one;
    this is the policy layer over ``near_dup_groups``.

    Plan shape at 100 TB: the window runs over the COMPONENTS table
    (members of dup clusters — orders of magnitude smaller than the
    corpus), one shuffle on id to attach scores + one on component for
    the per-cluster rank; the corpus itself is touched only by the
    final anti-join against the loser ids.
    """
    from pyspark.sql import Window

    comp = components
    if id_col not in comp.columns:  # near_dup_groups emits ("id", component)
        comp = comp.withColumnRenamed("id", id_col)
    m = comp.join(
        corpus.select(F.col(id_col), F.col(score_col)), on=id_col
    )
    w = Window.partitionBy("component").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    losers = (
        m.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(id_col)
    )
    return corpus.join(losers, on=id_col, how="left_anti")



def _shingle_pair_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    max_doc_freq: Optional[int | str],
):
    """Shared candidate stage of the exact shingle-overlap family
    (:func:`ngram_jaccard_pairs` / :func:`ngram_containment_pairs`):
    inverted shingle index (persisted), optional hot-shingle
    broadcast exclusion, equi-join on the shingle, per-pair common
    count riding both docs' distinct-shingle sizes. Returns
    ``(common, sh)`` — the (id_a, id_b, __na, __nb, __c) frame plus
    the persisted index to release after materialization."""
    if max_doc_freq == "auto":
        n_docs = df.count()
        max_doc_freq = max(100, -(-n_docs // 200))  # ceil(0.5% of corpus)
    sh = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("__id"),
            F.array_distinct(X.ngrams(text_col, shingle_n)).alias("__set"),
        )
        .select(
            "__id",
            F.size("__set").alias("__n"),
            F.explode("__set").alias("__s"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    idx = sh
    if max_doc_freq is not None:
        # rows of sh are distinct (id, shingle), so count(*) per shingle
        # IS document frequency; the > cap survivors are few, broadcast
        hot = (
            sh.groupBy("__s")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > int(max_doc_freq))
            .select("__s")
        )
        idx = sh.join(F.broadcast(hot), "__s", "left_anti")
    a = idx.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na"), "__s")
    b = idx.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb"), "__s")
    common = (
        a.join(b, on="__s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "__na", "__nb")
        .agg(F.count("*").alias("__c"))
    )
    return common, sh


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    round_to: Optional[int] = None,
    max_doc_freq: Optional[int | str] = "auto",
    exact_row_bound: Optional[int] = 250_000,
) -> DataFrame:
    """n-gram-Jaccard near-dup via an inverted shingle index — exact
    when ``max_doc_freq=None``; the default ``"auto"`` cap computes a
    lower-bound Jaccard that can drop pairs whose overlap rides on
    stop-shingles (see below).

    EVAL-ONLY ENVELOPE of the exact path: ``max_doc_freq=None`` is
    quadratic in hot-shingle document frequency — one stop-shingle
    shared by 10⁶ documents contributes 10¹² join rows — so it is for
    recall evals on bounded corpora (the dedup_recall_* entries),
    never for a raw 100 TB corpus. To keep that a visible decision,
    the exact path counts the input first (one column-pruned job, the
    same cost ``"auto"`` already pays) and raises past
    ``exact_row_bound`` rows; raise the bound explicitly — or pass
    ``exact_row_bound=None`` — to opt a larger corpus in.

    The candidate generator is an equi-join on the shingle string
    (shuffle on shingle, count common per pair) — heavier than
    MinHash-LSH (every shared shingle becomes a join row) but, uncapped,
    with no false negatives; the right tool up to ~10⁸ docs. At true
    100 TB scale prefer :func:`minhash_lsh_pairs`.

    ``max_doc_freq`` caps the inverted index: shingles appearing in
    more than that many documents are dropped *from the join only*
    (denominators keep the full distinct-shingle counts, so the
    computed Jaccard is a lower bound of the exact value). Without a
    cap, one stop-shingle shared by 10⁶ documents contributes 10¹²
    join rows; hot shingles carry ~0 discrimination, so the cap trades
    vanishing precision for the quadratic blow-up. The hot-shingle
    list is tiny by construction (it IS the high-frequency tail), so
    the exclusion is a broadcast anti-join — no extra shuffle of the
    index, and the doc-frequency count itself pre-aggregates map-side.

    The cap is ON by default (``"auto"``: 0.5 % of the corpus doc
    count, floor 100 — below that the quadratic term is harmless) so a
    default call can never hit the 10¹²-row plan; pass an explicit
    ``max_doc_freq=None`` to opt into the fully exact join. ``"auto"``
    costs one column-pruned ``count()`` of the input.
    """
    if max_doc_freq is None and exact_row_bound is not None:
        n = df.select(id_col).count()
        if n > int(exact_row_bound):
            raise ValueError(
                f"ngram_jaccard_pairs(max_doc_freq=None) on {n} rows "
                f"exceeds exact_row_bound={exact_row_bound}: the "
                "uncapped inverted-index join is quadratic in "
                "hot-shingle frequency and is meant for recall evals "
                "on bounded corpora. Use the default max_doc_freq="
                "'auto' cap (or minhash_lsh_pairs) for raw corpora, "
                "or raise exact_row_bound explicitly to opt in."
            )
    common, sh = _shingle_pair_counts(
        df, text_col, id_col, shingle_n, max_doc_freq
    )
    jac = F.col("__c").cast("double") / (
        F.col("__na") + F.col("__nb") - F.col("__c")
    ).cast("double")
    if round_to is not None:
        jac = F.round(jac, round_to)
    return _with_persisted(
        common.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= float(threshold))
        .select("id_a", "id_b", "jaccard"),
        [sh],
    )


def dup_ngram_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    round_to: Optional[int] = None,
) -> DataFrame:
    """WITHIN-document duplicated-n-gram token coverage — the
    RefinedWeb/MassiveText doc-level repetition filter (Penedo et al.
    2023 Table 2; Rae et al. 2021 A.1.1): the fraction of a document's
    tokens covered by any word n-gram that occurs ≥ 2 times IN THAT
    DOCUMENT. Complements ``top_ngram_fraction`` (share of the single
    most frequent n-gram) and the corpus-level Lee-et-al span ops:
    looped generations and listicle boilerplate score high here even
    when no single n-gram dominates.

    Returns (``id_col``, n_tokens, n_covered, dup_frac). Shape: the
    n-gram positions explode map-side ONCE (the position frame is
    persisted — it feeds both the duplicate hash-agg and the coverage
    probe, and the gram construction is the expensive expression),
    duplicates resolve in one (doc, gram) hash-agg, and coverage is an
    INTERVAL UNION over the sorted duplicate positions (fixed-length
    intervals: each contributes min(n, gap-to-next); the last
    contributes n) — one per-doc window, no position explode, no
    distinct. Every shuffle is keyed by doc (or doc+gram), so
    parallelism is document-granular and no all-pairs structure
    exists; handles ride the release() convention."""
    from pyspark.sql import Window

    if int(n) < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    nn = int(n)
    # a single-file parquet source arrives as ONE partition; the gram
    # construction is the expensive expression, so spread it first
    base = ensure_parallelism(
        df.select(
            F.col(id_col).alias("__id"),
            X.token_count(text_col).alias("__len"),
            X.ngrams(text_col, nn).alias("__grams"),
        )
    )
    pos = base.select(
        "__id",
        "__len",
        F.posexplode("__grams").alias("__p", "__g"),
    ).persist()
    dupes = (
        pos.groupBy("__id", "__g")
        .agg(F.count("*").alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("__id", "__g")
    )
    w = Window.partitionBy("__id").orderBy("__p")
    lead_p = F.lead("__p").over(w)
    contrib = F.when(
        lead_p.isNotNull(), F.least(F.lit(nn), lead_p - F.col("__p"))
    ).otherwise(F.lit(nn))
    covered = (
        pos.join(dupes, ["__id", "__g"])
        .select("__id", "__len", "__p")
        .withColumn("__c", contrib)
        .groupBy("__id", "__len")
        .agg(F.sum("__c").cast("long").alias("n_covered"))
    )
    frac = F.when(
        F.col("__len") > 0,
        F.col("n_covered").cast("double") / F.col("__len").cast("double"),
    ).otherwise(F.lit(0.0))
    if round_to is not None:
        frac = F.round(frac, int(round_to))
    out = (
        df.select(
            F.col(id_col).alias("__id"),
            X.token_count(text_col).alias("__len"),
        )
        .join(covered, ["__id", "__len"], "left")
        .fillna({"n_covered": 0})
        .select(
            F.col("__id").alias(id_col),
            F.col("__len").alias("n_tokens"),
            "n_covered",
            frac.alias("dup_frac"),
        )
    )
    out._tidyvec_persisted = [pos]
    return out


def substring_dup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """EXACT substring duplication detection — the rolling-window form
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better", arXiv:2107.06499 §3.1, which uses a suffix array
    on one machine): every ``k``-token window of every document is
    hashed; a window whose hash occurs in at least ``min_docs``
    DISTINCT documents marks a duplicated region, and overlapping /
    adjacent duplicated windows merge into maximal spans.

    Returns (``id_col``, span_start, span_end, n_windows) — token
    offsets, end exclusive, spans disjoint per document. Downstream
    policy (cut the span, drop the doc, keep one canonical copy) stays
    composable; :func:`substring_dup_stats` derives the per-doc
    duplicated-token fraction.

    Why not a suffix array: it is a single-machine O(corpus) RAM
    structure. The rolling-window form is the same detector at ≥ k
    granularity and is embarrassingly distributable:

    - window hashing is one map-side explode (the token array is
      let-bound — tokenized once per row);
    - duplicate-hash discovery is ONE vocabulary-sized hash-agg
      (count distinct docs per hash, Zipf-bounded);
    - marking is a semi-join of the window table against the (small)
      duplicated-hash set — no row explosion: boilerplate shared by
      10^6 docs costs 10^6 marked windows, never 10^12 pairs (the
      structural advantage over pairwise candidates);
    - span merge is a per-document sort window (gaps-and-islands),
      shuffle width = marked windows only.

    No reference counterpart (reference has no dedup at all).
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2")
    wins = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("__id"),
            F.posexplode(X.ngrams(text_col, k)).alias("__pos", "__g"),
        )
        .select("__id", "__pos", F.md5(F.col("__g")).alias("__h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dup = (
        wins.groupBy("__h")
        .agg(F.countDistinct("__id").alias("__nd"))
        .filter(F.col("__nd") >= int(min_docs))
        .select("__h")
    )
    marked = wins.join(dup, "__h", "left_semi")
    w = Window.partitionBy("__id").orderBy(F.asc("__pos"))
    islands = (
        marked.withColumn("__prev", F.lag("__pos").over(w))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev").isNull()
                | (F.col("__pos") - F.col("__prev") > k),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "__isl",
            F.sum("__new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return _with_persisted(
        islands.groupBy("__id", "__isl")
        .agg(
            F.min("__pos").cast("long").alias("span_start"),
            (F.max("__pos") + k).cast("long").alias("span_end"),
            F.count("*").cast("long").alias("n_windows"),
        )
        .select(
            F.col("__id").alias(id_col),
            "span_start",
            "span_end",
            "n_windows",
        ),
        [wins],
    )


def substring_dup_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
    min_docs: int = 2,
    round_to: Optional[int] = None,
) -> DataFrame:
    """Per-document duplicated-token budget from
    :func:`substring_dup_spans`: (``id_col``, n_tokens, dup_tokens,
    dup_fraction) for EVERY document (zero spans → 0). The corpus-level
    ``avg(dup_fraction)`` is the headline number Lee et al. report per
    dataset; the per-doc rows feed cut-or-drop curation policy.

    Spans are disjoint, so dup_tokens is a plain sum — one left join
    of the (small) span table back onto per-doc token counts.
    """
    spans = substring_dup_spans(df, text_col, id_col, k=k, min_docs=min_docs)
    per_doc = spans.groupBy(id_col).agg(
        F.sum(F.col("span_end") - F.col("span_start"))
        .cast("long")
        .alias("dup_tokens")
    )
    base = df.select(
        F.col(id_col), X.token_count(text_col).alias("n_tokens")
    )
    frac = F.when(
        F.col("n_tokens") > 0,
        F.col("dup_tokens").cast("double") / F.col("n_tokens").cast("double"),
    ).otherwise(F.lit(0.0))
    if round_to is not None:
        frac = F.round(frac, round_to)
    return (
        base.join(per_doc, id_col, "left")
        .fillna({"dup_tokens": 0})
        .select(
            id_col,
            "n_tokens",
            "dup_tokens",
            frac.alias("dup_fraction"),
        )
    )


def substring_dedup_cut(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 20,
    min_docs: int = 2,
    carry: Sequence[str] = (),
) -> DataFrame:
    """The ACT half of :func:`substring_dup_spans` — Lee et al. 2022's
    dedup policy: every duplicated >= ``k``-token region survives only
    at its corpus-FIRST occurrence (lowest (doc, position)); every
    other document has those tokens CUT and its text rebuilt from the
    survivors. Detection and ownership share one window table.

    Returns (``id_col``, ``text_col``, n_tokens, n_cut) for every
    document. Documents with nothing to cut pass through with their
    ORIGINAL text byte-for-byte (n_cut = 0); only documents that lost
    tokens are re-assembled from the surviving tokens, which — like
    every token-level operator here — means their text comes back
    case-folded and single-spaced.

    Scale shape on top of the span detector: the ownership table is
    one min-struct per duplicated hash (vocabulary-sized); the cut
    set explodes ONLY foreign duplicated windows (k rows per marked
    window, never the corpus) and is folded into ONE positions array
    per affected document; the rebuild joins that (affected-docs-
    sized) table back to the token table and filters each token array
    in place — zero token-level explode, zero corpus-width shuffle,
    and untouched documents never leave the map side.

    ``carry`` names extra input columns passed through unchanged (they
    ride the per-doc token cache, a few bytes per row) — a caller that
    needs a per-document metadata value NEXT TO the cut text (the
    funnel report's per-stage char counts) gets both without re-running
    the upstream chain a second time. ``carry=()`` leaves the plan
    byte-identical to the pre-seam operator.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2")
    toks = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("__id"),
            F.col(text_col).alias("__orig"),
            X.tokens(text_col).alias("__ts"),
            *[F.col(c) for c in carry],
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    wins = toks.select(
        "__id",
        F.posexplode(
            F.when(
                F.size("__ts") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("__ts") - k),
                    lambda i: F.concat_ws(
                        " ", F.slice("__ts", i + 1, k)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("__pos", "__g"),
    ).select("__id", "__pos", F.md5("__g").alias("__h"))
    wins = wins.persist(StorageLevel.MEMORY_AND_DISK)
    owners = (
        wins.groupBy("__h")
        .agg(
            F.countDistinct("__id").alias("__nd"),
            F.min(F.struct(F.col("__id"), F.col("__pos"))).alias("__w"),
        )
        .filter(F.col("__nd") >= int(min_docs))
        .select("__h", F.col("__w.__id").alias("__own"))
    )
    # foreign duplicated windows: this doc repeats content some other
    # doc owns -> every covered token position is cut. Fold positions
    # into ONE array per affected doc (collect_set dedups overlapping
    # windows); this table is sized by docs-with-cuts, not the corpus.
    cut_arr = (
        wins.join(owners, "__h")
        .filter(F.col("__id") != F.col("__own"))
        .select(
            "__id",
            F.explode(
                F.sequence(F.col("__pos"), F.col("__pos") + (k - 1))
            ).alias("__tp"),
        )
        .groupBy("__id")
        .agg(F.array_sort(F.collect_set("__tp")).alias("__cuts"))
    )
    kept = F.filter(
        F.col("__ts"),
        lambda _t, i: ~F.array_contains(F.col("__cuts"), i),
    )
    return _with_persisted(
        toks.join(cut_arr, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.when(F.col("__cuts").isNull(), F.col("__orig"))
            .otherwise(F.array_join(kept, " "))
            .alias(text_col),
            (
                F.size("__ts")
                - F.coalesce(F.size("__cuts"), F.lit(0))
            ).cast("long").alias("n_tokens"),
            F.coalesce(F.size("__cuts"), F.lit(0))
            .cast("long")
            .alias("n_cut"),
            *[F.col(c) for c in carry],
        ),
        [toks, wins],
    )


def shared_line_matrix(
    df: DataFrame,
    text_col: str,
    strata_col: str,
) -> DataFrame:
    """Cross-stratum boilerplate attribution: for every pair of strata
    (sources, domains, snapshots), how many DISTINCT normalized lines
    they share — the overlap matrix that tells a curation team where
    the boilerplate (cookie banners, license headers, templated pages)
    flows from, and which source pairs double-count content before
    dedup. The diagonal is a stratum's distinct-line count.

    Shape: lines explode map-side and collapse to DISTINCT
    (stratum, line-md5) first — the matrix join then moves 16-byte
    digests, its fan-out bounded by how many strata share a line
    (strata count, not corpus size). Output is strata² rows — tiny.
    """
    ex = (
        df.select(
            F.col(strata_col).alias("__s"),
            F.explode(F.split(F.col(text_col), "\n")).alias("__l"),
        )
        .filter(F.trim(F.col("__l")) != "")
        .select("__s", F.md5(F.trim(F.col("__l"))).alias("__h"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = ex.select(F.col("__s").alias("source_a"), "__h")
    b = ex.select(F.col("__s").alias("source_b"), "__h")
    return _with_persisted(
        a.join(b, "__h")
        .filter(F.col("source_a") <= F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_shared_lines")),
        [ex],
    )


def drop_exact_dups_weighted(
    df: DataFrame,
    text_col: str,
    id_col: str,
    weight_col: str = "n_copies",
) -> DataFrame:
    """Exact dedup that PRESERVES multiplicity: keep the lowest-id
    representative of each group and attach how many copies it stood
    for — the input to duplication-aware loss weighting / sampling
    (a document seen a million times carries signal the plain drop
    throws away; downstream can up-weight, cap, or log-scale it).

    Same shape as :func:`drop_exact_dups` (map-side partial
    aggregation on the 128-bit key, skew-tolerant join back); the
    count rides the same aggregate for free.
    """
    keyed = df.withColumn("__h", normalized_text_key(text_col))
    keep = keyed.groupBy("__h").agg(
        F.min(id_col).alias("__keep"),
        F.count("*").cast("long").alias(weight_col),
    )
    return (
        keyed.join(keep, "__h")
        .filter(F.col(id_col) == F.col("__keep"))
        .select(*df.columns, weight_col)
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every token ``k``-gram, slide a
    window of ``w`` consecutive hashes, keep each window's MINIMUM —
    the guarantee is that any shared run of ``w + k - 1`` tokens
    between two documents shares at least one selected fingerprint,
    which MinHash (whole-doc resemblance) and SimHash (global
    near-ness) cannot promise for local overlaps. The third published
    fingerprint family here, tuned for quote/plagiarism-style partial
    duplication.

    Documents with fewer than ``w`` k-grams (but at least one)
    contribute their single global minimum; empty documents none.

    100 TB shape: selection is ONE map-side expression per document
    (O(grams × w) integer work, no shuffle); output is the exploded
    DISTINCT (``id_col``, fp) set, ~|tokens|/w rows per doc — the
    density guarantee of winnowing — feeding an equi-join candidate
    generator. Returns (``id_col``, fp).
    """
    if k < 1 or w < 1:
        raise ValueError("need k >= 1 and w >= 1")
    from tidyvec_spark.functions.hashing import md5_long

    def mins_of(hs):
        windows = F.transform(
            F.sequence(F.lit(0), F.size(hs) - w),
            lambda i: F.array_min(F.slice(hs, i + 1, w)),
        )
        return F.when(F.size(hs) >= w, windows).when(
            F.size(hs) > 0, F.array(F.array_min(hs))
        )

    hashes = F.transform(X.ngrams(text_col, k), md5_long)
    fps = F.array_distinct(X.let(hashes, mins_of))
    return (
        df.select(F.col(id_col), F.explode(fps).alias("fp"))
        .distinct()
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_doc_freq: Optional[int] = 1000,
) -> DataFrame:
    """Candidate near-dup/overlap pairs from shared winnowing
    fingerprints: equi-join of the fingerprint table with itself,
    counting shared fingerprints per (id_a < id_b) pair. A pair
    sharing ``s`` fingerprints shares (with winnowing's guarantee)
    material overlapping runs — ``min_shared`` prunes incidental
    single-window collisions.

    ``max_doc_freq`` drops fingerprints present in more than that many
    documents from the join (boilerplate windows — the same
    hot-shingle cap as :func:`ngram_jaccard_pairs`, same rationale:
    one fp shared by 10⁶ docs is 10¹² join rows of zero
    discrimination). The fingerprint table is persisted across the
    self-join so selection runs once.
    """
    if min_shared < 1:
        raise ValueError("min_shared must be >= 1")
    fps = winnow_fingerprints(df, text_col, id_col, k=k, w=w)
    fps = ensure_parallelism(fps).persist(StorageLevel.MEMORY_AND_DISK)
    if max_doc_freq is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") > int(max_doc_freq))
            .select("fp")
        )
        fps_join = fps.join(F.broadcast(hot), "fp", "left_anti")
    else:
        fps_join = fps
    a = fps_join.select(F.col(id_col).alias("id_a"), "fp")
    b = fps_join.select(F.col(id_col).alias("id_b"), "fp")
    out = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )
    return _with_persisted(out, [fps])


def soft_dedup_sample(
    df: DataFrame,
    comps: DataFrame,
    id_col: str,
    salt: str = "",
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Soft deduplication: DOWN-WEIGHT duplicate clusters instead of
    hard-dropping them — every document keeps an independent Bernoulli
    trial with p = 1 / cluster_size (unique documents: p = 1), so each
    near-dup cluster survives ONCE in expectation while which copy
    survives stays unbiased. This is the sampling-based alternative to
    keep-min-id / keep-best curation (cf. the soft-dedup reweighting
    in D4/SlimPajama-era pipelines): repeated content's influence on
    the training mix is normalized without deterministically favoring
    any single copy.

    The trial is the engine's salted md5 unit hash — reproducible
    across runs, engines, and repartitionings (never ``rand()``).

    ``comps`` is :func:`near_dup_groups` output (id, component) —
    passed in, not recomputed, so one component table can feed
    keep-best, soft sampling, and leakage-free splitting without
    re-running LSH.

    Shape: one component-sized groupBy for cluster sizes, one join
    back to the corpus on the id (docs absent from ``comps`` are
    unique and pass the join as weight 1), map-side trial — no
    corpus-wide extra shuffle beyond the id join.

    Returns kept rows: (``id_col``, cluster_size, weight).
    """
    from tidyvec_spark.operators.sampling import hash_unit

    sizes = comps.groupBy("component").agg(
        F.count("*").cast("long").alias("__cs")
    )
    # co-partitioned on the component key straight out of the groupBy;
    # no broadcast hint — cluster count is corpus-dependent and AQE
    # picks broadcast itself when the size table is small
    sized = comps.join(sizes, "component").select(
        F.col("id").alias("__id"), "__cs"
    )
    u = hash_unit(id_col, salt)
    w = F.lit(1.0) / F.coalesce(F.col("__cs"), F.lit(1)).cast("double")
    out = (
        df.join(sized, df[id_col] == F.col("__id"), "left")
        .filter(u < w)
        .select(
            F.col(id_col),
            F.coalesce(F.col("__cs"), F.lit(1)).cast("long").alias(
                "cluster_size"
            ),
            (F.round(w, round_to) if round_to is not None else w).alias(
                "weight"
            ),
        )
    )
    return out


def overlap_degree(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_a",
    dst: str = "id_b",
    min_partners: int = 3,
) -> DataFrame:
    """Partner-degree profile over ANY near-dup/overlap pair table
    (winnowing, MinHash, SimHash, embedding — whatever produced the
    pairs): per document, how many distinct partners it overlaps
    with, and a ``is_template`` flag at ``min_partners`` — the
    templated-page detector (navigation shells, listing pages, mirror
    farms share local runs with MANY documents, where a genuine
    near-dup has one or two).

    Every document of ``df`` appears (degree 0 when unpaired), so the
    output is a per-corpus-row feature joinable into quality
    ensembles. Shape: one degree aggregation over the (bounded) pair
    table + one left join back to the id set — the corpus is never
    exploded.
    """
    if int(min_partners) < 1:
        raise ValueError("min_partners must be >= 1")
    # explode both (endpoint, partner) directions in ONE pass — a
    # union of two selects would evaluate the (possibly expensive)
    # pair-generation subtree twice — and count DISTINCT partners, so
    # a symmetric or non-deduped pair table ((a,b) AND (b,a), or
    # repeats) cannot inflate the degree
    deg = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src).alias("id"), F.col(dst).alias("p")
                    ),
                    F.struct(
                        F.col(dst).alias("id"), F.col(src).alias("p")
                    ),
                )
            ).alias("e")
        )
        .select("e.id", "e.p")
        .groupBy("id")
        .agg(F.countDistinct("p").cast("long").alias("n_partners"))
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .distinct()
        .join(deg, "id", "left")
        .select(
            "id",
            F.coalesce("n_partners", F.lit(0).cast("long")).alias(
                "n_partners"
            ),
            (
                F.coalesce("n_partners", F.lit(0)) >= int(min_partners)
            ).alias("is_template"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    round_to: Optional[int] = None,
    max_doc_freq: Optional[int | str] = "auto",
) -> DataFrame:
    """Shingle CONTAINMENT pairs: ``c / min(|A|, |B|)`` — Broder's
    containment of the smaller document in the larger, the measure
    that catches a document EMBEDDED inside a bigger one. Resemblance
    (Jaccard, what MinHash estimates) structurally misses those: a
    1k-shingle doc fully contained in a 100k-shingle doc has
    containment 1.0 but Jaccard ≈ 0.01 — quote-and-extend pages,
    aggregators, and boilerplate-wrapped reposts all look like THIS,
    not like near-identical twins.

    Same inverted-shingle-index plan as :func:`ngram_jaccard_pairs`
    (one explode + equi-join on the shingle + per-pair count; hot
    shingles broadcast-excluded under ``max_doc_freq``, making the
    score a lower bound exactly as documented there), only the
    denominator differs. Returns (id_a, id_b, containment) at or
    above ``threshold``.
    """
    common, sh = _shingle_pair_counts(
        df, text_col, id_col, shingle_n, max_doc_freq
    )
    cont = F.col("__c").cast("double") / F.least(
        F.col("__na"), F.col("__nb")
    ).cast("double")
    if round_to is not None:
        cont = F.round(cont, round_to)
    return _with_persisted(
        common.withColumn("containment", cont)
        .filter(F.col("containment") >= float(threshold))
        .select("id_a", "id_b", "containment"),
        [sh],
    )


def drop_contained_docs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: Optional[int | str] = "auto",
) -> DataFrame:
    """Act stage of containment dedup: drop every document EMBEDDED in
    a larger one (containment ≥ ``threshold``), keeping the superset
    document — snippets, quote-pages, and boilerplate-wrapped reposts
    die; their sources survive. The victim of a pair is the SMALLER
    shingle set (the contained side); equal sizes keep the lower id,
    matching the engine's keep-min-id convention everywhere else.

    Same bounded candidate plan as :func:`ngram_containment_pairs`;
    the corpus is touched once more by ONE anti-join against the
    (small) victim id set. A document contained in several supersets
    is dropped once; a chain a ⊂ b ⊂ c keeps exactly c (victims are
    decided per-pair against the largest partner, and b loses to c
    regardless of the a-b pair).
    """
    common, sh = _shingle_pair_counts(
        df, text_col, id_col, shingle_n, max_doc_freq
    )
    cont = F.col("__c").cast("double") / F.least(
        F.col("__na"), F.col("__nb")
    ).cast("double")
    victims = (
        common.filter(cont >= float(threshold))
        .select(
            F.when(F.col("__na") < F.col("__nb"), F.col("id_a"))
            .when(F.col("__nb") < F.col("__na"), F.col("id_b"))
            .otherwise(F.greatest("id_a", "id_b"))
            .alias("__victim")
        )
        .distinct()
    )
    return _with_persisted(
        df.join(
            victims, df[id_col] == victims["__victim"], "left_anti"
        ),
        [sh],
    )


def image_near_dup_pairs(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    bands: int = 4,
    max_hamming: int = 3,
    complete: bool = True,
) -> DataFrame:
    """Visual near-dup pairs: perceptual average-hash (REAL pixel
    decode — operators/multimodal.py::image_ahash) banded exactly like
    SimHash. Two 64-bit hashes within Hamming distance < ``bands``
    must agree exactly in one of the ``bands`` bit-blocks
    (pigeonhole), so the banded equi-join finds EVERY pair at
    Hamming ≤ bands-1 without an image×image cross join; re-encoded,
    slightly re-compressed, or single-region-edited copies land
    within a few bits of each other and surface here.

    THE TWO-SIDED KNOB (completeness vs occupancy): candidates ≈
    bands · n²/2^(64/bands), so completeness at a larger radius costs
    narrower bands and quadratically more candidates — measured in
    scripts/scale_sweep.py: bands=4 (16-bit bands, complete to
    Hamming 3) stays linear to ~10⁶ distinct fingerprints, while
    bands=8 (8-bit bands, complete to Hamming 7) holds only 256
    distinct band values and goes quadratic past ~10⁴. The default
    (bands=4, max_hamming=3) is the linear-at-scale contract; ask for
    a bigger radius with bands=8 (accepting the occupancy cliff on
    large corpora) or with ``complete=False`` (wide bands, recall
    above bands-1 bits probabilistic). ``max_hamming >= bands``
    raises unless ``complete=False`` opts in explicitly.

    The hash rides as the 64-char bit string ``image_ahash`` emits —
    banding is a substring, verification a 64-step character compare
    (codegen ``filter`` over a literal sequence, pairs only). The
    decoded fingerprint frame is persisted across the self-join so
    the Arrow decode pass runs ONCE, not once per side per band.

    Returns (id_a, id_b, hamming) with id_a < id_b; rows whose
    payload fails to decode (NULL hash) are dropped before banding.
    """
    from tidyvec_spark.operators.multimodal import image_ahash

    fps = (
        image_ahash(
            ensure_parallelism(df).select(id_col, content_col), content_col
        )
        .filter(F.col("ahash").isNotNull())
        .select(F.col(id_col).alias("id"), F.col("ahash").alias("fp"))
    )
    return _bitstring_banded_pairs(
        fps, 64, bands, max_hamming, complete=complete
    )


def _validate_banding(
    bits: int, bands: int, max_hamming: int, complete: bool
) -> None:
    """Eager argument check shared by the SimHash and bitstring near-dup
    families — runs before any job fires (and before any persist) so a
    bad knob combination surfaces as the real error, not behind a
    downstream analysis failure."""
    if bits % int(bands) != 0:
        raise ValueError(f"bands={bands} must divide {bits}")
    if complete and int(max_hamming) >= int(bands):
        raise ValueError(
            f"max_hamming={max_hamming} >= bands={bands}: the banded "
            "join is only pigeonhole-complete for Hamming <= bands-1. "
            "Raise bands (it must divide the fingerprint width) or "
            "pass complete=False to accept probabilistic recall past "
            "bands-1 bits."
        )


def _bitstring_banded_pairs(
    fps: DataFrame,
    bits: int,
    bands: int,
    max_hamming: int,
    complete: bool = True,
) -> DataFrame:
    """SimHash banding over an N-char '0'/'1' fingerprint column —
    the shared candidate/verify stage behind the visual and audio
    near-dup operators: band = substring, candidates from the banded
    equi-join (pigeonhole-complete below ``bands`` bits), Hamming
    verified with packed-word xor+bit_count over pairs only. When
    ``complete`` (the default) the banding must cover the verify
    threshold — ``max_hamming < bands`` — or the call raises; with
    ``complete=False`` pairs past bands-1 bits are returned only on a
    coincidental band match (documented lossy recall). The
    fingerprint frame (the expensive Arrow decode) is persisted so it
    computes once, not once per side per band. Input: (id, fp)."""
    _validate_banding(bits, bands, max_hamming, complete)
    bw = bits // int(bands)
    nw = (int(bits) + 31) // 32
    # pack the '0'/'1' string into 32-bit integer words ONCE per row,
    # map-side, before the self-join (r14, guide §2.3/§4.1): the
    # per-pair Hamming verify becomes `nw` xor+bit_count codegen ops
    # instead of a `bits`-step interpreted HOF of substring compares,
    # and the band-exploded join ships 8·nw bytes of words per side
    # instead of the `bits`-char string — same integer Hamming, ~4×
    # fewer shuffle bytes per candidate at bits=64
    words = [
        F.expr(
            f"cast(conv(substring(fp, {i * 32 + 1},"
            f" {min(32, int(bits) - i * 32)}), 2, 10) as bigint)"
        ).alias(f"__w{i}")
        for i in range(nw)
    ]
    fps = fps.select("id", "fp", *words).persist(StorageLevel.MEMORY_AND_DISK)
    banded = fps.select(
        "id",
        "fp",
        *[f"__w{i}" for i in range(nw)],
        F.explode(F.sequence(F.lit(0), F.lit(int(bands) - 1))).alias("__b"),
    ).withColumn("__bv", F.expr(f"substring(fp, __b * {bw} + 1, {bw})"))
    a = banded.select(
        F.col("id").alias("id_a"),
        *[F.col(f"__w{i}").alias(f"__wa{i}") for i in range(nw)],
        "__b",
        "__bv",
    )
    b = banded.select(
        F.col("id").alias("id_b"),
        *[F.col(f"__w{i}").alias(f"__wb{i}") for i in range(nw)],
        "__b",
        "__bv",
    )
    ham = F.expr(
        " + ".join(f"bit_count(__wa{i} ^ __wb{i})" for i in range(nw))
    )
    return _with_persisted(
        a.join(b, on=["__b", "__bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= int(max_hamming))
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"]),
        [fps],
    )


def audio_near_dup_pairs(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    windows: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    complete: bool = True,
) -> DataFrame:
    """Audio near-dup pairs from REAL decoded PCM16 samples: the
    energy-envelope fingerprint (operators/multimodal.py::
    audio_envelope_hash — per-window |sample| mass vs the track mean,
    ``windows`` bits) banded exactly like SimHash/aHash. Re-encoded,
    trimmed-silence, or single-section-edited copies keep their
    energy shape and land within a few envelope bits; the banded
    equi-join surfaces them without a track x track cross join. The
    text / image / audio near-dup triple shares one candidate/verify
    stage (:func:`_bitstring_banded_pairs`) and one knob law (see
    :func:`image_near_dup_pairs`): the default (bands=4,
    max_hamming=3) is pigeonhole-complete at 16-bit band occupancy —
    linear at scale; a larger radius costs narrower bands
    (quadratic occupancy cliff, measured in the sweep) or
    ``complete=False`` probabilistic recall. ``max_hamming >= bands``
    raises unless ``complete=False`` opts in.

    Returns (id_a, id_b, hamming) with id_a < id_b; non-PCM16
    payloads (NULL fingerprint) are dropped before banding.
    """
    from tidyvec_spark.operators.multimodal import audio_envelope_hash

    fps = (
        audio_envelope_hash(
            ensure_parallelism(df).select(id_col, content_col),
            content_col,
            windows=windows,
        )
        .filter(F.col("envelope").isNotNull())
        .select(F.col(id_col).alias("id"), F.col("envelope").alias("fp"))
    )
    return _bitstring_banded_pairs(
        fps, int(windows), bands, max_hamming, complete=complete
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    shingle_n: Optional[int] = None,
    round_to: Optional[int] = None,
) -> DataFrame:
    """EXACT token-set Jaccard similarity join via PREFIX FILTERING
    (Bayardo et al. 2007 AllPairs / Xiao et al. 2008 PPJoin) — every
    pair with J ≥ ``threshold``, no false negatives, WITHOUT the full
    inverted index :func:`ngram_jaccard_pairs` pays: under any total
    token order shared by all documents, two sets with J ≥ t must
    collide inside their first |d| − ⌈t·|d|⌉ + 1 tokens, so only that
    prefix is indexed. With the canonical rarest-first order
    (document frequency asc, token asc) the indexed tokens are also
    the LEAST frequent, so candidate join groups stay small — the
    exact-join complement of the MinHash/banding approximate path: at
    t=0.8 only ~20% of each document enters the index, and the
    stop-token join rows that force ngram_jaccard_pairs' doc-freq cap
    never arise.

    Pipeline (all equi-joins; per-doc windows only): distinct token
    sets → df counts → per-doc (df, token) sort → prefix explode →
    self-join on token → symmetric size filter (J ≥ t ⇒
    min/max set sizes ≥ t) → exact verify on the full sets
    (array_intersect). Returns (id_a, id_b, jaccard) with id_a < id_b.

    ``shingle_n`` switches the set elements from word unigrams to
    word n-gram shingles (the dedup-family convention) — far more
    discriminative on templated corpora, where unigram vocabularies
    overlap heavily.
    """
    from pyspark.sql import Window

    from tidyvec_spark.functions.text import ngrams, tokens

    t = float(threshold)
    if not (0.0 < t <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if shingle_n is None:
        elems = tokens(text_col)
    else:
        if int(shingle_n) < 1:
            raise ValueError(f"shingle_n must be >= 1, got {shingle_n}")
        elems = ngrams(text_col, int(shingle_n))
    docs = (
        df.select(
            F.col(id_col).alias("__id"),
            F.array_distinct(elems).alias("ts"),
        )
        .withColumn("len", F.size("ts"))
        .filter(F.col("len") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tok = docs.select("__id", "len", F.explode("ts").alias("t"))
    dfreq = tok.groupBy("t").agg(F.count("*").alias("__df"))
    w = Window.partitionBy("__id").orderBy(F.asc("__df"), F.asc("t"))
    # ⌈t·len⌉ computed EXACTLY over integers (the negative-sampling-slot
    # discipline): a float multiply can land one ulp ABOVE an integer
    # t·len and ceil then overshoots, shortening the prefix by one — a
    # false negative violating the documented guarantee. Scale t to
    # int64 with an exact floor (t_int ≤ t·SCALE, Fraction is the exact
    # binary value of the double), then ceil-div in integers: the
    # resulting prefix is never shorter than the true one (a longer
    # prefix only adds candidates; the exact verify discards them).
    from fractions import Fraction

    _SCALE = 1_000_000_000
    t_int = int(Fraction(t) * _SCALE)  # floor: Fraction//1 semantics
    prefix_len = (
        F.col("len")
        - F.expr(
            f"(CAST({t_int} AS BIGINT) * CAST(len AS BIGINT)"
            f" + {_SCALE - 1}) div {_SCALE}"
        )
        + 1
    ).cast("int")
    prefix = (
        tok.join(dfreq, "t")
        .withColumn("__pos", F.row_number().over(w))
        .filter(F.col("__pos") <= prefix_len)
        .select("__id", "len", "t", "__pos")
    )
    a = prefix.select(
        F.col("__id").alias("id_a"),
        F.col("len").alias("la"),
        "t",
        F.col("__pos").alias("__pa"),
    )
    b = prefix.select(
        F.col("__id").alias("id_b"),
        F.col("len").alias("lb"),
        "t",
        F.col("__pos").alias("__pb"),
    )
    matches = (
        a.join(b, "t")
        .filter(F.col("id_a") < F.col("id_b"))
        # same integer-exact discipline: J ≥ t ⇒ min/max ≥ t ⇒
        # min·SCALE ≥ t·SCALE·max ≥ t_int·max, so this never drops a
        # qualifying pair (la, lb ≤ ~1e6 tokens keeps the product
        # well inside int64)
        .filter(
            F.least("la", "lb").cast("long") * F.lit(_SCALE)
            >= F.lit(t_int) * F.greatest("la", "lb").cast("long")
        )
    )
    # PPJoin positional filter (Xiao et al. 2008), accumulated per
    # pair (r15, guide §3.2 "reduce the big side before the join"):
    # with c = |common prefix tokens| and (pa*, pb*) the per-side MAX
    # canonical positions over those matches, every common token
    # missing from either prefix is globally ordered AFTER the whole
    # prefix it is missing from — in particular after every counted
    # match — so it sits past pa* in A AND past pb* in B. Hence
    #   overlap ≤ c + min(la − pa*, lb − pb*),
    # and a pair whose bound misses the required overlap
    #   α = ⌈t·(la+lb)/(1+t)⌉  (J ≥ t ⟺ overlap ≥ α)
    # cannot qualify. α uses the same exact-integer floor of t as the
    # prefix (t_int ≤ t·SCALE ⇒ α_int ≤ α_exact), so the filter only
    # ever keeps extra pairs — never drops a qualifying one; the exact
    # verify below is unchanged. Measured: candidate pairs 444k → 197k
    # at sf0.1, the verify's join+intersect cost halves, and the
    # groupBy replaces the same-shuffle distinct the candidates
    # already paid.
    alpha = F.expr(
        f"(CAST({t_int} AS BIGINT) * (CAST(la AS BIGINT) + CAST(lb AS BIGINT))"
        f" + {_SCALE} + {t_int} - 1) div ({_SCALE} + {t_int})"
    )
    grouped = matches.groupBy("id_a", "id_b").agg(
        F.count("*").alias("__c"),
        F.max("__pa").alias("__pamax"),
        F.max("__pb").alias("__pbmax"),
        F.first("la").alias("la"),
        F.first("lb").alias("lb"),
        F.max(alpha).alias("__alpha"),
    )
    ubound = F.col("__c") + F.least(
        F.col("la") - F.col("__pamax"), F.col("lb") - F.col("__pbmax")
    )
    cands = grouped.filter(
        ubound.cast("long") >= F.col("__alpha")
    ).select("id_a", "id_b")
    sa = docs.select(
        F.col("__id").alias("id_a"),
        F.col("ts").alias("__ta"),
        F.col("len").alias("la"),
    )
    sb = docs.select(
        F.col("__id").alias("id_b"),
        F.col("ts").alias("__tb"),
        F.col("len").alias("lb"),
    )
    inter = F.size(F.array_intersect("__ta", "__tb"))
    jac = inter.cast("double") / (
        F.col("la") + F.col("lb") - inter
    ).cast("double")
    out_j = F.round(jac, int(round_to)) if round_to is not None else jac
    # threshold on the RAW Jaccard (the ngram_jaccard convention);
    # rounding is presentation only
    out = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= t)
        .select("id_a", "id_b", out_j.alias("jaccard"))
    )
    out._tidyvec_persisted = [docs]
    return out


def dup_cluster_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    key_fn=None,
    round_to: int | None = None,
) -> DataFrame:
    """Cluster-SIZE distribution of exact duplicates: one row per
    observed cluster size — (size, n_clusters, n_docs, doc_share) —
    the dedup PLANNING view the pairwise operators never show.
    "47% of docs sit in clusters of ≥100" and "the top cluster holds
    2M copies of one page" are different problems (boilerplate blast
    radius vs a crawler trap) demanding different fixes, and both hide
    inside drop_exact_dups' flat removal count.

    ``key_fn`` plugs the canonicalization law (default
    :func:`normalized_text_key`, like :func:`exact_dup_groups`).
    Integer-exact: sizes and counts are exact; doc_share is ONE
    division of exact integers per row.

    Shape: one scan → hash groupBy (map-side partials, the
    exact_dup_groups shuffle) → a second groupBy on the size key whose
    input is already one row per CLUSTER and whose output is bounded
    by the distinct-size domain. Singleton clusters are included
    (size 1 is the healthy row — its doc_share is the corpus'
    unique fraction)."""
    from pyspark.sql import Window

    key_fn = key_fn or normalized_text_key
    sizes = (
        df.withColumn("__h", key_fn(text_col))
        .groupBy("__h")
        .agg(F.count("*").cast("long").alias("size"))
    )
    out = sizes.groupBy("size").agg(
        F.count("*").cast("long").alias("n_clusters")
    ).withColumn(
        "n_docs", (F.col("size") * F.col("n_clusters")).cast("long")
    )
    w_all = Window.partitionBy()
    share = F.col("n_docs").cast("double") / F.sum("n_docs").over(w_all)
    if round_to is not None:
        share = F.round(share, int(round_to))
    return out.withColumn("doc_share", share)
