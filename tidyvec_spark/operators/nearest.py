"""nearest — k-NN search over a collection (reference R/core.R:241-328).

The whole operator is one lazy expression chain:

    withColumn(similarity) -> filter(>= min_score) -> orderBy desc -> limit n

which Catalyst compiles to a scan + TakeOrderedAndProject (per-partition
top-k heaps merged on the driver) — strictly better than the
reference's full sort-then-slice (R/core.R:320-325) and the shape that
scales: no global sort shuffle, the scan reads only the columns used.

Parity quirks preserved deliberately:
- rows with NULL embeddings score 0.0 and therefore PASS
  ``min_score=0`` (reference R/core.R:281-292,319);
- if NO row has an embedding the result is empty (R/core.R:282-284) —
  emerges naturally here: all scores NULL->0 only when embeddings are
  NULL; we keep the explicit guard semantics via scoring;
- ``n`` larger than the row count returns all rows (limit semantics).

Determinism: the reference inherits R's stable order; a distributed
engine must make ties explicit, so ``tiebreak`` (an id column) is
threaded into the sort.
"""

from __future__ import annotations

from typing import Any, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tidyvec_spark.collection import VecFrame
from tidyvec_spark.operators.ann import (
    _index_probe,
    _present,
    _score,
    _top_k_per,
    hyperplane_bucket_expr,
    multiprobe_buckets,
)
from tidyvec_spark.functions.vector import (
    METHODS,
    array_lit,
    dot_expr,
    keyword_score_expr,
    l2_norm_expr,
    similarity_expr,
)


def score_expr(
    emb_col: str,
    query_vec: Sequence[float],
    method: str = "cosine",
    keyword_weight: float = 0.0,
    keyword_column: Optional[str] = None,
    query_text: Optional[str] = None,
) -> Column:
    """The blended similarity score column (reference R/core.R:267-313)."""
    if method not in METHODS:
        raise ValueError(f"method must be one of {METHODS}, got {method!r}")
    q = array_lit(query_vec)
    vec_score = F.when(F.col(emb_col).isNull(), F.lit(0.0)).otherwise(
        similarity_expr(F.col(emb_col), q, method)
    )
    if keyword_weight and keyword_column:
        if query_text is None:
            raise ValueError("keyword scoring requires the raw query text")
        kw = keyword_score_expr(F.col(keyword_column), query_text.split())
        return (
            F.lit(1.0 - keyword_weight) * vec_score + F.lit(float(keyword_weight)) * kw
        )
    return vec_score


def nearest(
    vf: VecFrame,
    query: Any,
    n: int = 5,
    as_embedding: bool = False,
    method: str = "cosine",
    min_score: float = 0.0,
    keyword_weight: float = 0.0,
    keyword_column: Optional[str] = None,
    score_col: str = "similarity",
    tiebreak: Optional[str] = None,
    round_to: Optional[int] = None,
    approx: bool = False,
    probe_hamming: Optional[int] = None,
) -> VecFrame:
    if vf.embedding_col not in vf.columns:
        # clean error instead of an unresolved-column AnalysisException:
        # the collection was projected without its embedding column
        # (the [.tidyvec metadata problem, reference R/core.R:98-116)
        raise ValueError(
            f"embedding column {vf.embedding_col!r} is not in the frame "
            f"(columns: {vf.columns}); it was probably projected away"
        )
    if as_embedding:
        qvec = [float(x) for x in query]
        qtext = None
    else:
        if vf.embedder is None:
            # parity: reference errors when no embedder is attached
            # (R/core.R:252-260)
            raise ValueError(
                "collection has no embedder; pass as_embedding=True with a "
                "raw vector or attach an embedder"
            )
        qtext = str(query)
        qvec = vf.embedder.embed_query(qtext)

    sc = score_expr(
        vf.embedding_col,
        qvec,
        method=method,
        keyword_weight=keyword_weight,
        keyword_column=keyword_column,
        query_text=qtext if qtext is not None else str(query),
    )
    if round_to is not None:
        # rounding BEFORE filter/sort makes the selected set reproducible
        # across engines (oracle hash comparison)
        sc = F.round(sc, round_to)
    base = vf.df
    if approx:
        # engine extension beyond the reference's always-exact scan
        # (R/core.R:287-292): prefilter through the collection's OWN
        # persisted LSH index (write_vec(index=...) / read_vec carries
        # the spec) — when the data is bucket-partitioned the probe
        # filter becomes partition pruning, otherwise a map-side bucket
        # expression; scoring/threshold/keyword/top-k stay identical.
        spec = vf.index_spec
        if not spec or spec.get("kind") != "lsh" or not spec.get("planes"):
            raise ValueError(
                "approx=True needs an attached 'lsh' index spec "
                "(write_vec(..., index={'kind': 'lsh', ...}) then read_vec)"
            )
        base = _index_probe(base, vf.embedding_col, qvec, spec, probe_hamming)
    out = base.withColumn(score_col, sc).filter(
        F.col(score_col) >= F.lit(float(min_score))
    )
    order = [F.desc(score_col)]
    if tiebreak:
        order.append(F.asc(tiebreak))
    out = out.orderBy(*order).limit(int(n))
    res = vf._wrap(out)
    return res


def similarity_join_exact(
    left: DataFrame,
    right: DataFrame,
    left_vec: str,
    right_vec: str,
    method: str = "cosine",
    k: Optional[int] = None,
    threshold: Optional[float] = None,
    left_id: str = "left_id",
    right_id: str = "right_id",
    score_col: str = "similarity",
    round_to: Optional[int] = None,
) -> DataFrame:
    """Exact collection x collection similarity join — the engine-side
    realization of the reference's documented-but-unimplemented ``%~%``
    operator (man/grapes-twiddle-grapes.Rd) generalized to frames.

    Physical shape: broadcast the smaller side when it fits (Catalyst /
    AQE pick the strategy), score every pair, then per-left top-k via a
    window — no global sort. NULL embeddings on either side are never
    paired. The LSH-bucketed variant for large x large is
    :func:`similarity_join_lsh`.
    """
    l = _present(left, left_vec).alias("l")
    r = _present(right, right_vec).alias("r")
    sim = _score(
        F.col(f"l.{left_vec}"), F.col(f"r.{right_vec}"), method, round_to
    )
    pair = l.crossJoin(r).withColumn(score_col, sim)
    if threshold is not None:
        pair = pair.filter(F.col(score_col) >= F.lit(float(threshold)))
    if k is not None:
        pair = _top_k_per(
            pair, F.col(f"l.{left_id}"), score_col, F.col(f"r.{right_id}"), k
        ).drop("__rn")
    return pair


def similarity_join_lsh(
    left: DataFrame,
    right: DataFrame,
    left_vec: str,
    right_vec: str,
    planes: Sequence[Sequence[float]],
    left_id: str = "left_id",
    right_id: str = "right_id",
    method: str = "cosine",
    k: Optional[int] = None,
    threshold: Optional[float] = None,
    probe_hamming: int = 0,
    score_col: str = "similarity",
    round_to: Optional[int] = None,
) -> DataFrame:
    """LSH-bucketed frame × frame similarity join — the large × large
    path of the ``%~%`` contract that :func:`similarity_join_exact`'s
    broadcast envelope cannot cover.

    Both frames are bucketed by the SAME hyperplane set (map-side
    expression); candidates come from an equi-join on the bucket key —
    shuffle on a well-distributed key, never a cross join — then the
    exact kernel scores each candidate and an optional per-left top-k
    window / threshold prunes. ``probe_hamming`` explodes each LEFT
    row into its Hamming-ball buckets (nbits+1 probes at radius 1),
    trading shuffle volume for recall exactly like query-side
    multiprobe in ``ann_lsh_topk``; the right side is never inflated.
    NULL embeddings on either side are dropped before the bucket join.

    Deterministic given the plane set; recall is a property of
    (nbits, probe_hamming). Returns the joined columns plus
    ``score_col``.
    """
    masks = multiprobe_buckets(0, len(planes), probe_hamming)
    l = _present(left, left_vec).withColumn(
        "__bucket", hyperplane_bucket_expr(left_vec, planes)
    )
    if method == "cosine":
        # hoist the per-ROW norms out of the per-PAIR kernel (r14,
        # guide §2.3/§1.2): cosine's denominator is a property of each
        # side alone, but cosine_sim_expr recomputes both norms per
        # candidate — 3 array traversals per pair. Computing them
        # map-side before the join (and before the multiprobe explode,
        # so once per row, not once per probe) leaves ONE traversal
        # (the dot product) per candidate. Bit-identical: same norm
        # values, same denom = na*nb product, same guarded division.
        l = l.withColumn("__lnorm", l2_norm_expr(left_vec))
    if len(masks) > 1:
        # explode each left row into its probe buckets (bucket XOR each
        # Hamming-ball mask), map-side
        probe = F.explode(F.array(*[F.lit(m).cast("long") for m in masks]))
        l = l.withColumn("__m", probe).withColumn(
            "__bucket", F.col("__bucket").bitwiseXOR(F.col("__m"))
        ).drop("__m")
    r = _present(right, right_vec).withColumn(
        "__bucket", hyperplane_bucket_expr(right_vec, planes)
    )
    if method == "cosine":
        r = r.withColumn("__rnorm", l2_norm_expr(right_vec))
    la, ra = l.alias("l"), r.alias("r")
    if method == "cosine":
        denom = F.col("l.__lnorm") * F.col("r.__rnorm")
        sim = F.when(denom == 0.0, F.lit(0.0)).otherwise(
            dot_expr(F.col(f"l.{left_vec}"), F.col(f"r.{right_vec}")) / denom
        )
    else:
        sim = similarity_expr(
            F.col(f"l.{left_vec}"), F.col(f"r.{right_vec}"), method
        )
    if round_to is not None:
        sim = F.round(sim, round_to)
    pair = (
        la.join(ra, F.col("l.__bucket") == F.col("r.__bucket"))
        .drop("__bucket")
        .withColumn(score_col, sim)
        .drop("__lnorm", "__rnorm")
    )
    if threshold is not None:
        # BEFORE the probe-dedup: the score is a pure function of the
        # pair, so filtering first is hash-identical and shrinks the
        # dropDuplicates exchange by every sub-threshold candidate
        pair = pair.filter(F.col(score_col) >= F.lit(float(threshold)))
    if len(masks) > 1:
        # a (left, right) pair can meet in several probe buckets
        pair = pair.dropDuplicates([f"{left_id}", f"{right_id}"])
    if k is not None:
        pair = _top_k_per(
            pair, F.col(f"l.{left_id}"), score_col, F.col(f"r.{right_id}"), k
        ).drop("__rn")
    return pair
