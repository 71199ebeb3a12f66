"""Approximate nearest-neighbor search — the scale path for ``nearest``.

The reference is exact brute-force only (R/core.R:287-292, "< 100K
items" ceiling per vignettes/getting-started.Rmd:314). At 100 TB the
engine needs sublinear candidate generation; this module adds the two
classic layouts on top of the exact kernels in functions/vector.py:

- **Random-hyperplane LSH** (SimHash for vectors, Charikar 2002):
  bucket id = sign-bit pattern of ``nbits`` fixed hyperplane dot
  products. Bucketing is a map-side native expression; a query probes
  its own bucket plus all Hamming-1 neighbors (multiprobe), then
  exact-reranks the candidates. At scale the bucket column becomes the
  partition/cluster key so a probe touches a handful of files.

- **IVF (inverted-file / coarse quantizer)**: every vector is assigned
  to its nearest of k centroids (one BLAS argmin per Arrow batch — the
  centroid matrix is tiny by construction); a query scans only the
  ``nprobe`` nearest centroid lists, ranked on the driver. At scale:
  partition/bucket the corpus by ``centroid_id`` so probes prune
  partitions; centroids come from ``pyspark.ml`` KMeans (or any fixed
  set, which keeps the operator deterministic and oracle-checkable).

Both paths are *deterministic* given their parameters (planes/centroid
set), so correctness is hash-checkable against DuckDB — approximation
error is a property of the parameters, not of run-to-run randomness.
"""

from __future__ import annotations

import itertools
import random
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tidyvec_spark.functions.vector import (
    array_lit,
    dot_expr,
    similarity_expr,
)


def random_planes(
    dim: int, nbits: int = 8, seed: int = 42, round_to: int = 6
) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (stdlib PRNG, fixed seed),
    rounded so the same literals embed exactly in Spark and oracle SQL."""
    rng = random.Random(seed)
    return [
        [round(rng.gauss(0.0, 1.0), round_to) for _ in range(dim)]
        for _ in range(nbits)
    ]


def hyperplane_bucket_expr(emb_col, planes: Sequence[Sequence[float]]) -> Column:
    """LSH bucket id: bit i = (emb · plane_i >= 0). Map-side, no shuffle;
    ``nbits`` JVM-side dot products per row.

    With a string column name the tree is built as ONE JVM-parsed SQL
    text — the per-plane Column-builder loop costs nbits·dim py4j
    round trips (~0.5 s at 8×64) per entry construction (r14, guide
    §7.3, same fix as pq_reconstruction_err_expr). Identical tree:
    same zip_with/aggregate dot fold, doubles as correctly-rounded
    CAST('repr' AS DOUBLE), exact BIGINT bit weights."""
    if isinstance(emb_col, str) and emb_col.isidentifier():
        bits = ["CAST(0 AS BIGINT)"]
        for i, plane in enumerate(planes):
            arr = ", ".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in plane)
            bits.append(
                f"(CASE WHEN aggregate(zip_with({emb_col}, array({arr}), "
                f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) >= 0 "
                f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            )
        return F.expr(" + ".join(bits))
    col = F.col(emb_col) if isinstance(emb_col, str) else emb_col
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        bit = F.when(
            dot_expr(col, array_lit(plane)) >= 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        bucket = bucket + bit
    return bucket


def query_bucket(query_vec: Sequence[float], planes: Sequence[Sequence[float]]) -> int:
    """Driver-side bucket of the query vector (same arithmetic)."""
    b = 0
    for i, plane in enumerate(planes):
        if sum(float(x) * p for x, p in zip(query_vec, plane)) >= 0:
            b |= 1 << i
    return b


def multiprobe_buckets(bucket: int, nbits: int, hamming: int = 1) -> list[int]:
    """The probe set: all buckets within the given Hamming distance,
    sorted (hamming=1 → nbits+1 buckets; a radius of ``nbits`` or more
    covers all 2^nbits). Larger radius trades latency for recall
    without touching the stored layout. ``multiprobe_buckets(0, nbits,
    h)`` is the XOR-mask set the batched and join operators explode."""
    if hamming < 0:
        raise ValueError(f"probe_hamming must be >= 0, got {hamming}")
    return sorted(
        bucket ^ sum(1 << i for i in flips)
        for r in range(min(int(hamming), nbits) + 1)
        for flips in itertools.combinations(range(nbits), r)
    )


def _present(df: DataFrame, emb_col: str) -> DataFrame:
    """The engine NULL-embedding law at candidate formation: a NULL
    vector is never a candidate (nor a query). Without it every NULL
    lands in bucket 0 (``CASE WHEN NULL >= 0 … ELSE 0``) and fills
    top-k slots with NULL similarity."""
    return df.filter(F.col(emb_col).isNotNull())


def _score(a: Column, b: Column, method: str, round_to: Optional[int]) -> Column:
    sim = similarity_expr(a, b, method)
    return F.round(sim, round_to) if round_to is not None else sim


def _lsh_probe(
    df: DataFrame,
    emb_col: str,
    query: Sequence[float],
    planes: Sequence[Sequence[float]],
    probe_hamming: int,
    bucket_col: Optional[str] = None,
) -> DataFrame:
    """Single-query multiprobe LSH (Lv et al., VLDB 2007): keep the rows
    whose bucket lies within ``probe_hamming`` of the query's. The
    filter lands on the stored ``bucket_col`` when given (directory
    pruning on a bucket-partitioned layout), else on the map-side
    bucket expression."""
    probes = multiprobe_buckets(
        query_bucket(query, planes), len(planes), probe_hamming
    )
    bucket = (
        F.col(bucket_col) if bucket_col
        else hyperplane_bucket_expr(emb_col, planes)
    )
    return df.filter(bucket.isin(probes))


def _index_probe(
    df: DataFrame,
    emb_col: str,
    query: Sequence[float],
    spec: dict,
    probe_hamming: Optional[int] = None,
) -> DataFrame:
    """:func:`_lsh_probe` through a persisted ``lsh`` index spec
    (``write_vec(index=...)``). Tuned specs (evaluation.tune_lsh_params)
    carry the radius that met the recall target; an explicit argument
    overrides, absent both the radius is 1. The stored bucket column is
    filtered when the frame has it."""
    ph = probe_hamming if probe_hamming is not None else spec.get("probe_hamming", 1)
    bcol = spec.get("bucket_col", "bucket")
    return _lsh_probe(
        df, emb_col, query, spec["planes"], int(ph),
        bcol if bcol in df.columns else None,
    )


def _ivf_probes(
    query: Sequence[float],
    centroids: Sequence[Sequence[float]],
    nprobe: int,
    nd: int = 6,
) -> list[int]:
    """Driver-side IVF probe set: the list positions of the ``nprobe``
    centroids nearest the query by squared L2 rounded to ``nd`` places,
    ties to the smaller position — k distances over literal centroids."""
    q = [float(x) for x in query]
    ranked = sorted(
        (round(sum((a - b) * (a - b) for a, b in zip(q, c)), nd), i)
        for i, c in enumerate(centroids)
    )
    return [i for _, i in ranked[: int(nprobe)]]


def _rerank(
    cand: DataFrame,
    emb_col: str,
    id_col: str,
    query: Sequence[float],
    k: int,
    method: str,
    round_to: Optional[int],
) -> DataFrame:
    """Single-query rerank tail: exact score of every non-NULL
    candidate, (similarity desc, id asc), top ``k`` as one
    TakeOrderedAndProject. Returns (id, similarity)."""
    return (
        _present(cand, emb_col)
        .withColumn(
            "similarity",
            _score(F.col(emb_col), array_lit(query), method, round_to),
        )
        .orderBy(F.desc("similarity"), F.asc(id_col))
        .limit(int(k))
        .select(id_col, "similarity")
    )


def _top_k_per(
    df: DataFrame, by, score_col: str, id_col, k: int
) -> DataFrame:
    """Per-group top-``k``: ``row_number`` over (score desc, id asc)
    within each ``by`` group, kept while ``<= k``; the rank is left in
    ``__rn``. A shuffle of candidates only, never a global sort."""
    w = Window.partitionBy(by).orderBy(F.desc(score_col), F.asc(id_col))
    return df.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= int(k)
    )


def _query_rows(
    queries: DataFrame, q_id_col: str, q_emb_col: str, *extra: Column
) -> DataFrame:
    return _present(queries, q_emb_col).select(
        F.col(q_id_col).alias("__qid"),
        F.col(q_emb_col).cast("array<double>").alias("__qv"),
        *extra,
    )


def _batch_topk(
    cand: DataFrame,
    emb_col: str,
    id_col: str,
    q_id_col: str,
    k: int,
    method: str,
    round_to: Optional[int],
) -> DataFrame:
    """The batched tail: score each candidate against its query's
    ``__qv``, keep each query's top ``k`` → (q_id, id, similarity, rank)."""
    cand = cand.withColumn(
        "similarity", _score(F.col(emb_col), F.col("__qv"), method, round_to)
    )
    return _top_k_per(cand, "__qid", "similarity", id_col, k).select(
        F.col("__qid").alias(q_id_col),
        F.col(id_col),
        "similarity",
        F.col("__rn").cast("int").alias("rank"),
    )


def ann_lsh_topk(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    query_vec: Sequence[float],
    k: int = 10,
    planes: Optional[Sequence[Sequence[float]]] = None,
    nbits: int = 8,
    seed: int = 42,
    probe_hamming: int = 1,
    method: str = "cosine",
    round_to: Optional[int] = None,
) -> DataFrame:
    """LSH-bucketed top-k: bucket filter (candidate pruning) → exact
    rerank → TakeOrderedAndProject. Returns (id, similarity); NULL
    embeddings are never candidates.

    Physical shape at scale: the bucket predicate prunes before the
    similarity kernel runs; with the corpus partitioned by bucket the
    scan itself prunes partitions — scan cost drops from O(n) to
    O(n · probes / 2^nbits).
    """
    if planes is None:
        planes = random_planes(len(query_vec), nbits=nbits, seed=seed)
    cand = _lsh_probe(df, emb_col, query_vec, planes, probe_hamming)
    return _rerank(cand, emb_col, id_col, query_vec, k, method, round_to)


def ann_lsh_topk_batch(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    queries: DataFrame,
    q_id_col: str,
    q_emb_col: str,
    planes: Sequence[Sequence[float]],
    k: int = 10,
    probe_hamming: int = 1,
    method: str = "cosine",
    round_to: Optional[int] = None,
) -> DataFrame:
    """Batched LSH search: top-k for EVERY query row in one plan — the
    serving shape (a batch of user queries, a re-ranking sweep, a
    join-by-similarity) where per-query driver loops would be N plans.

    Physical shape: corpus bucketed map-side (one expression); each
    query row explodes to its multiprobe bucket set (≤ nbits+1 probes
    at hamming 1 — bounded fan-out); the probe table is BROADCAST, so
    the corpus is never shuffled — candidates flow from a broadcast
    hash join on the bucket id, the exact kernel reranks, and one
    window per query keeps k. The only shuffle is the final per-query
    top-k window over candidates (not the corpus). NULL embeddings on
    either side are dropped before the bucket join.
    """
    masks = multiprobe_buckets(0, len(planes), probe_hamming)
    probes = _query_rows(
        queries, q_id_col, q_emb_col,
        hyperplane_bucket_expr(q_emb_col, planes).alias("__qb"),
    ).select(
        "__qid",
        "__qv",
        F.explode(
            F.array(*[F.col("__qb").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("__bucket"),
    )
    cand = (
        _present(df, emb_col)
        .withColumn("__bucket", hyperplane_bucket_expr(emb_col, planes))
        .join(F.broadcast(probes), on="__bucket")
    )
    return _batch_topk(cand, emb_col, id_col, q_id_col, k, method, round_to)


def exact_topk_batch(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    queries: DataFrame,
    q_id_col: str,
    q_emb_col: str,
    k: int = 10,
    method: str = "cosine",
    round_to: Optional[int] = None,
) -> DataFrame:
    """Exact top-k for every query row — the ground-truth twin of
    :func:`ann_lsh_topk_batch` (same output schema, same per-query
    window). The query batch is broadcast (bounded — a serving batch /
    recall sample, never a table) and the corpus is scanned ONCE for
    all queries. NULL embeddings on either side are never paired. This
    is the recall-evaluation baseline and the small-corpus fallback."""
    q = _query_rows(queries, q_id_col, q_emb_col)
    cand = _present(df, emb_col).crossJoin(F.broadcast(q))
    return _batch_topk(cand, emb_col, id_col, q_id_col, k, method, round_to)


def kmeans_centroids(
    df: DataFrame,
    emb_col: str,
    k: int,
    seed: int = 42,
    max_iter: int = 20,
    cent_id: str = "centroid_id",
    cent_vec: str = "centroid",
) -> DataFrame:
    """Data-derived IVF coarse quantizer: fit ``pyspark.ml`` KMeans‖ on
    the embedding column and return the centers as the (id, vector)
    DataFrame shape :func:`ivf_assign` / :func:`ivf_topk` consume.

    The fit is the standard distributed Lloyd's (one pass per
    iteration, partial aggregation map-side); the returned table is k
    rows — tiny by construction — created driver-side from the fitted
    centers exactly like any other dimension table.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(array_to_vector(F.col(emb_col).cast("array<double>")).alias("__f"))
    model = KMeans(k=int(k), seed=int(seed), maxIter=int(max_iter), featuresCol="__f").fit(feats)
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return df.sparkSession.createDataFrame(
        rows, f"{cent_id} int, {cent_vec} array<double>"
    )


def l2sq_expr(a, b) -> Column:
    """Squared L2 distance, double-precision fold (assignment metric)."""
    ac = F.col(a) if isinstance(a, str) else a
    bc = F.col(b) if isinstance(b, str) else b
    diffs = F.zip_with(
        ac, bc,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def _centroid_rows(
    centroids: DataFrame, cent_id: str, cent_vec: str
) -> list[tuple]:
    """The centroid table collected once (one small job), as (id,
    vector) rows sorted by id: a first minimum over this order — numpy's
    ``argmin`` in the assignment kernel, the position tiebreak of
    :func:`_ivf_probes` — is the smallest-id tiebreak."""
    cents = sorted(
        (
            (r[cent_id], [float(x) for x in r[cent_vec]])
            for r in centroids.select(cent_id, cent_vec).collect()
        ),
        key=lambda t: t[0],
    )
    if not cents:
        raise ValueError("centroids table is empty")
    return cents


def _assign(
    df: DataFrame,
    emb_col: str,
    cents: Sequence[tuple],
    cent_id: str,
    id_type,
    round_to: int,
) -> DataFrame:
    """The assignment kernel over id-sorted :func:`_centroid_rows`: the
    centroid matrix ships once per executor inside a ``mapInPandas``
    closure; each Arrow batch computes one ``‖x‖² + ‖c‖² − 2·X@C.T``
    BLAS block and takes the per-row argmin of the distances rounded
    to ``round_to``. NULL embeddings get a NULL ``cent_id``."""
    import numpy as np
    from pyspark.sql import types as T

    ids_arr = np.asarray([c for c, _ in cents])
    C = np.asarray([v for _, v in cents], dtype=np.float64)
    c2 = (C * C).sum(axis=1)
    nd = int(round_to)
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(cent_id, id_type, True)]
    )

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf.copy()
            # np.vstack over a batch containing None would raise
            mask = pdf[emb_col].notna().to_numpy()
            col = np.full(len(pdf), None, dtype=object)
            if mask.any():
                X = np.vstack(
                    [
                        np.asarray(v, dtype=np.float64)
                        for v in pdf[emb_col][mask]
                    ]
                )
                x2 = (X * X).sum(axis=1)
                d2 = x2[:, None] + c2[None, :] - 2.0 * (X @ C.T)
                d2 = np.round(np.maximum(d2, 0.0), nd)
                col[mask] = ids_arr[np.argmin(d2, axis=1)]
            out[cent_id] = col
            yield out

    return df.mapInPandas(assign, schema=out_schema)


def ivf_assign(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    centroids: DataFrame,
    cent_id: str = "centroid_id",
    cent_vec: str = "centroid",
    round_to: int = 6,
) -> DataFrame:
    """Assign every vector to its nearest centroid — map-side only, no
    join, no shuffle: argmin of squared L2 rounded to ``round_to``,
    smallest-id tiebreak.

    The centroid table is collected once and its matrix shipped into
    one ``mapInPandas`` BLAS block per Arrow batch (:func:`_assign`).
    The per-row alternative — k ``zip_with``/``aggregate`` folds over
    literal centroids — is slower at every tested k: those
    higher-order functions have no generated code and run interpreted.
    k scales freely; the corpus is never driver-collected.

    Every corpus column survives untouched; at 100 TB the assignment
    pass is one scan producing the partition/bucket key.

    NULL embeddings get a NULL ``cent_id`` (the engine-wide
    NULL-embedding law applied without dropping rows — assignment is a
    projection, so the row survives and downstream per-cluster
    consumers filter the NULL cell explicitly).
    """
    return _assign(
        df, emb_col, _centroid_rows(centroids, cent_id, cent_vec), cent_id,
        centroids.schema[cent_id].dataType, round_to,
    )


def ivf_topk(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    centroids: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    cent_id: str = "centroid_id",
    cent_vec: str = "centroid",
    method: str = "cosine",
    round_to: Optional[int] = None,
) -> DataFrame:
    """IVF search: rank centroids against the query on the driver
    (:func:`_ivf_probes`, the ranker the sidecar and IVFPQ paths use),
    scan only vectors assigned to the ``nprobe`` nearest, exact-rerank
    top-k. Returns (id, similarity); NULL embeddings are never
    candidates.

    Centroids are any (id, vector) DataFrame — a fixed deterministic
    set, or data-derived centers from :func:`kmeans_centroids` —
    collected once for both the assignment kernel and the probe
    ranking, so the probe set is a literal ``IN`` list in the plan.

    With the corpus bucketed/partitioned by assignment, the probe
    filter becomes partition pruning — the 100 TB path scans
    nprobe/k-ths of the data.
    """
    cents = _centroid_rows(centroids, cent_id, cent_vec)
    probes = _ivf_probes(query_vec, [v for _, v in cents], nprobe)
    cand = _assign(
        df, emb_col, cents, cent_id, centroids.schema[cent_id].dataType, 6
    ).filter(F.col(cent_id).isin([cents[i][0] for i in probes]))
    return _rerank(cand, emb_col, id_col, query_vec, k, method, round_to)


def matryoshka_cascade_topk(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    query: Sequence[float],
    k: int = 10,
    prefix_dim: int = 16,
    prefilter: int = 100,
    round_to: Optional[int] = None,
) -> DataFrame:
    """Two-stage Matryoshka cascade (Kusupati et al. 2022 MRL
    inference recipe): score the WHOLE corpus on the renormalized
    leading ``prefix_dim`` dims (a prefix-slice scan — cost linear in
    kept dims), keep ``prefilter`` candidates, then exact full-dim
    cosine rerank on those only. The full-width column is read for
    ``prefilter`` rows, not the corpus — the float-precision analog
    of the binary-quantization prefilter (``bq_topk``).

    Returns (id, coarse, similarity) for the final top-``k``; the
    coarse stage rounds before cutting so the candidate SET is
    deterministic and engine-portable.
    """
    from tidyvec_spark.functions.vector import (
        cosine_sim_expr,
        matryoshka_expr,
        similarity_expr,
    )

    if k < 1:
        raise ValueError("k must be >= 1")
    if prefilter < k:
        raise ValueError("prefilter must be >= k")
    if len(query) < prefix_dim:
        raise ValueError(
            f"query dim {len(query)} < prefix_dim {prefix_dim}"
        )
    qp = [float(x) for x in query[:prefix_dim]]
    nrm = sum(x * x for x in qp) ** 0.5
    if nrm == 0:
        raise ValueError("query prefix has zero norm")
    qpn = [x / nrm for x in qp]
    coarse = similarity_expr(
        matryoshka_expr(emb_col, prefix_dim), array_lit(qpn), "dot"
    )
    if round_to is not None:
        coarse = F.round(coarse, round_to)
    cand = (
        df.select(F.col(id_col), coarse.alias("coarse"))
        .orderBy(F.desc("coarse"), F.asc(id_col))
        .limit(int(prefilter))
    )
    sim = cosine_sim_expr(
        F.col(emb_col).cast("array<double>"),
        array_lit([float(x) for x in query]),
    )
    if round_to is not None:
        sim = F.round(sim, round_to)
    return (
        df.select(id_col, emb_col)
        .join(F.broadcast(cand), id_col)
        .select(F.col(id_col), F.col("coarse"), sim.alias("similarity"))
        .orderBy(F.desc("similarity"), F.asc(id_col))
        .limit(int(k))
    )
