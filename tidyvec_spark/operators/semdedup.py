"""Semantic deduplication: cluster, then dedup within each cluster.

The SemDeDup recipe (Abbas et al., 2023, arXiv:2303.09540): embed the
corpus, k-means it, and drop near-identical items *within each
cluster* — the clustering bounds the pair search so the quadratic
cosine check never runs corpus-wide. Here the recipe is a composition
of two operators this engine already has, which is the point of
building them as reusable plan fragments:

- assignment: :func:`tidyvec_spark.operators.ann.ivf_assign` —
  map-side nearest-centroid (broadcast-matrix BLAS argmin; zero
  shuffle);
- within-cluster pairs: the cosine tile kernel shared by every
  embedding near-dup operator (``dedup._gemm_pairs``) with the cluster
  id as its grouping key — ONE shuffle on the cluster id, BLAS tiles
  via ``applyInPandas``.

Keep rule (``semantic_dedup``): a row is dropped iff it is the larger
id of any over-threshold same-cluster pair — "keep the smallest id of
every similar pair", the same greedy convention as the exact-dedup
operators. It is deliberately NOT transitive-component canonical
(b dropped for resembling a does not un-drop c that resembled only b);
the convention is deterministic and cheap, and the components variant
is available by feeding :func:`semantic_dedup_pairs` into
``dedup.connected_components``.

Scale: cluster sizes are the skew profile, and near-dup farms CLUSTER
TOGETHER — that is the point of the operator — so the hot centroid is
the expected case, not the tail. ``tile_rows`` bounds the per-task
GEMM against it: it sets the kernel's block count PER CLUSTER from the
measured size (one bounded agg, rows = k), so clusters above the
threshold are split into block-pair tiles and a task holds at most
~2·tile_rows vectors no matter how skewed the assignment is, clusters
under the threshold get one block and pay zero replication, and the
pair set is invariant to the choice (every same-cluster pair meets in
exactly one tile).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tidyvec_spark.operators.ann import ivf_assign
from tidyvec_spark.operators.dedup import _gemm_pairs, _with_persisted
from tidyvec_spark.partitioning import ensure_parallelism

__all__ = ["semantic_dedup_pairs", "semantic_dedup"]


def semantic_dedup_pairs(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    centroids: DataFrame,
    threshold: float = 0.95,
    round_to: Optional[int] = None,
    cent_id: str = "centroid_id",
    cent_vec: str = "centroid",
    tile_rows: Optional[int] = 8192,
) -> DataFrame:
    """(id_a, id_b, similarity) for same-cluster pairs with cosine ≥
    ``threshold`` (id_a < id_b). Assignment is map-side; pair search is
    one BLAS ``A @ A.T`` per cluster behind a single shuffle on the
    centroid id.

    ``tile_rows``: clusters larger than this are split into block-pair
    tiles by the shared tile kernel (``dedup._gemm_pairs``), block
    count = ceil(|cluster| / tile_rows) chosen per cluster from the
    measured size — one k-row agg broadcast back — so one hot centroid
    cannot make one |cluster|²·d task. ``None`` means one block per
    cluster regardless of size."""
    # the engine-wide NULL-embedding law: a NULL vector is neither
    # anchor nor candidate (it cannot be scored), so it never enters
    # a cluster tile — and never reaches the GEMM's np.vstack
    assigned = ivf_assign(
        ensure_parallelism(
            df.filter(F.col(emb_col).isNotNull())
        ).select(
            F.col(id_col).alias("id"),
            F.col(emb_col).cast("array<double>").alias("v"),
        ),
        "v",
        "id",
        centroids,
        cent_id=cent_id,
        cent_vec=cent_vec,
    )
    # tile_rows=None: one block per cluster
    blocks, handles = 1, []
    if tile_rows is not None:
        tr = int(tile_rows)
        if tr < 2:
            raise ValueError(f"tile_rows must be >= 2, got {tile_rows}")
        # the assignment subtree feeds BOTH the size histogram and the
        # tasks join — persist it so the corpus is assigned once, and
        # ride the handle on the result (the dedup.py release()
        # convention)
        assigned = assigned.persist()
        handles = [assigned]
        # per-cluster block count from the measured size: bounded agg
        # (rows = k clusters) broadcast back; small clusters get __nb=1
        # (single tile, zero replication)
        sizes = assigned.groupBy(cent_id).agg(
            F.ceil(F.count(F.lit(1)) / F.lit(tr)).cast("int").alias("__nb")
        )
        assigned = assigned.join(F.broadcast(sizes), cent_id)
        blocks = F.col("__nb")
    return _with_persisted(
        _gemm_pairs(assigned, [cent_id], blocks, threshold, round_to), handles
    )


def semantic_dedup(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    centroids: DataFrame,
    threshold: float = 0.95,
    round_to: Optional[int] = None,
    cent_id: str = "centroid_id",
    cent_vec: str = "centroid",
    tile_rows: Optional[int] = 8192,
) -> DataFrame:
    """The corpus minus semantic duplicates: every row that is the
    larger id of an over-threshold same-cluster pair is dropped
    (keep-smallest-id convention; see module docstring). Output keeps
    all input columns — an anti-join against the dropped-id set."""
    pairs = semantic_dedup_pairs(
        df, emb_col, id_col, centroids, threshold,
        round_to=round_to, cent_id=cent_id, cent_vec=cent_vec,
        tile_rows=tile_rows,
    )
    drop = pairs.select(F.col("id_b").alias("__tv_drop")).distinct()
    out = df.join(
        drop, on=F.col(id_col) == F.col("__tv_drop"), how="left_anti"
    )
    # ride the pair generator's persisted assignment handle through
    # so callers can release() after their terminal action
    return _with_persisted(out, getattr(pairs, "_tidyvec_persisted", []))
