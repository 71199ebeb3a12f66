"""Physical layouts that turn ANN probe filters into partition pruning.

The ANN operators' docstrings (operators/ann.py) promise that "with the
corpus partitioned by bucket, the probe filter becomes partition
pruning". This module keeps that promise as code: write the corpus
parquet partitioned by the LSH bucket (or IVF centroid) key, and a
probe ``IN`` filter on that key prunes at the *directory* level — a
query touches ``probes / 2^nbits`` (or ``nprobe / k``) of the files,
before a single row is read.

This is the 100 TB difference between "scan everything, filter
map-side" (the un-partitioned plan, still correct) and "scan almost
nothing": at 2^8 buckets and Hamming-1 multiprobe, 9/256 ≈ 3.5% of the
corpus is read. The layout is write-once — the bucket expression is
deterministic given the plane set, so readers recompute probe sets from
the same planes without any stored index structure.

Query a layout from its path with :func:`ann_topk_sidecar`:
``write_vec(index=...)`` writes the partitioned data plus the index
spec, and the sidecar search runs the ANN core's probe and rerank
(operators/ann.py) on the partition column.

Not in the reference (its corpus is an in-memory tibble, R/core.R); the
layout mirrors how Spark tables use hive-style partition directories
for partition pruning.
"""

from __future__ import annotations

import json
import os
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucket_partitioned(
    df: DataFrame,
    path: str,
    emb_col: str,
    planes: Sequence[Sequence[float]],
    bucket_col: str = "bucket",
    mode: str = "error",
) -> None:
    """Write the corpus parquet partitioned by its hyperplane-LSH
    bucket. One pass: the bucket is a map-side expression, the write
    shuffles nothing (hive-style directory per bucket value)."""
    from tidyvec_spark.operators.ann import hyperplane_bucket_expr

    (
        df.withColumn(bucket_col, hyperplane_bucket_expr(emb_col, planes))
        .write.partitionBy(bucket_col)
        .mode(mode)
        .parquet(path)
    )


def write_centroid_partitioned(
    df: DataFrame,
    path: str,
    emb_col: str,
    id_col: str,
    centroids: DataFrame,
    cent_id: str = "centroid_id",
    cent_vec: str = "centroid",
    mode: str = "error",
) -> None:
    """Write the corpus parquet partitioned by IVF centroid assignment
    — the IVF analog of :func:`write_bucket_partitioned`; ``ivf``
    probe reads prune to ``nprobe`` directories."""
    from tidyvec_spark.operators.ann import ivf_assign

    (
        ivf_assign(df, emb_col, id_col, centroids, cent_id, cent_vec)
        .write.partitionBy(cent_id)
        .mode(mode)
        .parquet(path)
    )


def ann_topk_sidecar(
    spark: SparkSession,
    path: str,
    query_vec: Sequence[float],
    id_col: str,
    k: int = 10,
    probe_hamming: Optional[int] = None,
    nprobe: int = 4,
    method: str = "cosine",
    round_to: Optional[int] = None,
    prefilter: Optional[int] = None,
) -> DataFrame:
    """ANN top-k over a ``write_vec(..., index=...)`` directory, with
    ZERO caller-held index state: the sidecar carries the planes /
    centroids (small literals), so the probe set is recomputed from the
    persisted spec and the scan prunes to the probed partitions. This
    is the 100 TB open-and-query path — any reader on any cluster gets
    directory-level pruning from the path alone, and the results of
    ``ann_lsh_topk`` / ``ivf_topk`` over the unpartitioned corpus
    (NULL embeddings are never candidates)."""
    with open(os.path.join(path, "_vecframe.json")) as f:
        sidecar = json.load(f)
    spec = sidecar.get("index")
    if not spec:
        raise ValueError(f"no index spec in sidecar: {path}")
    emb_col = sidecar["embedding_col"]
    # Dim guard before probing: the spec knows the indexed dimension
    # (explicit 'dim', or the width of the stored planes/centroids) —
    # a mismatched query must error here, not silently mis-probe.
    expect = spec.get("dim")
    if expect is None and spec.get("planes"):
        expect = len(spec["planes"][0])
    if expect is None and spec.get("centroids"):
        expect = len(spec["centroids"][0])
    if expect is not None and int(expect) != len(query_vec):
        raise ValueError(
            f"query dim {len(query_vec)} != index dim {int(expect)} "
            f"({spec['kind']} sidecar at {path})"
        )
    kind = spec["kind"]
    if kind not in ("lsh", "ivf", "ivfpq", "bq"):
        raise ValueError(f"unsupported index kind for probing: {kind!r}")
    from tidyvec_spark.operators.ann import _index_probe, _ivf_probes, _rerank

    data = spark.read.parquet(os.path.join(path, "data"))
    if kind == "bq":
        from tidyvec_spark.operators.bq import bq_topk

        return bq_topk(
            data, emb_col, id_col, query_vec, k=k,
            code_col=spec.get("code_col", "bq"),
            prefilter=prefilter, round_to=round_to,
        )
    if kind == "lsh":
        cand = _index_probe(data, emb_col, query_vec, spec, probe_hamming)
    else:
        probes = _ivf_probes(query_vec, spec["centroids"], nprobe)
        cand = data.filter(
            F.col(spec.get("cent_col", "centroid_id")).isin(probes)
        )
    return _rerank(cand, emb_col, id_col, query_vec, k, method, round_to)


def zorder_value(
    cols: Sequence[str],
    mins: Sequence[float],
    maxs: Sequence[float],
    bits: int = 10,
) -> Column:
    """Z-order (Morton) curve value over numeric columns: each column
    is min/max-scaled to a ``bits``-wide integer rank and the ranks'
    bits are interleaved, so rows close in EVERY dimension get close
    z values. Pure map-side expression.

    ``mins``/``maxs`` are driver-known literals (one cheap agg to
    fetch — or table-level stats at 100 TB); a degenerate dimension
    (min == max) contributes rank 0 everywhere.
    """
    n = len(cols)
    if n < 1 or len(mins) != n or len(maxs) != n:
        raise ValueError("cols/mins/maxs must be non-empty and same length")
    if bits < 1 or bits * n > 62:
        raise ValueError(f"bits*len(cols) must be in [1, 62], got {bits * n}")
    scale = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, (c, lo, hi) in enumerate(zip(cols, mins, maxs)):
        lo, hi = float(lo), float(hi)
        if hi > lo:
            cd = F.col(c).cast("double")
            # NaN rows rank 0 explicitly — floor(NaN) cast to long
            # would raise under ANSI mode, not clamp
            rank = F.when(F.isnan(cd), F.lit(0).cast("long")).otherwise(
                F.least(
                    F.lit(scale),
                    F.greatest(
                        F.lit(0),
                        F.floor(
                            (cd - F.lit(lo))
                            / F.lit(hi - lo)
                            * F.lit(float(scale + 1))
                        ).cast("long"),
                    ),
                )
            )
        else:
            rank = F.lit(0).cast("long")
        for j in range(bits):
            bit = F.call_function(
                "shiftright", rank, F.lit(j)
            ).bitwiseAND(F.lit(1))
            z = z + F.call_function(
                "shiftleft", bit.cast("long"), F.lit(j * n + i)
            )
    return z


def write_zorder(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 16,
    bits: int = 10,
    mode: str = "error",
) -> None:
    """Cluster the table on a Z-order curve over ``cols`` and write it
    range-partitioned by z (one task → one file span). Because rows in
    a file are then close in EVERY ``cols`` dimension, each file's
    parquet min/max column statistics become TIGHT — a scan with a
    range predicate on any combination of the z columns skips most
    files/row-groups with zero reader cooperation (plain stat
    pruning). This is the multi-column answer where single-column sort
    layout helps only its leading column — the plain-parquet
    equivalent of OPTIMIZE ZORDER BY.

    One extra agg (global min/max per column) + one range shuffle at
    write time, amortized over every later pruned scan.
    """
    # NaN-safe bounds: Spark's max orders NaN largest, which would
    # poison hi (and under ANSI mode a NaN rank cast would abort the
    # write), so NaNs are excluded from the bounds and rank 0'd below.
    aggs = []
    for c in cols:
        cd = F.col(c).cast("double")
        clean = F.when(~F.isnan(cd), cd)
        aggs += [F.min(clean), F.max(clean)]
    row = df.agg(*aggs).first()
    mins = [row[2 * i] for i in range(len(cols))]
    maxs = [row[2 * i + 1] for i in range(len(cols))]
    if any(v is None for v in mins + maxs):
        raise ValueError(
            f"write_zorder: no non-NaN rows to derive bounds for {list(cols)} "
            "(empty input?)"
        )
    z = zorder_value(cols, mins, maxs, bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(int(n_files), F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
