"""Collection persistence — parquet + JSON sidecar.

The reference serializes the whole collection (data + attributes,
including the embedder *closure*) as one qs blob (reference
R/core.R:412-442). Closures don't serialize across a cluster, and a
single binary blob doesn't scale, so the engine's format is:

    <path>/data/            parquet (splittable, columnar, predicate
                            pushdown + column pruning preserved)
    <path>/_vecframe.json   {embedding_col, dim, normalized, embedder spec}
    <path>/embedder_vocab/  fitted-embedder artifacts (e.g. the TF-IDF
                            vocabulary DataFrame), when present

read_vec validates the sidecar the way the reference validates class
on load (R/core.R:436-440).
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import SparkSession

from tidyvec_spark.collection import VecFrame
from tidyvec_spark.embedders.base import resolve_embedder

_SIDECAR = "_vecframe.json"
_MAGIC = "tidyvec_spark/vecframe"


_INDEX_KINDS = ("lsh", "ivf", "pq", "ivfpq", "bq")


def write_vec(
    vf: VecFrame,
    path: str,
    mode: str = "error",
    index: Optional[dict] = None,
) -> None:
    """Persist the collection; optionally with an ANN index layout.

    ``index`` (else ``vf.index_spec``) is a small JSON-able dict:

    - ``{"kind": "lsh", "planes": [[...], ...]}`` — data written
      partitioned by the hyperplane-LSH bucket; probe reads prune
      bucket directories.
    - ``{"kind": "ivf", "centroids": [[...], ...]}`` — partitioned by
      nearest-centroid assignment (centroid_id = list position).
    - ``{"kind": "pq", "codebooks": [...]}`` / ``{"kind": "ivfpq",
      "centroids": [...], "codebooks": [...]}`` — artifacts stored for
      ADC readers (layout unchanged for pq; centroid-partitioned for
      ivfpq).

    The artifacts are tiny literals (planes/centroids/codebooks), so
    they live in the sidecar itself — ``read_vec`` rehydrates them
    (``nearest(approx=True)`` probes through an ``lsh`` spec), and
    ``sources.layout.ann_topk_sidecar`` is the way to query the index
    from the path: it recomputes probe sets with no caller-held state.
    """
    index = index if index is not None else vf.index_spec
    data_path = os.path.join(path, "data")
    if index is not None:
        kind = index.get("kind")
        if kind not in _INDEX_KINDS:
            raise ValueError(
                f"index kind must be one of {_INDEX_KINDS}, got {kind!r}"
            )
        if kind == "lsh":
            from tidyvec_spark.sources.layout import write_bucket_partitioned

            write_bucket_partitioned(
                vf.df, data_path, vf.embedding_col, index["planes"],
                bucket_col=index.get("bucket_col", "bucket"), mode=mode,
            )
        elif kind in ("ivf", "ivfpq"):
            from tidyvec_spark.sources.layout import (
                write_centroid_partitioned,
            )

            spark = vf.df.sparkSession
            cents = spark.createDataFrame(
                [(i, [float(x) for x in c])
                 for i, c in enumerate(index["centroids"])],
                "centroid_id int, centroid array<double>",
            )
            id_col = index.get("id_col") or vf.df.columns[0]
            write_centroid_partitioned(
                vf.df, data_path, vf.embedding_col, id_col, cents,
                cent_id=index.get("cent_col", "centroid_id"), mode=mode,
            )
        elif kind == "bq":
            # binary sign codes MATERIALIZED next to the data: later
            # Hamming scans read the packed longs and prune the float
            # column entirely (32x fewer bytes per row)
            from tidyvec_spark.operators.bq import bq_encode

            d = index.get("dim") or vf.dim
            if not d:
                raise ValueError("bq index needs 'dim' (or a VecFrame dim)")
            dim = int(d)
            bq_encode(
                vf.df, vf.embedding_col, dim,
                out_col=index.get("code_col", "bq"),
            ).write.mode(mode).parquet(data_path)
        else:  # pq: artifacts only, plain layout
            vf.df.write.mode(mode).parquet(data_path)
    else:
        vf.df.write.mode(mode).parquet(data_path)

    spec = None
    if vf.embedder is not None:
        vocab = getattr(vf.embedder, "vocab", None)
        if vocab is not None:
            vocab_path = os.path.join(path, "embedder_vocab")
            vocab.write.mode(mode if mode != "error" else "errorifexists").parquet(
                vocab_path
            )
            vf.embedder.vocab_path = vocab_path
        spec = vf.embedder.spec_json()

    sidecar = {
        "magic": _MAGIC,
        "version": 1,
        "embedding_col": vf.embedding_col,
        "dim": vf.dim,
        "normalized": vf.normalized,
        "embedder": spec,
        "index": index,
    }
    with open(os.path.join(path, _SIDECAR), "w") as f:
        json.dump(sidecar, f, indent=2)


def read_vec(spark: SparkSession, path: str) -> VecFrame:
    sidecar_path = os.path.join(path, _SIDECAR)
    if not os.path.exists(sidecar_path):
        raise ValueError(f"not a VecFrame directory (missing {_SIDECAR}): {path}")
    with open(sidecar_path) as f:
        sidecar = json.load(f)
    if sidecar.get("magic") != _MAGIC:
        # parity: reference validates class on load (R/core.R:436-440)
        raise ValueError(f"file does not contain a VecFrame collection: {path}")

    df = spark.read.parquet(os.path.join(path, "data"))
    embedder = None
    if sidecar.get("embedder"):
        embedder = resolve_embedder(sidecar["embedder"], spark)
    return VecFrame(
        df,
        embedding_col=sidecar["embedding_col"],
        embedder=embedder,
        dim=sidecar.get("dim"),
        normalized=bool(sidecar.get("normalized", False)),
        index_spec=sidecar.get("index"),
    )
