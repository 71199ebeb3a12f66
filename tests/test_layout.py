"""Bucket/centroid-partitioned layouts: probe filters must become
PARTITION pruning (directory-level), and pruned results must equal the
scan-everything plan. This is the 100 TB claim of operators/ann.py
made checkable."""

import pytest
from pyspark.sql import functions as F

from tidyvec_spark import plans as P
from tidyvec_spark.operators import ann
from tidyvec_spark.sources.layout import write_centroid_partitioned

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


@pytest.fixture(scope="module")
def planes():
    return ann.random_planes(64, nbits=6, seed=42)


@pytest.fixture(scope="module")
def bucketed_path(spark, emb, planes, tmp_path_factory):
    from tidyvec_spark import vec
    from tidyvec_spark.sources import write_vec

    path = str(tmp_path_factory.mktemp("layout") / "bucketed")
    write_vec(vec(emb, dim=64), path, index={"kind": "lsh", "planes": planes})
    return path


def test_bucketed_layout_prunes_partitions(spark, emb, planes, bucketed_path):
    from tidyvec_spark.sources import ann_topk_sidecar

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    df = ann_topk_sidecar(
        spark, bucketed_path, qvec, "vec_id", k=10, probe_hamming=1, round_to=6
    )
    s = P.explain_str(df)
    # the probe IN-filter must land on the partition column, not a
    # post-scan Filter: pruning happens at planning, before any read
    assert "PartitionFilters" in s and "bucket" in s.split("PartitionFilters")[1][:200]
    assert P.has_take_ordered(df)


def test_bucketed_layout_matches_unpartitioned(spark, emb, planes, bucketed_path):
    from tidyvec_spark.sources import ann_topk_sidecar

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    pruned = ann_topk_sidecar(
        spark, bucketed_path, qvec, "vec_id", k=10, probe_hamming=1, round_to=6
    ).collect()
    full = ann.ann_lsh_topk(
        emb, "embedding", "vec_id", qvec, k=10, planes=planes,
        probe_hamming=1, round_to=6,
    ).collect()
    assert [(r["vec_id"], r["similarity"]) for r in pruned] == [
        (r["vec_id"], r["similarity"]) for r in full
    ]


def test_centroid_layout_roundtrip(spark, emb, tmp_path_factory):
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    path = str(tmp_path_factory.mktemp("layout") / "ivf")
    write_centroid_partitioned(emb, path, "embedding", "vec_id", cents)
    back = spark.read.parquet(path)
    assert back.count() == emb.count()
    # partition column exists and a probe filter prunes it
    probe = back.filter(F.col("centroid_id").isin([0, 1]))
    assert "PartitionFilters" in P.explain_str(probe)


def test_sidecar_lsh_index_roundtrip(spark, emb, planes, tmp_path_factory):
    """write_vec with an LSH index spec -> reopen from the path alone
    -> ann_topk_sidecar reproduces the unpartitioned ann_lsh_topk
    result, with the probe filter pruning partitions. No caller-held
    planes: they come back out of the sidecar."""
    from tidyvec_spark import read_vec, vec
    from tidyvec_spark.sources import ann_topk_sidecar, write_vec

    path = str(tmp_path_factory.mktemp("layout") / "veclsh")
    write_vec(
        vec(emb, dim=64), path,
        index={"kind": "lsh", "planes": [list(p) for p in planes]},
    )
    vf = read_vec(spark, path)
    assert vf.index_spec["kind"] == "lsh"
    assert len(vf.index_spec["planes"]) == len(planes)

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    pruned = ann_topk_sidecar(
        spark, path, qvec, "vec_id", k=10, probe_hamming=1, round_to=6
    )
    s = P.explain_str(pruned)
    assert "PartitionFilters" in s
    full = ann.ann_lsh_topk(
        emb, "embedding", "vec_id", qvec, k=10, planes=planes,
        probe_hamming=1, round_to=6,
    ).collect()
    assert [(r["vec_id"], r["similarity"]) for r in pruned.collect()] == [
        (r["vec_id"], r["similarity"]) for r in full
    ]


def test_sidecar_ivf_index_roundtrip(spark, emb, tmp_path_factory):
    """Same contract for the IVF layout: sidecar centroids -> probed,
    partition-pruned scan == unpartitioned ivf_topk."""
    from tidyvec_spark import read_vec, vec
    from tidyvec_spark.sources import ann_topk_sidecar, write_vec

    cent_rows = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    path = str(tmp_path_factory.mktemp("layout") / "vecivf")
    write_vec(
        vec(emb, dim=64), path,
        index={"kind": "ivf", "centroids": cent_rows, "id_col": "vec_id"},
    )
    vf = read_vec(spark, path)
    assert len(vf.index_spec["centroids"]) == 8

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    pruned = ann_topk_sidecar(
        spark, path, qvec, "vec_id", k=10, nprobe=3, round_to=6
    )
    assert "PartitionFilters" in P.explain_str(pruned)
    cents = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cent_rows)],
        "centroid_id int, centroid array<double>",
    )
    full = ann.ivf_topk(
        emb, "embedding", "vec_id", cents, qvec, k=10, nprobe=3, round_to=6
    ).collect()
    assert [(r["vec_id"], r["similarity"]) for r in pruned.collect()] == [
        (r["vec_id"], r["similarity"]) for r in full
    ]


def test_ivf_topk_and_sidecar_rank_probes_alike(spark, tmp_path):
    """One probe ranker: centroid 0's squared distance to the query is
    the double printed 0.1235225, whose binary value lies below the
    half-way point, so Python ``round`` gives 0.123522 and Spark
    ``round`` (half-up on the decimal text) gives 0.123523. Centroid 1
    sits at 0.1235222 on the other side of the query. Python rounding
    ties the two and probes the smaller id (0); Spark rounding would
    probe 1. With nprobe=1 the unpartitioned ``ivf_topk`` and the
    sidecar must probe the same list and return the same rows."""
    from tidyvec_spark import vec
    from tidyvec_spark.sources import ann_topk_sidecar, write_vec

    cent_rows = [[1.3514576788178059], [1.0 - 0.1235222 ** 0.5]]
    q = [1.0]
    assert round((q[0] - cent_rows[0][0]) ** 2, 6) == 0.123522
    df = spark.createDataFrame(
        [(i, [x]) for i, x in enumerate([1.3, 1.4, 1.5, 0.6, 0.65, 0.7], 1)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    path = str(tmp_path / "ivf1d")
    write_vec(
        vec(df, dim=1), path,
        index={"kind": "ivf", "centroids": cent_rows, "id_col": "vec_id"},
    )
    cents = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cent_rows)],
        "centroid_id int, centroid array<double>",
    )
    full = ann.ivf_topk(
        df, "embedding", "vec_id", cents, q, k=3, nprobe=1, round_to=6
    ).collect()
    pruned = ann_topk_sidecar(
        spark, path, q, "vec_id", k=3, nprobe=1, round_to=6
    ).collect()
    rows = [(r["vec_id"], r["similarity"]) for r in full]
    assert rows == [(r["vec_id"], r["similarity"]) for r in pruned]
    assert rows == [(1, 1.0), (2, 1.0), (3, 1.0)]  # centroid 0's list


def test_zorder_value_interleaves_and_orders(spark):
    from tidyvec_spark.sources.layout import zorder_value

    df = spark.createDataFrame(
        [(0.0, 0.0), (0.0, 1.0), (1.0, 0.0), (1.0, 1.0), (0.5, 0.5)],
        "x double, y double",
    )
    z = df.select("x", "y", zorder_value(["x", "y"], [0.0, 0.0], [1.0, 1.0], bits=4).alias("z"))
    rows = {(r["x"], r["y"]): r["z"] for r in z.collect()}
    # corners: (0,0) is minimal, (1,1) maximal; z respects both dims
    assert rows[(0.0, 0.0)] == 0
    assert rows[(1.0, 1.0)] == max(rows.values())
    assert rows[(0.5, 0.5)] not in (rows[(0.0, 0.0)], rows[(1.0, 1.0)])
    import pytest as pt
    with pt.raises(ValueError):
        zorder_value(["x"], [0.0], [1.0], bits=63)


def test_write_zorder_tightens_file_stats(spark, tmp_path):
    """The point of the layout: after Z-order clustering, each file's
    per-column min/max span is far narrower than the global span, so
    plain parquet stat pruning skips files for range predicates on
    EITHER column."""
    import pyarrow.parquet as pq
    import glob as g
    from tidyvec_spark.sources.layout import write_zorder

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    path = str(tmp_path / "zorder")
    write_zorder(ev, path, ["user_id", "value"], n_files=8)

    spans = {"user_id": [], "value": []}
    glob_min = {"user_id": float("inf"), "value": float("inf")}
    glob_max = {"user_id": float("-inf"), "value": float("-inf")}
    files = sorted(g.glob(path + "/part-*.parquet"))
    assert len(files) >= 4
    for f in files:
        md = pq.read_metadata(f)
        for col in ("user_id", "value"):
            lo, hi = float("inf"), float("-inf")
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        lo = min(lo, float(c.statistics.min))
                        hi = max(hi, float(c.statistics.max))
            spans[col].append(hi - lo)
            glob_min[col] = min(glob_min[col], lo)
            glob_max[col] = max(glob_max[col], hi)
    for col in ("user_id", "value"):
        avg_span = sum(spans[col]) / len(spans[col])
        global_span = glob_max[col] - glob_min[col]
        # clustered files cover well under the full range on average
        assert avg_span < 0.8 * global_span, (col, avg_span, global_span)

    # and the data itself round-trips
    assert spark.read.parquet(path).count() == ev.count()


def test_write_zorder_empty_and_nan_guards(spark, tmp_path):
    import math
    from tidyvec_spark.sources.layout import write_zorder

    empty = spark.createDataFrame([], "a double, b double")
    import pytest as pt
    with pt.raises(ValueError, match="no non-NaN rows"):
        write_zorder(empty, str(tmp_path / "e"), ["a", "b"])

    # NaN rows must neither poison the bounds nor abort the ANSI cast
    df = spark.createDataFrame(
        [(0.0, 1.0), (5.0, 2.0), (float("nan"), 3.0), (10.0, 4.0)],
        "a double, b double",
    )
    path = str(tmp_path / "n")
    write_zorder(df, path, ["a", "b"], n_files=2)
    back = spark.read.parquet(path).collect()
    assert len(back) == 4
    assert sum(1 for r in back if math.isnan(r["a"])) == 1


def test_sidecar_bq_index_roundtrip(spark, emb, tmp_path_factory):
    """Same open-and-query contract for binary quantization: write_vec
    materializes the packed codes next to the data; ann_topk_sidecar
    answers Hamming top-k from the path alone — reading the code
    column, not the floats — and the prefilter mode reranks exactly."""
    from tidyvec_spark import read_vec, vec
    from tidyvec_spark.operators.bq import bq_topk
    from tidyvec_spark.sources import ann_topk_sidecar, write_vec

    path = str(tmp_path_factory.mktemp("layout") / "vecbq")
    write_vec(vec(emb, dim=64), path, index={"kind": "bq", "dim": 64})
    vf = read_vec(spark, path)
    assert vf.index_spec["kind"] == "bq"
    assert "bq" in spark.read.parquet(path + "/data").columns

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = ann_topk_sidecar(spark, path, qvec, "vec_id", k=10)
    # code-only scan: the float column is pruned from the read
    for cols in P.read_schemas(got):
        assert "embedding" not in cols, cols
    want = bq_topk(emb, "embedding", "vec_id", qvec, k=10, dim=64).collect()
    assert [(r["vec_id"], r["hamming"]) for r in got.collect()] == [
        (r["vec_id"], r["hamming"]) for r in want
    ]

    # prefilter -> exact rerank from the path alone
    rer = ann_topk_sidecar(
        spark, path, qvec, "vec_id", k=5, prefilter=100, round_to=6
    ).collect()
    wantr = bq_topk(
        emb, "embedding", "vec_id", qvec, k=5, dim=64, prefilter=100, round_to=6
    ).collect()
    assert [(r["vec_id"], r["similarity"]) for r in rer] == [
        (r["vec_id"], r["similarity"]) for r in wantr
    ]


def test_sidecar_dim_guard(spark, emb, planes, tmp_path_factory):
    # ADVICE r5: a query whose dim disagrees with the persisted index
    # must raise before probing (spec dim, or plane/centroid width)
    from tidyvec_spark import vec
    from tidyvec_spark.sources import ann_topk_sidecar, write_vec

    base = tmp_path_factory.mktemp("dimguard")
    bqp = str(base / "bq")
    write_vec(vec(emb, dim=64), bqp, index={"kind": "bq", "dim": 64})
    with pytest.raises(ValueError, match="query dim"):
        ann_topk_sidecar(spark, bqp, [1.0] * 32, "vec_id", k=5)
    lshp = str(base / "lsh")
    write_vec(vec(emb, dim=64), lshp, index={"kind": "lsh", "planes": planes})
    with pytest.raises(ValueError, match="query dim"):
        ann_topk_sidecar(spark, lshp, [1.0] * 16, "vec_id", k=5)


def test_nearest_approx_uses_attached_index(spark, emb, planes, tmp_path_factory):
    """UX closure: the index a collection persists is usable straight
    from nearest(approx=True) — same answers as the sidecar probe
    (partition-pruned scan), exact options (min_score, tiebreak,
    rounding) unchanged; approx without an index is a clean error."""
    from tidyvec_spark import read_vec, vec
    from tidyvec_spark.sources import ann_topk_sidecar, write_vec

    path = str(tmp_path_factory.mktemp("approxnn") / "v")
    write_vec(vec(emb, dim=64), path, index={"kind": "lsh", "planes": planes})
    vf = read_vec(spark, path)
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = vf.nearest(
        q, n=10, as_embedding=True, tiebreak="vec_id", round_to=6, approx=True
    ).df.select("vec_id", "similarity").collect()
    want = ann_topk_sidecar(spark, path, q, "vec_id", k=10, round_to=6).collect()
    assert [(r["vec_id"], r["similarity"]) for r in got] == [
        (r["vec_id"], r["similarity"]) for r in want
    ]
    with pytest.raises(ValueError, match="approx=True needs"):
        vec(emb).nearest(q, as_embedding=True, approx=True)
