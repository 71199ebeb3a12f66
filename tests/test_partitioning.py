"""ensure_parallelism: decided from the plan, never by running it."""

from pyspark.sql import functions as F

from tidyvec_spark import plans as P
from tidyvec_spark.partitioning import ensure_parallelism


def _last_job_id(spark) -> int:
    """Highest job id in the status store, after the listener bus has
    caught up (job ids only grow; the store may drop old jobs)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def _with_jobs(spark, fn):
    """(fn(), number of Spark jobs it fired)."""
    before = _last_job_id(spark)
    out = fn()
    return out, _last_job_id(spark) - before


def test_shuffled_frame_passes_through_without_a_job(spark, documents):
    """A frame with two shuffles comes back unchanged and no job runs —
    also when the shuffle sits inside a cached relation. The control:
    asking the same frame for its RDD partition count (the probe this
    replaced) does run jobs under AQE, so the counter can see them."""
    two = (
        documents.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .orderBy("n", "lang")
    )
    assert P.num_shuffles(two) == 2
    out, jobs = _with_jobs(spark, lambda: ensure_parallelism(two))
    assert out is two and jobs == 0

    cached = documents.groupBy("lang").agg(F.count("*").alias("n")).persist()
    try:
        child = cached.filter(F.col("n") > 0)
        out, jobs = _with_jobs(spark, lambda: ensure_parallelism(child))
        assert out is child and jobs == 0
    finally:
        cached.unpersist()

    _, jobs = _with_jobs(spark, lambda: two.rdd.getNumPartitions())
    assert jobs > 0


def test_single_file_scan_is_widened(spark, sf_dir):
    """An un-shuffled single-file scan still comes back with
    defaultParallelism partitions, and deciding that runs no job."""
    scan = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = spark.sparkContext.defaultParallelism
    assert scan.rdd.getNumPartitions() < target
    out, jobs = _with_jobs(spark, lambda: ensure_parallelism(scan))
    assert jobs == 0
    assert out.rdd.getNumPartitions() == target
    assert P.num_shuffles(out) == 1
