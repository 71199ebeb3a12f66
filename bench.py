#!/usr/bin/env python
"""Benchmark registry entries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Usage: python bench.py [name ...]

With no names, times every entry the registry marks ``bench``, in
registry order, and prints TWO JSON lines — plan-shape metrics first,
then the compact timings object as the FINAL line (the driver
tail-captures and parses the last line):
  {"plans": {name: {shuffles, scans, codegen_stages}}, "sf": <sf>}
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}
The plan metrics are ALSO written to PLANS.json next to this script —
stdout tail-capture truncates the long first line, the file is the
durable copy. With names, only those entries are timed, only the
timings line is printed, and PLANS.json is left alone.

Each query is forced end-to-end with the noop sink (full computation,
no driver transfer) so timings measure the distributed plan, not
collect serialization. ``session()`` and ``cleanup()`` are the harness
session and between-query hygiene that scripts/check_oracle.py and
scripts/explain_dump.py share.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Session-level I/O + shuffle tuning on top of the engine config
# (tidyvec_spark.session). Nothing here is a local[32] constant — each
# value is either driven by the driver's env knobs or a BYTE target
# that adapts to data size:
#  - shuffle.partitions stays $SPARK_GRAFT_CPUS (set in session());
#  - maxPartitionBytes=512m cuts the map-task count feeding shuffles
#    on large sequential scans (guide §6.1); single-small-file local
#    inputs are unaffected (the _read(par=True) spread handles those);
#  - preferSortMergeJoin=false lets the planner use shuffled-hash
#    joins when a per-partition build side fits (guide §3.1), and the
#    AQE threshold below converts planned sort-merge joins to
#    shuffled-hash at runtime when every post-shuffle partition is
#    small — both skip the per-partition sort, neither changes results.
#
# Measured and REJECTED (OPTIMIZATION_r15.md):
# coalescePartitions.parallelismFirst=false + advisory sizing — it
# coalesces every mid-size shuffle to 1-2 partitions at this SF, which
# serializes compute-heavy post-shuffle stages (ngram_jaccard_pairs
# 3.5 s -> 5.2 s median; the shingle-pair verify ran on one core).
# Spark's parallelismFirst default exists exactly for this case, and at
# real scale totalBytes/parallelism exceeds the advisory anyway, so the
# two modes converge there — keeping the default loses nothing at
# 100 TB and keeps local compute parallel.
SESSION_CONFS = {
    "spark.sql.files.maxPartitionBytes": "512m",
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
}

BENCH_QUERIES = [name for name, e in entry.REGISTRY.items() if e.bench]


def session(app_name: str = "tidyvec_spark_bench"):
    """The harness session: ``tidyvec_spark.session.configure`` at
    ``shuffle.partitions=$SPARK_GRAFT_CPUS``, plus host settings and
    ``SESSION_CONFS``."""
    from pyspark.sql import SparkSession

    from tidyvec_spark.session import configure

    builder = configure(
        SparkSession.builder.master(f"local[{CPUS}]").appName(app_name),
        shuffle_partitions=CPUS,
    )
    builder = builder.config("spark.driver.memory", "32g").config(
        "spark.ui.enabled", "false"
    )
    for k, v in SESSION_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cleanup(spark) -> None:
    """Release what a query left behind (run outside the timed window).

    Intra-plan persists (LSH signature tables) and memory-sink tables
    from ``run_available_now`` are scoped to their query. clearCache only
    covers catalog-registered caches: localCheckpoint() blocks
    (pagerank, connected components, LPA) live at the RDD layer and stay
    pinned while Python-side DataFrames hold py4j refs; left alone they
    pile up and squeeze execution memory until checkpoint-heavy queries
    run 2-3x slower in later sweeps. Python gc drops the refs, explicit
    unpersist releases whatever survives, and the JVM gc reclaims the
    freed blocks (~0.3 s)."""
    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    gc.collect()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(False)
    spark.sparkContext._jvm.System.gc()


def _plan_metrics(spark, names, trials) -> dict[str, dict]:
    """Plan-shape metrics plus each entry's median and min/max wall time.

    Shuffle/scan counts don't swing run-to-run the way wall time does,
    so a regression becomes attributable to the plan. AQE is OFF for
    this pass: an un-executed AdaptiveSparkPlan hides its
    WholeStageCodegen markers, and the static plan is the reproducible
    artifact anyway."""
    from tidyvec_spark import plans as P

    qs = entry.queries()
    out: dict[str, dict] = {}
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in names:
            try:
                df = qs[name](spark, SF_DIR)
                out[name] = {
                    "shuffles": P.num_shuffles(df),
                    "scans": len(P.read_schemas(df)),
                    "codegen_stages": P.codegen_stage_count(df),
                }
            except Exception:
                out[name] = {}
            ts = trials[name]
            out[name]["wall_s"] = round(sorted(ts)[len(ts) // 2], 3)
            out[name]["wall_min_s"] = round(min(ts), 3)
            out[name]["wall_max_s"] = round(max(ts), 3)
            cleanup(spark)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    return out


def main(names: list[str]) -> None:
    qs = entry.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"not registry entries: {unknown}")
    run = names or BENCH_QUERIES
    # builders stage files with tempfile.mkdtemp; keep them all under one
    # per-run directory that is removed at exit
    tmp = tempfile.mkdtemp(prefix="tidyvec_bench_")
    tempfile.tempdir = tmp
    spark = session()
    try:
        # Untimed warm-up at the smallest SF: first execution of each
        # plan pays one-time whole-stage-codegen compilation (6-13 s for
        # the wide md5-fold kernels) that is amortized to zero on a
        # long-running cluster; warming on sf0.001 compiles the same
        # generated classes so the timed loop measures the plan, not
        # the compiler.
        warm_dir = "/root/testdata/sf0.001"
        if os.path.isdir(warm_dir) and os.path.abspath(
            warm_dir
        ) != os.path.abspath(SF_DIR):
            for name in run:
                try:
                    qs[name](spark, warm_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception:
                    pass
                cleanup(spark)

        # median-of-3 over INTERLEAVED sweeps: GC and I/O hiccups on a
        # shared VM are temporally correlated, so back-to-back trials of
        # one query eat the same bad patch — a full sweep between trials
        # decorrelates the noise, and the median discards one bad sweep
        # per query in either direction.
        trials: dict[str, list[float]] = {name: [] for name in run}
        for _sweep in range(3):
            for name in run:
                t0 = time.perf_counter()
                df = qs[name](spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                trials[name].append(time.perf_counter() - t0)
                cleanup(spark)
        timings = {
            k: round(sorted(v)[len(v) // 2], 3) for k, v in trials.items()
        }

        sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
        if not names:
            plans_payload = {
                "plans": _plan_metrics(spark, run, trials),
                "sf": sf,
            }
            with open(os.path.join(ROOT, "PLANS.json"), "w") as f:
                json.dump(plans_payload, f, indent=1, sort_keys=True)
            print(json.dumps(plans_payload))
        out = {
            "metric": "headline_queries_total_wall",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": sf,
        }
        print(json.dumps(out))
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
