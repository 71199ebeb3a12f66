"""``ingest``: incremental loads into a vector collection.

Set-up writes the base collection. Each round then lands parquet files
holding new documents, revisions of earlier doc_ids and copies of text
the collection already holds, drains them one file per micro-batch
through the exact-dedup and latest-wins upsert streams, appends the
admitted newest versions with their vectors to the collection, and
reads the collection back to find one of them. Rounds continue the
doc_id and version sequences, so later rounds revise earlier ones.
"""

from __future__ import annotations

import os
import statistics

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
from harness import Context, timed_reps

LANDING_SCHEMA = "doc_id bigint, version int, text string, embedding array<float>"
_ARROW = pa.schema([
    ("doc_id", pa.int64()), ("version", pa.int32()), ("text", pa.string()),
    ("embedding", pa.list_(pa.float32())),
])


def frame(ctx: Context, inp: gen.IngestInputs):
    pdf = pd.DataFrame({"doc_id": inp.base_ids, "text": inp.base_texts,
                        "embedding": list(inp.base_vectors)})
    return ctx.spark.createDataFrame(pdf, "doc_id long, text string, embedding array<float>")


def write_base(ctx: Context, df, inp: gen.IngestInputs) -> str:
    """Set-up: the collection every round appends to."""
    from tidyvec_spark import read_vec, vec, write_vec

    path = ctx.run.fresh("collection")
    with ctx.span("collection"):
        vf = vec(df, "embedding", dim=inp.params["dim"])
    with ctx.span("sources"):
        write_vec(vf, path)
        read_vec(ctx.spark, path)
    return path


def land(ctx: Context, files: list[dict]) -> str:
    """Input arrival (not timed): one parquet file per batch."""
    path = ctx.run.fresh("landing")
    os.makedirs(path)
    for n, cols in enumerate(files):
        table = pa.Table.from_pydict(
            {**cols, "embedding": [v.tolist() for v in cols["embedding"]]}, schema=_ARROW)
        pq.write_table(table, os.path.join(path, f"part-{n:05d}.parquet"))
    return path


def ingest_round(ctx: Context, coll_path: str, landing: str, tag: str, dim: int) -> dict:
    """Drain one landing directory and apply it; returns the sink
    tables and the id found by the read-back search."""
    from pyspark.sql import functions as F

    from tidyvec_spark import read_vec, vec, write_vec
    from tidyvec_spark.operators.dedup import normalized_text_key
    from tidyvec_spark.streaming import (
        ingest_dedup_stream,
        run_available_now,
        upsert_latest_stream,
    )

    spark = ctx.spark

    def stream():
        return (spark.readStream.schema(LANDING_SCHEMA)
                .option("maxFilesPerTrigger", 1).parquet(landing))

    with ctx.span("sources"):
        coll = read_vec(spark, coll_path)
    with ctx.span("operators.dedup"):
        index = coll.df.select(normalized_text_key("text").alias("h"))
    adm_t, up_t = f"admitted_{tag}", f"latest_{tag}"
    with ctx.span("streaming"):
        admitted = ingest_dedup_stream(stream(), index, "text", "doc_id")
    with ctx.span("action"):
        run_available_now(admitted, adm_t, output_mode="update")
    with ctx.span("streaming"):
        latest = upsert_latest_stream(stream(), "doc_id", "version", ["text"])
    with ctx.span("action"):
        run_available_now(latest, up_t, output_mode="update")

    # apply: the newest version of every document whose content was
    # admitted, with the vector that arrived with that version
    keep = spark.table(adm_t).groupBy("h").agg(F.min("keep_id").alias("doc_id")).select("doc_id")
    newest = (spark.table(up_t).groupBy("doc_id")
              .agg(F.max(F.struct("version", "text")).alias("w"))
              .select("doc_id", F.col("w.version").alias("version"), F.col("w.text").alias("text")))
    vectors = spark.read.parquet(landing).select("doc_id", "version", "embedding")
    rows = newest.join(keep.distinct(), "doc_id").join(vectors, ["doc_id", "version"])
    with ctx.span("collection"):
        vf = vec(rows.select("doc_id", "text", "embedding"), "embedding", dim=dim)
    with ctx.span("sources"):
        write_vec(vf, coll_path, mode="append")
        grown = read_vec(spark, coll_path)
    probe = rows.orderBy("doc_id").select("doc_id", "embedding").limit(1)
    with ctx.span("action"):
        first = probe.collect()
    found = None
    if first:
        with ctx.span("collection"):
            hit = grown.nearest(list(first[0]["embedding"]), n=1, as_embedding=True,
                                tiebreak="doc_id").df.select("doc_id")
        with ctx.span("action"):
            found = [r[0] for r in hit.collect()]
    return {"admitted": adm_t, "latest": up_t,
            "probe": first[0]["doc_id"] if first else None, "found": found}


def run(ctx: Context, inp: gen.IngestInputs, trace_phases) -> dict:
    p = inp.params
    base = frame(ctx, inp)
    setup_s, samples, coll_path = timed_reps(ctx, lambda: write_base(ctx, base, inp))
    rounds = gen.IngestRounds(ctx.seed, inp)

    indexed = {gen.normalized_key(t) for t in inp.base_texts}
    pending: dict[int, dict] = {}

    def prepare(i):
        files = rounds.next_round(p["files_per_round"], p["rows_per_file"])
        admitted, latest = checks.replay_ingest(files, indexed)
        appended = {d: latest[d] for d in set(admitted.values())}
        indexed.update(gen.normalized_key(t) for _, t in appended.values())
        pending[i] = {"landing": land(ctx, files), "admitted": admitted,
                      "latest": latest, "rows": sum(len(f["doc_id"]) for f in files)}

    def op(i):
        return ingest_round(ctx, coll_path, pending[i]["landing"], str(i), p["dim"])

    phases = trace_phases(op, prepare=prepare)
    errors, failed, rows = [], 0, 0
    tags = set()
    for i, (out, exc) in zip(phases["indices"], phases["outputs"]):
        exp = pending[i]
        rows += exp["rows"]
        errs = [exc] if exc else []
        if out is not None:
            tags.add(str(i))
            errs += check_round(ctx, out, exp)
        if errs:
            failed += 1
            errors += errs[:3]
    for t in tags:
        ctx.spark.catalog.dropTempView(f"admitted_{t}")
        ctx.spark.catalog.dropTempView(f"latest_{t}")
    batches = [b["duration_s"] for b in ctx.progress
               if b["rows"] > 0 and b["query"].rsplit("_", 1)[-1] in tags]
    return {
        "setup_s": setup_s,
        "setup_samples": samples,
        "latencies": batches,
        # no micro-batch ran when every round failed: the failures show
        # in error_rate
        "latency_s": statistics.median(batches) if batches else None,
        "throughput_per_s": rows / phases["wall_s"],
        "items": rows,
        "item": "row",
        "wall_s": phases["wall_s"],
        "attempted": len(phases["outputs"]),
        "failed": failed,
        "errors": errors[:20],
        "rows_returned": sum(pending[i]["rows"]
                             for i in phases["indices"][-len(phases["traced_outputs"]):]),
        "quality": {
            "round_p50_s": statistics.median(phases["latencies"]),
            "rounds": len(phases["outputs"]),
        },
        "overhead_s": phases["overhead_s"],
        "traced_since": phases.get("traced_since", 0.0),
    }


def check_round(ctx: Context, out: dict, exp: dict) -> list[str]:
    """The sink tables must equal the pandas replay of both laws, and
    the read-back search must find the probed document."""
    errs = checks.compare_ingest(ctx.spark.table(out["admitted"]).collect(),
                                 ctx.spark.table(out["latest"]).collect(), exp)
    if out["probe"] is not None and out["found"] != [out["probe"]]:
        errs.append(f"read-back search for {out['probe']} returned {out['found']}")
    return errs
