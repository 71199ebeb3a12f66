"""``curation``: one batch pass over a seeded corpus, repeated.

The corpus lands as several parquet files and carries planted exact
copies, near copies, boilerplate, low-quality documents and revised
documents (an unrelated draft as version 1, the document as version 2).
A pass drains the files one per micro-batch through the latest-wins
upsert stream, then runs line cleaning and quality filtering, exact
dedup, within-document and global line dedup, repeated-substring cuts,
MinHash near-dup grouping and best-copy selection, and writes the
survivors. The planted truth stays here and is only used to score the
survivors afterwards.
"""

from __future__ import annotations

import itertools
import statistics

import numpy as np
import pandas as pd

import checks
import gen
from harness import Context, timed_reps

NEAR_DUP = {"num_hashes": 32, "bands": 16, "shingle_n": 3, "threshold": 0.5}
SUBSTRING_K = 20
LANDING_SCHEMA = "id long, version int, text string"


def frame(ctx: Context, inp: gen.CurationInputs):
    ids = [int(i) for i in inp.ids] + [d for d, _ in inp.drafts]
    versions = [int(v) for v in inp.versions] + [1] * len(inp.drafts)
    texts = list(inp.texts) + [t for _, t in inp.drafts]
    pdf = pd.DataFrame({"id": ids, "version": versions, "text": texts})
    return ctx.spark.createDataFrame(pdf, LANDING_SCHEMA)


def load(ctx: Context, docs, n_files: int) -> str:
    """Set-up: land the documents as parquet files."""
    path = ctx.run.fresh("corpus")
    with ctx.span("action"):
        docs.repartition(n_files).write.parquet(path)
    return path


def curate(ctx: Context, corpus: str, tag: str) -> dict:
    """One pass; returns the upsert sink table and the path of the
    written survivors."""
    from tidyvec_spark.functions.quality import (
        c4_clean_lines,
        dedup_lines_within_expr,
        gopher_keep,
    )
    from tidyvec_spark.operators.dedup import (
        dedup_lines_global,
        drop_exact_dups,
        drop_near_dups_keep_best,
        near_dup_groups,
        release,
        substring_dedup_cut,
    )
    from tidyvec_spark.streaming import run_available_now, upsert_latest_stream

    spark = ctx.spark
    stream = (spark.readStream.schema(LANDING_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(corpus))
    sink = f"corpus_{tag}"
    with ctx.span("streaming"):
        latest = upsert_latest_stream(stream, "id", "version", ["text"])
    with ctx.span("action"):
        run_available_now(latest, sink, output_mode="update")
    with ctx.span("streaming"):
        # the batch form of the same law folds the sink's re-emissions
        df = upsert_latest_stream(spark.table(sink), "id", "version", ["text"])
        df = df.select("id", "text")
    with ctx.span("functions"):
        df = df.withColumn("text", c4_clean_lines("text"))
        df = df.filter(gopher_keep("text"))
    with ctx.span("operators.dedup"):
        df = drop_exact_dups(df, "text", "id")
    with ctx.span("functions"):
        df = df.withColumn("text", dedup_lines_within_expr("text"))
    with ctx.span("operators.dedup"):
        df = dedup_lines_global(df, "text", "id")
    with ctx.span("operators.dedup"):
        cut = substring_dedup_cut(df, "text", "id", k=SUBSTRING_K)
    with ctx.span("operators.dedup"):
        groups = near_dup_groups(cut, "text", "id", **NEAR_DUP)
    with ctx.span("operators.dedup"):
        kept = drop_near_dups_keep_best(cut, groups, "id", "n_tokens")
    out = ctx.run.fresh("survivors")
    with ctx.span("action"):
        kept.select("id", "text").write.parquet(out)
    with ctx.span("operators.dedup"):
        release(cut)
        release(groups)
    return {"sink": sink, "survivors": out}


def run(ctx: Context, inp: gen.CurationInputs, trace_phases) -> dict:
    n_files = inp.params["n_files"]
    docs = frame(ctx, inp)
    setup_s, samples, corpus = timed_reps(ctx, lambda: load(ctx, docs, n_files))
    # every pass drains the corpus with a stream of its own: a traced
    # run repeats pass numbers, so the sink name comes from a counter
    tags = itertools.count()
    phases = trace_phases(lambda i: curate(ctx, corpus, str(next(tags))))

    latest = {int(i): (int(v), t) for i, v, t in zip(inp.ids, inp.versions, inp.texts)}
    errors, quality, failed = [], [], 0
    for out, exc in phases["outputs"]:
        if exc is None:
            errs = checks.compare_latest(ctx.spark.table(out["sink"]).collect(), latest)
            ctx.spark.catalog.dropTempView(out["sink"])
            rows = ctx.spark.read.parquet(out["survivors"]).collect()
            survivors = {int(r["id"]): r["text"] for r in rows}
            more, q = checks.check_curation(survivors, inp)
            errs += more
            quality.append(q)
        else:
            errs = [exc]
        if errs:
            failed += 1
            errors += errs[:3]
    n = len(phases["latencies"])
    docs = len(inp.texts)
    pass_s = statistics.median(phases["latencies"])
    return {
        "setup_s": setup_s,
        "setup_samples": samples,
        "latencies": phases["latencies"],
        "latency_s": pass_s,
        "throughput_per_s": docs / pass_s,
        "items": n * docs,
        "item": "doc",
        "wall_s": phases["wall_s"],
        "attempted": n,
        "failed": failed,
        "errors": errors[:20],
        "rows_returned": sum(q["survivors"] for q in quality[-len(phases["traced_outputs"]):]),
        "quality": {
            "dedup_precision": float(np.mean([q["dedup_precision"] for q in quality])) if quality else None,
            "dedup_recall": float(np.mean([q["dedup_recall"] for q in quality])) if quality else None,
            "survivors": quality[-1]["survivors"] if quality else None,
            "input_docs": docs,
            "revised_docs": len(inp.drafts),
        },
        "overhead_s": phases["overhead_s"],
        "traced_since": phases.get("traced_since", 0.0),
    }
