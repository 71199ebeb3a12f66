"""``search``: a closed loop of one client sending top-10 requests.

Set-up writes the vector collection with an LSH layout and reads it
back, fits TF-IDF on the text corpus and stores it as a collection,
fits IVF centroids and writes BQ- and PQ-coded copies. Requests then
rotate through eleven kinds; a stated share of requests re-send an
earlier request of the same kind, and nothing is uncached between
requests.
"""

from __future__ import annotations

import statistics

import numpy as np
import pandas as pd

import checks
import gen
from harness import Context, timed_reps

K = 10
HYBRID_DEPTH = 50
BQ_PREFILTER = 100
IVF_NPROBE = 2
WARMUP_SCALE = 0.02
# timed set-ups: each writes four collections, so two keep a run short
SETUP_REPS = 2
# an untraced run measures at least two whole rotations through the
# request kinds, so every kind's median rests on two requests or more
ROTATIONS = 2


def _frames(spark, inp: gen.SearchInputs):
    vec_pdf = pd.DataFrame({"id": inp.ids, "embedding": list(inp.vectors)})
    txt_pdf = pd.DataFrame({"id": inp.doc_ids, "text": inp.texts})
    # the vectors arrive as one file would: a single partition
    vecs = spark.createDataFrame(vec_pdf, "id long, embedding array<float>").coalesce(1)
    docs = spark.createDataFrame(txt_pdf, "id long, text string")
    return vecs, docs


def setup(ctx: Context, inp: gen.SearchInputs, vecs, docs) -> dict:
    """One-time program work on the input frames: returns the handles
    requests use."""
    from tidyvec_spark import TfidfEmbedder, read_vec, vec, write_vec
    from tidyvec_spark.operators.ann import random_planes
    from tidyvec_spark.operators.pq import pq_codebooks_from_rows, pq_encode

    spark, p, run = ctx.spark, inp.params, ctx.run
    with ctx.span("operators.ann"):
        planes = random_planes(p["dim"], nbits=p["lsh_bits"], seed=ctx.seed)
    with ctx.span("collection"):
        vf = vec(vecs, "embedding", dim=p["dim"])
    path = run.fresh("vectors-lsh")
    with ctx.span("sources"):
        write_vec(vf, path, index={"kind": "lsh", "planes": planes})
        coll = read_vec(spark, path)

    with ctx.span("embedders"):
        fitted = TfidfEmbedder(min_freq=2).fit(docs, "text")
    path = run.fresh("docs-tfidf")
    with ctx.span("collection"):
        dvf = vec(docs, "embedding", embedding_fn=fitted)
    with ctx.span("sources"):
        write_vec(dvf, path)
        text_coll = read_vec(spark, path)

    # IVF centroids: a seeded sample of the collection's own vectors
    pick = gen.rng_for(ctx.seed, "ivf-seeds").choice(
        len(inp.vectors), size=p["ivf_centroids"], replace=False)
    cents = spark.createDataFrame(
        [(i, inp.vectors[j].astype(np.float64).tolist()) for i, j in enumerate(pick)],
        "centroid_id int, centroid array<double>")
    path = run.fresh("vectors-bq")
    with ctx.span("sources"):
        write_vec(vf, path, index={"kind": "bq", "dim": p["dim"]})
        bq_coll = read_vec(spark, path)

    rng = gen.rng_for(ctx.seed, "pq-seeds")
    seed_rows = inp.vectors[rng.choice(len(inp.vectors), size=p["pq_codes"], replace=False)]
    with ctx.span("operators.pq"):
        books = pq_codebooks_from_rows(seed_rows.astype(np.float64).tolist(), p["pq_subspaces"])
        coded = pq_encode(coll.df.select("id", "embedding"), "embedding", books,
                          code_col="pq_code")
    path = run.fresh("vectors-pq")
    with ctx.span("collection"):
        pvf = vec(coded, "embedding", dim=p["dim"])
    with ctx.span("sources"):
        write_vec(pvf, path, index={"kind": "pq", "codebooks": books})
        pq_coll = read_vec(spark, path)
    return {"coll": coll, "text": text_coll, "cents": cents, "planes": planes,
            "bq": bq_coll, "pq": pq_coll, "books": books}


def request(ctx: Context, st: dict, q: dict) -> list[tuple]:
    """One request, through the engine's public API; returns its rows."""
    from tidyvec_spark.operators.ann import ann_lsh_topk, ivf_topk
    from tidyvec_spark.operators.bq import bq_topk
    from tidyvec_spark.operators.fusion import rrf_fuse
    from tidyvec_spark.operators.nearest import nearest
    from tidyvec_spark.operators.pq import pq_adc_topk
    from tidyvec_spark.operators.search import bm25_topk

    kind, v, text = q["kind"], q["vector"], q["text"]
    coll = st["coll"]
    if kind in ("exact_cosine", "nearest_approx"):
        with ctx.span("collection"):
            df = coll.nearest(v, n=K, as_embedding=True, tiebreak="id", round_to=6,
                              approx=kind == "nearest_approx").df.select("id", "similarity")
    elif kind in ("exact_dot", "exact_euclidean"):
        with ctx.span("operators.nearest"):
            df = nearest(coll, v, n=K, as_embedding=True, method=kind[6:], tiebreak="id",
                         round_to=6).df.select("id", "similarity")
    elif kind == "ivf_topk":
        with ctx.span("operators.ann"):
            df = ivf_topk(coll.df, "embedding", "id", st["cents"], v, k=K,
                          nprobe=IVF_NPROBE, round_to=6)
    elif kind == "ann_lsh_topk":
        with ctx.span("operators.ann"):
            df = ann_lsh_topk(coll.df, "embedding", "id", v, k=K, planes=st["planes"],
                              round_to=6)
    elif kind == "bq_topk":
        with ctx.span("operators.bq"):
            df = bq_topk(st["bq"].df, "embedding", "id", v, K, code_col="bq",
                         prefilter=BQ_PREFILTER, round_to=6)
    elif kind == "pq_adc_topk":
        with ctx.span("operators.pq"):
            df = pq_adc_topk(st["pq"].df, "pq_code", "id", v, st["books"], k=K)
    elif kind == "tfidf_search":
        tc = st["text"]
        with ctx.span("embedders"):
            df = tc.embedder.search(tc.df, "text", "id", text, n=K, round_to=6)
    elif kind == "bm25_topk":
        with ctx.span("operators.search"):
            df = bm25_topk(st["text"].df, "text", "id", text, n=K, round_to=6)
    elif kind == "rrf_hybrid":
        with ctx.span("operators.nearest"):
            dense = nearest(coll, v, n=HYBRID_DEPTH, as_embedding=True, tiebreak="id",
                            round_to=6).df.select("id", "similarity")
        with ctx.span("operators.search"):
            sparse = bm25_topk(st["text"].df, "text", "id", text, n=HYBRID_DEPTH, round_to=6)
        with ctx.span("operators.fusion"):
            df = rrf_fuse([dense, sparse], "id", ["similarity", "score"], n=K)
    else:
        raise ValueError(f"unknown request kind {kind!r}")
    with ctx.span("action"):
        return [tuple(r) for r in df.collect()]


class Checker:
    """Reference answers for every request kind."""

    def __init__(self, inp: gen.SearchInputs, st: dict, codes: np.ndarray):
        self.vref = checks.VectorRef(inp.vectors)
        self.tref = checks.TextRef(inp.doc_ids, inp.texts)
        self.books = st["books"]
        self.codes = codes

    def check(self, q: dict, rows: list[tuple]) -> tuple[str | None, float | None]:
        """(error or None, recall@10 for ANN kinds)."""
        kind, v, text = q["kind"], q["vector"], q["text"]
        ids = [r[0] for r in rows]
        vref = self.vref
        if kind.startswith("exact_"):
            ref = np.round(vref.scores(v, kind[6:]), 6)
            return checks.valid_topk(ids, [r[1] for r in rows], ref, K), None
        if kind == "tfidf_search":
            return checks.valid_topk(ids, [r[1] for r in rows], self.tref.tfidf_scores(text), K), None
        if kind == "bm25_topk":
            return checks.valid_topk(ids, [r[1] for r in rows], self.tref.bm25_scores(text), K), None
        if kind == "rrf_hybrid":
            dense = vref.exact_topk(v, HYBRID_DEPTH)
            bm = self.tref.bm25_scores(text)
            sparse = sorted(bm, key=lambda i: (-bm[i], i))[:HYBRID_DEPTH]
            return checks.valid_topk(ids, [r[1] for r in rows], checks.rrf([dense, sparse]), K), None
        cos = np.round(vref.scores(v, "cosine"), 6)
        exact = vref.exact_topk(v, K)
        if kind == "pq_adc_topk":
            adc = checks.pq_adc(v, self.books, self.codes)
            err = checks.valid_topk(ids, [r[1] for r in rows], adc, K, higher_better=False)
            return err, checks.recall_at(ids, vref.exact_topk(v, K, "euclidean"))
        if kind == "bq_topk":
            ham = vref.hamming(v)
            if [int(r[1]) for r in rows] != [int(ham[i]) for i in ids]:
                return "hamming distances differ from the reference", None
            cand = np.lexsort((np.arange(len(ham)), ham))[:BQ_PREFILTER]
            err = checks.valid_topk(ids, [r[2] for r in rows], cos, K, universe=cand)
            return err, checks.recall_at(ids, exact)
        # ANN kinds that rerank exactly: every returned score is the exact one
        err = checks.valid_topk(ids, [r[1] for r in rows], cos, K, universe=ids)
        if err is None and len(ids) != K:
            err = f"expected {K} rows, got {len(ids)}"
        return err, checks.recall_at(ids, exact)


def run(ctx: Context, inp: gen.SearchInputs, trace_phases) -> dict:
    def warmup():
        # every code path once on a small copy, so set-up and requests
        # are measured warm
        tiny = gen.search_inputs(ctx.seed + 1, gen.scaled(gen.SEARCH, WARMUP_SCALE))
        tiny_st = setup(ctx, tiny, *_frames(ctx.spark, tiny))
        for q in tiny.warmup:
            request(ctx, tiny_st, q)

    vecs, docs = _frames(ctx.spark, inp)
    setup_s, samples, st = timed_reps(ctx, lambda: setup(ctx, inp, vecs, docs),
                                      reps=SETUP_REPS, warmup=warmup)
    codes_rows = st["pq"].df.select("id", "pq_code").collect()
    codes = np.zeros((len(inp.ids), inp.params["pq_subspaces"]), dtype=np.int64)
    for i, c in codes_rows:
        codes[int(i)] = c
    setup_errors = []
    if not np.array_equal(codes, checks.pq_encode(inp.vectors, st["books"])):
        setup_errors.append("pq codes differ from the reference encoding")
    checker = Checker(inp, st, codes)

    queries = inp.queries

    def op(i):
        return request(ctx, st, queries[i % len(queries)])

    # whole rotations, so every run measures each request kind equally
    phases = trace_phases(op, unit=len(gen.SEARCH_KINDS), min_units=ROTATIONS)
    latencies, outputs, indices = phases["latencies"], phases["outputs"], phases["indices"]
    errors, recalls, kinds_failed = list(setup_errors), [], {}
    by_kind: dict[str, list[float]] = {k: [] for k in gen.SEARCH_KINDS}
    for i, (rows, exc) in enumerate(outputs):
        q = queries[indices[i] % len(queries)]
        by_kind[q["kind"]].append(latencies[i])
        err = exc
        if err is None:
            err, rec = checker.check(q, rows)
            if rec is not None:
                recalls.append(rec)
        if err is not None:
            kinds_failed[q["kind"]] = kinds_failed.get(q["kind"], 0) + 1
            errors.append(f"{q['kind']}: {err}")
    # every kind weighs the same, and a stall in one request moves its
    # kind's median only when it recurs
    typical = [statistics.median(v) for v in by_kind.values()]
    n = len(latencies)
    # a repeat copies an earlier query of the window, so the flag is the
    # share of requests the session has already served once
    first = indices[: len(indices) - len(phases["traced_outputs"])] or indices
    return {
        "setup_s": setup_s,
        "setup_samples": samples,
        "latencies": latencies,
        "latency_s": statistics.geometric_mean(typical),
        "throughput_per_s": len(typical) / sum(typical),
        "items": n,
        "item": "request",
        "wall_s": phases["wall_s"],
        "attempted": n + 1,  # the requests plus the PQ-code check
        "failed": len(errors),
        "errors": errors[:20],
        "rows_returned": sum(len(r or ()) for r, _ in phases["traced_outputs"]),
        "quality": {
            "recall_at_10": float(np.mean(recalls)) if recalls else None,
            "repeat_request_share": float(np.mean(
                [queries[i % len(queries)]["repeat"] for i in first])),
            "rotations": n // len(gen.SEARCH_KINDS),
            "failed_by_kind": kinds_failed,
            "latency_by_kind": {k: [round(t, 4) for t in v] for k, v in by_kind.items()},
        },
        "overhead_s": phases["overhead_s"],
        "traced_since": phases.get("traced_since", 0.0),
    }
