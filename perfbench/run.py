"""Benchmark of the tidyvec_spark engine: three seeded workloads driven
through the engine's public API.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

``--workload`` is ``search``, ``curation``, ``ingest`` or ``all`` (the
three in turn, in one session, caches cleared between them). The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The lines
before it list every metric of the workload by name with its unit, and
the full record (inputs, host facts, spans, per-layer rollup) is
written under ``.perfbench/results/``.

Run from the root of a checkout; the engine is imported from there.
"""

from __future__ import annotations

import argparse
import json
import platform
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent

WORKLOADS = ("search", "curation", "ingest")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="shrink every input size by this factor (self-test)")
    return ap.parse_args(argv)


def import_engine():
    """Import the engine from this checkout, never from elsewhere."""
    sys.path.insert(0, str(CHECKOUT))
    import tidyvec_spark

    where = Path(tidyvec_spark.__file__).resolve()
    if CHECKOUT not in where.parents:
        raise ImportError(f"tidyvec_spark imported from {where}, not from {CHECKOUT}")
    return tidyvec_spark


def run_phases(ctx, op, prepare=None, unit=1, min_units=1):
    """Closed loop over ``op(i)`` for ``ctx.seconds``, stopping only
    after a whole number of ``unit`` operations, and no fewer than
    ``min_units`` of them.

    Untraced: one phase. Traced: an untraced phase for half the time
    (at least one unit), then the same operations again with spans on,
    so a traced run costs about what an untraced one does; the
    wall-time difference is the tracing overhead."""
    from spans import Tracer

    def phase(start, count, seconds, least=1):
        lat, outs, idx = [], [], []
        total = 0.0
        i = start
        while ((count is None and (total < seconds or len(lat) % unit
                                   or len(lat) < least * unit))
               or (count is not None and len(lat) < count)):
            if prepare:
                prepare(i)
            tracer.request = i
            t0 = time.perf_counter()
            try:
                res, err = op(i), None
            except Exception as e:  # a failed operation is counted, not fatal
                res, err = None, f"{type(e).__name__}: {str(e)[:300]}"
            dt = time.perf_counter() - t0
            total += dt
            lat.append(dt)
            outs.append((res, err))
            idx.append(i)
            i += 1
        return lat, outs, idx, total

    tracer: Tracer = ctx.tracer
    if not tracer.enabled:
        lat, outs, idx, wall = phase(0, None, ctx.seconds, min_units)
        return {"latencies": lat, "outputs": outs, "indices": idx, "wall_s": wall,
                "traced_outputs": outs, "overhead_s": None}
    tracer.enabled = False
    lat, outs, idx, wall = phase(0, None, ctx.seconds / 2.0)
    tracer.enabled = True
    repeat_start = 0 if prepare is None else idx[-1] + 1
    traced_since = time.time()
    lat2, outs2, idx2, wall2 = phase(repeat_start, len(lat), None)
    return {"latencies": lat + lat2, "outputs": outs + outs2, "indices": idx + idx2,
            "wall_s": wall + wall2, "traced_outputs": outs2,
            "overhead_s": wall2 - wall, "traced_since": traced_since}


def host_facts(spark) -> dict:
    from harness import cores

    jvm = spark.sparkContext._jvm
    return {
        "nproc": cores(),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def end_to_end(res: dict, peak_mb: float) -> dict:
    from harness import tail_percentile

    lat = res["latencies"]
    tail, pct = tail_percentile(lat)
    out = {
        "setup_s": (res["setup_s"], "s"),
        "latency_s": (res["latency_s"], "s"),
        "throughput_per_s": (res["throughput_per_s"], "1/s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }
    report = dict(out)
    report["latency_p50_s"] = (statistics.median(lat) if lat else None, "s")
    report["wall_s"] = (res["wall_s"], "s")
    report["latency_tail_s"] = (tail, "s")
    report["latency_tail_pct"] = (pct, "percentile")
    report["latency_samples"] = (len(lat), "count")
    report[f"{res['item']}s_per_s"] = out["throughput_per_s"]
    report["error_rate"] = (res["failed"] / res["attempted"], "ratio")
    units = {"survivors": "count", "input_docs": "count", "rounds": "count", "round_p50_s": "s",
             "rotations": "count", "revised_docs": "count"}
    for k, v in res["quality"].items():
        if isinstance(v, (int, float)) or v is None:
            report[k] = (v, units.get(k, "ratio"))
    return out, report


def run_workload(name: str, ctx, session_s: float, scale: float) -> dict:
    import curation_wl
    import gen
    import ingest_wl
    import search_wl
    from harness import peak_rss_mb, reset_peak_rss

    wl, make, params = {
        "search": (search_wl, gen.search_inputs, gen.SEARCH),
        "curation": (curation_wl, gen.curation_inputs, gen.CURATION),
        "ingest": (ingest_wl, gen.ingest_inputs, gen.INGEST),
    }[name]
    reset_peak_rss(ctx.spark)
    t0 = time.perf_counter()
    inp = make(ctx.seed, gen.scaled(params, scale))
    gen_s = time.perf_counter() - t0
    res = wl.run(ctx, inp, lambda op, **kw: run_phases(ctx, op, **kw))
    peak = peak_rss_mb(ctx.spark)
    e2e, report = end_to_end(res, peak)
    report["session_start_s"] = (session_s, "s")
    report["input_generation_s"] = (gen_s, "s")
    record = {
        "workload": name,
        "seed": ctx.seed,
        "seconds": ctx.seconds,
        "trace": int(ctx.tracer.enabled),
        "params": inp.params,
        "host": host_facts(ctx.spark),
        "setup_samples_s": res["setup_samples"],
        "errors": res["errors"],
        "report": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
        "quality": res["quality"],
    }
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "e2e": e2e,
        "res": res,
        "record": record,
    }
    return result


def per_layer(ctx, res: dict, since_ms: float, stream_progress: list) -> tuple[dict, dict]:
    import spans

    jobs = spans.read_jobs(ctx.spark, since_ms)
    orphans = spans.attribute(ctx.tracer.spans, jobs)
    since = res.get("traced_since", 0.0)
    metrics = spans.rollup(ctx.tracer.spans, jobs, ctx.cores, res["rows_returned"],
                           [p for p in stream_progress if p["t"] >= since])
    metrics["trace.overhead_s"] = res.get("overhead_s") or 0.0
    detail = {"spans": ctx.tracer.spans, "jobs": jobs, "unattributed_jobs": orphans}
    return metrics, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    try:
        import_engine()
    except ImportError as e:
        print(f"cannot import the engine from the checkout: {e}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    import harness
    import spans

    run = harness.RunDir(CHECKOUT)
    harness.host_env(run)
    tracer = spans.Tracer(enabled=bool(args.trace))
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results_dir = CHECKOUT / ".perfbench" / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    spark = None
    outcomes = []
    try:
        from tidyvec_spark.session import make_session

        since_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        with tracer.span("session"):
            spark = make_session("perfbench", cpus=harness.cores())
            spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        progress: list = []
        spark.streams.addListener(spans.stream_listener(progress))
        for name in names:
            ctx = harness.Context(spark, run, tracer, args.seconds, args.seed, progress)
            out = run_workload(name, ctx, session_s, args.scale)
            if args.trace:
                metrics, detail = per_layer(ctx, out["res"], since_ms, progress)
                out["layer"] = metrics
                out["record"]["per_layer"] = metrics
                out["record"]["trace_detail"] = detail
            outcomes.append((name, out))
            (results_dir / f"{name}-seed{args.seed}-trace{args.trace}.json").write_text(
                json.dumps(out["record"], indent=1, default=str)
            )
            if len(names) > 1:
                ctx.clear_caches()
                tracer.spans.clear()
                progress.clear()
                since_ms = time.time() * 1000.0
    finally:
        if spark is not None:
            harness.shutdown(spark)
        run.close()

    final = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name, out in outcomes:
        prefix = f"{name}." if len(names) > 1 else ""
        print(f"# workload {name}: seed {args.seed}, {args.seconds:g} s, trace {args.trace}")
        for k, v in out["record"]["report"].items():
            print(f"{prefix}{k} = {v['value']} {v['unit']}")
        for e in out["record"]["errors"][:5]:
            print(f"# error: {e}")
        final["correct"] = final["correct"] and out["correct"]
        final["attempted"] += out["attempted"]
        final["failed"] += out["failed"]
        if args.trace:
            units = {n: u for n, u, _ in spans.per_layer_metric_specs()}
            for k, v in out["layer"].items():
                print(f"{prefix}{k} = {v} {units[k]}")
                final["metrics"][prefix + k] = {"value": v, "unit": units[k]}
        else:
            for k, (v, u) in out["e2e"].items():
                final["metrics"][prefix + k] = {"value": v, "unit": u}
    print(json.dumps(final), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
