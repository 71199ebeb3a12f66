"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

Checks that
- two generations with one seed are identical and another seed changes
  them;
- the reference checks reject a corrupted top-k, dedup and ingest
  result;
- one run of all three workloads prints every end-to-end and every
  per-layer metric named in BENCHMARK.json with its unit, reports no
  error, and that a corrupted result in each workload is counted as a
  failed operation.

Exits 0 when every check passes.
"""

from __future__ import annotations

import contextlib
import io
import json
import subprocess
import sys
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen  # noqa: E402

TINY = 0.05
FAILURES: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        FAILURES.append(what)


def test_generation() -> None:
    for name, make, params in (
        ("search", gen.search_inputs, gen.SEARCH),
        ("curation", gen.curation_inputs, gen.CURATION),
        ("ingest", gen.ingest_inputs, gen.INGEST),
    ):
        p = gen.scaled(params, TINY)
        a, b, c = (gen.digest(make(s, p)) for s in (7, 7, 8))
        expect(a == b, f"{name}: same seed, identical inputs")
        expect(a != c, f"{name}: another seed, other inputs")
    queries = gen.search_inputs(7, gen.scaled(gen.SEARCH, TINY)).queries
    repeats = [i for i, q in enumerate(queries) if q["repeat"]]
    expect(bool(repeats) and all(
        any(queries[j] == {**queries[i], "repeat": False} for j in range(i))
        for i in repeats), "search: every repeat re-sends an earlier request of its kind")
    inp = gen.ingest_inputs(7, gen.scaled(gen.INGEST, TINY))
    r1, r2 = (gen.digest(gen.IngestRounds(7, inp).next_round(2, 20)) for _ in range(2))
    expect(r1 == r2, "ingest rounds: same seed, identical landing files")


def test_checks() -> None:
    inp = gen.search_inputs(3, gen.scaled(gen.SEARCH, TINY))
    vref = checks.VectorRef(inp.vectors)
    q = inp.queries[0]["vector"]
    ref = np.round(vref.scores(q, "cosine"), 6)
    top = vref.exact_topk(q, 10)
    expect(checks.valid_topk(top, ref[top], ref, 10) is None, "exact top-10 accepted")
    bad = top[:9] + [vref.exact_topk(q, 50)[-1]]
    expect(checks.valid_topk(bad, ref[bad], ref, 10) is not None, "corrupted top-10 rejected")
    swapped = [top[1], top[0]] + top[2:]
    expect(checks.valid_topk(swapped, ref[swapped], ref, 10) is not None
           or ref[top[0]] == ref[top[1]], "misordered top-10 rejected")

    tref = checks.TextRef(inp.doc_ids, inp.texts)
    bm = tref.bm25_scores(inp.queries[0]["text"])
    best = sorted(bm, key=lambda i: (-bm[i], i))[:10]
    expect(checks.valid_topk(best, [bm[i] for i in best], bm, 10) is None, "BM25 top-10 accepted")
    expect(checks.valid_topk(best, [bm[i] + 0.01 for i in best], bm, 10) is not None,
           "BM25 top-10 with wrong scores rejected")

    cur = gen.curation_inputs(3, gen.scaled(gen.CURATION, TINY))
    text = dict(zip((int(i) for i in cur.ids), cur.texts))
    drop = {m for g in cur.groups for m in g[1:]} | cur.low_quality
    clean = {i: t for i, t in text.items() if i not in drop}
    errs, quality = checks.check_curation(clean, cur)
    expect(not errs and quality["dedup_recall"] == 1.0, "clean dedup result accepted")
    copy = cur.exact_groups[0][1]
    errs, _ = checks.check_curation({**clean, copy: text[copy]}, cur)
    expect(bool(errs), "dedup result keeping a planted exact copy rejected")

    ing = gen.ingest_inputs(3, gen.scaled(gen.INGEST, TINY))
    files = gen.IngestRounds(3, ing).next_round(2, 30)
    admitted, latest = checks.replay_ingest(files, {gen.normalized_key(t) for t in ing.base_texts})
    exp = {"admitted": admitted, "latest": latest}
    adm_rows = list(admitted.items())
    up_rows = [(d, v, t) for d, (v, t) in latest.items()]
    expect(not checks.compare_ingest(adm_rows, up_rows, exp), "ingest replay accepted")
    k, v = adm_rows[0]
    expect(bool(checks.compare_ingest([(k, v + 1)] + adm_rows[1:], up_rows, exp)),
           "ingest result with a wrong keep_id rejected")


def run_main(args: list[str]) -> tuple[int, list[str]]:
    """The benchmark in this process (so a test can patch it)."""
    import run

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = run.main(args)
    return code, buf.getvalue().splitlines()


def run_subprocess(args: list[str]) -> tuple[int, list[str]]:
    p = subprocess.run([sys.executable, str(HERE / "run.py")] + args,
                       cwd=HERE.parent, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.splitlines()


def printed_metrics(lines: list[str]) -> dict[str, str]:
    out = {}
    for line in lines:
        if " = " in line and not line.startswith("#"):
            name, rest = line.split(" = ", 1)
            out[name] = rest.rsplit(" ", 1)[-1]
    return out


def test_runs() -> None:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    base = ["--workload", "all", "--seed", "5", "--seconds", "1", "--scale", str(TINY)]

    code, lines = run_subprocess(base + ["--trace", "0"])
    final = json.loads(lines[-1])
    shown = printed_metrics(lines[:-1])
    expect(code == 0 and final["correct"] and final["failed"] == 0, "tiny run: no errors")
    for wl in ("search", "curation", "ingest"):
        for m in spec["end_to_end"]:
            name = f"{wl}.{m['name']}"
            expect(shown.get(name) == m["unit"], f"{name} printed in {m['unit']}")
        for name in ("error_rate", "wall_s", "latency_tail_s"):
            expect(f"{wl}.{name}" in shown, f"{wl}.{name} printed")
    expect(shown.get("search.recall_at_10") is not None, "search.recall_at_10 printed")
    expect(shown.get("curation.dedup_precision") is not None, "curation.dedup_precision printed")

    import curation_wl
    import ingest_wl
    import search_wl

    orig = (search_wl.request, curation_wl.checks.check_curation, ingest_wl.ingest_round)

    def bad_request(ctx, st, q):
        rows = orig[0](ctx, st, q)
        return rows[1:] + rows[:1]  # rotate: the best hit moves to the end

    def bad_curation(survivors, inp):
        original, copy = inp.exact_groups[0][:2]
        return orig[1]({**survivors, original: "x", copy: "x"}, inp)

    def bad_round(*a, **kw):
        out = orig[2](*a, **kw)
        return {**out, "found": [-1]}

    search_wl.request = bad_request
    curation_wl.checks.check_curation = bad_curation
    ingest_wl.ingest_round = bad_round
    try:
        code, lines = run_main(base + ["--trace", "1"])
    finally:
        search_wl.request, curation_wl.checks.check_curation, ingest_wl.ingest_round = orig
    final = json.loads(lines[-1])
    shown = printed_metrics(lines[:-1])
    expect(code == 0 and not final["correct"], "corrupted results make the run incorrect")
    for wl in ("search", "curation", "ingest"):
        rate = shown.get(f"{wl}.error_rate")
        line = [ln for ln in lines if ln.startswith(f"{wl}.error_rate = ")]
        value = float(line[0].split(" = ")[1].split()[0]) if line else 0.0
        expect(rate is not None and value > 0, f"{wl}: corrupted result counted in error_rate")
        for m in spec["per_layer"]:
            name = f"{wl}.{m['name']}"
            expect(shown.get(name) == m["unit"], f"{name} printed in {m['unit']}")


def main() -> int:
    test_generation()
    test_checks()
    test_runs()
    print(f"{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
