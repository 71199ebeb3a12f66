"""Reference results (NumPy / pure Python) and the checks that compare
the engine's outputs against them. Nothing here calls Spark; every
check runs outside the timed window.

Scores are compared at the engine's 6-decimal rounding. Two engines
can round a value that sits on a rounding boundary differently, so a
top-k check accepts a list when it is a valid top-k of the reference
scores within ``TOL``: correctly ordered, scored as the reference
scores them, and with no left-out row scoring clearly higher.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

from gen import normalized_key, tokens

TOL = 2e-6


def valid_topk(ids, scores, ref: dict | np.ndarray, k: int, higher_better=True,
               universe=None) -> str | None:
    """``None`` when (ids, scores) is a valid top-``k`` under ``ref``
    (score per id; a dict or an array indexed by id), else the reason.
    ``universe``: the ids eligible for the result (default: all of
    ``ref``)."""
    ids = [int(i) for i in ids]
    scores = [float(s) for s in scores]
    sign = 1.0 if higher_better else -1.0
    get = (lambda i: ref.get(i)) if isinstance(ref, dict) else (lambda i: float(ref[i]))
    if len(set(ids)) != len(ids):
        return "duplicate ids"
    if universe is None:
        universe = list(ref.keys()) if isinstance(ref, dict) else range(len(ref))
    n_eligible = len(universe)
    if len(ids) != min(k, n_eligible):
        return f"expected {min(k, n_eligible)} rows, got {len(ids)}"
    for i, s in zip(ids, scores):
        r = get(i)
        if r is None or abs(r - s) > TOL:
            return f"id {i}: score {s} != reference {r}"
    for a, b, ia, ib in zip(scores, scores[1:], ids, ids[1:]):
        if sign * (b - a) > TOL or (abs(a - b) == 0.0 and ib < ia):
            return f"order broken at ids {ia}, {ib}"
    if not ids:
        return None
    floor = sign * scores[-1]
    chosen = set(ids)
    if isinstance(ref, dict):
        rest = [sign * v for i, v in ref.items() if i not in chosen and i in universe]
        worst_out = max(rest, default=-math.inf)
    else:
        vals = sign * np.asarray(ref, dtype=np.float64)
        mask = np.zeros(len(vals), dtype=bool)
        mask[np.asarray(list(universe), dtype=np.int64)] = True
        mask[list(chosen)] = False
        worst_out = vals[mask].max() if mask.any() else -math.inf
    if worst_out > floor + TOL:
        return f"a left-out row scores {sign * worst_out} > last kept {scores[-1]}"
    return None


class VectorRef:
    """Exact scores of every collection vector against a query."""

    def __init__(self, vectors: np.ndarray):
        self.X = vectors.astype(np.float64)
        self.norms = np.sqrt((self.X * self.X).sum(axis=1))
        # sign codes as bit matrices for Hamming distances
        self.signs = vectors >= 0

    def scores(self, q, method: str) -> np.ndarray:
        q = np.asarray(q, dtype=np.float64)
        if method == "dot":
            return self.X @ q
        if method == "euclidean":
            d = np.sqrt(((self.X - q) ** 2).sum(axis=1))
            return 1.0 / (1.0 + d)
        qn = math.sqrt(float(q @ q))
        denom = self.norms * qn
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(denom == 0.0, 0.0, (self.X @ q) / denom)

    def hamming(self, q) -> np.ndarray:
        qs = np.asarray(q) >= 0
        return (self.signs != qs).sum(axis=1)

    def exact_topk(self, q, k: int, method: str = "cosine") -> list[int]:
        s = np.round(self.scores(q, method), 6)
        order = np.lexsort((np.arange(len(s)), -s))
        return [int(i) for i in order[:k]]


def pq_luts(q, codebooks) -> np.ndarray:
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    luts = []
    for j in range(m):
        qs = [float(x) for x in q[j * dsub:(j + 1) * dsub]]
        luts.append([round(sum((a - b) * (a - b) for a, b in zip(qs, c)), 6)
                     for c in codebooks[j]])
    return np.asarray(luts, dtype=np.float64)


def pq_adc(q, codebooks, codes: np.ndarray) -> np.ndarray:
    """ADC distance per row, summed subspace by subspace in the
    engine's order."""
    L = pq_luts(q, codebooks)
    d = L[0][codes[:, 0]]
    for j in range(1, codes.shape[1]):
        d = d + L[j][codes[:, j]]
    return np.round(d, 6)


def pq_encode(vectors: np.ndarray, codebooks) -> np.ndarray:
    X = vectors.astype(np.float64)
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    out = np.empty((len(X), m), dtype=np.int64)
    for j, book in enumerate(codebooks):
        B = np.asarray(book, dtype=np.float64)
        Xj = X[:, j * dsub:(j + 1) * dsub]
        d2 = (Xj * Xj).sum(axis=1)[:, None] + (B * B).sum(axis=1)[None, :] - 2.0 * (Xj @ B.T)
        out[:, j] = np.argmin(np.round(d2, 6), axis=1)
    return out


class TextRef:
    """Sparse TF-IDF cosine and BM25 over the text corpus, with the
    engine's formulas (``embedders/tfidf.py``, ``operators/search.py``)."""

    def __init__(self, doc_ids, texts, min_freq: int = 2):
        self.doc_ids = [int(i) for i in doc_ids]
        self.tf = [Counter(tokens(t)) for t in texts]
        self.dl = [sum(c.values()) for c in self.tf]
        corpus = Counter()
        dfreq = Counter()
        for c in self.tf:
            corpus.update(c)
            dfreq.update(c.keys())
        n = len(self.tf)
        self.n = n
        self.dfreq = dfreq
        self.idf = {
            t: math.log((n + 1) / (dfreq[t] + 1.0)) + 1.0
            for t, cnt in corpus.items() if cnt >= min_freq
        }
        self.postings: dict[str, list[int]] = {}
        for j, c in enumerate(self.tf):
            for t in c:
                self.postings.setdefault(t, []).append(j)
        self.norm = []
        for j, c in enumerate(self.tf):
            tot = float(self.dl[j])
            s = sum(((cnt / tot) * self.idf[t]) ** 2 for t, cnt in c.items() if t in self.idf)
            self.norm.append(math.sqrt(s))
        self.avgdl = sum(self.dl) / n

    def tfidf_scores(self, query: str) -> dict:
        qt = Counter(tokens(query))
        qtot = float(sum(qt.values()))
        qw = {t: (c / qtot) * self.idf[t] for t, c in qt.items() if t in self.idf}
        qn = math.sqrt(sum(w * w for w in qw.values()))
        out = {i: 0.0 for i in self.doc_ids}
        for t, w in qw.items():
            for j in self.postings.get(t, []):
                tot = float(self.dl[j])
                dw = (self.tf[j][t] / tot) * self.idf[t]
                out[self.doc_ids[j]] += dw * w
        for j, i in enumerate(self.doc_ids):
            nr = self.norm[j]
            out[i] = round(out[i] / (nr * qn), 6) if nr else 0.0
        return out

    def bm25_scores(self, query: str, k1: float = 1.2, b: float = 0.75) -> dict:
        terms = sorted(set(tokens(query)))
        out: dict[int, float] = {}
        hit: set[int] = set()
        for t in terms:
            hit.update(self.postings.get(t, []))
        for j in hit:
            norm = k1 * ((1.0 - b) + b * float(self.dl[j]) / self.avgdl)
            s = 0.0
            for t in terms:
                df = self.dfreq.get(t, 0)
                idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
                tc = float(self.tf[j].get(t, 0))
                s += idf * tc * (k1 + 1.0) / (tc + norm)
            out[self.doc_ids[j]] = round(s, 6)
        return out


def rrf(lists: list[list[int]], k: int = 60) -> dict:
    """RRF score per id over ranked id lists (rank 1 = first)."""
    out: dict[int, float] = {}
    for ids in lists:
        for r, i in enumerate(ids, start=1):
            out[i] = out.get(i, 0.0) + 1.0 / (k + r)
    return {i: round(s, 6) for i, s in out.items()}


def recall_at(found, exact) -> float:
    return len(set(found) & set(exact)) / max(1, len(exact))


# --- curation ---------------------------------------------------------------


def check_curation(survivors: dict[int, str], inputs) -> tuple[list[str], dict]:
    """Errors in a curation result plus dedup precision/recall against
    the planted groups. ``survivors``: id -> surviving text."""
    errors = []
    keys: dict[str, int] = {}
    for i, text in survivors.items():
        k = normalized_key(text)
        if k in keys:
            errors.append(f"survivors {keys[k]} and {i} share a normalized_text_key")
        keys[k] = i
    for g in inputs.exact_groups:
        kept = [m for m in g if m in survivors]
        if len(kept) > 1:
            errors.append(f"planted exact copies {kept} survived together")
    all_ids = {int(i) for i in inputs.ids}
    removed = all_ids - set(survivors) - inputs.low_quality
    members = {}
    for gi, g in enumerate(inputs.groups):
        for m in g:
            members[m] = gi
    correct = 0
    by_group = Counter(members[m] for m in removed if m in members)
    for gi, n_removed in by_group.items():
        correct += min(n_removed, len(inputs.groups[gi]) - 1)
    should = sum(len(g) - 1 for g in inputs.groups)
    quality = {
        "dedup_precision": correct / len(removed) if removed else 1.0,
        "dedup_recall": correct / should if should else 1.0,
        "survivors": len(survivors),
    }
    return errors, quality


# --- ingest -----------------------------------------------------------------


def replay_ingest(files: list[dict], indexed_keys: set[str]):
    """Keep-min dedup against the index and latest-wins upsert, the two
    laws the ingest stream must satisfy: (admitted: key -> min doc_id,
    latest: doc_id -> (version, text))."""
    admitted: dict[str, int] = {}
    latest: dict[int, tuple[int, str]] = {}
    for cols in files:
        for did, ver, text in zip(cols["doc_id"], cols["version"], cols["text"]):
            k = normalized_key(text)
            if k not in indexed_keys:
                admitted[k] = min(admitted.get(k, did), did)
            cur = latest.get(did)
            if cur is None or (ver, text) > cur:
                latest[did] = (ver, text)
    return admitted, latest


def compare_ingest(admitted_rows, latest_rows, exp: dict) -> list[str]:
    """Fold the sinks' re-emissions (min keep_id per key, max
    (version, text) per doc_id) and compare them with the replay."""
    errs = []
    got_adm: dict[str, int] = {}
    for h, k in admitted_rows:
        got_adm[h] = min(got_adm.get(h, k), k)
    if got_adm != exp["admitted"]:
        errs.append(f"admitted set differs from the keep-min replay "
                    f"({len(got_adm)} vs {len(exp['admitted'])} keys)")
    return errs + compare_latest(latest_rows, exp["latest"])


def compare_latest(latest_rows, expected: dict) -> list[str]:
    """Fold an upsert sink's re-emissions (max (version, text) per key)
    and compare them with the latest-wins replay ``expected``."""
    got: dict[int, tuple] = {}
    for d, v, t in latest_rows:
        cur = got.get(d)
        if cur is None or (v, t) > cur:
            got[d] = (v, t)
    if got != expected:
        return [f"upsert result differs from the latest-wins replay "
                f"({len(got)} vs {len(expected)} keys)"]
    return []
