"""Seeded input generators for the three workloads.

Everything here is pure NumPy/Python: the same ``seed`` gives
byte-identical inputs (see :func:`digest`), and the engine only ever
receives the generated rows, never the planted ground truth.

Text is generated fresh from a synthetic vocabulary rather than cut
from the repository's fixtures: fixture documents share so many lines
that global line dedup removes most of a corpus built from them.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

import numpy as np

# --- sizes and planted rates (recorded in every result) ---------------

SEARCH = {
    "n_vectors": 10_000,
    "dim": 64,
    "n_clusters": 64,
    "near_dup_vector_rate": 0.05,
    "n_text_docs": 5_000,
    "n_topics": 40,
    "repeat_query_rate": 0.3,
    "n_queries": 400,
    "lsh_bits": 6,
    "ivf_centroids": 8,
    "pq_subspaces": 8,
    "pq_codes": 16,
    "top_k": 10,
}

CURATION = {
    "n_originals": 400,
    "n_files": 4,
    "exact_copy_rate": 0.08,
    "near_copy_rate": 0.08,
    "low_quality_rate": 0.05,
    "boilerplate_line_rate": 0.2,
    "menu_line_rate": 0.2,
    "repeated_line_rate": 0.05,
    "shared_passage_rate": 0.05,
    "revision_rate": 0.05,
}

INGEST = {
    "n_base_docs": 2_000,
    "dim": 64,
    "files_per_round": 5,
    "rows_per_file": 300,
    "revision_rate": 0.2,
    "indexed_copy_rate": 0.15,
    "in_stream_copy_rate": 0.05,
}

VOCAB_SIZE = 6_000
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, purpose): adding a new
    stream never shifts the draws of an existing one."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([int(seed), tag])


def vocabulary(seed: int, size: int = VOCAB_SIZE) -> list[str]:
    """Distinct lowercase alphabetic words of 3-9 letters."""
    rng = rng_for(seed, "vocab")
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        w = "".join(rng.choice(_LETTERS, size=int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_cdf(n: int, s: float = 1.0, shift: float = 2.7) -> np.ndarray:
    p = 1.0 / np.power(np.arange(n) + shift, s)
    return np.cumsum(p / p.sum())


def draw(rng: np.random.Generator, cdf: np.ndarray, size: int) -> np.ndarray:
    """``size`` indices drawn with the probabilities behind ``cdf``."""
    return np.minimum(np.searchsorted(cdf, rng.random(size), side="right"), len(cdf) - 1)


def normalized_key(text: str) -> str:
    """Python twin of ``operators.dedup.normalized_text_key`` for ASCII
    text: md5 of the lowercased, whitespace-collapsed, trimmed text."""
    return hashlib.md5(_WS.sub(" ", text.lower()).strip(" ").encode()).hexdigest()


def tokens(text: str) -> list[str]:
    """Python twin of the engine tokenizer (lowercase, split on ASCII
    whitespace, empties dropped)."""
    return [t for t in _WS.split(text.lower()) if t]


def digest(obj) -> str:
    """Stable content hash of generated inputs (arrays by bytes,
    containers recursively) for the same-seed identity check."""
    h = hashlib.sha256()

    def feed(x):
        if isinstance(x, np.ndarray):
            h.update(str(x.dtype).encode())
            h.update(str(x.shape).encode())
            h.update(np.ascontiguousarray(x).tobytes())
        elif isinstance(x, dict):
            for k in sorted(x):
                h.update(repr(k).encode())
                feed(x[k])
        elif isinstance(x, (list, tuple)):
            h.update(f"[{len(x)}".encode())
            for v in x:
                feed(v)
        elif hasattr(x, "__dataclass_fields__"):
            feed({k: getattr(x, k) for k in x.__dataclass_fields__})
        else:
            h.update(repr(x).encode())

    feed(obj)
    return h.hexdigest()


def scaled(params: dict, scale: float) -> dict:
    """Shrink every size (integer key starting with ``n_``) by ``scale``;
    rates stay as they are."""
    out = dict(params)
    for k, v in params.items():
        if k.startswith("n_") and isinstance(v, int):
            out[k] = max(min(v, 8), int(v * scale))
    return out


# --- search -------------------------------------------------------------


@dataclass
class SearchInputs:
    params: dict
    ids: np.ndarray  # int64, vector-collection ids
    vectors: np.ndarray  # float32 (n, dim)
    doc_ids: np.ndarray  # int64, text-corpus ids (a prefix of ids)
    texts: list[str]
    queries: list[dict] = field(default_factory=list)
    warmup: list[dict] = field(default_factory=list)


SEARCH_KINDS = (
    "exact_cosine",
    "exact_dot",
    "exact_euclidean",
    "nearest_approx",
    "ivf_topk",
    "ann_lsh_topk",
    "bq_topk",
    "pq_adc_topk",
    "tfidf_search",
    "bm25_topk",
    "rrf_hybrid",
)


def _topic_words(rng, vocab_size: int, n_topics: int, per_topic: int = 150):
    return [rng.choice(vocab_size, size=per_topic, replace=False) for _ in range(n_topics)]


def search_inputs(seed: int, params: dict = SEARCH) -> SearchInputs:
    p = dict(params)
    rng = rng_for(seed, "search")
    n, d = p["n_vectors"], p["dim"]
    centers = rng.normal(0.0, 1.0, size=(p["n_clusters"], d))
    assign = rng.integers(0, p["n_clusters"], size=n)
    vecs = centers[assign] + rng.normal(0.0, 0.35, size=(n, d))
    # planted near-duplicates: a copy of an earlier vector plus tiny noise
    n_dup = int(n * p["near_dup_vector_rate"])
    dst = rng.choice(np.arange(1, n), size=n_dup, replace=False)
    src = (rng.random(n_dup) * dst).astype(np.int64)
    vecs[dst] = vecs[src] + rng.normal(0.0, 1e-3, size=(n_dup, d))
    vectors = vecs.astype(np.float32)
    ids = np.arange(n, dtype=np.int64)

    vocab = vocabulary(seed)
    topics = _topic_words(rng, len(vocab), p["n_topics"])
    glob_cdf = zipf_cdf(len(vocab))
    topic_cdf = zipf_cdf(len(topics[0]))
    texts = []
    doc_topic = rng.integers(0, p["n_topics"], size=p["n_text_docs"])
    for t in doc_topic:
        length = int(rng.integers(30, 81))
        n_top = int(length * 0.6)
        top = topics[t][draw(rng, topic_cdf, n_top)]
        other = draw(rng, glob_cdf, length - n_top)
        words = np.concatenate([top, other])
        rng.shuffle(words)
        texts.append(" ".join(vocab[i] for i in words))
    doc_ids = ids[: p["n_text_docs"]].copy()

    # query terms only from words the TF-IDF fit keeps (corpus count >= 2)
    counts: dict[str, int] = {}
    for t in texts:
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1

    def fresh(r: np.random.Generator, kind: str) -> dict:
        base = vectors[int(r.integers(0, n))].astype(np.float64)
        qv = base + r.normal(0.0, 0.2, size=d)
        t = int(r.integers(0, p["n_topics"]))
        cand = [vocab[w] for w in topics[t] if counts.get(vocab[w], 0) >= 2]
        nterms = int(r.integers(2, 5))
        terms = list(r.choice(cand, size=min(nterms, len(cand)), replace=False))
        return {"kind": kind, "vector": [round(float(x), 6) for x in qv],
                "text": " ".join(terms), "repeat": False}

    # a repeat re-issues an earlier request of the same kind: same
    # kind, same vector, same text
    queries: list[dict] = []
    for i in range(p["n_queries"]):
        kind = SEARCH_KINDS[i % len(SEARCH_KINDS)]
        earlier = range(i % len(SEARCH_KINDS), i, len(SEARCH_KINDS))
        if len(earlier) and rng.random() < p["repeat_query_rate"]:
            prev = queries[earlier[int(rng.integers(0, len(earlier)))]]
            queries.append({**prev, "repeat": True})
        else:
            queries.append(fresh(rng, kind))
    # one request of each kind for the untimed warm-up, drawn apart
    wrng = rng_for(seed, "search-warmup")
    warmup = [fresh(wrng, kind) for kind in SEARCH_KINDS]
    return SearchInputs(p, ids, vectors, doc_ids, texts, queries, warmup)


# --- curation -------------------------------------------------------------


@dataclass
class CurationInputs:
    params: dict
    ids: np.ndarray
    texts: list[str]
    # ground truth (kept by the benchmark, never given to the engine)
    groups: list[list[int]]  # planted duplicate groups (original first)
    exact_groups: list[list[int]]
    low_quality: set[int]
    # revised documents: ``texts[i]`` arrives as version 2 and an
    # unrelated draft as version 1; the draft must not survive
    versions: np.ndarray  # int32 version of texts[i]
    drafts: list[tuple[int, str]]  # (id, draft text), version 1


def _sentence(rng, vocab, cdf, lo: int, hi: int) -> list[str]:
    return [vocab[i] for i in draw(rng, cdf, int(rng.integers(lo, hi + 1)))]


def _render(words: list[str]) -> str:
    return " ".join(words) + "."


def curation_inputs(seed: int, params: dict = CURATION) -> CurationInputs:
    p = dict(params)
    rng = rng_for(seed, "curation")
    vocab = vocabulary(seed)
    cdf = zipf_cdf(len(vocab), s=0.8)
    boiler = [_render(_sentence(rng, vocab, cdf, 8, 12)) for _ in range(20)]
    menus = [" ".join(_sentence(rng, vocab, cdf, 3, 4)).title() for _ in range(20)]
    passages = [_sentence(rng, vocab, cdf, 22, 26) for _ in range(10)]

    def decorate(content: list[str]) -> list[str]:
        lines = list(content)
        if rng.random() < p["boilerplate_line_rate"]:
            lines.insert(int(rng.integers(0, len(lines) + 1)), boiler[int(rng.integers(0, 20))])
        if rng.random() < p["menu_line_rate"]:
            lines.insert(0, menus[int(rng.integers(0, 20))])
        return lines

    docs: list[tuple[list[str], list[str]]] = []  # (content lines, all lines)
    low_quality: list[int] = []
    for i in range(p["n_originals"]):
        if rng.random() < p["low_quality_rate"]:
            content = [_render(_sentence(rng, vocab, cdf, 6, 10)) for _ in range(2)]
            low_quality.append(i)
        else:
            # 12-18 words per line: one mid-line mutation per line keeps
            # every unmutated run of a near copy under 20 tokens
            content = [
                _render(_sentence(rng, vocab, cdf, 12, 18))
                for _ in range(int(rng.integers(5, 8)))
            ]
            if rng.random() < p["shared_passage_rate"]:
                pre = _sentence(rng, vocab, cdf, 3, 3)
                content.append(_render(pre + passages[int(rng.integers(0, 10))]))
            if rng.random() < p["repeated_line_rate"]:
                content.append(content[int(rng.integers(0, len(content)))])
        docs.append((content, decorate(content)))

    good = [i for i in range(p["n_originals"]) if i not in set(low_quality)]
    n_exact = int(p["n_originals"] * p["exact_copy_rate"])
    n_near = int(p["n_originals"] * p["near_copy_rate"])
    exact_src = rng.choice(good, size=n_exact)
    near_src = rng.choice(good, size=n_near)
    texts = ["\n".join(lines) for _, lines in docs]
    groups: dict[int, list[int]] = {}
    exact_groups: dict[int, list[int]] = {}
    for s in exact_src:
        s = int(s)
        t = texts[s]
        if rng.random() < 0.5:
            t = t.upper()
        t = t.replace(" ", "  ", int(rng.integers(0, 4)))
        groups.setdefault(s, [s]).append(len(texts))
        exact_groups.setdefault(s, [s]).append(len(texts))
        texts.append(t)
    for s in near_src:
        s = int(s)
        lines = []
        for line in docs[s][0]:
            w = line[:-1].split(" ")
            mid = len(w) // 2 + int(rng.integers(-1, 2))
            w[mid] = vocab[int(rng.integers(0, len(vocab)))]
            lines.append(_render(w))
        groups.setdefault(s, [s]).append(len(texts))
        texts.append("\n".join(decorate(lines)))
    # shuffle ids so copies are not simply the highest ids
    perm = rng.permutation(len(texts)).astype(np.int64)
    ids = perm  # row i carries id perm[i]
    remap = {i: int(perm[i]) for i in range(len(texts))}
    revised = np.sort(rng.choice(len(texts), size=int(len(texts) * p["revision_rate"]),
                                 replace=False))
    versions = np.ones(len(texts), dtype=np.int32)
    versions[revised] = 2
    drafts = [(remap[int(i)], "\n".join(_render(_sentence(rng, vocab, cdf, 12, 18))
                                        for _ in range(int(rng.integers(3, 6)))))
              for i in revised]
    return CurationInputs(
        p,
        ids,
        texts,
        [[remap[m] for m in g] for g in groups.values()],
        [[remap[m] for m in g] for g in exact_groups.values()],
        {remap[i] for i in low_quality},
        versions,
        drafts,
    )


# --- ingest -------------------------------------------------------------


@dataclass
class IngestInputs:
    params: dict
    base_ids: np.ndarray
    base_texts: list[str]
    base_vectors: np.ndarray  # float32 (n, dim)


class IngestRounds:
    """Landing batches, one round at a time. Each round holds new
    documents, revisions of earlier doc_ids and copies of text the
    collection already holds; doc_ids and versions continue across
    rounds so later rounds revise earlier ones."""

    def __init__(self, seed: int, inputs: IngestInputs):
        self.p = inputs.params
        self.rng = rng_for(seed, "ingest-rounds")
        self.vocab = vocabulary(seed)
        self.cdf = zipf_cdf(len(self.vocab), s=0.8)
        self.next_id = int(inputs.base_ids.max()) + 1
        self.version = {int(i): 1 for i in inputs.base_ids}
        # copies are drawn from the base documents, which every round's
        # index holds
        self.base_texts = inputs.base_texts

    def _text(self) -> str:
        r = self.rng
        return "\n".join(
            _render(_sentence(r, self.vocab, self.cdf, 8, 14))
            for _ in range(int(r.integers(2, 5)))
        )

    def next_round(self, n_files: int, rows_per_file: int) -> list[dict]:
        """``n_files`` column dicts (doc_id, version, text, embedding)."""
        r, p = self.rng, self.p
        known = np.array(sorted(self.version), dtype=np.int64)
        files = []
        fresh: list[str] = []
        for _ in range(n_files):
            cols = {"doc_id": [], "version": [], "text": [], "embedding": []}
            for _ in range(rows_per_file):
                u = r.random()
                if u < p["revision_rate"]:
                    did = int(known[int(r.integers(0, len(known)))])
                    self.version[did] += 1
                    text = self._text()
                elif u < p["revision_rate"] + p["indexed_copy_rate"]:
                    did = self.next_id
                    self.next_id += 1
                    self.version[did] = 1
                    src = self.base_texts[int(r.integers(0, len(self.base_texts)))]
                    text = src.upper() if r.random() < 0.5 else src
                elif fresh and u < (p["revision_rate"] + p["indexed_copy_rate"]
                                    + p["in_stream_copy_rate"]):
                    did = self.next_id
                    self.next_id += 1
                    self.version[did] = 1
                    text = fresh[int(r.integers(0, len(fresh)))]
                else:
                    did = self.next_id
                    self.next_id += 1
                    self.version[did] = 1
                    text = self._text()
                    fresh.append(text)
                cols["doc_id"].append(did)
                cols["version"].append(self.version[did])
                cols["text"].append(text)
                cols["embedding"].append(
                    r.normal(0.0, 1.0, size=p["dim"]).astype(np.float32)
                )
            files.append(cols)
        return files


def ingest_inputs(seed: int, params: dict = INGEST) -> IngestInputs:
    p = dict(params)
    rng = rng_for(seed, "ingest")
    vocab = vocabulary(seed)
    cdf = zipf_cdf(len(vocab), s=0.8)
    n = p["n_base_docs"]
    texts = [
        "\n".join(_render(_sentence(rng, vocab, cdf, 8, 14)) for _ in range(int(rng.integers(2, 5))))
        for _ in range(n)
    ]
    vecs = rng.normal(0.0, 1.0, size=(n, p["dim"])).astype(np.float32)
    return IngestInputs(p, np.arange(n, dtype=np.int64), texts, vecs)
