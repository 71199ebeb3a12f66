"""Bloom-prefiltered exact decontamination.

``decontaminate_ngram_hits`` (operators/dedup.py) broadcasts the
benchmark's DISTINCT n-gram *strings* to every executor. Eval suites
are small, but "small" for a serious contamination sweep (every public
benchmark, dev and test, all templates) can still be tens of GBs of
13-gram strings — too big to broadcast comfortably at 1000 executors.
The classic fix (Bloom 1970; used by Spark's own runtime row-level
filtering) is to broadcast a *bitmap* instead: ~2 bytes per gram at a
0.1% false-positive rate, two orders of magnitude smaller than the
strings, and test membership map-side. False positives are then
removed by an exact join whose left side is only the survivors — so
the OUTPUT is exactly the published GPT-3 §C / PaLM rule, bit-for-bit
the same as ``decontaminate_ngram_hits``; the bloom stage only changes
*where the bytes move*.

Physical shape, stage by stage (all sizes per 100 TB corpus):

1. **Build** — the benchmark side explodes its grams to ``k`` bit
   positions and ``bit_or``-folds them per 64-bit word:
   ``groupBy(word_index).agg(bit_or(mask))``. Distributed, partial-
   aggregated map-side; the result is at most ``num_bits / 64`` rows
   (the bitmap), never the gram count, so the build scales to any
   benchmark size with constant output.
2. **Prefilter** — the corpus explodes its grams once and runs ``k``
   *progressive* broadcast joins against the bitmap-words table, each
   followed immediately by the bit test: a gram whose first probe
   misses dies before probe two is joined, so the common case (no hit)
   costs ~1 broadcast-hash-probe per gram, all inside one map stage —
   the corpus never shuffles here.
3. **Verify** — survivors (true hits + fpp × corpus grams, i.e. a few
   billion rows at fpp 1e-3, not trillions) join the exact gram
   strings on a SHUFFLE: both sides exchange on the gram key, but the
   left side is now tiny. This is the step that buys exactness back.
4. **Apply** — contaminated ids (bounded by the corpus doc count, in
   practice a small fraction) broadcast anti-join the corpus.

Reference parity: the reference has no decontamination surface at all
(R/tidyvec has no corpus ops); this extends the engine's curation
stack per the published recipes, next to
``decontaminate_fuzzy``/``decontaminate_ngram_hits``.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tidyvec_spark.functions.text import ngrams

__all__ = ["bloom_bitmap_words", "bloom_maybe_contains", "decontaminate_bloom"]


def _positions(gram: Column, num_bits: int, k: int) -> list[Column]:
    """``k`` bit positions per gram: xxhash64 seeded by probe index
    (xxhash64 is a stable JVM-side hash; the seed column makes the k
    probes independent), folded into [0, num_bits)."""
    return [
        F.pmod(F.xxhash64(gram, F.lit(i)), F.lit(int(num_bits)))
        for i in range(int(k))
    ]


def bloom_bitmap_words(
    grams: DataFrame,
    gram_col: str,
    num_bits: int,
    k: int,
) -> DataFrame:
    """Distributed bloom build: (word_index ``__wi``, 64-bit word
    ``__w``) with every gram's ``k`` probe bits set. Output is at most
    ``num_bits / 64`` rows regardless of input size — the aggregation
    is the bitmap."""
    g = F.col(gram_col)
    pos = F.explode(F.array(*_positions(g, num_bits, k))).alias("__p")
    return (
        grams.select(pos)
        .select(
            F.expr("__p DIV 64").alias("__wi"),
            F.expr("shiftleft(1L, cast(__p % 64 AS int))").alias("__m"),
        )
        .groupBy("__wi")
        .agg(F.bit_or("__m").alias("__w"))
    )


def bloom_maybe_contains(
    df: DataFrame,
    gram_col: str,
    words: DataFrame,
    num_bits: int,
    k: int,
) -> DataFrame:
    """Keep only rows whose ``gram_col`` MAY be in the bloom filter
    (all ``k`` probe bits set). Progressive: one broadcast join + bit
    test per probe, so rows die at their first missing bit and later
    probes only touch survivors. No shuffle of ``df``."""
    out = df
    for i in range(int(k)):
        p = F.pmod(F.xxhash64(F.col(gram_col), F.lit(i)), F.lit(int(num_bits)))
        out = (
            out.withColumn("__p", p)
            .withColumn("__wi", F.expr("__p DIV 64"))
            .join(F.broadcast(words), "__wi", "left")
            .filter(
                F.col("__w").isNotNull()
                & (
                    F.col("__w").bitwiseAND(
                        F.expr("shiftleft(1L, cast(__p % 64 AS int))")
                    )
                    != 0
                )
            )
            .drop("__p", "__wi", "__w")
        )
    return out


def decontaminate_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 13,
    num_bits: Optional[int] = None,
    k: int = 4,
) -> DataFrame:
    """Drop every corpus document sharing at least one exact token
    ``n``-gram with any benchmark document — IDENTICAL output to
    ``decontaminate_ngram_hits(min_hits=1)``, with the benchmark gram
    broadcast replaced by a bloom bitmap prefilter (see module
    docstring for the staging).

    ``num_bits`` defaults to ~14.4 bits per distinct benchmark gram
    (fpp ≈ 1e-3 at ``k=4``); sizing it costs one count over the small
    side. The bitmap-words broadcast is ``num_bits / 8`` bytes total.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark import StorageLevel

    # both small-side artifacts are referenced k+1 times (one per
    # probe + the verify join) — persist so the benchmark is read and
    # the bitmap aggregated ONCE, not once per probe
    bench_grams = (
        benchmark.select(F.explode(ngrams(text_col, n)).alias("__g"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if num_bits is None:
        n_grams = bench_grams.count()
        num_bits = max(1024, int(math.ceil(n_grams * 14.4)))
    words = bloom_bitmap_words(bench_grams, "__g", num_bits, k).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    corpus_grams = corpus.select(
        F.col(id_col).alias("__cid"),
        F.explode(ngrams(text_col, n)).alias("__g"),
    )
    candidates = bloom_maybe_contains(corpus_grams, "__g", words, num_bits, k)
    # exact verify: survivors are few, so this shuffle's left side is
    # bloom-sized, not corpus-sized; the semi join removes every false
    # positive and makes the output exact.
    contaminated = (
        candidates.join(bench_grams, "__g", "left_semi")
        .select("__cid")
        .distinct()
    )
    out = corpus.join(
        F.broadcast(contaminated),
        corpus[id_col] == F.col("__cid"),
        "left_anti",
    )
    out._tidyvec_persisted = [bench_grams, words]
    return out
