"""Vector math over ``array<float>`` columns as native Spark SQL expressions.

These are the similarity kernels of the engine — the Spark re-expression
of the reference's per-row R loops (reference R/core.R:267-292). They
compile to Catalyst higher-order functions (``zip_with`` + ``aggregate``)
and stay JVM-side, so they distribute and pipeline with the surrounding
scan/filter/top-k without any Python boundary. Those higher-order
functions have no generated code (``CodegenFallback``): inside a
whole-stage-codegen stage each fold is evaluated by the interpreter,
row by row. One fold per row against one query vector is cheap; k folds
per row (a nearest-centroid argmin) are not, which is why
:func:`tidyvec_spark.operators.ann.ivf_assign` computes its distances
as one numpy BLAS block per Arrow batch instead.

All kernels accumulate in ``double`` regardless of the storage element
type (``float``), so results are reproducible against a DuckDB oracle
computing the same fold in double precision.

Semantics parity notes (vs the reference):
- cosine:     sum(a*b) / (sqrt(sum(a^2)) * sqrt(sum(b^2)))   (R/core.R:269-271)
- euclidean:  1 / (1 + sqrt(sum((a-b)^2)))  — the reference maps the
              distance into a (0,1] *similarity* so thresholds and
              descending sort are uniform across methods (R/core.R:272-274)
- dot:        sum(a*b)                                        (R/core.R:275-277)
"""

from __future__ import annotations

from typing import Iterable, Sequence, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]

METHODS = ("cosine", "euclidean", "dot")


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def array_lit(values: Sequence[float]) -> Column:
    """A literal ``array<double>`` column from a Python sequence.

    Used to inject a (driver-side) query vector into a distributed
    expression. The literal folds into the plan as a constant; it is
    shipped once per task, not per row.
    """
    return F.array(*[F.lit(float(v)) for v in values])


def dot_expr(a: ColumnOrName, b: ColumnOrName) -> Column:
    """sum(a_i * b_i), accumulated in double precision, JVM-side."""
    a, b = _col(a), _col(b)
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm_expr(a: ColumnOrName) -> Column:
    """sqrt(sum(a_i^2)) in double precision."""
    a = _col(a)
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine_sim_expr(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Cosine similarity (reference R/core.R:269-271).

    Zero-norm vectors score 0.0 — a documented divergence from the
    reference (where 0/0 yields NaN): Spark 4 runs ANSI SQL mode by
    default and a NaN score is useless for thresholding anyway. The
    DuckDB oracle uses the same CASE guard.
    """
    denom = l2_norm_expr(a) * l2_norm_expr(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot_expr(a, b) / denom)


def euclidean_sim_expr(a: ColumnOrName, b: ColumnOrName) -> Column:
    """1/(1+euclidean_distance) similarity transform (R/core.R:272-274)."""
    a, b = _col(a), _col(b)
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    dist = F.sqrt(F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x))
    return F.lit(1.0) / (F.lit(1.0) + dist)


def l2_normalize_expr(a: ColumnOrName) -> Column:
    """a / ||a||_2 — the embed-time normalization invariant the reference
    applies in every HF embedder branch (R/embedders.R:56,85,123,133,184,
    230,267,309). Stored normalized, cosine reduces to dot at query time.

    Zero vectors pass through unchanged (ANSI mode would otherwise raise
    DIVIDE_BY_ZERO), matching the score-0 convention of the similarity
    kernels.
    """
    a = _col(a)
    nrm = l2_norm_expr(a)
    return F.when(nrm == 0.0, F.transform(a, lambda x: x.cast("double"))).otherwise(
        F.transform(a, lambda x: x.cast("double") / nrm)
    )


def matryoshka_expr(a: ColumnOrName, dims: int, renormalize: bool = True) -> Column:
    """Truncate a Matryoshka-trained embedding to its leading ``dims``
    coordinates and (by default) re-normalize — MRL inference-time
    shortening (Kusupati et al. 2022): nested prefixes of an MRL vector
    are themselves valid embeddings, so storage/scan cost scales down
    linearly with a controlled recall trade. Pure ``slice`` projection,
    codegen-side, zero Python — shortening 100 TB of vectors is one
    scan."""
    if int(dims) < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    cut = F.slice(_col(a), 1, int(dims))
    return l2_normalize_expr(cut) if renormalize else cut


def embedding_stats_expr(a: ColumnOrName) -> Column:
    """Struct of per-row embedding diagnostics (dim, l2 norm, min, max,
    NaN count) — the health check before/after an embed or quantize
    pass, one map-side projection."""
    a = _col(a)
    return F.struct(
        F.size(a).alias("dim"),
        l2_norm_expr(a).alias("l2_norm"),
        F.array_min(a).cast("double").alias("min_val"),
        F.array_max(a).cast("double").alias("max_val"),
        F.size(F.filter(a, lambda x: x.isNaN())).alias("n_nan"),
    )


def similarity_expr(
    a: ColumnOrName, b: ColumnOrName, method: str = "cosine"
) -> Column:
    """Dispatch on method name — the engine-side contract of the
    documented-but-unimplemented ``%~%`` operator (reference
    man/grapes-twiddle-grapes.Rd:1-22, NEWS.md:7).
    """
    if method == "cosine":
        return cosine_sim_expr(a, b)
    if method == "euclidean":
        return euclidean_sim_expr(a, b)
    if method == "dot":
        return dot_expr(a, b)
    raise ValueError(f"unknown similarity method {method!r}; expected one of {METHODS}")


def similarity(a: Sequence[float], b: Sequence[float], method: str = "cosine") -> float:
    """Scalar similarity of two vectors — the two-vector form of the
    documented ``%~%`` contract (man/grapes-twiddle-grapes.Rd:10-16).
    Pure driver-side arithmetic (no Spark job), same kernels semantics:
    zero-norm cosine scores 0.0, euclidean is 1/(1+d).
    """
    import math

    va = [float(x) for x in a]
    vb = [float(x) for x in b]
    if len(va) != len(vb):
        raise ValueError(f"dimension mismatch: {len(va)} vs {len(vb)}")
    if method == "dot":
        return sum(x * y for x, y in zip(va, vb))
    if method == "cosine":
        na = math.sqrt(sum(x * x for x in va))
        nb = math.sqrt(sum(y * y for y in vb))
        if na == 0.0 or nb == 0.0:
            return 0.0
        return sum(x * y for x, y in zip(va, vb)) / (na * nb)
    if method == "euclidean":
        d = math.sqrt(sum((x - y) * (x - y) for x, y in zip(va, vb)))
        return 1.0 / (1.0 + d)
    raise ValueError(f"unknown similarity method {method!r}; expected one of {METHODS}")


def keyword_score_expr(text_col: ColumnOrName, query_terms: Iterable[str]) -> Column:
    """Hybrid-search keyword score (reference R/core.R:295-309).

    Semantics: fraction of *distinct query terms* present in the row's
    whitespace-tokenized, lowercased text — membership, not frequency.
    NULL text scores 0.0.
    """
    terms = sorted({t.lower() for t in query_terms if t})
    if not terms:
        return F.lit(0.0)
    text_tokens = F.split(F.lower(_col(text_col)), r"\s+")
    terms_lit = F.array(*[F.lit(t) for t in terms])
    frac = F.size(F.array_intersect(text_tokens, terms_lit)).cast("double") / F.lit(
        float(len(terms))
    )
    return F.coalesce(frac, F.lit(0.0))
