"""Product quantization (PQ) — memory-compressed approximate search.

Not in the reference (its corpus is in-memory and uncompressed); this
is the third leg of the ANN ladder (operators/ann.py: hyperplane LSH,
IVF) and the standard 100 TB answer to "the embedding column dominates
scan bytes": a d-dim float vector (d·4 bytes) becomes ``m`` uint8
codes (m bytes — 32× smaller at d=64, m=8), and query scoring reads
ONLY the code column via per-subspace lookup tables, never the
original vectors (Jégou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011).

Spark shape, each stage:

- **encode** (map-side, no shuffle): per subspace ``j``, the code is
  the argmin of squared L2 between the row's sub-vector and the
  subspace codebook — a literal-projection argmin (array_min over
  (rounded distance, code) structs; struct ordering gives the
  deterministic smallest-code tiebreak) for tiny codebooks, the BLAS
  batch argmin of ``ivf_assign`` past them.
  One scan produces the code column; persist it and the wide vector
  column never needs to be read again for approximate queries.
- **ADC top-k** (map-side + TakeOrderedAndProject): the query builds
  ``m`` lookup tables of ``ks`` distances DRIVER-side (pure Python,
  O(m·ks·dsub) — microseconds), ships them as array literals, and the
  approximate distance is ``sum_j lut_j[code_j]`` — ``m`` element_at
  calls per row, no vector arithmetic at all. Exact re-ranking of the
  top candidates (against the stored vectors) composes on top when
  recall demands it.

Determinism: codebooks are explicit data (list[m][ks][dsub]); given
the same codebooks both stages are pure functions, so DuckDB
reproduces them bit-for-bit (rounded at the same digits) and the
driver oracle hash-checks both.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tidyvec_spark.functions.vector import array_lit
from tidyvec_spark.operators.ann import l2sq_expr


def pq_codebooks_from_rows(
    vectors: Sequence[Sequence[float]], m: int
) -> list[list[list[float]]]:
    """Deterministic codebooks: split each seed vector into ``m``
    sub-vectors; seed i becomes code i of every subspace. Production
    fits per-subspace k-means instead (``pyspark.ml`` on the sliced
    column); the operator contract only needs *some* fixed codebooks.
    """
    if not vectors:
        raise ValueError("need at least one seed vector")
    d = len(vectors[0])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return [
        [[float(x) for x in vec[j * dsub:(j + 1) * dsub]] for vec in vectors]
        for j in range(m)
    ]


def pq_encode_expr(
    emb_col, codebooks: Sequence[Sequence[Sequence[float]]], round_to: int = 6
) -> Column:
    """``array<int>`` of ``m`` codes — pure projection, zero shuffle."""
    col = F.col(emb_col) if isinstance(emb_col, str) else emb_col
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    codes = []
    for j, book in enumerate(codebooks):
        sub = F.slice(col, j * dsub + 1, dsub)
        best = F.array_min(
            F.array(
                *[
                    F.struct(
                        F.round(l2sq_expr(sub, array_lit(cent)), round_to).alias("d"),
                        F.lit(c).alias("c"),
                    )
                    for c, cent in enumerate(book)
                ]
            )
        )
        codes.append(best["c"])
    return F.array(*codes)


# the literal argmin expression is m·ks interpreted L2 folds per row —
# fine for tiny codebooks, but past this many total codebook floats the
# BLAS batch encoder is an order of magnitude faster (measured at
# sf0.1: 7.9 s literal vs <1 s pandas for m=8, ks=16, d=64)
LITERAL_ENCODE_MAX_FLOATS = 256


def pq_encode(
    df: DataFrame,
    emb_col: str,
    codebooks: Sequence[Sequence[Sequence[float]]],
    code_col: str = "pq_code",
    round_to: int = 6,
    strategy: str = "auto",
) -> DataFrame:
    """Attach the PQ code column. At 100 TB, write (id, pq_code) as its
    own narrow table/column family: approximate scans then read m bytes
    per row instead of d·4.

    Two physical strategies, one semantic:

    - ``literal`` — pure-projection argmin expression; zero Python but
      the per-subspace L2 folds evaluate interpreted, so cost grows
      with m·ks·dsub.
    - ``pandas`` — the codebooks ship once per executor inside a
      ``mapInPandas`` closure; each Arrow batch computes one
      ``‖x‖²+‖c‖²−2·XCᵀ`` BLAS block per subspace and takes the row
      argmin (numpy first-minimum == smallest-code tiebreak, matching
      the literal path's struct ordering on rounded distance).
    - ``auto`` — ``literal`` only while the codebooks stay tiny.

    Both strategies are map-side only: no shuffle, encode parallelism
    is scan parallelism.
    """
    n_floats = sum(len(b) * len(b[0]) for b in codebooks)
    if strategy == "auto":
        strategy = "literal" if n_floats <= LITERAL_ENCODE_MAX_FLOATS else "pandas"
    if strategy == "literal":
        # NULL embedding -> NULL code (not an arbitrary struct-min
        # pick through NULL distance fields) — strategy parity with
        # the pandas path below
        return df.withColumn(
            code_col,
            F.when(
                F.col(emb_col).isNotNull(),
                pq_encode_expr(emb_col, codebooks, round_to),
            ),
        )
    if strategy != "pandas":
        raise ValueError(f"strategy must be auto|literal|pandas, got {strategy!r}")

    import numpy as np
    from pyspark.sql import types as T

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    b2 = [(B * B).sum(axis=1) for B in books]
    nd = int(round_to)
    out_schema = T.StructType(
        df.schema.fields
        + [T.StructField(code_col, T.ArrayType(T.IntegerType(), False), True)]
    )
    emb = emb_col

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf.copy()
            # NULL embedding -> NULL code (engine NULL law; vstack
            # over a batch containing None would otherwise raise)
            mask = pdf[emb].notna().to_numpy()
            col = [None] * len(pdf)
            if mask.any():
                X = np.vstack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[emb][mask]]
                )
                codes = np.empty((int(mask.sum()), m), dtype=np.int32)
                for j in range(m):
                    Xj = X[:, j * dsub:(j + 1) * dsub]
                    d2 = (
                        (Xj * Xj).sum(axis=1)[:, None]
                        + b2[j][None, :]
                        - 2.0 * (Xj @ books[j].T)
                    )
                    codes[:, j] = np.argmin(np.round(d2, nd), axis=1)
                for i, row in zip(np.flatnonzero(mask), codes):
                    col[i] = row.tolist()
            out[code_col] = col
            yield out

    return df.mapInPandas(encode, schema=out_schema)


def pq_adc_luts(
    query_vec: Sequence[float],
    codebooks: Sequence[Sequence[Sequence[float]]],
    round_to: int = 6,
) -> list[list[float]]:
    """Driver-side asymmetric-distance lookup tables:
    ``lut[j][c] = round(||query_sub_j - codebook[j][c]||², round_to)``."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    luts = []
    for j in range(m):
        q = [float(x) for x in query_vec[j * dsub:(j + 1) * dsub]]
        luts.append(
            [
                round(sum((a - b) * (a - b) for a, b in zip(q, cent)), round_to)
                for cent in codebooks[j]
            ]
        )
    return luts


def pq_adc_topk(
    df: DataFrame,
    code_col: str,
    id_col: str,
    query_vec: Sequence[float],
    codebooks: Sequence[Sequence[Sequence[float]]],
    k: int = 10,
    round_to: Optional[int] = 6,
    dist_col: str = "adc_dist",
) -> DataFrame:
    """Approximate top-k over the CODE column only: per row, ``m``
    lookup-table reads and a sum — the stored vectors are never
    touched (column pruning drops them at the scan). Ends in
    TakeOrderedAndProject. Returns (id, adc_dist) ascending.

    NULL codes (pq_encode's law for NULL embeddings) are excluded —
    a row with no code has no distance and must never rank (a NULL
    index into the LUT would otherwise fabricate one)."""
    luts = pq_adc_luts(
        query_vec, codebooks, round_to=round_to if round_to is not None else 6
    )
    dist = None
    for j, lut in enumerate(luts):
        term = F.element_at(array_lit(lut), F.element_at(F.col(code_col), j + 1) + 1)
        dist = term if dist is None else dist + term
    if round_to is not None:
        dist = F.round(dist, round_to)
    return (
        df.filter(F.col(code_col).isNotNull())
        .withColumn(dist_col, dist)
        .orderBy(F.asc(dist_col), F.asc(id_col))
        .limit(int(k))
        .select(id_col, dist_col)
    )


def ivfpq_encode(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    cent_col: str = "centroid_id",
    code_col: str = "pq_code",
    round_to: int = 6,
) -> DataFrame:
    """IVFADC index build (Jégou et al., TPAMI 2011): assign each vector
    to its nearest centroid, then PQ-encode the RESIDUAL ``x − c`` —
    residuals concentrate near zero, so the same codebook budget buys
    far lower quantization error than encoding raw vectors.

    One fused ``mapInPandas`` kernel per Arrow batch: a BLAS block for
    the centroid argmin, a subtract for the residual, and one BLAS
    block per subspace for the codes. Map-side only — no shuffle; at
    100 TB this is a single scan that produces the (centroid, codes)
    narrow index, ideally written partitioned by ``cent_col`` so probed
    queries prune partitions.

    Ties everywhere: rounded distance, then smallest centroid/code id
    (numpy first-minimum), matching the SQL oracle's row_number order.
    """
    import numpy as np
    from pyspark.sql import types as T

    C = np.asarray([[float(x) for x in c] for c in centroids], dtype=np.float64)
    if C.ndim != 2 or not len(C):
        raise ValueError("centroids must be a non-empty list of vectors")
    c2 = (C * C).sum(axis=1)
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    b2 = [(B * B).sum(axis=1) for B in books]
    nd = int(round_to)
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField(cent_col, T.IntegerType(), False),
            T.StructField(code_col, T.ArrayType(T.IntegerType(), False), False),
        ]
    )
    emb, idc = emb_col, id_col

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            # NULL embeddings cannot be indexed (engine NULL law): the
            # index row simply doesn't exist, like a NULL key in any
            # other index build — and vstack would otherwise raise
            pdf = pdf[pdf[emb].notna()]
            if len(pdf) == 0:
                continue
            X = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf[emb]])
            d2 = (X * X).sum(axis=1)[:, None] + c2[None, :] - 2.0 * (X @ C.T)
            cid = np.argmin(np.round(d2, nd), axis=1)
            R = X - C[cid]
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for j in range(m):
                Rj = R[:, j * dsub:(j + 1) * dsub]
                dd = (
                    (Rj * Rj).sum(axis=1)[:, None]
                    + b2[j][None, :]
                    - 2.0 * (Rj @ books[j].T)
                )
                codes[:, j] = np.argmin(np.round(dd, nd), axis=1)
            yield pd.DataFrame(
                {
                    idc: pdf[idc].to_numpy(),
                    cent_col: cid.astype("int32"),
                    code_col: [row.tolist() for row in codes],
                }
            )

    return df.mapInPandas(encode, schema=out_schema)


def ivfpq_adc_topk(
    codes: DataFrame,
    id_col: str,
    query_vec: Sequence[float],
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    nprobe: int = 4,
    k: int = 10,
    cent_col: str = "centroid_id",
    code_col: str = "pq_code",
    round_to: Optional[int] = 6,
    dist_col: str = "adc_dist",
) -> DataFrame:
    """Probed approximate top-k over the IVFADC index: pick the
    ``nprobe`` centroids nearest the query (driver-side — k distances),
    build one residual lookup table per probed centroid (the query
    residual differs per list), and scan ONLY rows whose centroid is
    probed: a pushable ``IN`` filter (partition pruning when the index
    is written partitioned by centroid) + per-row ``m`` table lookups
    selected by a CASE over the probed lists, ending in
    TakeOrderedAndProject. Returns (id, adc_dist) ascending."""
    from tidyvec_spark.operators.ann import _ivf_probes

    nd = round_to if round_to is not None else 6
    C = [[float(x) for x in c] for c in centroids]
    q = [float(x) for x in query_vec]
    probes = _ivf_probes(q, C, nprobe, nd)
    luts = {
        i: pq_adc_luts([a - b for a, b in zip(q, C[i])], codebooks, round_to=nd)
        for i in probes
    }

    def list_dist(lut):
        d = None
        for j, t in enumerate(lut):
            term = F.element_at(
                array_lit(t), F.element_at(F.col(code_col), j + 1) + 1
            )
            d = term if d is None else d + term
        return d

    dist = None
    for i in probes:
        branch = list_dist(luts[i])
        dist = (
            F.when(F.col(cent_col) == i, branch)
            if dist is None
            else dist.when(F.col(cent_col) == i, branch)
        )
    out = F.round(dist, round_to) if round_to is not None else dist
    return (
        codes.filter(F.col(cent_col).isin([int(i) for i in probes]))
        .withColumn(dist_col, out)
        .orderBy(F.asc(dist_col), F.asc(id_col))
        .limit(int(k))
        .select(id_col, dist_col)
    )


def pq_reconstruction_err_expr(
    emb_col,
    codebooks: Sequence[Sequence[Sequence[float]]],
    round_to: int = 6,
) -> Column:
    """Per-row L2 reconstruction error of the PQ approximation —
    the eval companion of :func:`pq_adc_topk` (ann_rank_quality's
    pattern applied to quantization): how far the decoded vector sits
    from the original, the number that justifies (or indicts) the
    32× code compression for a given codebook budget.

    Because the subspaces partition the dimensions,
    ``l2(x, decode(encode(x)))² = Σ_j l2(x_j, c_j)²`` where ``c_j`` is
    the chosen codeword — so the expression is just the MIN (rounded)
    subspace distance per codebook, summed in fixed subspace order and
    square-rooted, sharing the encoder's argmin law by construction.
    Pure codegen projection; NULL embeddings yield NULL.

    With a STRING column name the expression tree is built as one SQL
    text parsed JVM-side: the per-centroid Column-builder loop
    (m·ks·dsub py4j round trips, ~7 s of driver time for an 8×16×8
    budget) costs more than executing the query (r14, guide §7.3 —
    plan construction as the bottleneck). The SQL form is the
    IDENTICAL tree — same slice/zip_with/aggregate fold, same
    CAST-to-double lambda, same per-centroid round — with double
    literals emitted as correctly-rounded CAST('repr' AS DOUBLE), so
    results are bit-equal (pinned by pytest and verified against the
    Column path on the full fixture). A Column input falls back to
    the Column builder."""
    dsub = len(codebooks[0][0])
    if isinstance(emb_col, str):
        terms = []
        for j, book in enumerate(codebooks):
            dists = []
            for cent in book:
                arr = ", ".join(
                    f"CAST('{float(c)!r}' AS DOUBLE)" for c in cent
                )
                dists.append(
                    f"round(aggregate(zip_with("
                    f"slice({emb_col}, {j * dsub + 1}, {dsub}), "
                    f"array({arr}), (x, y) -> "
                    f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
                    f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
                    f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x), "
                    f"{int(round_to)})"
                )
            terms.append(f"array_min(array({', '.join(dists)}))")
        return F.expr(f"SQRT({' + '.join(terms)})")
    col = emb_col
    total = None
    for j, book in enumerate(codebooks):
        sub = F.slice(col, j * dsub + 1, dsub)
        best = F.array_min(
            F.array(
                *[
                    F.round(l2sq_expr(sub, array_lit(cent)), round_to)
                    for cent in book
                ]
            )
        )
        total = best if total is None else total + best
    return F.sqrt(total)
