"""Signed-zero (-0.0) guard over the oracle corpus.

The driver's correctness gate hashes raw doubles, and IEEE zeros are
bit-different: DuckDB's ROUND preserves the sign of a tiny negative
that rounds to zero (-0.0) while Spark's F.round (BigDecimal HALF_UP)
always emits +0.0 — so any ROUND'd output column that can be
mathematically negative is one unlucky value away from a driver hash
fail with both engines numerically "equal" (the r12
embedding_covariance red row). The repo convention is to FOLD the
sign on both sides: ``ROUND(x, n) + 0.0`` in the DuckDB oracle and
``F.round(x, n) + F.lit(0.0)`` in Spark.

This test replays the RISK-BEARING query families (signed rounded
outputs: z-scores, PMI, PSI, Zipf slope, covariance/whitening, VMR,
bitext cosine sims, drift cosines) on BOTH engines at sf0.001 and
asserts no -0.0 survives in either output — the local preimage of the
driver's bit-sensitive hash for exactly the class
scripts/check_oracle.py was blind to through r12 (its canon folded
-0.0 == 0.0; it now distinguishes them AND flags any -0.0).
"""

import math
import os

import pytest

from scripts.check_oracle import TABLES, _has_negzero

SIGNED_OUTPUT_QUERIES = [
    "embedding_covariance",
    "embedding_whiten",
    "docs_quality_zscore",
    "token_pmi",
    "source_psi_drift",
    "docs_zipf_fit",
    "token_burstiness",
    "bitext_margin_pairs",
    "bitext_margin_best",
    "embedding_drift",
]


def _negzero_cells(rows):
    return [
        (i, j)
        for i, row in enumerate(rows)
        for j, v in enumerate(row)
        if _has_negzero(v)
    ]


@pytest.fixture(scope="module")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", SIGNED_OUTPUT_QUERIES)
def test_no_signed_zero_in_either_engine(spark, sf_dir, duck, name):
    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", sf_dir)
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert name in qs, f"{name} missing from queries()"
    assert name in oracles, f"{name} missing from oracle_sql()"

    s_rows = [tuple(r) for r in qs[name](spark, sf_dir).collect()]
    bad = _negzero_cells(s_rows)
    assert not bad, f"{name}: Spark emitted -0.0 at {bad[:5]}"

    d_rows = duck.sql(oracles[name]).fetchall()
    bad = _negzero_cells(d_rows)
    assert not bad, f"{name}: DuckDB oracle emitted -0.0 at {bad[:5]}"


def test_duckdb_round_keeps_sign_spark_drops_it(spark, duck):
    """Pin the ENGINE behaviors the folds exist for — if either engine
    changes, this fails and the fold convention should be revisited."""
    (v,) = duck.sql("SELECT ROUND(-1e-9, 4)").fetchone()
    assert v == 0.0 and math.copysign(1.0, v) < 0, "DuckDB ROUND changed"
    (f,) = duck.sql("SELECT ROUND(-1e-9, 4) + 0.0").fetchone()
    assert math.copysign(1.0, f) > 0, "the + 0.0 fold stopped working"

    from pyspark.sql import functions as F

    row = spark.range(1).select(
        F.round(F.lit(-1e-9), 4).alias("r"),
        (F.round(F.lit(-1e-9), 4) + F.lit(0.0)).alias("rf"),
    ).collect()[0]
    assert row["r"] == 0.0 and math.copysign(1.0, row["r"]) > 0, (
        "Spark F.round now preserves the zero sign — re-audit oracles"
    )
    assert math.copysign(1.0, row["rf"]) > 0
