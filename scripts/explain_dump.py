#!/usr/bin/env python
"""Dump normalised ``explain("formatted")`` text for registry entries.

Usage: python scripts/explain_dump.py <out_dir> <suffix> [name ...]

Writes ``<out_dir>/<name>_<suffix>.txt`` for each named entry, or for
every registry entry when none are named, built at $SPARK_GRAFT_SF_DIR
(default sf0.1) on the bench session (``bench.session``) with AQE off:
an un-executed AdaptiveSparkPlan hides the operator details this dump
exists to show. Expression ids (``#123``), ``plan_id=`` values, RDD ids,
the random names of ``tempfile.mkdtemp`` staging dirs and the numbers
of lambda variables (``lambda x_1141``, from a process-wide PySpark
counter) are replaced by placeholders, so two checkouts that build the
same plans write byte-identical files. The script imports the registry
of the checkout it sits in, and Spark's Python workers import
``tidyvec_spark`` from the working directory: run a copy from the root
of each checkout and ``diff -r`` the two output directories.
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_VOLATILE = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\s\],]+"), "TMPDIR"),
    (re.compile(r"lambda (\w+)_\d+\b"), r"lambda \1_N"),
)


def normalise(text: str) -> str:
    for pattern, placeholder in _VOLATILE:
        text = pattern.sub(placeholder, text)
    return text


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entry
    from bench import cleanup, session

    spark = session("explain_dump")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    qs = entry.queries()
    for name in names or list(qs):
        try:
            df = qs[name](spark, SF_DIR)
            buf = io.StringIO()
            stdout, sys.stdout = sys.stdout, buf
            try:
                df.explain("formatted")
            finally:
                sys.stdout = stdout
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(normalise(buf.getvalue()))
            print(f"wrote {path}")
        except Exception as exc:  # noqa: BLE001
            print(f"FAILED {name}: {exc}")
        cleanup(spark)
    spark.stop()


if __name__ == "__main__":
    main()
