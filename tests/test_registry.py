"""The registry is one ordered list of records; every view derives from it."""

import pytest

import __spark_entry__ as entry


def _noop(spark, sf_dir):
    return None


def test_duplicate_name_raises():
    with pytest.raises(ValueError, match="duplicate registry entry: 'a'"):
        entry.index([
            entry.Entry("a", _noop, "SELECT 1"),
            entry.Entry("b", _noop, None),
            entry.Entry("a", _noop, lambda: "SELECT 2"),
        ])


def test_views_follow_registry_order():
    import bench

    names = list(entry.REGISTRY)
    assert list(entry.queries()) == names
    assert list(entry.oracle_sql()) == [
        n for n in names if entry.REGISTRY[n].oracle is not None
    ]
    assert bench.BENCH_QUERIES == [n for n in names if entry.REGISTRY[n].bench]
