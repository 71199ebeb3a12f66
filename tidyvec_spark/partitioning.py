"""Partitioning helpers — making tiny-file inputs behave like real scans.

On a production table (100 TB = tens of thousands of parquet splits) a
scan already yields at least one task per core; operators that run heavy
map-side expressions (minhash signatures, simhash bit votes, GEMM
blocks) inherit that parallelism for free. On a single small parquet
file Spark plans 1-2 input partitions and the same expression runs on
1-2 of N cores. ``ensure_parallelism`` is the guard: a round-robin
repartition *only when* an un-shuffled source (scan, local relation,
checkpointed RDD) has fewer partitions than the cluster has slots — a
no-op on real data, a 10-30x unlock on small files. The shuffled
payload is the raw input rows (pre-explosion, pre-signature), so the
exchange cost is bounded by input size.

A frame whose plan already shuffles (aggregate, join, window, sort,
repartition, ...) passes through untouched: its width is the shuffle's,
which AQE sizes at run time. The decision reads the analyzed logical
plan only, so it never runs a Spark job — asking a shuffled frame for
``rdd.getNumPartitions()`` under AQE would execute every upstream
shuffle stage just to count partitions.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame


# --- lineage cutting for iterative operators -------------------------
#
# pagerank / label propagation / connected components cut lineage every
# round so the analyzer never re-walks an O(rounds)-deep plan. Locally
# `localCheckpoint` is the right tool (same storage as persist, O(1)
# plan) — but its blocks live ONLY in executor storage with lineage
# truncated, so on a real preemptible cluster one lost executor
# mid-iteration kills the job unrecoverably. `use_reliable_checkpoints`
# is the production escape hatch: point it at a durable directory
# (HDFS/object store) and every iterative lineage cut becomes a
# reliable `checkpoint` instead. Results are identical either way;
# only fault tolerance of the intermediates changes.
_RELIABLE_CHECKPOINT_DIR: Optional[str] = None


def use_reliable_checkpoints(directory: Optional[str]) -> None:
    """Route iterative operators' lineage cuts through reliable
    ``DataFrame.checkpoint`` into ``directory`` (must be durable
    storage on a real cluster). Pass ``None`` to return to the local
    default (``localCheckpoint``). The Spark checkpoint dir is set
    lazily on first use so the knob can be flipped before any session
    exists."""
    global _RELIABLE_CHECKPOINT_DIR
    _RELIABLE_CHECKPOINT_DIR = directory


def cut_lineage(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate ``df``'s lineage: ``localCheckpoint`` by default,
    reliable ``checkpoint`` when :func:`use_reliable_checkpoints` has
    been pointed at a durable directory."""
    if _RELIABLE_CHECKPOINT_DIR is not None:
        sc = df.sparkSession.sparkContext
        current = sc.getCheckpointDir()
        if current is None or _RELIABLE_CHECKPOINT_DIR not in current:
            sc.setCheckpointDir(_RELIABLE_CHECKPOINT_DIR)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


# Logical operators whose physical form always ends in an exchange (or
# a broadcast). A join counts either way: its width is the join
# strategy's, which AQE picks at run time, and probing a broadcast
# join's partition count would run the broadcast.
_SHUFFLING_NODES = frozenset(
    {
        "Aggregate",
        "Window",
        "Join",
        "Deduplicate",
        "DeduplicateWithinWatermark",
        "Distinct",
        "Intersect",
        "Except",
        "RepartitionByExpression",
        "RebalancePartitions",
        "GlobalLimit",
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
        "FlatMapGroupsInPandasWithState",
    }
)


def _is_shuffled(node) -> bool:
    name = node.nodeName()
    if name in _SHUFFLING_NODES:
        return True
    if name == "Sort":
        return bool(getattr(node, "global")())  # orderBy, not sortWithinPartitions
    if name == "Repartition":
        return bool(node.shuffle())
    return False


def _has_shuffle(df: DataFrame) -> bool:
    """Whether ``df``'s analyzed logical plan contains an operator that
    shuffles. Reads the plan only (no optimization, no physical
    planning, no job); a cached frame's lineage is still visible in
    the analyzed plan, so a shuffle inside a cached relation counts.
    Stops at the first shuffling node, searching from the top."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        if _is_shuffled(node):
            return True
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


def ensure_parallelism(df: DataFrame, min_partitions: Optional[int] = None) -> DataFrame:
    """Repartition an un-shuffled ``df`` up to ``min_partitions``
    (default: the session's ``sparkContext.defaultParallelism``) iff it
    currently has fewer. Never coalesces — a well-split source passes
    through untouched — and never fires a Spark job: a frame whose
    plan already shuffles (:func:`_has_shuffle`) is returned as is,
    and only shuffle-free plans (scans, local relations, checkpointed
    RDDs) are asked for their partition count, which Spark answers
    from the file listing or the RDD without running anything.
    """
    if _has_shuffle(df):
        return df
    sc = df.sparkSession.sparkContext
    target = int(min_partitions) if min_partitions else sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
