"""Physical-plan introspection & assertions.

The scale discipline of this engine ("would this plan survive 100×?")
is encoded as *checkable properties* of the physical plan rather than
prose: filters reach the parquet scan, projections prune columns
(never read the wide embedding array for non-vector queries), small
dimensions broadcast, top-k compiles to TakeOrderedAndProject instead
of a global sort, hot expressions stay inside whole-stage codegen.
tests/test_plans.py pins these for the headline queries so a
regression in plan shape fails CI like a wrong answer would.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (what ``df.explain(mode)`` prints)."""
    sdf = getattr(df, "df", df)  # accept VecFrame
    return sdf.sparkSession._jvm.PythonSQLUtils.explainString(
        sdf._jdf.queryExecution(), mode
    )


def _sections(df: DataFrame) -> list[str]:
    """Formatted explain, split into plan sections.

    AQE prints ONE detailed section before execution, but after an
    action it prints the FINAL plan followed by a top-level
    ``+- == Initial Plan ==`` copy with fresh node ids — so any counter
    matching the full text would double every Exchange/scan/codegen
    stage once the frame has run. Only that column-0 marker splits: an
    executed cached sub-plan prints its own, indented, Final/Initial
    pair inside the tree, and splitting there would cut the tree short.
    Counters take the first section that contains their pattern: the
    final plan when executed, the initial plan otherwise."""
    return re.split(r"(?m)^\+- == Initial Plan ==", explain_str(df))


def _first_matches(df: DataFrame, pattern: str) -> list:
    for sec in _sections(df):
        m = re.findall(pattern, sec)
        if m:
            return m
    return []


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's file scans."""
    out: list[str] = []
    for grp in _first_matches(df, r"PushedFilters: \[([^\]]*)\]"):
        out.extend(s.strip() for s in grp.split(",") if s.strip())
    return out


def read_schemas(df: DataFrame) -> list[list[str]]:
    """Column lists read by each parquet scan (ReadSchema)."""
    schemas = []
    for grp in _first_matches(df, r"ReadSchema: struct<([^>]*)>"):
        cols = [c.split(":")[0].strip() for c in grp.split(",") if c.strip()]
        schemas.append(cols)
    return schemas


def num_scans(df: DataFrame) -> int:
    """File scans in the plan (one per ReadSchema entry). The
    scan-count twin of :func:`num_shuffles` — pin it where an
    operator's contract is "one scan per input" (e.g. sketch-based
    overlap triage must never re-scan a corpus for a second branch of
    the same inclusion–exclusion)."""
    return len(read_schemas(df))


def join_strategies(df: DataFrame) -> list[str]:
    """Join operator names in execution order."""
    return _first_matches(
        df,
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
    )


def has_take_ordered(df: DataFrame) -> bool:
    """orderBy+limit fused into per-partition heaps (no global sort)."""
    return "TakeOrderedAndProject" in explain_str(df)


def _physical_nodes(df: DataFrame):
    """Every node of ``df``'s physical plan, each visited once.

    Walks the plan tree rather than the explain text: an adaptive plan
    is entered through its current plan (the final one once executed,
    the initial one before), query stages through the plan they wrap,
    an in-memory scan through its cached relation's plan, and each
    node's subquery plans. A cached relation scanned twice, or a
    subquery copied into several nodes (a filter pushed into its scan
    carries a copy along; the copies share the subquery's name), is
    entered once. Reused exchanges and subqueries are not entered —
    they point at work counted where it first appears."""
    sdf = getattr(df, "df", df)  # accept VecFrame
    identity = sdf.sparkSession._jvm.System.identityHashCode
    seen: set = set()
    stack = [sdf._jdf.queryExecution().executedPlan()]

    def enter_once(plan, key) -> None:
        if key not in seen:
            seen.add(key)
            stack.append(plan)

    while stack:
        node = stack.pop()
        name = node.nodeName()
        yield name, node
        if name in ("ReusedExchange", "ReusedSubquery"):
            continue
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        if name == "InMemoryTableScan":
            cached = node.relation().cachedPlan()
            enter_once(cached, identity(cached))
        children, subqueries = node.children(), node.subqueries()
        stack.extend(children.apply(i) for i in range(children.size()))
        for i in range(subqueries.size()):
            sub = subqueries.apply(i)
            enter_once(sub, sub.name())


def _shuffle_exchanges(df: DataFrame) -> list:
    return [n for name, n in _physical_nodes(df) if name == "Exchange"]


def num_shuffles(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (each is a full shuffle;
    BroadcastExchange and reused exchanges deliberately not counted).

    Counted by walking the physical plan tree, so each exchange counts
    once whether or not the frame — or a cached relation inside it —
    has run; shuffles inside cached relations and subqueries count
    too."""
    return len(_shuffle_exchanges(df))


def num_data_shuffles(df: DataFrame) -> int:
    """Exchanges excluding opt-in input-parallelism round-robin
    repartitions (``_read(par=True)``).

    A ``RoundRobinPartitioning`` exchange with ``REPARTITION_BY_NUM``
    exists only to re-spread an unsplittable single-file scan across
    cores (guide §2.5 "one huge unsplittable file"); it moves no keyed
    data and disappears on production many-file inputs, so shuffle-
    budget pins count it separately from real keyed exchanges. An
    accidental data-motion ``repartition(n)`` inside an operator is
    also round-robin, but only the deliberate spread carries the
    explicit-number origin, so such a repartition still counts."""
    return sum(
        1
        for ex in _shuffle_exchanges(df)
        if not (
            ex.outputPartitioning().getClass().getSimpleName()
            == "RoundRobinPartitioning"
            and ex.shuffleOrigin().toString() == "REPARTITION_BY_NUM"
        )
    )


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen spans — wider is better (fewer
    interpreter boundaries).

    An un-executed AQE plan's formatted explain carries NO codegen
    markers at all (they appear only in the post-execution final
    plan), so a formatted-only count reads 0 for every lazy frame.
    Fall back to ``codegen`` explain mode, which compiles the plan
    and prints "Found N WholeStageCodegen subtrees" regardless of
    execution state."""
    for sec in _sections(df):
        ids = set(re.findall(r"WholeStageCodegen \((\d+)\)", sec))
        ids |= set(re.findall(r"codegen id : (\d+)", sec))  # formatted mode
        if ids:
            return len(ids)
    m = re.search(
        r"Found (\d+) WholeStageCodegen subtrees", explain_str(df, "codegen")
    )
    return int(m.group(1)) if m else 0


def assert_broadcast(df: DataFrame, at_least: int = 1) -> None:
    js = join_strategies(df)
    n = sum(1 for j in js if j.startswith("Broadcast") and "NestedLoop" not in j)
    assert n >= at_least, f"expected >= {at_least} broadcast hash joins, plan has {js}"


def assert_no_cartesian(df: DataFrame) -> None:
    js = join_strategies(df)
    assert "CartesianProduct" not in js, f"cartesian product in plan: {js}"


def assert_column_pruned(df: DataFrame, column: str) -> None:
    """Assert no scan reads ``column`` (e.g. the wide embedding array
    in a metadata-only query)."""
    for cols in read_schemas(df):
        assert column not in cols, (
            f"scan reads pruned column {column!r}: ReadSchema={cols}"
        )


def assert_filter_pushed(df: DataFrame, fragment: str) -> None:
    pf = pushed_filters(df)
    assert any(fragment.lower() in f.lower() for f in pf), (
        f"no pushed filter matching {fragment!r}; PushedFilters={pf}"
    )
