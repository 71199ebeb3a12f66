"""Event-stream pipelines: windowed rollup, session windows, dedup.

The ``events`` table schema (driver fixtures): event_id BIGINT,
ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE,
props STRING. Fixture vintages differ in how ``ts`` lands in Spark —
TIMESTAMP(µs) reads as TIMESTAMP or TIMESTAMP_NTZ (depending on the
writer's isAdjustedToUTC flag), TIMESTAMP(NANOS) only as int64 ns via
``spark.sql.legacy.parquet.nanosAsLong`` — so every pipeline starts
from the schema-aware ``event_ts_of`` which normalizes any of the
three to a plain TIMESTAMP column. NTZ wall-clock is interpreted in
the session time zone, which ``pin_utc_session`` pins to UTC so epoch
arithmetic agrees with engines that treat naive timestamps as UTC
(DuckDB, pandas).
"""

from __future__ import annotations

import os

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),  # parquet TIMESTAMP(µs)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def pin_utc_session(spark: SparkSession) -> None:
    """Pin the session time zone to UTC. TIMESTAMP_NTZ columns carry no
    zone; casting them to TIMESTAMP interprets the wall-clock in the
    session zone, and the oracle engines (DuckDB, pandas) treat naive
    timestamps as UTC — so UTC is the only setting under which both
    sides compute the same epoch numbers."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def event_ts_of(df: DataFrame, c: str = "ts") -> Column:
    """Schema-aware event-time column → plain TIMESTAMP.

    - TIMESTAMP: passed through.
    - TIMESTAMP_NTZ: cast to TIMESTAMP (session zone; see
      ``pin_utc_session``).
    - int64 (nanoseconds, the TIMESTAMP(NANOS)+``nanosAsLong``
      convention): microsecond floor via integer DIV — double math
      would lose precision above 2^53 ns.
    """
    dt = df.schema[c].dataType
    if isinstance(dt, T.TimestampType):
        return F.col(c)
    if isinstance(dt, T.TimestampNTZType):
        pin_utc_session(df.sparkSession)
        return F.col(c).cast("timestamp")
    if isinstance(dt, (T.LongType, T.IntegerType)):
        return F.timestamp_micros(F.expr(f"`{c}` DIV 1000"))
    raise TypeError(
        f"column {c!r} must be TIMESTAMP, TIMESTAMP_NTZ, or int64 "
        f"nanoseconds; got {dt.simpleString()}"
    )


def event_ns_of(df: DataFrame, c: str = "ts") -> Column:
    """Schema-aware event-time column → BIGINT epoch nanoseconds (the
    unit-agnostic temporal-join convention; exact — no double math)."""
    dt = df.schema[c].dataType
    if isinstance(dt, (T.LongType, T.IntegerType)):
        return F.col(c)
    return F.unix_micros(event_ts_of(df, c)) * F.lit(1000)


def event_ts(c: str = "ts") -> Column:
    """int64-nanosecond column → TIMESTAMP (microsecond floor; integer
    DIV — double math would lose precision above 2^53 ns). Prefer the
    schema-aware ``event_ts_of`` unless the input is known-int64."""
    return F.timestamp_micros(F.expr(f"{c} DIV 1000"))


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """File-source stream over an events parquet directory.

    New files appearing under ``path`` become micro-batches — the
    standard landing-zone pattern (object-store prefix at scale; use
    ``maxFilesPerTrigger`` to bound batch size / latency).

    Streams need a declared schema; it is taken from the parquet files
    already present (footer-only read), falling back to EVENT_SCHEMA
    for an empty landing directory — so fixture vintages with
    TIMESTAMP(µs) vs TIMESTAMP(NANOS) ``ts`` both stream correctly."""
    pin_utc_session(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        schema = spark.read.parquet(path).schema
    except Exception:
        schema = EVENT_SCHEMA
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return reader.parquet(path)


def hourly_rollup(
    events: DataFrame,
    watermark: Optional[str] = "2 hours",
    keys: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Tumbling 1-hour window: count + sum(value) per (window, keys).

    Batch twin: __spark_entry__._events_hourly (same grouping, int64
    bucket arithmetic, oracle-checked). On a stream the watermark lets
    Spark finalize and evict window state once event time has passed
    window_end + watermark — bounded state at any input size.
    """
    tsc = event_ts_of(events, "ts").alias("__ts")
    df = events.select("*", tsc)
    if watermark is not None and events.isStreaming:
        df = df.withWatermark("__ts", watermark)
    return (
        df.groupBy(F.window("__ts", "1 hour").alias("w"), *keys)
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_s"),
            *keys,
            "n",
            "sum_value",
        )
    )


def session_rollup(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: Optional[str] = "2 hours",
) -> DataFrame:
    """Per-user session windows (native ``session_window``: a session
    extends while consecutive events arrive within ``gap``).

    Returns one row per (user_id, session): n_events, session start/end
    epoch seconds. The batch aggregation to sessions-per-user is the
    oracle-checked twin of the lag+cumsum formulation
    (__spark_entry__._events_sessions).
    """
    tsc = event_ts_of(events, "ts").alias("__ts")
    df = events.select("*", tsc)
    if watermark is not None and events.isStreaming:
        df = df.withWatermark("__ts", watermark)
    return (
        df.groupBy(F.session_window("__ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start_s"),
            F.unix_timestamp(F.col("w.end")).alias("session_end_s"),
            "n_events",
        )
    )


def dedup_events(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Exactly-once-per-event_id dedup on a stream.

    ``dropDuplicatesWithinWatermark`` keeps event_id state only for the
    watermark horizon — the unbounded-state-safe form of
    ``dropDuplicates`` for at-least-once sources (Kafka replays, file
    redeliveries)."""
    df = events.select("*", event_ts_of(events, "ts").alias("__ts"))
    if events.isStreaming:
        return df.withWatermark("__ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        ).drop("__ts")
    return df.dropDuplicates(["event_id"]).drop("__ts")


def stateful_dedup_stream(
    df: DataFrame,
    text_col: str,
    id_col: str,
    hash_col: str = "h",
    keep_col: str = "keep_id",
) -> DataFrame:
    """Keep-min-id exact dedup: per normalized-content key, the minimum
    id seen across all micro-batches.

    One plan for batch and streaming frames: ``groupBy(hash).agg(
    min(id))``. On a stream that is a native streaming aggregation —
    the state store holds one id per key, merged by the JVM aggregate
    with no Python worker in the loop. Late and out-of-order arrivals
    are handled exactly (the min wins whatever the arrival order), a
    NULL text groups under the NULL key and a NULL id never beats a
    non-NULL one, exactly as in the batch plan the oracle checks (same
    DuckDB twin as exact dedup).

    Emission contract (``update`` mode): every key a micro-batch
    touches re-emits its CURRENT minimum, whether or not the batch
    improved it. Downstream folds the re-emissions with
    ``min(keep_col)``. Drain with ``output_mode="update"``;
    :func:`run_available_now` otherwise picks ``complete`` (the frame
    is an aggregation). State carries no timeout: a smaller id may
    still arrive for any key. Checkpoints written by the earlier
    ``applyInPandasWithState`` form of this operator hold a different
    state schema and cannot be resumed — start such a query from a
    fresh checkpoint.
    """
    from tidyvec_spark.operators.dedup import normalized_text_key

    return df.groupBy(normalized_text_key(text_col).alias(hash_col)).agg(
        F.min(id_col).alias(keep_col)
    )


def ingest_dedup_stream(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str,
    id_col: str,
    index_hash_col: str = "h",
    key_fn=None,
) -> DataFrame:
    """Landing-zone ingest dedup against the EXISTING corpus: arriving
    documents whose exact-dedup key is already in the persisted index
    are dropped by a stream-static LEFT ANTI join (the static side is
    the index's distinct keys — re-read per micro-batch, so a
    concurrently-growing index is picked up without restarts), and
    duplicates WITHIN the stream collapse to keep-min-id through
    :func:`stateful_dedup_stream` (same emission contract: fold the
    ``update``-mode re-emissions with ``min``). Emits
    (``index_hash_col``, keep_id) for admitted content — exactly the
    rows to append to both the corpus and the index.

    The batch-ingest twin is ``index-anti-join + groupBy(hash).min``,
    which is what a non-streaming ``new_docs`` falls back to (same
    code path), so stream/batch parity is oracle-checkable. Scale
    shape: the anti join is an equi hash join on the 128-bit key
    (broadcast when the index fits, shuffle otherwise — Spark picks);
    state is one id per in-stream key. Complements
    ``operators.dedup.incremental_near_dup_pairs`` (the NEAR-dup
    batch path against a signature index) with the exact-dup
    streaming path.
    """
    from tidyvec_spark.operators.dedup import normalized_text_key

    # key_fn plugs an alternative canonicalization (e.g. the homoglyph
    # confusable fold) — the index must be built under the SAME law
    key_fn = key_fn or normalized_text_key
    keyed = new_docs.withColumn("__ih", key_fn(text_col))
    fresh = keyed.join(
        index.select(F.col(index_hash_col).alias("__ih")).distinct(),
        "__ih",
        "left_anti",
    ).drop("__ih")
    return stateful_dedup_stream(
        fresh, text_col, id_col, hash_col=index_hash_col
    )


def near_dup_pairs_stream(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    ts_col: Optional[str] = None,
    horizon_seconds: Optional[int] = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Online MinHash-LSH candidate discovery: as documents arrive,
    emit (id_a, id_b), ``id_a < id_b``, for every pair that shares an
    LSH band bucket.

    One plan for batch and streaming frames: shingle → sign → band
    entirely map-side (the identical codegen expressions as
    ``operators.dedup.minhash_lsh_pairs``), then the banded self-join
    on the band hash. On a stream the self-join runs as a native
    stream-stream join (``StreamingSymmetricHashJoin``): each side's
    join state is the band bucket's members, and a new document pairs
    with every earlier member of each bucket it lands in, whether that
    member arrived in this micro-batch or an earlier one. Candidate
    verification (exact Jaccard) stays a downstream batch join, exactly
    as in the batch pipeline.

    Emission contract (``append`` mode): the same pair can surface
    from several bands, and an id delivered again (a file redelivery)
    pairs again, so the union of all emissions equals the batch
    candidate set after a ``distinct`` — which the batch frame applies
    itself and stream consumers apply to what they receive.

    **Dedup horizon / state TTL** (``ts_col`` + ``horizon_seconds``):
    two documents are candidates only when their event timestamps lie
    within ``horizon_seconds`` of each other — one range condition,
    ``ts_b BETWEEN ts_a - H AND ts_a + H``, compared at full timestamp
    precision in batch and stream alike. On a stream the event time
    carries a ``watermark_delay`` watermark, so Spark evicts members
    a full horizon behind the watermark from the join state: state is
    bounded by the documents within one horizon instead of all
    documents ever. Like every watermarked stream-stream join, a row
    arriving more than ``watermark_delay`` behind the newest event time
    seen is dropped as late. Without ``horizon_seconds`` state is kept
    forever (exact parity with the batch self-join over the whole
    corpus).

    Checkpoints written by the earlier ``applyInPandasWithState`` form
    of this operator hold a different state schema and cannot be
    resumed — start such a query from a fresh checkpoint.
    """
    from tidyvec_spark.functions import text as X
    from tidyvec_spark.functions.hashing import band_hash, minhash_signature

    if num_hashes % bands != 0:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    if (horizon_seconds is None) != (ts_col is None):
        raise ValueError("ts_col and horizon_seconds must be given together")
    if horizon_seconds is not None and horizon_seconds < 1:
        raise ValueError("horizon_seconds must be >= 1")
    rpb = num_hashes // bands

    cols = [
        F.col(id_col).alias("__id"),
        F.array_distinct(X.ngrams(text_col, shingle_n)).alias("__sh"),
    ]
    if ts_col is not None:
        cols.append(event_ts_of(df, ts_col).alias("__ts"))
    signed = (
        df.select(*cols)
        .filter(F.size("__sh") > 0)
        .withColumn("__sig", minhash_signature("__sh", num_hashes))
        .select(
            "__id",
            F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("__b"),
            "__sig",
            *(["__ts"] if ts_col is not None else []),
        )
        .withColumn("__bh", band_hash("__sig", F.col("__b"), rpb))
        .select(
            "__id", "__bh", *(["__ts"] if ts_col is not None else [])
        )
    )

    a_cols = [F.col("__id").alias("id_a"), F.col("__bh")]
    b_cols = [F.col("__id").alias("id_b"), F.col("__bh")]
    if ts_col is not None:
        signed = signed.withWatermark("__ts", watermark_delay)
        a_cols.append(F.col("__ts").alias("__ts_a"))
        b_cols.append(F.col("__ts").alias("__ts_b"))
    a = signed.select(*a_cols)
    b = signed.select(*b_cols)
    j = a.join(b, "__bh").filter(F.col("id_a") < F.col("id_b"))
    if ts_col is not None:
        h = F.expr(f"INTERVAL {int(horizon_seconds)} SECONDS")
        j = j.filter(
            F.col("__ts_b").between(F.col("__ts_a") - h, F.col("__ts_a") + h)
        )
    j = j.select("id_a", "id_b")
    return j if df.isStreaming else j.distinct()


def _admit_under_budget(pdf, seen: int, budget: int, tok: str, idc: str):
    """Strict-prefix admission of one group's rows in id order: the
    running total counts EVERY arrived document (admitted or not), and
    a row is kept iff the total including it stays ≤ budget — the same
    greedy-prefix-not-knapsack rule as ``budget_sample``, and exactly
    the SQL window cumsum, so the oracle twin is plain SQL. Returns the
    admitted sub-frame (or None) and the new arrived-token total.

    Callers must pass the group's ENTIRE micro-batch slice in one
    frame: admitting per Arrow chunk would make admission order
    chunk-order, not id-order, whenever a stratum spans more than
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows (default
    10k) — silently diverging from the id-ordered oracle."""
    pdf = pdf.sort_values(idc).reset_index(drop=True)
    keep = []
    for i, t in enumerate(pdf[tok].astype("int64")):
        seen += int(t)
        if seen <= budget:
            keep.append(i)
    return (pdf.iloc[keep] if keep else None), seen


def budget_filter_stream(
    df: DataFrame,
    token_col: str,
    strata_col: str,
    budget: int,
    id_col: str,
) -> DataFrame:
    """Streaming per-stratum token-budget curation — the streaming twin
    of ``operators.sampling.budget_sample``: keep admitting documents
    to each stratum (language, source) until its running token total
    would exceed ``budget``, then drop the stratum's overflow. This is
    how a landing-zone ingest enforces a mixing spec online, without
    re-ranking history.

    Per stratum the state is ONE long (the running total of ALL arrived
    tokens); within each micro-batch the stratum's rows are gathered
    across Arrow chunks and admitted once in global ``id_col`` order —
    NOT per-chunk — so single-micro-batch runs are fully deterministic
    at any ``arrow.maxRecordsPerBatch`` (the oracle orders by the same
    id). Across micro-batches admission follows arrival order — the
    defining semantics of an online filter.
    State is 8 bytes per stratum: bounded by the stratum vocabulary, no
    watermark needed. The admission rule is the same strict greedy
    prefix as ``budget_sample`` (a document is admitted iff the running
    total including it stays ≤ budget; once the budget overflows, the
    stratum's remainder is dropped — prefix, not knapsack), which keeps
    stream, batch fallback, and SQL oracle exactly equivalent.

    On a batch frame, falls back to the equivalent cumsum filter (one
    window shuffle), so batch/stream parity is oracle-checkable.
    """
    budget = int(budget)
    if budget < 1:
        raise ValueError("budget must be >= 1")

    if not df.isStreaming:
        from pyspark.sql import Window

        w = (
            Window.partitionBy(strata_col)
            .orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            df.withColumn(
                "__cum", F.sum(F.col(token_col).cast("long")).over(w)
            )
            .filter(F.col("__cum") <= budget)
            .drop("__cum")
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    state_schema = T.StructType([T.StructField("total", T.LongType(), False)])

    def fn(key, pdf_iter, state):
        import pandas as pd

        spent = state.get[0] if state.exists else 0
        # Concatenate the group's Arrow chunks and admit ONCE in
        # global id order — per-chunk admission would be
        # chunk-ordered when the stratum spans >maxRecordsPerBatch
        # rows. Bounded: one stratum's slice of one micro-batch,
        # the same working set applyInPandas already materializes.
        parts = [pdf for pdf in pdf_iter if len(pdf)]
        if parts:
            whole = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
            admitted, spent = _admit_under_budget(
                whole, spent, budget, token_col, id_col
            )
            if admitted is not None:
                yield admitted
        state.update((spent,))

    return df.groupBy(strata_col).applyInPandasWithState(
        fn,
        outputStructType=df.schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    band: str = "1 hour",
    watermark: str = "2 hours",
    left_prefix: str = "l_",
    right_prefix: str = "r_",
    ts_col: str = "ts",
    left_cols: Optional[Sequence[str]] = None,
    right_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Stream-stream interval join: pair each left event with the right
    events of the same key whose time falls in ``(left.ts - band,
    left.ts]`` — the streaming twin of
    ``operators/joins.py::range_join_bucketed`` (same inclusive-upper
    band convention, so the identical batch SQL is the oracle).

    Schema-generic: ``on``/``ts_col`` name the key and event-time
    columns; ``left_cols``/``right_cols`` pick the carried payload
    columns (default: every column except the key and ts). ``ts_col``
    may be a TIMESTAMP or an int64-nanosecond column (the engine's
    parquet convention) — the latter is converted via ``event_ts``.

    Both sides are watermarked: Spark buffers right-side rows in the
    state store only until the watermark passes ``band`` behind, which
    is what bounds state at 100 TB — without the time-range condition
    on both event-time columns the join state would grow forever.
    Inner join: matches emit as found (append mode); the watermark only
    governs state eviction.

    Works identically on batch frames (Spark's unified model) minus the
    watermark, which batch ignores.
    """

    def ts_of(df: DataFrame) -> Column:
        return event_ts_of(df, ts_col)

    if left_cols is None:
        left_cols = [c for c in left.columns if c not in (on, ts_col)]
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, ts_col)]
    l = left.select(
        *[F.col(c).alias(f"{left_prefix}{c}") for c in left_cols],
        F.col(on).alias(f"{left_prefix}{on}"),
        ts_of(left).alias(f"{left_prefix}ts"),
    )
    r = right.select(
        *[F.col(c).alias(f"{right_prefix}{c}") for c in right_cols],
        F.col(on).alias(f"{right_prefix}{on}"),
        ts_of(right).alias(f"{right_prefix}ts"),
    )
    if left.isStreaming:
        l = l.withWatermark(f"{left_prefix}ts", watermark)
    if right.isStreaming:
        r = r.withWatermark(f"{right_prefix}ts", watermark)
    cond = (
        (F.col(f"{left_prefix}{on}") == F.col(f"{right_prefix}{on}"))
        & (F.col(f"{right_prefix}ts")
           > F.col(f"{left_prefix}ts") - F.expr(f"INTERVAL {band}"))
        & (F.col(f"{right_prefix}ts") <= F.col(f"{left_prefix}ts"))
    )
    return l.join(r, cond, "inner")


def upsert_latest_stream(
    df: DataFrame,
    key_col: str,
    version_col: str,
    value_cols: list[str],
) -> DataFrame:
    """CDC-style latest-wins upsert: per key, the row with the highest
    ``version_col`` (ties broken by the value tuple, descending —
    deterministic) survives across all micro-batches. The ingestion
    primitive for corpora that receive document REVISIONS: re-crawls,
    edits, metadata refreshes.

    One plan for batch and streaming frames: ``groupBy(key).agg(
    max(struct(version, *values)))``. On a stream that is a native
    streaming aggregation — the state store holds one (version,
    values) struct per key, merged by the JVM aggregate with no Python
    worker in the loop. Out-of-order versions are handled exactly: the
    max wins regardless of arrival order, and NULL value columns order
    below non-NULL ones, so the non-null revision wins.

    Emission contract (``update`` mode): every key a micro-batch
    touches re-emits its CURRENT winner, whether or not the batch
    improved it — a stale version arriving late re-emits the stored
    winner, never itself. Downstream folds the re-emissions with the
    same max-by-version rule. Drain with ``output_mode="update"``;
    :func:`run_available_now` otherwise picks ``complete`` (the frame
    is an aggregation), which re-emits the whole table each batch.

    State carries no timeout: any key may still receive a newer
    version. Streaming checkpoints written by the earlier
    ``applyInPandasWithState`` form of this operator hold a different
    state schema and cannot be resumed — start such a query from a
    fresh checkpoint.
    """
    packed = df.groupBy(key_col).agg(
        F.max(F.struct(F.col(version_col).alias("__v"), *value_cols)).alias("__w")
    )
    return packed.select(
        key_col,
        F.col("__w.__v").alias(version_col),
        *[F.col(f"__w.{c}").alias(c) for c in value_cols],
    )


def stream_shuffle_partitions(
    spark: SparkSession,
    input_dir: str,
    bytes_per_partition: int = 32 * 1024 * 1024,
) -> int:
    """Shuffle/state-store partition count for a streaming query over a
    landing directory, sized by the DATA rather than the core count:
    every state partition costs a state-store instance and a task
    launch PER MICRO-BATCH, so a 2 MB staged file should not pay for
    the session default of one-per-core. ``ceil(bytes / 32 MB)`` keeps
    the count proportional to input (a 100 TB landing prefix saturates
    the cap), capped at the session's configured shuffle partitions so
    a real cluster's tuning is never exceeded. Falls back to the
    session default when the directory cannot be sized locally
    (object-store paths size themselves through their own listing at
    scale).

    Use it for bounded-key streams (event types, languages, one
    global heavy-hitter key), where that fixed cost dominates. Streams
    keyed by users, document hashes or band buckets keep the session
    default: on ``applyInPandasWithState`` every key group pays its
    own Python round trip, and byte-sized partitions made those
    streams 3–6× slower by running the calls on fewer tasks."""
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        total = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(input_dir)
            for f in files
        )
    except OSError:
        return default
    if total <= 0:
        return default
    return max(1, min(default, -(-total // int(bytes_per_partition))))


def run_available_now(
    stream_df: DataFrame,
    table_name: str,
    output_mode: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
) -> None:
    """Drain all currently-available input through the streaming engine
    into an in-memory table (test/dev harness; production sinks are
    parquet/Kafka/Delta via the same writeStream call). ``output_mode``
    overrides the default: ``complete`` when the plan aggregates,
    ``append`` otherwise. :func:`upsert_latest_stream` and
    :func:`stateful_dedup_stream` are aggregations, so they default to
    ``complete`` (the whole table per batch); pass ``update`` to emit
    only the keys each batch touched.

    ``shuffle_partitions`` pins the streaming query's shuffle/state
    partition count (captured by the engine at first query start; see
    :func:`stream_shuffle_partitions` for data-driven sizing). The
    session conf is restored afterwards, so surrounding batch work is
    untouched. Results are partition-count independent — only the
    per-micro-batch fixed cost (state stores, task launches, Python
    workers) changes."""
    if output_mode is None:
        output_mode = "complete" if _has_aggregation(stream_df) else "append"
    spark = stream_df.sparkSession
    prev = None
    if shuffle_partitions is not None:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", int(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(table_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def _has_aggregation(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().logical().toString()
    return "Aggregate" in plan


def zscore_anomaly_stream(
    df: DataFrame,
    value_col: str = "value",
    type_col: str = "event_type",
    id_col: str = "event_id",
    ts_col: str = "ts",
    window_n: int = 20,
    z_thresh: float = 3.0,
    round_to: int = 4,
) -> DataFrame:
    """Online rolling z-score anomaly detection: each event scored
    against the trailing ``window_n`` SAME-TYPE events (excluding
    itself) — the monitoring alert over metric streams, as a CUSTOM
    stateful operator (no built-in streaming op expresses a sliding
    count-based frame).

    State per type is one bounded ring buffer of the last ``window_n``
    values — ``8 * window_n`` bytes regardless of stream length.
    Within each micro-batch rows are processed in (event-time, id)
    order, so given in-order arrival the emissions equal the batch
    twin (a ROWS BETWEEN window over the same ordering) exactly —
    parity is test-pinned. Out-of-order arrivals score against the
    state as-of processing, the standard online-monitoring semantics.

    On a batch frame, falls back to the window form (one shuffle on
    the type key, sliding frames, no self-join).
    """
    if window_n < 2:
        raise ValueError("window_n must be >= 2")
    ts = event_ts_of(df, ts_col)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(type_col).alias("__ty"),
        F.col(value_col).cast("double").alias("__v"),
        ts.cast("long").alias("__ts"),
    )
    if not df.isStreaming:
        from pyspark.sql import Window as W

        w = (
            W.partitionBy("__ty")
            .orderBy("__ts", "__id")
            .rowsBetween(-window_n, -1)
        )
        mu = F.avg("__v").over(w)
        sd = F.stddev_samp("__v").over(w)
        z = F.when(sd.isNotNull() & (sd > 0), (F.col("__v") - mu) / sd)
        return (
            base.select(
                F.col("__id").alias(id_col),
                F.col("__ty").alias(type_col),
                F.round(z, round_to).alias("z"),
            )
            .filter(F.abs(F.col("z")) > float(z_thresh))
        )

    id_field = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field, False),
            T.StructField(type_col, T.StringType(), False),
            T.StructField("z", T.DoubleType(), False),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("buf", T.ArrayType(T.DoubleType()), False)]
    )

    def fn(key, pdf_iter, state):
        import math

        import pandas as pd

        buf = list(state.get[0]) if state.exists else []
        out = []
        rows = []
        for pdf in pdf_iter:
            rows.extend(
                zip(pdf["__id"], pdf["__v"], pdf["__ts"])
            )
        rows.sort(key=lambda r: (r[2], r[0]))
        for i, v, _ in rows:
            n = len(buf)
            if n >= 2:
                mu = sum(buf) / n
                var = sum((x - mu) ** 2 for x in buf) / (n - 1)
                sd = math.sqrt(var)
                if sd > 0:
                    z = round((float(v) - mu) / sd, round_to)
                    if abs(z) > z_thresh:
                        out.append((int(i), key[0], z))
            buf.append(float(v))
            if len(buf) > window_n:
                buf = buf[-window_n:]
        state.update((buf,))
        if out:
            yield pd.DataFrame(out, columns=[id_col, type_col, "z"])

    from pyspark.sql.streaming.state import GroupStateTimeout

    return base.groupBy("__ty").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def heavy_hitters_stream(
    df: DataFrame,
    key_col: str = "user_id",
    capacity: int = 64,
    group_col: Optional[str] = None,
) -> DataFrame:
    """Top-frequency keys under BOUNDED memory: the Space-Saving
    summary (Metwally, Agrawal & El Abbadi, "Efficient computation of
    frequent and top-k elements in data streams", ICDT 2005) as a
    custom stateful operator — the monitoring question "which users /
    pages / tokens dominate this stream right now" where the key
    domain is unbounded and an exact groupBy would grow state without
    limit.

    State is exactly ``capacity`` counters per group: on arrival a
    tracked key increments; an untracked key evicts the minimum
    counter and inherits its count as its error bound. Guarantees (the
    paper's Thm. 3.1): every true count is within ``[est - err, est]``,
    and any key with true frequency above the minimum counter is
    tracked. With ``capacity >=`` the number of distinct keys the
    summary is EXACT (err = 0 for all rows) — which is how the oracle
    entry pins it against a plain groupBy count.

    Streaming emits the full current summary each micro-batch (update
    mode), ordered (est desc, key asc); ties in the eviction step
    break on the SMALLEST key so replays are deterministic. On a batch
    frame, falls back to the exact groupBy-count top-``capacity`` —
    identical output whenever the sketch is exact, and the sketch's
    est/err interval contains the batch twin's exact counts otherwise
    (property-pinned in tests).

    Returns ``(group_col?, key, est bigint, err bigint)``.
    """
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    key_field = df.schema[key_col].dataType
    if not isinstance(
        key_field, (T.StringType, T.LongType, T.IntegerType)
    ):
        # sketch state encodes keys as strings and decodes on emit;
        # anything else would crash mid-stream at Arrow conversion
        raise ValueError(
            f"heavy_hitters_stream supports string/long/int keys, "
            f"got {key_field.simpleString()} for {key_col!r}"
        )
    gcols = [group_col] if group_col else []
    # NULL keys are dropped in BOTH twins: a NULL is not a trackable
    # identity (and would collide with the string 'None' in the
    # sketch's state encoding)
    df = df.filter(F.col(key_col).isNotNull())

    if not df.isStreaming:
        from pyspark.sql import Window as W

        counts = df.groupBy(
            *(gcols + [key_col])
        ).agg(F.count("*").alias("est"))
        w = W.partitionBy(*gcols if gcols else [F.lit(1)]).orderBy(
            F.desc("est"), F.asc(key_col)
        )
        return (
            counts.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= int(capacity))
            .select(
                *gcols,
                F.col(key_col).alias("key"),
                "est",
                F.lit(0).cast("long").alias("err"),
            )
        )

    base = df.select(
        (F.col(group_col) if group_col else F.lit("__all__")).alias("__g"),
        F.col(key_col).alias("__k"),
    )
    out_fields = (
        [T.StructField(group_col, df.schema[group_col].dataType, False)]
        if group_col
        else []
    )
    out_schema = T.StructType(
        out_fields
        + [
            T.StructField("key", key_field, False),
            T.StructField("est", T.LongType(), False),
            T.StructField("err", T.LongType(), False),
        ]
    )
    # state: parallel arrays (keys as strings for schema stability,
    # cast back on emit), counts, errors
    state_schema = T.StructType(
        [
            T.StructField("ks", T.ArrayType(T.StringType()), False),
            T.StructField("cs", T.ArrayType(T.LongType()), False),
            T.StructField("es", T.ArrayType(T.LongType()), False),
        ]
    )
    key_is_long = isinstance(key_field, (T.LongType, T.IntegerType))

    def fn(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            ks, cs, es = (
                list(state.get[0]),
                list(state.get[1]),
                list(state.get[2]),
            )
        else:
            ks, cs, es = [], [], []
        summary = {k: (c, e) for k, c, e in zip(ks, cs, es)}
        for pdf in pdf_iter:
            for k in pdf["__k"]:
                sk = str(k)
                if sk in summary:
                    c, e = summary[sk]
                    summary[sk] = (c + 1, e)
                elif len(summary) < capacity:
                    summary[sk] = (1, 0)
                else:
                    # evict the minimum counter; smallest key on ties
                    # so replays are order-independent within a batch
                    mk = min(summary, key=lambda x: (summary[x][0], x))
                    mc, _ = summary.pop(mk)
                    summary[sk] = (mc + 1, mc)
        items = sorted(summary.items(), key=lambda kv: (-kv[1][0], kv[0]))
        state.update(
            (
                [k for k, _ in items],
                [c for _, (c, _) in items],
                [e for _, (_, e) in items],
            )
        )
        rows = [
            (int(k) if key_is_long else k, c, e) for k, (c, e) in items
        ]
        cols = ["key", "est", "err"]
        out = pd.DataFrame(rows, columns=cols)
        if group_col:
            out.insert(0, group_col, key[0])
        yield out

    from pyspark.sql.streaming.state import GroupStateTimeout

    return base.groupBy("__g").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize_stream(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization as a custom stateful operator: one
    CLOSED session per output row — ``(user, start_ns, end_ns,
    n_events, closed_by)``.

    A session closes two ways:

    - ``'event'``: a later event for the same user arrives more than
      ``gap_s`` after the session's last event (detected in-batch or
      across micro-batches via the 24-byte per-user state);
    - ``'watermark'``: the event-time watermark passes
      ``last_event + gap_s`` — no earlier event can ever arrive, so the
      session is PROVABLY closed; the state times out, emits, and is
      evicted. This bounds state at one open session per active user
      within the watermark horizon (the TTL pattern of
      :func:`near_dup_pairs_stream`).

    Sessions still open at query stop are withheld (they are not
    closed facts yet) — exactly the semantics of the batch twin minus
    each user's final session, which makes stream/batch parity
    oracle-checkable: on a non-streaming frame this falls back to the
    lag+cumsum sessionization (``closed_by='event'``) with each user's
    last session dropped.

    Ordering: within a micro-batch, events sort by event time inside
    the pandas group (Arrow batches, never row-at-a-time); across
    batches the watermark bounds disorder the same way the other
    event-time operators here do.
    """
    gap_ns = int(gap_s) * 1_000_000_000

    if not df.isStreaming:
        from pyspark.sql import Window

        w = Window.partitionBy("user").orderBy("__ns")
        ns = event_ns_of(df, ts_col)
        ev = df.select(F.col(user_col).alias("user"), ns.alias("__ns"))
        gap = F.col("__ns") - F.lag("__ns").over(w)
        sess = (
            ev.withColumn(
                "__new", F.when(gap.isNull() | (gap > gap_ns), 1).otherwise(0)
            )
            .withColumn("__sid", F.sum("__new").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ))
            .groupBy("user", "__sid")
            .agg(
                F.min("__ns").alias("start_ns"),
                F.max("__ns").alias("end_ns"),
                F.count("*").alias("n_events"),
            )
        )
        last = Window.partitionBy("user").orderBy(F.desc("__sid"))
        return (
            sess.withColumn("__rn", F.row_number().over(last))
            .filter(F.col("__rn") > 1)
            .select(
                F.col("user").alias(user_col),
                "start_ns",
                "end_ns",
                "n_events",
                F.lit("event").alias("closed_by"),
            )
        )

    user_field = df.schema[user_col].dataType
    base = (
        df.withColumn("__ts", event_ts_of(df, ts_col))
        .withWatermark("__ts", watermark)
        .select(
            F.col(user_col).alias("__u"),
            "__ts",
            event_ns_of(df, ts_col).alias("__ns"),
        )
    )
    out_schema = T.StructType(
        [
            T.StructField(user_col, user_field, False),
            T.StructField("start_ns", T.LongType(), False),
            T.StructField("end_ns", T.LongType(), False),
            T.StructField("n_events", T.LongType(), False),
            T.StructField("closed_by", T.StringType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_ns", T.LongType(), False),
            T.StructField("last_ns", T.LongType(), False),
            T.StructField("n", T.LongType(), False),
        ]
    )

    def fn(key, pdf_iter, state):
        import pandas as pd

        cols = [user_col, "start_ns", "end_ns", "n_events", "closed_by"]
        if state.hasTimedOut:
            st, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                [(key[0], st, last, n, "watermark")], columns=cols
            )
            return
        ns_vals = []
        for pdf in pdf_iter:
            if len(pdf):
                ns_vals.extend(int(v) for v in pdf["__ns"])
        ns_vals.sort()
        cur = tuple(state.get) if state.exists else None
        closed = []
        for t in ns_vals:
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] > gap_ns:
                closed.append((key[0], cur[0], cur[1], cur[2], "event"))
                cur = (t, t, 1)
            else:
                cur = (cur[0], max(cur[1], t), cur[2] + 1)
        if cur is not None:
            state.update(cur)
            # provably closed once the watermark passes last + gap;
            # clamp above the current watermark (Spark rejects a
            # timeout already in the past — a late-arriving batch for
            # an old session would otherwise kill the query)
            state.setTimeoutTimestamp(
                max(
                    (cur[1] + gap_ns) // 1_000_000,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        if closed:
            yield pd.DataFrame(closed, columns=cols)

    from pyspark.sql.streaming.state import GroupStateTimeout

    return base.groupBy("__u").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
