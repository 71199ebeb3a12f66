"""Structured Streaming tests: the stream pipelines must produce the
same results as their batch twins (same functions, batch DataFrame)."""

import datetime
import shutil

import pytest
from pyspark.sql import functions as F

from tidyvec_spark import streaming as S


@pytest.fixture(scope="module")
def event_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "part-000.parquet")
    return str(d)


@pytest.fixture(scope="module")
def batch_events(spark, event_dir):
    # plain read — pipeline event-time handling is schema-aware
    # (TIMESTAMP / TIMESTAMP_NTZ / int64-ns all normalize identically)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(event_dir)


def _canon(rows):
    return sorted(tuple(r) for r in rows)


def test_hourly_rollup_stream_equals_batch(spark, event_dir, batch_events):
    batch = S.hourly_rollup(batch_events, watermark=None).collect()
    stream = S.read_event_stream(spark, event_dir)
    assert stream.isStreaming
    S.run_available_now(S.hourly_rollup(stream, watermark="2 hours"), "hourly_t")
    got = spark.table("hourly_t").collect()
    assert _canon(got) == _canon(batch)
    assert len(batch) > 0


def test_session_rollup_stream_equals_batch(spark, event_dir, batch_events):
    batch = S.session_rollup(batch_events, watermark=None).collect()
    stream = S.read_event_stream(spark, event_dir)
    S.run_available_now(
        S.session_rollup(stream, gap="30 minutes", watermark="2 hours"),
        "sessions_t",
    )
    got = spark.table("sessions_t").collect()
    assert _canon(got) == _canon(batch)
    # sanity: session bounds ordered, events counted
    for r in batch:
        assert r["session_start_s"] <= r["session_end_s"]
        assert r["n_events"] >= 1


def test_dedup_events_stream(spark, event_dir, batch_events):
    n_unique = batch_events.select("event_id").distinct().count()
    stream = S.read_event_stream(spark, event_dir)
    S.run_available_now(S.dedup_events(stream, watermark="1 hour"), "dedup_t")
    got = spark.table("dedup_t")
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


def test_watermark_present_in_stream_plan(spark, event_dir):
    stream = S.read_event_stream(spark, event_dir)
    agg = S.hourly_rollup(stream, watermark="2 hours")
    plan = agg._jdf.queryExecution().logical().toString()
    assert "EventTimeWatermark" in plan


def test_stateful_dedup_stream_multi_batch_keep_min(spark, tmp_path):
    # the applyInPandasWithState path: two micro-batches
    # (maxFilesPerTrigger=1) where a SMALLER id for a seen content hash
    # arrives in the second batch — state must update and re-emit, and
    # the terminal fold must land on the true minimum
    d = tmp_path / "docs_land"
    d.mkdir()
    spark.createDataFrame(
        [(10, "same text"), (11, "other text")], "doc_id bigint, text string"
    ).coalesce(1).write.parquet(str(d / "f0.parquet"))
    spark.createDataFrame(
        [(3, "same  text"), (12, "third text")], "doc_id bigint, text string"
    ).coalesce(1).write.parquet(str(d / "f1.parquet"))

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    S.run_available_now(
        S.stateful_dedup_stream(stream, "text", "doc_id"),
        "stateful_dedup_t",
        output_mode="update",
    )
    got = {
        r["h"]: r["keep_id"]
        for r in spark.table("stateful_dedup_t")
        .groupBy("h")
        .agg(F.min("keep_id").alias("keep_id"))
        .collect()
    }
    batch = {
        r["h"]: r["keep_id"]
        for r in S.stateful_dedup_stream(
            spark.read.parquet(str(d) + "/*"), "text", "doc_id"
        ).collect()
    }
    assert got == batch
    assert 3 in got.values()  # "same text" resolves to the late, smaller id
    assert len(got) == 3


def test_stateful_dedup_batch_parity_with_sql(spark):
    df = spark.createDataFrame(
        [(5, "a b"), (9, "A  B"), (2, "c")], "doc_id bigint, text string"
    )
    got = {
        (r["h"], r["keep_id"])
        for r in S.stateful_dedup_stream(df, "text", "doc_id").collect()
    }
    assert len(got) == 2 and {k for _, k in got} == {2, 5}


def test_stateful_dedup_stream_null_inputs_match_batch(spark, tmp_path):
    """NULL text groups under the NULL key and a NULL id stays a key of
    its own, on the stream exactly as in the batch twin."""
    schema = "doc_id bigint, text string"
    d = tmp_path / "null_land"
    d.mkdir()
    spark.createDataFrame([(1, None), (2, "a b")], schema).coalesce(1).write.parquet(
        str(d / "f0.parquet")
    )
    spark.createDataFrame([(None, "c"), (4, None)], schema).coalesce(1).write.parquet(
        str(d / "f1.parquet")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    S.run_available_now(
        S.stateful_dedup_stream(stream, "text", "doc_id"),
        "stateful_dedup_null_t",
        output_mode="update",
    )
    got = {
        (r["h"], r["keep_id"])
        for r in spark.table("stateful_dedup_null_t")
        .groupBy("h")
        .agg(F.min("keep_id").alias("keep_id"))
        .collect()
    }
    batch = {
        (r["h"], r["keep_id"])
        for r in S.stateful_dedup_stream(
            spark.read.parquet(str(d) + "/*"), "text", "doc_id"
        ).collect()
    }
    md5 = {
        t: spark.range(1).select(F.md5(F.lit(t))).first()[0] for t in ("a b", "c")
    }
    assert got == batch == {(md5["a b"], 2), (md5["c"], None), (None, 1)}


def test_interval_join_stream_equals_batch(spark, event_dir, batch_events):
    err = batch_events.filter(F.col("event_type") == "error")
    clicks = batch_events.filter(F.col("event_type") == "click")
    batch = _canon(
        S.interval_join_stream(err, clicks).select(
            "l_event_id", "r_event_id"
        ).collect()
    )
    s_err = S.read_event_stream(spark, event_dir).filter(
        F.col("event_type") == "error"
    )
    s_clicks = S.read_event_stream(spark, event_dir).filter(
        F.col("event_type") == "click"
    )
    S.run_available_now(
        S.interval_join_stream(s_err, s_clicks), "t_ij_stream"
    )
    got = _canon(
        spark.table("t_ij_stream").select("l_event_id", "r_event_id").collect()
    )
    assert got == batch and len(got) > 0


def test_interval_join_stream_multi_batch(spark, tmp_path, batch_events):
    """Split the input into two files delivered as separate micro-
    batches (maxFilesPerTrigger=1): pairs whose members arrive in
    DIFFERENT batches must still match via the buffered join state."""
    d = tmp_path / "ij_multi"
    d.mkdir()
    rows = batch_events.orderBy("event_id").collect()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        spark.createDataFrame(chunk, S.pipelines.EVENT_SCHEMA).coalesce(
            1
        ).write.parquet(str(d / f"b{i}"))
    # landing dir = the part files of both chunks
    land = tmp_path / "ij_land"
    land.mkdir()
    import glob
    import shutil as sh

    for i, b in enumerate(sorted(glob.glob(str(d / "b*" / "part-*.parquet")))):
        sh.copy(b, land / f"file-{i}.parquet")

    err = S.read_event_stream(spark, str(land), max_files_per_trigger=1).filter(
        F.col("event_type") == "error"
    )
    clicks = S.read_event_stream(spark, str(land), max_files_per_trigger=1).filter(
        F.col("event_type") == "click"
    )
    S.run_available_now(S.interval_join_stream(err, clicks), "t_ij_multi")
    got = _canon(
        spark.table("t_ij_multi").select("l_event_id", "r_event_id").collect()
    )
    b_err = batch_events.filter(F.col("event_type") == "error")
    b_clicks = batch_events.filter(F.col("event_type") == "click")
    exp = _canon(
        S.interval_join_stream(b_err, b_clicks).select(
            "l_event_id", "r_event_id"
        ).collect()
    )
    assert got == exp and len(got) > 0


def test_budget_filter_stream_single_batch_equals_batch(spark, tmp_path):
    # applyInPandasWithState path: one staged file -> one
    # micro-batch -> admission order is doc_id order, so the result
    # must equal the batch cumsum twin exactly
    d = tmp_path / "budget_land"
    d.mkdir()
    rows = [(i, ["en", "fr"][i % 2], 30 + (i * 7) % 50) for i in range(40)]
    bdf = spark.createDataFrame(rows, "doc_id bigint, lang string, n_toks bigint")
    bdf.coalesce(1).write.parquet(str(d / "f0.parquet"))

    stream = spark.readStream.schema("doc_id bigint, lang string, n_toks bigint").parquet(
        str(d) + "/*"
    )
    S.run_available_now(
        S.budget_filter_stream(stream, "n_toks", "lang", budget=300, id_col="doc_id"),
        "budget_t",
        output_mode="append",
    )
    got = sorted(r["doc_id"] for r in spark.table("budget_t").collect())
    batch = sorted(
        r["doc_id"]
        for r in S.budget_filter_stream(
            bdf, "n_toks", "lang", budget=300, id_col="doc_id"
        ).collect()
    )
    assert got == batch
    assert 0 < len(got) < 40
    # budget respected per stratum
    kept = spark.table("budget_t")
    for r in kept.groupBy("lang").agg(F.sum("n_toks").alias("s")).collect():
        assert r["s"] <= 300


def test_budget_filter_stream_state_carries_across_batches(spark, tmp_path):
    # batch 1 spends most of the budget; batch 2's rows are admitted
    # against the carried running total (state), not a fresh budget —
    # and the prefix rule means the first overflow closes the stratum
    d = tmp_path / "budget_land2"
    d.mkdir()
    spark.createDataFrame(
        [(1, "en", 200), (2, "en", 50)], "doc_id bigint, lang string, n_toks bigint"
    ).coalesce(1).write.parquet(str(d / "f0.parquet"))
    spark.createDataFrame(
        [(3, "en", 100), (4, "en", 40), (5, "fr", 10)],
        "doc_id bigint, lang string, n_toks bigint",
    ).coalesce(1).write.parquet(str(d / "f1.parquet"))

    stream = (
        spark.readStream.schema("doc_id bigint, lang string, n_toks bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    S.run_available_now(
        S.budget_filter_stream(stream, "n_toks", "lang", budget=300, id_col="doc_id"),
        "budget_t2",
        output_mode="append",
    )
    got = sorted(r["doc_id"] for r in spark.table("budget_t2").collect())
    # en: 200+50 admitted in batch 1 (total 250); batch 2 doc 3 takes
    # the running total to 350 > 300 -> dropped, and doc 4 counts after
    # it (390) -> dropped too (strict prefix). fr: fresh stratum, kept.
    assert got == [1, 2, 5]


def test_budget_filter_multi_chunk_group_stays_id_ordered(spark, tmp_path):
    """A stratum spanning MULTIPLE Arrow chunks within one micro-batch
    must still admit in global doc_id order. The fixture's physical row
    order is doc_id-DESCENDING, so per-chunk admission (the bug: sort
    each pandas chunk independently) would admit high ids from the
    first chunk and diverge from the batch cumsum twin."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "budget_chunks"
    d.mkdir()
    ids = list(range(40, 0, -1))  # descending physical order
    tbl = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "lang": pa.array(["en"] * 40),
            "n_toks": pa.array([10] * 40, pa.int64()),
        }
    )
    pq.write_table(tbl, str(d / "f0.parquet"))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
    try:
        stream = spark.readStream.schema(
            "doc_id bigint, lang string, n_toks bigint"
        ).parquet(str(d) + "/*")
        S.run_available_now(
            S.budget_filter_stream(
                stream, "n_toks", "lang", budget=100, id_col="doc_id"
            ),
            "budget_chunked",
            output_mode="append",
        )
        got = sorted(r["doc_id"] for r in spark.table("budget_chunked").collect())
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    # budget 100 / 10 toks -> exactly the ten LOWEST ids, not the first
    # chunk's high ids
    assert got == list(range(1, 11))


def test_budget_filter_checkpoint_restart(spark, tmp_path):
    """Kill-and-resume: run the stream over file 1 with a checkpoint,
    let the query terminate, stage file 2, restart from the SAME
    checkpoint — the carried state must make the union of both runs'
    admissions equal one continuous run over both files (the stateful
    operator's real failure mode at scale is losing/duplicating the
    running total across restarts)."""
    land = tmp_path / "budget_ckpt_land"
    land.mkdir()
    out = str(tmp_path / "budget_ckpt_out")
    ckpt = str(tmp_path / "budget_ckpt")

    def run_once():
        stream = spark.readStream.schema(
            "doc_id bigint, lang string, n_toks bigint"
        ).parquet(str(land) + "/*")
        q = (
            S.budget_filter_stream(
                stream, "n_toks", "lang", budget=300, id_col="doc_id"
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [(1, "en", 200), (2, "en", 50)], "doc_id bigint, lang string, n_toks bigint"
    ).coalesce(1).write.parquet(str(land / "f0.parquet"))
    run_once()  # first incarnation: admits 1, 2 (total 250), then stops

    spark.createDataFrame(
        [(3, "en", 100), (4, "en", 40), (5, "fr", 10)],
        "doc_id bigint, lang string, n_toks bigint",
    ).coalesce(1).write.parquet(str(land / "f1.parquet"))
    run_once()  # resumed incarnation: state must carry total=250

    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    # identical to the continuous-run expectation in
    # test_budget_filter_stream_state_carries_across_batches:
    # en doc 3 overflows (350>300) and doc 4 counts after it -> both
    # dropped; fr doc 5 is a fresh stratum
    assert got == [1, 2, 5]


def test_budget_filter_rejects_bad_budget(spark):
    df = spark.createDataFrame([(1, "en", 5)], "doc_id bigint, lang string, n_toks bigint")
    with pytest.raises(ValueError):
        S.budget_filter_stream(df, "n_toks", "lang", budget=0, id_col="doc_id")


def test_embed_on_stream_equals_batch(spark, tmp_path):
    """The embedder's SCALAR_ITER pandas_udf is stream-compatible:
    embedding a document stream micro-batch-wise must produce exactly
    the batch embeddings (the incremental-ingest embed pipeline)."""
    from tidyvec_spark.embedders.hf import HFEmbedder

    d = tmp_path / "embed_land"
    d.mkdir()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    docs.coalesce(1).write.parquet(str(d / "f0.parquet"))

    emb = HFEmbedder("fake-model", modality="text", fake_dim=16)
    stream = spark.readStream.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).parquet(str(d) + "/*")
    S.run_available_now(
        emb.embed_column(stream, "text", "embedding").select("doc_id", "embedding"),
        "embed_stream_t",
        output_mode="append",
    )
    got = {
        r["doc_id"]: [round(float(x), 6) for x in r["embedding"]]
        for r in spark.table("embed_stream_t").collect()
    }
    batch = {
        r["doc_id"]: [round(float(x), 6) for x in r["embedding"]]
        for r in emb.embed_column(
            spark.read.parquet(str(d) + "/*"), "text", "embedding"
        ).select("doc_id", "embedding").collect()
    }
    assert got == batch and len(got) == 50


def test_near_dup_pairs_stream_across_batches(spark, tmp_path):
    """Pairs whose members arrive in DIFFERENT micro-batches must still
    be discovered via the band-bucket state: originals land in batch 1,
    truncated near-copies in batch 2; the union of emissions (distinct
    across bands) equals the batch banded self-join's candidate set."""
    import __spark_entry__ as entry

    corpus = entry._dup_corpus(spark, "/root/testdata/sf0.001")
    d = tmp_path / "pairs_land"
    d.mkdir()
    corpus.filter(F.col("doc_id") < 10000).coalesce(1).write.parquet(
        str(d / "f0.parquet")
    )
    corpus.filter(F.col("doc_id") >= 10000).coalesce(1).write.parquet(
        str(d / "f1.parquet")
    )
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    S.run_available_now(
        S.near_dup_pairs_stream(stream, "text", "doc_id"),
        "t_near_pairs",
        output_mode="append",
    )
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in spark.table("t_near_pairs").distinct().collect()
    )
    exp = sorted(
        (r["id_a"], r["id_b"])
        for r in S.near_dup_pairs_stream(corpus, "text", "doc_id").collect()
    )
    assert got == exp and len(got) > 0
    # every original/truncated-copy pair crosses the batch boundary —
    # proof the bucket state carried members across micro-batches
    cross = [(a, b) for a, b in got if a < 10000 <= b]
    assert len(cross) > 0


def test_ingest_dedup_stream_vs_batch(spark, tmp_path):
    """Stream-static ingest dedup: rows already in the index never
    emit; in-stream dups collapse to keep-min across micro-batches;
    result equals the batch twin on the same files."""
    d = tmp_path / "ingest_land"
    d.mkdir()
    spark.createDataFrame(
        [(10, "known text"), (11, "fresh one"), (12, "fresh two")],
        "doc_id bigint, text string",
    ).coalesce(1).write.parquet(str(d / "f0.parquet"))
    spark.createDataFrame(
        [(5, "fresh  one"), (13, "known  text"), (14, "fresh three")],
        "doc_id bigint, text string",
    ).coalesce(1).write.parquet(str(d / "f1.parquet"))

    from tidyvec_spark.operators.dedup import normalized_text_key

    index = spark.createDataFrame([("known text",)], "text string").select(
        normalized_text_key("text").alias("h")
    )

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    S.run_available_now(
        S.ingest_dedup_stream(stream, index, "text", "doc_id"),
        "ingest_dedup_t",
        output_mode="update",
    )
    got = {
        r["h"]: r["keep_id"]
        for r in spark.table("ingest_dedup_t")
        .groupBy("h")
        .agg(F.min("keep_id").alias("keep_id"))
        .collect()
    }
    batch = {
        r["h"]: r["keep_id"]
        for r in S.ingest_dedup_stream(
            spark.read.parquet(str(d) + "/*"), index, "text", "doc_id"
        ).collect()
    }
    assert got == batch
    kept = set(got.values())
    # "known text" (ids 10, 13) is in the index -> never admitted;
    # "fresh one" collapses across batches to the later-arriving min 5
    assert kept == {5, 12, 14}


def test_ingest_dedup_checkpoint_restart(spark, tmp_path):
    """Kill-and-resume for the ingest operator: keep-min state must
    survive the restart so a duplicate arriving in the second
    incarnation does not re-admit (and a smaller id still re-emits)."""
    land = tmp_path / "ingest_ckpt_land"
    land.mkdir()
    ckpt = str(tmp_path / "ingest_ckpt")

    from tidyvec_spark.operators.dedup import normalized_text_key

    index = spark.createDataFrame([("indexed doc",)], "text string").select(
        normalized_text_key("text").alias("h")
    )

    # update-mode output (the keep-min re-emits on improvement) with
    # checkpoint recovery -> foreachBatch appending to parquet (memory
    # sinks cannot recover, file sinks cannot take update mode)
    out = str(tmp_path / "ingest_ckpt_out")

    def run_once():
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(
            str(land) + "/*"
        )

        def sink(batch_df, _batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            S.ingest_dedup_stream(stream, index, "text", "doc_id")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [(10, "fresh alpha"), (11, "indexed doc")], "doc_id bigint, text string"
    ).coalesce(1).write.parquet(str(land / "f0.parquet"))
    run_once()  # admits 10 only (11 is in the static index)

    spark.createDataFrame(
        [(12, "fresh  alpha"), (3, "fresh alpha"), (13, "fresh beta")],
        "doc_id bigint, text string",
    ).coalesce(1).write.parquet(str(land / "f1.parquet"))
    run_once()  # dup of alpha must not re-admit at 12; 3 improves the min

    got = (
        spark.read.parquet(out)
        .groupBy("h")
        .agg(F.min("keep_id").alias("keep_id"))
        .collect()
    )
    kept = sorted(r["keep_id"] for r in got)
    # alpha resolved to min id 3 across incarnations; beta admitted;
    # the indexed doc never appears
    assert kept == [3, 13]


def test_near_dup_pairs_checkpoint_restart(spark, tmp_path):
    """Kill-and-resume for the band-bucket state: near-copies arriving
    AFTER the restart must still pair with originals seen BEFORE it —
    the bucket member lists must survive in the checkpoint."""
    import __spark_entry__ as entry

    corpus = entry._dup_corpus(spark, "/root/testdata/sf0.001")
    land = tmp_path / "pairs_ckpt_land"
    land.mkdir()
    out = str(tmp_path / "pairs_ckpt_out")
    ckpt = str(tmp_path / "pairs_ckpt")

    def run_once():
        stream = spark.readStream.schema("doc_id bigint, text string").parquet(
            str(land) + "/*"
        )
        q = (
            S.near_dup_pairs_stream(stream, "text", "doc_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    corpus.filter(F.col("doc_id") < 10000).coalesce(1).write.parquet(
        str(land / "f0.parquet")
    )
    run_once()
    corpus.filter(F.col("doc_id") >= 10000).coalesce(1).write.parquet(
        str(land / "f1.parquet")
    )
    run_once()

    got = sorted(
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(out).distinct().collect()
    )
    exp = sorted(
        (r["id_a"], r["id_b"])
        for r in S.near_dup_pairs_stream(corpus, "text", "doc_id").collect()
    )
    assert got == exp and len(got) > 0
    # cross-incarnation pairs prove the state survived the restart
    assert any(a < 10000 <= b for a, b in got)


def test_near_dup_pairs_stream_horizon_ttl(spark, tmp_path):
    """Dedup-horizon mode (r5 verdict item 2): pairs form only within
    |Δt| <= horizon; bucket members a full horizon behind the
    watermark are evicted and idle buckets drop their state via an
    event-time timeout. Checkpoint-restart between every arrival wave
    proves in-horizon pairs survive a restart while stale members
    never pair again. Batch twin: banded self-join + the same |Δt|
    predicate."""
    base = "spark streaming near duplicate horizon eviction test corpus"

    def doc(i, minute):
        return (i, f"{base} variant {i % 2}", f"2026-01-01 00:{minute:02d}:00")

    rows = [
        doc(1, 0), doc(2, 0),     # wave 1
        doc(3, 5),                # wave 2: within 10 min of 1,2
        doc(4, 50), doc(5, 55),   # wave 3: > 10 min after 1-3
        doc(6, 59),               # wave 4: within 10 min of 4,5
    ]
    schema = "doc_id bigint, text string, ts string"
    land = tmp_path / "ttl_land"
    land.mkdir()
    out = str(tmp_path / "ttl_out")
    ckpt = str(tmp_path / "ttl_ckpt")

    def write_wave(name, sel):
        spark.createDataFrame(sel, schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.parquet(str(land / name))

    def run_once():
        stream = (
            spark.readStream.schema("doc_id bigint, text string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land) + "/*")
        )
        q = (
            S.near_dup_pairs_stream(
                stream, "text", "doc_id",
                ts_col="ts", horizon_seconds=600,
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    waves = [rows[0:2], rows[2:3], rows[3:5], rows[5:6]]
    for i, w in enumerate(waves):
        write_wave(f"f{i}.parquet", w)
        run_once()  # restart per wave: state must come from the checkpoint

    got = sorted(
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(out).distinct().collect()
    )
    batch = spark.createDataFrame(rows, schema).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    exp = sorted(
        (r["id_a"], r["id_b"])
        for r in S.near_dup_pairs_stream(
            batch, "text", "doc_id", ts_col="ts", horizon_seconds=600
        ).collect()
    )
    assert got == exp and len(got) > 0
    # same-variant pairs inside a horizon pair up; nothing crosses it
    in_horizon = {(4, 6), (1, 3)}  # same-variant (odd/even) & |Δt|<=10min
    assert in_horizon <= set(got)
    stale = [(a, b) for a, b in got if a <= 3 and b >= 4]
    assert stale == [], f"cross-horizon pairs leaked: {stale}"


def test_near_dup_pairs_horizon_edge_is_exact(spark, tmp_path):
    """The horizon compares full event timestamps in batch and stream
    alike: docs 600.8 s apart fall outside H=600 (whole-second
    truncation would keep them), docs 599.8 s and 1.0 s apart fall
    inside."""
    text = "spark streaming near duplicate horizon edge test corpus"
    schema = "doc_id bigint, text string, ts timestamp"
    land = tmp_path / "edge_land"
    land.mkdir()

    def frame(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string, s double").select(
            "doc_id", "text", F.timestamp_seconds("s").alias("ts")
        )

    waves = [[(1, text, 5000.1)], [(2, text, 5600.9), (3, text, 5599.9)]]
    for i, w in enumerate(waves):
        frame(w).coalesce(1).write.parquet(str(land / f"f{i}.parquet"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land) + "/*")
    )
    S.run_available_now(
        S.near_dup_pairs_stream(
            stream, "text", "doc_id", ts_col="ts", horizon_seconds=600
        ),
        "t_near_pairs_edge",
        output_mode="append",
    )
    got = sorted(
        tuple(r) for r in spark.table("t_near_pairs_edge").distinct().collect()
    )
    batch = sorted(
        tuple(r)
        for r in S.near_dup_pairs_stream(
            frame(waves[0] + waves[1]), "text", "doc_id",
            ts_col="ts", horizon_seconds=600,
        ).collect()
    )
    assert got == batch == [(1, 3), (2, 3)]


def test_near_dup_pairs_horizon_validation(spark):
    df = spark.createDataFrame([(1, "x", None)], "doc_id bigint, text string, ts timestamp")
    with pytest.raises(ValueError, match="together"):
        S.near_dup_pairs_stream(df, "text", "doc_id", horizon_seconds=60)
    with pytest.raises(ValueError, match=">= 1"):
        S.near_dup_pairs_stream(df, "text", "doc_id", ts_col="ts", horizon_seconds=0)


def test_zscore_anomaly_stream_equals_batch(spark, tmp_path):
    """Ring-buffer state across micro-batches: events split into two
    ts-ordered files must produce the same anomalies as the batch
    window twin over the whole corpus — boundary events score against
    state carried from the previous batch. Restart between the files
    proves the buffer lives in the checkpoint."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    land = tmp_path / "anom_land"
    land.mkdir()
    out = str(tmp_path / "anom_out")
    ckpt = str(tmp_path / "anom_ckpt")
    # event_id order == ts order in the fixture generator? Use ts sort:
    # split at the median ts so each file is an in-order wave
    ns = S.pipelines.event_ns_of(ev)
    tsmid = ev.select(ns.alias("t")).approxQuantile("t", [0.5], 0.0)[0]
    ev.filter(ns <= tsmid).coalesce(1).write.parquet(str(land / "f0.parquet"))

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(str(land) + "/*")
        q = (
            S.zscore_anomaly_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    ev.filter(ns > tsmid).coalesce(1).write.parquet(str(land / "f1.parquet"))
    run_once()

    got = sorted(
        (r["event_id"], r["event_type"], r["z"])
        for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (r["event_id"], r["event_type"], r["z"])
        for r in S.zscore_anomaly_stream(ev).collect()
    )
    assert got == want and len(got) > 0
    with pytest.raises(ValueError):
        S.zscore_anomaly_stream(ev, window_n=1)


def test_upsert_latest_stream_multi_batch(spark, tmp_path):
    """Latest-wins upsert across micro-batches: a NEWER version for a
    seen key arriving in a later batch must replace state and re-emit;
    an OLDER (out-of-order) version must be ignored. Stream result
    (after the terminal max-by fold) equals the batch fallback."""
    d = tmp_path / "upsert_land"
    d.mkdir()
    spark.createDataFrame(
        [(1, 2, "v2-a"), (2, 1, "v1-b")],
        "k bigint, version int, payload string",
    ).coalesce(1).write.parquet(str(d / "f0.parquet"))
    spark.createDataFrame(
        [(1, 1, "v1-a-late"), (2, 3, "v3-b"), (3, 1, "v1-c")],
        "k bigint, version int, payload string",
    ).coalesce(1).write.parquet(str(d / "f1.parquet"))

    stream = (
        spark.readStream.schema("k bigint, version int, payload string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    S.run_available_now(
        S.upsert_latest_stream(stream, "k", "version", ["payload"]),
        "upsert_latest_t",
        output_mode="update",
    )
    got = {
        r["k"]: (r["version"], r["payload"])
        for r in spark.table("upsert_latest_t")
        .groupBy("k")
        .agg(F.max(F.struct("version", "payload")).alias("w"))
        .select("k", "w.version", "w.payload")
        .collect()
    }
    assert got == {1: (2, "v2-a"), 2: (3, "v3-b"), 3: (1, "v1-c")}
    batch = {
        r["k"]: (r["version"], r["payload"])
        for r in S.upsert_latest_stream(
            spark.read.parquet(str(d) + "/*"), "k", "version", ["payload"]
        ).collect()
    }
    assert batch == got


def test_upsert_latest_checkpoint_restart(spark, tmp_path):
    """Kill-and-resume for the latest-wins state: a key's winning
    version from the FIRST incarnation must survive the restart, so an
    older version arriving after resume is ignored and a newer one
    replaces it."""
    land = tmp_path / "upsert_ckpt_land"
    land.mkdir()
    ckpt = str(tmp_path / "upsert_ckpt")
    out = str(tmp_path / "upsert_ckpt_out")

    def run_once():
        stream = spark.readStream.schema(
            "k bigint, version int, payload string"
        ).parquet(str(land) + "/*")

        def sink(batch_df, _batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            S.upsert_latest_stream(stream, "k", "version", ["payload"])
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [(1, 5, "v5-a"), (2, 1, "v1-b")],
        "k bigint, version int, payload string",
    ).coalesce(1).write.parquet(str(land / "f0.parquet"))
    run_once()

    spark.createDataFrame(
        [(1, 3, "v3-a-stale"), (2, 7, "v7-b")],
        "k bigint, version int, payload string",
    ).coalesce(1).write.parquet(str(land / "f1.parquet"))
    run_once()  # stale v3 for key 1 must NOT re-emit; v7 replaces key 2

    got = {
        r["k"]: (r["version"], r["payload"])
        for r in spark.read.parquet(out)
        .groupBy("k")
        .agg(F.max(F.struct("version", "payload")).alias("w"))
        .select("k", "w.version", "w.payload")
        .collect()
    }
    assert got == {1: (5, "v5-a"), 2: (7, "v7-b")}
    # the stale version must not even appear in the emitted log
    emitted = {
        (r["k"], r["version"])
        for r in spark.read.parquet(out).collect()
    }
    assert (1, 3) not in emitted


def test_upsert_null_value_columns_survive(spark, tmp_path):
    """A NULL value column must not kill the state comparison: the
    non-null revision wins regardless of arrival order."""
    import pandas as pd

    from tidyvec_spark.streaming import run_available_now, upsert_latest_stream

    d = str(tmp_path / "in")
    df = spark.createDataFrame(
        [(1, 1, None), (1, 2, "real"), (2, 1, None)],
        "k long, version int, v string",
    )
    df.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema("k long, version int, v string").parquet(d)
    run_available_now(
        upsert_latest_stream(stream, "k", "version", ["v"]),
        "upsert_null_test",
        output_mode="update",
    )
    rows = {
        r.k: (r.version, r.v)
        for r in spark.table("upsert_null_test").collect()
    }
    assert rows[1] == (2, "real")
    assert rows[2] == (1, None)


_PAIRS_TEXT = "spark streaming native join state eviction test corpus"
_T0 = datetime.datetime(2026, 1, 1)

# kind -> (schema, waves, operator, output mode, plan marker, rows)
_NATIVE_STREAM_CASES = {
    "upsert": (
        "k long, version int, v string",
        [[(1, 1, "a"), (1, 2, "b"), (2, 1, "c")]],
        lambda s: S.upsert_latest_stream(s, "k", "version", ["v"]),
        "update",
        "StateStoreSave",
        [(1, 2, "b"), (2, 1, "c")],
    ),
    "keep_min": (
        "doc_id bigint, text string",
        [[(5, "a b"), (2, "c")], [(3, "A  B")]],
        lambda s: S.stateful_dedup_stream(s, "text", "doc_id"),
        "update",
        "StateStoreSave",
        None,
    ),
    # a horizon run: one wave every 10 minutes against a 1-minute
    # horizon, so each wave's members leave the join state later
    "pairs": (
        "doc_id bigint, text string, ts timestamp",
        [
            [(2 * w, _PAIRS_TEXT, _T0 + datetime.timedelta(minutes=10 * w)),
             (2 * w + 1, _PAIRS_TEXT, _T0 + datetime.timedelta(minutes=10 * w))]
            for w in range(5)
        ],
        lambda s: S.near_dup_pairs_stream(
            s, "text", "doc_id", ts_col="ts", horizon_seconds=60
        ),
        "append",
        "StreamingSymmetricHashJoin",
        [(2 * w, 2 * w + 1) for w in range(5)],
    ),
}


@pytest.mark.parametrize("kind", sorted(_NATIVE_STREAM_CASES))
def test_upsert_stream_plan_is_native_aggregation(spark, tmp_path, kind):
    """The upsert, keep-min and pair operators run as native stateful
    operators: the executed micro-batch plan holds no Python state
    operator (FlatMapGroupsInPandasWithState); the aggregations save
    state through StateStoreSave, the pairs run a stream-stream join
    whose horizon evicts state."""
    schema, waves, op, mode, marker, expect = _NATIVE_STREAM_CASES[kind]
    d = tmp_path / "in"
    d.mkdir()
    for i, w in enumerate(waves):
        spark.createDataFrame(w, schema).coalesce(1).write.parquet(
            str(d / f"f{i}.parquet")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    q = (
        op(stream)
        .writeStream.format("memory")
        .queryName(f"native_plan_{kind}_t")
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    plan = q._jsq.explainInternal(False)
    assert marker in plan
    assert "FlatMapGroupsInPandasWithState" not in plan
    got = sorted(
        tuple(r) for r in spark.table(f"native_plan_{kind}_t").distinct().collect()
    )
    if expect is not None:
        assert got == expect
    if kind == "pairs":
        removed = sum(
            o["numRowsRemoved"] for p in q.recentProgress for o in p["stateOperators"]
        )
        assert removed > 0


def test_heavy_hitters_stream_exact_when_capacity_suffices(spark, tmp_path):
    """With capacity >= distinct keys the Space-Saving summary is
    exact: after both micro-batches the latest per-key estimate equals
    the batch groupBy count, with err = 0."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    n_users = ev.select("user_id").distinct().count()
    d = tmp_path / "hh_land"
    d.mkdir()
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    ev.filter(F.col("event_id") <= mid).coalesce(1).write.parquet(
        str(d / "f0.parquet")
    )
    ev.filter(F.col("event_id") > mid).coalesce(1).write.parquet(
        str(d / "f1.parquet")
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    S.run_available_now(
        S.heavy_hitters_stream(stream, "user_id", capacity=n_users + 10),
        "hh_exact_t",
        output_mode="update",
    )
    emitted = spark.sql("select * from hh_exact_t").collect()
    # update-mode memory sink appends every batch's emission; counts
    # only grow, so the final summary is the max est per key
    got = {}
    for r in emitted:
        got[r["key"]] = max(got.get(r["key"], 0), r["est"])
    want = {
        r["user_id"]: r["cnt"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert got == want
    assert all(r["err"] == 0 for r in emitted)


def test_heavy_hitters_stream_sketch_bounds_under_pressure(spark, tmp_path):
    """capacity << distinct keys: Space-Saving invariants hold —
    sum(est) over the summary equals the items processed, every
    est >= its err, and the top true key is tracked with
    est - err <= true <= est."""
    rows = [(i, "k%d" % (i % 37)) for i in range(400)]
    # heavy key: k1 gets 200 extra
    rows += [(1000 + i, "k1") for i in range(200)]
    df = spark.createDataFrame(rows, "i long, k string")
    d = tmp_path / "hh2_land"
    d.mkdir()
    df.coalesce(1).write.parquet(str(d / "f0.parquet"))
    stream = spark.readStream.schema(df.schema).parquet(str(d) + "/*")
    S.run_available_now(
        S.heavy_hitters_stream(stream, "k", capacity=8),
        "hh_sketch_t",
        output_mode="update",
    )
    got = spark.sql("select * from hh_sketch_t").collect()
    assert len(got) == 8
    assert sum(r["est"] for r in got) == 600  # counters conserve mass
    assert all(0 <= r["err"] <= r["est"] for r in got)
    top = max(got, key=lambda r: r["est"])
    true_k1 = 200 + len([1 for i in range(400) if i % 37 == 1])
    assert top["key"] == "k1"
    assert top["est"] - top["err"] <= true_k1 <= top["est"]


def test_heavy_hitters_batch_twin_topk(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = S.heavy_hitters_stream(ev, "event_type", capacity=3).collect()
    want = (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "event_type")
        .limit(3)
        .collect()
    )
    assert [(r["key"], r["est"], r["err"]) for r in got] == [
        (r["event_type"], r["c"], 0) for r in want
    ]
    with pytest.raises(ValueError):
        S.heavy_hitters_stream(ev, "event_type", capacity=0)


def test_heavy_hitters_checkpoint_recovery(spark, tmp_path):
    """Counter state must survive a restart: wave 1 runs to
    completion, the query stops, wave 2 lands, a NEW query on the same
    checkpoint resumes — final estimates equal the all-data exact
    counts (capacity covers the keys, so any state loss would show as
    undercounts)."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    n_users = ev.select("user_id").distinct().count()
    mid = ev.approxQuantile("event_id", [0.5], 0.0)[0]
    land = tmp_path / "hh_ckpt_land"
    land.mkdir()
    out = str(tmp_path / "hh_ckpt_out")
    ckpt = str(tmp_path / "hh_ckpt")
    ev.filter(F.col("event_id") <= mid).coalesce(1).write.parquet(
        str(land / "f0.parquet")
    )

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(str(land) + "/*")
        hh = S.heavy_hitters_stream(stream, "user_id", capacity=n_users + 10)

        def sink(batch_df, _bid):
            batch_df.write.mode("append").parquet(out)

        q = (
            hh.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    ev.filter(F.col("event_id") > mid).coalesce(1).write.parquet(
        str(land / "f1.parquet")
    )
    run_once()

    emitted = spark.read.parquet(out).collect()
    got = {}
    for r in emitted:
        got[r["key"]] = max(got.get(r["key"], 0), r["est"])
    want = {
        r["user_id"]: r["cnt"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert got == want


def _sess_events(spark, rows):
    """rows: (user_id, epoch_seconds) -> DataFrame with TIMESTAMP ts."""
    return spark.createDataFrame(
        [(u, s) for u, s in rows], "user_id bigint, secs bigint"
    ).select("user_id", F.timestamp_seconds("secs").alias("ts"))


def test_sessionize_stream_closes_on_later_event(spark, tmp_path):
    """A >gap follow-up event in a LATER micro-batch must close the
    session carried in state (closed_by='event'); still-open sessions
    are withheld."""
    t0 = 1_700_000_000
    d = tmp_path / "sess_land"
    d.mkdir()
    _sess_events(spark, [(1, t0), (1, t0 + 60), (2, t0)]).coalesce(1).write.parquet(
        str(d / "f0.parquet")
    )
    _sess_events(spark, [(1, t0 + 4000), (2, t0 + 100)]).coalesce(1).write.parquet(
        str(d / "f1.parquet")
    )
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    S.run_available_now(
        S.sessionize_stream(stream), "sess_cross_batch", output_mode="append"
    )
    got = [
        (r["user_id"], r["start_ns"], r["end_ns"], r["n_events"], r["closed_by"])
        for r in spark.table("sess_cross_batch").collect()
    ]
    ns = 1_000_000_000
    assert got == [(1, t0 * ns, (t0 + 60) * ns, 2, "event")]


def test_sessionize_stream_watermark_timeout_evicts_and_emits(spark, tmp_path):
    """Once the event-time watermark provably passes last_event + gap,
    the open session is emitted as closed_by='watermark' and its state
    evicted; sessions inside the horizon stay withheld."""
    t0 = 1_700_000_000
    d = tmp_path / "sess_wm_land"
    d.mkdir()
    _sess_events(spark, [(1, t0)]).coalesce(1).write.parquet(str(d / "f0.parquet"))
    # a far-future event for ANOTHER user advances the watermark to
    # t0+6h-2h = t0+4h > t0+30min
    _sess_events(spark, [(9, t0 + 6 * 3600)]).coalesce(1).write.parquet(
        str(d / "f1.parquet")
    )
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*")
    )
    S.run_available_now(
        S.sessionize_stream(stream), "sess_wm", output_mode="append"
    )
    got = [
        (r["user_id"], r["n_events"], r["closed_by"])
        for r in spark.table("sess_wm").collect()
    ]
    assert got == [(1, 1, "watermark")]  # user 9 is inside the horizon


def test_sessionize_batch_fallback_drops_each_users_open_session(spark):
    t0 = 1_700_000_000
    df = _sess_events(
        spark,
        [(1, t0), (1, t0 + 10), (1, t0 + 4000), (2, t0), (2, t0 + 5)],
    )
    got = sorted(
        (r["user_id"], r["n_events"], r["closed_by"])
        for r in S.sessionize_stream(df).collect()
    )
    # user 1: first session (2 events) closed by the t0+4000 event;
    # the t0+4000 session and user 2's only session are open -> withheld
    assert got == [(1, 2, "event")]
