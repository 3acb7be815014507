"""Structured Streaming incremental pipeline tests (SURVEY §2.11 T1-T6):
file-tracking exactly-once, incremental star growth, dead-letter channel,
record-level idempotency on replay."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.fixtures import enriched_record, write_json_lines
from ut_data_engineering_group_project_2022_spark.streaming.incremental import (
    IncrementalStarLoader,
)


def test_incremental_stream(spark, tmp_path):
    inbox = tmp_path / "inbox"
    ckpt = str(tmp_path / "ckpt")
    dead = str(tmp_path / "dead")

    write_json_lines(
        inbox,
        "batch1.json",
        [
            enriched_record(1, "Graph Colouring", [("John", "Smith", "MIT"), ("Anna", "Doe", None)]),
            enriched_record(2, "Quantum Things", [("Anna", "Doe", "ETH")], subject="Physics", cites=10),
        ],
    )
    loader = IncrementalStarLoader(spark, dead_letter_dir=dead)
    state = loader.run_available(str(inbox), ckpt)
    assert loader.batches_processed == 1
    assert state.paper_fact.count() == 2
    assert state.dim_author.count() == 2  # John Smith, Anna Doe

    # batch 2: one replayed record (T6), one new paper, one overlong title (T5)
    write_json_lines(
        inbox,
        "batch2.json",
        [
            enriched_record(2, "Quantum Things", [("Anna", "Doe", "ETH")], subject="Physics", cites=10),
            enriched_record(3, "Cells", [("Bob", "Jones", "KCL")], year=2008, subject="Biology"),
            enriched_record(4, "T" * 1001, [("Kim", "Lee", None)]),
        ],
    )
    state = loader.run_available(str(inbox), ckpt)
    assert loader.batches_processed == 2
    # replay not re-inserted; overlong rejected; only "Cells" is new
    assert state.paper_fact.count() == 3
    assert state.dim_author.filter(F.col("full_name") == "Kim Lee").count() == 0
    rejected = spark.read.json(dead)
    assert rejected.count() == 1
    assert rejected.collect()[0]["_reject_reason"] == "title_too_long"

    # third tick with no new files: the checkpoint suppresses reprocessing
    state = loader.run_available(str(inbox), ckpt)
    assert state.paper_fact.count() == 3

    # metrics refreshed incrementally for touched authors (T4)
    rows = {r["full_name"]: r for r in state.dim_author.collect()}
    assert rows["Anna Doe"]["h_index"] == 2  # cites [3, 10]
    assert rows["Bob Jones"]["h_index"] == 1


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """A NEW loader with the same checkpoint sees only post-checkpoint
    files — the sensor/delete dance (ref pop_DWH.py:25-41,306-307)
    replaced by checkpointed file tracking."""
    inbox = tmp_path / "inbox"
    ckpt = str(tmp_path / "ckpt")

    write_json_lines(inbox, "b1.json", [enriched_record(1, "One", [("A", "B", None)])])
    first = IncrementalStarLoader(spark)
    state1 = first.run_available(str(inbox), ckpt)
    assert state1.paper_fact.count() == 1

    write_json_lines(inbox, "b2.json", [enriched_record(2, "Two", [("C", "D", None)])])
    resumed = IncrementalStarLoader(spark, initial_state=state1)
    state2 = resumed.run_available(str(inbox), ckpt)
    assert resumed.batches_processed == 1  # only b2.json
    assert state2.paper_fact.count() == 2


def test_windowed_streams_match_batch(spark, tmp_path):
    """Streaming event-time windows (tumbling + session) over a file
    stream produce exactly the batch-computed result once all data is
    processed (availableNow drains the backlog, so no rows are late)."""
    from ut_data_engineering_group_project_2022_spark.catalog import table
    from ut_data_engineering_group_project_2022_spark.streaming import windows

    events = table(spark, "/root/testdata/sf0.001", "events").limit(400)
    inbox = tmp_path / "events_in"
    inbox.mkdir()
    events.coalesce(1).write.mode("overwrite").parquet(str(inbox / "p"))

    stream = spark.readStream.schema(events.schema).parquet(str(inbox / "p"))

    out = windows.tumbling_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("tumbled")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.sql("SELECT * FROM tumbled").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in windows.tumbling_counts(events).collect()
    }
    assert got == want and len(want) > 0

    sess_q = (
        windows.session_counts(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    sess_q.awaitTermination(120)
    got_s = spark.sql("SELECT * FROM sessions").count()
    want_s = windows.session_counts(events).count()
    assert got_s == want_s and want_s > 0


def test_stateful_sessionize_across_batches(spark, tmp_path):
    """applyInPandasWithState sessionization: the open session survives in
    the state store between availableNow runs; a session is emitted only
    when a later event (possibly batches later) proves it closed."""
    import datetime as dt

    from ut_data_engineering_group_project_2022_spark.streaming import stateful

    t0 = dt.datetime(2024, 1, 1, 8, 0, 0)
    inbox = tmp_path / "sess_in"
    inbox.mkdir()
    ckpt = str(tmp_path / "sess_ckpt")
    schema = "user_id bigint, ts timestamp"

    def run(name):
        stream = spark.readStream.schema(schema).parquet(str(inbox))
        rows = []
        q = (
            stateful.streaming_sessionize(stream, gap_seconds=1800)
            .writeStream.foreachBatch(lambda df, _id: rows.extend(df.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return rows

    # batch 1: two events 10 min apart -> one OPEN session, nothing emitted
    spark.createDataFrame(
        [(1, t0), (1, t0 + dt.timedelta(minutes=10))], schema
    ).write.mode("append").parquet(str(inbox))
    assert run("sess_b1") == []

    # batch 2: an event 60 min later closes the first session; a second
    # user appears (stays open)
    spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=70)), (2, t0)], schema
    ).write.mode("append").parquet(str(inbox))
    rows = run("sess_b2")
    assert len(rows) == 1
    r = rows[0]
    assert r["user_id"] == 1 and r["n_events"] == 2
    assert r["session_start"] == t0
    assert r["session_end"] == t0 + dt.timedelta(minutes=10)


def test_stateful_dedup_first_wins_across_batches(spark, tmp_path):
    """applyInPandasWithState keep-first dedup: a text hash emitted in an
    earlier micro-batch suppresses every later copy (state flag per hash)."""
    from pyspark.sql import functions as F

    from ut_data_engineering_group_project_2022_spark.streaming import stateful

    inbox = tmp_path / "dedup_in"
    inbox.mkdir()
    ckpt = str(tmp_path / "dedup_ckpt")
    schema = "doc_id bigint, text string"

    def run(name):
        stream = (
            spark.readStream.schema(schema)
            .parquet(str(inbox))
            .withColumn("text_hash", F.md5("text"))
        )
        rows = []
        q = (
            stateful.streaming_dedup_first_wins(stream)
            .writeStream.foreachBatch(lambda df, _id: rows.extend(df.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return rows

    # batch 1: two distinct texts, one within-batch duplicate
    spark.createDataFrame(
        [(3, "alpha"), (1, "alpha"), (2, "beta")], schema
    ).write.mode("append").parquet(str(inbox))
    got1 = {(r["doc_id"], r["text"]) for r in run("dedup_b1")}
    assert got1 == {(1, "alpha"), (2, "beta")}  # keep-first = lowest doc_id

    # batch 2: a cross-batch duplicate and one new text
    spark.createDataFrame(
        [(4, "alpha"), (5, "gamma")], schema
    ).write.mode("append").parquet(str(inbox))
    got2 = {(r["doc_id"], r["text"]) for r in run("dedup_b2")}
    assert got2 == {(5, "gamma")}


def test_incremental_neardup_two_batch_replay(spark):
    """X52's defining append-time behavior (asked rounds 2-3): run TWO
    consecutive batches against a corpus that grows between them. A
    batch-2 doc that near-dups a batch-1 doc must be caught — proving
    batch-1 admissions really join the corpus signature set — and a
    replay of batch 2 must be byte-identical (idempotent append path)."""
    from ut_data_engineering_group_project_2022_spark.operators.dedup import (
        incremental_neardup,
    )

    def doc(i, text):
        return (i, text)

    schema = "doc_id bigint, text string"
    words = "the quick brown fox jumps over a lazy dog near the old stone bridge"
    novel1 = "orbits of small moons precess slowly under tidal torque each year"
    base = [
        doc(1, words + " at dawn"),
        doc(2, "entropy always increases in closed systems over long spans"),
        doc(3, "rivers carve canyons through soft rock given enough time"),
        doc(4, "markets clear when prices adjust to match supply and demand"),
    ]
    corpus0 = spark.createDataFrame(base, schema)

    # batch 1: one exact dup of corpus doc 2, one novel doc
    batch1 = spark.createDataFrame(
        [doc(101, base[1][1]), doc(102, novel1)], schema
    )
    r1 = {r["doc_id"]: r for r in incremental_neardup(batch1, corpus0).collect()}
    assert r1[101]["is_dup"] and r1[101]["match_id"] == 2
    assert not r1[102]["is_dup"] and r1[102]["match_id"] is None

    # corpus grows by the admitted batch (the append path)
    corpus1 = corpus0.unionByName(batch1)

    # batch 2: near-dup of BATCH-1's novel doc (one word changed), exact
    # dup of an original corpus doc, and a novel doc
    near_102 = novel1.replace("year", "orbit")
    batch2 = spark.createDataFrame(
        [
            doc(201, near_102),
            doc(202, base[2][1]),
            doc(203, "glaciers retreat uphill as summer melt outpaces snowfall"),
        ],
        schema,
    )
    r2 = {r["doc_id"]: r for r in incremental_neardup(batch2, corpus1).collect()}
    assert r2[201]["is_dup"] and r2[201]["match_id"] == 102, (
        "batch-2 near-dup against a batch-1 admission must be caught"
    )
    assert r2[202]["is_dup"] and r2[202]["match_id"] == 3
    assert not r2[203]["is_dup"]

    # replay batch 2: identical verdicts (deterministic md5 signatures)
    r2b = {r["doc_id"]: r for r in incremental_neardup(batch2, corpus1).collect()}
    assert r2 == r2b


def test_bounded_state_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates inside the horizon are
    suppressed (within and across batches); once the watermark passes a
    hash's first-seen event time its state is evicted and a later copy
    is re-emitted — the bounded-state trade documented on the builder."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ut_data_engineering_group_project_2022_spark.streaming import stateful

    inbox = tmp_path / "wdedup_in"
    inbox.mkdir()
    ckpt = str(tmp_path / "wdedup_ckpt")
    schema = "doc_id bigint, text string, ts timestamp"
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def run():
        stream = (
            spark.readStream.schema(schema)
            .parquet(str(inbox))
            .withColumn("text_hash", F.md5("text"))
        )
        rows = []
        q = (
            stateful.streaming_dedup_bounded_state(stream)
            .writeStream.foreachBatch(lambda df, _id: rows.extend(df.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {(r["text"], r["ts"]) for r in rows}

    def feed(*rows):
        spark.createDataFrame(list(rows), schema).write.mode("append").parquet(
            str(inbox)
        )

    # b1: within-batch duplicate inside the horizon -> one alpha out.
    feed((1, "alpha", t0), (2, "alpha", t0 + dt.timedelta(minutes=1)),
         (3, "beta", t0))
    got = run()
    assert len([r for r in got if r[0] == "alpha"]) == 1
    assert len([r for r in got if r[0] == "beta"]) == 1

    # b2: cross-batch duplicate still inside the horizon -> suppressed.
    feed((4, "alpha", t0 + dt.timedelta(minutes=5)),
         (5, "gamma", t0 + dt.timedelta(minutes=6)))
    got = run()
    assert got == {("gamma", t0 + dt.timedelta(minutes=6))}

    # b3+b4: advance event time far beyond the horizon; the evicted hash
    # is re-emitted as new (the documented bounded-state trade).
    feed((6, "delta", t0 + dt.timedelta(hours=3)))
    run()  # advances the watermark past alpha's first-seen time
    feed((7, "alpha", t0 + dt.timedelta(hours=3, minutes=1)))
    got = run()
    assert got == {("alpha", t0 + dt.timedelta(hours=3, minutes=1))}
