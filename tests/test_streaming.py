"""Structured Streaming tests: file-source stream with availableNow catch-up
must produce exactly the batch answer for the same windows, and session
windows must match the registered batch twin."""

import json
import os

import pytest
from pyspark.sql import functions as F

from aws_logs_parquet_converter_spark.streaming.events import (
    read_event_stream,
    run_available_now,
    sessionized,
    windowed_counts,
)

ROWS = [
    # user 1: two sessions (gap > 30 min between e2 and e3)
    (1, "2024-01-01 10:00:00.000000", 7, "click", 1.0),
    (2, "2024-01-01 10:10:00.000000", 7, "click", 2.0),
    (3, "2024-01-01 11:30:00.000000", 7, "view", 3.0),
    # user 8: single session spanning an hour boundary
    (4, "2024-01-01 10:55:00.000000", 8, "click", 4.0),
    (5, "2024-01-01 11:05:00.000000", 8, "error", 5.0),
]


def _write_events(dirname: str) -> None:
    os.makedirs(dirname, exist_ok=True)
    with open(os.path.join(dirname, "part1.json"), "w") as f:
        for eid, ts, uid, etype, val in ROWS:
            f.write(
                json.dumps(
                    {"event_id": eid, "ts": ts, "user_id": uid, "event_type": etype,
                     "value": val, "props": "{}"}
                )
                + "\n"
            )


def test_stream_windowed_counts_match_batch(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    _write_events(src)
    stream = read_event_stream(spark, src)
    assert stream.isStreaming
    run_available_now(
        windowed_counts(stream), "win_counts", str(tmp_path / "ckpt1"), output_mode="update"
    )
    got = {
        (str(r.window_start), r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = spark.read.json(src).withColumn("ts", F.to_timestamp("ts"))
    expected = {
        (str(r.window_start), r.event_type): (r.n_events, r.total_value)
        for r in (
            batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
            .collect()
        )
    }
    assert got == expected
    assert got[("2024-01-01 10:00:00", "click")] == (3, 7.0)


def test_stream_sessionize(spark, tmp_path):
    src = str(tmp_path / "sess_src")
    _write_events(src)
    stream = read_event_stream(spark, src)
    # session-window streaming aggregations only support append/complete
    run_available_now(
        sessionized(stream), "sessions", str(tmp_path / "ckpt2"), output_mode="complete"
    )
    rows = {
        (r.user_id, str(r.session_start)): r.n_events
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    # user 7 splits into two sessions (80-minute gap); user 8 merges (10-minute gap)
    assert rows == {
        (7, "2024-01-01 10:00:00"): 2,
        (7, "2024-01-01 11:30:00"): 1,
        (8, "2024-01-01 10:55:00"): 2,
    }


def test_stream_incremental_second_batch(spark, tmp_path):
    """Checkpointed availableNow runs process each input file exactly once —
    the streaming equivalent of the reference's idempotent daily batches."""
    src = str(tmp_path / "inc_src")
    sink = str(tmp_path / "inc_sink")
    ckpt = str(tmp_path / "ckpt3")
    _write_events(src)

    def run_once():
        q = (
            read_event_stream(spark, src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(sink).count() == len(ROWS)
    # new file arrives; rerun processes ONLY the new file (no reprocessing)
    with open(os.path.join(src, "part2.json"), "w") as f:
        f.write(
            json.dumps(
                {"event_id": 6, "ts": "2024-01-01 11:40:00.000000", "user_id": 7,
                 "event_type": "click", "value": 6.0, "props": "{}"}
            )
            + "\n"
        )
    run_once()
    assert spark.read.parquet(sink).count() == len(ROWS) + 1


def test_stateful_user_totals_matches_batch(spark, tmp_path):
    from aws_logs_parquet_converter_spark.streaming.events import stateful_user_totals

    src = str(tmp_path / "stateful_src")
    _write_events(src)
    run_available_now(
        stateful_user_totals(read_event_stream(spark, src)),
        "user_totals",
        str(tmp_path / "ckpt_state"),
        output_mode="update",
    )
    got = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in spark.sql("SELECT * FROM user_totals").collect()
    }
    batch = {
        r.user_id: (r.n, round(r.tot, 6))
        for r in (
            spark.read.json(src)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("tot"))
            .collect()
        )
    }
    assert got == batch


def test_watermark_drops_late_events(spark, tmp_path):
    """Events older than the watermark are DROPPED in append mode — the
    documented late-data policy (the reference instead re-runs a whole day)."""
    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "ckpt_late")
    _write_events(src)  # events at 2024-01-01 10:00 .. 11:30

    sink = str(tmp_path / "late_sink")

    def run_once():
        q = (
            windowed_counts(read_event_stream(spark, src), window="1 hour", watermark="30 minutes")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # batch 2: one event FAR older than max_seen(11:30) - 30min watermark
    with open(os.path.join(src, "late.json"), "w") as f:
        f.write(
            json.dumps(
                {"event_id": 99, "ts": "2024-01-01 08:00:00.000000", "user_id": 7,
                 "event_type": "click", "value": 9.9, "props": "{}"}
            )
            + "\n"
        )
    run_once()
    # batch 3: a future event pushes the watermark far past 09:00 — if the
    # late row had survived in state, its 08:00 window would emit NOW
    with open(os.path.join(src, "future.json"), "w") as f:
        f.write(
            json.dumps(
                {"event_id": 100, "ts": "2024-01-01 14:00:00.000000", "user_id": 7,
                 "event_type": "view", "value": 1.0, "props": "{}"}
            )
            + "\n"
        )
    run_once()
    got = spark.read.parquet(sink).collect()
    assert len(got) > 0
    # every on-time window eventually emitted, the late 08:00 window never
    assert any(str(r.window_start).startswith("2024-01-01 10") for r in got)
    assert not any(str(r.window_start).startswith("2024-01-01 08") for r in got)


def test_foreach_batch_snapshot_publish_idempotent(spark, tmp_path):
    """foreachBatch + complete mode + overwrite = exactly-once snapshot
    publication to plain parquet: the published table equals the batch
    answer, and an independent replay (fresh checkpoint, same input)
    publishes the identical snapshot."""
    from aws_logs_parquet_converter_spark.streaming.events import (
        publish_snapshot_available_now,
        read_event_stream,
        windowed_counts,
    )

    src = str(tmp_path / "events_in")
    _write_events(src)
    dest = str(tmp_path / "published")

    def run(cp: str):
        stream = windowed_counts(read_event_stream(spark, src))
        publish_snapshot_available_now(stream, dest, str(tmp_path / cp))
        return {
            (r.window_start, r.event_type): (r.n_events, r.total_value)
            for r in spark.read.parquet(dest).collect()
        }

    first = run("cp1")
    # batch twin over the same files
    batch = (
        spark.read.schema(
            "event_id bigint, ts string, user_id bigint, event_type string, "
            "value double, props string"
        )
        .json(src)
        .select(F.to_timestamp("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
                "event_type", "value")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
    )
    expected = {
        (r.w.start, r.event_type): (r.n, r.tv) for r in batch.collect()
    }
    assert first == expected
    assert run("cp2") == first  # replay publishes the identical snapshot


def test_transform_with_state_matches_batch(spark, tmp_path):
    """Spark 4 transformWithStateInPandas twin of the applyInPandasWithState
    operator: running per-user totals equal the batch groupBy answer after
    availableNow catch-up."""
    import pytest

    from aws_logs_parquet_converter_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        stateful_user_totals_tws,
        tws_available,
    )

    if not tws_available():
        pytest.skip("transformWithStateInPandas needs protobuf (absent here)")

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    src = str(tmp_path / "ev")
    _write_events(src)
    stream = stateful_user_totals_tws(read_event_stream(spark, src))
    run_available_now(stream, "tws_totals", str(tmp_path / "cp"), output_mode="update")
    try:
        got = {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.sql("SELECT * FROM tws_totals").collect()
        }
        assert got == {7: (3, 6.0), 8: (2, 9.0)}
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_window_state_recovers_across_restart(spark, tmp_path):
    """Aggregation STATE (not just file progress) survives a checkpoint
    restart: a second availableNow run adds an event to an hour window
    first counted in run 1, and the complete-mode output must show the
    merged count — possible only if the state store was recovered."""
    src = str(tmp_path / "recov_src")
    ckpt = str(tmp_path / "recov_ckpt")
    _write_events(src)

    def run(name):
        run_available_now(
            windowed_counts(read_event_stream(spark, src)),
            name,
            ckpt,
            output_mode="complete",
        )
        return {
            (str(r.window_start), r.event_type): r.n_events
            for r in spark.table(name).collect()
        }

    first = run("recov_run1")
    assert first[("2024-01-01 10:00:00", "click")] == 3  # events 1, 2, 4

    # a late-arriving click lands in the ALREADY-AGGREGATED 10:00 window
    with open(os.path.join(src, "part_late.json"), "w") as f:
        f.write(
            json.dumps(
                {"event_id": 99, "ts": "2024-01-01 10:20:00.000000", "user_id": 9,
                 "event_type": "click", "value": 9.0, "props": "{}"}
            )
            + "\n"
        )
    second = run("recov_run2")
    assert second[("2024-01-01 10:00:00", "click")] == 4  # 3 recovered + 1 new
    # untouched windows also survive the restart verbatim
    assert second[("2024-01-01 11:00:00", "view")] == first[
        ("2024-01-01 11:00:00", "view")
    ]


def test_log_file_stream_is_incremental_and_keeps_dead_letters(spark, tmp_path):
    """The log file stream must actually process file-by-file (one commit
    per arriving file — multiple parquet files accrete in hot partitions)
    and must land unparseable lines in the day=dead partition with their
    raw text intact."""
    import glob

    from aws_logs_parquet_converter_spark.operators.logetl import RAW_LINES
    from aws_logs_parquet_converter_spark.streaming.events import (
        run_log_file_stream,
    )

    raw = tmp_path / "raw"
    raw.mkdir()
    n_files = 3
    per = (len(RAW_LINES) + n_files - 1) // n_files
    for i in range(n_files):
        (raw / f"logs-{i}.txt").write_text(
            "\n".join(RAW_LINES[i * per : (i + 1) * per]) + "\n"
        )
    dest = str(tmp_path / "dest")
    run_log_file_stream(spark, str(raw), dest)

    out = spark.read.parquet(dest)
    n_expected = sum(1 for l in RAW_LINES if l.strip())
    assert out.count() == n_expected
    # dead letters preserved verbatim in their own partition
    dead = spark.read.parquet(dest).where(F.col("day") == "dead")
    got_dead = sorted(r.error_line for r in dead.collect())
    import re

    from aws_logs_parquet_converter_spark.functions.s3_log_parse import (
        S3_ACCESS_LOG_PATTERN,
    )

    want_dead = sorted(
        l.strip()
        for l in RAW_LINES
        if l.strip() and not re.match(S3_ACCESS_LOG_PATTERN, l.strip())
    )
    assert got_dead == want_dead
    # incrementality: some day partition accreted commits from more than
    # one micro-batch (each batch owns its own batch=N subtree; day dirs
    # nest inside it since the r12 static-subtree overwrite)
    per_part = {}
    for f in glob.glob(dest + "/batch=*/day=*/*.parquet"):
        part = f.split("/day=")[1].split("/")[0]
        per_part.setdefault(part, set()).add(f.split("/batch=")[1].split("/")[0])
    assert max(len(b) for b in per_part.values()) > 1, per_part


def test_log_stream_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash mid-write re-delivers the
    same micro-batch. The (day, batch)-keyed dynamic overwrite must make
    that replay converge to exactly-once table content — including when
    the crashed first attempt left PARTIAL residue under batch=N."""
    from aws_logs_parquet_converter_spark.functions.s3_log_parse import (
        parse_s3_access_log_lines,
    )
    from aws_logs_parquet_converter_spark.operators.logetl import RAW_LINES
    from aws_logs_parquet_converter_spark.streaming.events import (
        log_stream_merge_batch,
    )

    lines = [l for l in RAW_LINES[:40] if l.strip()]
    dest = str(tmp_path / "dest")
    full = spark.createDataFrame([(l,) for l in lines], "value string")

    def table():
        rows = (
            spark.read.parquet(dest)
            .drop("day", "batch")
            .na.fill("")
            .collect()
        )
        return sorted(map(tuple, rows), key=repr)

    # crashed attempt: batch 0 committed only a partial prefix
    partial = spark.createDataFrame([(l,) for l in lines[:15]], "value string")
    log_stream_merge_batch(partial, 0, dest)
    assert len(table()) == 15

    # replay of batch 0 with the full (deterministic) content: the partial
    # residue is replaced wholesale, nothing double-counts
    log_stream_merge_batch(full, 0, dest)
    want = sorted(
        map(
            tuple,
            parse_s3_access_log_lines(full).na.fill("").collect(),
        ),
        key=repr,
    )
    assert table() == want

    # replaying the SAME committed batch again changes nothing
    log_stream_merge_batch(full, 0, dest)
    assert table() == want

    # a DIFFERENT batch id appends without clobbering batch 0
    extra = [l for l in RAW_LINES[40:60] if l.strip()]
    bdf1 = spark.createDataFrame([(l,) for l in extra], "value string")
    log_stream_merge_batch(bdf1, 1, dest)
    assert len(table()) == len(want) + len(extra)


def test_snapshot_stream_replay_skips_committed_batches(spark, tmp_path):
    """The snapshot-committing stream path: replay idempotence is a
    property of the COMMIT PROTOCOL (manifest records its batch ids;
    re-delivery => skip), including when a crashed first attempt left an
    uncommitted data dir behind."""
    from aws_logs_parquet_converter_spark.functions.s3_log_parse import (
        parse_s3_access_log_lines,
    )
    from aws_logs_parquet_converter_spark.operators.logetl import RAW_LINES
    from aws_logs_parquet_converter_spark.plans.snapshots import (
        current_version,
        read_manifest,
        snapshot_read,
    )
    from aws_logs_parquet_converter_spark.streaming.events import (
        log_stream_snapshot_batch,
    )

    lines = [l for l in RAW_LINES[:40] if l.strip()]
    root = str(tmp_path / "t")
    full = spark.createDataFrame([(l,) for l in lines], "value string")

    def table():
        rows = snapshot_read(spark, root).drop("day", "batch").na.fill("").collect()
        return sorted(map(tuple, rows), key=repr)

    # crash simulation: a data dir written but never committed (inert)
    orphan = tmp_path / "t" / "data" / "deadbeefcrashed"
    orphan.mkdir(parents=True)
    (orphan / "part-0.parquet").write_bytes(b"partial attempt residue")

    assert log_stream_snapshot_batch(full, 0, root) == 1
    want = sorted(
        map(tuple, parse_s3_access_log_lines(full).na.fill("").collect()),
        key=repr,
    )
    assert table() == want
    # replaying the SAME batch id is a protocol-level no-op: no new
    # version, no new files, content unchanged
    assert log_stream_snapshot_batch(full, 0, root) is None
    assert current_version(spark, root) == 1
    assert table() == want
    # a different batch appends as version 2 and records both ids
    extra = [l for l in RAW_LINES[40:60] if l.strip()]
    bdf1 = spark.createDataFrame([(l,) for l in extra], "value string")
    assert log_stream_snapshot_batch(bdf1, 1, root) == 2
    m = read_manifest(spark, root, 2)
    assert m["stream_txns"]["_stream"] == 1  # scalar HWM, not a list
    assert len(table()) == len(want) + len(extra)


def test_snapshot_stream_reader_isolated_from_optimize(spark, tmp_path):
    """The composed story the r5 verdict asked to gate: stream-ingest ->
    reader pins version N -> snapshot_optimize repacks -> the pinned
    reader still returns exactly version N's content (no path it holds
    was touched), while a fresh reader sees the packed table with
    identical content."""
    from aws_logs_parquet_converter_spark.operators.logetl import RAW_LINES
    from aws_logs_parquet_converter_spark.plans.snapshots import (
        current_version,
        read_manifest,
        snapshot_optimize,
        snapshot_read,
    )
    from aws_logs_parquet_converter_spark.streaming.events import (
        _write_line_files,
        run_log_snapshot_stream,
    )

    raw_dir = _write_line_files([l for l in RAW_LINES if l.strip()], 4, "snapit_")
    root = str(tmp_path / "t")
    run_log_snapshot_stream(spark, raw_dir, root)
    v = current_version(spark, root)
    assert v >= 2  # multiple micro-batches committed as versions
    pinned_files = read_manifest(spark, root, v)["files"]
    pinned = sorted(map(tuple, snapshot_read(spark, root, version=v).na.fill("").collect()), key=repr)
    new_v = snapshot_optimize(spark, root, target_file_mb=128)
    assert new_v == v + 1
    # the pinned version's manifest and files are untouched
    assert read_manifest(spark, root, v)["files"] == pinned_files
    again = sorted(map(tuple, snapshot_read(spark, root, version=v).na.fill("").collect()), key=repr)
    assert again == pinned
    # the packed latest has identical content over fewer files
    latest = sorted(map(tuple, snapshot_read(spark, root).na.fill("").collect()), key=repr)
    assert latest == pinned
    assert len(read_manifest(spark, root, new_v)["files"]) < len(pinned_files)


def test_snapshot_stream_stats_enable_day_pruning(spark, tmp_path):
    """The full composition: streaming ingest -> per-batch manifest stats
    (stats_cols=['day']) -> a day-predicate read prunes files the stats
    prove irrelevant, without losing a row."""
    from aws_logs_parquet_converter_spark.operators.logetl import RAW_LINES
    from aws_logs_parquet_converter_spark.plans.snapshots import (
        read_manifest,
        current_version,
        snapshot_read,
    )
    from aws_logs_parquet_converter_spark.streaming.events import (
        _write_line_files,
        run_log_snapshot_stream,
    )

    raw_dir = _write_line_files([l for l in RAW_LINES if l.strip()], 4, "snapst_")
    root = str(tmp_path / "t")
    run_log_snapshot_stream(spark, raw_dir, root, stats_cols=["day"])
    m = read_manifest(spark, root, current_version(spark, root))
    assert m["stats_cols"] == ["day"]
    assert set(m["stats"]) == set(m["files"])
    full = snapshot_read(spark, root)
    days = sorted(r.day for r in full.select("day").distinct().collect())
    assert len(days) > 1
    pick = days[0]
    pruned = snapshot_read(spark, root, filters=[("day", "=", pick)])
    assert len(pruned.inputFiles()) < len(m["files"])
    assert pruned.count() == full.where(full.day == pick).count() > 0
    # stream-append commits are append-lineage: an incremental consumer
    # checkpointed at v1 reads exactly the later micro-batches' rows
    from aws_logs_parquet_converter_spark.plans.snapshots import snapshot_changes

    v1_rows = snapshot_read(spark, root, version=1).count()
    delta = snapshot_changes(spark, root, 1)
    assert delta.count() == full.count() - v1_rows > 0


def _drain_snapshot_stream(
    spark, root, dest, ckpt, starting_version=None, changefeed=False,
    starting_timestamp=None,
):
    from aws_logs_parquet_converter_spark.sources.snapshot_stream import (
        register_snapshot_stream_source,
    )

    register_snapshot_stream_source(spark)
    r = spark.readStream.format("snapshot_table").option("root", root)
    if changefeed:
        r = r.option("changefeed", "true")
    if starting_version is not None:
        r = r.option("startingVersion", str(starting_version))
    if starting_timestamp is not None:
        r = r.option("startingTimestamp", str(starting_timestamp))
    q = (
        r.load()
        .writeStream.format("parquet")
        .option("path", dest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(dest)


def test_snapshot_stream_source_checkpoint_resume(spark, tmp_path):
    """The source's exactly-once contract: a drain, new commits, then a
    SECOND drain on the SAME checkpoint emits only the new versions'
    rows — version offsets resume from the engine checkpoint."""
    from aws_logs_parquet_converter_spark.plans.snapshots import (
        snapshot_optimize,
        snapshot_write,
    )

    root = str(tmp_path / "t")
    dest, ckpt = str(tmp_path / "dest"), str(tmp_path / "ckpt")
    snapshot_write(spark.range(0, 40).selectExpr("id", "id*2 AS v"), root)
    snapshot_write(spark.range(40, 80).selectExpr("id", "id*2 AS v"), root)
    out = _drain_snapshot_stream(spark, root, dest, ckpt)
    assert sorted(r.id for r in out.collect()) == list(range(80))
    # maintenance + fresh data land; resume picks up ONLY the new rows
    snapshot_optimize(spark, root, target_file_mb=128)
    snapshot_write(spark.range(80, 90).selectExpr("id", "id*2 AS v"), root)
    out2 = _drain_snapshot_stream(spark, root, dest, ckpt)
    assert sorted(r.id for r in out2.collect()) == list(range(90))  # no dupes


def test_snapshot_stream_source_evolution_and_starting_version(spark, tmp_path):
    from aws_logs_parquet_converter_spark.plans.snapshots import snapshot_write

    root = str(tmp_path / "t")
    snapshot_write(spark.range(0, 10).selectExpr("id", "id*2 AS v"), root)
    snapshot_write(
        spark.range(10, 15).selectExpr("id", "id*2 AS v", "'x' AS tag"), root
    )
    out = _drain_snapshot_stream(
        spark, root, str(tmp_path / "d1"), str(tmp_path / "c1")
    )
    rows = sorted((r.id, r.v, r.tag) for r in out.collect())
    assert rows == [(i, 2 * i, None if i < 10 else "x") for i in range(15)]
    tail = _drain_snapshot_stream(
        spark, root, str(tmp_path / "d2"), str(tmp_path / "c2"),
        starting_version=1,
    )
    assert sorted(r.id for r in tail.collect()) == list(range(10, 15))


def test_snapshot_change_feed_stream_resume_and_refusals(spark, tmp_path):
    """The change-feed stream's protocol: a first drain emits insert
    history, a SECOND drain on the same checkpoint after a dv-delete and
    a dv-update emits ONLY the new versions' row-level changes (pre/post
    images exact), and commits without row lineage (CoW delete) raise
    the re-baseline error."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from aws_logs_parquet_converter_spark.plans.snapshots import (
        snapshot_delete,
        snapshot_update,
        snapshot_write,
    )

    root = str(tmp_path / "t")
    dest, ckpt = str(tmp_path / "dest"), str(tmp_path / "ckpt")
    snapshot_write(spark.range(0, 40).selectExpr("id", "id*2 AS v"), root)
    out = _drain_snapshot_stream(spark, root, dest, ckpt, changefeed=True)
    assert sorted((r.id, r._change_type, r._commit_version) for r in out.collect()) == [
        (i, "insert", 1) for i in range(40)
    ]
    snapshot_delete(spark, root, [("id", "<", 3)], mode="dv")  # v2
    snapshot_update(spark, root, [("id", ">=", 38)], {"v": "v + 7"}, mode="dv")  # v3
    out2 = _drain_snapshot_stream(spark, root, dest, ckpt, changefeed=True)
    fresh = sorted(
        (r.id, r.v, r._change_type, r._commit_version)
        for r in out2.collect()
        if r._commit_version > 1
    )
    assert fresh == [
        (0, 0, "delete", 2),
        (1, 2, "delete", 2),
        (2, 4, "delete", 2),
        (38, 76, "update_preimage", 3),
        (38, 83, "update_postimage", 3),
        (39, 78, "update_preimage", 3),
        (39, 85, "update_postimage", 3),
    ]
    # a CoW delete has no row lineage: the feed refuses, not fabricates
    snapshot_delete(spark, root, [("id", "=", 10)])  # v4, cow
    with pytest.raises(StreamingQueryException, match="delete"):
        _drain_snapshot_stream(spark, root, dest, ckpt, changefeed=True)


def test_batch_reader_rejects_changefeed_option(spark, tmp_path):
    """changefeed is a streaming option; the batch path must refuse it
    loudly — without the guard it would silently return the current
    snapshot with all-NULL change columns."""
    from aws_logs_parquet_converter_spark.plans.snapshots import snapshot_write
    from aws_logs_parquet_converter_spark.sources.snapshot_stream import (
        register_snapshot_stream_source,
    )

    root = str(tmp_path / "t")
    snapshot_write(spark.range(0, 5).selectExpr("id", "id*2 AS v"), root)
    register_snapshot_stream_source(spark)
    with pytest.raises(Exception, match="changefeed is a STREAMING option"):
        (
            spark.read.format("snapshot_table")
            .option("root", root)
            .option("changefeed", "true")
            .load()
            .collect()
        )


def test_snapshot_stream_source_refuses_rewrite_commits(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from aws_logs_parquet_converter_spark.plans.snapshots import (
        snapshot_merge,
        snapshot_write,
    )

    root = str(tmp_path / "t")
    snapshot_write(spark.range(0, 10).selectExpr("id", "id*2 AS v"), root)
    snapshot_merge(
        spark.range(5, 12).selectExpr("id", "id*9 AS v"), root, key="id"
    )
    with pytest.raises(StreamingQueryException, match="merge"):
        _drain_snapshot_stream(
            spark, root, str(tmp_path / "d"), str(tmp_path / "c")
        )


def test_snapshot_stream_source_filter_pushdown(spark, tmp_path):
    """The source's 'filters' option is pushdown, both levels: files the
    manifest stats prove irrelevant are never planned as partitions, and
    surviving files are row-filtered batch-side — the option is exact on
    its own."""
    import json as _json

    from pyspark.sql.types import StructType

    from aws_logs_parquet_converter_spark.plans.snapshots import (
        read_manifest,
        snapshot_write,
    )
    from aws_logs_parquet_converter_spark.sources.snapshot_stream import (
        _SnapshotStreamReader,
        register_snapshot_stream_source,
    )

    root = str(tmp_path / "t")
    snapshot_write(
        spark.range(0, 50).selectExpr("id", "id*2 AS v").repartition(2),
        root,
        stats_cols=["id"],
    )
    snapshot_write(
        spark.range(50, 100).selectExpr("id", "id*2 AS v").repartition(2), root
    )
    schema = StructType.fromJson(
        _json.loads(read_manifest(spark, root, 2)["schema"])
    )
    # planning level: only the first commit's 2 files (of 4) survive
    rdr = _SnapshotStreamReader(
        schema,
        {"root": root, "filters": _json.dumps([["id", "<", 25]])},
    )
    parts = rdr.partitions({"version": 0}, {"version": 2})
    assert len(parts) == 2
    # end-to-end: the drained stream holds exactly the matching rows
    register_snapshot_stream_source(spark)
    dest, ckpt = str(tmp_path / "dest"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("snapshot_table")
        .option("root", root)
        .option("filters", _json.dumps([["id", "<", 25]]))
        .load()
        .writeStream.format("parquet")
        .option("path", dest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.id for r in spark.read.parquet(dest).collect())
    assert got == list(range(25))


def test_semantic_stream_two_table_transaction_replay(spark, tmp_path):
    """The streaming-semantic two-table transaction must converge under
    every crash/replay interleaving: replay after BOTH commits is two
    skips; replay after a crash BETWEEN the commits recomputes the pairs
    against the index AS OF the pre-batch version (time travel) and
    commits them exactly once."""
    from pyspark.sql import functions as F

    from aws_logs_parquet_converter_spark.operators.similarity import (
        kmeans_assign,
        kmeans_train,
        semantic_stream_batch,
    )
    from aws_logs_parquet_converter_spark.plans.snapshots import (
        current_version,
        read_manifest,
        snapshot_read,
        snapshot_write,
    )

    def vecs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 7).cast("float"), (F.col("id") % 3).cast("float")
            ).alias("embedding"),
        )

    cents_path = str(tmp_path / "cents")
    kmeans_train(vecs(0, 40), k=4, n_iters=1).df.write.parquet(cents_path)
    idx = str(tmp_path / "idx")
    snapshot_write(kmeans_assign(vecs(0, 40), spark.read.parquet(cents_path)), idx)
    pairs = str(tmp_path / "pairs")

    semantic_stream_batch(vecs(40, 50), 0, cents_path, idx, pairs)
    v_idx, v_pairs = current_version(spark, idx), current_version(spark, pairs)
    n_pairs = snapshot_read(spark, pairs).count()
    # full replay: two skips, nothing changes
    semantic_stream_batch(vecs(40, 50), 0, cents_path, idx, pairs)
    assert current_version(spark, idx) == v_idx
    assert current_version(spark, pairs) == v_pairs
    assert snapshot_read(spark, pairs).count() == n_pairs

    # crash BETWEEN the commits: index batch 1 lands, pairs never do
    b1 = vecs(50, 60)
    assert snapshot_write(
        kmeans_assign(b1, spark.read.parquet(cents_path)), idx, batch_id=1
    ) == v_idx + 1
    # replay of batch 1 through the full transaction
    semantic_stream_batch(b1, 1, cents_path, idx, pairs)
    assert current_version(spark, idx) == v_idx + 1  # index commit skipped
    m = read_manifest(spark, pairs, current_version(spark, pairs))
    assert m["stream_txns"]["_stream"] == 1
    # pairs for batch 1 computed against the PRE-batch index: no vec_id
    # >= 50 may appear on the a-side of a batch-1 pair except batch rows
    got = snapshot_read(spark, pairs)
    assert got.where(F.col("vec_b") >= 60).count() == 0


def test_changefeed_stream_survives_optimize(spark, tmp_path):
    """r6 verdict task 5 — Delta's readChangeFeed rule: OPTIMIZE rewrites
    bytes but no rows, so a change-feed stream crossing an interleaved
    OPTIMIZE emits ZERO phantom rows — only the real deletes/inserts
    around it, each tagged with its true commit version."""
    from aws_logs_parquet_converter_spark.plans.snapshots import (
        snapshot_delete,
        snapshot_optimize,
        snapshot_write,
    )

    root = str(tmp_path / "t")
    dest, ckpt = str(tmp_path / "dest"), str(tmp_path / "ckpt")
    snapshot_write(
        spark.range(0, 30).selectExpr("id", "id*2 AS v").repartition(4), root
    )  # v1
    out = _drain_snapshot_stream(spark, root, dest, ckpt, changefeed=True)
    assert out.count() == 30
    snapshot_delete(spark, root, [("id", "<", 5)], mode="dv")  # v2
    snapshot_optimize(spark, root, target_file_mb=128)  # v3: full rewrite
    snapshot_write(spark.range(30, 35).selectExpr("id", "id*2 AS v"), root)  # v4
    out2 = _drain_snapshot_stream(spark, root, dest, ckpt, changefeed=True)
    fresh = sorted(
        (r.id, r._change_type, r._commit_version)
        for r in out2.collect()
        if r._commit_version > 1
    )
    # zero rows carry the OPTIMIZE's commit version — maintenance is
    # invisible; the rewrite neither re-inserts survivors nor re-deletes
    assert fresh == [(i, "delete", 2) for i in range(5)] + [
        (i, "insert", 4) for i in range(30, 35)
    ]


def test_semantic_stream_first_batch_into_empty_index(spark, tmp_path):
    """r6 ADVICE: the FIRST batch into an empty index table commits
    version 1 — there is no version 0 to time-travel to, so the pair
    base is the empty frame and the batch pairs only against itself
    (previously snapshot_read(version=0) raised)."""
    from pyspark.sql import functions as F

    from aws_logs_parquet_converter_spark.operators.similarity import (
        kmeans_train,
        semantic_stream_batch,
    )
    from aws_logs_parquet_converter_spark.plans.snapshots import (
        current_version,
        snapshot_read,
    )

    def vecs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 7).cast("float"), (F.col("id") % 3).cast("float")
            ).alias("embedding"),
        )

    cents_path = str(tmp_path / "cents")
    kmeans_train(vecs(0, 40), k=4, n_iters=1).df.write.parquet(cents_path)
    idx, pairs = str(tmp_path / "idx"), str(tmp_path / "pairs")
    semantic_stream_batch(vecs(0, 20), 0, cents_path, idx, pairs)
    assert current_version(spark, idx) == 1
    got = snapshot_read(spark, pairs)
    # every pair is intra-batch: both sides from the first 20 ids
    assert got.where((F.col("vec_a") >= 20) | (F.col("vec_b") >= 20)).count() == 0
    # replay converges to the same state
    v_p = current_version(spark, pairs)
    semantic_stream_batch(vecs(0, 20), 0, cents_path, idx, pairs)
    assert current_version(spark, idx) == 1
    assert current_version(spark, pairs) == v_p


def test_streamed_table_with_auto_compact_stays_bounded(spark, tmp_path):
    """Streaming ingest COMPOSED with auto-compaction: the table is
    created with the auto_compact_mb property, each micro-batch commit
    inherits it, and once the small-file tail crosses the target an
    incremental OPTIMIZE lands inline — the streamed table maintains
    itself, no scheduler. Replay of a batch id after the maintenance
    commit must still skip (the batch ledger rides the optimize)."""
    import os

    from aws_logs_parquet_converter_spark.operators.logetl import RAW_LINES
    from aws_logs_parquet_converter_spark.plans.snapshots import (
        current_version,
        read_manifest,
        snapshot_read,
        snapshot_write,
    )
    from aws_logs_parquet_converter_spark.streaming.events import (
        _write_line_files,
        log_stream_snapshot_batch,
        run_log_snapshot_stream,
    )

    raw_dir = _write_line_files([l for l in RAW_LINES if l.strip()], 6, "acst_")
    root = str(tmp_path / "t")
    # batch 0 by hand to learn the per-batch file size, then declare the
    # property sized so a few batches trip the trigger
    files = sorted(os.path.join(raw_dir, f) for f in os.listdir(raw_dir))
    b0 = spark.read.text(files[0])
    assert log_stream_snapshot_batch(b0, 0, root) == 1
    f0 = read_manifest(spark, root, 1)["files"][0]
    mb = os.path.getsize(os.path.join(root, f0)) / (1024 * 1024)
    snapshot_write(
        snapshot_read(spark, root).limit(0), root, auto_compact_mb=2.5 * mb
    )  # empty property-declaring commit
    run_log_snapshot_stream(spark, raw_dir, root, max_files_per_trigger=1)
    v = current_version(spark, root)
    hist = [read_manifest(spark, root, i) for i in range(1, v + 1)]
    acts = [m["action"] for m in hist]
    assert "optimize" in acts  # maintenance landed mid-stream, unasked
    n_batches = sum(1 for a in acts if a == "stream-append")
    assert len(hist[-1]["files"]) < n_batches  # tail stays bounded
    # ledger survived the optimize commits: replaying batch 0 skips
    assert log_stream_snapshot_batch(b0, 0, root) is None
    assert current_version(spark, root) == v
    # content: every non-dead-letter line parsed exactly once
    total = snapshot_read(spark, root).count()
    assert total == spark.read.text(raw_dir).where("trim(value) != ''").count()


def test_snapshot_stream_starting_timestamp(spark, tmp_path):
    """startingTimestamp (Delta's option): stream commits at-or-after
    the instant; the baseline is the newest version committed strictly
    before it — manifest mtimes are the commit clock, same rule as the
    batch reader's TIMESTAMP AS OF. Mutually exclusive with
    startingVersion."""
    import time as _t

    import pytest

    from aws_logs_parquet_converter_spark.plans.snapshots import snapshot_write

    root = str(tmp_path / "t")
    snapshot_write(spark.range(0, 10).selectExpr("id", "id*2 AS v"), root)
    _t.sleep(0.3)
    cut = _t.time()
    _t.sleep(0.3)
    snapshot_write(spark.range(10, 15).selectExpr("id", "id*2 AS v"), root)
    snapshot_write(spark.range(15, 20).selectExpr("id", "id*2 AS v"), root)
    out = _drain_snapshot_stream(
        spark,
        root,
        str(tmp_path / "d"),
        str(tmp_path / "c"),
        starting_timestamp=cut,
    )
    assert sorted(r.id for r in out.collect()) == list(range(10, 20))
    with pytest.raises(Exception, match="not both"):
        _drain_snapshot_stream(
            spark,
            root,
            str(tmp_path / "d2"),
            str(tmp_path / "c2"),
            starting_version=1,
            starting_timestamp=cut,
        )


def test_auto_compact_on_partitioned_table(spark, tmp_path):
    """The two round-7 table properties COMPOSE: a partitioned table
    with auto_compact_mb keeps exact per-file partition tuples through
    the maintenance commits its own writes trigger, and partition
    pruning still plans only the matching partition's files."""
    import os

    from pyspark.sql import functions as F

    from aws_logs_parquet_converter_spark.plans.snapshots import (
        current_version,
        read_manifest,
        snapshot_read,
        snapshot_write,
    )

    root = str(tmp_path / "t")

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            "id", (F.col("id") % 2 == 0).cast("string").alias("even")
        )

    snapshot_write(batch(0, 2000).coalesce(1), root, partition_by=["even"])
    f0 = read_manifest(spark, root, 1)["files"][0]
    mb = os.path.getsize(os.path.join(root, f0)) / (1024 * 1024)
    snapshot_write(
        batch(2000, 4000).coalesce(1), root, auto_compact_mb=5 * mb
    )
    for lo in range(4000, 16000, 2000):
        snapshot_write(batch(lo, lo + 2000).coalesce(1), root)
    v = current_version(spark, root)
    hist = [read_manifest(spark, root, i) for i in range(1, v + 1)]
    assert "optimize" in [m["action"] for m in hist]
    m = hist[-1]
    assert m["partition_by"] == ["even"]
    assert set(m["partitions"]) == set(m["files"])  # tuples for every file
    got = snapshot_read(spark, root, filters=[("even", "=", "true")])
    assert all("__pv_even=true" in p for p in got.inputFiles())
    assert got.count() == 8000
    assert snapshot_read(spark, root).count() == 16000


def test_stream_filters_prune_on_partition_values(spark, tmp_path):
    """The stream source's filters option prunes on FIRST-CLASS
    PARTITION VALUES, not only min/max stats: on a partitioned table
    the non-matching partition's files are never planned as input
    partitions (asserted at the planner seam), and the drained rows
    are exactly the matching partition."""
    import json as _json

    from pyspark.sql import functions as F

    from aws_logs_parquet_converter_spark.plans.snapshots import snapshot_write
    from aws_logs_parquet_converter_spark.sources.snapshot_stream import (
        _delta_files,
        _survives,
    )
    from aws_logs_parquet_converter_spark.storage import storage_for_root

    root = str(tmp_path / "t")
    df = spark.range(0, 400).select(
        "id", (F.col("id") % 2 == 0).cast("string").alias("even")
    )
    snapshot_write(df.repartition(2), root, partition_by=["even"])
    # planner seam: partition tuples reach the stream's per-file stats
    storage = storage_for_root(root)
    delta, _, stats = _delta_files(storage, root, 0, 1)
    pruned = [
        f for f in delta if _survives(stats.get(f), "even", "=", "true")
    ]
    assert 0 < len(pruned) < len(delta)
    assert all("__pv_even=true" in f for f in pruned)
    # end-to-end: the drained stream carries only the filtered partition
    from aws_logs_parquet_converter_spark.sources.snapshot_stream import (
        register_snapshot_stream_source,
    )

    register_snapshot_stream_source(spark)
    out = (
        spark.readStream.format("snapshot_table")
        .option("root", root)
        .option("filters", _json.dumps([["even", "=", "true"]]))
        .load()
    )
    dest, ckpt = str(tmp_path / "d"), str(tmp_path / "c")
    q = (
        out.writeStream.format("parquet")
        .option("path", dest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(dest)
    assert got.count() == 200
    assert got.where("even <> 'true'").count() == 0


def test_changefeed_filters_prune_partition_files(spark, tmp_path):
    """r7 verdict task 7: the CHANGEFEED path prunes files on the
    filters option the same way the append path does — a filtered
    changefeed never plans (so never opens) insert-image or
    delete-image files of non-matching partitions."""
    import json as _json

    from pyspark.sql import functions as F

    from aws_logs_parquet_converter_spark.plans.snapshots import (
        snapshot_delete,
        snapshot_write,
    )
    from aws_logs_parquet_converter_spark.sources.snapshot_stream import (
        _cdf_partition_specs,
    )
    from aws_logs_parquet_converter_spark.storage import storage_for_root

    root = str(tmp_path / "t")

    def _frame(lo, hi):
        return spark.range(lo, hi).select(
            "id", (F.col("id") % 4).cast("int").alias("day")
        )

    snapshot_write(_frame(0, 100).repartition(4), root, partition_by=["day"])
    snapshot_write(_frame(100, 200).repartition(4), root)  # v2: inserts
    snapshot_delete(spark, root, [("day", "=", 1), ("id", "<", 50)], mode="dv")
    storage = storage_for_root(root)
    # unfiltered: v2 inserts across all 4 days + v3 deletes on day 1
    specs = _cdf_partition_specs(storage, root, 1, 3)
    assert {s.change for s in specs} == {"insert", "delete"}
    # filtered to day=2: only that partition's insert files are planned,
    # and the day-1 delete image is pruned entirely
    fspecs = _cdf_partition_specs(storage, root, 1, 3, [("day", "=", 2)])
    assert fspecs and all("__pv_day=2" in s.entry for s in fspecs)
    assert all(s.change == "insert" for s in fspecs)
    assert len(fspecs) < len(specs)
    # end-to-end: the drained filtered changefeed is exact
    from aws_logs_parquet_converter_spark.sources.snapshot_stream import (
        register_snapshot_stream_source,
    )

    register_snapshot_stream_source(spark)
    out = (
        spark.readStream.format("snapshot_table")
        .option("root", root)
        .option("changefeed", "true")
        .option("startingVersion", "1")
        .option("filters", _json.dumps([["day", "=", 1]]))
        .load()
    )
    dest, ckpt = str(tmp_path / "d"), str(tmp_path / "c")
    q = (
        out.writeStream.format("parquet")
        .option("path", dest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(dest)
    assert got.where("day <> 1").count() == 0
    # day-1 inserts from v2 (ids 101,105,...,197) and the v3 deletes
    # (day-1 ids < 50: 1,5,...,49)
    assert got.where("_change_type = 'insert'").count() == 25
    assert got.where("_change_type = 'delete'").count() == 13
    assert (
        got.where("_change_type = 'delete'").agg(F.max("id")).collect()[0][0]
        == 49
    )
