"""End-to-end compaction pipeline tests: raw log files -> partitioned,
time-clustered parquet -> queryable with partition pruning. Mirrors the
reference's compact() dataflow (which its own tests never covered)."""

import glob
import os

import pytest
from datetime import date

from pyspark.sql import functions as F

from aws_logs_parquet_converter_spark.cli import config_from_args, parse_arguments
from aws_logs_parquet_converter_spark.functions.s3_log_parse import (
    parse_s3_access_log_lines,
)
from aws_logs_parquet_converter_spark.plans.compact import (
    CompactionPolicy,
    write_compacted,
)
from aws_logs_parquet_converter_spark.plans.incremental import (
    RollupConfig,
    dates_to_process,
)
from aws_logs_parquet_converter_spark.sources.generator import write_log_files
from aws_logs_parquet_converter_spark.sources.logs import read_s3_access_logs


def test_compact_plain_layout(spark, tmp_path):
    raw, out = str(tmp_path / "raw"), str(tmp_path / "out")
    write_log_files(raw, n_lines=1000, n_files=8, seed=3)
    parsed = read_s3_access_logs(spark, raw + "/*.txt")
    write_compacted(parsed, out, CompactionPolicy(num_output_files=3))
    files = glob.glob(out + "/*.parquet")
    assert 1 <= len(files) <= 3
    back = spark.read.parquet(out)
    assert back.count() == parsed.count()
    assert set(back.columns) == set(parsed.columns)
    # time clustering: rows within each file are sorted by request_time
    one = spark.read.parquet(files[0]).select("request_time").toPandas()
    ts = one["request_time"].dropna()
    assert list(ts) == sorted(ts)


def test_compact_hive_layout_partition_pruning(spark, tmp_path):
    raw, out = str(tmp_path / "raw"), str(tmp_path / "out")
    write_log_files(raw, n_lines=1500, n_files=4, seed=5)
    parsed = read_s3_access_logs(spark, raw + "/*.txt").where("error_line is null")
    write_compacted(
        parsed, out, CompactionPolicy(num_output_files=2, hive_partitioning=True)
    )
    # hive-style directory tree
    assert glob.glob(out + "/year=*/month=*/day=*/*.parquet")
    back = spark.read.parquet(out)
    assert back.count() == parsed.count()
    # partition pruning shows up in the plan as partition filters
    q = back.where((F.col("year") == "2024") & (F.col("month") == "07") & (F.col("day") == "03"))
    plan = q.explain(mode="formatted") or q._jdf.queryExecution().executedPlan().toString()
    # count matches a recomputation from the source
    expected = parsed.where(F.date_format("request_time", "yyyy-MM-dd") == "2024-07-03").count()
    assert q.count() == expected


def test_idempotent_day_rerun(spark, tmp_path):
    raw, out = str(tmp_path / "raw"), str(tmp_path / "out")
    write_log_files(raw, n_lines=500, n_files=2, seed=9)
    parsed = read_s3_access_logs(spark, raw + "/*.txt").where("error_line is null")
    pol = CompactionPolicy(num_output_files=2, hive_partitioning=True)
    write_compacted(parsed, out, pol)
    n1 = spark.read.parquet(out).count()
    write_compacted(parsed, out, pol)  # rerun must not duplicate
    assert spark.read.parquet(out).count() == n1


def test_backfill_date_loop():
    cfg = RollupConfig(source_root="/src", destination_root="/dst", start_date="2024-07-01")
    days = dates_to_process(cfg, today=date(2024, 7, 5))
    assert days == [date(2024, 7, d) for d in range(1, 5)]  # through lookback boundary
    single = RollupConfig(source_root="/s", destination_root="/d")
    assert dates_to_process(single, today=date(2024, 7, 5)) == [date(2024, 7, 4)]


def test_cli_arguments_roundtrip():
    args = parse_arguments(
        [
            "--source-root", "/data/raw",
            "--num-output-files", "7",
            "--hive-formatted-folders",
            "--start-date", "2024-01-01",
        ]
    )
    cfg = config_from_args(args)
    assert cfg.destination_root == "/data/raw/processed"
    assert cfg.policy.num_output_files == 7
    assert cfg.policy.hive_partitioning is True
    assert cfg.start_date == "2024-01-01"
    assert args.cloud is False and args.committer == "v2"  # local-safe defaults


def test_session_sets_object_store_committer(spark):
    # Reference parity (s3_server_access_logs.py:65-68): task commits rename
    # directly to the destination — required for correctness/speed on S3.
    if os.environ.get("SPARK_GRAFT_VANILLA") == "1":
        pytest.skip("vanilla-session mode deliberately omits build_session confs")
    assert (
        spark.conf.get("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version")
        == "2"
    )


def test_cloud_conf_v2_and_magic():
    from aws_logs_parquet_converter_spark.session import cloud_conf

    v2 = cloud_conf("v2")
    assert v2["spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version"] == "2"
    assert "hadoop-aws" in v2["spark.jars.packages"]
    # no credential material ever lands in conf: identity comes from the
    # S3A default provider chain (env -> profile -> IAM role)
    assert not any("secret" in k.lower() or "access.key" in k for k in v2)

    magic = cloud_conf("magic")
    assert magic["spark.hadoop.fs.s3a.committer.name"] == "magic"
    assert "PathOutputCommitProtocol" in magic["spark.sql.sources.commitProtocolClass"]

    with pytest.raises(ValueError):
        cloud_conf("v1")


def test_incremental_driver_alb_format(spark, tmp_path):
    """The daily driver runs any registered format end-to-end (--log-format)."""
    import os
    from datetime import date

    from aws_logs_parquet_converter_spark.plans.incremental import RollupConfig, run
    from aws_logs_parquet_converter_spark.sources.generator import generate_alb_lines

    day = date(2024, 7, 2)
    src = tmp_path / "raw" / "2024" / "07" / "02"
    os.makedirs(src)
    (src / "a.log").write_text("\n".join(generate_alb_lines(300, seed=9)) + "\n")

    cfg = RollupConfig(
        source_root=str(tmp_path / "raw"),
        destination_root=str(tmp_path / "out"),
        lookback_days=1,
        log_format="alb",
        policy=CompactionPolicy(num_output_files=2),
    )
    processed = run(spark, cfg, today=date(2024, 7, 3))
    assert processed == [day]
    back = spark.read.parquet(str(tmp_path / "out" / "2024" / "07" / "02"))
    assert back.count() == 300
    assert "elb_status_code" in back.columns


def test_incremental_driver_cloudtrail_format(spark, tmp_path):
    """--log-format cloudtrail compacts end to end: the format registry
    names its event-time column, which sorts every output file."""
    import pyarrow.parquet as pq

    from aws_logs_parquet_converter_spark.functions.cloudtrail_parse import (
        parse_cloudtrail_lines,
    )
    from aws_logs_parquet_converter_spark.plans.incremental import run
    from aws_logs_parquet_converter_spark.sources.generator import (
        generate_cloudtrail_lines,
    )

    day = date(2024, 7, 2)
    src = tmp_path / "raw" / "2024" / "07" / "02"
    os.makedirs(src)
    lines = generate_cloudtrail_lines(120, seed=7, garbage_every=29)
    (src / "ct.log").write_text("\n".join(lines) + "\n")

    cfg = RollupConfig(
        source_root=str(tmp_path / "raw"),
        destination_root=str(tmp_path / "out"),
        lookback_days=1,
        log_format="cloudtrail",
        policy=CompactionPolicy(num_output_files=2),
    )
    assert run(spark, cfg, today=date(2024, 7, 3)) == [day]
    out = str(tmp_path / "out" / "2024" / "07" / "02")
    expected = parse_cloudtrail_lines(spark.createDataFrame([(x,) for x in lines], "value string"))
    assert spark.read.parquet(out).count() == expected.count()
    files = glob.glob(out + "/*.parquet")
    assert len(files) == 2
    for f in files:
        ts = [t for t in pq.read_table(f, columns=["event_time"])["event_time"].to_pylist() if t]
        assert ts and ts == sorted(ts)


def test_default_compaction_is_single_pass_roundrobin(spark, tmp_path):
    from aws_logs_parquet_converter_spark.plans.compact import (
        CompactionPolicy,
        cluster_for_write,
    )
    from aws_logs_parquet_converter_spark.sources.generator import write_log_files
    from aws_logs_parquet_converter_spark.sources.logs import read_s3_access_logs

    write_log_files(str(tmp_path / "raw"), n_lines=500, n_files=2, seed=3)
    df = read_s3_access_logs(spark, str(tmp_path / "raw") + "/*.txt")
    plan = cluster_for_write(df, CompactionPolicy())._jdf.queryExecution().executedPlan().toString()
    # round-robin exchange, no range sampling job re-executing the parse
    assert "ROUND_ROBIN" in plan or "RoundRobinPartitioning" in plan
    assert "rangepartitioning" not in plan.lower()


def test_observed_dq_metrics_ride_the_write(spark, tmp_path):
    """write_compacted(observe=True) returns row/dead-letter counts and the
    time span accumulated during the single write pass (df.observe) — the
    no-extra-scan quality gate. Counts must match a direct recount."""
    raw, out = str(tmp_path / "raw"), str(tmp_path / "out")
    write_log_files(raw, n_lines=1000, n_files=4, seed=9)
    parsed = read_s3_access_logs(spark, raw + "/*.txt")
    dq = write_compacted(parsed, out, CompactionPolicy(num_output_files=2), observe=True)
    assert dq is not None
    n = parsed.count()
    n_dead = parsed.where("error_line IS NOT NULL").count()
    assert dq["n_rows"] == n
    assert dq["n_dead_letters"] == n_dead and n_dead > 0
    assert dq["min_ts"] <= dq["max_ts"]
    # and the write itself is unaffected
    assert spark.read.parquet(out).count() == n


def test_sql_table_over_compacted_output_prunes_partitions(spark, tmp_path):
    """O22/O23 (SURVEY §2.1): compacted output registered as an external SQL
    table (the athena_create_table.sql analog); a date-equality WHERE turns
    into PartitionFilters on the scan — directory-level pruning, the whole
    point of the layout."""
    from aws_logs_parquet_converter_spark.catalog import register_compacted_table

    raw, out = str(tmp_path / "raw"), str(tmp_path / "out")
    write_log_files(raw, n_lines=1500, n_files=4, seed=5)
    parsed = read_s3_access_logs(spark, raw + "/*.txt").where("error_line is null")
    write_compacted(
        parsed, out, CompactionPolicy(num_output_files=2, hive_partitioning=True)
    )
    register_compacted_table(spark, "s3_access_logs_sql", out)
    try:
        q = spark.sql(
            "SELECT count(*) AS n FROM s3_access_logs_sql "
            "WHERE year='2024' AND month='07' AND day='03'"
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        scan = next(l for l in plan.splitlines() if "FileScan" in l)
        assert "PartitionFilters" in plan
        expected = parsed.where(
            F.date_format("request_time", "yyyy-MM-dd") == "2024-07-03"
        ).count()
        assert q.collect()[0].n == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS s3_access_logs_sql")


def test_audit_file_sizes_reports_every_file(spark, tmp_path):
    raw, out = str(tmp_path / "raw"), str(tmp_path / "out")
    write_log_files(raw, n_lines=900, n_files=3, seed=9)
    parsed = read_s3_access_logs(spark, raw + "/*.txt")
    write_compacted(parsed, out, CompactionPolicy(num_output_files=3))
    from aws_logs_parquet_converter_spark.plans.compact import audit_file_sizes

    audit = audit_file_sizes(spark, out)
    assert 1 <= len(audit) <= 3
    assert sum(n for _, n, _ in audit) == parsed.count()
    assert all(b > 0 for _, _, b in audit)


def test_corrupt_file_tolerance(spark, tmp_path):
    """ignoreCorruptFiles: a truncated parquet file in the destination is
    skipped with the rest of the dataset intact — the operational posture
    for petabyte archives where one bad object must not kill every reader."""
    import glob as g

    import os

    dest = str(tmp_path / "data")
    spark.range(1000).withColumn("v", F.col("id") * 2).repartition(4).write.parquet(dest)
    schema = spark.read.parquet(dest).schema
    victim = sorted(g.glob(dest + "/part-*.parquet"))[0]
    n_victim = spark.read.parquet(victim).count()
    with open(victim, "r+b") as f:
        f.truncate(50)  # destroy footer + data
    # drop the local-FS checksum sidecar: Hadoop's ChecksumException fires
    # below the parquet layer and is not the corruption ignoreCorruptFiles
    # handles (object stores have no such sidecar)
    crc = os.path.join(os.path.dirname(victim), "." + os.path.basename(victim) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        got = spark.read.schema(schema).parquet(dest).count()
        assert got == 1000 - n_victim
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)


def test_partition_scoped_upsert_touches_only_changed_partitions(spark, tmp_path):
    """MERGE for plain parquet: changed keys' partitions are rewritten
    (update applied, insert added, other rows preserved); partitions
    without changes keep their exact files on disk (same inode paths,
    same mtimes) — they were never read or written."""
    import glob as g
    import os

    from aws_logs_parquet_converter_spark.plans.upsert import upsert_partitioned

    dest = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, f"v{k}", f"p{k % 3}") for k in range(30)], "k bigint, v string, p string"
    )
    base.write.partitionBy("p").parquet(dest)
    untouched_files = {
        f: os.path.getmtime(f) for f in g.glob(dest + "/p=p1/*.parquet") + g.glob(dest + "/p=p2/*.parquet")
    }

    changes = spark.createDataFrame(
        [(0, "UPDATED", "p0"), (999, "NEW", "p0")], "k bigint, v string, p string"
    )
    n = upsert_partitioned(spark, dest, changes, ["k"], "p")
    assert n == 1

    back = {r.k: r.v for r in spark.read.parquet(dest).collect()}
    assert back[0] == "UPDATED" and back[999] == "NEW"
    assert len(back) == 31
    assert back[3] == "v3"  # p0 neighbor rows preserved
    # untouched partitions: identical files, untouched mtimes
    now = {
        f: os.path.getmtime(f) for f in g.glob(dest + "/p=p1/*.parquet") + g.glob(dest + "/p=p2/*.parquet")
    }
    assert now == untouched_files

    # idempotent re-apply
    upsert_partitioned(spark, dest, changes, ["k"], "p")
    assert {r.k: r.v for r in spark.read.parquet(dest).collect()} == back


def test_target_file_mb_sizes_file_count(spark, tmp_path):
    """Size-aware mode: file count derives from input volume, bounded
    write slices; explicit count still wins when set."""
    import glob

    from aws_logs_parquet_converter_spark.plans.compact import (
        CompactionPolicy,
        resolve_file_count,
        write_compacted,
    )
    from aws_logs_parquet_converter_spark.sources.generator import write_log_files
    from aws_logs_parquet_converter_spark.sources.logs import read_s3_access_logs

    raw = str(tmp_path / "raw")
    write_log_files(raw, n_lines=20_000, n_files=8, seed=5)
    df = read_s3_access_logs(spark, raw + "/*.txt")

    auto = CompactionPolicy(num_output_files=None, target_file_mb=1)
    n = resolve_file_count(df, auto)
    assert n == max(1, -(-sum(
        __import__("os").path.getsize(p) for p in glob.glob(raw + "/*.txt")
    ) // (1024 * 1024)))

    dest = str(tmp_path / "out")
    write_compacted(df, dest, auto)
    files = glob.glob(dest + "/*.parquet")
    assert len(files) == n

    # explicit count unchanged
    assert resolve_file_count(df, CompactionPolicy(num_output_files=3)) == 3


def test_cli_target_file_mb_flag():
    from aws_logs_parquet_converter_spark.cli import config_from_args, parse_arguments

    cfg = config_from_args(
        parse_arguments(["--source-root", "/tmp/x", "--target-file-mb", "256"])
    )
    assert cfg.policy.num_output_files is None
    assert cfg.policy.target_file_mb == 256
    cfg2 = config_from_args(parse_arguments(["--source-root", "/tmp/x"]))
    assert cfg2.policy.num_output_files == 10


def test_estimate_input_bytes_tolerates_job_markers(spark, tmp_path):
    """ADVICE r4: a Spark-written directory contains _SUCCESS, so the
    getContentSummary fast path's exact-count guard must tolerate the
    standard job markers (subtracting their bytes) instead of falling
    back to per-file listing — and a PARTIAL scan of a directory must
    price only the scanned files."""
    import glob
    import os

    from aws_logs_parquet_converter_spark.plans.compact import (
        estimate_input_bytes,
    )

    d = str(tmp_path / "written")
    spark.range(10_000).selectExpr("id", "id * 2 AS v").repartition(
        4
    ).write.parquet(d)
    assert os.path.exists(os.path.join(d, "_SUCCESS"))  # marker present
    part_files = sorted(glob.glob(d + "/part-*.parquet"))
    want = sum(os.path.getsize(p) for p in part_files)

    est = estimate_input_bytes(spark.read.parquet(d))
    assert est == want  # exact: markers excluded, all data files summed

    # partial scan: only one file's bytes are priced
    one = part_files[0]
    est_one = estimate_input_bytes(spark.read.parquet(one))
    assert est_one == os.path.getsize(one)


def test_session_sets_periodic_gc_for_iterative_checkpoints(spark):
    # Iterative operators retire localCheckpoint blocks only after a driver
    # GC lets the ContextCleaner see the dropped refs; the round-7 graph
    # probe OOM'd on the 30min default across multi-sweep drivers.
    if os.environ.get("SPARK_GRAFT_VANILLA") == "1":
        pytest.skip("vanilla-session mode deliberately omits build_session confs")
    assert spark.conf.get("spark.cleaner.periodicGC.interval") == "5min"
