"""Compaction write policy: small files in -> few large, time-clustered,
partitioned, compressed Parquet files out.

Reference behavior being re-expressed (``s3_server_access_logs.py:442-463``):
``repartition(num_output_files).sortWithinPartitions(request_time)`` ->
snappy parquet, overwrite, date in the *path* (``partitionBy([])``).

Spark-first upgrades, chosen deliberately (SURVEY.md §4):

* Files are cut by the reference's round-robin ``repartition(n)``, one
  pass over the input, and ``sortWithinPartitions`` on the format's
  event-time column time-clusters every file internally, so Parquet
  ROW-GROUP min/max pruning is intact. Only file-level disjointness is
  lost, which the daily ``partitionBy`` directories already provide at
  day granularity.
* Real Hive partition columns (``partitionBy("year","month","day")``) with
  dynamic partition overwrite: reruns replace exactly one day (idempotent,
  like the reference's per-date overwrite) without clobbering siblings.
* ``maxRecordsPerFile`` as a guardrail so a skewed day cannot produce a
  multi-GB file.
* Default codec is zstd (reference: snappy) — 1.7x smaller output for free
  on a parse-bound write; see the ``CompactionPolicy.compression`` comment
  for the measured numbers.

At 100 TB: n_files scales with data volume (aim 128-512 MB per file), the
exchange is AQE-coalesced, and speculation stays off for S3 sinks.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class CompactionPolicy:
    num_output_files: int | None = 10  # reference default (--num-output-files)
    #: Size-aware alternative to a FIXED file count: when set (and
    #: num_output_files is None), the file count is derived from the
    #: estimated input volume as ceil(input_bytes / target_file_mb), so
    #: each write task sorts+compresses a bounded slice. Rationale —
    #: MEASURED, not hypothetical: a fixed repartition(10) on an 8 GB/20M
    #: line day collapsed the sort+zstd stage to 10 tasks of 800 MB each
    #: (spill + 10/32 cores idle): 289 s, a 22x slowdown for 10x the data
    #: vs the 800 MB day. The file-count contract should scale with
    #: volume (aim 128-512 MB of input per file); output files are
    #: ~0.19x that after zstd.
    target_file_mb: int | None = None
    # zstd, not the reference's snappy: measured on the synthetic corpus at
    # 200k lines, zstd lands 0.184x raw vs snappy's 0.307x at IDENTICAL
    # write wall-time (the pass is parse-bound, not codec-bound), and every
    # consumer that matters (Spark, Athena engine v3, DuckDB, Arrow) reads
    # zstd parquet natively. Adding a (bucket, operation, key) sort ahead
    # of time gained nothing over zstd alone (0.185), so time stays the
    # sole clustering key for row-group pruning. compression="snappy"
    # remains one knob away for legacy readers.
    compression: str = "zstd"
    hive_partitioning: bool = False  # reference default (--hive-formatted-folders)
    max_records_per_file: int | None = None
    # parquet (default; columnar + stats pruning) | orc (columnar alt) |
    # json / csv (interchange exports — no row-group stats, use only when a
    # downstream consumer can't read columnar)
    output_format: str = "parquet"


def estimate_input_bytes(df: DataFrame) -> int | None:
    """Total size of the files feeding ``df`` (None for non-file sources).

    Driver-side metadata, batched JVM-side: paths group by parent
    directory, and each flat directory whose every file the scan reads is
    summed with ONE ``getContentSummary`` call (the length accumulates in
    the JVM) — O(#directories) py4j round trips, not O(#files). For the
    reference's >100k-files/day pathology (one flat day folder) that is
    a handful of bridge calls total; a per-file ``getFileStatus`` loop
    would cost 100k py4j round trips of driver time. The guard tolerates
    the standard job markers Spark leaves beside data files (_SUCCESS,
    _metadata, _common_metadata — checked by name and subtracted, O(1)
    calls), so Spark-written directories keep the fast path. Directories
    the scan reads only PARTIALLY fall back to one ``getFileStatus`` per
    SCANNED file — bounded by the scanned subset, never the directory's
    full listing. (A single-bridge-call batch of a listStatus array is
    not expressible through py4j: array arguments fail Object[] overload
    resolution for Arrays.toString/asList.)"""
    paths = df.inputFiles()
    if not paths:
        return None
    spark = df.sparkSession
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    by_parent: dict[str, set[str]] = {}
    for p in paths:
        parent, _, name = p.rpartition("/")
        by_parent.setdefault(parent, set()).add(name)
    from .optimize import _JOB_MARKERS, _marker_stats

    total = 0
    for parent, names in by_parent.items():
        hp = jvm.org.apache.hadoop.fs.Path(parent)
        fs = hp.getFileSystem(hconf)
        summ = fs.getContentSummary(hp)
        n_mark, mark_bytes = 0, 0
        if summ.getFileCount() != len(names):
            if any(m in names for m in _JOB_MARKERS):
                pass  # a marker scanned as data (pathological): no subtract
            else:
                n_mark, mark_bytes = _marker_stats(jvm, fs, hp)
        # flat dir + every non-marker file scanned -> JVM-side sum is exact
        if (
            summ.getDirectoryCount() <= 1
            and summ.getFileCount() == len(names) + n_mark
        ):
            total += summ.getLength() - mark_bytes
        else:
            # partial scan of this dir: price only the scanned subset;
            # tolerate files that vanished since inputFiles() (e.g. a
            # concurrent OPTIMIZE swap), matching the old listStatus
            # filter's behavior
            for name in names:
                fp = jvm.org.apache.hadoop.fs.Path(hp, name)
                if fs.exists(fp):
                    total += fs.getFileStatus(fp).getLen()
    return int(total)


def resolve_file_count(df: DataFrame, policy: CompactionPolicy) -> int:
    """The output file count: explicit, or derived from input volume."""
    if policy.num_output_files is not None:
        return policy.num_output_files
    if policy.target_file_mb is None:
        raise ValueError("set num_output_files or target_file_mb")
    est = estimate_input_bytes(df)
    if est is None:  # non-file source: fall back to cluster parallelism
        return df.sparkSession.sparkContext.defaultParallelism
    return max(1, -(-est // (policy.target_file_mb * 1024 * 1024)))


def cluster_for_write(
    df: DataFrame, policy: CompactionPolicy, ts_col: str = "request_time"
) -> DataFrame:
    """Round-robin to the target file count and sort each file by the
    event-time column ``ts_col``."""
    return df.repartition(resolve_file_count(df, policy)).sortWithinPartitions(ts_col)


def with_date_partitions(df: DataFrame, ts_col: str = "request_time") -> DataFrame:
    """Materialize year/month/day partition columns from the event timestamp.

    Zero-padded strings so directory names sort lexicographically
    (year=2024/month=07/day=05), matching the reference's strftime layout.
    """
    return (
        df.withColumn("year", F.date_format(ts_col, "yyyy"))
        .withColumn("month", F.date_format(ts_col, "MM"))
        .withColumn("day", F.date_format(ts_col, "dd"))
    )


def write_compacted(
    df: DataFrame,
    destination: str,
    policy: CompactionPolicy | None = None,
    ts_col: str = "request_time",
    observe: bool = False,
) -> dict | None:
    """Compact + write. One Spark action; everything before it is lazy.

    With ``observe=True``, data-quality counters ride along on the write
    itself via ``df.observe`` (Spark's observed-metrics API): row count,
    dead-letter count, and the event-time span are accumulated DURING the
    one pass the writer already makes — no second scan, no separate
    validation job. At 100 TB a count()-then-write quality gate doubles
    the ingest cost; observed metrics make it free. Returns the metrics
    dict (or None when not observing).
    """
    from pyspark.sql import Observation

    policy = policy or CompactionPolicy()
    out = df
    obs = None
    if observe:
        obs = Observation("compaction_dq")
        metrics = [F.count(F.lit(1)).alias("n_rows")]
        if "error_line" in out.columns:
            metrics.append(F.count("error_line").alias("n_dead_letters"))
        if ts_col in out.columns:
            metrics.append(F.min(ts_col).cast("string").alias("min_ts"))
            metrics.append(F.max(ts_col).cast("string").alias("max_ts"))
        out = out.observe(obs, *metrics)
    partition_cols: list[str] = []
    if policy.hive_partitioning:
        out = with_date_partitions(out, ts_col)
        partition_cols = ["year", "month", "day"]

    out = cluster_for_write(out, policy, ts_col)

    writer = (
        out.write.mode("overwrite")
        .option("compression", policy.compression)
        # replace only the partitions present in this run (idempotent rerun
        # of one day), not the whole destination tree
        .option("partitionOverwriteMode", "dynamic")
    )
    if policy.max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(policy.max_records_per_file))
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.format(policy.output_format).save(destination)
    return obs.get if obs is not None else None


def audit_file_sizes(spark, dest: str):
    """Per-output-file bytes and row counts for a compacted destination —
    the ops check that file-count/size policy actually landed (target
    128–512 MB files at production scale; `num_output_files` /
    `max_records_per_file` are the knobs). Uses `input_file_name()` over
    one metadata-cheap scan; returns (file, n_rows, bytes) ordered by
    bytes descending, with bytes from the filesystem listing, not a data
    read."""
    import os

    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(dest)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.count("*").alias("n_rows"))
    ).collect()
    out = []
    for r in rows:
        path = r.file.replace("file:", "")
        out.append((r.file, r.n_rows, os.path.getsize(path)))
    return sorted(out, key=lambda t: -t[2])
