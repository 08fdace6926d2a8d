"""Log-format registry: one reader entry point for every supported format.

SURVEY.md §4.3 identifies this as the one "custom" piece the engine needs:
a registry of (schema, parse-expression builder) per log format, so adding
a format never touches the engine — exactly the extension path the
reference's README promises (VPC / S3 / ALB, `/root/reference/README.md:11`)
but only delivered for S3.

Every parser follows the same contract: native expressions only, fixed
StructType schema, `-` sentinel -> NULL, unparseable lines dead-lettered
into `error_line`, blank lines dropped.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..functions.alb_log_parse import ALB_LOG_SCHEMA, parse_alb_log_lines
from ..functions.cloudfront_log_parse import (
    CLOUDFRONT_LOG_SCHEMA,
    parse_cloudfront_log_lines,
)
from ..functions.cloudtrail_parse import (
    CLOUDTRAIL_LOG_SCHEMA,
    parse_cloudtrail_lines,
)
from ..functions.s3_log_parse import S3_ACCESS_LOG_SCHEMA, parse_s3_access_log_lines
from ..functions.vpc_flow_parse import VPC_FLOW_SCHEMA, parse_vpc_flow_lines
from .logs import read_text_lines


@dataclass(frozen=True)
class LogFormat:
    name: str
    schema: StructType
    parse: Callable[[DataFrame], DataFrame]
    #: the parsed event-time TIMESTAMP column: it clusters compacted
    #: files and derives their date partitions, batch and streaming
    ts_col: str


FORMATS: dict[str, LogFormat] = {
    "s3": LogFormat(
        "s3", S3_ACCESS_LOG_SCHEMA, parse_s3_access_log_lines, "request_time"
    ),
    "alb": LogFormat("alb", ALB_LOG_SCHEMA, parse_alb_log_lines, "time"),
    "vpcflow": LogFormat(
        "vpcflow", VPC_FLOW_SCHEMA, parse_vpc_flow_lines, "start_ts"
    ),
    "cloudfront": LogFormat(
        "cloudfront", CLOUDFRONT_LOG_SCHEMA, parse_cloudfront_log_lines, "request_ts"
    ),
    "cloudtrail": LogFormat(
        "cloudtrail", CLOUDTRAIL_LOG_SCHEMA, parse_cloudtrail_lines, "event_time"
    ),
}


def read_logs(
    spark: SparkSession, paths: str | Sequence[str], fmt: str = "s3"
) -> DataFrame:
    """Read raw log files of the given format into its typed table."""
    if fmt not in FORMATS:
        raise KeyError(f"unknown log format {fmt!r}; supported: {sorted(FORMATS)}")
    return FORMATS[fmt].parse(read_text_lines(spark, paths))


# ---------------------------------------------------------------------------
# Normalized HTTP-event view across formats
# ---------------------------------------------------------------------------

HTTP_EVENT_COLUMNS = (
    "source_format",
    "event_time",
    "client_ip",
    "http_method",
    "path",
    "status",
    "bytes_sent",
    "user_agent",
    "error_line",
)


def _normalize_http(fmt: str, df: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    if fmt == "s3":
        # request is quoted: "GET /key HTTP/1.1" (quotes preserved, SURVEY §2.3)
        req = F.regexp_replace(F.col("request"), '^"|"$', "")
        out = df.select(
            F.lit("s3").alias("source_format"),
            F.col("request_time").alias("event_time"),
            F.col("remote_ip").alias("client_ip"),
            F.split(req, " ").getItem(0).alias("http_method"),
            F.split(req, " ").getItem(1).alias("path"),
            F.col("http_status").alias("status"),
            F.col("bytes_sent"),
            F.col("user_agent"),
            F.col("error_line"),
        )
    elif fmt == "alb":
        req = F.regexp_replace(F.col("request"), '^"|"$', "")
        url = F.split(req, " ").getItem(1)
        out = df.select(
            F.lit("alb").alias("source_format"),
            F.col("time").alias("event_time"),
            F.split(F.col("client"), ":").getItem(0).alias("client_ip"),
            F.split(req, " ").getItem(0).alias("http_method"),
            # strip scheme://host:port -> /path?query
            F.regexp_replace(url, r"^[a-z]+://[^/]+", "").alias("path"),
            F.col("elb_status_code").alias("status"),
            F.col("sent_bytes").alias("bytes_sent"),
            F.col("user_agent"),
            F.col("error_line"),
        )
    elif fmt == "cloudfront":
        out = df.select(
            F.lit("cloudfront").alias("source_format"),
            F.col("request_ts").alias("event_time"),
            F.col("c_ip").alias("client_ip"),
            F.col("cs_method").alias("http_method"),
            F.col("cs_uri_stem").alias("path"),
            F.col("sc_status").alias("status"),
            F.col("sc_bytes").alias("bytes_sent"),
            F.col("cs_user_agent").alias("user_agent"),
            F.col("error_line"),
        )
    else:
        raise KeyError(f"format {fmt!r} has no HTTP normalization (vpcflow is L3/L4)")
    from pyspark.sql import functions as F2

    # '-' sentinel -> NULL for the derived request fields (ALB emits
    # literal "- - -" requests for failed connections), matching the
    # engine-wide NULL contract (SURVEY §1.4)
    return out.select(
        "source_format",
        F.col("event_time").cast("timestamp").alias("event_time"),
        F2.nullif(F.col("client_ip"), F.lit("-")).alias("client_ip"),
        F2.nullif(F.col("http_method"), F.lit("-")).alias("http_method"),
        F2.nullif(F.col("path"), F.lit("-")).alias("path"),
        F2.col("status").cast("int").alias("status"),
        F2.col("bytes_sent").cast("bigint").alias("bytes_sent"),
        "user_agent",
        "error_line",
    )


def read_http_events(spark: SparkSession, sources: dict[str, str]) -> DataFrame:
    """One uniform request table over heterogeneous log formats: parse each
    format with its registry entry, normalize to HTTP_EVENT_COLUMNS, union.

    The cross-format analytics surface the reference leaves to per-table
    Athena DDL: a single ``WHERE status >= 500 GROUP BY source_format``
    works across S3 / ALB / CloudFront logs. Normalization is per-row
    native expressions on top of the (already Exchange-free) parsers, so
    the union stays a scan-concat: zero shuffles until the user's first
    aggregate. Dead letters survive normalization (error_line rides
    along), so audits work on the union too."""
    parts = [
        _normalize_http(fmt, read_logs(spark, path, fmt))
        for fmt, path in sorted(sources.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Format auto-detection for mixed directories
# ---------------------------------------------------------------------------


def classify_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """Add a ``detected_format`` column classifying each raw line.

    Pure native expressions, evaluated in registry priority order. The five
    formats are structurally disjoint on a single line: CloudTrail is a
    JSON document opening with a ``Records`` key, the S3 grammar needs a
    bracketed timestamp 3rd field, ALB an ISO8601 2nd field after a
    scheme token, VPC flow exactly 14 space-separated fields, CloudFront
    exactly 33 tab-separated fields (or a ``#`` W3C header). Unmatched
    lines classify NULL.
    """
    from pyspark.sql import functions as F

    from ..functions.alb_log_parse import ALB_LOG_PATTERN
    from ..functions.cloudtrail_parse import CLOUDTRAIL_LINE_PATTERN
    from ..functions.s3_log_parse import S3_ACCESS_LOG_PATTERN

    v = F.col(value_col)
    return lines.withColumn(
        "detected_format",
        F.when(v.rlike(CLOUDTRAIL_LINE_PATTERN), "cloudtrail")
        .when(v.rlike(S3_ACCESS_LOG_PATTERN), "s3")
        .when(v.rlike(ALB_LOG_PATTERN), "alb")
        .when(
            (F.size(F.split(F.ltrim(v), "\t")) == 33)
            | F.startswith(F.ltrim(v), F.lit("#")),
            "cloudfront",
        )
        .when(F.size(F.split(F.trim(v), " ")) == 14, "vpcflow"),
    )


def detect_log_format(
    spark: SparkSession,
    paths: str | Sequence[str],
    sample_per_split: int | None = 256,
) -> DataFrame:
    """Per-FILE majority-vote format detection over a sample of lines.

    Distributed: the first ``sample_per_split`` lines of every input SPLIT
    are classified executor-side (one scan); the result is one row per file
    — ``(file, detected_format, n_votes)`` — i.e. file-count-sized
    metadata, like a listing, not data. Ties break by registry priority via
    the max(count, format-rank) pair.

    The sample bound is per *split*, not per file, on purpose: the text
    source assigns each split to exactly one file, and
    ``monotonically_increasing_id`` restarts at ``partition_id << 33`` per
    partition, so ``id - (pid << 33) < K`` selects each split's first K
    lines with NO shuffle (a per-file window would shuffle every raw line
    just to rank it). Small files (< maxPartitionBytes) are single-split,
    so for them this IS first-K-per-file; a multi-gigabyte file simply
    votes with K lines per 128 MB split — more coverage, still bounded.
    ``sample_per_split=None`` scans every line (exhaustive audit mode).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    lines = read_text_lines(spark, paths).withColumn("file", F.input_file_name())
    if sample_per_split is not None:
        row_in_split = F.monotonically_increasing_id() - (
            F.spark_partition_id().cast("long") * F.lit(1 << 33)
        )
        lines = lines.where(row_in_split < sample_per_split)
    sampled = (
        classify_lines(lines)
        .where(F.col("detected_format").isNotNull())
        .groupBy("file", "detected_format")
        .count()
    )
    w = Window.partitionBy("file").orderBy(
        F.desc("count"), F.asc("detected_format")
    )
    return (
        sampled.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("file", "detected_format", F.col("count").alias("n_votes"))
    )


#: read_logs_auto refuses to route more files than this in one call. The
#: DataFrameReader needs explicit per-format path lists on the driver, so the
#: collect is inherently O(routed files); the cap keeps it an explicit,
#: bounded metadata transfer instead of a silent multi-GB one. The
#: reference's >100k-files/day workload splits by day prefix anyway
#: (plans/incremental.py) — run auto-detection per daily unit, not over the
#: whole corpus at once.
READ_LOGS_AUTO_MAX_FILES = 200_000


def read_logs_auto(
    spark: SparkSession,
    paths: str | Sequence[str],
    max_files: int = READ_LOGS_AUTO_MAX_FILES,
) -> dict[str, DataFrame]:
    """Parse a MIXED directory: detect each file's format, then run every
    format's parser over exactly its files.

    Returns ``{format: typed DataFrame}`` for the formats present. Per-file
    votes are aggregated DISTRIBUTED down to one row per format carrying
    that format's sorted path list, so the driver collect is O(#formats)
    rows (the path payload itself is unavoidable — the reader API takes
    explicit paths — and is bounded by ``max_files``, see
    ``READ_LOGS_AUTO_MAX_FILES``). The data itself is parsed distributed,
    one ``read_logs`` per detected format over that format's file list.
    """
    from pyspark.sql import functions as F

    per_fmt = (
        detect_log_format(spark, paths)
        .groupBy("detected_format")
        .agg(F.sort_array(F.collect_list("file")).alias("files"))
        .collect()
    )
    total = sum(len(r.files) for r in per_fmt)
    if total > max_files:
        raise ValueError(
            f"read_logs_auto: {total} files exceed max_files={max_files}; "
            "split the run by prefix (e.g. per day, as the incremental "
            "driver does) or raise max_files explicitly."
        )
    return {
        r.detected_format: read_logs(spark, list(r.files), r.detected_format)
        for r in sorted(per_fmt, key=lambda r: r.detected_format)
    }
