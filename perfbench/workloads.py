"""The four benchmark workloads.

Each workload has three phases, driven by ``run.py``:

* ``__init__`` writes its seeded inputs (not part of ``setup_s``);
* ``setup()`` builds the state the program needs before the first timed
  operation and warms the session up (part of ``setup_s``);
* ``after_setup()`` checks what ``setup()`` built against the benchmark's
  own oracle (not part of ``setup_s``);
* ``step()`` runs one unit of the closed loop, one client, and appends one
  latency per operation (a day, a trigger, a query, a round of operator
  legs) to ``self.latencies`` and counts wrong or failed operations (a
  day, a trigger, a query, a leg) in ``self.failed``.

With tracing on, ``layers(events)`` turns the spans recorded around the
calls into each layer, and the event log folded over their intervals,
into the per-layer metrics.
"""

from __future__ import annotations

import glob
import os
import random
import statistics
import time
import traceback
from dataclasses import dataclass, field, replace
from datetime import date, timedelta

import numpy as np
import pyarrow.parquet as pq

import inputs
from tracing import Tracer, sql_sum, stream_progress_listener


@dataclass
class Ctx:
    spark: object
    seed: int
    smoke: bool
    work: str
    tracer: Tracer
    #: added to every expected count; non-zero only to prove the checks bite
    perturb: int = 0
    log: list = field(default_factory=list)


class Workload:
    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.latencies: list[float] = []
        #: wall-clock (start, end) of each timed operation, for the trace
        self.windows: list[tuple[float, float]] = []
        self.attempted = 0
        self.failed = 0
        self.report: dict[str, tuple[float, str]] = {}

    @property
    def spark(self):
        return self.ctx.spark

    def fail(self, what: str) -> None:
        self.failed += 1
        self.ctx.log.append(f"{self.name}: {what}")

    def attempt(self, fn, *args) -> bool:
        """Run one checked operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            ok = fn(*args)
        except Exception:  # an operation that raises is a failed operation
            self.fail(traceback.format_exc(limit=4))
            return False
        if not ok:
            self.failed += 1
        return ok

    def timed(self, fn):
        """Run ``fn`` as one timed operation; returns its result."""
        w0 = time.time()
        t0 = time.perf_counter()
        out = fn()
        lat = time.perf_counter() - t0
        self.latencies.append(lat)
        self.windows.append((w0, w0 + lat))
        return out

    def check(self, cond: bool, what: str) -> bool:
        if not cond:
            self.ctx.log.append(f"{self.name}: wrong result: {what}")
        return cond

    def after_setup(self) -> None:
        """The benchmark's own checks of the setup; untimed."""

    def finish(self) -> None:
        """Checks that need the whole run; called after the timed loop."""

    def layers(self, events) -> dict[str, float]:
        return {}


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _read_counts(files: list[str]) -> tuple[int, int, bool]:
    """(rows, dead letters, every file sorted by request_time) of written
    parquet files, read with pyarrow, independently of Spark."""
    rows = dead = 0
    ordered = True
    for f in files:
        t = pq.read_table(f, columns=["request_time", "error_line"])
        rows += t.num_rows
        dead += t.num_rows - t.column("error_line").null_count
        ts = t.column("request_time")
        nulls = ts.null_count
        vals = ts.to_numpy(zero_copy_only=False)
        # ascending sort puts NULLs (dead letters) first
        if np.isnat(vals[:nulls]).sum() != nulls or np.any(np.diff(vals[nulls:].astype("int64")) < 0):
            ordered = False
    return rows, dead, ordered


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    """Median, or 0 when no operation completed (the run is then incorrect)."""
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# compact_batch
# ---------------------------------------------------------------------------


#: days of a pass and lines of each. The warm-up day is smaller: it only
#: has to load and compile the path, and its cold pass is the noisiest part
#: of setup. Day latency keeps falling over the first days after it, so a
#: pass has enough days for its median to fall where latency is flat.
DAYS, DAY_LINES, WARM_LINES = 12, 4_000, 2_000

#: days of each pass the traced run also drives layer by layer
PROBED_DAYS = 2


class CompactBatch(Workload):
    """Multi-day backfill through ``plans.incremental.run`` with the CLI's
    default policy, one day per ``run`` call so each day is one timed
    operation. The loop cycles over the days; each pass overwrites the
    day's output, as a rerun of the daily job does."""

    name = "compact_batch"

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        from aws_logs_parquet_converter_spark.cli import config_from_args, parse_arguments

        days, self.per_day, self.warm_lines = (2, 1500, 500) if ctx.smoke else (DAYS, DAY_LINES, WARM_LINES)
        self.raw = os.path.join(ctx.work, "raw")
        self.dest = os.path.join(ctx.work, "compacted")
        self.days = inputs.write_day_folders(self.raw, ctx.seed, days, self.per_day)
        # the CLI's own argument defaults, minus the roots
        self.cfg = config_from_args(
            parse_arguments(["--source-root", self.raw, "--destination-root", self.dest])
        )
        self.order = sorted(self.days)
        # the warm-up's day, one the timed loop never sees
        self.warm = os.path.join(ctx.work, "warm")
        self.warm_day = min(inputs.write_day_folders(self.warm, ctx.seed + 1, 1, self.warm_lines))
        self.lines_in = self.bytes_in = self.bytes_out = 0
        self.dead = self.rows = 0

    def _run_day(self, day: str) -> list:
        from aws_logs_parquet_converter_spark.plans.incremental import run

        d = date.fromisoformat(day)
        cfg = replace(self.cfg, start_date=day, lookback_days=1)
        return run(self.spark, cfg, today=d + timedelta(days=1))

    def _day_dir(self, day: str) -> str:
        return os.path.join(self.dest, day.replace("-", "/"))

    def _check(self, day: str, processed: list) -> bool:
        files = self.days[day]
        out = _parquet_files(self._day_dir(day))
        rows, dead, ordered = _read_counts(out)
        want_rows = sum(f.rows for f in files) + self.ctx.perturb
        want_dead = sum(f.garbage for f in files)
        self.dead, self.rows = dead, rows
        return (
            self.check([d.isoformat() for d in processed] == [day], f"{day} processed {processed}")
            & self.check(len(out) == self.cfg.policy.num_output_files, f"{day}: {len(out)} files")
            & self.check(rows == want_rows, f"{day}: {rows} rows, expected {want_rows}")
            & self.check(dead == want_dead, f"{day}: {dead} dead letters, expected {want_dead}")
            & self.check(ordered, f"{day}: a file is not sorted by request_time")
        )

    def setup(self) -> None:
        # warm-up: one small day through the same path
        from aws_logs_parquet_converter_spark.plans.incremental import run

        day = self.warm_day
        cfg = replace(self.cfg, source_root=self.warm, destination_root=self.warm + "-out", start_date=day)
        run(self.spark, cfg, today=date.fromisoformat(day) + timedelta(days=1))

    def step(self) -> None:
        """One pass over every day, in date order; each day is one operation."""
        for day in self.order:
            self.attempt(self._op, day)

    def _op(self, day: str) -> bool:
        tr = self.ctx.tracer
        with tr.span("day", day=day):
            with tr.span("incremental.day", layer="incremental"):
                processed = self.timed(lambda: self._run_day(day))
            files = self.days[day]
            self.lines_in += sum(f.lines for f in files)
            self.bytes_in += sum(f.nbytes for f in files)
            self.bytes_out += sum(os.path.getsize(p) for p in _parquet_files(self._day_dir(day)))
            with tr.span("bench.check"):
                ok = self._check(day, processed)
            if tr.enabled and day in self.order[:PROBED_DAYS]:
                self._probe(day)
        return ok

    def _probe(self, day: str) -> None:
        """Traced run only: call each layer below ``run`` on its own."""
        from aws_logs_parquet_converter_spark.plans.compact import write_compacted
        from aws_logs_parquet_converter_spark.sources.logs import read_text_lines
        from aws_logs_parquet_converter_spark.sources.registry import read_logs

        tr = self.ctx.tracer
        path = os.path.join(self.raw, day.replace("-", "/"), "*")
        with tr.span("sources.read", layer="sources") as a:
            parsed = read_logs(self.spark, path)
        listed = parsed.inputFiles()
        a["files_listed"] = len(listed)
        a["input_bytes"] = sum(os.path.getsize(p.removeprefix("file:")) for p in listed)
        with tr.span("parse.scan", layer="parse"):
            read_text_lines(self.spark, path).write.format("noop").mode("overwrite").save()
        with tr.span("parse.scan_parse", layer="parse"):
            read_logs(self.spark, path).write.format("noop").mode("overwrite").save()
        with tr.span("compact.write", layer="compact") as a:
            write_compacted(parsed, os.path.join(self.ctx.work, "probe"), self.cfg.policy)
        a["dead"], a["rows"] = self.dead, self.rows

    def finish(self) -> None:
        total = sum(self.latencies)
        self.report["ingest_lines_per_s"] = (self.lines_in / total if total else 0.0, "lines/s")
        self.report["output_bytes_per_input_byte"] = (
            self.bytes_out / self.bytes_in if self.bytes_in else 0.0,
            "ratio",
        )
        self.report["batch_latency_p50_s"] = (_median(self.latencies), "s")

    def layers(self, ev) -> dict[str, float]:
        tr = self.ctx.tracer
        reads = tr.named("sources.read")
        scans = [ev.window(s.start, s.end) for s in tr.named("parse.scan")]
        parse_s = _mean(s.end - s.start for s in tr.named("parse.scan_parse"))
        scan_s = _mean(s.end - s.start for s in tr.named("parse.scan"))
        writes = tr.named("compact.write")
        w = [ev.window(s.start, s.end) for s in writes]
        rows_out = _mean(sql_sum(x, "number of output rows", "Execute InsertInto") for x in w)
        return {
            "sources.read_s": _mean(s.end - s.start for s in reads),
            "sources.files_listed": _mean(s.attrs["files_listed"] for s in reads),
            "sources.input_bytes": _mean(s.attrs["input_bytes"] for s in reads),
            "sources.scan_tasks": _mean(x["tasks"] for x in scans),
            "parse.self_s": parse_s - scan_s,
            "parse.lines_in": _mean(sql_sum(x, "number of output rows", "Scan text") for x in scans),
            "parse.rows_out": rows_out,
            "parse.dead_letter_ratio": _mean(s.attrs["dead"] / max(1, s.attrs["rows"]) for s in writes),
            "compact.write_s": _mean(s.end - s.start for s in writes),
            "compact.shuffle_write_bytes": _mean(x["shuffle_write_bytes"] for x in w),
            "compact.spill_bytes": _mean(x["spill_bytes"] for x in w),
            "compact.files_written": _mean(sql_sum(x, "number of written files") for x in w),
            "compact.bytes_written": _mean(sql_sum(x, "written output") for x in w),
            "compact.task_commit_s": _mean(sql_sum(x, "task commit time") / 1000 for x in w),
            "compact.job_commit_s": _mean(sql_sum(x, "job commit time") / 1000 for x in w),
            "incremental.day_s": _mean(s.end - s.start for s in tr.named("incremental.day")),
            "incremental.days": float(len(tr.named("incremental.day"))),
        }


# ---------------------------------------------------------------------------
# compact_stream
# ---------------------------------------------------------------------------


class CompactStream(Workload):
    """availableNow drains through ``streaming.events.run_log_file_stream``,
    one small file per trigger. Each round drops ``self.round`` new objects
    into the raw folder and drains them with the same checkpoint, as a
    scheduled drain does; batch ids keep counting across rounds, and batch
    ``i`` holds object ``i``."""

    name = "compact_stream"

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.round, self.per_file = (2, 300) if ctx.smoke else (12, 1000)
        self.raw = os.path.join(ctx.work, "stream_raw")
        self.dest = os.path.join(ctx.work, "stream_dest")
        self.ckpt = os.path.join(ctx.work, "stream_ckpt")
        self.files: list[inputs.LogFile] = []
        self.drain_s = 0.0
        self.listener = None
        self.parts: list[int] = []
        # warm-up objects the timed drains never see; trigger latency keeps
        # falling over the first triggers, so the warm-up drains half a round
        self.warm = os.path.join(ctx.work, "warm")
        self.warm_files = inputs.write_stream_files(
            os.path.join(self.warm, "raw"), ctx.seed + 1, 0, self.round // 2, self.per_file
        )

    def _add_files(self, folder: str, first: int, count: int) -> list[inputs.LogFile]:
        return inputs.write_stream_files(folder, self.ctx.seed, first, count, self.per_file)

    def setup(self) -> None:
        from aws_logs_parquet_converter_spark.streaming.events import run_log_file_stream

        self.listener = stream_progress_listener()
        self.spark.streams.addListener(self.listener)
        warm = self.warm
        run_log_file_stream(
            self.spark, os.path.join(warm, "raw"), os.path.join(warm, "dest"),
            checkpoint_location=os.path.join(warm, "ckpt"),
        )
        self.listener.wait_for(len(self.warm_files))
        self.listener.events.clear()

    def step(self) -> None:
        from aws_logs_parquet_converter_spark.streaming.events import run_log_file_stream

        tr = self.ctx.tracer
        with tr.span("bench.inputs"):
            new = self._add_files(self.raw, len(self.files), self.round)
        self.files += new
        seen = len(self.listener.events)
        try:
            with tr.span("stream.drain", layer="streaming"):
                t0 = time.perf_counter()
                run_log_file_stream(self.spark, self.raw, self.dest, checkpoint_location=self.ckpt)
                self.drain_s += time.perf_counter() - t0
        except Exception:  # a drain that raises fails every trigger of its round
            self.attempted += len(new)
            self.failed += len(new)
            self.ctx.log.append(f"{self.name}: drain raised: {traceback.format_exc(limit=4)}")
            return
        self.listener.wait_for(seen + len(new))
        events = self.listener.events[seen:]
        with tr.span("bench.check"):
            for e in events:
                lat = e["duration_ms"].get("triggerExecution", 0) / 1000
                self.latencies.append(lat)
                self.windows.append((e["start"], e["start"] + lat))
                self.attempt(self._check_batch, e)
            for _ in range(len(new) - len(events)):  # a trigger that never reported
                self.attempted += 1
                self.fail("missing trigger progress")

    def _check_batch(self, e: dict) -> bool:
        b = e["batch"]
        if not self.check(0 <= b < len(self.files), f"unexpected batch {b}"):
            return False
        f = self.files[b]
        folder = os.path.join(self.dest, f"batch={b}")
        rows, dead, _ = _read_counts(_parquet_files(folder))
        self.parts.append(len(glob.glob(os.path.join(folder, "day=*"))))
        want = f.rows + self.ctx.perturb
        return (
            self.check(e["rows"] == f.lines, f"batch {b}: {e['rows']} input rows, expected {f.lines}")
            & self.check(rows == want, f"batch {b}: {rows} rows, expected {want}")
            & self.check(dead == f.garbage, f"batch {b}: {dead} dead letters, expected {f.garbage}")
        )

    def finish(self) -> None:
        """The stream's read-back equals a batch parse of the same files."""
        from aws_logs_parquet_converter_spark.functions.s3_log_parse import OUTPUT_COLUMNS
        from aws_logs_parquet_converter_spark.sources.logs import read_s3_access_logs

        # read back with pyarrow, independently of Spark; one Spark job parses
        streamed = pq.read_table(self.dest, columns=OUTPUT_COLUMNS).to_pandas()
        batch = read_s3_access_logs(self.spark, [f.path for f in self.files]).toPandas()
        if not self.check(
            _normalize(streamed).equals(_normalize(batch[OUTPUT_COLUMNS])),
            "stream read-back differs from a batch parse of the same objects",
        ):
            self.failed = self.attempted  # every trigger wrote into the table that differs
        lines = sum(f.lines for f in self.files)
        self.report["ingest_lines_per_s"] = (lines / self.drain_s if self.drain_s else 0.0, "lines/s")
        self.report["batch_latency_p50_s"] = (_median(self.latencies), "s")
        if len(self.latencies) >= 100:
            self.report["batch_latency_p90_s"] = (_quantile(self.latencies, 0.9), "s")

    def layers(self, ev) -> dict[str, float]:
        evs = self.listener.events
        trig = [e["duration_ms"].get("triggerExecution", 0) / 1000 for e in evs]
        add = [e["duration_ms"].get("addBatch", 0) / 1000 for e in evs]
        return {
            "stream.trigger_s": _mean(trig),
            "stream.add_batch_s": _mean(add),
            "stream.overhead_s": _mean(t - a for t, a in zip(trig, add)),
            "stream.batches": float(len(evs)),
            "stream.rows_per_batch": _mean(e["rows"] for e in evs),
            "stream.partitions_per_batch": _mean(self.parts),
        }


def _quantile(xs, q: float) -> float:
    return float(np.quantile(np.asarray(xs), q))


# ---------------------------------------------------------------------------
# query_logs
# ---------------------------------------------------------------------------

TABLE = "s3_access_logs"

#: Athena-style queries over the compacted table; ``{day}`` is a corpus day
#: and ``{hour}`` an hour of it. Every ORDER BY ... LIMIT has a unique
#: tiebreak so the result is well defined.
QUERIES = {
    "day_partition": (
        "SELECT count(*) AS n, sum(bytes_sent) AS sent, count(DISTINCT requester) AS requesters "
        "FROM {t} WHERE year = {y} AND month = {m} AND day = {d}"
    ),
    "time_range": (
        "SELECT operation, count(*) AS n, sum(total_time) AS total_ms FROM {t} "
        "WHERE request_time >= TIMESTAMP '{day} {hour:02d}:00:00' "
        "AND request_time < TIMESTAMP '{day} {hour:02d}:20:00' GROUP BY operation"
    ),
    "operation_status": (
        "SELECT operation, http_status, count(*) AS n FROM {t} "
        "WHERE error_line IS NULL GROUP BY operation, http_status"
    ),
    "top_keys_by_bytes": (
        "SELECT key, sum(bytes_sent) AS sent, count(*) AS n FROM {t} "
        "WHERE key IS NOT NULL GROUP BY key ORDER BY sent DESC, key LIMIT 20"
    ),
    "dead_letters": "SELECT count(*) AS n FROM {t} WHERE error_line IS NOT NULL",
    "error_requesters": (
        "SELECT requester, count(*) AS n FROM {t} "
        "WHERE http_status >= 400 AND requester IS NOT NULL "
        "GROUP BY requester ORDER BY n DESC, requester LIMIT 10"
    ),
}


class QueryLogs(Workload):
    """One client, closed loop, over a compacted hive-partitioned table
    registered with ``catalog.register_compacted_table``; the query
    sequence is drawn from ``QUERIES`` by the seed. Every result is
    compared with DuckDB over the same parquet files."""

    name = "query_logs"

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        import duckdb

        days, per_day = (2, 1500) if ctx.smoke else (2, 8_000)
        self.raw = os.path.join(ctx.work, "raw")
        self.dest = os.path.join(ctx.work, "table")
        self.days = inputs.write_day_folders(self.raw, ctx.seed, days, per_day)
        self.rng = random.Random(ctx.seed)
        self.duck = duckdb.connect()
        # read timestamp literals in UTC, as the Spark session does
        self.duck.execute("SET TimeZone = 'UTC'")
        self.expected: dict[str, list] = {}
        self.returned = 0
        self.warm_results: list[tuple[str, str, list]] = []

    def setup(self) -> None:
        from aws_logs_parquet_converter_spark.catalog import register_compacted_table
        from aws_logs_parquet_converter_spark.plans.compact import CompactionPolicy
        from aws_logs_parquet_converter_spark.plans.incremental import RollupConfig, run

        tr = self.ctx.tracer
        first, last = min(self.days), max(self.days)
        cfg = RollupConfig(
            source_root=self.raw,
            destination_root=self.dest,
            start_date=first,
            lookback_days=1,
            policy=CompactionPolicy(hive_partitioning=True),
        )
        with tr.span("incremental.backfill", layer="incremental"):
            run(self.spark, cfg, today=date.fromisoformat(last) + timedelta(days=1))
        with tr.span("catalog.register", layer="catalog"):
            register_compacted_table(self.spark, TABLE, self.dest)
        warm = random.Random(self.ctx.seed + 1)
        for name in sorted(QUERIES):  # warm-up: every query once, checked after setup, not counted
            sql = self._sql(name, warm)
            with tr.span(f"query.{name}", layer="query"):
                self.warm_results.append((name, sql, self.spark.sql(sql).collect()))

    def after_setup(self) -> None:
        # Spark reads the NULL partition (dead letters) back as NULL and
        # types year/month/day as int; give DuckDB the same table (loaded,
        # not a view: DuckDB 1.0 fails pushing filters into a NULL partition)
        parts = ", ".join(
            f"TRY_CAST(NULLIF({c}, '__HIVE_DEFAULT_PARTITION__') AS INTEGER) AS {c}"
            for c in ("year", "month", "day")
        )
        self.duck.execute(
            f"CREATE TABLE {TABLE} AS SELECT * EXCLUDE (year, month, day), {parts} "
            f"FROM read_parquet('{self.dest}/**/*.parquet', hive_partitioning = true, "
            "hive_types_autocast = false)"
        )
        for name, sql, got in self.warm_results:  # logged, not operations of the loop
            self._check(name, sql, got)

    def _sql(self, name: str, rng: random.Random) -> str:
        day = rng.choice(sorted(self.days))
        y, m, d = (int(x) for x in day.split("-"))
        return QUERIES[name].format(t=TABLE, day=day, y=y, m=m, d=d, hour=rng.randrange(24))

    def _query(self, name: str, sql: str) -> bool:
        with self.ctx.tracer.span(f"query.{name}", layer="query"):
            got = self.timed(lambda: self.spark.sql(sql).collect())
        self.returned += len(got)
        return self._check(name, sql, got)

    def _check(self, name: str, sql: str, got: list) -> bool:
        if sql not in self.expected:
            self.expected[sql] = self.duck.execute(sql).fetchall()
        want = self.expected[sql]
        ok = self.check(
            _canon(got) == _canon(want) and len(got) + self.ctx.perturb == len(want),
            f"{name}: {sql!r} differs from DuckDB",
        )
        return ok

    def step(self) -> None:
        """Every query four times, in a seeded order with seeded parameters."""
        names = sorted(QUERIES) * (1 if self.ctx.smoke else 4)
        self.rng.shuffle(names)
        for name in names:
            self.attempt(self._query, name, self._sql(name, self.rng))

    def finish(self) -> None:
        self.duck.close()
        self.report["query_latency_p50_s"] = (_median(self.latencies), "s")
        self.report["query_latency_p90_s"] = (_quantile(self.latencies, 0.9) if self.latencies else 0.0, "s")

    def layers(self, ev) -> dict[str, float]:
        tr = self.ctx.tracer
        w = [ev.window(*iv) for iv in self.windows]
        scanned = sum(sql_sum(x, "number of output rows", "Scan parquet") for x in w)
        return {
            "catalog.register_s": _mean(s.end - s.start for s in tr.named("catalog.register")),
            "scan.files_read": _mean(sql_sum(x, "number of files read") for x in w),
            "scan.bytes_read": _mean(sql_sum(x, "size of files read") for x in w),
            "scan.rows_scanned_per_row_returned": scanned / max(1, self.returned),
        }


def _canon(rows) -> list:
    """Order-insensitive, engine-neutral form of a result."""
    return sorted(tuple("None" if v is None else str(v) for v in r) for r in rows)


# ---------------------------------------------------------------------------
# operator_mix
# ---------------------------------------------------------------------------

#: scale factor of the generated tables. The legs are bound by fixed
#: per-query cost: a warm round takes ~11 s at 0.01 and ~16 s at 0.1 on
#: 4 cores, while the cold first round (~30-38 s) is the same at both, so
#: 0.01 keeps one run inside the benchmark's time budget.
SCALE = 0.01

LEGS = (
    "sim_ann_ivf_pq",
    "dedup_semantic_clustered",
    "sim_outlier_cluster",
    "dedup_minhash_lsh",
    "q01_pricing_summary",
    "q18_large_volume_customers",
    "q21_waiting_suppliers",
    "table_snapshot_pruned_read",
)


class OperatorMix(Workload):
    """Registered operator queries over seeded star-schema tables, one
    client, closed loop, whole rounds of the eight legs in a seeded order.
    The timed operation is a round (the mix); each leg is a checked query,
    compared with its DuckDB oracle from ``operators.all_oracles()``."""

    name = "operator_mix"

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        import duckdb

        from aws_logs_parquet_converter_spark import operators
        from aws_logs_parquet_converter_spark.catalog import TABLES

        self.sf_dir = os.path.join(ctx.work, "tables")
        inputs.write_tables(self.sf_dir, ctx.seed, 0.001 if ctx.smoke else SCALE)
        self.fns = operators.all_queries()
        oracles = operators.all_oracles()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        self.expected = {leg: _normalize(con.execute(oracles[leg]).df()) for leg in LEGS}
        con.close()
        self.rng = random.Random(ctx.seed)
        self.per_leg: dict[str, list[float]] = {leg: [] for leg in LEGS}
        self.round_s = 0.0

    def _leg(self, leg: str, timed: bool) -> bool:
        with self.ctx.tracer.span(f"operators.{leg}", layer="operators"):
            w0 = time.time()
            t0 = time.perf_counter()
            pdf = self.fns[leg](self.spark, self.sf_dir).toPandas()
            lat = time.perf_counter() - t0
        if timed:
            self.per_leg[leg].append(lat)
            self.windows.append((w0, w0 + lat))
            self.round_s += lat
        want = self.expected[leg]
        got = _normalize(pdf)
        return self.check(
            list(got.columns) == list(want.columns)
            and len(got) + self.ctx.perturb == len(want)
            and got.astype(str).equals(want.astype(str)),
            f"{leg} differs from its oracle",
        )

    def setup(self) -> None:
        for leg in LEGS:  # warm-up round; seeds every leg's memoized state
            if not self.ctx.smoke or leg == "table_snapshot_pruned_read":
                self._leg(leg, timed=False)

    def step(self) -> None:
        order = list(LEGS)
        self.rng.shuffle(order)
        self.round_s = 0.0
        timed = len(self.windows)
        for leg in order:
            self.attempt(self._leg, leg, True)
        if len(self.windows) - timed == len(order):  # a round is timed only if every leg ran
            self.latencies.append(self.round_s)

    def finish(self) -> None:
        legs = [x for v in self.per_leg.values() for x in v]
        self.report["queries_per_s"] = (len(legs) / sum(legs) if legs else 0.0, "queries/s")
        self.report["leg_latency_p50_s"] = (_median(legs), "s")

    def layers(self, ev) -> dict[str, float]:
        py = [sql_sum(ev.window(*iv), "time to run Python workers") / 1000 for iv in self.windows]
        out = {f"operators.{leg}_s": _mean(v) for leg, v in self.per_leg.items()}
        out["operators.python_eval_s"] = _mean(py)
        return out


def _normalize(pdf):
    """Columns by name, values as strings, rows sorted: the oracle-parity
    comparison of the repository's own parity tests."""
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64"):
            col = pd.to_datetime(pdf[c])
            if col.dt.tz is not None:  # pyarrow reads Spark's UTC-adjusted timestamps as aware
                col = col.dt.tz_convert("UTC").dt.tz_localize(None)
            pdf[c] = col.astype("datetime64[us]")
        pdf[c] = pdf[c].map(_canon_value)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _canon_value(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return str([_canon_value(x) for x in v])
    if isinstance(v, float) and v != v:
        return "nan"
    try:
        import pandas as pd

        if pd.isna(v):
            return "None"
    except (TypeError, ValueError):
        pass
    return str(v)


WORKLOADS = {w.name: w for w in (CompactBatch, CompactStream, QueryLogs, OperatorMix)}
