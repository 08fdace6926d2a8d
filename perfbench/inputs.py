"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``seed`` (and the size arguments):
the same seed writes byte-identical files. The program under test only
ever sees the files; the bookkeeping returned alongside them (lines,
garbage lines, blank lines, bytes) is the ground truth the correctness
checks compare against.

Raw S3 server-access-log text follows the public AWS format. Every
well-formed line carries a timestamp inside the window its file covers,
so a day folder holds only that day's events and a stream file covers a
short window, as real log objects do. Garbage lines (dead letters after
the parse) and blank lines (dropped by the parse) are placed at seeded
positions and counted.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np

#: first day of every generated log corpus
BASE_DAY = datetime(2024, 7, 1)
#: share of lines that are garbage (dead letters) and blank (dropped)
GARBAGE_SHARE = 0.01
BLANK_SHARE = 0.01
#: day-folder file mix: SMALL_FILES small files hold SMALL_SHARE of a
#: day's lines evenly, LARGE_FILES large files hold the rest with seeded
#: uneven weights
SMALL_FILES = 24
SMALL_SHARE = 0.15
LARGE_FILES = 3

_OPS = np.array(
    [
        "REST.GET.OBJECT",
        "REST.PUT.OBJECT",
        "REST.HEAD.OBJECT",
        "REST.GET.BUCKET",
        "REST.DELETE.OBJECT",
        "BATCH.DELETE.OBJECT",
    ]
)
_OP_P = [0.55, 0.15, 0.12, 0.1, 0.05, 0.03]
_STATUS = np.array([200, 204, 206, 301, 304, 403, 404, 500, 503])
_STATUS_P = [0.7, 0.04, 0.03, 0.02, 0.05, 0.05, 0.07, 0.02, 0.02]
_ERR = {403: "AccessDenied", 404: "NoSuchKey", 500: "InternalError", 503: "SlowDown"}
_AGENTS = [
    '"aws-sdk-java/1.12.189 Linux/5.15 OpenJDK_64-Bit"',
    '"aws-cli/2.15.0 Python/3.11.6 Linux/6.1"',
    '"Boto3/1.34.0 md/Botocore"',
    '"-"',
]
_TLS = ["TLSv1.2", "TLSv1.3", "-"]
_REFERRERS = ['"https://console.aws.amazon.com"', '"-"', '"-"', '"-"']
_SIG = ["SigV4", "SigV2", "-"]
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


@dataclass
class LogFile:
    """One raw log object and its ground truth."""

    path: str
    lines: int  # all lines, blank and garbage included
    garbage: int  # lines the parse must dead-letter
    blank: int  # lines the parse must drop
    nbytes: int

    @property
    def rows(self) -> int:
        """Rows the parse must emit (parsed plus dead letters)."""
        return self.lines - self.blank


def log_lines(
    rng: np.random.Generator, n: int, t0: datetime, seconds: int, bucket: str
) -> tuple[list[str], list[int]]:
    """``n`` raw lines with timestamps in ``[t0, t0 + seconds)``; returns
    the lines and, per line, its kind (0 log record, 1 garbage, 2 blank)."""
    offs = rng.integers(0, seconds, size=n).tolist()
    status = rng.choice(_STATUS, size=n, p=_STATUS_P).tolist()
    ops = rng.choice(_OPS, size=n, p=_OP_P).tolist()
    # Zipf-skewed keys so "top keys" has a head; ~8% of requests carry none
    keys = np.minimum(rng.zipf(1.4, size=n), 5000).tolist()
    no_key = (rng.random(n) < 0.08).tolist()
    nbytes = rng.integers(100, 10_000_000, size=n).tolist()
    total_ms = rng.integers(1, 5000, size=n).tolist()
    turn_ms = rng.integers(1, 400, size=n).tolist()
    users = rng.integers(0, 60, size=n).tolist()
    anon = (rng.random(n) < 0.15).tolist()
    ip = rng.integers(0, 1 << 24, size=n).tolist()
    h1 = rng.integers(0, 1 << 63, size=n).tolist()
    h2 = rng.integers(0, 1 << 63, size=n).tolist()
    small = rng.integers(0, 4, size=(n, 4)).tolist()  # agent, tls, sig, referrer
    kind = rng.random(n)
    garbage_mask = kind < GARBAGE_SHARE
    blank_mask = (kind >= GARBAGE_SHARE) & (kind < GARBAGE_SHARE + BLANK_SHARE)
    kind_l = np.where(garbage_mask, 1, np.where(blank_mask, 2, 0)).tolist()
    owner = f"{int(rng.integers(0, 1 << 62)):032x}"
    out: list[str] = []
    for i in range(n):
        k = kind_l[i]
        if k == 1:
            out.append(f"garbage record {h1[i]:x} not a log line")
            continue
        if k == 2:
            out.append("   " if h1[i] & 1 else "")
            continue
        ts = t0 + timedelta(seconds=offs[i])
        st = status[i]
        a, t, s, r = small[i]
        key = "-" if no_key[i] else f"data/obj-{keys[i]:05d}.parquet"
        req = "-" if key == "-" else f'"GET /{bucket}/{key} HTTP/1.1"'
        sent = nbytes[i] if st < 300 else "-"
        size = nbytes[i] if st < 300 else "-"
        requester = "-" if anon[i] else f"arn:aws:iam::123456789012:user/user{users[i]}"
        tls = _TLS[t % 3]
        out.append(
            f"{owner} {bucket} [{ts.day:02d}/{_MONTHS[ts.month - 1]}/{ts.year}:"
            f"{ts.hour:02d}:{ts.minute:02d}:{ts.second:02d} +0000] "
            f"10.{ip[i] >> 16}.{(ip[i] >> 8) & 255}.{ip[i] & 255} {requester} "
            f"{h1[i]:016X} {ops[i]} {key} {req} {st} {_ERR.get(st, '-')} {sent} {size} "
            f"{total_ms[i]} {turn_ms[i]} "
            f"{_REFERRERS[r]} "
            f"{_AGENTS[a]} - {h2[i]:016x}{h1[i]:016x}= {_SIG[s % 3]} "
            f"{'TLS_AES_128_GCM_SHA256' if tls != '-' else '-'} "
            f"{'AuthHeader' if requester != '-' else '-'} {bucket}.s3.amazonaws.com {tls} - -"
        )
    return out, kind_l


def _write(path: str, lines: list[str]) -> int:
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def write_day_folders(
    root: str, seed: int, days: int, lines_per_day: int, bucket: str = "bench-bucket"
) -> dict[str, list[LogFile]]:
    """Day folders ``root/YYYY/MM/DD/`` (the CLI's raw layout), each with
    only that day's events in the stated small/large file mix. Returns
    ``{iso day: [LogFile, ...]}``."""
    rng = np.random.default_rng(seed)
    out: dict[str, list[LogFile]] = {}
    for d in range(days):
        day = BASE_DAY + timedelta(days=d)
        n_day = lines_per_day
        lines, kinds = log_lines(rng, n_day, day, 86400, bucket)
        n_small = int(n_day * SMALL_SHARE)
        weights = rng.uniform(0.5, 1.5, size=LARGE_FILES)
        cuts = np.cumsum(weights / weights.sum() * (n_day - n_small)).astype(int)
        bounds = [round(n_small * i / SMALL_FILES) for i in range(SMALL_FILES + 1)]
        bounds += [n_small + int(c) for c in cuts]
        bounds[-1] = n_day
        folder = os.path.join(root, day.strftime("%Y/%m/%d"))
        os.makedirs(folder, exist_ok=True)
        files = []
        for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            chunk = lines[lo:hi]
            if not chunk:
                continue
            path = os.path.join(folder, f"access-{i:03d}.log")
            files.append(_log_file(path, chunk, kinds[lo:hi]))
        out[day.date().isoformat()] = files
    return out


def _log_file(path: str, chunk: list[str], kinds: list[int]) -> LogFile:
    return LogFile(path, len(chunk), kinds.count(1), kinds.count(2), _write(path, chunk))


def write_stream_files(
    folder: str,
    seed: int,
    first: int,
    count: int,
    lines_per_file: int,
    window_s: int = 1200,
    bucket: str = "bench-bucket",
) -> list[LogFile]:
    """Stream objects ``first .. first+count-1``: object i covers the
    ``window_s`` seconds starting ``i * window_s`` after 22:00 on the
    first day (so the stream crosses midnight). Modification times
    increase with i, which fixes the order the file source admits them."""
    os.makedirs(folder, exist_ok=True)
    start = BASE_DAY + timedelta(hours=22)
    files = []
    for i in range(first, first + count):
        rng = np.random.default_rng([seed, i])
        t0 = start + timedelta(seconds=i * window_s)
        lines, kinds = log_lines(rng, lines_per_file, t0, window_s, bucket)
        f = _log_file(os.path.join(folder, f"obj-{i:05d}.log"), lines, kinds)
        os.utime(f.path, (1_700_000_000 + i, 1_700_000_000 + i))
        files.append(f)
    return files


# ---------------------------------------------------------------------------
# Star-schema tables for the operator legs (the catalog's table set)
# ---------------------------------------------------------------------------

_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "index vector page block file"
).split()


def write_tables(sf_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Every table of ``catalog.TABLES`` at scale factor ``sf``, one
    parquet file each under ``sf_dir``, with the catalog's column names
    and types. Returns row counts per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_ev = max(10_000, int(1_000_000 * sf))
    n_doc = max(200, int(50_000 * sf))
    n_vec = max(200, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    epoch92 = np.datetime64("1992-01-01", "us")
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2), f64),
            "c_mktsegment": pa.array(
                rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust), s
            ),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2), f64),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [f"{_WORDS[i % 31]} {_WORDS[(i * 7) % 31]}" for i in range(n_part)],
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
            "p_type": pa.array(rng.choice(["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO"], n_part), s),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2), f64),
        }
    )
    odate = epoch92 + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord, p=[0.49, 0.49, 0.02]), s),
            "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n_ord), 2), f64),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord), s
            ),
        }
    )
    per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), per_order)
    n_li = len(l_order)
    l_line = (np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order)) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = odate[l_order] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(l_line, i32),
            "l_quantity": pa.array(qty, f64),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100, f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    ev_ts = np.datetime64("2024-01-01", "ns") + np.sort(
        rng.integers(0, 90 * 86400 * 10**9, n_ev)
    ).astype("timedelta64[ns]")
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ev_ts, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, max(100, n_ev // 50), n_ev), i64),
            "event_type": pa.array(
                rng.choice(["view", "click", "cart", "purchase", "error"], n_ev, p=[0.5, 0.25, 0.1, 0.1, 0.05]), s
            ),
            "value": pa.array(np.round(rng.uniform(0, 500, n_ev), 2), f64),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i % 10 == 1:  # planted near-duplicate of the previous document
            toks = texts[-1].split()
            toks[0] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 60))).tolist()))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": pa.array(rng.choice(["en", "de", "fr", "zh", "es"], n_doc), s),
            "source": [f"src{i % 7}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    centers = rng.normal(0, 0.15, size=(8, 64))
    label = rng.integers(0, 8, n_vec)
    emb = (centers[label] + rng.normal(0, 0.06, size=(n_vec, 64))).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(label, i32),
        }
    )
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
