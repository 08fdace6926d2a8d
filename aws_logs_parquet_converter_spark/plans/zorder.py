"""Z-order (Morton) clustering keys for multi-dimensional file skipping.

A single-column sort (``cluster_for_write``'s event-time sort) gives perfect
row-group min/max pruning on ONE dimension; queries filtering an independent
second column (e.g. ``s3_bucket`` when files are time-sorted) read every
file. Interleaving the bits of two quantized dimensions into one sort key
makes each file cover a small hyper-rectangle of the (dim1, dim2) space, so
parquet min/max statistics prune on BOTH predicates — the same trade
Delta/Iceberg expose as ``OPTIMIZE ZORDER BY``, here as a plain Catalyst
expression usable with any writer.

Everything is native bit arithmetic (shifts/masks/ors) inside whole-stage
codegen — a static expression tree of 2×bits terms, no UDFs, no shuffle
beyond the one the write policy already performs.

The reference has no multi-column clustering (its sort is request_time
only, ``s3_server_access_logs.py:442``); this is a scale extension for the
write path (SURVEY.md §7.3 step 4).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: default bits per dimension: 2 dims × 21 bits = 42-bit key, fits a bigint
DEFAULT_BITS = 21


def quantize(col: Column | str, lo: float, hi: float, bits: int = DEFAULT_BITS) -> Column:
    """Map a numeric column to an integer grid cell in [0, 2**bits).

    ``lo``/``hi`` are the expected data bounds (e.g. the day's start/end for
    a timestamp column, known a priori in date-partitioned runs — no
    sampling pass needed). Values outside clamp to the edge cells.
    """
    c = F.col(col) if isinstance(col, str) else col
    cells = (1 << bits) - 1
    scaled = (c.cast("double") - F.lit(float(lo))) / F.lit(float(hi - lo)) * cells
    return F.least(F.greatest(F.round(scaled).cast("bigint"), F.lit(0)), F.lit(cells))


def zorder_key(d0: Column, d1: Column, bits: int = DEFAULT_BITS) -> Column:
    """Interleave the low ``bits`` of two non-negative ints into one bigint.

    Bit j of ``d0`` lands at position 2j, bit j of ``d1`` at 2j+1, so the
    key orders points along a Morton space-filling curve: sorting by it
    keeps points close in BOTH dimensions close in the file order.
    """
    key: Column = F.lit(0).cast("bigint")
    for j in range(bits):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(d0, j).bitwiseAND(F.lit(1)), 2 * j)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(d1, j).bitwiseAND(F.lit(1)), 2 * j + 1)
        )
    return key


def hash_dim(col: Column | str, bits: int = DEFAULT_BITS) -> Column:
    """Categorical column -> stable grid cell (md5-derived, engine-portable)."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("bigint")
    return F.pmod(h, F.lit(1 << bits))
