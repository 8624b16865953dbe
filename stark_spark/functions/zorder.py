"""Z-order (Morton) keys for multi-column data layout.

The data-layout lever at 100 TB: a table range-partitioned by a
SINGLE column prunes scans on that column only; interleaving the bits
of SEVERAL columns into one Morton key and range-partitioning by it
gives every interleaved column locality, so per-file min/max stats
prune multi-dimensional predicates (this is exactly what Delta/
Iceberg `OPTIMIZE ZORDER BY` does, and the 1-D cousin of the
reference engine's space-filling-curve partitioners).

Everything is integer bit arithmetic on caller-declared value ranges
— deterministic, engine-portable, and cheap (whole-stage codegen
keeps the ~2·bits shift/or terms JVM-side).

Scale shape: key computation is row-local (no shuffle); a re-layout
by the key (`repartitionByRange` on it) costs one range-partition
shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key(cols: list[Column], ranges: list[tuple[float, float]],
               bits: int = 16) -> Column:
    """Morton key interleaving ``bits`` bits of each column.

    Each column is first scaled to the integer grid [0, 2^bits) from
    its declared (lo, hi) range — declared, not computed, so the key
    is stable as data arrives (recomputing ranges would reshuffle
    history; at scale the ranges are domain constants). Values are
    clamped to the range. Bit b of column j lands at position
    b·ncols + j.
    """
    n = len(cols)
    if n != len(ranges):
        raise ValueError("one (lo, hi) range per column required")
    if bits * n > 63:
        raise ValueError("bits * ncols must fit in a signed 64-bit key")
    parts: list[Column] = []
    grid = (1 << bits) - 1
    for j, (c, (lo, hi)) in enumerate(zip(cols, ranges)):
        if not hi > lo:
            raise ValueError("range hi must exceed lo")
        scaled = F.floor(
            (F.least(F.greatest(c.cast("double"), F.lit(float(lo))),
                     F.lit(float(hi))) - F.lit(float(lo)))
            * F.lit(grid / (float(hi) - float(lo)))).cast("long")
        q = scaled.alias(f"_z{j}")
        for b in range(bits):
            parts.append(
                F.shiftleft(F.shiftright(q, b).bitwiseAND(F.lit(1)),
                            b * n + j))
    out = parts[0]
    for p in parts[1:]:
        out = out.bitwiseOR(p)
    return out.cast("long")

