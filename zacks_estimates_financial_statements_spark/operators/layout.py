"""Multi-dimensional data layout: Z-order (Morton) clustering keys for
file-skipping at scale.

Parquet scan pruning works off per-file / per-row-group min-max
statistics; sorting by ONE column makes those ranges tight for that
column only. Interleaving the bits of several columns into a Z-order
key (Morton 1966; the technique behind Delta/Iceberg ``OPTIMIZE
ZORDER BY``) and range-partitioning + sorting by that key keeps the
min-max ranges of EVERY participating column tight in every file.

Spark-first shape: the key is a FLAT sum of shift/mask terms built at
plan-construction time (``sum(((v >> b) & 1) << (b*k + i))``) — pure
JVM codegen expressions, no UDF, no higher-order-function lambda (which
CLAUDE.md notes can fall out of whole-stage codegen). The registry's
``zorder_key`` query computes the key over events.

Column normalization needs explicit ``(lo, hi)`` ranges: a data-derived
min/max would make the key non-deterministic across deliveries and is
an extra full scan. Values are clamped, out-of-range rows simply land
at the curve's edge.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def scale_to_bits(col: Column, lo: int, hi: int, bits: int) -> Column:
    """Map an integer column from ``[lo, hi]`` onto ``[0, 2^bits)`` with
    pure integer arithmetic (exactly reproducible in ANSI SQL: same
    ``*`` then integer-``DIV``), clamping out-of-range inputs."""
    span = max(hi - lo, 1)
    top = (1 << bits) - 1
    clamped = F.greatest(F.least(col.cast("long"), F.lit(hi)), F.lit(lo))
    scaled = (clamped - F.lit(lo)) * F.lit(top)
    # floor(a/b) == a DIV b here: a <= span * top, and the double
    # quotient's error (~2^bits * 2^-52) is far below 1/span, the
    # closest a non-integer rational a/span can sit to an integer —
    # so the floor never crosses a boundary (holds while span < 2^36)
    return F.floor(scaled / F.lit(span)).cast("long")


def zorder_key(cols: list[Column], bits: int = 16) -> Column:
    """Morton key interleaving ``bits`` low bits of each (already
    scaled) column: bit ``b`` of column ``i`` lands at position
    ``b*len(cols) + i``. Flat shift/mask expression — one codegen
    projection, no shuffle. ``len(cols) * bits`` must fit a long."""
    k = len(cols)
    if k * bits > 62:
        raise ValueError(f"{k} cols x {bits} bits exceeds a long")
    terms = []
    for i, c in enumerate(cols):
        v = c.cast("long")
        for b in range(bits):
            terms.append(F.shiftleft(
                F.shiftright(v, b).bitwiseAND(F.lit(1)), b * k + i))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out
