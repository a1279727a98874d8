"""G25: Z-order (Morton) interleave, the clustering key for multi-column
data skipping.

Parquet scans prune row groups / files with min-max statistics, but a
layout sorted on one column leaves every OTHER column's min-max spanning
the full domain — a filter on the second column prunes nothing. Rows
ordered by the bit-interleaved Z-value of several columns bound EVERY
interleaved column's span per file (each file covers a small hyper-
rectangle of the key space), so selective filters on any of them skip
most files.

Spark-first: the Z-value is a pure Catalyst bit expression (unrolled
``shiftleft``/``bitwise OR`` — codegen'd, no UDF); a layout is then the
standard ``repartitionByRange(z).sortWithinPartitions(z)`` write recipe.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def zvalue(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton interleave of ``len(cols)`` non-negative integer columns,
    ``bits`` low bits each (values are masked to ``bits`` — callers
    should rank/bucket arbitrary domains into 0..2^bits-1 first, e.g.
    with ``F.ntile`` or min-max scaling). Bit j of column i lands at
    output bit ``j * n_cols + i``; total width ``bits * n_cols`` must fit
    a long (<= 62)."""
    n = len(cols)
    if n < 2:
        raise ValueError("zvalue needs at least two columns")
    if bits * n > 62:
        raise ValueError(f"{bits} bits x {n} cols overflows a long")
    cs = [
        (F.col(c) if isinstance(c, str) else c).cast("long") for c in cols
    ]
    z = F.lit(0).cast("long")
    for j in range(bits):
        for i, c in enumerate(cs):
            bit = F.shiftright(c, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * n + i))
    return z
