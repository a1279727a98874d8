"""G25: Z-order (Morton) interleave (operators/layout.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from ferc_xbrl_extractor_spark.operators.layout import zvalue


def _interleave2(x: int, y: int, bits: int) -> int:
    z = 0
    for j in range(bits):
        z |= ((x >> j) & 1) << (2 * j)
        z |= ((y >> j) & 1) << (2 * j + 1)
    return z


def test_zvalue_matches_python_interleave(spark):
    rows = [(3, 5), (0, 0), (15, 1), (7, 12), (255, 255)]
    df = spark.createDataFrame([Row(x=x, y=y) for x, y in rows])
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zvalue(["x", "y"], 8).alias("z")).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _interleave2(x, y, 8)


def test_zvalue_validations(spark):
    with pytest.raises(ValueError, match="at least two"):
        zvalue(["x"], 8)
    with pytest.raises(ValueError, match="overflows"):
        zvalue(["x", "y", "w"], 21)
