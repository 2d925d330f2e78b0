"""Deterministic hash draws shared by every seeded Spark-side operator."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_draw(col: Column | str, uniform: bool = False) -> Column:
    """The engine-standard draw: the first 8 hex digits of ``md5(col)``
    as an unsigned 32-bit value in a long; with ``uniform=True`` that
    value over 2^32, a uniform double in [0, 1). DuckDB oracles spell
    the same integer ``CAST(('0x' || substr(md5(x), 1, 8)) AS UBIGINT)``,
    so both engines draw bit-identical values."""
    u32 = F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
    return u32 / F.lit(4294967296.0) if uniform else u32
