"""Portable deterministic hashing shared by operators and oracles.

Everything is built on md5 so the DuckDB oracle can reproduce the
exact same values:

  Spark : conv(substr(md5(s), 1, 15), 16, 10)  cast long
  DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT

15 hex chars = 60 bits, always fits a signed 64-bit int. Seeded
variants prepend ``"{seed}:"`` so independent hash families (minhash
rows, hyperplanes) come from one primitive. md5 is a JVM intrinsic in
Spark — no Python, codegen-friendly, identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX_WIDTH = 15  # 60 bits


def seeded(col: Column, seed: int | str | None = None) -> Column:
    if seed is None:
        return col
    return F.concat(F.lit(f"{seed}:"), col)


def md5_hex(col: Column, seed: int | str | None = None) -> Column:
    """Full md5 hex digest (strings order identically in both engines)."""
    return F.md5(seeded(col, seed))


def md5_long(col: Column, seed: int | str | None = None, width: int = HEX_WIDTH) -> Column:
    """60-bit (default) non-negative integer hash."""
    return F.conv(F.substring(F.md5(seeded(col, seed)), 1, width), 16, 10).cast("long")


def md5_int32(col: Column, seed: int | str | None = None) -> Column:
    """32-bit hash (8 hex chars) for simhash-style bit tricks."""
    return md5_long(col, seed, width=8)


# --- DuckDB SQL snippet builders (oracle side of the same primitives) ---


def dd_seeded(expr: str, seed: int | str | None = None) -> str:
    return f"('{seed}:' || {expr})" if seed is not None else expr


def dd_md5_long(expr: str, seed: int | str | None = None, width: int = HEX_WIDTH) -> str:
    return f"('0x' || substr(md5({dd_seeded(expr, seed)}), 1, {width}))::BIGINT"
