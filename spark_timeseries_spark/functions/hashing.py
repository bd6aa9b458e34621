"""Cross-engine deterministic hashing.

The scale-path operators hash with ``xxhash64`` (fastest JVM hash, whole-stage
codegen). For oracle-checked correctness runs we need a hash that a second
engine (DuckDB) can reproduce bit-for-bit in plain SQL: ``hash60`` is the top
60 bits of MD5, parsed from the hex digest — computable as
``conv(substring(md5(x), 1, 15), 16, 10)`` in Spark and
``('0x' || substr(md5(x), 1, 15))::BIGINT`` in DuckDB. 60 bits keeps the
value inside a signed 64-bit integer in both engines (no sign-extension
differences), and collision behavior is equivalent to xxhash64 for dedup
purposes (p ≈ n²/2⁶¹).

Operators that hash take ``hash_fn ∈ {"xxhash64", "md5_60"}``; the default is
the fast path, the md5 mode is what ``__spark_entry__`` queries use so the
DuckDB oracles can replay the exact same pipeline.

Each hash has three forms: the Column builder (:func:`hashed`,
:func:`hashed_with_seed`), its Spark SQL text twin for builders that parse
one wide expression (:func:`hashed_sql`, :func:`hashed_with_seed_sql`; see
:mod:`.sqltext`), and the DuckDB twin the oracles use (:func:`hash60_sql`,
:func:`hash60_seeded_sql`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqltext import literal

#: 2**60 as a double — the divisor for hash-to-uniform-[0,1) conversion.
HASH60_SCALE = float(1 << 60)


def hash60(col: Column) -> Column:
    """Top 60 bits of md5(col) as BIGINT — reproducible in DuckDB SQL."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hashed(col: Column, hash_fn: str = "xxhash64") -> Column:
    """Dispatch: the fast JVM hash or the cross-engine md5-based hash.
    ``"oph"`` (a signature-stage mode) hashes like xxhash64 here — band
    hashing has no per-seed cost to save."""
    if hash_fn in ("xxhash64", "oph"):
        return F.xxhash64(col)
    if hash_fn == "md5_60":
        return hash60(col)
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def hashed_with_seed(col: Column, seed: int, hash_fn: str = "xxhash64") -> Column:
    """Seeded variant: xxhash64 takes a native seed column; the md5 mode
    appends ``chr(1) || seed`` (mirrored in the DuckDB oracle SQL)."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col, F.lit(seed))
    if hash_fn == "md5_60":
        return hash60(F.concat(col, F.lit("\x01"), F.lit(str(seed))))
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def hashed_sql(expr: str, hash_fn: str = "xxhash64") -> str:
    """Spark SQL text of :func:`hashed` over the SQL expression ``expr``."""
    if hash_fn in ("xxhash64", "oph"):
        return f"xxhash64({expr})"
    if hash_fn == "md5_60":
        return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def hashed_with_seed_sql(expr: str, seed: int, hash_fn: str = "xxhash64") -> str:
    """Spark SQL text of :func:`hashed_with_seed` over ``expr``."""
    if hash_fn == "xxhash64":
        return f"xxhash64({expr}, {int(seed)})"
    if hash_fn == "md5_60":
        return hashed_sql(
            f"concat({expr}, {literal(chr(1))}, {literal(str(seed))})", hash_fn
        )
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def hash60_sql(expr: str) -> str:
    """DuckDB expression computing the same value as :func:`hash60`."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def hash60_seeded_sql(expr: str, seed_expr: str) -> str:
    """DuckDB twin of :func:`hashed_with_seed` in md5 mode."""
    return hash60_sql(f"{expr} || chr(1) || CAST({seed_expr} AS VARCHAR)")
