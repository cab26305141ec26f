"""Shared deterministic hashing primitives, mirrored exactly in the DuckDB
oracle SQL (the SQL strings are generated from the same constants).

Base hash: first 15 hex chars of md5 → bigint (60 bits, always positive,
identical in Spark `conv(substring(md5(x),1,15),16,10)` and DuckDB
`cast('0x'||substr(md5(x),1,15) as bigint)`).

Universal hash family over M = 2^31 - 1 (Mersenne prime):
    h_i(x) = (a_i * (base(x) % M) + b_i) % M
with a_i, b_i < 2^31 derived from splitmix64(seed=42, i) — products stay
below 2^62, so both engines' int64 arithmetic is overflow-free and equal.

Every helper returns SQL text; a name ending in ``_spark_sql`` or
``_duckdb_sql`` is valid in that dialect only, ``universal_hash_sql`` in
both.
"""

from __future__ import annotations

M31 = 2_147_483_647  # 2^31 - 1
_SEED = 42


def _splitmix(i: int) -> int:
    z = (i + 0x9E3779B97F4A7C15 * (_SEED + 1)) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return (z ^ (z >> 31)) & 0xFFFFFFFFFFFFFFFF


def hash_params(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (a, b) coefficient lists, shared with the oracle SQL."""
    a = [(_splitmix(2 * i) % (M31 - 1)) + 1 for i in range(num_hashes)]
    b = [_splitmix(2 * i + 1) % M31 for i in range(num_hashes)]
    return a, b


def md5_long_spark_sql(expr: str) -> str:
    """60-bit positive bigint from md5, Spark SQL."""
    return f"cast(conv(substring(md5({expr}), 1, 15), 16, 10) as bigint)"


def md5_long_duckdb_sql(expr: str) -> str:
    """Same hash, DuckDB SQL."""
    return f"cast(('0x' || substr(md5({expr}), 1, 15)) as bigint)"


def universal_hash_sql(base_mod_expr: str, i: int, params: tuple[list[int], list[int]]) -> str:
    a, b = params
    return f"(({a[i]} * {base_mod_expr} + {b[i]}) % {M31})"
