"""Deterministic, engine-portable hashing primitives.

Every dedup / fingerprint / minhash operator in this engine hashes with
md5 → first-8-hex-digits → uint32, NOT Spark's xxhash64/hash builtins.
Rationale: the same value is computable in any ANSI-SQL engine (the
DuckDB oracle in `__spark_entry__.py` uses `('0x'||substr(md5(x),1,8))
::BIGINT`), so correctness is verifiable cross-engine, and the function
is stable across Spark versions (hash() seed behavior is not
contractual). Spark-side it stays JVM/whole-stage-codegen: md5+conv are
builtin expressions, no Python crossing.

MinHash universal-hash family: h_j(x) = (a_j * (x mod P) + b_j) mod P
with P = 2^31 - 1 (Mersenne prime) and a_j < 2^20, which keeps every
intermediate below 2^52 — safe in ANSI engines that error on BIGINT
overflow (DuckDB) and identical under Spark's wrapping arithmetic.

Reference parity note: the reference has no hashing at all (its dedup
is an in-memory JS Set, /root/reference/scripts/batch-sample-run.js:72);
hashing is the scale substrate the north rule adds.
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F
from pyspark.sql import Column

# Mersenne prime 2^31-1: modulus of the universal hash family.
MINHASH_P = 2_147_483_647
# Seed for (a_j, b_j) draws — fixed forever; oracle SQL inlines the
# same constants, so changing it silently breaks cross-engine parity.
MINHASH_SEED = 0x5EED_CAFE


def h32(col: Column | str) -> Column:
    """uint32 hash of a string column via md5 (JVM-side, portable)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def h32_sql(expr: str) -> str:
    """The DuckDB rendering of `h32` — identical 32-bit value."""
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"


def minhash_params(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) pairs shared by Spark plans and oracles."""
    rng = random.Random(MINHASH_SEED)
    return [
        (rng.randrange(1, 1 << 20), rng.randrange(0, MINHASH_P))
        for _ in range(n_hashes)
    ]


def universal_hash(h: Column, a: int, b: int) -> Column:
    """h_j over a precomputed uint32 column; pure bigint arithmetic."""
    return (F.lit(a) * (h % F.lit(MINHASH_P)) + F.lit(b)) % F.lit(MINHASH_P)


def universal_hash_sql(h_expr: str, a: int, b: int) -> str:
    return f"(({a} * (({h_expr}) % {MINHASH_P}) + {b}) % {MINHASH_P})"
