"""Deterministic content-hash identifiers.

The reference assigns ids either sequentially (fork IdentifierPass.kt:33-50,
`lastId++` — single-threaded by design) or at Neo4j save time (OGM
@GeneratedValue, Node.kt:174). Neither survives distributed execution:
ids must be stable across runs AND across parallelism levels, so every id
here is a content hash. Never `monotonically_increasing_id` (stable only
within one run's partition layout).
"""

from __future__ import annotations

import hashlib
from functools import lru_cache as _lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F


def content_id(*cols: Column | str, prefix: str = "") -> Column:
    """64-bit content hash rendered as a fixed-width hex string id.

    xxhash64 is JVM-side and codegen'd; the prefix namespaces id spaces
    (entities vs inferred entities vs pages).
    """
    h = F.lower(F.hex(F.xxhash64(*cols)))
    padded = F.lpad(h, 16, "0")
    return F.concat(F.lit(prefix), padded) if prefix else padded


def entity_id_py(name: str, entity_type: str) -> str:
    """Driver/golden-side entity id: stable sha1-derived (not xxhash —
    golden fixtures only need determinism, not JVM parity)."""
    digest = hashlib.sha1(f"{entity_type}\x00{name}".encode()).hexdigest()[:12]
    return f"e:{digest}"


# dual-base polynomial hash for inferred ids: 62 bits from two independent
# folds. NOT sha1 — Spark's sha1/sha2/md5 expressions do a per-row
# MessageDigest provider lookup that serializes under many threads
# (measured: 483k rows cost 12s at local[32] vs ~1s for codegen'd math,
# and the contention grows with parallelism — it inverted the scaling
# curve). Digest functions stay out of any per-row hot path.
_P31 = (1 << 31) - 1


def _poly_col(s: Column, base: int) -> Column:
    chars = F.filter(F.split(s, ""), lambda c: F.length(c) > 0)
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + F.ascii(c)) % _P31,
    )


def _poly_py(s: str, base: int) -> int:
    acc = 0
    for ch in s:
        acc = (acc * base + ord(ch)) % _P31
    return acc


def inferred_id_py(alias_norm: str) -> str:
    h = (_poly_py(alias_norm, 31) << 31) | _poly_py(alias_norm, 131)
    return f"inf:{h:016x}"


def inferred_id_col(alias_norm: Column) -> Column:
    """JVM-side twin of inferred_id_py — pure codegen'd arithmetic."""
    h = F.shiftleft(_poly_col(alias_norm, 31), 31).bitwiseOR(
        _poly_col(alias_norm, 131)
    )
    return F.concat(F.lit("inf:"), F.lpad(F.lower(F.hex(h)), 16, "0"))


def _poly_sql(expr: str, base: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * {base} + b) % {_P31})"
    )


def inferred_id_sql(expr: str) -> str:
    """DuckDB twin of inferred_id_col — same id for any ASCII input."""
    return (
        f"'inf:' || lpad(lower(hex(({_poly_sql(expr, 31)} << 31) "
        f"| {_poly_sql(expr, 131)})), 16, '0')"
    )


# --- engine-portable polynomial string hash ---------------------------------
#
# xxhash64 is Spark-only; MinHash/SimHash/fingerprint operators need a hash
# the DuckDB oracle can reproduce bit-for-bit. This is a classic 31-base
# polynomial over code points, mod a prime small enough that the fold never
# overflows int64 in either engine (acc < P, acc*31 + 127 << 2^63).

CHAR_POLY_P = 1_000_000_007


def char_poly_hash_col(s: Column) -> Column:
    """64-bit-safe polynomial hash of a string, as a JVM fold (codegen'd,
    no Python). Empty string hashes to 0."""
    chars = F.filter(F.split(s, ""), lambda c: F.length(c) > 0)
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % CHAR_POLY_P,
    )


# --- polynomial hash COMPOSITION (r7 optimization) --------------------------
#
# char_poly_hash is a base-31 polynomial, so it composes over
# concatenation:  h(a || b) = (h(a) * 31^len(b) + h(b)) mod P.
# Operators that hash many overlapping substrings of a token stream
# (shingles, chunks, anchor spans) exploit this: hash every TOKEN once,
# then combine per-substring with O(1) int64 arithmetic instead of
# re-folding every character of every substring (measured 5.5-10x on the
# shingle kernel at sf1.0, bit-identical — see OPTIMIZATION_r07.md).
# Intermediate bounds: acc < P < 2^30, 31^k mod P < P, so every product
# below stays under 2^60 — no int64 overflow in either engine.

_POW31_TABLE_LEN = 256
_POW31 = [1]
for _ in range(_POW31_TABLE_LEN):
    _POW31.append(_POW31[-1] * 31 % CHAR_POLY_P)


@_lru_cache(maxsize=None)
def _pow31_table_col() -> Column:
    """The 257-entry shift table as ONE parsed SQL literal array, built
    once per process. The F.array(*[F.lit(x) ...]) form costs 257 py4j
    round trips (~0.15 s) per call, and the table is embedded in every
    composed-hash kernel — Column trees are immutable and data-free, so
    sharing one instance across plans is safe (lambda variables are
    resolved fresh per plan at analysis time). It lives as long as the
    process, not the session: PySpark keeps one py4j gateway (one JVM)
    per process and a Column references no session, so a memo built
    before `spark.stop()` resolves unchanged in the next session."""
    return F.expr(
        "array(" + ", ".join(f"{x}L" for x in _POW31) + ")"
    )


def let_col(col: Column, f) -> Column:
    """Pure-SQL let binding: evaluate `col` ONCE and bind it as the
    lambda variable of f. Interpreted HOF evaluation re-computes every
    OUTER expression referenced inside a lambda once per element
    (measured 2.5x on the shingle kernel); single-element transform()
    makes the binding explicit."""
    return F.element_at(F.transform(F.array(col), f), 1)


def char_poly_pow_col(s: Column) -> Column:
    """31^length(s) mod CHAR_POLY_P — the shift factor for composing
    char_poly_hash_col values. Table lookup for the practical range,
    linear fold beyond (correct for any length)."""
    arr = _pow31_table_col()
    L = F.length(s)
    fold = F.aggregate(
        F.sequence(F.lit(1), F.greatest(L, F.lit(1))),
        F.lit(1).cast("long"),
        lambda acc, _: (acc * 31) % CHAR_POLY_P,
    )
    return F.when(L <= _POW31_TABLE_LEN, F.element_at(arr, L + 1)).otherwise(fold)


def poly_append_char(acc: Column, code: int) -> Column:
    """h(s || chr(code)) from h(s): one fold step."""
    return (acc * 31 + F.lit(code)) % CHAR_POLY_P


def poly_append_token(acc: Column, th: Column, tp: Column) -> Column:
    """h(s || t) from h(s), given th = h(t) and tp = 31^len(t) mod P."""
    return (acc * tp + th) % CHAR_POLY_P


def char_poly_hash_sql(expr: str) -> str:
    """DuckDB twin of char_poly_hash_col — same value for any ASCII input."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * 31 + b) % {CHAR_POLY_P})"
    )


def char_poly_hash_py(s: str) -> int:
    """Python twin, for golden fixtures and property tests."""
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % CHAR_POLY_P
    return acc


# second independent family (multiplier 37, different prime): prefix
# salts do NOT make family-1 hashes independent — h(salt||v) differs
# from h(v) by a length-determined constant, so any pair of family-1
# hashes of the same value are affinely related and their low bits are
# mutually determined (this collapsed HLL's per-register rho to a
# constant; see operators/sketches.py). A different multiplier is a
# different linear combination of the char values — effectively
# independent residues, same overflow bounds (acc < P2 < 2^30).
CHAR_POLY_P2 = 999_999_937


def char_poly_hash2_col(s: Column) -> Column:
    chars = F.filter(F.split(s, ""), lambda c: F.length(c) > 0)
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 37 + F.ascii(c)) % CHAR_POLY_P2,
    )


def char_poly_hash2_sql(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * 37 + b) % {CHAR_POLY_P2})"
    )


def char_poly_hash2_py(s: str) -> int:
    acc = 0
    for ch in s:
        acc = (acc * 37 + ord(ch)) % CHAR_POLY_P2
    return acc


# engine-portable 32-bit avalanche finalizer (the public-domain
# xor-shift/multiply "lowbias32" shape): polynomial residues are fine
# as EQUALITY keys but their bit-level statistics are structured —
# trailing zeros correlate across families (all odd multipliers share
# parity pre-reduction) and low bits bias bucket assignment on
# sequential keys, which collapsed HLL register statistics (see
# operators/sketches.py). Every op here is exact int64 arithmetic
# (inputs < 2^32, products < 2^58 — no overflow under ANSI mode) and
# identical in Spark and DuckDB: XOR, logical-equivalent right shift
# on non-negative values, masked multiply.
AVALANCHE_MULT = 0x45D9F3B
_MASK32 = 0xFFFFFFFF


def avalanche32_col(h: Column) -> Column:
    y = h.bitwiseXOR(F.shiftright(h, 16))
    y = (y * AVALANCHE_MULT).bitwiseAND(F.lit(_MASK32).cast("long"))
    y = y.bitwiseXOR(F.shiftright(y, 16))
    y = (y * AVALANCHE_MULT).bitwiseAND(F.lit(_MASK32).cast("long"))
    return y.bitwiseXOR(F.shiftright(y, 16))


def avalanche32_sql(expr: str) -> str:
    m, k = _MASK32, AVALANCHE_MULT
    e = f"CAST({expr} AS BIGINT)"
    y1 = f"(xor({e}, ({e}) >> 16))"
    y2 = f"((({y1}) * CAST({k} AS BIGINT)) & {m})"
    y3 = f"(xor({y2}, ({y2}) >> 16))"
    y4 = f"((({y3}) * CAST({k} AS BIGINT)) & {m})"
    return f"xor({y4}, ({y4}) >> 16)"


def avalanche32_py(h: int) -> int:
    y = (h ^ (h >> 16)) & _MASK32
    y = (y * AVALANCHE_MULT) & _MASK32
    y = y ^ (y >> 16)
    y = (y * AVALANCHE_MULT) & _MASK32
    return y ^ (y >> 16)
