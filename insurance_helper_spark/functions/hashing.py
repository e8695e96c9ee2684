"""Deterministic cross-engine hashing helpers.

The Knuth multiplicative hash maps an integer key to a uniform in
[0, 1) with pure 64-bit integer arithmetic — exactly reproducible in
Spark AND in the DuckDB oracle SQL (no rand(), no engine-specific hash
function), which is what makes hash-based sampling/splitting
value-checkable.

The key is pre-reduced modulo 2^31 so the multiplication never leaves
signed int64: (2^31 - 1) x 2654435761 < 2^63. Without the reduction a
key above ~3.47e9 overflows — DuckDB raises, Spark silently WRAPS, and
the engines diverge (found by the hypothesis property test). Canonical
home for the constants; ``knuth_uniform_sql`` emits the DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

KNUTH_MUL = 2_654_435_761
KNUTH_MOD = 4_294_967_296
KEY_REDUCE = 2_147_483_648  # 2^31: keeps key*MUL inside signed int64
_KEY_REDUCE = KEY_REDUCE  # backwards-compat alias


def knuth_uniform(key: Column) -> Column:
    """Uniform-ish double in [0, 1) from an integer key column.

    Both reductions use the portable non-negative modulo
    ``((x % m) + m) % m``: plain ``%`` follows the dividend's sign in
    Spark AND DuckDB, so a negative key would land in (-1, 0] and every
    such row would satisfy ``u < train_frac`` — silently skewing any
    hash split. The double-mod keeps the documented [0, 1) contract for
    all int64 keys on both engines.
    """
    reduced = ((key % F.lit(KEY_REDUCE)) + F.lit(KEY_REDUCE)) % F.lit(KEY_REDUCE)
    # reduced is in [0, 2^31) for every int64 key, so the product stays a
    # positive signed int64 and the outer % is already non-negative.
    h = (reduced * F.lit(KNUTH_MUL)) % F.lit(KNUTH_MOD)
    return h.cast("double") / F.lit(float(KNUTH_MOD))


def knuth_uniform_sql(key_expr: str) -> str:
    """The DuckDB-side twin as a SQL fragment (same pmod semantics)."""
    reduced = f"((({key_expr}) % {KEY_REDUCE}) + {KEY_REDUCE}) % {KEY_REDUCE}"
    return f"((({reduced}) * {KNUTH_MUL}) % {KNUTH_MOD}) * 1.0 / {KNUTH_MOD}"


HASH_MIX = 97531  # seed spacing for the indexed hash family
MIX_MUL2 = 2_246_822_519  # second avalanche multiplier (xxhash PRIME32_2)


def hash_family(key: Column, seed: int) -> Column:
    """Member ``seed`` of a portable indexed hash family: an integer in
    [0, 2^32) from pure int64 arithmetic, bit-identical in Spark and
    the DuckDB twin (``hash_family_sql``). The family behind the CMS
    sketch rows, the MinHash signature rows, and rendezvous sharding.

    Construction: pmod-reduce the key to 2^31, fold the seed into the
    key, then an xorshift-multiply avalanche (xor-shift, Knuth
    multiply, xor-shift, second odd-constant multiply, xor-shift).
    Two hard-won properties, each guarded by a test:

    - The seed MUST enter BEFORE any multiply. The original
      ``k*MUL + seed*MIX`` form shifted every member by a tiny
      constant, so all members shared one ORDER — MinHash picked the
      same shingle in every row (one effective permutation) and
      rendezvous argmax always elected the highest seed.
    - A purely MULTIPLICATIVE chain keeps h(seed) an arithmetic
      progression with a key-independent step, which biases
      order statistics across members (measured: HRW minimal-movement
      5.4% instead of 1/9). The xor-shift rounds break the linearity;
      movement lands at 10.8% on 20k keys.

    Every intermediate stays inside signed int64: values are < 2^32
    before each multiply and reduced below 2^31 right before, so the
    products stay < 2^63."""
    x = ((key % F.lit(KEY_REDUCE)) + F.lit(KEY_REDUCE)) % F.lit(KEY_REDUCE)
    x = (x + F.lit(seed * HASH_MIX)) % F.lit(KEY_REDUCE)
    x = x.bitwiseXOR(F.shiftright(x, 15))
    x = (x * F.lit(KNUTH_MUL)) % F.lit(KNUTH_MOD)
    x = x.bitwiseXOR(F.shiftright(x, 13))
    x = ((x % F.lit(KEY_REDUCE)) * F.lit(MIX_MUL2)) % F.lit(KNUTH_MOD)
    return x.bitwiseXOR(F.shiftright(x, 16))


def hash_family_py(key: int, seed: int) -> int:
    """Pure-Python twin of ``hash_family`` — bit-identical by
    construction (every step is exact integer arithmetic; Python ints
    don't overflow, and all intermediates are non-negative so ``%``
    and ``>>`` agree with the engine semantics). Used at PLAN BUILD
    time to fold constant hash values (e.g. the JL ±1 sign matrix,
    which depends only on (dim, projection)) into literals instead of
    re-evaluating the avalanche per row pair per element.
    Parity with the Column version is pinned by
    tests/test_hashing_props.py."""
    x = ((key % KEY_REDUCE) + KEY_REDUCE) % KEY_REDUCE
    x = (x + seed * HASH_MIX) % KEY_REDUCE
    x = x ^ (x >> 15)
    x = (x * KNUTH_MUL) % KNUTH_MOD
    x = x ^ (x >> 13)
    x = ((x % KEY_REDUCE) * MIX_MUL2) % KNUTH_MOD
    return x ^ (x >> 16)


def hash_family_sql(key_expr: str, seed: int) -> str:
    """DuckDB twin of ``hash_family`` as a SQL fragment (xor() and >>
    are DuckDB's bitwise ops; the textual sub-expression duplication
    from xor(x, x >> n) is a few hundred bytes per member)."""
    x = f"((({key_expr}) % {KEY_REDUCE}) + {KEY_REDUCE}) % {KEY_REDUCE}"
    x = f"(({x}) + {seed * HASH_MIX}) % {KEY_REDUCE}"
    x = f"xor(({x}), ({x}) >> 15)"
    x = f"(({x}) * {KNUTH_MUL}) % {KNUTH_MOD}"
    x = f"xor(({x}), ({x}) >> 13)"
    x = f"((({x}) % {KEY_REDUCE}) * {MIX_MUL2}) % {KNUTH_MOD}"
    return f"xor(({x}), ({x}) >> 16)"


def sha_prefix_long(col: Column) -> Column:
    """Portable STRING hash: the first 12 hex chars of sha2-256 parsed
    as an integer in [0, 2^48). xxhash64 differs between engines, but
    sha-256 is bit-identical everywhere, so this is the string
    counterpart of ``knuth_uniform`` — the hash behind any oracle-gated
    sketch keyed on text (KMV distinct, hash-ordered token sampling).
    Cost: one sha2 per row, JVM-side, codegen-friendly."""
    return F.conv(F.substring(F.sha2(col, 256), 1, 12), 16, 10).cast("long")


def sha_prefix_long_sql(expr: str) -> str:
    """DuckDB twin of ``sha_prefix_long`` (hex-literal cast)."""
    return f"(('0x' || substr(sha256({expr}), 1, 12))::BIGINT)"
