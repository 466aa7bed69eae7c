"""Portable deterministic hashing for dedup/fingerprinting.

All hashes derive from md5 hex strings so that the exact same values are
computable in any ANSI-SQL engine (the duckdb oracle included) — unlike
Spark's murmur3 ``hash()``/``xxhash64()``, which are engine-specific.
Cost: md5 is ~3× slower than xxhash64, still JVM-side and codegen'd; at
100 TB swap `md5_long` for `xxhash64` when cross-engine comparability is
not needed (the API is the same shape).

Reference analogue: the reference has no content hashing at all — this
is part of the beyond-parity training-data-pipeline surface (dedup,
fingerprinting) built on the same engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 14 hex chars = 56 bits — fits a signed 64-bit int, stays positive.
_HEX_CHARS = 14


def md5_long(c: Column, seed: int | None = None) -> Column:
    """Deterministic 56-bit integer hash of a string column.

    Oracle-SQL equivalent:
      CAST(concat('0x', substr(md5(x), 1, 14)) AS BIGINT)          (duckdb)
      conv(substr(md5(x), 1, 14), 16, 10)                          (spark)
    """
    if seed is not None:
        c = F.concat(c, F.lit(f"#{seed}"))
    return F.conv(F.substring(F.md5(c), 1, _HEX_CHARS), 16, 10).cast("bigint")


def md5_long_sql(expr: str, seed: int | None = None) -> str:
    """The duckdb-SQL text computing the same value as ``md5_long``."""
    if seed is not None:
        expr = f"concat({expr}, '#{seed}')"
    return f"CAST(concat('0x', substr(md5({expr}), 1, {_HEX_CHARS})) AS BIGINT)"


def md5_long_lane2(c: Column, seed: int | None = None) -> Column:
    """Second independent 56-bit lane (md5 hex chars 15-28) of the same
    digest ``md5_long`` reads chars 1-14 of.

    A single 56-bit key is collision-free at test cardinalities but at
    the documented 100 TB scale (> ~2^28 distinct shingles) birthday
    collisions become expected (~2^(2*28-56) = O(1) at 2^28, growing
    quadratically past it), creating spurious near-dup edges. The
    production escape hatch is to key shingle joins on BOTH lanes —
    112 bits total from one md5 evaluation, pushing the birthday bound
    past 2^50 distinct shingles — at the cost of one extra long per
    row. Test-scale queries keep the single lane (the duckdb oracle
    joins raw strings, so the hash gate would expose any collision).
    """
    if seed is not None:
        c = F.concat(c, F.lit(f"#{seed}"))
    return F.conv(
        F.substring(F.md5(c), _HEX_CHARS + 1, _HEX_CHARS), 16, 10
    ).cast("bigint")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column → array<string>.

    Tokens are ``split(trim(text), '\\s+')`` (``trim`` strips spaces only,
    so a leading/trailing tab, newline, ... leaves an empty token); each
    shingle is n consecutive tokens joined by one space, in order of
    first occurrence; a text of fewer than n tokens is one shingle of
    all of them, and a NULL text gives ``[NULL]``.

    One codegen'd regex pass instead of a ``transform`` lambda (which
    Spark interprets per row): tokens hold no space, so on the
    space-joined tokens every shingle is the capture of a lookahead of
    n space-separated runs anchored at the start or right after a space.
    The lookbehind must be the positive ``(?<= )``: a negative
    ``(?<![^ ])`` also matches between the two halves of a surrogate
    pair, where the finder lands after an empty match.
    """
    toks = F.split(F.trim(text), r"\s+")
    joined = F.array_join(toks, " ")
    grams = F.regexp_extract_all(
        joined, F.lit("(?:^|(?<= ))(?=([^ ]*" + " [^ ]*" * (n - 1) + "))"), F.lit(1)
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array(joined))
    )


def char_shingles(text: Column, n: int = 5) -> Column:
    """Distinct character n-gram shingles → array<string>."""
    # the interpreted transform lambda stays: no lane on the near-dup path uses it
    k = F.greatest(F.length(text) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), k), lambda i: F.substring(text, i, n))
    )


def _min_hash(shingles: Column, seed: int) -> Column:
    # NB: the lambda must take exactly one arg — pyspark treats a second
    # (even defaulted) parameter as the array-index argument.
    return F.array_min(F.transform(shingles, lambda s: md5_long(s, seed=seed)))


def minhash_signature(shingles: Column, num_hashes: int = 8) -> Column:
    """MinHash signature (array<bigint>, one min per seeded hash family).

    min over shingles of md5_long(shingle, seed) — classic permutation
    approximation (Broder '97). Fully distributed: per-row array ops.
    """
    # interpreted lambdas, kept for signature-array outputs; streams use minhash_mins
    return F.array(*[_min_hash(shingles, i) for i in range(num_hashes)])


def minhash_mins(shingle: Column, num_hashes: int = 8) -> list[Column]:
    """The MinHash signature of a (doc, shingle) stream as aggregate
    columns ``m0..m{num_hashes-1}`` for a doc-keyed ``agg``: the values
    ``minhash_signature`` gives over each doc's shingle array, computed
    per row in generated code instead of by a lambda over the array."""
    return [F.min(md5_long(shingle, seed=i)).alias(f"m{i}") for i in range(num_hashes)]


def _bit_votes(hashes: Column, b: int) -> Column:
    return F.aggregate(
        hashes,
        F.lit(0),
        lambda acc, h: acc + F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("int"),
    )


def simhash32(tokens: Column) -> Column:
    """32-bit SimHash (Charikar '02) of a token array, as bigint.

    bit_i(doc) = 1 iff the majority of token hashes have bit_i set.
    Pure Catalyst: per-token md5_long, then 32 per-bit majority votes.
    """
    hashes = F.transform(tokens, lambda t: md5_long(t))
    n = F.size(hashes)
    out = F.lit(0).cast("bigint")
    for b in range(32):
        out = out + (_bit_votes(hashes, b) * 2 > n).cast("bigint") * F.lit(1 << b)
    return out


def hamming32(a: Column, b: Column) -> Column:
    """Hamming distance between two 32-bit simhashes stored as bigint."""
    return F.bit_count(a.bitwiseXOR(b))


# ------------------------------------------------------------- HyperLogLog
# register derivation shared by the batch sketch (plans/diagnostics.
# q_hll_distinct) and its streaming twin (streaming/pipelines.
# hll_registers_stream). Both take the ALREADY-HASHED 56-bit md5 lane
# (one md5 evaluation, reg and rho derived from the same column —
# codegen does not CSE md5 across sibling expressions) so the two
# consumers cannot drift on the hash convention.

def hll_reg(h: Column) -> Column:
    """HLL register index: the low 8 bits of the 56-bit md5 lane
    (b=8 → m=256 registers)."""
    return h.bitwiseAND(F.lit(255))


def hll_rho(h: Column) -> Column:
    """HLL rank: leading-zero count of the remaining 48-bit suffix + 1,
    computed EXACTLY via length(bin(suffix)) — no float log2. Range
    1..49 (suffix 0 → 49)."""
    suf = F.shiftright(h, 8)
    return (
        F.when(suf == 0, F.lit(49))
        .otherwise(F.lit(49) - F.length(F.bin(suf)))
    )


# Spark-SQL text of a 56-bit SimHash over a token-array column named in
# `tk_col` — the per-row single-pass form: one md5 per token, 56 bit
# votes accumulated in an array state, majority-packed into a bigint.
# Zero shuffle (no explode/groupBy) and no 57-buffer codegen aggregate;
# interpreted HOF cost is ~56 integer ops per token. Value-identical to
# the explode+vote layout (pure integer arithmetic) — the duckdb oracle
# keeps the explode form, the gate hash proves equality.
def simhash56_sql(tk_col: str = "tk") -> str:
    return f"""
    aggregate(
      zip_with(
        aggregate(
          transform({tk_col}, t -> CAST(conv(substr(md5(t),1,14),16,10) AS BIGINT)),
          array_repeat(CAST(0 AS BIGINT), 56),
          (acc, h) -> zip_with(acc, sequence(0, 55), (a, b) -> a + (shiftright(h, b) & CAST(1 AS BIGINT)))
        ),
        sequence(0, 55),
        (c, b) -> IF(2*c > size({tk_col}), shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT))
      ),
      CAST(0 AS BIGINT),
      (acc, x) -> acc + x
    )"""


# SimHash banding constants shared by the batch near-dup join
# (plans/docpipe2.d_simhash_neardup) and its streaming ingest twin
# (streaming/pipelines.simhash_neardup_stream): 56 bits split into
# K+1 = 4 contiguous 14-bit bands — the pigeonhole guarantee that any
# pair at Hamming ≤ K shares at least one intact band.
SIMHASH_BITS = 56
SIMHASH_K = 3
SIMHASH_BAND_BITS = 14


def simhash_bands(sh: Column) -> Column:
    """The K+1 band values of a 56-bit simhash, as array<bigint>."""
    return F.array(
        *[
            F.shiftright(sh, b * SIMHASH_BAND_BITS).bitwiseAND(
                F.lit((1 << SIMHASH_BAND_BITS) - 1)
            )
            for b in range(SIMHASH_K + 1)
        ]
    )
