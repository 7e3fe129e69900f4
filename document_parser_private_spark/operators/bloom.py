"""Bloom-filter semi-join reduction — prune a huge probe side early.

At 100 TB the canonical shape "filter fact rows to those whose key
exists in a (still large) build side" costs a full shuffle of the fact
table into a shuffled hash join. A Bloom filter built from the build
side and broadcast to the scan cuts that: probe rows whose k hash
positions are not ALL set can be dropped AT THE SCAN, before any
shuffle, at the price of a controlled false-positive rate
(~(1 - e^{-kn/m})^k). Spark's own runtime-filter feature
(spark.sql.optimizer.runtime.bloomFilter.enabled) injects this
opportunistically; this operator makes it an explicit, deterministic,
engine-portable primitive the caller controls (and the DuckDB oracle
can replay bit for bit).

Hash contract (mirrors operators/sketch.py — md5, not engine-native
hashes, which differ between Spark and DuckDB):

  pos_i(key) = int(md5(cast(key as string) || '#' || i)[0:8], 16) % m
  for i in 0..k-1; the filter is the distinct set of set positions.

The build side stays a relational table of <= m distinct positions (so
filters union/merge across builds by construction); the prune side
folds it into a plan-time int64 bitmap literal — a bounded-by-m_bits
collect, the same trade as the IVF centroid literals — so probing is a
pure codegen projection with zero joins and zero exchanges.

Reference scope: no bloom/semi-join reduction exists in the reference
engine (pure single-node); this is beyond-reference scale tooling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["bloom_build", "bloom_prune"]

BLOOM_M = 8192   # default bits
BLOOM_K = 4      # default hash count


def _pos_col(value: Column, i: int, m_bits: int) -> Column:
    h = F.md5(F.concat(value.cast("string"), F.lit(f"#{i}")))
    return F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), F.lit(m_bits)
    ).cast("int")


def bloom_build(keys: DataFrame, key_col: str,
                m_bits: int = BLOOM_M, k: int = BLOOM_K) -> DataFrame:
    """Build the filter from a key set: one `pos` column, <= m_bits
    distinct rows. Map-side partial distinct collapses duplicate keys
    before the (tiny) shuffle; the result is broadcastable by size
    construction (m_bits rows max, one int each)."""
    v = F.col(key_col)
    return (
        keys.select(
            F.explode(F.array(*[_pos_col(v, i, m_bits) for i in range(k)]))
            .alias("pos")
        )
        .distinct()
    )


def bloom_prune(probe: DataFrame, probe_col: str, bloom: DataFrame,
                m_bits: int = BLOOM_M, k: int = BLOOM_K) -> DataFrame:
    """Keep probe rows whose key passes the filter (all k positions
    set). Adds `bloom_pass` (int 0/1) rather than filtering, so callers
    can audit the false-positive rate; filter on it for the prune.

    Plan shape: the position table is folded into a PLAN-TIME int64
    bitmap literal (<= m_bits/64 longs — the collect is bounded by
    construction at filter size, like the plane-sign literals in
    operators/similarity.py), so the probe side is a single codegen
    projection: k md5 positions + k element_at/bit tests per row, zero
    joins, zero exchanges. The previous shape was k broadcast-hash left
    joins, which re-built the (aggregated) position broadcast per join
    and re-copied every probe row through k join operators — measured
    ~2x slower at 1.5M probe rows. Works unchanged as the pre-filter in
    front of any shuffled join; membership values are identical (same
    md5 position contract, same set).
    """
    n_words = (m_bits + 63) // 64
    words = [0] * n_words
    for r in bloom.select("pos").collect():     # <= m_bits tiny rows
        p = int(r["pos"])
        words[p // 64] |= 1 << (p % 64)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    bitmap = F.array(*[F.lit(w).cast("long") for w in words])
    one_bit = [(1 << j) - (1 << 64 if j == 63 else 0) for j in range(64)]
    bits = F.array(*[F.lit(x).cast("long") for x in one_bit])
    v = F.col(probe_col)
    pass_expr = F.lit(True)
    for i in range(k):
        pos = _pos_col(v, i, m_bits)
        word = F.element_at(
            bitmap, (F.floor(pos / F.lit(64)) + 1).cast("int"))
        bit = F.element_at(bits, F.pmod(pos, F.lit(64)).cast("int") + 1)
        pass_expr = pass_expr & (word.bitwiseAND(bit) != 0)
    # a null key has null positions: it fails the filter (0, not NULL)
    return probe.withColumn(
        "bloom_pass", F.coalesce(pass_expr, F.lit(False)).cast("int"))
