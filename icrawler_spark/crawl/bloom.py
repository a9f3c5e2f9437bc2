"""Partitioned Bloom seen-filter (north_rule core).

Spark's native bloom runtime filters (InjectRuntimeFilter) only fire inside
join planning; the crawl loop needs a filter that *persists across rounds*,
so we build our own: a driver-side bitmap, updated each round from a JVM
aggregation over the round's keys, broadcast back, and applied as a
vectorized pandas UDF pre-filter.

Correctness contract (SURVEY §4 hard-part (f)): the Bloom answer "maybe seen"
is only ever used to *route* candidates into the exact anti-join; a false
positive can cost a redundant exact check, never a dropped URL. The engine
uses ``might_contain`` to short-circuit the definitely-new majority and sends
the "maybe" minority through the exact anti-join.

Hashing: keys are int64 transport keys (the engine's ``xxhash64(url)``),
hashed once, in the JVM. The k probe positions come from the key itself by
Kirsch-Mitzenmacher double hashing: ``h1 = pmod(key, n_bits)``,
``h2 = key >>> 32``, ``pos_i = pmod(h1 + i·h2, n_bits)`` for ``i < k``. Every
intermediate stays far below 2^63, so Spark's ANSI arithmetic never
overflows, and numpy (``_positions``) and Spark (``_word_masks``) derive the
same bits.

Build: one Spark aggregation — explode the k positions, group by word
``pos >> 6`` and ``bit_or`` the bit masks — fetched with ``toArrow()`` and
OR-ed into a fresh bitmap. No Python worker runs, and the driver receives at
most ``min(batch·k, n_words)`` rows instead of a full bitmap per partition.

Sizing (VLDB'24 bloom-budgeting guidance): bits = n·ln(1/fpp)/ln2², k =
(bits/n)·ln2. At 10^10 URLs / 1% fpp that is ~12 GiB total — sharded by
``pmod(hash, n_shards)`` so each executor holds only its shard; at the
sizes this package runs, a single bitmap suffices.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


class BloomFilter:
    """Fixed-size bitmap with vectorized add/contains over int64 keys."""

    def __init__(self, capacity: int, fpp: float = 0.01):
        capacity = max(capacity, 16)
        n_bits = int(-capacity * math.log(fpp) / (math.log(2) ** 2))
        n_bits = max(128, n_bits)
        self.n_words = (n_bits + 63) // 64
        self.n_bits = self.n_words * 64
        self.k = max(1, int(round((self.n_bits / capacity) * math.log(2))))
        self.bits = np.zeros(self.n_words, dtype=np.uint64)

    def _positions(self, keys) -> np.ndarray:
        """(k, n) int64 bit positions of ``keys`` (see the module docstring)."""
        keys = np.asarray(keys, dtype=np.int64)
        h1 = np.mod(keys, self.n_bits)
        h2 = (keys.view(np.uint64) >> np.uint64(32)).astype(np.int64)
        i = np.arange(self.k, dtype=np.int64)[:, None]
        return np.mod(h1 + i * h2, self.n_bits)

    def add_many(self, keys) -> None:
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(self.bits, pos >> 6, np.uint64(1) << (pos & 63).astype(np.uint64))

    def might_contain_many(self, keys) -> np.ndarray:
        pos = self._positions(keys)
        bit = (self.bits[pos >> 6] >> (pos & 63).astype(np.uint64)) & np.uint64(1)
        return bit.astype(bool).all(axis=0)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        assert self.n_bits == other.n_bits and self.k == other.k
        self.bits |= other.bits
        return self

    # -- serialization for driver↔executor transfer ---------------------------

    def to_bytes(self) -> bytes:
        head = np.array([self.n_words, self.k], dtype=np.int64).tobytes()
        return head + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilter":
        n_words, k = np.frombuffer(data[:16], dtype=np.int64)
        obj = cls.__new__(cls)
        obj.n_words = int(n_words)
        obj.n_bits = int(n_words) * 64
        obj.k = int(k)
        obj.bits = np.frombuffer(data[16:], dtype=np.uint64).copy()
        return obj


def _word_masks(df, col: str, bf: BloomFilter):
    """``(word, mask)`` rows: for each bitmap word the keys of ``df[col]``
    touch, the OR of their bits — the JVM twin of ``BloomFilter.add_many``."""
    key, n_bits = F.col(col).cast("long"), F.lit(bf.n_bits)
    h1 = F.pmod(key, n_bits)
    h2 = F.shiftrightunsigned(key, 32)
    pos = F.explode(F.array(*[F.pmod(h1 + i * h2, n_bits) for i in range(bf.k)]))
    bit = F.call_function("shiftleft", F.lit(1).cast("long"), F.col("pos").bitwiseAND(63))
    return (
        df.select(pos.alias("pos"))
        .groupBy(F.shiftright("pos", 6).alias("word"))
        .agg(F.bit_or(bit).alias("mask"))
    )


def build_filter(df, col: str, capacity: int, fpp: float = 0.01) -> BloomFilter:
    """Bloom filter over the int64 keys in ``df[col]``: the set words are
    aggregated in the JVM and OR-ed into a fresh bitmap on the driver."""
    bf = BloomFilter(capacity, fpp)
    t = _word_masks(df, col, bf).toArrow()
    words = t.column("word").to_numpy()
    masks = t.column("mask").to_numpy().view(np.uint64)
    np.bitwise_or.at(bf.bits, words, masks)
    return bf


def prefilter_unseen(df, col: str, bloom_bytes_bc):
    """Split df into (definitely_new, maybe_seen) using the broadcast bloom.

    ``bloom_bytes_bc`` is a SparkContext broadcast of ``BloomFilter.to_bytes``.
    Returns the df with an extra boolean column ``_maybe_seen``.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BooleanType

    @pandas_udf(BooleanType())
    def might_contain(vals: pd.Series) -> pd.Series:
        bf = BloomFilter.from_bytes(bytes(bloom_bytes_bc.value))
        return pd.Series(bf.might_contain_many(vals))

    # nondeterministic, so the optimizer copies no ``_maybe_seen`` predicate
    # across a join on the key's source column onto the other side's scan
    # (the engine's visited scan, which the filter exists to route around)
    return df.withColumn("_maybe_seen", might_contain.asNondeterministic()(df[col]))
