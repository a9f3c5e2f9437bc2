"""Partitioned Bloom seen-filter (north_rule core).

Spark's native bloom runtime filters (InjectRuntimeFilter) only fire inside
join planning; the crawl loop needs a filter that *persists across rounds*,
so we build our own: per-partition bitmaps built vectorized in an
``applyInPandas``-style fold, OR-merged on the driver (a few MiB), broadcast
back, and applied as a vectorized pandas UDF pre-filter.

Correctness contract (SURVEY §4 hard-part (f)): the Bloom answer "maybe seen"
is only ever used to *route* candidates into the exact anti-join; a false
positive can cost a redundant exact check, never a dropped URL. The engine
uses ``might_contain`` to short-circuit the definitely-new majority and sends
the "maybe" minority through the exact anti-join.

Hashing: ``pandas.util.hash_pandas_object`` (SipHash, fixed key) — vectorized
C speed, deterministic across processes; k probe positions derive from two
independent 64-bit hashes (Kirsch-Mitzenmacher double hashing).

Sizing (VLDB'24 bloom-budgeting guidance): bits = n·ln(1/fpp)/ln2², k =
(bits/n)·ln2. At 10^10 URLs / 1% fpp that is ~12 GiB total — sharded by
``pmod(hash, n_shards)`` so each executor holds only its shard; in this
sandbox a single bitmap suffices and the shard count is a constructor knob.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

# SipHash keys must be exactly 16 bytes
_KEY1 = "icrawler_bloom1_"
_KEY2 = "icrawler_bloom2_"


def _hashes(values: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    s = values.astype(str)
    h1 = pd.util.hash_pandas_object(s, index=False, hash_key=_KEY1).to_numpy(dtype=np.uint64)
    h2 = pd.util.hash_pandas_object(s, index=False, hash_key=_KEY2).to_numpy(dtype=np.uint64)
    return h1, h2


class BloomFilter:
    """Fixed-size bitmap with vectorized add/contains."""

    def __init__(self, capacity: int, fpp: float = 0.01):
        capacity = max(capacity, 16)
        n_bits = int(-capacity * math.log(fpp) / (math.log(2) ** 2))
        n_bits = max(128, n_bits)
        self.n_words = (n_bits + 63) // 64
        self.n_bits = self.n_words * 64
        self.k = max(1, int(round((self.n_bits / capacity) * math.log(2))))
        self.bits = np.zeros(self.n_words, dtype=np.uint64)

    def add_many(self, values: pd.Series) -> None:
        if len(values) == 0:
            return
        h1, h2 = _hashes(values)
        for i in range(self.k):
            idx = (h1 + np.uint64(i) * h2) % np.uint64(self.n_bits)
            np.bitwise_or.at(self.bits, (idx >> np.uint64(6)).astype(np.int64),
                             np.uint64(1) << (idx & np.uint64(63)))

    def might_contain_many(self, values: pd.Series) -> np.ndarray:
        if len(values) == 0:
            return np.zeros(0, dtype=bool)
        h1, h2 = _hashes(values)
        out = np.ones(len(values), dtype=bool)
        for i in range(self.k):
            idx = (h1 + np.uint64(i) * h2) % np.uint64(self.n_bits)
            word = self.bits[(idx >> np.uint64(6)).astype(np.int64)]
            out &= (word >> (idx & np.uint64(63))) & np.uint64(1) > 0
        return out

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


def build_filter(df, col: str, capacity: int, fpp: float = 0.01) -> BloomFilter:
    """Distributed build: per-partition bitmaps in executors (mapInPandas),
    OR-merge of the (identical-size) bitmaps on the driver."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    schema = StructType([StructField("bloom", BinaryType())])

    def per_partition(batches):
        bf = BloomFilter(capacity, fpp)
        any_rows = False
        for pdf in batches:
            if len(pdf):
                any_rows = True
                bf.add_many(pdf[col])
        if any_rows:
            yield pd.DataFrame({"bloom": [bf.to_bytes()]})

    parts = df.select(col).mapInPandas(per_partition, schema).collect()
    merged = BloomFilter(capacity, fpp)
    for row in parts:
        merged.merge(BloomFilter.from_bytes(bytes(row.bloom)))
    return merged


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

    return df.withColumn("_maybe_seen", might_contain(df[col]))
