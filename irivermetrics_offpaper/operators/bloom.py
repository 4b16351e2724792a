"""Distributed Bloom filter — the crawl-frontier seen-set primitive.

Why it matters at 100 TB: "have we already crawled/kept this URL?"
asked against 10^9-10^10 keys is a JOIN if answered exactly — a full
shuffle of the biggest table in the system, every increment. A Bloom
filter answers it with a broadcast byte array and ZERO shuffle on the
query side: no false negatives (a seen key is always flagged), a
tunable false-positive rate (FP ≈ (1 - e^{-kn/m})^k), and set-union
composability (bitwise OR) — which is exactly what makes the BUILD
distributable: every partition ORs its keys into a local bitmap, and
OR is associative/commutative, so partials combine in any order.

Build shape: one Arrow pass emits a per-partition bitmap, a bounded
fan-in tree (applyInPandas per group) ORs them down to ``fan_in``
buffers, and the driver ORs those — driver memory is fan_in × m/8
bytes, never #partitions × m/8. Query shape: the filter rides a Spark
broadcast; one Arrow pass probes k bits per key.

Hashing: two independent 64-bit halves of blake2b(key), double-hashed
to k probe positions (h1 + i·h2 mod m — the standard Kirsch-
Mitzenmacher construction). Pure function of the key bytes: build and
probe can run in different sessions/rounds (the filter serializes to
bytes + params).

Scale seam, documented: one filter must fit in a broadcast (m = 2^33
bits = 1 GiB handles ~10^9 keys at 1% FP). Past that, shard by key
hash prefix into N independent filters and route probes by the same
prefix — same operator, one extra pmod column.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAGIC = b"IRMBLOOM1"

# worker-lifetime probe memo: id(broadcast bytes) -> (bytes ref, filter)
_PROBE_MEMO: dict = {}


class BloomFilter:
    """Immutable filter: ``bits`` (numpy uint8 bitmap), ``m`` (bit
    count, power of two not required), ``k`` (probes)."""

    def __init__(self, bits: np.ndarray, m: int, k: int):
        self.bits = bits
        self.m = int(m)
        self.k = int(k)

    def contains(self, key: str) -> bool:
        h1, h2 = _hash2(key)
        for i in range(self.k):
            pos = (h1 + i * h2) % self.m
            if not (self.bits[pos >> 3] >> (pos & 7)) & 1:
                return False
        return True

    def to_bytes(self) -> bytes:
        return _MAGIC + struct.pack("<QI", self.m, self.k) + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BloomFilter":
        if len(blob) < 21 or blob[:9] != _MAGIC:
            raise ValueError("not a serialized bloom filter")
        m, k = struct.unpack("<QI", blob[9:21])
        # zero-copy read-only view: the filter is immutable and
        # contains() only reads — a slice + .copy() here would hold
        # ~2x a GiB-class bitmap per worker for nothing
        bits = np.frombuffer(blob, dtype=np.uint8, offset=21)
        if len(bits) != (m + 7) // 8:
            raise ValueError("bloom bitmap length mismatch")
        return cls(bits, m, k)


def _hash2(key: str) -> tuple[int, int]:
    d = hashlib.blake2b(key.encode("utf-8"), digest_size=16).digest()
    h1, h2 = struct.unpack("<QQ", d)
    return h1, h2 | 1  # odd step: full-period walk when m is a power of two


def _set_keys(bits: np.ndarray, m: int, k: int, keys) -> None:
    for key in keys:
        if key is None:
            continue
        h1, h2 = _hash2(str(key))
        for i in range(k):
            pos = (h1 + i * h2) % m
            bits[pos >> 3] |= 1 << (pos & 7)


def params_for(n_keys: int, fp_rate: float = 0.01) -> tuple[int, int]:
    """Textbook sizing: m = -n·ln(p)/ln(2)^2 bits, k = (m/n)·ln(2)."""
    if not 0 < fp_rate < 1 or n_keys < 1:
        raise ValueError("need n_keys >= 1 and 0 < fp_rate < 1")
    m = int(np.ceil(-n_keys * np.log(fp_rate) / (np.log(2) ** 2)))
    k = max(1, int(round(m / n_keys * np.log(2))))
    return m, k


def build_bloom(docs: DataFrame, key_col: str, m_bits: int, k: int,
                fan_in: int = 8) -> BloomFilter:
    """Fold a key column into one filter. Stage 1: each partition ORs
    its keys into a local bitmap (one Arrow pass over the keys only —
    column-pruned scan). Stage 2: bitmaps hash to ``fan_in`` groups
    and OR inside applyInPandas. Driver: ORs the ``fan_in`` survivors.
    NULL keys are skipped."""
    if m_bits < 8 or k < 1:
        raise ValueError("need m_bits >= 8 and k >= 1")
    n_bytes = (m_bits + 7) // 8

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.zeros(n_bytes, dtype=np.uint8)
        seen = False
        for pdf in batches:
            seen = True
            _set_keys(bits, m_bits, k, pdf.iloc[:, 0])
        if seen:
            yield pd.DataFrame({"bitmap": [bits.tobytes()]})

    part = (docs.select(F.col(key_col).cast("string"))
            .mapInPandas(partials, schema="bitmap binary"))

    def combine(key, pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros(n_bytes, dtype=np.uint8)
        for b in pdf["bitmap"]:
            acc |= np.frombuffer(b, dtype=np.uint8)
        return pd.DataFrame({"bitmap": [acc.tobytes()]})

    # group by partition id, NOT monotonically_increasing_id: each
    # partition emits ONE row, so mid() = partitionId * 2^33 and
    # pmod(mid, fan_in) == 0 for every power-of-two fan_in (incl. the
    # default) — all bitmaps would collapse into one combine task
    folded = (part.withColumn("g", F.pmod(F.spark_partition_id(),
                                          F.lit(int(fan_in))).cast("int"))
              .repartition(int(fan_in), "g").groupBy("g")
              .applyInPandas(combine, schema="bitmap binary"))
    bits = np.zeros(n_bytes, dtype=np.uint8)
    for row in folded.collect():  # bounded: fan_in rows of m/8 bytes
        bits |= np.frombuffer(bytes(row.bitmap), dtype=np.uint8)
    return BloomFilter(bits, m_bits, k)


def with_bloom_membership(docs: DataFrame, bloom: BloomFilter,
                          key_col: str, out_col: str = "maybe_seen") -> DataFrame:
    """Adds ``maybe_seen`` (boolean): False = definitely new (Bloom
    guarantees no false negatives), True = seen OR a false positive at
    the filter's design rate. The filter rides one Spark broadcast;
    the probe is a single Arrow pass, no shuffle. NULL keys -> NULL."""
    sc = docs.sparkSession.sparkContext
    bc = sc.broadcast(bloom.to_bytes())

    @F.pandas_udf("boolean")
    def probe(keys: pd.Series) -> pd.Series:
        # worker-lifetime memo: deserializing a GiB-class bitmap per
        # Arrow batch would dominate the probe. Keyed by identity WITH
        # the object held (an id() alone can alias a recycled address
        # in a reused worker — r5 lesson)
        from irivermetrics_offpaper.operators import bloom as _mod

        blob = bc.value
        memo = _mod._PROBE_MEMO
        hit = memo.get(id(blob))
        if hit is None or hit[0] is not blob:
            if len(memo) > 8:
                memo.clear()
            bf = BloomFilter.from_bytes(blob)
            memo[id(blob)] = (blob, bf)
        else:
            bf = hit[1]
        out = [None if key is None else bf.contains(str(key))
               for key in keys]
        return pd.Series(out, dtype="boolean")

    return docs.withColumn(out_col, probe(F.col(key_col).cast("string")))
