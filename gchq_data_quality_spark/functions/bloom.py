"""Broadcastable Bloom filters with a Spark-side build and a numpy probe.

Scale scenario (the incremental-ingest dedup, ``exact_dedup_incremental``):
every batch probes its fingerprints against the ENTIRE corpus history. At
10^12 ingested rows the history side is ~8 TB of fingerprints through the
probe join's exchange on every ingest, even though only ~|batch| of those
rows can possibly match. A Bloom filter of the BATCH's fingerprints
(~1.2 GiB holds 10^9 longs at 1% FPP) broadcast to the history scan drops
non-candidate history rows MAP-SIDE: the join input shrinks from |history|
to |batch| + fpp*|history|. Note the direction — a bloom of the HISTORY
would not scale (10^12 keys need ~1.8 TB of bits), and each batch's bloom
is rebuilt fresh so the filter never accumulates staleness.

Design: no dependence on Spark's internal sketch classes (their
serialization and hash changed across major versions — BloomFilterImplV2
in Spark 4). Bit positions come from an affine family over a Mersenne
prime, ``pos_j = ((a_j*lo mod P) + (b_j*hi mod P) + c_j) mod P mod m``
with ``lo``/``hi`` the fingerprint's 32-bit halves and coefficients drawn
from splitmix64 — every intermediate stays under 2^62, so Spark long
Columns (ANSI-safe, same discipline as the minhash families) and numpy
int64 compute bit-identical positions. The BUILD is distributed: k
(word, mask) pairs per row, partial+final ``bit_or`` per word (the
shuffle carries at most min(k*n, m/64) 16-byte rows), and only the
assembled word table crosses to the driver — which must hold the bit
array anyway to broadcast it. The PROBE is a vectorized Arrow UDF over a
broadcast of the word table: a deliberate Python crossing — one in-process
Arrow hop per history row is the price for deleting an 8 TB shuffle of
the same rows, and it composes with the fp-bucketed history store the
ingest job already uses (which removes the history-side sort, not the
read). For JVM-only paths where the join is already broadcastable, prefer
plain AQE; this filter is for the regime where neither side broadcasts.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gchq_data_quality_spark.functions.dedup import _splitmix64
from gchq_data_quality_spark.sources.session import SessionCache

_P = (1 << 61) - 1  # Mersenne prime modulus for the position family
_MAGIC = b"GQBL"
_VERSION = 1

# 2^bit masks as literals; bit 63 as the negative long with the same bits
# (1 << 63 does not fit a signed long literal).
_BIT_MASKS = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]


def _optimal_params(n_items: int, fpp: float) -> tuple[int, int]:
    """Standard Bloom sizing: m = -n*ln(p)/ln(2)^2 bits (rounded up to a
    word boundary), k = m/n*ln(2) hash functions."""
    if n_items <= 0:
        raise ValueError("n_items must be positive")
    if not 0.0 < fpp < 1.0:
        raise ValueError("fpp must be in (0, 1)")
    m = int(math.ceil(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, ((m + 63) // 64) * 64)
    k = max(1, round(m / n_items * math.log(2)))
    return m, k


def _position_coeffs(k: int, seed: int) -> list[tuple[int, int, int]]:
    """k deterministic (a, b, c) triples: a, b in [1, 2^30], c in [0, P).
    Bounds keep a*half < 2^62 and the three-term sum < 2^63 on both
    engines (no wrap anywhere — ANSI-safe and numpy-identical)."""
    out = []
    x = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(k):
        x = _splitmix64(x)
        a = (x % ((1 << 30) - 1)) + 1
        x = _splitmix64(x)
        b = (x % ((1 << 30) - 1)) + 1
        x = _splitmix64(x)
        c = x % _P
        out.append((a, b, c))
    return out


def _positions_spark(fp: Column, coeffs, m_bits: int) -> list[Column]:
    """Bit positions as long Columns (mirror of PyBloom._positions_np)."""
    lo = fp.bitwiseAND(F.lit((1 << 32) - 1))
    hi = F.shiftright(fp, 32).bitwiseAND(F.lit((1 << 32) - 1))
    return [
        F.pmod(
            F.pmod(F.lit(a) * lo, F.lit(_P))
            + F.pmod(F.lit(b) * hi, F.lit(_P))
            + F.lit(c),
            F.lit(_P),
        )
        % F.lit(m_bits)
        for a, b, c in coeffs
    ]


@dataclass
class PyBloom:
    """A built Bloom filter: the word table plus everything needed to
    recompute positions identically on either engine."""

    m_bits: int
    seed: int
    coeffs: list[tuple[int, int, int]]
    words: np.ndarray  # uint64, length m_bits // 64

    n_set_bits: int = field(init=False)

    def __post_init__(self):
        if len(self.words) != self.m_bits // 64:
            raise ValueError("word table does not match m_bits")
        self.n_set_bits = int(
            np.unpackbits(self.words.view(np.uint8)).sum()
        )

    @property
    def k(self) -> int:
        return len(self.coeffs)

    def _positions_np(self, values: np.ndarray) -> np.ndarray:
        """(k, n) int64 positions — the numpy mirror of _positions_spark.
        Every intermediate < 2^63: bit-identical to the Column arithmetic."""
        v = values.astype(np.int64, copy=False)
        lo = v & np.int64((1 << 32) - 1)
        hi = (v >> np.int64(32)) & np.int64((1 << 32) - 1)
        out = np.empty((len(self.coeffs), v.shape[0]), dtype=np.int64)
        p = np.int64(_P)
        for j, (a, b, c) in enumerate(self.coeffs):
            pos = ((np.int64(a) * lo) % p + (np.int64(b) * hi) % p + c) % p
            out[j] = pos % np.int64(self.m_bits)
        return out

    def might_contain(self, values: np.ndarray) -> np.ndarray:
        """Vectorized membership: False = definitely absent (no false
        negatives by construction), True = present or a false positive."""
        pos = self._positions_np(values)
        res = np.ones(pos.shape[1], dtype=bool)
        one = np.uint64(1)
        for j in range(pos.shape[0]):
            idx = pos[j]
            w = self.words[idx >> 6]
            mask = one << (idx & 63).astype(np.uint64)
            res &= (w & mask) != 0
        return res

    def to_bytes(self) -> bytes:
        header = struct.pack(
            ">4sIQQI", _MAGIC, _VERSION, self.m_bits, self.seed, self.k
        )
        coeffs = b"".join(struct.pack(">QQQ", a, b, c) for a, b, c in self.coeffs)
        return header + coeffs + self.words.astype(">u8").tobytes()

    @classmethod
    def from_bytes(cls, raw: bytes) -> "PyBloom":
        magic, version, m_bits, seed, k = struct.unpack(">4sIQQI", raw[:28])
        if magic != _MAGIC or version != _VERSION:
            raise ValueError("not a PyBloom payload")
        coeffs = [
            struct.unpack(">QQQ", raw[28 + 24 * j : 28 + 24 * (j + 1)])
            for j in range(k)
        ]
        words = np.frombuffer(raw[28 + 24 * k :], dtype=">u8").astype(np.uint64)
        return cls(m_bits=int(m_bits), seed=int(seed), coeffs=coeffs, words=words)


def build_bloom(
    df: DataFrame,
    col: str,
    expected_items: int | None = None,
    fpp: float = 0.01,
    seed: int = 0x1B10_0F17,
) -> PyBloom:
    """Distributed Bloom build over a long column.

    Each row contributes k (word_index, bit_mask) pairs; a partial+final
    ``bit_or`` per word index reduces them map-side, so the shuffle carries
    at most min(k*n, m/64) 16-byte rows and the driver receives only the
    or-ed word table (which it must hold anyway — the probe broadcasts
    it). Duplicate values just re-set the same bits; pass
    ``expected_items`` to skip the sizing count when the caller already
    knows the batch size (manifest row counts, etc.). NULLs are ignored.
    """
    values = df.select(F.col(col).cast("long").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    if expected_items is None:
        expected_items = values.count()
    m_bits, k = _optimal_params(max(expected_items, 1), fpp)
    coeffs = _position_coeffs(k, seed)
    masks = F.array(*[F.lit(m).cast("long") for m in _BIT_MASKS])
    pairs = values.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.shiftright(pos, 6).alias("w"),
                        F.get(masks, pos.bitwiseAND(F.lit(63)).cast("int")).alias(
                            "m"
                        ),
                    )
                    for pos in _positions_spark(F.col("__v"), coeffs, m_bits)
                ]
            )
        ).alias("p")
    )
    rows = (
        pairs.groupBy(F.col("p.w").alias("w"))
        .agg(F.bit_or(F.col("p.m")).alias("bits"))
        .toPandas()
    )
    words = np.zeros(m_bits // 64, dtype=np.uint64)
    if len(rows):
        words[rows["w"].to_numpy(dtype=np.int64)] = rows["bits"].to_numpy(
            dtype=np.int64
        ).astype(np.uint64)
    return PyBloom(m_bits=m_bits, seed=seed, coeffs=coeffs, words=words)


_PROBE_CACHE: dict[str, PyBloom] = {}


def _probe_bloom(digest: str, payload) -> PyBloom:
    bloom = _PROBE_CACHE.get(digest)
    if bloom is None:
        bloom = PyBloom.from_bytes(payload.value)
        _PROBE_CACHE.clear()
        _PROBE_CACHE[digest] = bloom
    return bloom


_BCAST_CACHE = SessionCache(cap=4, release=lambda bcast: bcast.unpersist())


def _bloom_broadcast(sc, digest: str, raw: bytes):
    """Broadcast of the serialized word table, one per (application,
    digest): a long-lived incremental-ingest session calling bloom_prefilter
    per batch would otherwise create a fresh broadcast every call and never
    release it. Evicted broadcasts are unpersisted."""
    return _BCAST_CACHE.get(sc, digest, lambda: sc.broadcast(raw))


def bloom_prefilter(
    df: DataFrame, col: str, bloom: PyBloom, keep: str = "maybe"
) -> DataFrame:
    """Keep rows whose ``col`` might be in the filter (``keep='maybe'``),
    or definitely is not (``keep='absent'``). NULL values are dropped
    either way (membership of NULL is undefined — standard filter
    semantics). One vectorized Arrow crossing, no shuffle, trivially
    map-side; the word table rides a broadcast keyed by content digest so
    repeated prefilters with the same bloom reuse the decoded filter."""
    if keep not in ("maybe", "absent"):
        raise ValueError("keep must be 'maybe' or 'absent'")
    import hashlib

    raw = bloom.to_bytes()
    digest = hashlib.sha1(raw).hexdigest()
    payload = _bloom_broadcast(df.sparkSession.sparkContext, digest, raw)
    want = keep == "maybe"

    @F.pandas_udf("boolean")
    def _probe(s: pd.Series) -> pd.Series:
        b = _probe_bloom(digest, payload)
        vals = s.fillna(0).to_numpy(dtype=np.int64)
        hit = b.might_contain(vals)
        out = pd.Series(hit == want)
        out[s.isna().to_numpy()] = None
        return out

    return df.filter(_probe(F.col(col).cast("long")))
