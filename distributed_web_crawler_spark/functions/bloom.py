"""Sharded bloom filter for the URL-seen set (SURVEY.md §2.3 D4).

The reference has *no* URL-seen dedup (README claims it, code lacks it —
SURVEY.md D4); BASELINE.json north_rule mandates a partitioned
approximate-membership filter, and this bloom is the engine's only one:
the seen set only grows, so a delete-capable filter would buy nothing.
Design for 10^10 URLs:

- shard by ``pmod(xxhash64(url), n_shards)`` — filters stay bounded per
  shard and build/probe parallelize across executors;
- the two base hashes are computed **JVM-side** with ``xxhash64`` (whole-
  stage codegen), so the Python side is pure numpy bit math over Arrow
  batches — no per-row Python, per BASELINE.json's hot-path constraint;
- double hashing: position_i = (h1 + i*h2) mod m  (Kirsch–Mitzenmacher),
  k positions per key;
- a bloom positive is only a *candidate*: the engine re-checks positives
  with an exact left-anti join against the seen table, so false positives
  never change results (SURVEY.md §7.2 hard part (b)). Negatives skip the
  join entirely, which is the scale win (most discovered links are new).

Sizing: at 10^10 keys / 4096 shards ≈ 2.4M keys/shard; m = 2^25 bits/shard
(4 MiB) with k=5 gives FP ≈ 0.8% — the exact re-check join then touches
<1% of candidates. Tests use smaller m (config.bloom_bits_per_shard).
"""

from __future__ import annotations

import numpy as np


def empty_filter(m_bits: int) -> bytes:
    return np.zeros(m_bits // 8, dtype=np.uint8).tobytes()


def _positions(h1: np.ndarray, h2: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(k, n) array of bit positions; int64 inputs treated as uint64."""
    u1 = h1.astype(np.uint64)
    u2 = h2.astype(np.uint64)
    i = np.arange(k, dtype=np.uint64).reshape(-1, 1)
    return ((u1 + i * u2) % np.uint64(m_bits)).astype(np.int64)


def insert(filter_bytes: bytes, h1: np.ndarray, h2: np.ndarray,
           m_bits: int, k: int) -> bytes:
    bits = np.unpackbits(np.frombuffer(filter_bytes, dtype=np.uint8))
    pos = _positions(h1, h2, m_bits, k)
    bits[pos.ravel()] = 1
    return np.packbits(bits).tobytes()


def probe(filter_bytes: bytes, h1: np.ndarray, h2: np.ndarray,
          m_bits: int, k: int) -> np.ndarray:
    """Boolean array: True = maybe-seen (needs exact re-check),
    False = definitely new (no false negatives)."""
    bits = np.unpackbits(np.frombuffer(filter_bytes, dtype=np.uint8))
    pos = _positions(h1, h2, m_bits, k)
    return bits[pos].all(axis=0)
