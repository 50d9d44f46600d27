"""How the trickle workload's headline bucket figures depend on its assumed
traffic parameters.

    python3 perfbench/sensitivity.py

For several Zipf exponents and c/u/d mixes it generates 1,000-record files
with ``frames.make_records`` and counts, per file, the upsert buckets the
healthy records touch (``pmod(hash(pk), 16)``, Spark's Murmur3 hash
reimplemented in numpy) and the state rows a ``BucketedUpsertSink`` rewrites
per healthy event: it rewrites every touched bucket whole, and set-up seeds
one state row per key of the 1M-key space.  Prints one line per setting;
runs without Spark in a few seconds.
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import frames  # noqa: E402
from perfbench.trickle import KEYS, N_BUCKETS, PER_FILE  # noqa: E402

FILES = 100
ZIPF = (0.0, 0.5, 0.99, 1.05, 1.2, 1.5, 2.0)
MIXES = ((0.1, 0.8, 0.1), (0.0, 1.0, 0.0), (0.34, 0.33, 0.33), (0.5, 0.0, 0.5))


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def _mix(h: np.ndarray, k: np.ndarray) -> np.ndarray:
    k = _rotl(k * np.uint32(0xCC9E2D51), 15) * np.uint32(0x1B873593)
    h = _rotl(h ^ k, 13)
    return h * np.uint32(5) + np.uint32(0xE6546B64)


def spark_hash_long(v: np.ndarray) -> np.ndarray:
    """Spark's ``hash(long)``: Murmur3 x86_32 over the two 32-bit halves,
    seed 42, as signed 32-bit integers."""
    with np.errstate(over="ignore"):
        u = v.astype(np.int64).view(np.uint64)
        h = np.full(len(u), 42, dtype=np.uint32)
        h = _mix(h, (u & np.uint64(0xFFFFFFFF)).astype(np.uint32))
        h = _mix(h, (u >> np.uint64(32)).astype(np.uint32))
        h ^= np.uint32(8)
        h ^= h >> np.uint32(16)
        h *= np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h *= np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
    return h.view(np.int32)


def bucket_of(pk: np.ndarray) -> np.ndarray:
    return np.mod(spark_hash_long(pk).astype(np.int64), N_BUCKETS)


def main() -> None:
    state_per_bucket = np.bincount(bucket_of(np.arange(KEYS)), minlength=N_BUCKETS)
    print(f"{'zipf_s':>6s} {'c/u/d':>14s} {'buckets min':>11s} {'median':>6s} "
          f"{'rewritten/event':>15s}")
    for s in ZIPF:
        keys = frames.KeySampler(np.random.default_rng(1), KEYS, s=s)
        for mix in MIXES:
            rng = np.random.default_rng(2)
            touched, ratio = [], []
            for f in range(FILES):
                t = frames.make_records(rng, keys, KEYS + f * PER_FILE, PER_FILE, mix)
                healthy = [v.startswith(b'{"op"') and v.endswith(b"}}")
                           for v in t.column("value").to_pylist()]
                pk = np.array([int(k[6:-1]) for k in t.column("key").to_pylist()])[healthy]
                b = np.unique(bucket_of(pk))
                touched.append(len(b))
                ratio.append(state_per_bucket[b].sum() / len(pk))
            print(f"{s:6.2f} {'/'.join(f'{w:.2f}' for w in mix):>14s} {min(touched):11d} "
                  f"{int(np.median(touched)):6d} {np.median(ratio):15.0f}")


if __name__ == "__main__":
    main()
