"""Seeded generator of Kafka records carrying Debezium JSON envelopes.

Each record has the Kafka source's shape (``key``/``value`` binary JSON,
``topic``, ``partition``, ``offset``) so the pipeline decodes it with
``sources.kafka.kafka_envelope_flat``.  Keys follow a bounded Zipf law over
a fixed key space, the op mix is c/u/d, about 0.5% of records carry an
undecodable value, and a round's offsets interleave across its files in
runs of ``RUN`` consecutive offsets.  The same seed gives the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TOPIC = "cdc.public.users"
N_PARTITIONS = 8
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
OPS = ("c", "u", "d")
# Assumed, not measured: no public CDC trace gives a c/u/d mix.  The bucket
# rewrite cost does not depend on it (README: "Traffic parameters").
OP_WEIGHTS = (0.1, 0.8, 0.1)
POISON_SHARE = 0.005
# YCSB's Zipfian constant (ZipfianGenerator.ZIPFIAN_CONSTANT; Cooper et al.,
# "Benchmarking Cloud Serving Systems with YCSB", SoCC 2010).
ZIPF_S = 0.99
# Consecutive offsets kept together when interleaving a round's files.
# Assumed, not measured.
RUN = 100
TS_BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z

SPARK_SCHEMA = "key binary, value binary, topic string, partition int, offset long"
ARROW_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
    ]
)


class KeySampler:
    """Bounded Zipf over ``n_keys`` keys; ranks map to keys through a seeded
    permutation so hot keys spread over every hash bucket."""

    def __init__(self, rng: np.random.Generator, n_keys: int, s: float = ZIPF_S) -> None:
        weights = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
        self._cdf = np.cumsum(weights)
        self._cdf /= self._cdf[-1]
        self._keys = rng.permutation(n_keys).astype(np.int64)

    def sample(self, rng: np.random.Generator, n: int) -> np.ndarray:
        idx = np.searchsorted(self._cdf, rng.random(n), side="right")
        return self._keys[np.minimum(idx, len(self._keys) - 1)]


def _s(values: np.ndarray) -> pa.Array:
    return pa.array(values).cast(pa.string())


def _join(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def make_records(rng: np.random.Generator, keys: KeySampler, offset_base: int, n: int,
                 op_weights=OP_WEIGHTS) -> pa.Table:
    """``n`` records with offsets ``offset_base .. offset_base + n - 1``."""
    pk = keys.sample(rng, n)
    offset = offset_base + np.arange(n, dtype=np.int64)
    op = np.asarray(OPS)[rng.choice(len(OPS), n, p=op_weights)]
    etype = np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    cents = rng.integers(0, 100_000, n)
    poison = rng.random(n) < POISON_SHARE

    pk_s, off_s = _s(pk), _s(offset)
    value_s = _join(_s(cents // 100), ".", pc.utf8_lpad(_s(cents % 100), 2, "0"))
    row = _join('{"id":', pk_s, ',"event_type":"', pa.array(etype), '","value":', value_s, "}")
    is_delete = pa.array(op == "d")
    head = _join('{"op":"', pa.array(op), '","ts_ms":', _s(TS_BASE_MS + offset))
    good = _join(
        head,
        ',"before":', pc.if_else(is_delete, row, "null"),
        ',"after":', pc.if_else(is_delete, "null", row),
        ',"source":{"connector":"postgresql","db":"cdc","schema":"public",'
        '"table":"users","lsn":', off_s, "}}",
    )
    bad = _join(head, ',"after":{"id":', pk_s)  # truncated: not JSON
    value = pc.if_else(pa.array(poison), bad, good)
    return pa.table(
        {
            "key": pc.cast(_join('{"id":', pk_s, "}"), pa.binary()),
            "value": pc.cast(value, pa.binary()),
            "topic": pa.array(np.full(n, TOPIC)),
            "partition": pa.array((pk % N_PARTITIONS).astype(np.int32)),
            "offset": pa.array(offset),
        },
        schema=ARROW_SCHEMA,
    )


def write_round(
    rng: np.random.Generator,
    keys: KeySampler,
    offset_base: int,
    n_files: int,
    per_file: int,
    out_dir: str,
    name: str,
) -> None:
    """Write one round of ``n_files`` files of ``per_file`` records whose
    offsets interleave across the files."""
    n = n_files * per_file
    table = make_records(rng, keys, offset_base, n)
    file_of = (np.arange(n) // RUN) % n_files
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        pq.write_table(table.filter(pa.array(file_of == f)),
                       os.path.join(out_dir, f"{name}-{f:03d}.parquet"))
