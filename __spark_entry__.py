"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in the ``cdc_platform_spark`` package; this file
only adapts its operator registry to the driver's interface.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cdc_platform_spark.operators import load_all  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's session-level settings to a driver-provided session.

    The driver may hand us a vanilla session; the one setting that changes
    scan *semantics* (parquet TIMESTAMP(NANOS) -> LongType for events.ts)
    must be active before any read.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Flagship = the TPC-H Q1-shaped pricing summary (exact-decimal
    grouped aggregation), the engine's canonical scan->shuffle->agg path.
    """
    _configure(spark)
    registry = load_all()
    return registry["q10_agg_pricing_summary"].builder(spark, SMOKE_SF_DIR)


def _round_num(basename: str) -> int:
    """CORRECTNESS file ordering key: the integer round number (-1 when
    absent, so unparseable names sort before every real round)."""
    import re

    m = re.search(r"_r(\d+)", basename)
    return int(m.group(1)) if m else -1


def _last_green() -> dict[str, str]:
    """Per query name, the basename of the NEWEST CORRECTNESS_r*.json file
    carrying a *green* row for it (names with no green row ever are absent).

    The driver samples only the first 50 entries of ``queries()``, so we
    rotate: queries never independently verified by the driver are emitted
    first, then the verified backlog OLDEST green first — every round's
    sample re-certifies the entries whose certification is stalest, and
    each round's CORRECTNESS file advances the rotation automatically.

    Green = hash/rows/schema all true, or a by-design ``no_oracle`` row
    (rows-only gate).  A red row (hash mismatch, error) does NOT update the
    map, so failed queries keep their old timestamp — or, never green,
    automatically re-front the next round until they pass.
    """
    import glob
    import json

    here = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, str] = {}
    # Ascending by EXTRACTED round number, not raw basename (ADVICE r12):
    # lexicographic order only worked while every file was zero-padded —
    # at r100, or with one unpadded file, later rounds would silently sort
    # before earlier ones and stale greens would overwrite fresh ones.
    for path in sorted(
        glob.glob(os.path.join(here, "CORRECTNESS_r*.json")),
        key=lambda p: _round_num(os.path.basename(p)),
    ):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        base = os.path.basename(path)
        for name, row in rows.items():
            if not isinstance(row, dict):
                last[name] = base
                continue
            green = bool(
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            )
            rows_only_by_design = row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            if green or rows_only_by_design:
                last[name] = base
    return last


# Queries whose IMPLEMENTATION changed since their last green driver row:
# re-fronted into the unseen block so the next driver run re-certifies the
# new code path.  Self-clearing: once a correctness file NEWER than the
# change (> _REVERIFY_ASOF) carries a green row, the entry stops consuming
# a rotation slot.
#
# RULE (learned in round 10): "implementation changed" is TRANSITIVE OVER
# IMPORTS, not the diff's file list.  A change to a shared sink/operator
# body re-fronts EVERY query whose runtime path goes through it — e.g. a
# BucketedMinHashIndexSink.write()/_recover() edit re-fronts all 15 sink
# streams, a temperature_resample edit re-fronts every mix_sample serve.
# Round 10 declared the sink plumbing "dead code under every certified
# configuration" and shipped 17 red registry entries; never again.  Prune
# entries only once a post-change green row exists.
_REVERIFY = {
    # The flat sinks are gone: unbucketed state is the bucketed sink with
    # n_buckets=1.  Four queries switched from a flat sink to the bucketed
    # form at n_buckets=1:
    "sq_upsert_state_stream",
    "sq_incremental_agg_stream",
    "sq_ann_index_stream",
    "sq_cluster_sample_from_index",
    # BucketedIvfIndexSink / BucketedIvfPqIndexSink now define the
    # assignment (_assign) they used to borrow from the flat classes, and
    # BucketedIvfFlatIndexSink calls it through super() — every query that
    # drives an IVF index sink re-certifies:
    "sq_ann_index_pq_stream",
    "sq_ann_search_from_index",
    "sq_ann_search_pq_from_index",
    "sq_ann_search_projection",
    "sq_ivf_drift_stream",
    "sq_pq_recon_stream",
    # BucketedAggregatingSink now defines its own _COLS:
    "sq_bucketed_agg_stream",
    "sq_gapfill_locf_cdc_stream",
    "sq_gapfill_locf_stream",
    # (the round-14 entries are pruned: each has a post-change green row
    # in CORRECTNESS_r14.json; sq_gapfill_locf_stream re-enters above for
    # this change)
}
_REVERIFY_ASOF = "CORRECTNESS_r15.json"  # last pre-change correctness file


def _priority_order(registry) -> list[str]:
    """Never-driver-verified first (sorted), then the verified backlog
    OLDEST last-green-row first — the driver's 50-name sample always
    re-certifies the entries whose certification is stalest."""
    last = _last_green()
    asof = _round_num(_REVERIFY_ASOF)
    refronted = {n for n in _REVERIFY if _round_num(last.get(n, "")) <= asof}
    seen = set(last) - refronted
    # Ordering within the unseen block: streaming-path queries first (the
    # only independent check on the streaming machinery — batch queries all
    # have pytest oracle coverage as a fallback), then new flagship
    # composites, then the alphabetical backlog.
    flagship = {"sim_ann_ivf_pq"}
    unseen = sorted(
        (n for n in registry if n not in seen),
        key=lambda n: (not n.startswith("sq_"), n not in flagship, n),
    )
    backlog = sorted(
        (n for n in registry if n in seen), key=lambda n: (_round_num(last[n]), n)
    )
    return unseen + backlog


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Emitted in rotation order (see ``_priority_order``): the driver checks
    the first 50 names, so never-driver-verified queries go first.
    """
    registry = load_all()

    def make(name: str) -> Callable[[SparkSession, str], DataFrame]:
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _configure(spark)
            return registry[name].builder(spark, sf_dir)

        run.__name__ = name
        run.__doc__ = registry[name].doc
        return run

    return {name: make(name) for name in _priority_order(registry)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted for approx/non-SQL ops)."""
    registry = load_all()
    return {name: q.oracle for name, q in sorted(registry.items()) if q.oracle is not None}
