"""Incremental materialized JOIN view under CDC updates.

The missing piece between the row views (``BucketedUpsertSink``),
aggregate views (``BucketedAggregatingSink``) and index views (ann/dedup
indexes): a JOIN kept materialized and consistent while BOTH sides
change — the
standard CDC enrichment shape (facts joined with the latest version of
a dimension), which naive pipelines recompute from scratch or, worse,
freeze at event time and silently serve stale dimensions.

``BucketedJoinViewSink`` maintains three tables from one envelope
stream (each event is BOTH a fact and a dimension update for its key —
the classic "profile + activity" interpretation):

- **facts/** — append log keyed by ``seq`` (idempotent under replay:
  latest-per-seq merge, so at-least-once redelivery cannot duplicate),
- **dim/**   — latest (pk -> value) with delete tombstones
  (``BucketedUpsertSink`` semantics),
- **view/**  — the materialized INNER JOIN ``facts ⋈ dim`` on pk.

Batch algebra per micro-batch (delta-join maintenance, the
ΔA⋈B ∪ A⋈ΔB shape specialised to a keyed dimension):
  1. facts' = latest-per-seq(facts ∪ batch),
  2. dim'   = latest-per-pk(dim ∪ batch)  (tombstones retained),
  3. touched = pks present in the batch — the ONLY keys whose view rows
     can change,
  4. view'  = view ▷ touched  ∪  (facts' ⋉ touched) ⋈ (live dim' ⋉ touched)
     — retraction + re-derive for touched keys only; a dimension update
     re-enriches every fact of its key, a dimension delete drops them
     (inner-join semantics), untouched keys' rows are never recomputed.
  5. three journaled per-bucket commits; a crash between them is
     healed by the batch replay (facts/dim merges are idempotent, the
     view update is a deterministic function of facts' + dim' + the
     batch's keys).

All three tables are bucketed by pk, so every step is per-bucket
copy-on-write; the touched-key restriction is a broadcast semi-join,
executor-side.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_platform_spark.streaming.pipeline import (
    BucketedUpsertSink,
    _BucketStore,
    pruned_bucket_read,
)

_VIEW_COLS = ["seq", "pk", "event_type", "fact_value", "dim_value"]
_VIEW_SCHEMA = "seq long, pk long, event_type string, fact_value double, dim_value double"


def _has_buckets(path: str) -> bool:
    return os.path.isdir(path) and any(n.startswith("bucket=") for n in os.listdir(path))


class _FactsSink(BucketedUpsertSink):
    """The fact log in the bucketed layout: keyed by ``seq`` (idempotent
    replay dedup) but BUCKETED by ``hash(pk)`` — co-located with the
    dimension key so the view re-derive for a batch's keys prunes to their
    buckets.  All rows of one seq share its pk, so the per-bucket
    latest-per-seq merge stays bucket-local."""

    _KEY = "seq"
    _COLS = ["seq", "offset", "pk", "op", "event_type", "value"]
    _STATE_SCHEMA = "seq long, offset long, pk long, op string, event_type string, value double"

    def _updates(self, batch: DataFrame) -> DataFrame:
        # every envelope row is a fact (op is the dimension's concern, and
        # the oracle enriches facts regardless of op) — bucket by pk, NOT
        # the merge key
        return batch.select(*self._COLS).withColumn(
            "bucket", F.pmod(F.hash("pk"), F.lit(self.n_buckets))
        )


class _DimSink(BucketedUpsertSink):
    """The dimension in the standard bucketed-upsert layout: latest per pk
    by offset, tombstones retained, bucketed by ``hash(pk)``."""

    _KEY = "pk"
    _COLS = ["pk", "offset", "op", "value"]
    _STATE_SCHEMA = "pk long, offset long, op string, value double"


class BucketedJoinViewSink:
    """Materialized facts-⋈-latest-dim view over an envelope CDC stream:
    facts/, dim/ and view/ are all hash-bucketed by ``pk`` with per-bucket
    copy-on-write — a micro-batch reads and rewrites ONLY the buckets its
    keys hash into, in all three tables, through the journaled atomic
    multi-bucket commit; ``n_buckets=1`` is the unbucketed form.

    Delta-join maintenance (retract + re-derive for the batch's keys
    only), with every step bucket-pruned:
      1. facts' and dim' merge through ``BucketedUpsertSink`` (DPP-pruned
         state scan, one bucket-keyed exchange each),
      2. the re-derive reads facts' and dim' restricted to the TOUCHED
         pk buckets (broadcast-semi DPP prune) then semi-joined to the
         touched keys,
      3. the view rewrite touches only the touched pk buckets: surviving
         rows keep their bucket, retracted rows are written back with
         ``dead=true`` so a bucket whose every row was retracted still
         commits (partitioned parquet cannot emit an empty dir); dead
         rows are filtered from the view and dropped on the bucket's
         next rewrite.

    A crash between the three commits heals on replay: the replayed
    batch re-runs idempotent keyed merges and a deterministic view
    re-derive."""

    def __init__(self, path: str, n_buckets: int = 16) -> None:
        self.facts = _FactsSink(f"{path}/facts", n_buckets)
        self.dim = _DimSink(f"{path}/dim", n_buckets)
        self.view_store = _BucketStore(f"{path}/view", n_buckets)
        self.n_buckets = n_buckets
        os.makedirs(path, exist_ok=True)

    def _recover(self) -> None:
        self.facts._recover()
        self.dim._recover()
        self.view_store._recover()

    def write(self, batch: DataFrame) -> None:
        if batch.isEmpty():
            return  # empty/poisoned micro-batch: all three tables unchanged
        self._recover()
        spark = batch.sparkSession
        nb = F.lit(self.n_buckets)
        rows = batch.select("seq", "offset", "pk", "op", "event_type", "value").persist()
        try:
            # 1-2. keyed merges, per-bucket copy-on-write
            self.facts.write(rows)
            self.dim.write(rows)

            # 3-4. view: retract + re-derive for the batch's keys only,
            # reading facts'/dim' pruned to the touched pk buckets
            touched = rows.select("pk").distinct()
            tb = touched.select(F.pmod(F.hash("pk"), nb).alias("bucket"))
            fresh = spark.createDataFrame([], _VIEW_SCHEMA)
            if _has_buckets(self.facts.path) and _has_buckets(self.dim.path):
                f_state = pruned_bucket_read(spark, self.facts.path, tb).join(
                    F.broadcast(touched), "pk", "leftsemi"
                )
                d_live = (
                    pruned_bucket_read(spark, self.dim.path, tb)
                    .join(F.broadcast(touched), "pk", "leftsemi")
                    .filter(F.col("op") != "d")
                    .select("pk", F.col("value").alias("dim_value"))
                )
                fresh = f_state.join(d_live, "pk").select(
                    "seq", "pk", "event_type", F.col("value").alias("fact_value"), "dim_value"
                )
            fresh = fresh.withColumn("bucket", F.pmod(F.hash("pk"), nb)).withColumn(
                "dead", F.lit(False)
            )
            content = fresh
            if self.view_store.exists():
                tkey = F.broadcast(touched.withColumn("_t", F.lit(True)))
                existing = (
                    self.view_store.read_buckets(spark, tb)
                    .filter(~F.col("dead"))
                    .join(tkey, "pk", "left")
                    # retracted rows stay as dead markers so an
                    # all-retracted bucket still commits its rewrite
                    .withColumn("dead", F.col("_t").isNotNull())
                    .select(*_VIEW_COLS, "dead", "bucket")
                )
                content = existing.unionByName(fresh)
            self.view_store.write_buckets(content.repartition(self.n_buckets, "bucket"))
        finally:
            rows.unpersist()

    def compact(self, spark: SparkSession, tombstone_horizon: int | None = None) -> None:
        """Maintenance pass: drop the view store's dead markers and, with
        ``tombstone_horizon``, GC the DIM store's delete tombstones older
        than the replay watermark (see BucketedUpsertSink.compact for the
        resurrection-safety contract).  The FACTS store is deliberately
        not GC'd: there op='d' rows are real event records — delete
        events are facts that join the live dim in the view — not
        key-deletion tombstones.  O(state) — schedule like compaction,
        not per batch."""
        self._recover()
        if tombstone_horizon is not None:
            self.dim.compact(spark, tombstone_horizon)
        if self.view_store.exists():
            kept = spark.read.parquet(self.view_store.path).filter(~F.col("dead"))
            self.view_store.rewrite_all(kept.repartition(self.n_buckets, "bucket"))

    def view(self, spark: SparkSession) -> DataFrame:
        """The live enriched view."""
        self._recover()
        if not self.view_store.exists():
            return spark.createDataFrame([], _VIEW_SCHEMA)
        return (
            spark.read.parquet(self.view_store.path)
            .filter(~F.col("dead"))
            .select(*_VIEW_COLS)
        )
