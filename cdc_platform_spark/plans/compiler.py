"""Compile a validated PipelineConfig into a runnable CdcPipeline.

The reference's "physical planning" step (reference
pipeline/runner.py:38-126: factory dispatch on transport/sink types) —
here a pure function from config to a Spark streaming job spec.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from cdc_platform_spark.config.models import PipelineConfig, PlatformConfig
from cdc_platform_spark.lakehouse.table import VersionedTable
from cdc_platform_spark.streaming.pipeline import (
    EVENTS_SCHEMA,
    AppendSink,
    BucketedUpsertSink,
    CdcPipeline,
    DlqWriter,
    RelationalAppendSink,
)


class LakehouseAppendSink:
    """Append sink writing into a VersionedTable (snapshot per batch) —
    the reference's Iceberg append path (sinks/iceberg.py:124-133).

    ``compact_every_n_batches`` runs small-file compaction inline every N
    micro-batches — the reference's periodic maintenance loop
    (lakehouse/maintenance.py:74-104) without its write-lock: maintenance
    runs in the same foreachBatch sequence as writes, so there is no
    concurrent-writer race by construction."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        compact_every_n_batches: int = 0,
        compact_max_files: int = 4,
    ) -> None:
        self.table = VersionedTable(spark, path)
        self.compact_every_n_batches = compact_every_n_batches
        # cadence (WHEN to check) and threshold (how many groups warrant a
        # rewrite) are independent knobs: passing the cadence as the
        # threshold made the first scheduled compaction a guaranteed no-op
        self.compact_max_files = compact_max_files
        self._batches = 0

    def write(self, batch) -> None:
        self.table.append(batch)
        self._batches += 1
        if self.compact_every_n_batches and self._batches % self.compact_every_n_batches == 0:
            self.table.compact(max_files=self.compact_max_files)


class LakehouseUpsertSink:
    """Upsert sink: latest-per-key merge, one snapshot per batch (the
    reference's Iceberg upsert path, sinks/iceberg.py:187-197).  The merge
    algebra is streaming.pipeline.latest_per_key_merge — the same
    latest-by-offset tie-break and tombstone retention as
    BucketedUpsertSink's bucket merge."""

    _COLS = ["pk", "offset", "op", "event_type", "value"]

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.table = VersionedTable(spark, path)

    def write(self, batch) -> None:
        from cdc_platform_spark.streaming.pipeline import latest_per_key_merge

        if not batch.take(1):
            # an empty micro-batch must not rewrite the whole table into a
            # fresh zero-change snapshot (O(state) I/O + snapshot churn)
            return
        updates = latest_per_key_merge(batch.select(*self._COLS))
        current = (
            self.table.read().select(*self._COLS)
            if self.table.current_snapshot_id() is not None
            else None
        )
        self.table.overwrite(latest_per_key_merge(updates, current))

    def state(self):
        return self.table.read().filter("op <> 'd'")


def compile_pipeline(
    spark: SparkSession, cfg: PipelineConfig, platform: PlatformConfig | None = None
) -> CdcPipeline:
    platform = platform or PlatformConfig()
    sinks: dict[str, object] = {}
    for s in cfg.sinks:
        if not s.enabled:
            continue
        if s.type == "append":
            sinks[s.id] = AppendSink(s.path, fail_predicate=s.fail_predicate)
        elif s.type == "relational_append":
            sinks[s.id] = RelationalAppendSink(s.path)
        elif s.type == "upsert":
            sinks[s.id] = BucketedUpsertSink(s.path, n_buckets=s.state_buckets or 1)
        elif s.type == "lakehouse_append":
            sinks[s.id] = LakehouseAppendSink(
                spark,
                s.path,
                compact_every_n_batches=s.compact_every_n_batches,
                compact_max_files=s.compact_max_files,
            )
        elif s.type == "lakehouse_upsert":
            sinks[s.id] = LakehouseUpsertSink(spark, s.path)
        elif s.type == "curated_corpus":
            from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

            sinks[s.id] = CuratedCorpusSink(s.path, n_buckets=s.state_buckets or 16)
        elif s.type == "feature_store":
            from cdc_platform_spark.streaming.feature_store import (
                MultimodalFeatureStoreSink,
            )

            sinks[s.id] = MultimodalFeatureStoreSink(
                s.path, n_buckets=s.state_buckets or 16
            )
        elif s.type == "span_index":
            from cdc_platform_spark.streaming.span_index import BucketedSpanIndexSink

            sinks[s.id] = BucketedSpanIndexSink(s.path, n_buckets=s.state_buckets or 16)
        elif s.type == "session_stats":
            from cdc_platform_spark.streaming.session_index import (
                BucketedSessionStatsSink,
            )

            sinks[s.id] = BucketedSessionStatsSink(
                s.path, n_buckets=s.state_buckets or 16
            )
        elif s.type == "hourly_stats":
            from cdc_platform_spark.streaming.hourly_index import (
                BucketedHourlyStatsSink,
            )

            sinks[s.id] = BucketedHourlyStatsSink(
                s.path, n_buckets=s.state_buckets or 16
            )
        else:  # pragma: no cover - pydantic Literal already forbids
            raise ValueError(f"unknown sink type {s.type!r}")
    stream_builder = None
    envelope_fn = None
    if cfg.source.envelope == "passthrough":
        # keyed-artifact pipelines: sinks consume the source rows as-is
        # (the config validator already pinned the sink set to the
        # artifact family)
        envelope_fn = lambda df: df  # noqa: E731
    if cfg.source.type == "kafka":
        from cdc_platform_spark.sources.kafka import (
            kafka_envelope_avro,
            kafka_envelope_flat,
            raw_kafka_stream,
        )

        src = cfg.source

        def stream_builder(sp: SparkSession):  # noqa: F811 - deliberate rebind
            return raw_kafka_stream(
                sp,
                bootstrap_servers=src.bootstrap_servers,
                topics=src.topics,
                topic_pattern=src.topic_pattern,
                starting_offsets=src.starting_offsets,
                max_offsets_per_trigger=src.max_offsets_per_trigger,
                kafka_options=src.kafka_options,
            )

        if src.value_format == "avro":
            resolver = None
            if src.schema_registry_url:
                from cdc_platform_spark.sources.avro import RegistrySchemaResolver

                # Warm the id->schema cache from the topics' -key/-value
                # subjects BEFORE any plan is built: the JVM multi-schema
                # decode compiles one from_avro per known id, and a cold
                # resolver has none (its cache fills lazily, Python-side
                # only).  warm() is best-effort — if the registry is down
                # at compile time, parse_debezium_avro's known_ids() guard
                # keeps the JVM path on the pinned reader schema and the
                # Python fallback still fetches lazily per frame.
                resolver = RegistrySchemaResolver(src.schema_registry_url).warm(
                    list(src.topics or []), topic_pattern=src.topic_pattern
                )

            def envelope_fn(df, _resolver=resolver):  # noqa: F811 - deliberate rebind
                return kafka_envelope_avro(df, resolver=_resolver)
        else:
            envelope_fn = kafka_envelope_flat
    schema_monitor = None
    if cfg.schema_monitor != "off":
        from cdc_platform_spark.observability import SchemaRegistryMonitor

        # monitor every topic this pipeline produces or consumes; a
        # pattern-subscribed source has no static list, so the pattern is
        # handed to the monitor, which expands it against the registry's
        # subjects on every poll — previously this resolved to ZERO
        # monitored subjects and halt mode silently watched nothing
        topics = list(cfg.source.topics or []) or cfg.provisioned_topics()
        schema_monitor = SchemaRegistryMonitor(
            cfg.source.schema_registry_url,
            topics,
            mode=cfg.schema_monitor,
            topic_pattern=cfg.source.topic_pattern,
        )
    return CdcPipeline(
        spark=spark,
        source_dir=cfg.source.path or "",
        checkpoint_dir=cfg.checkpoint_dir or f"{platform.checkpoint_root}/{cfg.pipeline_id}",
        sinks=sinks,
        dlq=DlqWriter(cfg.dlq_path) if cfg.dlq_path else None,
        schema=cfg.source.schema_ddl or EVENTS_SCHEMA,
        max_files_per_trigger=cfg.source.max_files_per_trigger,
        stream_builder=stream_builder,
        envelope_fn=envelope_fn,
        schema_monitor=schema_monitor,
        maintenance_every_n_batches=cfg.maintenance_every_n_batches or None,
    )
