"""Declarative pipeline configuration (YAML + Pydantic).

Same front-end shape as the reference (reference config/models.py:
332-338 ``PipelineConfig{pipeline_id, topic_prefix, source, sinks[]}``,
strict ``extra="forbid"``, cross-field sink validation 317-329), but it
compiles to a Spark job spec — readStream source, sink writers,
checkpoint location — instead of asyncio tasks.
"""

from __future__ import annotations

from typing import Literal

from pydantic import BaseModel, Field, model_validator


class SourceConfig(BaseModel, extra="forbid"):
    type: Literal["parquet_stream", "parquet_batch", "kafka"] = "parquet_stream"
    path: str | None = None  # parquet sources
    schema_ddl: str | None = None  # None -> engine default events schema
    # Row shape handed to sinks: "events" applies the CDC event envelope
    # (to_envelope / the Kafka decoders); "passthrough" hands source rows
    # to the sinks as-is — the deployment shape for the keyed-artifact
    # sinks whose input is already (key, offset, op, payload...) rows
    # (curated_corpus on document CDC, feature_store on asset CDC).
    envelope: Literal["events", "passthrough"] = "events"
    max_files_per_trigger: int | None = Field(default=None, ge=1)  # backpressure (ref F3)
    # kafka source (reference S1; transport config ≙ streaming/consumer.py:56-74)
    bootstrap_servers: str | None = None
    topics: list[str] | None = None
    topic_pattern: str | None = None
    starting_offsets: str = "earliest"
    max_offsets_per_trigger: int | None = Field(default=None, ge=1)  # backpressure (ref F3)
    # wire format of Kafka record values: JSON envelopes or Confluent-framed
    # Avro (the reference's AvroConverter path, sources/avro.py)
    value_format: Literal["json", "avro"] = "json"
    # Arbitrary Kafka consumer properties forwarded as `kafka.*` readStream
    # options — the SASL/SSL auth surface (reference streaming/auth.py:10-90
    # builds the librdkafka equivalents).  Build values with
    # `sources.kafka.kafka_auth_options` for the managed-service recipes
    # (Confluent Cloud PLAIN, SCRAM, AWS MSK IAM, GCP OAUTHBEARER).
    kafka_options: dict[str, str] | None = None
    # Schema Registry base URL (reference sources/debezium/config.py:54-58):
    # with value_format=avro, frames whose schema id is not pre-seeded are
    # resolved (and memoized) via GET /schemas/ids/{id}; also the endpoint
    # the pipeline-level schema monitor polls.
    schema_registry_url: str | None = None
    # CDC topic naming (reference streaming/topics.py:31-60): the connector
    # family decides the topic shape; sqlserver needs the database for its
    # 4-part names. `capture` lists qualified relation names (schema.table /
    # db.table / db.collection).
    source_type: Literal["postgres", "mysql", "mongodb", "sqlserver"] = "postgres"
    database: str | None = None
    capture: list[str] | None = None

    @model_validator(mode="after")
    def _check_transport(self) -> SourceConfig:
        if self.type == "kafka":
            if not self.bootstrap_servers:
                raise ValueError("kafka source requires bootstrap_servers")
            if (self.topics is None) == (self.topic_pattern is None):
                raise ValueError("kafka source requires exactly one of topics / topic_pattern")
        elif self.path is None:
            raise ValueError(f"{self.type} source requires path")
        if self.source_type == "sqlserver" and self.capture and not self.database:
            raise ValueError("sqlserver capture requires database for 4-part topic names")
        if self.envelope == "passthrough":
            if self.type == "kafka":
                raise ValueError(
                    "envelope=passthrough requires a parquet source (kafka "
                    "frames need the decode envelope)"
                )
            if not self.schema_ddl:
                raise ValueError(
                    "envelope=passthrough requires schema_ddl (the engine "
                    "default is the CDC events schema)"
                )
        return self


class SinkConfig(BaseModel, extra="forbid"):
    id: str
    type: Literal[
        "append",
        "relational_append",
        "upsert",
        "lakehouse_append",
        "lakehouse_upsert",
        "curated_corpus",
        "feature_store",
        "span_index",
        "session_stats",
        "hourly_stats",
    ]
    path: str
    enabled: bool = True
    # test/chaos hook mirroring the reference's per-sink failure isolation tests
    fail_predicate: str | None = None
    # inline small-file compaction cadence (lakehouse_append only; 0 = off)
    compact_every_n_batches: int = Field(default=0, ge=0)
    # small-file threshold the scheduled compaction uses (independent of
    # the cadence: compact when the snapshot has more than this many
    # file groups)
    compact_max_files: int = Field(default=4, ge=1)
    # >0 hash-buckets the state so a micro-batch rewrites only the buckets
    # its keys fall in; 0 = the sink type's default (one bucket for upsert,
    # i.e. every batch rewrites the whole state; 16 for the index sinks)
    state_buckets: int = Field(default=0, ge=0)

    @model_validator(mode="after")
    def _check(self) -> SinkConfig:
        if self.fail_predicate is not None and self.type != "append":
            raise ValueError("fail_predicate is only supported on append sinks")
        if self.compact_every_n_batches and self.type != "lakehouse_append":
            raise ValueError("compact_every_n_batches is only supported on lakehouse_append sinks")
        if self.state_buckets and self.type not in (
            "upsert",
            "curated_corpus",
            "feature_store",
            "span_index",
            "session_stats",
            "hourly_stats",
        ):
            raise ValueError(
                "state_buckets is only supported on upsert/curated_corpus/"
                "feature_store/span_index/session_stats/hourly_stats sinks"
            )
        return self


class PipelineConfig(BaseModel, extra="forbid"):
    pipeline_id: str
    topic_prefix: str = "cdc"
    source: SourceConfig
    sinks: list[SinkConfig] = Field(min_length=1)
    dlq_path: str | None = None
    checkpoint_dir: str | None = None  # default: <platform.checkpoint_root>/<pipeline_id>
    # Registry schema monitoring (reference streaming/schema_monitor.py:16-138):
    # 'halt' fails the query on an incompatible subject-version bump,
    # 'warn' records it, 'off' skips polling. Needs source.schema_registry_url.
    schema_monitor: Literal["off", "warn", "halt"] = "off"
    # Scheduled streaming-state maintenance (the L3-compaction cadence for
    # sink state): every N micro-batches, compact() every sink that
    # supports it — reclaim-only from config (dead markers, stale band
    # rows).  Tombstone GC additionally needs the source's replay
    # low-watermark, a runtime property supplied programmatically via
    # CdcPipeline.tombstone_horizon_fn, never guessed from config.
    maintenance_every_n_batches: int = Field(default=0, ge=0)  # 0 = off

    @model_validator(mode="after")
    def _unique_sink_ids(self) -> PipelineConfig:
        ids = [s.id for s in self.sinks]
        if len(set(ids)) != len(ids):
            raise ValueError(f"duplicate sink ids: {ids}")
        if self.schema_monitor != "off" and not self.source.schema_registry_url:
            raise ValueError("schema_monitor requires source.schema_registry_url")
        # the envelope decides the row shape every sink receives: keyed
        # artifact sinks need raw (key, offset, op, ...) rows; the CDC
        # event sinks need envelope columns — a mixed pipeline would hand
        # one family the wrong shape and fail at runtime, so refuse here.
        # Disabled sinks never compile, so only enabled ones count.
        enabled = [s for s in self.sinks if s.enabled]
        artifact = {
            s.id
            for s in enabled
            if s.type
            in (
                "curated_corpus",
                "feature_store",
                "span_index",
                "session_stats",
                "hourly_stats",
            )
        }
        if self.source.envelope == "passthrough" and len(artifact) != len(enabled):
            raise ValueError(
                "envelope=passthrough pipelines support only "
                "curated_corpus/feature_store/span_index/session_stats/"
                "hourly_stats sinks"
            )
        if self.source.envelope == "events" and artifact:
            raise ValueError(
                f"sinks {sorted(artifact)} need source.envelope=passthrough "
                "(they consume raw keyed rows, not the CDC event envelope)"
            )
        if self.source.envelope == "passthrough" and self.dlq_path:
            # DlqWriter's quarantine schema is the CDC event envelope
            # (topic/partition/seq/pk/...); a passthrough row has none of
            # those columns, so the quarantine write would itself raise
            # FROM the error handler and mask the sink failure
            raise ValueError(
                "dlq_path is not supported with envelope=passthrough "
                "(the DLQ quarantine schema is the CDC event envelope)"
            )
        return self

    def provisioned_topics(self, dlq_suffix: str = "dlq") -> list[str]:
        """All CDC + DLQ topics this pipeline produces (reference
        topics_for_pipeline): per-source-type naming over the captured
        relations, DLQ topics included when a DLQ path is configured."""
        from cdc_platform_spark.streaming.topics import pipeline_topics

        return pipeline_topics(
            self.topic_prefix,
            self.source.capture or [],
            source_type=self.source.source_type,
            database=self.source.database,
            dlq_enabled=self.dlq_path is not None,
            dlq_suffix=dlq_suffix,
        )


class PlatformConfig(BaseModel, extra="forbid"):
    checkpoint_root: str = "/tmp/cdc-platform-spark/checkpoints"
    shuffle_partitions: int = 32
    master: str | None = None
    session_conf: dict[str, str] = Field(default_factory=dict)
