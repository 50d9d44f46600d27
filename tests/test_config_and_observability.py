"""Config front-end + compiler + observability tests (ref §1.4, M1-M5):
YAML loading with env interpolation, validation matrices (the reference's
tests/unit/test_config_models.py shape), config->pipeline compilation E2E,
schema-drift detection, retry/backoff."""

from __future__ import annotations

import pytest
from pydantic import ValidationError
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_platform_spark.config import load_pipeline_config
from cdc_platform_spark.config.loader import deep_merge, interpolate_env
from cdc_platform_spark.config.models import PipelineConfig, SinkConfig, SourceConfig
from cdc_platform_spark.observability import (
    SchemaDriftError,
    SchemaMonitor,
    retry_with_backoff,
)
from cdc_platform_spark.operators import load_all
from cdc_platform_spark.plans.compiler import compile_pipeline

from .conftest import SF_SMOKE


# --- loader -----------------------------------------------------------------
def test_env_interpolation(monkeypatch):
    monkeypatch.setenv("CDC_TEST_PATH", "/data/x")
    assert interpolate_env("${CDC_TEST_PATH}/events") == "/data/x/events"
    assert interpolate_env("${CDC_MISSING:-fallback}") == "fallback"
    with pytest.raises(KeyError):
        interpolate_env("${CDC_MISSING_NO_DEFAULT}")
    assert interpolate_env({"a": ["${CDC_TEST_PATH}"]}) == {"a": ["/data/x"]}


def test_deep_merge():
    assert deep_merge({"a": {"b": 1, "c": 2}}, {"a": {"b": 9}, "d": 3}) == {
        "a": {"b": 9, "c": 2},
        "d": 3,
    }


def test_yaml_roundtrip(tmp_path, monkeypatch):
    monkeypatch.setenv("OUT", str(tmp_path))
    cfg_file = tmp_path / "p.yaml"
    cfg_file.write_text(
        """
pipeline_id: demo
source:
  path: ${OUT}/src
sinks:
  - id: a
    type: append
    path: ${OUT}/append
dlq_path: ${OUT}/dlq
"""
    )
    cfg = load_pipeline_config(str(cfg_file))
    assert cfg.pipeline_id == "demo"
    assert cfg.source.path == f"{tmp_path}/src"
    assert cfg.topic_prefix == "cdc"  # default merged in


# --- validation matrix (ref tests/unit/test_config_models.py shape) ---------
def test_config_validation_matrix():
    src = SourceConfig(path="/tmp/x")
    ok = PipelineConfig(pipeline_id="p", source=src, sinks=[SinkConfig(id="s", type="append", path="/t")])
    assert ok.sinks[0].enabled
    with pytest.raises(ValidationError):  # no sinks
        PipelineConfig(pipeline_id="p", source=src, sinks=[])
    with pytest.raises(ValidationError):  # duplicate sink ids
        PipelineConfig(
            pipeline_id="p",
            source=src,
            sinks=[SinkConfig(id="s", type="append", path="/a"), SinkConfig(id="s", type="upsert", path="/b")],
        )
    with pytest.raises(ValidationError):  # extra="forbid"
        PipelineConfig(pipeline_id="p", source=src, sinks=[SinkConfig(id="s", type="append", path="/t")], bogus=1)
    with pytest.raises(ValidationError):  # fail_predicate only on append
        SinkConfig(id="s", type="upsert", path="/t", fail_predicate="op = 'd'")
    with pytest.raises(ValidationError):  # state_buckets only on upsert
        SinkConfig(id="s", type="append", path="/t", state_buckets=8)


def test_config_state_buckets_compiles_bucketed_upsert(spark, tmp_path, monkeypatch):
    from cdc_platform_spark.streaming.pipeline import BucketedUpsertSink

    monkeypatch.setenv("OUT", str(tmp_path))
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").repartition(2).write.parquet(f"{tmp_path}/src")
    cfg_file = tmp_path / "p.yaml"
    cfg_file.write_text(
        """
pipeline_id: demo
source:
  path: ${OUT}/src
checkpoint_dir: ${OUT}/ck
sinks:
  - id: state
    type: upsert
    path: ${OUT}/state
    state_buckets: 8
"""
    )
    cfg = load_pipeline_config(str(cfg_file))
    pipe = compile_pipeline(spark, cfg)
    sink = pipe.sinks["state"]
    assert isinstance(sink, BucketedUpsertSink) and sink.n_buckets == 8
    pipe.run_available_now()
    expected = load_all()["q27_cdc_upsert_latest"].builder(spark, SF_SMOKE)
    assert sink.state(spark).count() == expected.count()


def test_config_upsert_without_state_buckets_compiles_one_bucket(spark):
    """Unbucketed upsert state is the bucketed sink with one bucket."""
    from cdc_platform_spark.streaming.pipeline import BucketedUpsertSink

    cfg = PipelineConfig(
        pipeline_id="demo",
        source=SourceConfig(path="/src"),
        checkpoint_dir="/ck",
        sinks=[SinkConfig(id="state", type="upsert", path="/state")],
    )
    sink = compile_pipeline(spark, cfg).sinks["state"]
    assert isinstance(sink, BucketedUpsertSink) and sink.n_buckets == 1


def test_config_maintenance_cadence_compiles_and_sweeps(spark, tmp_path, monkeypatch):
    """maintenance_every_n_batches from YAML wires the scheduled sweep;
    compact() runs on cadence (observable via the bucketed sink's
    journal-free state surviving a reclaim-only sweep + the pipeline
    field being set)."""
    from cdc_platform_spark.streaming.pipeline import BucketedUpsertSink

    monkeypatch.setenv("OUT", str(tmp_path))
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").repartition(4).write.parquet(
        f"{tmp_path}/src"
    )
    cfg_file = tmp_path / "p.yaml"
    cfg_file.write_text(
        """
pipeline_id: demo
maintenance_every_n_batches: 2
source:
  path: ${OUT}/src
  max_files_per_trigger: 1
checkpoint_dir: ${OUT}/ck
sinks:
  - id: state
    type: upsert
    path: ${OUT}/state
    state_buckets: 8
"""
    )
    cfg = load_pipeline_config(str(cfg_file))
    pipe = compile_pipeline(spark, cfg)
    assert pipe.maintenance_every_n_batches == 2
    pipe.run_available_now()
    sink = pipe.sinks["state"]
    assert isinstance(sink, BucketedUpsertSink)
    expected = load_all()["q27_cdc_upsert_latest"].builder(spark, SF_SMOKE)
    assert sink.state(spark).count() == expected.count()


# --- config -> pipeline E2E -------------------------------------------------
def test_compiled_pipeline_runs_lakehouse_sinks(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("OUT", str(tmp_path))
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").repartition(3).write.parquet(f"{tmp_path}/src")
    cfg_file = tmp_path / "p.yaml"
    cfg_file.write_text(
        """
pipeline_id: demo
source:
  path: ${OUT}/src
  max_files_per_trigger: 1
checkpoint_dir: ${OUT}/ck
sinks:
  - id: lake
    type: lakehouse_upsert
    path: ${OUT}/lake
  - id: raw
    type: lakehouse_append
    path: ${OUT}/raw
"""
    )
    cfg = load_pipeline_config(str(cfg_file))
    pipe = compile_pipeline(spark, cfg)
    pipe.run_available_now()

    lake = pipe.sinks["lake"]
    expected = load_all()["q27_cdc_upsert_latest"].builder(spark, SF_SMOKE)
    assert lake.state().count() == expected.count()
    # append table accumulated one snapshot per micro-batch (3 files staged)
    raw = pipe.sinks["raw"].table
    assert len(raw.snapshots()) == 3
    assert raw.read().count() == spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()


# --- schema monitor (M1) ----------------------------------------------------
def test_schema_monitor_halts_on_incompatible(spark):
    base = spark.range(5).select(F.col("id"), F.lit("x").alias("name"))
    mon = SchemaMonitor(expected=base.schema, mode="halt")
    assert mon.check(base)
    # added nullable column -> compatible drift, recorded not raised
    evolved = base.withColumn("extra", F.lit(1))
    assert mon.check(evolved)
    assert mon.drift_log[-1]["incompatible"] is False
    # type change -> incompatible -> halt (ref schema_monitor halt semantics)
    changed = spark.range(5).select(F.col("id").cast("string"), F.lit("x").alias("name"))
    with pytest.raises(SchemaDriftError):
        mon.check(changed)
    mon_warn = SchemaMonitor(expected=base.schema, mode="warn")
    assert mon_warn.check(changed) is False
    assert mon_warn.drift_log[-1]["incompatible"] is True


def test_schema_monitor_missing_column_incompatible(spark):
    base = spark.range(5).select(F.col("id"), F.lit("x").alias("name"))
    mon = SchemaMonitor(expected=base.schema, mode="halt")
    with pytest.raises(SchemaDriftError):
        mon.check(base.drop("name"))


# --- retry (M5) -------------------------------------------------------------
def test_retry_with_backoff_succeeds_then_exhausts():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    assert retry_with_backoff(flaky, max_attempts=5, base_delay=0.001) == "ok"
    assert calls["n"] == 3

    def always_fails():
        raise RuntimeError("permanent")

    with pytest.raises(RuntimeError, match="permanent"):
        retry_with_backoff(always_fails, max_attempts=3, base_delay=0.001)


# --- CLI --------------------------------------------------------------------
def test_cli_lakehouse_roundtrip(spark, tmp_path, capsys):
    from cdc_platform_spark.cli import main
    from cdc_platform_spark.lakehouse.table import VersionedTable

    root = str(tmp_path / "tbl")
    t = VersionedTable(spark, root)
    t.append(spark.range(10).selectExpr("id", "id*2 AS v"))
    t.append(spark.range(10, 20).selectExpr("id", "id*2 AS v"))

    assert main(["snapshots", root]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 2

    assert main(["query", root, "--limit", "5"]) == 0
    assert len(capsys.readouterr().out.strip().splitlines()) == 5


def test_health_server_endpoints():
    """M4: /healthz is pure liveness; /readyz aggregates component status
    and serves 503 the moment any component errors."""
    import json
    import urllib.error
    import urllib.request

    from cdc_platform_spark.observability import HealthServer

    state = {"status": "ready", "components": {"query:q1": "ok"}}
    srv = HealthServer(lambda: state)
    port = srv.start()
    try:
        def get(path):
            try:
                with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
                    return r.status, json.loads(r.read())
            except urllib.error.HTTPError as e:
                return e.code, json.loads(e.read())

        assert get("/healthz") == (200, {"status": "alive"})
        code, body = get("/readyz")
        assert code == 200 and body["status"] == "ready"

        state["status"] = "unhealthy"
        state["components"]["query:q1"] = "error"
        code, body = get("/readyz")
        assert code == 503 and body["components"]["query:q1"] == "error"
        # liveness unaffected by readiness (the reference's split contract)
        assert get("/healthz")[0] == 200
        assert get("/nope")[0] == 404
    finally:
        srv.stop()


def test_kafka_stream_options_builder():
    from cdc_platform_spark.sources.kafka import kafka_stream_options

    opts = kafka_stream_options(
        "b1:9092,b2:9092", topics=["cdc.public.users", "cdc.public.orders"],
        max_offsets_per_trigger=50_000, fail_on_data_loss=False,
    )
    assert opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "cdc.public.users,cdc.public.orders",
        "startingOffsets": "earliest",
        "failOnDataLoss": "false",
        "maxOffsetsPerTrigger": "50000",
    }
    assert "subscribePattern" in kafka_stream_options("b:9092", topic_pattern="cdc\\..*")
    with pytest.raises(ValueError, match="exactly one"):
        kafka_stream_options("b:9092")
    with pytest.raises(ValueError, match="exactly one"):
        kafka_stream_options("b:9092", topics=["t"], topic_pattern="t.*")


def test_kafka_envelope_decode(spark):
    """Raw Kafka record shape -> flat engine envelope: binary JSON key/value
    decoded, Debezium ops normalized (r->c), delete falls back to the
    pre-image, order key = (partition, offset). No broker needed — the
    transform is a pure column expression (reference's consumer
    normalization, sources/kafka/source.py:47-66)."""
    import json

    from cdc_platform_spark.sources.kafka import kafka_envelope_flat

    def rec(partition, offset, op, pk, event_type="click", value=1.5, ts_ms=1_700_000_000_000):
        row = {"id": pk, "event_type": event_type, "value": value}
        env = {
            "op": op,
            "ts_ms": ts_ms,
            "before": row if op == "d" else None,
            "after": None if op == "d" else row,
            "source": {"connector": "postgresql", "db": "app", "schema": "public",
                       "table": "users", "lsn": offset * 10, "txId": 7},
        }
        return ("cdc.public.users", partition, offset,
                json.dumps({"id": pk}).encode(), json.dumps(env).encode())

    raw = spark.createDataFrame(
        [rec(0, 1, "r", 10), rec(0, 2, "u", 10, value=2.5), rec(1, 1, "c", 11), rec(0, 3, "d", 10)],
        "topic string, partition int, offset long, key binary, value binary",
    )
    out = kafka_envelope_flat(raw).orderBy("partition", "offset").collect()
    assert [r["op"] for r in out] == ["c", "u", "d", "c"]  # r normalized to c
    assert [r["pk"] for r in out] == [10, 10, 10, 11]
    # delete carries the pre-image
    assert out[2]["event_type"] == "click" and out[2]["value"] == 1.5
    assert out[1]["value"] == 2.5
    assert out[0]["event_ts"] is not None


def test_kafka_source_config_and_compile(spark, tmp_path):
    from cdc_platform_spark.config.models import PipelineConfig
    from cdc_platform_spark.plans.compiler import compile_pipeline
    from cdc_platform_spark.sources.kafka import kafka_envelope_flat

    cfg = PipelineConfig(
        pipeline_id="kafka-e2e",
        source={"type": "kafka", "bootstrap_servers": "broker:9092", "topics": ["cdc.public.users"]},
        sinks=[{"id": "a", "type": "append", "path": str(tmp_path / "a")}],
    )
    pipe = compile_pipeline(spark, cfg)
    assert pipe.stream_builder is not None
    assert pipe.envelope_fn is kafka_envelope_flat

    with pytest.raises(ValueError, match="bootstrap_servers"):
        PipelineConfig(
            pipeline_id="x", source={"type": "kafka", "topics": ["t"]},
            sinks=[{"id": "a", "type": "append", "path": "/tmp/a"}],
        )
    with pytest.raises(ValueError, match="requires path"):
        PipelineConfig(
            pipeline_id="x", source={"type": "parquet_stream"},
            sinks=[{"id": "a", "type": "append", "path": "/tmp/a"}],
        )


def test_pubsub_virtual_partitions_and_synthetic_offsets(spark):
    """S3: md5(ordering_key) %% 16 virtual partitioning + arrival-order
    synthetic offsets — all rows of one ordering key land in one partition
    with gapless offsets (reference sources/pubsub/source.py:22-23,169-174)."""
    import hashlib

    from cdc_platform_spark.sources.cloud import pubsub_frames

    rows = [
        (f"m{i:03d}", key, 1_700_000_000_000 + i * 1000, "{}", "{}")
        for i, key in enumerate(["public.users", "public.orders", "public.users", "sales.items"] * 25)
    ]
    msgs = spark.createDataFrame(
        rows, "message_id string, ordering_key string, publish_time long, key_json string, value_json string"
    ).withColumn("publish_time", F.timestamp_millis(F.col("publish_time")))
    out = pubsub_frames(msgs)

    # one partition per ordering key, matching the reference's md5 bucket
    got = {r["topic"]: r["partition"] for r in out.select("topic", "partition").distinct().collect()}
    for key, part in got.items():
        expected = int(hashlib.md5(key.encode()).hexdigest()[:15], 16) % 16
        assert part == expected, (key, part, expected)

    # offsets are gapless 0..n-1 in arrival order within each partition
    for part in set(got.values()):
        offs = [r["offset"] for r in out.filter(F.col("partition") == part).orderBy("offset").collect()]
        assert offs == list(range(len(offs)))


def test_kinesis_shard_mapping_and_resume(spark):
    """S4: shard->partition 1:1, sequence-number offsets, and
    AFTER_SEQUENCE_NUMBER resume from a checkpoint table."""
    from cdc_platform_spark.sources.cloud import kinesis_frames, resume_after_checkpoint

    recs = spark.createDataFrame(
        [
            ("shardId-000000000000", 100, "pk1", "{}", "{}"),
            ("shardId-000000000000", 101, "pk1", "{}", "{}"),
            ("shardId-000000000000", 102, "pk1", "{}", "{}"),
            ("shardId-000000000001", 7, "pk2", "{}", "{}"),
            ("shardId-000000000001", 8, "pk2", "{}", "{}"),
        ],
        "shard_id string, sequence_number long, partition_key string, key_json string, value_json string",
    )
    frames = kinesis_frames(recs, stream_name="cdc.orders")
    assert {r["partition"] for r in frames.collect()} == {0, 1}

    ckpt = spark.createDataFrame([(0, 101)], "partition int, committed_offset long")
    resumed = resume_after_checkpoint(frames, ckpt)
    got = sorted((r["partition"], r["offset"]) for r in resumed.collect())
    # shard 0 resumes after 101; shard 1 has no checkpoint -> full replay
    assert got == [(0, 102), (1, 7), (1, 8)]


def test_cli_validate_and_consume(spark, tmp_path, capsys, monkeypatch):
    import json as _json

    from cdc_platform_spark.cli import main

    monkeypatch.setenv("OUT", str(tmp_path))
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(50).write.parquet(f"{tmp_path}/src")
    good = tmp_path / "good.yaml"
    good.write_text(
        """
pipeline_id: demo
source:
  path: ${OUT}/src
sinks:
  - id: a
    type: append
    path: ${OUT}/a
"""
    )
    assert main(["validate", str(good)]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["valid"] and out["pipeline"]["pipeline_id"] == "demo"

    bad = tmp_path / "bad.yaml"
    bad.write_text("pipeline_id: demo\nsource:\n  path: /x\nsinks: []\n")
    assert main(["validate", str(bad)]) == 1
    assert _json.loads(capsys.readouterr().out)["valid"] is False

    assert main(["consume", str(good), "--limit", "7"]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 7
    first = _json.loads(lines[0])
    assert {"topic", "partition", "offset", "op", "pk"} <= set(first)


def test_cli_maintain_sweeps_state_and_reports_stats(spark, tmp_path, capsys, monkeypatch):
    """cdc-spark maintain: runs the pipeline's maintenance sweep (with an
    operator-supplied tombstone horizon) and prints per-sink state stats —
    tombstones gone, rows intact, horizon recorded."""
    import json as _json

    from cdc_platform_spark.cli import main

    monkeypatch.setenv("OUT", str(tmp_path))
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").write.parquet(f"{tmp_path}/src")
    cfg = tmp_path / "p.yaml"
    cfg.write_text(
        """
pipeline_id: demo
source:
  path: ${OUT}/src
checkpoint_dir: ${OUT}/ck
sinks:
  - id: state
    type: upsert
    path: ${OUT}/state
    state_buckets: 8
"""
    )
    assert main(["run", str(cfg)]) == 0
    capsys.readouterr()
    from cdc_platform_spark.streaming.pipeline import BucketedUpsertSink

    raw = BucketedUpsertSink(f"{tmp_path}/state", n_buckets=8)
    before = raw.state_stats(spark)
    # the fixture's key set need not hit every bucket; several is enough
    assert before["tombstones"] > 0 and before["buckets"] >= 4

    assert main(["maintain", str(cfg), "--tombstone-horizon", str(10**12)]) == 0
    out = _json.loads(capsys.readouterr().out)
    stats = out["stats"]["state"]
    assert stats["tombstones"] == 0
    assert stats["rows"] == before["rows"] - before["tombstones"]
    assert stats["gc_horizon"] == 10**12


def test_cli_maintain_suggests_horizon_from_append_sink(
    spark, tmp_path, capsys, monkeypatch
):
    """--suggest-horizon-from derives the GC horizon from the append
    sink's applied table (A1 min-watermark math) and GCs exactly the
    tombstones below it."""
    import json as _json

    from cdc_platform_spark.cli import main
    from cdc_platform_spark.streaming.pipeline import BucketedUpsertSink

    monkeypatch.setenv("OUT", str(tmp_path))
    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    events.write.parquet(f"{tmp_path}/src")
    cfg = tmp_path / "p.yaml"
    cfg.write_text(
        """
pipeline_id: demo
source:
  path: ${OUT}/src
checkpoint_dir: ${OUT}/ck
sinks:
  - id: log
    type: append
    path: ${OUT}/log
  - id: state
    type: upsert
    path: ${OUT}/state
    state_buckets: 8
"""
    )
    assert main(["run", str(cfg)]) == 0
    capsys.readouterr()

    expected_h = (
        spark.read.parquet(f"{tmp_path}/log")
        .groupBy("_cdc_partition")
        .agg(F.max("_cdc_offset").alias("mx"))
        .agg(F.min("mx"))
        .first()[0]
        + 1
    )
    assert main(["maintain", str(cfg), "--suggest-horizon-from", "log"]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["horizon"] == expected_h

    raw = BucketedUpsertSink(f"{tmp_path}/state", n_buckets=8)
    left = spark.read.parquet(raw.path).filter("op = 'd'")
    assert left.filter(f"offset < {expected_h}").count() == 0
    assert raw.gc_horizon() == expected_h


def test_per_source_topic_naming():
    """Reference topic shapes (streaming/topics.py:31-60): 3-part for
    postgres/mysql/mongodb, 4-part for sqlserver, DLQ suffixing."""
    from cdc_platform_spark.streaming.topics import cdc_topic, dlq_topic, pipeline_topics

    assert cdc_topic("cdc", "public.customers", "postgres") == "cdc.public.customers"
    assert cdc_topic("cdc", "mydb.customers", "mysql") == "cdc.mydb.customers"
    assert cdc_topic("cdc", "mydb.events", "mongodb") == "cdc.mydb.events"
    assert (
        cdc_topic("cdc", "dbo.customers", "sqlserver", database="cdc_demo")
        == "cdc.cdc_demo.dbo.customers"
    )
    assert dlq_topic("cdc.public.customers") == "cdc.public.customers.dlq"
    assert dlq_topic("cdc.public.customers", "dead") == "cdc.public.customers.dead"
    with pytest.raises(ValueError):
        cdc_topic("cdc", "nodot", "postgres")
    with pytest.raises(ValueError):
        cdc_topic("cdc", "a.b", "oracle")
    with pytest.raises(ValueError):
        cdc_topic("cdc", "dbo.t", "sqlserver")  # database required
    assert pipeline_topics("cdc", ["public.a", "public.b"], dlq_enabled=True) == [
        "cdc.public.a",
        "cdc.public.a.dlq",
        "cdc.public.b",
        "cdc.public.b.dlq",
    ]


def test_pipeline_config_provisioned_topics(tmp_path):
    from cdc_platform_spark.config.models import PipelineConfig, SinkConfig, SourceConfig

    cfg = PipelineConfig(
        pipeline_id="p1",
        topic_prefix="cdc",
        source=SourceConfig(
            type="parquet_stream",
            path=str(tmp_path),
            source_type="sqlserver",
            database="appdb",
            capture=["dbo.users", "dbo.orders"],
        ),
        sinks=[SinkConfig(id="s", type="append", path=str(tmp_path / "s"))],
        dlq_path=str(tmp_path / "dlq"),
    )
    assert cfg.provisioned_topics() == [
        "cdc.appdb.dbo.users",
        "cdc.appdb.dbo.users.dlq",
        "cdc.appdb.dbo.orders",
        "cdc.appdb.dbo.orders.dlq",
    ]
    assert cfg.provisioned_topics(dlq_suffix="dead")[1] == "cdc.appdb.dbo.users.dead"
    # sqlserver capture without database is rejected at config time
    with pytest.raises(Exception):
        SourceConfig(
            type="parquet_stream", path=str(tmp_path), source_type="sqlserver", capture=["dbo.x"]
        )


def test_health_probes(spark, tmp_path, capsys, monkeypatch):
    """Reference `cdc health` (observability/health.py:45-180): per-component
    probes aggregate worst-status; the CLI verb exits non-zero when any
    dependency is unhealthy."""
    import json as _json
    import socket
    import threading

    from cdc_platform_spark.cli import main
    from cdc_platform_spark.config.models import PipelineConfig, SinkConfig, SourceConfig
    from cdc_platform_spark.observability import check_pipeline_health

    spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(20).write.parquet(f"{tmp_path}/src")

    cfg = PipelineConfig(
        pipeline_id="h",
        source=SourceConfig(type="parquet_stream", path=f"{tmp_path}/src"),
        sinks=[SinkConfig(id="a", type="append", path=f"{tmp_path}/out/a")],
        dlq_path=f"{tmp_path}/dlq",
    )
    report = check_pipeline_health(spark, cfg)
    assert report["status"] == "healthy"
    names = {c["name"] for c in report["components"]}
    assert {"source:path", "sink:a", "dlq"} <= names

    # an existing-but-empty DLQ directory is still healthy (pre-provisioned
    # or fully drained quarantine)
    import os as _os

    _os.makedirs(f"{tmp_path}/dlq", exist_ok=True)
    rep_empty = check_pipeline_health(spark, cfg)
    assert rep_empty["status"] == "healthy"

    # missing source path -> unhealthy aggregate
    bad = cfg.model_copy(deep=True)
    bad.source.path = f"{tmp_path}/nope"
    assert check_pipeline_health(spark, bad)["status"] == "unhealthy"

    # kafka probe: a live local listener is healthy, a closed port is not
    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    t = threading.Thread(target=lambda: srv.accept(), daemon=True)
    t.start()
    kcfg = PipelineConfig(
        pipeline_id="k",
        source=SourceConfig(
            type="kafka", bootstrap_servers=f"127.0.0.1:{port}", topics=["t"]
        ),
        sinks=[SinkConfig(id="a", type="append", path=f"{tmp_path}/out/a")],
    )
    rep = check_pipeline_health(spark, kcfg)
    assert rep["components"][0]["status"] == "healthy"
    srv.close()

    # CLI verb: healthy -> 0 with a JSON report
    monkeypatch.setenv("OUT", str(tmp_path))
    y = tmp_path / "h.yaml"
    y.write_text(
        """
pipeline_id: h
source:
  path: ${OUT}/src
sinks:
  - id: a
    type: append
    path: ${OUT}/out/a
"""
    )
    assert main(["health", str(y)]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "healthy"


def test_cli_export_writes_shard_partitions(spark, tmp_path, capsys):
    """`cdc-spark export` writes the curated corpus partitioned by shard_id
    and prints the per-shard manifest; written partitions must agree with
    the manifest's doc counts."""
    import json as _json

    from cdc_platform_spark.cli import main

    out_dir = str(tmp_path / "shards")
    rc = main(["export", "--sf-dir", SF_SMOKE, "--out", out_dir])
    assert rc == 0
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["shards"] >= 2
    written = spark.read.parquet(out_dir)
    # shards are consumable training data: the document text rides along
    assert "text" in written.columns
    assert written.filter("text IS NULL OR text = ''").count() == 0
    per_shard = {r["shard_id"]: r["n"] for r in written.groupBy("shard_id").count().withColumnRenamed("count", "n").collect()}
    for m in report["manifest"]:
        assert per_shard[m["shard_id"]] == m["n_docs"], m
    # totals come from the WRITTEN manifest parquet (the printed report
    # samples at most 50 shards, so it can't anchor a totals equality)
    manifest = spark.read.parquet(f"{out_dir}_manifest")
    assert written.count() == sum(r["n_docs"] for r in manifest.collect())
    assert manifest.count() == report["shards"]


def test_cli_topics_prints_provisioning_list(tmp_path, capsys, monkeypatch):
    """`cdc-spark topics` prints the CDC + DLQ topic list (ref D1) without a
    Spark session."""
    import json as _json

    from cdc_platform_spark.cli import main

    y = tmp_path / "p.yaml"
    y.write_text(
        f"""
pipeline_id: t1
topic_prefix: cdc
source:
  type: parquet_stream
  path: {tmp_path}/src
  source_type: postgres
  capture: [public.users, public.orders]
sinks:
  - id: a
    type: append
    path: {tmp_path}/out/a
dlq_path: {tmp_path}/dlq
"""
    )
    assert main(["topics", str(y)]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["pipeline_id"] == "t1"
    assert "cdc.public.users" in out["topics"]
    assert any(t.endswith("dlq") for t in out["topics"])


def test_health_probe_survives_bad_broker_entries(spark, tmp_path):
    """Non-numeric ports, IPv6 literals, and trailing commas must yield
    unhealthy components (or be skipped), never a traceback."""
    from cdc_platform_spark.config.models import PipelineConfig, SinkConfig, SourceConfig
    from cdc_platform_spark.observability import check_pipeline_health

    cfg = PipelineConfig(
        pipeline_id="h",
        source=SourceConfig(
            type="kafka", bootstrap_servers="broker:abc,[::1]:1,", topics=["t"]
        ),
        sinks=[SinkConfig(id="a", type="append", path=str(tmp_path / "a"))],
    )
    report = check_pipeline_health(spark, cfg)
    names = [c["name"] for c in report["components"]]
    assert "kafka:broker:abc" in names  # reported, not crashed
    assert not any(n == "kafka:" for n in names)  # trailing comma skipped


def test_health_probe_bare_ipv6_defaults_port(spark, tmp_path, monkeypatch):
    """A bare unbracketed IPv6 host ('::1') has no port: the probe must hit
    ('::1', 9092), not the rpartition artifact ('::', 1)."""
    import socket as socket_mod

    from cdc_platform_spark.config.models import PipelineConfig, SinkConfig, SourceConfig
    from cdc_platform_spark.observability import check_pipeline_health

    probed = []

    def fake_connect(addr, timeout=None):
        probed.append(addr)
        raise OSError("probe recorded")

    monkeypatch.setattr(socket_mod, "create_connection", fake_connect)
    cfg = PipelineConfig(
        pipeline_id="h6",
        source=SourceConfig(
            type="kafka", bootstrap_servers="::1,[::1],[::1]:19092,host:19092", topics=["t"]
        ),
        sinks=[SinkConfig(id="a", type="append", path=str(tmp_path / "a"))],
    )
    check_pipeline_health(spark, cfg)
    assert ("::1", 9092) in probed  # bare IPv6, default port
    assert ("::1", 19092) in probed  # bracketed IPv6 with port
    assert ("host", 19092) in probed  # plain host:port
    assert ("::", 1) not in probed  # the bug this test pins


def test_cli_validate_keeps_json_contract_on_malformed_yaml(tmp_path, capsys):
    import json as _json

    from cdc_platform_spark.cli import main

    bad = tmp_path / "bad.yaml"
    bad.write_text("- just\n- a list\n")
    rc = main(["validate", str(bad)])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and out["valid"] is False

    syntax = tmp_path / "syntax.yaml"
    syntax.write_text("a: [unclosed\n")
    rc = main(["validate", str(syntax)])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and out["valid"] is False


def test_lakehouse_upsert_sink_skips_empty_batches(spark, tmp_path):
    """An empty micro-batch must not rewrite the table into a fresh
    zero-change snapshot."""
    from cdc_platform_spark.plans.compiler import LakehouseUpsertSink
    from cdc_platform_spark.streaming.pipeline import to_envelope

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(20)
    sink = LakehouseUpsertSink(spark, str(tmp_path / "t"))
    sink.write(to_envelope(events))
    n_snaps = len(sink.table.snapshots())
    sink.write(to_envelope(events).filter("pk < 0"))  # empty batch
    assert len(sink.table.snapshots()) == n_snaps


def test_curated_corpus_pipeline_deploys_from_yaml(spark, tmp_path):
    """The curation funnel is YAML-deployable: a passthrough-envelope
    pipeline with a curated_corpus sink, driven availableNow, must leave
    the same curated()/decontaminated() views as a direct sink write —
    and the validators must refuse the two wrong-envelope mixes."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from cdc_platform_spark.config import load_pipeline_config
    from cdc_platform_spark.config.models import PipelineConfig, SinkConfig, SourceConfig
    from cdc_platform_spark.plans.compiler import compile_pipeline
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    from .conftest import SF_SMOKE

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang", "source", "text"
    )
    rows = d.select(
        "doc_id", F.col("doc_id").alias("offset"), F.lit("c").alias("op"),
        "text", "lang", "source",
    ).localCheckpoint(eager=True)
    rows.repartition(2).write.parquet(f"{tmp_path}/src")

    cfg_file = tmp_path / "p.yaml"
    cfg_file.write_text(
        f"""
pipeline_id: corpus-demo
source:
  path: {tmp_path}/src
  envelope: passthrough
  schema_ddl: "doc_id long, offset long, op string, text string, lang string, source string"
checkpoint_dir: {tmp_path}/ck
sinks:
  - id: corpus
    type: curated_corpus
    path: {tmp_path}/corpus
    state_buckets: 8
"""
    )
    cfg = load_pipeline_config(str(cfg_file))
    pipe = compile_pipeline(spark, cfg)
    pipe.run_available_now()

    direct = CuratedCorpusSink(str(tmp_path / "direct"), n_buckets=8)
    direct.write(rows)
    got = sorted(map(tuple, pipe.sinks["corpus"].decontaminated(spark).collect()))
    want = sorted(map(tuple, direct.decontaminated(spark).collect()))
    assert got == want and got
    mix = sorted(map(tuple, pipe.sinks["corpus"].mix_sample(spark).collect()))
    assert mix == sorted(map(tuple, direct.mix_sample(spark).collect())) and mix

    # wrong-envelope mixes are refused at validation time
    src_pass = SourceConfig(
        path="/s", envelope="passthrough", schema_ddl="doc_id long, offset long, op string, text string"
    )
    with _pytest.raises(ValueError, match="passthrough pipelines support only"):
        PipelineConfig(
            pipeline_id="p", source=src_pass,
            sinks=[SinkConfig(id="a", type="append", path="/t")],
        )
    with _pytest.raises(ValueError, match="need source.envelope=passthrough"):
        PipelineConfig(
            pipeline_id="p", source=SourceConfig(path="/s"),
            sinks=[SinkConfig(id="c", type="curated_corpus", path="/t")],
        )
    with _pytest.raises(ValueError, match="requires schema_ddl"):
        SourceConfig(path="/s", envelope="passthrough")


def test_feature_store_pipeline_deploys_from_yaml(spark, tmp_path):
    """feature_store sinks deploy from YAML too: a passthrough pipeline
    over binary-asset CDC rows must leave the same decoded feature state
    as a direct sink write."""
    from pyspark.sql import functions as F

    from cdc_platform_spark.config import load_pipeline_config
    from cdc_platform_spark.plans.compiler import compile_pipeline
    from cdc_platform_spark.streaming.feature_store import MultimodalFeatureStoreSink

    from .conftest import SF_SMOKE

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    rows = d.select(
        "doc_id",
        F.col("doc_id").alias("offset"),
        F.lit("c").alias("op"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    ).localCheckpoint(eager=True)
    rows.repartition(2).write.parquet(f"{tmp_path}/src")

    cfg_file = tmp_path / "p.yaml"
    cfg_file.write_text(
        f"""
pipeline_id: features-demo
source:
  path: {tmp_path}/src
  envelope: passthrough
  schema_ddl: "doc_id long, offset long, op string, payload binary"
checkpoint_dir: {tmp_path}/ck
sinks:
  - id: features
    type: feature_store
    path: {tmp_path}/features
    state_buckets: 8
"""
    )
    cfg = load_pipeline_config(str(cfg_file))
    pipe = compile_pipeline(spark, cfg)
    pipe.run_available_now()

    direct = MultimodalFeatureStoreSink(str(tmp_path / "direct"), n_buckets=8)
    direct.write(rows)
    got = sorted(map(tuple, pipe.sinks["features"].features(spark).collect()))
    want = sorted(map(tuple, direct.features(spark).collect()))
    assert got == want and got


def test_span_index_pipeline_deploys_from_yaml(spark, tmp_path):
    """span_index sinks deploy from YAML too (round 12): a passthrough
    pipeline over document CDC rows must leave the same span_stats view
    as a direct sink write, and the scheduled maintenance sweep must
    reach the sink's compact() (dead markers reclaimed)."""
    from pyspark.sql import functions as F

    from cdc_platform_spark.config import load_pipeline_config
    from cdc_platform_spark.plans.compiler import compile_pipeline
    from cdc_platform_spark.streaming.span_index import BucketedSpanIndexSink

    from .conftest import SF_SMOKE

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    wave0 = d.select(
        "doc_id", F.col("doc_id").alias("offset"), F.lit("c").alias("op"), "text"
    ).localCheckpoint(eager=True)
    # an update wave so the posting store does real retraction work
    wave1 = (
        d.filter("doc_id % 7 = 0")
        .select(
            "doc_id",
            (F.col("doc_id") + F.lit(10**9)).alias("offset"),
            F.lit("u").alias("op"),
            F.concat("text", F.lit(" tail")).alias("text"),
        )
        .localCheckpoint(eager=True)
    )
    wave0.unionByName(wave1).repartition(2).write.parquet(f"{tmp_path}/src")

    cfg_file = tmp_path / "p.yaml"
    cfg_file.write_text(
        f"""
pipeline_id: span-demo
source:
  path: {tmp_path}/src
  envelope: passthrough
  schema_ddl: "doc_id long, offset long, op string, text string"
checkpoint_dir: {tmp_path}/ck
maintenance_every_n_batches: 1
sinks:
  - id: spans
    type: span_index
    path: {tmp_path}/spans
    state_buckets: 8
"""
    )
    cfg = load_pipeline_config(str(cfg_file))
    pipe = compile_pipeline(spark, cfg)
    pipe.run_available_now()

    direct = BucketedSpanIndexSink(str(tmp_path / "direct"), n_buckets=8)
    direct.write(wave0)
    direct.write(wave1)  # separate batch: the update retracts -> dead markers
    got = sorted(map(tuple, pipe.sinks["spans"].span_stats(spark).collect()))
    want = sorted(map(tuple, direct.span_stats(spark).collect()))
    assert got == want and got
    # maintenance_every_n_batches=1 swept compact() after the last batch:
    # the YAML-deployed sink carries no dead weight, while the unmaintained
    # direct two-batch write provably does (so the sweep really ran)
    assert pipe.sinks["spans"].state_stats(spark)["postings"]["tombstones"] == 0
    assert direct.state_stats(spark)["postings"]["tombstones"] > 0


def test_session_stats_pipeline_deploys_from_yaml(spark, tmp_path):
    """session_stats sinks deploy from YAML too (round 13): a passthrough
    pipeline over event CDC rows must leave the same session_stats view
    as a direct sink write, and the scheduled maintenance sweep must
    reach the sink's compact() (dead markers reclaimed)."""
    from pyspark.sql import functions as F

    from cdc_platform_spark.config import load_pipeline_config
    from cdc_platform_spark.plans.compiler import compile_pipeline
    from cdc_platform_spark.streaming.session_index import BucketedSessionStatsSink

    from .conftest import SF_SMOKE

    from cdc_platform_spark.operators.streaming_queries import _normalized_events

    e = (
        _normalized_events(spark, SF_SMOKE)
        .select(
            "event_id",
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
            "value",
        )
        .limit(400)
    )
    wave0 = e.select(
        "event_id",
        F.col("event_id").alias("offset"),
        F.lit("c").alias("op"),
        "user_id",
        "t_us",
        "value",
    ).localCheckpoint(eager=True)
    # an update+delete wave so the user_events store does real retraction
    wave1 = (
        e.filter("event_id % 5 = 0")
        .select(
            "event_id",
            (F.col("event_id") + F.lit(10**9)).alias("offset"),
            F.when(F.col("event_id") % 10 == 0, "d").otherwise("u").alias("op"),
            "user_id",
            (F.col("t_us") + F.lit(3_600_000_000)).alias("t_us"),
            "value",
        )
        .localCheckpoint(eager=True)
    )
    wave0.unionByName(wave1).repartition(2).write.parquet(f"{tmp_path}/src")

    cfg_file = tmp_path / "p.yaml"
    cfg_file.write_text(
        f"""
pipeline_id: session-demo
source:
  path: {tmp_path}/src
  envelope: passthrough
  schema_ddl: "event_id long, offset long, op string, user_id long, t_us long, value double"
checkpoint_dir: {tmp_path}/ck
maintenance_every_n_batches: 1
sinks:
  - id: sessions
    type: session_stats
    path: {tmp_path}/sessions
    state_buckets: 8
"""
    )
    cfg = load_pipeline_config(str(cfg_file))
    pipe = compile_pipeline(spark, cfg)
    pipe.run_available_now()

    direct = BucketedSessionStatsSink(str(tmp_path / "direct"), n_buckets=8)
    direct.write(wave0)
    direct.write(wave1)  # separate batch: updates retract -> dead markers
    got = sorted(map(tuple, pipe.sinks["sessions"].session_stats(spark).collect()))
    want = sorted(map(tuple, direct.session_stats(spark).collect()))
    assert got == want and got
    # maintenance_every_n_batches=1 swept compact() after the last batch:
    # the YAML-deployed sink carries no dead weight, while the unmaintained
    # direct two-batch write provably does (so the sweep really ran)
    assert pipe.sinks["sessions"].state_stats(spark)["user_events"]["tombstones"] == 0
    assert direct.state_stats(spark)["user_events"]["tombstones"] > 0


def test_passthrough_rejects_dlq_and_tolerates_disabled_event_sinks():
    """The passthrough validator counts only ENABLED sinks (a disabled
    append sink is legal ballast), and refuses dlq_path outright — the
    DLQ quarantine schema is the CDC event envelope, so a passthrough
    quarantine write would raise FROM the error handler and mask the
    sink failure."""
    import pytest as _pytest

    from cdc_platform_spark.config.models import PipelineConfig, SinkConfig, SourceConfig

    src = SourceConfig(
        path="/s", envelope="passthrough",
        schema_ddl="doc_id long, offset long, op string, text string",
    )
    # disabled event sink alongside the artifact sink: legal
    PipelineConfig(
        pipeline_id="p",
        source=src,
        sinks=[
            SinkConfig(id="c", type="curated_corpus", path="/t"),
            SinkConfig(id="old", type="append", path="/a", enabled=False),
        ],
    )
    # disabled artifact sink in an events pipeline: legal too
    PipelineConfig(
        pipeline_id="p",
        source=SourceConfig(path="/s"),
        sinks=[
            SinkConfig(id="a", type="append", path="/a"),
            SinkConfig(id="c", type="curated_corpus", path="/t", enabled=False),
        ],
    )
    with _pytest.raises(ValueError, match="dlq_path is not supported"):
        PipelineConfig(
            pipeline_id="p",
            source=src,
            dlq_path="/dlq",
            sinks=[SinkConfig(id="c", type="curated_corpus", path="/t")],
        )


def test_cli_serve_corpus_views(spark, tmp_path, capsys):
    """`cdc-spark serve <view> <corpus_root>` runs the maintained
    curated-corpus serving reads and prints JSON rows."""
    import json as _json

    from pyspark.sql import functions as F

    from cdc_platform_spark.cli import main
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink
    from tests.conftest import SF_SMOKE

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang", "source", "text"
    )
    root = str(tmp_path / "corpus")
    sink = CuratedCorpusSink(root, n_buckets=8)
    sink.write(
        d.select(
            "doc_id", F.col("doc_id").alias("offset"), F.lit("c").alias("op"),
            "text", "lang", "source",
        )
    )

    for view, key in [
        ("curated", "doc_id"),
        ("decontaminated", "doc_id"),
        ("contamination-report", "bench_id"),
        ("dedup-rate", "lang"),
        ("mix-sample", "sample_rank"),
        ("mix-tokens", "cum_tokens"),
        ("shard-manifest", "shard_id"),
        ("export", "shard_id"),
        ("cluster-reps", "rep_doc_id"),
    ]:
        rc = main(["serve", view, root, "--n-buckets", "8", "--limit", "3"])
        assert rc == 0
        out = [
            _json.loads(line)
            for line in capsys.readouterr().out.strip().splitlines()
            if line.startswith("{")
        ]
        assert out and key in out[0], f"{view}: {out[:1]}"

    # a typo'd path must error without creating a bogus state dir
    import os

    bad = str(tmp_path / "corpsu")
    assert main(["serve", "curated", bad]) == 1
    assert not os.path.isdir(bad)
    capsys.readouterr()


def test_hourly_stats_pipeline_deploys_from_yaml(spark, tmp_path):
    """hourly_stats sinks deploy from YAML too (round 14): a passthrough
    pipeline over event CDC rows must leave the same hourly view as a
    direct sink write, and the scheduled maintenance sweep must reach
    the sink's compact() (dead markers reclaimed)."""
    from pyspark.sql import functions as F

    from cdc_platform_spark.config import load_pipeline_config
    from cdc_platform_spark.plans.compiler import compile_pipeline
    from cdc_platform_spark.streaming.hourly_index import BucketedHourlyStatsSink

    from .conftest import SF_SMOKE

    from cdc_platform_spark.operators.streaming_queries import _normalized_events

    e = (
        _normalized_events(spark, SF_SMOKE)
        .select(
            "event_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
            "value",
        )
        .limit(400)
    )
    wave0 = e.select(
        "event_id",
        F.col("event_id").alias("offset"),
        F.lit("c").alias("op"),
        "event_type",
        "t_us",
        "value",
    ).localCheckpoint(eager=True)
    # an update+delete wave so the group_events store does real retraction
    wave1 = (
        e.filter("event_id % 5 = 0")
        .select(
            "event_id",
            (F.col("event_id") + F.lit(10**9)).alias("offset"),
            F.when(F.col("event_id") % 10 == 0, "d").otherwise("u").alias("op"),
            "event_type",
            (F.col("t_us") + F.lit(3_600_000_000)).alias("t_us"),
            "value",
        )
        .localCheckpoint(eager=True)
    )
    wave0.unionByName(wave1).repartition(2).write.parquet(f"{tmp_path}/src")

    cfg_file = tmp_path / "p.yaml"
    cfg_file.write_text(
        f"""
pipeline_id: hourly-demo
source:
  path: {tmp_path}/src
  envelope: passthrough
  schema_ddl: "event_id long, offset long, op string, event_type string, t_us long, value double"
checkpoint_dir: {tmp_path}/ck
maintenance_every_n_batches: 1
sinks:
  - id: hourly
    type: hourly_stats
    path: {tmp_path}/hourly
    state_buckets: 8
"""
    )
    cfg = load_pipeline_config(str(cfg_file))
    pipe = compile_pipeline(spark, cfg)
    pipe.run_available_now()

    direct = BucketedHourlyStatsSink(str(tmp_path / "direct"), n_buckets=8)
    direct.write(wave0)
    direct.write(wave1)  # separate batch: updates retract -> dead markers
    got = sorted(map(tuple, pipe.sinks["hourly"].hourly_stats(spark).collect()))
    want = sorted(map(tuple, direct.hourly_stats(spark).collect()))
    assert got == want and got
    # maintenance_every_n_batches=1 swept compact() after the last batch
    assert pipe.sinks["hourly"].state_stats(spark)["group_events"]["tombstones"] == 0
    assert direct.state_stats(spark)["group_events"]["tombstones"] > 0
