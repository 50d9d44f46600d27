"""Tier-2 streaming tests: availableNow pipelines over fixture replays.

Replaces the reference's Docker-based integration tier (SURVEY.md §5)
with deterministic file-source streams, asserting the semantics the
reference guarantees:

- multi-sink fan-out with per-sink failure isolation (F1/P7)
- append + latest-per-key upsert materialization (K3/J1/W2) — final
  state must equal the batch oracle (Q27 batch≡stream equivalence)
- DLQ capture with diagnostic columns (streaming/dlq.py:41-56 shape)
- replay-from-checkpoint without duplicates (exactly-once, J4/SQ7)
- watermarked window aggregation batch≡stream equivalence (SQ2-SQ4)
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from cdc_platform_spark.operators import load_all
from cdc_platform_spark.streaming.pipeline import (
    AppendSink,
    BucketedAggregatingSink,
    BucketedUpsertSink,
    CdcPipeline,
    DlqWriter,
    latest_per_key_merge,
    to_envelope,
)
from cdc_platform_spark.streaming.windows import session_counts, tumbling_counts

from .conftest import SF_SMOKE

REGISTRY = load_all()


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path)


def _stage_source(spark, workdir: str, n_chunks: int = 4) -> str:
    """Copy the events fixture into n_chunks files so availableNow produces
    multiple micro-batches (per-file splits)."""
    src = f"{workdir}/source"
    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    events.repartition(n_chunks).write.mode("overwrite").parquet(src)
    return src


def _pipeline(spark, workdir, sinks, dlq=None, **kw):
    return CdcPipeline(
        spark=spark,
        source_dir=_stage_source(spark, workdir),
        checkpoint_dir=f"{workdir}/checkpoint",
        sinks=sinks,
        dlq=dlq,
        **kw,
    )


def test_append_and_upsert_match_batch_oracle(spark, workdir):
    append = AppendSink(f"{workdir}/append")
    upsert = BucketedUpsertSink(f"{workdir}/state", n_buckets=1)
    pipe = _pipeline(spark, workdir, {"append": append, "upsert": upsert}, max_files_per_trigger=1)
    pipe.run_available_now()

    # append table: one row per event, exactly-once view == batch Q26 row count
    appended = append.exactly_once_view(spark)
    n_events = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert appended.count() == n_events

    # upsert state == batch Q27 (latest per key, deletes removed)
    expected = (
        REGISTRY["q27_cdc_upsert_latest"].builder(spark, SF_SMOKE).toPandas().sort_values("pk").reset_index(drop=True)
    )
    got = (
        upsert.state(spark)
        .select(
            "pk",
            F.col("offset").alias("last_offset"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
        .toPandas()
        .sort_values("pk")
        .reset_index(drop=True)
    )
    assert got.equals(expected[got.columns]), "streamed upsert state != batch oracle"


def test_per_sink_failure_isolated_and_quarantined(spark, workdir):
    good = BucketedUpsertSink(f"{workdir}/state", n_buckets=1)
    poison = AppendSink(f"{workdir}/poison", fail_predicate="op = 'd'")
    dlq = DlqWriter(f"{workdir}/dlq")
    pipe = _pipeline(spark, workdir, {"good": good, "poison": poison}, dlq=dlq)
    pipe.run_available_now()

    # the healthy sink is unaffected by the failing one (ref F1 isolation)
    expected = REGISTRY["q27_cdc_upsert_latest"].builder(spark, SF_SMOKE)
    assert good.state(spark).count() == expected.count()

    # DLQ captured the failed batches with the reference's diagnostic columns
    q = dlq.read(spark)
    cols = set(q.columns)
    assert {
        "dlq_source_topic",
        "dlq_source_partition",
        "dlq_source_offset",
        "dlq_error_message",
        "dlq_error_type",
        "dlq_error_stacktrace",
        "dlq_timestamp",
        "dlq_sink_id",
        "payload",
    } <= cols
    assert q.filter(F.col("dlq_sink_id") == "poison").count() > 0
    assert q.select("dlq_error_type").distinct().collect()[0][0] == "RuntimeError"


def test_replay_from_checkpoint_no_duplicates(spark, workdir):
    """Re-running with the same checkpoint must be a no-op; re-running after a
    partial checkpoint wipe must not corrupt idempotent sinks (SQ7/J4)."""
    append = AppendSink(f"{workdir}/append")
    upsert = BucketedUpsertSink(f"{workdir}/state", n_buckets=1)
    pipe = _pipeline(spark, workdir, {"append": append, "upsert": upsert})
    pipe.run_available_now()
    n_events = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    state_before = upsert.state(spark).toPandas().sort_values("pk").reset_index(drop=True)

    # 1) same checkpoint -> no new data processed
    pipe.run_available_now()
    assert append.exactly_once_view(spark).count() == n_events

    # 2) simulated consumer restart from an OLD checkpoint (redelivery):
    #    wipe the checkpoint entirely -> everything is redelivered -> the
    #    exactly-once view and the idempotent upsert must be unchanged.
    shutil.rmtree(pipe.checkpoint_dir)
    pipe.run_available_now()
    raw_rows = spark.read.parquet(append.path).count()
    assert raw_rows == 2 * n_events, "redelivery should have appended duplicates"
    assert append.exactly_once_view(spark).count() == n_events, "dedup view must collapse replays"
    state_after = upsert.state(spark).toPandas().sort_values("pk").reset_index(drop=True)
    assert state_after.equals(state_before), "idempotent upsert must be replay-stable"


def test_streaming_windows_match_batch(spark, workdir):
    """SQ2/SQ4: watermarked streaming windows over availableNow == batch result."""
    src = _stage_source(spark, workdir)
    out: dict[str, list] = {}

    def sink_factory(name):
        def write(batch, batch_id):
            out.setdefault(name, []).append(batch.toPandas())

        return write

    stream = spark.readStream.schema(
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    ).parquet(src)
    env = to_envelope(stream)

    for name, agg in [("tumbling", tumbling_counts(env)), ("session", session_counts(env))]:
        q = (
            agg.writeStream.outputMode("complete" if name == "tumbling" else "complete")
            .foreachBatch(sink_factory(name))
            .option("checkpointLocation", f"{workdir}/ck-{name}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    import pandas as pd

    # batch equivalents over the same fixture
    batch_env = to_envelope(spark.read.parquet(src))
    tumb_batch = (
        batch_env.groupBy(F.window("event_ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp("w.start").cast("long").alias("window_start"), "event_type", "n")
        .toPandas()
    )
    tumb_stream = out["tumbling"][-1][["window_start", "event_type", "n"]]
    a = tumb_stream.sort_values(["window_start", "event_type"]).reset_index(drop=True)
    b = tumb_batch.sort_values(["window_start", "event_type"]).reset_index(drop=True)
    assert a.equals(b), "streaming tumbling window != batch"

    sess_stream = out["session"][-1]
    sess_batch = (
        batch_env.groupBy(F.session_window("event_ts", "30 minutes").alias("w"), "pk")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("pk", F.unix_micros("w.start").cast("long").alias("session_start_us"), "n_events")
        .toPandas()
    )
    a = sess_stream.sort_values(["pk", "session_start_us"]).reset_index(drop=True)
    b = sess_batch.sort_values(["pk", "session_start_us"]).reset_index(drop=True)
    assert a[["pk", "session_start_us", "n_events"]].equals(b[["pk", "session_start_us", "n_events"]])


def test_relational_append_sink_reference_schema(spark, workdir):
    from cdc_platform_spark.streaming.pipeline import RelationalAppendSink

    sink = RelationalAppendSink(f"{workdir}/pg")
    pipe = _pipeline(spark, workdir, {"pg": sink})
    pipe.run_available_now()
    view = sink.exactly_once_view(spark)
    # the reference's exact 5-column Postgres sink schema (FIXTURES.md §3a)
    assert view.columns == [
        "event_key",
        "event_value",
        "source_topic",
        "source_partition",
        "source_offset",
    ]
    n_events = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert view.count() == n_events
    row = view.orderBy("source_offset").first()
    import json as _json

    assert set(_json.loads(row["event_key"])) == {"id"}
    assert {"seq", "op", "event_type"} <= set(_json.loads(row["event_value"]))


def test_inline_compaction_during_stream(spark, workdir):
    from cdc_platform_spark.plans.compiler import LakehouseAppendSink

    # cadence and threshold are independent knobs: check every 2 batches,
    # rewrite whenever more than 2 file groups accumulated
    sink = LakehouseAppendSink(
        spark, f"{workdir}/lake", compact_every_n_batches=2, compact_max_files=2
    )
    pipe = _pipeline(spark, workdir, {"lake": sink}, max_files_per_trigger=1)
    pipe.run_available_now()  # 4 staged files -> 4 micro-batches, compaction after 2 and 4
    snaps = sink.table.snapshots()
    ops = [s["op"] for s in snaps]
    assert ops.count("append") == 4
    assert ops.count("rewrite") >= 1, f"inline compaction never ran: {ops}"
    n_events = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert sink.table.read().count() == n_events  # logical rows preserved through maintenance


def test_stream_stream_interval_join(spark, workdir):
    """Stream-stream inner join with watermarks + event-time range condition
    (purchases joined to clicks within the preceding hour) — final result
    equals the batch interval join over the same fixture."""
    src = _stage_source(spark, workdir)
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"

    def prepared(df, side):
        env = to_envelope(df)
        return (
            env.filter(F.col("event_type") == ("purchase" if side == "p" else "click"))
            .select(
                F.col("pk").alias(f"{side}_user"),
                F.col("offset").alias(f"{side}_id"),
                F.col("event_ts").alias(f"{side}_ts"),
            )
            .withWatermark(f"{side}_ts", "1 hour")
        )

    purchases = prepared(spark.readStream.schema(schema).parquet(src), "p")
    clicks = prepared(spark.readStream.schema(schema).parquet(src), "c")
    joined = purchases.join(
        clicks,
        F.expr("p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"),
        "inner",
    ).select("p_id", "c_id")
    out: list = []
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda b, i: out.append(b.toPandas()))
        .option("checkpointLocation", f"{workdir}/ck-ssj")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import pandas as pd

    got = pd.concat(out, ignore_index=True).sort_values(["p_id", "c_id"]).reset_index(drop=True)

    batch_env = to_envelope(spark.read.parquet(src))
    p = batch_env.filter("event_type = 'purchase'").select(
        F.col("pk").alias("p_user"), F.col("offset").alias("p_id"), F.col("event_ts").alias("p_ts")
    )
    c = batch_env.filter("event_type = 'click'").select(
        F.col("pk").alias("c_user"), F.col("offset").alias("c_id"), F.col("event_ts").alias("c_ts")
    )
    expected = (
        p.join(c, F.expr("p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"))
        .select("p_id", "c_id")
        .toPandas()
        .sort_values(["p_id", "c_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(expected) and got.equals(expected), (
        f"stream-stream join diverged: {len(got)} vs {len(expected)} rows"
    )


def test_topic_router_fan_out(spark, workdir):
    """Multi-table routing: per-row topics dispatch to per-topic sinks (P2)."""
    from cdc_platform_spark.streaming.pipeline import TopicRouterSink

    env = to_envelope(spark.read.parquet(f"{SF_SMOKE}/events.parquet")).withColumn(
        "topic", F.concat(F.lit("cdc.public."), F.col("event_type"))
    )
    click_sink = AppendSink(f"{workdir}/t_click")
    purchase_sink = AppendSink(f"{workdir}/t_purchase")
    other_sink = AppendSink(f"{workdir}/t_other")
    router = TopicRouterSink(
        {"cdc.public.click": click_sink, "cdc.public.purchase": purchase_sink},
        fallback=other_sink,
    )
    router.write(env)
    counts = {
        t: spark.read.parquet(f"{workdir}/t_{t}").count() for t in ["click", "purchase", "other"]
    }
    by_type = {
        r["event_type"]: r["count"]
        for r in env.groupBy("event_type").count().collect()
    }
    assert counts["click"] == by_type["click"]
    assert counts["purchase"] == by_type["purchase"]
    assert counts["other"] == sum(v for k, v in by_type.items() if k not in ("click", "purchase"))
    # routed rows carry their own topic in the metadata column
    t = spark.read.parquet(f"{workdir}/t_click").select("_cdc_topic").distinct().collect()
    assert [r[0] for r in t] == ["cdc.public.click"]

    import pytest as _pytest

    strict = TopicRouterSink({"cdc.public.click": click_sink})
    with _pytest.raises(KeyError):
        strict.write(env)


def test_bucketed_upsert_matches_batch_oracle(spark, workdir):
    """BucketedUpsertSink (the O(touched-buckets) scale form) must produce
    byte-identical state to the batch Q27 oracle through a
    multi-micro-batch streamed run."""
    sink = BucketedUpsertSink(f"{workdir}/state", n_buckets=8)
    pipe = _pipeline(spark, workdir, {"upsert": sink}, max_files_per_trigger=1)
    pipe.run_available_now()

    expected = (
        REGISTRY["q27_cdc_upsert_latest"]
        .builder(spark, SF_SMOKE)
        .toPandas()
        .sort_values("pk")
        .reset_index(drop=True)
    )
    got = (
        sink.state(spark)
        .select(
            "pk",
            F.col("offset").alias("last_offset"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
        .toPandas()
        .sort_values("pk")
        .reset_index(drop=True)
    )
    assert got.equals(expected[got.columns]), "bucketed upsert state != batch oracle"


def test_bucketed_upsert_rewrites_only_touched_buckets(spark, workdir):
    """The point of bucketing: a small batch must leave every bucket its
    keys don't hash into physically untouched (same files on disk)."""
    sink = BucketedUpsertSink(f"{workdir}/state", n_buckets=8)
    env = to_envelope(spark.read.parquet(f"{SF_SMOKE}/events.parquet"))
    sink.write(env)  # seed: every bucket populated

    def listing():
        return {
            b: sorted(os.listdir(f"{sink.path}/{b}"))
            for b in os.listdir(sink.path)
            if b.startswith("bucket=")
        }

    before = listing()
    # the smoke fixture's key set need not hit every bucket; several is enough
    assert len(before) >= 4, "seed write should populate multiple buckets"

    one_key = env.filter("pk = 1").limit(1)
    touched = one_key.select(
        F.pmod(F.hash("pk"), F.lit(8)).alias("b")
    ).collect()[0]["b"]
    sink.write(one_key)

    after = listing()
    assert after[f"bucket={touched}"] != before[f"bucket={touched}"]
    for b in before:
        if b != f"bucket={touched}":
            assert after[b] == before[b], f"{b} was rewritten by an unrelated batch"

    # and the merge is still correct: the latest-per-key algebra over
    # everything delivered, tombstones filtered
    ref = latest_per_key_merge(env.unionByName(one_key)).filter(F.col("op") != "d")
    assert sink.state(spark).count() == ref.count()


def test_bucketed_upsert_merge_plan_is_executor_side(spark, workdir):
    """The 100 TB contract of the collect-free merge: (a) the live-state
    scan carries a dynamic-partition-pruning subquery on bucket, so a
    micro-batch never reads untouched state; (b) the merge runs in ONE
    shuffle (the bucket window) — no extra exchange for the dedup."""
    sink = BucketedUpsertSink(f"{workdir}/state", n_buckets=8)
    env = to_envelope(spark.read.parquet(f"{SF_SMOKE}/events.parquet"))
    sink.write(env)  # seed state so _merged takes the join path

    merged = sink._merged(env.filter("pk = 1"))
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "state scan lost its DPP partition filter — every micro-batch "
        "would rescan the full state table"
    )
    # hash exchanges: the single bucket-keyed window shuffle of the union,
    # plus the tiny (<= n_buckets rows) bucket-distinct build side, which
    # the plan materializes twice (broadcast build + DPP subquery instance).
    # Anything beyond 3 means the dedup grew its own full-data exchange.
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(exchanges) <= 3, "unexpected extra shuffle:\n" + "\n".join(exchanges)
    assert all("bucket" in ln for ln in exchanges), (
        "a non-bucket-keyed exchange appeared (pk-keyed dedup shuffle?):\n" + "\n".join(exchanges)
    )


def test_bucketed_upsert_crash_recovery(spark, workdir):
    """Crash between the per-bucket renames leaves a displaced snapshot in
    .work; the next read/write must restore it."""
    sink = BucketedUpsertSink(f"{workdir}/state", n_buckets=4)
    env = to_envelope(spark.read.parquet(f"{SF_SMOKE}/events.parquet"))
    sink.write(env.filter("offset < 500"))
    n_before = sink.state(spark).count()

    # simulate the crash window for one bucket: live dir displaced into .work
    os.makedirs(sink._work, exist_ok=True)
    os.rename(f"{sink.path}/bucket=2", f"{sink._work}/bucket=2.old-deadbeef")
    assert sink.state(spark).count() == n_before  # read-side recovery

    os.rename(f"{sink.path}/bucket=2", f"{sink._work}/bucket=2.old-deadbee2")
    sink.write(env.filter("offset >= 500"))  # write-side recovery + merge
    expected = REGISTRY["q27_cdc_upsert_latest"].builder(spark, SF_SMOKE)
    assert sink.state(spark).count() == expected.count()


def test_tombstone_gc_horizon_prevents_resurrection(spark, workdir):
    """compact(tombstone_horizon=H) drops op='d' rows older than the
    replay watermark H; a replayed batch whose offsets are BELOW H must
    not resurrect the GC'd key (the merge path drops sub-horizon rows),
    while data at/above H still applies."""
    schema = "pk long, offset long, op string, event_type string, value double"
    sink = BucketedUpsertSink(f"{workdir}/state", n_buckets=4)
    inserts = spark.createDataFrame(
        [(1, 10, "c", "t", 1.0), (2, 11, "c", "t", 2.0)], schema
    )
    sink.write(inserts)
    sink.write(spark.createDataFrame([(1, 20, "d", None, None)], schema))

    raw = lambda: spark.read.parquet(sink.path)  # noqa: E731
    assert raw().filter("op = 'd'").count() == 1, "tombstone must be retained"
    assert sorted(r["pk"] for r in sink.state(spark).collect()) == [2]

    sink.compact(spark, tombstone_horizon=50)
    assert raw().filter("op = 'd'").count() == 0, "old tombstone must be GC'd"
    assert sorted(r["pk"] for r in sink.state(spark).collect()) == [2]

    # at-least-once redelivery of the ORIGINAL insert (offset 10 < 50):
    # without the horizon fence this would resurrect pk=1
    sink.write(inserts)
    assert sorted(r["pk"] for r in sink.state(spark).collect()) == [2]

    # genuinely new data at/above the horizon still applies
    sink.write(spark.createDataFrame([(1, 60, "c", "t", 3.0)], schema))
    assert sorted(r["pk"] for r in sink.state(spark).collect()) == [1, 2]

    # the horizon never regresses: a lower re-request keeps the fence
    sink.compact(spark, tombstone_horizon=5)
    assert sink.gc_horizon() == 50


def test_scheduled_maintenance_sweeps_on_cadence_and_gc_post_stream(spark, workdir):
    """maintenance_every_n_batches fires the sweep on its cadence inline
    with the stream (reclaim-only while events below the horizon can
    still arrive — the fn returns None, honoring the contract), and a
    post-stream sweep with the source's retention horizon GCs the
    tombstones without disturbing the served state."""
    calls = []

    def horizon_fn():
        calls.append(1)
        return None  # mid-stream: low offsets can still arrive in-order

    sink = BucketedUpsertSink(f"{workdir}/state", n_buckets=8)
    pipe = _pipeline(
        spark,
        workdir,
        {"upsert": sink},
        max_files_per_trigger=1,
        maintenance_every_n_batches=2,
        tombstone_horizon_fn=horizon_fn,
    )
    pipe.run_available_now()
    assert len(calls) == 2  # 4 single-file batches, cadence 2
    assert spark.read.parquet(sink.path).filter("op = 'd'").count() > 0

    expected = REGISTRY["q27_cdc_upsert_latest"].builder(spark, SF_SMOKE)
    assert sink.state(spark).count() == expected.count()

    # the source's retention watermark has passed: one more sweep GCs all
    pipe.tombstone_horizon_fn = lambda: 10**12
    pipe.run_maintenance()
    assert spark.read.parquet(sink.path).filter("op = 'd'").count() == 0
    assert sink.state(spark).count() == expected.count()
    assert sink.gc_horizon() == 10**12


def test_suggest_tombstone_horizon_is_min_watermark(spark, workdir):
    """The derived GC horizon equals min-over-partitions(max applied
    offset)+1 (the A1 commit math), and abstains while any partition has
    flushed nothing."""
    from cdc_platform_spark.streaming.pipeline import suggest_tombstone_horizon

    env = to_envelope(spark.read.parquet(f"{SF_SMOKE}/events.parquet")).localCheckpoint(
        eager=True
    )
    maxima = {
        r["partition"]: r["mx"]
        for r in env.groupBy("partition").agg(F.max("offset").alias("mx")).collect()
    }
    assert len(maxima) >= 2
    expected = min(maxima.values()) + 1
    assert suggest_tombstone_horizon(env) == expected
    assert suggest_tombstone_horizon(env, n_partitions=len(maxima)) == expected
    # a partition that has applied nothing blocks the suggestion
    assert suggest_tombstone_horizon(env, n_partitions=len(maxima) + 1) is None
    # the suggested horizon is safe to feed straight into the GC sweep
    sink = BucketedUpsertSink(f"{workdir}/state", n_buckets=4)
    sink.write(env)
    n_live = sink.state(spark).count()
    sink.compact(spark, tombstone_horizon=suggest_tombstone_horizon(env))
    assert sink.state(spark).count() == n_live


def test_maintenance_horizon_clamped_by_pending_dlq(spark, workdir):
    """A GC fence must never swallow the replay of quarantined rows: the
    maintenance sweep clamps the supplied horizon to the oldest offset
    still in the DLQ, so the eventual replay applies."""
    sink = BucketedUpsertSink(f"{workdir}/state", n_buckets=4)
    dlq = DlqWriter(f"{workdir}/dlq")

    env = to_envelope(spark.read.parquet(f"{SF_SMOKE}/events.parquet")).localCheckpoint(
        eager=True
    )
    lo = env.filter("offset < 100")
    sink.write(env.filter("offset >= 100"))
    dlq.write(lo, "upsert", RuntimeError("sink was down"))

    pipe = CdcPipeline(
        spark=spark,
        source_dir=f"{workdir}/unused_src",
        checkpoint_dir=f"{workdir}/ck",
        sinks={"upsert": sink},
        dlq=dlq,
        tombstone_horizon_fn=lambda: 10**12,
    )
    pipe.run_maintenance()
    # clamped to the DLQ's oldest offset, not the fn's wide-open horizon
    dlq_min = lo.agg(F.min("offset")).first()[0]
    assert sink.gc_horizon() == dlq_min

    # the quarantined rows replay and apply despite the fence
    n = dlq.replay(spark, sink, purge=True)
    assert n > 0
    ref = latest_per_key_merge(env).filter(F.col("op") != "d")
    assert sorted(r["pk"] for r in sink.state(spark).collect()) == sorted(
        r["pk"] for r in ref.collect()
    )


def test_suggest_horizon_abstains_on_null_offsets(spark):
    """A partition whose max applied offset is NULL (decode-poisoned rows
    that reached the applied table with no offset) makes the suggestion
    abstain — never raise — mirroring the documented null-safety posture."""
    from cdc_platform_spark.streaming.pipeline import suggest_tombstone_horizon

    applied = spark.createDataFrame(
        [(0, 10), (0, None), (1, None)], "partition int, offset long"
    )
    assert suggest_tombstone_horizon(applied) is None
    # a partition with SOME null offsets still contributes its max
    ok = spark.createDataFrame(
        [(0, 10), (0, None), (1, 7)], "partition int, offset long"
    )
    assert suggest_tombstone_horizon(ok) == 8


def test_suggest_horizon_abstains_while_checkpoint_has_inflight_batch(spark, workdir):
    """The crash-mid-batch window: the append table can be AHEAD of the
    stream checkpoint (sink write committed, checkpoint commit not).  A
    horizon derived then would count the pending batch as applied, and the
    keyed sinks' offset>=horizon fence would drop its replay.  offsets/N
    without commits/N is exactly that state — the suggestion must abstain
    until the stream restarts and drains."""
    from cdc_platform_spark.streaming.pipeline import (
        checkpoint_has_pending_batch,
        suggest_tombstone_horizon,
    )

    applied = spark.createDataFrame([(0, 10), (1, 7)], "partition int, offset long")
    ck = f"{workdir}/ck"
    os.makedirs(f"{ck}/offsets")
    os.makedirs(f"{ck}/commits")
    for b in (0, 1):
        open(f"{ck}/offsets/{b}", "w").close()
    open(f"{ck}/commits/0", "w").close()
    assert checkpoint_has_pending_batch(ck)
    assert suggest_tombstone_horizon(applied, checkpoint_dir=ck) is None
    # the batch commits -> the window closes -> the suggestion resumes
    open(f"{ck}/commits/1", "w").close()
    assert not checkpoint_has_pending_batch(ck)
    assert suggest_tombstone_horizon(applied, checkpoint_dir=ck) == 8
    # a checkpoint that does not exist yet is not an in-flight batch
    assert suggest_tombstone_horizon(applied, checkpoint_dir=f"{workdir}/absent") == 8


def test_maintenance_clamp_skips_replayed_rows(spark, workdir):
    """GC liveness: a quarantined row replayed WITHOUT purge stays in the
    DLQ table for audit, but must stop pinning the tombstone horizon —
    otherwise one serviced quarantine row stalls GC forever."""
    sink = BucketedUpsertSink(f"{workdir}/state", n_buckets=4)
    dlq = DlqWriter(f"{workdir}/dlq")
    env = to_envelope(spark.read.parquet(f"{SF_SMOKE}/events.parquet")).localCheckpoint(
        eager=True
    )
    lo = env.filter("offset < 100")
    sink.write(env.filter("offset >= 100"))
    dlq.write(lo, "upsert", RuntimeError("sink was down"))

    pipe = CdcPipeline(
        spark=spark,
        source_dir=f"{workdir}/unused_src",
        checkpoint_dir=f"{workdir}/ck",
        sinks={"upsert": sink},
        dlq=dlq,
        tombstone_horizon_fn=lambda: 10**12,
    )
    pipe.run_maintenance()
    dlq_min = lo.agg(F.min("offset")).first()[0]
    assert sink.gc_horizon() == dlq_min  # un-replayed rows clamp

    # replay WITHOUT purge: rows stay quarantined but are applied now
    assert dlq.replay(spark, sink) > 0
    assert dlq.read(spark).count() > 0  # audit trail intact
    assert dlq.unreplayed(spark).count() == 0
    pipe.run_maintenance()
    assert sink.gc_horizon() == 10**12  # clamp released, GC progresses


def test_dlq_replay_converges(spark, workdir):
    """Failure -> quarantine -> replay: a sink that rejected delete events gets
    them replayed after the 'fix'; the exactly-once view then equals a run
    that never failed."""
    poison = AppendSink(f"{workdir}/sink", fail_predicate="op = 'd'")
    dlq = DlqWriter(f"{workdir}/dlq")
    pipe = _pipeline(spark, workdir, {"sink": poison}, dlq=dlq, max_files_per_trigger=1)
    pipe.run_available_now()

    n_events = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    # every micro-batch that contained a delete was rejected whole; with
    # deletes spread across the stream that can be all of them (dir absent)
    n_delivered = (
        poison.exactly_once_view(spark).count() if os.path.isdir(poison.path) else 0
    )
    assert n_delivered < n_events  # batches containing deletes were rejected

    poison.fail_predicate = None  # the sink is "fixed"
    replayed = dlq.replay(spark, poison, sink_id="sink")
    assert replayed == n_events - n_delivered
    assert poison.exactly_once_view(spark).count() == n_events, "replay must converge to full delivery"


def test_stream_dedup_within_watermark(spark, workdir):
    """Native streaming dedup (J4's dropDuplicatesWithinWatermark form):
    a replayed suffix of the stream (duplicate (partition, offset) rows,
    the reference's at-least-once redelivery) is eliminated inside the
    stateful dedup operator itself — no idempotent sink required."""
    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    env = to_envelope(events)
    src = f"{workdir}/dedup_src"
    env.write.mode("overwrite").parquet(src)
    # redeliver the tail: 200 duplicate coordinates appended as a late file
    env.orderBy(F.col("seq").desc()).limit(200).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
        # delay far beyond the fixture's time span: nothing is ever late,
        # so the dedup is exact (the bounded-state tradeoff is the point
        # of the operator; exactness here pins the semantics)
        .withWatermark("event_ts", "3650 days")
        .dropDuplicatesWithinWatermark(["partition", "offset"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_within_wm")
        .outputMode("append")
        .option("checkpointLocation", f"{workdir}/dedup_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table("dedup_within_wm").count() == env.count()
    assert (
        spark.table("dedup_within_wm").groupBy("partition", "offset").count().filter("count > 1").count()
        == 0
    )


def test_kafka_shaped_stream_end_to_end(spark, workdir):
    """S1 E2E without a broker: Debezium-shaped raw Kafka records (binary
    key/value JSON, topic/partition/offset) staged as files, streamed through
    CdcPipeline with the kafka decode chain (kafka_envelope_flat) — final
    upsert state must equal the batch Q27 oracle. This exercises the exact
    record schema and decode path a live Kafka deployment uses; only the
    transport (file vs broker) differs."""
    from pyspark.sql import Window

    from cdc_platform_spark.sources.kafka import kafka_envelope_flat

    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("event_id")
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    row = lambda val: F.struct(  # noqa: E731
        F.col("user_id").alias("id"), F.col("event_type"), val.alias("value")
    )
    staged = e.withColumn("prev_value", F.lag("value").over(w)).withColumn("op", op)
    records = staged.select(
        F.lit("cdc.public.users").alias("topic"),
        F.pmod(F.col("user_id"), F.lit(8)).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.encode(F.to_json(F.struct(F.col("user_id").alias("id"))), "UTF-8").alias("key"),
        F.encode(
            F.to_json(
                F.struct(
                    F.col("op"),
                    F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
                    F.when(F.col("op") != "c", row(F.col("prev_value"))).alias("before"),
                    F.when(F.col("op") != "d", row(F.col("value"))).alias("after"),
                    F.struct(
                        F.lit("postgresql").alias("connector"),
                        F.lit("public").alias("schema"),
                        F.lit("users").alias("table"),
                        F.col("event_id").alias("lsn"),
                    ).alias("source"),
                )
            ),
            "UTF-8",
        ).alias("value"),
    )
    src = f"{workdir}/kafka_records"
    records.repartition(3).write.mode("overwrite").parquet(src)

    schema = "topic string, partition int, offset long, key binary, value binary"
    pipe = CdcPipeline(
        spark=spark,
        source_dir=src,
        checkpoint_dir=f"{workdir}/kafka_ckpt",
        sinks={"state": BucketedUpsertSink(f"{workdir}/kafka_state", n_buckets=1)},
        schema=schema,
        max_files_per_trigger=1,
        envelope_fn=kafka_envelope_flat,
    )
    pipe.run_available_now()

    import pandas as pd

    expected = (
        REGISTRY["q27_cdc_upsert_latest"].builder(spark, SF_SMOKE)
        .toPandas().sort_values("pk").reset_index(drop=True)
    )
    got = (
        pipe.sinks["state"].state(spark)
        .select(
            "pk",
            F.col("offset").alias("last_offset"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
        .toPandas().sort_values("pk").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, expected[got.columns.tolist()])


def test_dlq_replay_distinct_topics_same_coordinates(spark, workdir):
    """Regression: replay dedup'd on (partition, offset) only; with
    TopicRouterSink multi-topic streams two topics can legitimately share
    coordinates and one event was silently dropped from the replay."""
    env = to_envelope(spark.read.parquet(f"{SF_SMOKE}/events.parquet")).limit(1)
    batch = env.withColumn("topic", F.lit("cdc.public.a")).unionByName(
        env.withColumn("topic", F.lit("cdc.public.b"))
    )
    dlq = DlqWriter(f"{workdir}/dlq2")
    dlq.write(batch, "s", RuntimeError("boom"))
    sink = AppendSink(f"{workdir}/sink2")
    assert dlq.replay(spark, sink, sink_id="s") == 2


def test_pipeline_streams_confluent_avro_values(spark, workdir):
    """Full Avro stream path inside the real pipeline: Confluent-framed
    Debezium Avro frames stream through kafka_envelope_avro into the
    append + upsert sinks with checkpointing, one poison frame included
    (permissive decode keeps it as a decode_error row, healthy rows
    unaffected)."""
    from cdc_platform_spark.sources.avro import (
        AVRO_ENVELOPE_SCHEMA,
        AVRO_KEY_SCHEMA,
        confluent_frame,
        encode_value,
    )
    from cdc_platform_spark.sources.kafka import kafka_envelope_avro

    def frame(i, op, val):
        img = {"id": i % 10, "event_type": "purchase", "value": val}
        return (
            "cdc.public.users",
            i % 4,
            i,
            bytearray(confluent_frame(encode_value(AVRO_KEY_SCHEMA, {"id": i % 10}))),
            bytearray(
                confluent_frame(
                    encode_value(
                        AVRO_ENVELOPE_SCHEMA,
                        {
                            "op": op,
                            "ts_ms": 1700000000000 + i,
                            "before": None if op == "c" else img,
                            "after": None if op == "d" else img,
                            "source": {
                                "version": "2.5", "connector": "postgresql", "name": "cdc",
                                "ts_ms": 1700000000000 + i, "snapshot": "false", "db": "app",
                                "schema": "public", "table": "users", "txId": i, "lsn": i,
                            },
                        },
                    )
                )
            ),
        )

    frames = [frame(i, "c" if i < 10 else "u", float(i)) for i in range(40)]
    frames.append(("cdc.public.users", 0, 40, bytearray(b"\x00AAAA"), bytearray(b"\x00AAA\x01junk")))
    schema = "topic string, partition int, offset long, key binary, value binary"
    src = f"{workdir}/avro_src"
    spark.createDataFrame(frames, schema).write.mode("overwrite").parquet(src)

    sink = AppendSink(f"{workdir}/avro_append")
    pipe = CdcPipeline(
        spark=spark,
        source_dir=src,
        checkpoint_dir=f"{workdir}/avro_ckpt",
        sinks={"append": sink},
        schema=schema,
        stream_builder=lambda sp: sp.readStream.schema(schema).parquet(src),
        envelope_fn=lambda batch: kafka_envelope_avro(batch, permissive=True),
    )
    pipe.run_available_now()

    out = sink.exactly_once_view(spark)
    assert out.count() == 41  # 40 decoded + 1 poison row carried with coordinates
    ok = out.filter("pk IS NOT NULL")
    assert ok.count() == 40
    assert ok.filter("op = 'c'").count() == 10
    poison = out.filter("pk IS NULL").collect()
    assert len(poison) == 1 and poison[0]["_cdc_offset"] == 40


def test_streaming_curation_funnel_matches_batch(spark, workdir):
    """The training-data curation funnel runs as a STREAM: quality filter +
    stateful content-hash dedup (dropDuplicates state) + per-language token
    accounting, fed one file per micro-batch. Because exact duplicates have
    identical token counts, the final aggregate must equal the batch
    curation pipeline regardless of which copy the stream's state keeps."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    src = f"{workdir}/docs_src"
    docs.repartition(4).write.mode("overwrite").parquet(src)

    words = F.split(F.col("text"), " ")
    subtok = F.aggregate(
        F.transform(words, lambda w: F.ceil(F.length(w) / 4.0).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )

    def funnel(df):
        scored = df.select(
            "doc_id",
            "lang",
            F.md5("text").alias("content_md5"),
            F.size(words).alias("n_words"),
            (F.size(F.array_distinct(words)).cast("double") / F.size(words)).alias(
                "distinct_ratio"
            ),
            subtok.alias("subword_tokens"),
        )
        return scored.filter(
            (F.col("n_words") >= 20)
            & (F.col("distinct_ratio") >= 0.15)
            & F.col("lang").isin("en", "de", "fr")
        )

    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    agg = (
        funnel(stream)
        .dropDuplicates(["content_md5"])  # stateful exact-dedup across micro-batches
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum("subword_tokens").cast("long").alias("total_tokens"),
        )
    )
    out: list = []
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(lambda b, _id: out.append(b.toPandas()))
        .option("checkpointLocation", f"{workdir}/cur_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from cdc_platform_spark.operators import load_all

    batch = (
        load_all()["text_curation_pipeline"].builder(spark, SF_SMOKE).toPandas()
    )
    got = out[-1].sort_values("lang").reset_index(drop=True)[
        ["lang", "n_docs", "total_words", "total_tokens"]
    ]
    want = batch.sort_values("lang").reset_index(drop=True)[
        ["lang", "n_docs", "total_words", "total_tokens"]
    ]
    assert got.astype("int64", errors="ignore").equals(want.astype("int64", errors="ignore")), (
        got,
        want,
    )


def _agg_oracle(env):
    """The one-shot batch aggregate the incremental view must equal: a
    plain decimal groupBy over every delivered event."""
    return env.groupBy("pk").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
        F.max("offset").alias("last_offset"),
    )


def test_aggregating_sink_batch_id_fencing(spark, tmp_path):
    """A redelivered micro-batch (same batch id) must not double-count:
    the applied id is committed atomically with the state."""
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(100)
    env = to_envelope(events)
    sink = BucketedAggregatingSink(str(tmp_path / "agg"), n_buckets=1)
    sink.write(env, batch_id=0)
    once = {r.pk: (r.n_events, r.value_sum) for r in sink.state(spark).collect()}
    sink.write(env, batch_id=0)  # replayed delivery of the same batch
    sink.write(env, batch_id=0)
    assert {r.pk: (r.n_events, r.value_sum) for r in sink.state(spark).collect()} == once
    sink.write(env, batch_id=1)  # a genuinely new batch merges
    twice = {r.pk: (r.n_events, r.value_sum) for r in sink.state(spark).collect()}
    assert all(twice[pk][0] == 2 * n for pk, (n, _) in once.items())


def test_aggregating_sink_merge_is_batch_split_independent(spark, tmp_path):
    """Folding the stream in as 1 batch or 4 batches reaches the one-shot
    batch aggregate (decimal sums, mergeable aggregates)."""
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    env = to_envelope(events)
    expected = sorted(map(tuple, _agg_oracle(env).collect()))
    whole = BucketedAggregatingSink(str(tmp_path / "whole"), n_buckets=1)
    whole.write(env, batch_id=0)
    split = BucketedAggregatingSink(str(tmp_path / "split"), n_buckets=1)
    for k in range(4):
        split.write(env.filter(F.pmod(F.col("seq"), F.lit(4)) == k), batch_id=k)
    assert sorted(map(tuple, whole.state(spark).collect())) == expected
    assert sorted(map(tuple, split.state(spark).collect())) == expected


def test_aggregating_sink_recovers_displaced_state(spark, tmp_path):
    """Crash between a bucket's two renames leaves its snapshot displaced
    into the .work dir; the next state call must restore it, and the
    replayed batch (its id in the restored bucket's meta) is a no-op."""
    import os

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(100)
    env = to_envelope(events)
    sink = BucketedAggregatingSink(str(tmp_path / "agg"), n_buckets=1)
    sink.write(env, batch_id=0)
    expected = sorted(map(tuple, sink.state(spark).collect()))
    # simulate the crash window: live bucket displaced, new one never landed
    os.makedirs(sink._work, exist_ok=True)
    os.rename(sink._bucket_dir(0), f"{sink._work}/bucket=0.old-deadbeef")
    assert sorted(map(tuple, sink.state(spark).collect())) == expected
    sink.write(env, batch_id=0)  # replay of the already-applied batch: no-op
    assert sorted(map(tuple, sink.state(spark).collect())) == expected


def test_dlq_writer_recovers_displaced_quarantine(spark, tmp_path):
    """replay(purge=True) commits via the two-rename swap; a crash between
    the renames leaves only a .old-* copy.  The next read()/write() must
    restore it instead of failing (read) or silently starting a fresh
    quarantine that orphans the pre-crash rows (write)."""
    import os

    from cdc_platform_spark.streaming.pipeline import DlqWriter, to_envelope

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(50)
    env = to_envelope(events)
    dlq = DlqWriter(str(tmp_path / "dlq"))
    dlq.write(env, "sink-a", RuntimeError("boom"))
    expected = dlq.read(spark).count()
    # simulate the crash window: live dir displaced, new dir never landed
    os.rename(str(tmp_path / "dlq"), str(tmp_path / "dlq.old-deadbeef"))
    assert dlq.read(spark).count() == expected
    # write() after the crash must land in the restored table, not a fresh one
    os.rename(str(tmp_path / "dlq"), str(tmp_path / "dlq.old-deadbee2"))
    dlq.write(env.limit(10), "sink-b", RuntimeError("boom2"))
    assert dlq.read(spark).count() == expected + 10


def test_exactly_once_view_keeps_distinct_topics_same_coordinates(spark, tmp_path):
    """AppendSink's exactly-once read deduplicates on all THREE source
    coordinates: two topics legitimately sharing (partition, offset) in a
    multi-topic stream must both survive."""
    from cdc_platform_spark.streaming.pipeline import AppendSink

    rows = spark.createDataFrame(
        [
            (1, "cdc.public.a", 0, 7, "c", 10, "signup", 1.0, "{}",),
            (2, "cdc.public.b", 0, 7, "c", 20, "signup", 2.0, "{}",),
        ],
        "seq long, topic string, partition long, offset long, op string, "
        "pk long, event_type string, value double, props string",
    ).withColumn("event_ts", F.current_timestamp())
    sink = AppendSink(str(tmp_path / "multi"))
    sink.write(rows)
    sink.write(rows)  # redelivery: dedup must collapse copies, not topics
    view = sink.exactly_once_view(spark)
    assert view.count() == 2
    assert {r._cdc_topic for r in view.collect()} == {"cdc.public.a", "cdc.public.b"}


def test_topic_router_forwards_batch_id_to_fenced_sinks(spark, tmp_path):
    """Routing through TopicRouterSink must not disable an aggregate sink's
    redelivery fence: the router forwards the micro-batch id."""
    from cdc_platform_spark.streaming.pipeline import TopicRouterSink

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(50)
    env = to_envelope(events)
    agg = BucketedAggregatingSink(str(tmp_path / "agg"), n_buckets=1)
    router = TopicRouterSink({}, fallback=agg)
    assert getattr(router, "wants_batch_id", False)
    router.write(env, batch_id=0)
    once = {r.pk: r.n_events for r in agg.state(spark).collect()}
    router.write(env, batch_id=0)  # redelivered micro-batch
    assert {r.pk: r.n_events for r in agg.state(spark).collect()} == once


def test_dlq_replay_purge_makes_repeat_a_noop(spark, tmp_path):
    """purge=True removes the replayed rows, so an operational retry of
    the replay cannot double-apply into a non-idempotent sink."""
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(40)
    env = to_envelope(events)
    dlq = DlqWriter(str(tmp_path / "dlq"))
    dlq.write(env, "agg", RuntimeError("sink down"))
    dlq.write(env.limit(10), "other", RuntimeError("unrelated"))
    agg = BucketedAggregatingSink(str(tmp_path / "view"), n_buckets=1)
    n = dlq.replay(spark, agg, sink_id="agg", purge=True)
    assert n == 40
    once = {r.pk: (r.n_events, r.value_sum) for r in agg.state(spark).collect()}
    assert dlq.replay(spark, agg, sink_id="agg", purge=True) == 0  # purged
    assert {r.pk: (r.n_events, r.value_sum) for r in agg.state(spark).collect()} == once
    # the other sink's quarantine rows survived the partial purge
    assert dlq.read(spark).count() == 10


def test_recover_sweeps_stale_tmp_dirs(spark, tmp_path):
    """Crash-orphaned .tmp-* state copies are swept on recovery instead of
    accumulating one full state copy per crash."""
    import os

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(30)
    sink = BucketedUpsertSink(str(tmp_path / "state"), n_buckets=1)
    sink.write(to_envelope(events))
    stale = str(tmp_path / "state.tmp-deadbeef")
    os.makedirs(stale)
    sink.write(to_envelope(events))  # next write recovers + sweeps
    assert not os.path.isdir(stale)


def test_json_poison_frame_cannot_erase_upsert_state(spark, tmp_path):
    """A malformed JSON value at the highest offset previously produced a
    silent null-op row that won the latest-per-key merge and then fell out
    of the served view (op <> 'd' is NULL) — erasing the key. The JSON
    parser now marks it decode_error, and the merge excludes null-op rows."""
    from cdc_platform_spark.sources.debezium import parse_debezium, to_flat_envelope

    frames = spark.createDataFrame(
        [
            ("t", 0, 1, '{"id": 7}', '{"op":"c","ts_ms":1,"after":{"id":7,"event_type":"e","value":1.0}}'),
            ("t", 0, 99, '{"id": 7}', '{"op":"u","ts_ms":2,"after":{"id"'),  # truncated
        ],
        "topic string, partition int, offset long, key_json string, value_json string",
    )
    env = to_flat_envelope(parse_debezium(frames))
    rows = {r.offset: r for r in env.collect()}
    assert rows[99].decode_error == "decode failed" and rows[1].decode_error is None
    sink = BucketedUpsertSink(str(tmp_path / "state"), n_buckets=1)
    sink.write(env.drop("decode_error"))
    state = {r.pk: r.offset for r in sink.state(spark).collect()}
    assert state == {7: 1}  # the valid row survives; the poison one never merged


def test_pipeline_routes_decode_poison_rows_to_dlq(spark, tmp_path):
    """Row-level P7: rows the decoder marked undecodable go to the DLQ as
    rows, and sinks only see healthy rows."""
    from cdc_platform_spark.streaming.pipeline import AppendSink, CdcPipeline, DlqWriter

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(50)
    src = str(tmp_path / "src")
    events.coalesce(1).write.parquet(src)

    def envelope_with_poison(df):
        from cdc_platform_spark.streaming.pipeline import to_envelope

        env = to_envelope(df)
        return env.withColumn(
            "decode_error",
            F.when(F.pmod(F.col("seq"), F.lit(10)) == 0, F.lit("decode failed")),
        )

    sink = AppendSink(str(tmp_path / "append"))
    dlq = DlqWriter(str(tmp_path / "dlq"))
    CdcPipeline(
        spark=spark,
        source_dir=src,
        checkpoint_dir=str(tmp_path / "ck"),
        sinks={"append": sink},
        dlq=dlq,
        envelope_fn=envelope_with_poison,
    ).run_available_now()
    n_poison = dlq.read(spark).count()
    n_clean = sink.exactly_once_view(spark).count()
    assert n_poison == 5 and n_clean == 45
    assert dlq.read(spark).select("dlq_sink_id").distinct().collect()[0][0] == "decode"


def test_stateful_running_stats_skip_null_values(spark):
    """A null value row must be skipped like a SQL aggregate, not crash the
    query with IntCastingNaNError."""
    import pandas as pd

    from cdc_platform_spark.streaming.stateful import _update_user_state

    class FakeState:
        exists = False

        def update(self, v):
            self.value = v

    pdf = pd.DataFrame(
        {"value": [1.25, None, 2.75], "offset": [1, 2, 3], "event_type": ["a", "b", "c"]}
    )
    out = list(_update_user_state((7,), iter([pdf]), FakeState()))
    assert out[0]["n_events"][0] == 3
    assert out[0]["running_value"][0] == 4.0  # nulls skipped, not NaN


def test_normalized_events_handles_nanos_fixture(spark, tmp_path):
    """A nanos-as-long fixture (round-1 shape) must stage as TIMESTAMP_NTZ
    so the pinned EVENTS_SCHEMA readStream does not type-mismatch."""
    from cdc_platform_spark.operators.streaming_queries import _normalized_events

    df = spark.createDataFrame(
        [(1, 1700000000123456789, 5, "click", 1.0, "{}")],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = _normalized_events(spark, str(tmp_path))
    assert dict(out.dtypes)["ts"] == "timestamp_ntz"


def test_get_spark_reasserts_semantic_configs(spark):
    """getOrCreate ignores builder configs on a pre-existing session; the
    factory must re-assert the configs that change result semantics."""
    from cdc_platform_spark.session import get_spark

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    s = get_spark()
    assert s.conf.get("spark.sql.session.timeZone") == "UTC"


def test_bucketed_agg_matches_flat_agg_under_any_batching(spark, tmp_path):
    """BucketedAggregatingSink must produce the identical aggregate view to
    the flat one-shot groupBy over the whole log for any micro-batch
    split."""
    env = to_envelope(
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    ).localCheckpoint(eager=True)
    expected = sorted(map(tuple, _agg_oracle(env).collect()))

    bucketed = BucketedAggregatingSink(str(tmp_path / "bkt"), n_buckets=8)
    for k in range(3):
        bucketed.write(env.filter(F.pmod(F.col("seq"), F.lit(3)) == k), batch_id=k)
    assert sorted(map(tuple, bucketed.state(spark).collect())) == expected


def test_bucketed_agg_per_bucket_fence_heals_partial_commit(spark, tmp_path):
    """A crash midway through the rename loop leaves SOME buckets with the
    batch applied: the replay must fold the batch into exactly the buckets
    that missed it — no double counts, no gaps."""
    import os
    import shutil as sh

    env = to_envelope(
        spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(200)
    ).localCheckpoint(eager=True)
    first = env.filter("seq % 2 = 0")
    second = env.filter("seq % 2 = 1")

    sink = BucketedAggregatingSink(str(tmp_path / "s"), n_buckets=8)
    sink.write(first, batch_id=0)
    # simulate the partial-crash window for batch 1: roll HALF the touched
    # buckets back to their batch-0 state (as if their renames never ran)
    backup = str(tmp_path / "backup")
    sh.copytree(sink.path, backup)
    sink.write(second, batch_id=1)
    buckets = sorted(n for n in os.listdir(sink.path) if n.startswith("bucket="))
    rolled_back = buckets[: len(buckets) // 2]
    for b in rolled_back:
        if os.path.isdir(f"{backup}/{b}"):
            sh.rmtree(f"{sink.path}/{b}")
            sh.copytree(f"{backup}/{b}", f"{sink.path}/{b}")
        else:
            sh.rmtree(f"{sink.path}/{b}")  # bucket did not exist before batch 1
    # foreachBatch replays batch 1 at-least-once: only the rolled-back
    # buckets may apply it again
    sink.write(second, batch_id=1)

    ref = BucketedAggregatingSink(str(tmp_path / "ref"), n_buckets=8)
    ref.write(first, batch_id=0)
    ref.write(second, batch_id=1)
    assert sorted(map(tuple, sink.state(spark).collect())) == sorted(
        map(tuple, ref.state(spark).collect())
    )


def test_bucketed_agg_rewrites_only_touched_buckets(spark, tmp_path):
    """A small batch must leave unrelated buckets physically untouched."""
    import os

    env = to_envelope(spark.read.parquet(f"{SF_SMOKE}/events.parquet"))
    sink = BucketedAggregatingSink(str(tmp_path / "s"), n_buckets=8)
    sink.write(env, batch_id=0)

    def listing():
        return {
            b: sorted(os.listdir(f"{sink.path}/{b}"))
            for b in os.listdir(sink.path)
            if b.startswith("bucket=")
        }

    before = listing()
    assert len(before) >= 4
    one_key = env.filter("pk = 1").limit(1)
    touched = one_key.select(F.pmod(F.hash("pk"), F.lit(8)).alias("b")).collect()[0]["b"]
    sink.write(one_key, batch_id=1)
    after = listing()
    assert after[f"bucket={touched}"] != before[f"bucket={touched}"]
    for b in before:
        if b != f"bucket={touched}":
            assert after[b] == before[b], f"{b} rewritten by an unrelated batch"


def test_bucketed_agg_merge_plan_is_executor_side(spark, tmp_path):
    """The merge must (a) carry the DPP subquery on the state scan,
    (b) combine raw event rows map-side BEFORE the (bucket, pk) exchange
    (a partial HashAggregate below the shuffle — events never cross the
    wire uncombined), and (c) shuffle nothing on a non-bucket key."""
    env = to_envelope(spark.read.parquet(f"{SF_SMOKE}/events.parquet"))
    sink = BucketedAggregatingSink(str(tmp_path / "s"), n_buckets=8)
    sink.write(env, batch_id=0)
    merged = sink._merged(env.filter("pk = 1"), batch_id=1)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "state scan lost its DPP filter"
    # map-side combine: a partial-mode aggregate must appear (the planner
    # renders partial aggregates with partial_ function prefixes)
    assert "partial_sum" in plan, "map-side partial aggregation missing:\n" + plan[:2000]
    exchanges = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    # union shuffles: the (bucket, pk) aggregation exchange + the tiny
    # post-aggregation bucket repartition; the bucket-distinct build side
    # appears up to twice (broadcast + DPP instance)
    assert len(exchanges) <= 4, "unexpected extra shuffle:\n" + "\n".join(exchanges)
    assert all("bucket" in ln for ln in exchanges), (
        "a non-bucket-keyed exchange appeared:\n" + "\n".join(exchanges)
    )


def test_bucketed_commit_rolls_back_on_partial_failure(spark, tmp_path, monkeypatch):
    """A failure midway through the multi-bucket rename loop must leave the
    state exactly as before the write (all-or-nothing commit), so an
    at-least-once redelivery — including a DLQ replay that carries no
    batch id — applies the batch exactly once."""
    import os as os_mod

    from cdc_platform_spark.streaming import pipeline as pl

    env = to_envelope(
        spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(300)
    ).localCheckpoint(eager=True)
    first = env.filter("seq % 2 = 0")
    second = env.filter("seq % 2 = 1")
    sink = pl.BucketedAggregatingSink(str(tmp_path / "s"), n_buckets=8)
    sink.write(first, batch_id=0)
    before = sorted(map(tuple, sink.state(spark).collect()))

    real_rename = os_mod.rename
    calls = {"n": 0}

    def failing_rename(src, dst):
        # fail on the 3rd bucket-dir publication of the commit
        if "/bucket=" in str(dst) and f"{tmp_path}/s/bucket=" in str(dst):
            calls["n"] += 1
            if calls["n"] == 3:
                raise OSError("simulated rename failure (ENOSPC)")
        return real_rename(src, dst)

    monkeypatch.setattr(pl.os, "rename", failing_rename)
    with pytest.raises(OSError, match="simulated"):
        sink.write(second, batch_id=1)
    monkeypatch.setattr(pl.os, "rename", real_rename)

    # rollback: the failed write left NO trace
    assert sorted(map(tuple, sink.state(spark).collect())) == before
    # redelivery applies the batch exactly once
    sink.write(second, batch_id=1)
    ref = pl.BucketedAggregatingSink(str(tmp_path / "ref"), n_buckets=8)
    ref.write(first, batch_id=0)
    ref.write(second, batch_id=1)
    assert sorted(map(tuple, sink.state(spark).collect())) == sorted(
        map(tuple, ref.state(spark).collect())
    )
