"""Driver-verifiable RUNTIME queries: streaming (SURVEY.md §2B SQ1-SQ7)
and lakehouse snapshot machinery (§2A L5/D6).

The driver's correctness gate only runs batch builders, so the
streaming semantics (watermarked windows, micro-batch upsert merge,
replay dedup) were previously pytest-verified only. Each query here
RUNS the real Structured Streaming path inside its builder — a
``readStream`` over the events fixture driven to completion with
``availableNow`` (multi-file staging => multiple micro-batches, so the
cross-batch merge logic actually executes) — then returns the FINAL
table as a batch DataFrame for the oracle hash-compare.

This is the batch≡stream equivalence contract as an independently
checkable artifact: the oracle describes the end state in ANSI SQL;
the builder must reach it through the streaming machinery (reference
behaviors: A1 watermark commit, J1 keyed upsert, J4 replay dedup,
W1/W2 ordering — pipeline/runner.py, sinks/iceberg.py:187-197).

Scale note: the staging/checkpoint dirs are per-run temp dirs; on a
real deployment the same objects run continuously from Kafka — the
builders only pin the deterministic availableNow harness around them.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from cdc_platform_spark.operators import register

# All builder work dirs live under one session-scoped root removed at
# process exit: each dir holds a full repartitioned copy of the events
# fixture, so leaking them per driver/bench run filled /tmp.  The result
# dirs the returned DataFrames read from stay alive until exit (the
# driver collects within the same process).
_WORK_ROOT: str | None = None


def _workdir(prefix: str) -> str:
    global _WORK_ROOT
    if _WORK_ROOT is None:
        _WORK_ROOT = tempfile.mkdtemp(prefix="sq_work_root_")
        atexit.register(shutil.rmtree, _WORK_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_WORK_ROOT)

# The envelope op mapping (signup->c, error->d, else u) mirrored in SQL.
_ENV_SQL = """
        SELECT event_id AS seq, event_id AS "offset", user_id AS pk,
               CASE WHEN event_type = 'signup' THEN 'c'
                    WHEN event_type = 'error' THEN 'd'
                    ELSE 'u' END AS op,
               event_type, value, ts
        FROM events
"""


def _normalized_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture with ``ts`` normalized to TIMESTAMP_NTZ.

    Round-1 fixtures are TIMESTAMP(NANOS), which a nanosAsLong session
    reads as BIGINT — staging that raw would make every readStream with
    the pinned EVENTS_SCHEMA fail on a type mismatch.  Floor-div to
    micros (exact for pre-epoch too) and cast; micros fixtures pass
    through unchanged."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000")).cast(
                "timestamp_ntz"
            ),
        )
    return df


def _stage_chunks(spark: SparkSession, sf_dir: str, work: str, n_chunks: int = 4) -> str:
    """Copy the events fixture into n_chunks files: with
    maxFilesPerTrigger=1 the stream processes n_chunks micro-batches, so
    cross-batch state (upsert merge, watermark advance) is exercised."""
    src = f"{work}/source"
    _normalized_events(spark, sf_dir).repartition(n_chunks).write.mode(
        "overwrite"
    ).parquet(src)
    return src


# Replay watermark: an availableNow replay of unordered fixture chunks has
# unbounded "lateness" (micro-batch N+1 can carry events far older than
# batch N's max event time), so the deterministic harness sets the
# late-tolerance wider than the fixture's whole time span — every event
# aggregates, the result is chunk-order-independent, and the watermark
# machinery still runs. A live deployment tightens this to its real
# lateness bound; the plan is identical.
REPLAY_WATERMARK = "87600 hours"


def _run_windowed(spark: SparkSession, sf_dir: str, build_agg) -> DataFrame:
    """Drive a complete-mode windowed aggregation with availableNow and
    return the final table (the last micro-batch's complete output)."""
    from cdc_platform_spark.streaming.pipeline import EVENTS_SCHEMA, to_envelope

    work = _workdir("sq_stream_")
    src = _stage_chunks(spark, sf_dir, work)
    out = f"{work}/result"
    stream = spark.readStream.schema(EVENTS_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    agg = build_agg(to_envelope(stream))

    def write_final(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(out)

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(write_final)
        .option("checkpointLocation", f"{work}/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.read.parquet(out)
    shutil.rmtree(f"{work}/ck", ignore_errors=True)  # keep result dir readable
    return result


@register(
    "sq_tumbling_hourly_stream",
    category="streaming",
    doc=(
        "SQ2/SQ3 as a driver-checkable artifact: watermarked tumbling 1h "
        "counts computed by the REAL streaming path (readStream -> "
        "withWatermark -> window agg -> availableNow over 4 micro-batches), "
        "final table hash-compared against the batch oracle."
    ),
    oracle="""
        SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
               event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
)
def sq_tumbling_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.streaming.windows import tumbling_counts

    return _run_windowed(
        spark, sf_dir, lambda env: tumbling_counts(env, watermark=REPLAY_WATERMARK)
    ).orderBy("window_start", "event_type")


@register(
    "sq_session_per_user_stream",
    category="streaming",
    doc=(
        "SQ4 as a driver-checkable artifact: session windows (30 min gap) per "
        "key via streaming session_window + watermark, driven availableNow; "
        "oracle is the gaps-and-islands formulation."
    ),
    oracle="""
        WITH t AS (
            SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS t_us FROM events
        ),
        marked AS (
            SELECT user_id, t_us,
                   CASE WHEN t_us - LAG(t_us) OVER (PARTITION BY user_id ORDER BY t_us) >= 1800000000
                        OR LAG(t_us) OVER (PARTITION BY user_id ORDER BY t_us) IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM t
        ),
        sessions AS (
            SELECT user_id, t_us,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY t_us
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
            FROM marked
        )
        SELECT user_id AS pk, CAST(MIN(t_us) AS BIGINT) AS session_start_us,
               COUNT(*) AS n_events
        FROM sessions
        GROUP BY user_id, session_no
        ORDER BY pk, session_start_us
    """,
)
def sq_session_per_user_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.streaming.windows import session_counts

    return _run_windowed(
        spark, sf_dir, lambda env: session_counts(env, watermark=REPLAY_WATERMARK)
    ).orderBy("pk", "session_start_us")


@register(
    "sq_upsert_state_stream",
    category="streaming",
    doc=(
        "J1/W2 as a driver-checkable artifact: the CdcPipeline runs "
        "availableNow over 4 single-file micro-batches into a one-bucket "
        "BucketedUpsertSink (the unbucketed form: union with state, "
        "latest-per-key, journaled commit of the whole state); the final "
        "live state must equal the batch latest-per-key oracle regardless "
        "of how events were split across batches."
    ),
    oracle=f"""
        WITH env AS ({_ENV_SQL}),
        latest AS (
            SELECT pk, "offset", op, event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY pk ORDER BY "offset" DESC) AS rn
            FROM env
        )
        SELECT pk, "offset", op, event_type, value
        FROM latest WHERE rn = 1 AND op <> 'd'
        ORDER BY pk
    """,
)
def sq_upsert_state_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.streaming.pipeline import BucketedUpsertSink, CdcPipeline

    work = _workdir("sq_upsert_")
    src = _stage_chunks(spark, sf_dir, work)
    sink = BucketedUpsertSink(f"{work}/state", n_buckets=1)
    CdcPipeline(
        spark=spark,
        source_dir=src,
        checkpoint_dir=f"{work}/ck",
        sinks={"state": sink},
        max_files_per_trigger=1,
    ).run_available_now()
    return sink.state(spark).orderBy("pk")


@register(
    "sq_bucketed_upsert_stream",
    category="streaming",
    doc=(
        "The 100 TB upsert form as its own driver-checkable artifact: the "
        "same 4-micro-batch CDC stream as sq_upsert_state_stream driven "
        "into a BucketedUpsertSink — hash-bucketed copy-on-write state "
        "where each micro-batch merges in ONE fully executor-side job "
        "(DPP-pruned semi-join restricts the state scan to touched "
        "buckets, latest-per-pk rides the single bucket-keyed window "
        "shuffle, touched set derived from the job's own output listing; "
        "no per-batch driver collect). The final live state must be "
        "byte-equal to the flat-layout oracle: bucketing is storage "
        "granularity, never semantics."
    ),
    oracle=f"""
        WITH env AS ({_ENV_SQL}),
        latest AS (
            SELECT pk, "offset", op, event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY pk ORDER BY "offset" DESC) AS rn
            FROM env
        )
        SELECT pk, "offset", op, event_type, value
        FROM latest WHERE rn = 1 AND op <> 'd'
        ORDER BY pk
    """,
)
def sq_bucketed_upsert_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.streaming.pipeline import BucketedUpsertSink, CdcPipeline

    work = _workdir("sq_bupsert_")
    src = _stage_chunks(spark, sf_dir, work)
    sink = BucketedUpsertSink(f"{work}/state", n_buckets=16)
    CdcPipeline(
        spark=spark,
        source_dir=src,
        checkpoint_dir=f"{work}/ck",
        sinks={"state": sink},
        max_files_per_trigger=1,
    ).run_available_now()
    return sink.state(spark).orderBy("pk")


@register(
    "sq_exactly_once_replay_stream",
    category="streaming",
    doc=(
        "J4 as a driver-checkable artifact: the pipeline runs, its checkpoint "
        "is wiped, and it runs AGAIN (full at-least-once redelivery into the "
        "append sink); the exactly-once view must still equal the single-"
        "delivery envelope — keyed dedup on the source coordinates."
    ),
    oracle=f"""
        SELECT seq, pk, op, event_type, value
        FROM ({_ENV_SQL})
        ORDER BY seq
    """,
)
def sq_exactly_once_replay_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.pipeline import AppendSink, CdcPipeline

    work = _workdir("sq_replay_")
    src = _stage_chunks(spark, sf_dir, work)
    sink = AppendSink(f"{work}/append")
    for run in range(2):
        CdcPipeline(
            spark=spark,
            source_dir=src,
            checkpoint_dir=f"{work}/ck-{run}",  # fresh checkpoint = full replay
            sinks={"append": sink},
            max_files_per_trigger=1,
        ).run_available_now()
    return (
        sink.exactly_once_view(spark)
        .select("seq", "pk", "op", "event_type", F.col("value"))
        .orderBy("seq")
    )


@register(
    "sq_interval_join_stream",
    category="streaming",
    doc=(
        "Stream-stream watermarked interval join as a driver-checkable "
        "artifact: purchases joined to same-user clicks within the "
        "preceding hour, both sides real streams over 4 micro-batches, "
        "append-mode output accumulated across batches. The oracle is the "
        "batch interval join; with the replay watermark no join state is "
        "evicted early, so the streamed match set equals it exactly."
    ),
    oracle="""
        WITH env AS (
            SELECT user_id AS uid, event_id AS id, event_type, ts FROM events
        )
        SELECT p.id AS p_id, c.id AS c_id
        FROM env p JOIN env c
          ON p.event_type = 'purchase' AND c.event_type = 'click'
         AND p.uid = c.uid
         AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
        ORDER BY p_id, c_id
    """,
)
def sq_interval_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.pipeline import EVENTS_SCHEMA, to_envelope

    work = _workdir("sq_ssj_")
    src = _stage_chunks(spark, sf_dir, work)
    out = f"{work}/result"

    def side(tag: str) -> DataFrame:
        stream = spark.readStream.schema(EVENTS_SCHEMA).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        return (
            to_envelope(stream)
            .filter(F.col("event_type") == ("purchase" if tag == "p" else "click"))
            .select(
                F.col("pk").alias(f"{tag}_user"),
                F.col("offset").alias(f"{tag}_id"),
                F.col("event_ts").alias(f"{tag}_ts"),
            )
            .withWatermark(f"{tag}_ts", REPLAY_WATERMARK)
        )

    joined = side("p").join(
        side("c"),
        F.expr("p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"),
        "inner",
    ).select("p_id", "c_id")
    q = (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda batch, bid: batch.write.mode("append").parquet(out))
        .option("checkpointLocation", f"{work}/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out).orderBy("p_id", "c_id")


@register(
    "lk_time_travel",
    category="lakehouse",
    doc=(
        "Time travel as a driver-checkable artifact (L5, Iceberg VERSION AS "
        "OF): two appends land in a VersionedTable, then the FIRST snapshot "
        "is read back point-in-time — it must contain exactly the first "
        "append's rows even though HEAD has both. Runs the real snapshot "
        "machinery (manifest commit, file-listing scan) inside the builder."
    ),
    oracle="""
        SELECT event_id, user_id, event_type, value
        FROM events
        WHERE event_id % 2 = 0
        ORDER BY event_id
    """,
)
def lk_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.lakehouse.table import VersionedTable

    work = _workdir("lk_tt_")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = VersionedTable(spark, f"{work}/t")
    t.append(events.filter(F.col("event_id") % 2 == 0))
    first = t.current_snapshot_id()
    t.append(events.filter(F.col("event_id") % 2 == 1))
    assert len(t.snapshots()) == 2
    return t.read(snapshot_id=first).orderBy("event_id")


@register(
    "lk_schema_evolution",
    category="lakehouse",
    doc=(
        "Additive schema evolution as a driver-checkable artifact (D6/ref "
        "Iceberg evolve-on-write): the second append carries a new column; "
        "the merged read nulls it in for pre-evolution file groups — the "
        "Iceberg union-schema read path, exercised through the real "
        "VersionedTable commit/scan machinery."
    ),
    oracle="""
        SELECT event_id, user_id,
               CASE WHEN event_id % 2 = 1 THEN event_type END AS tag
        FROM events
        ORDER BY event_id
    """,
)
def lk_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.lakehouse.table import VersionedTable

    work = _workdir("lk_evo_")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = VersionedTable(spark, f"{work}/t")
    t.append(events.filter(F.col("event_id") % 2 == 0).select("event_id", "user_id"))
    t.append(
        events.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "user_id", F.col("event_type").alias("tag")
        )
    )
    return t.read().select("event_id", "user_id", "tag").orderBy("event_id")


@register(
    "q83_salted_join",
    category="join",
    doc=(
        "Skew-resistant salted join as a driver-checkable artifact: the "
        "orders->customer equi-join runs through functions.skew.salted_join "
        "(large side scattered over 8 salt buckets, small side replicated "
        "8x, shuffle key = (key, salt)) and must produce exactly the plain "
        "inner join's aggregate — the static fallback path for heavy-hitter "
        "keys AQE's runtime splitting can't fix, verified against the "
        "unsalted oracle."
    ),
    oracle="""
        SELECT c.c_nationkey AS nationkey, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey
        ORDER BY nationkey
    """,
)
def q83_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.functions import money
    from cdc_platform_spark.functions.skew import salted_join
    from cdc_platform_spark.sources.registry import load_table

    orders = load_table(spark, "orders", sf_dir).select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    customer = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    joined = salted_join(orders, customer, on="c_custkey", n_salts=8)
    return (
        joined.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money("o_totalprice")).cast("double").alias("total_price"),
        )
        .orderBy("nationkey")
    )


@register(
    "sq_dlq_quarantine_stream",
    category="streaming",
    doc=(
        "SQ6/P7 as a driver-checkable artifact: a poison sink (rejects any "
        "batch holding chunk-2 rows) runs through the REAL CdcPipeline "
        "per-sink isolation — the healthy co-sink receives every batch, the "
        "poisoned batch is quarantined to the DLQ table with the "
        "reference's diagnostic headers (source coordinates + error "
        "metadata, ref streaming/dlq.py:41-56) — then the quarantine "
        "accounting per source partition is returned.  Chunking is "
        "deterministic (event_id % 4 -> one file per residue, one "
        "micro-batch per file), so exactly the residue-2 rows land in the "
        "DLQ regardless of batch order."
    ),
    oracle="""
        SELECT user_id % 8 AS partition,
               'poison' AS sink_id,
               'RuntimeError' AS error_type,
               COUNT(*) AS n_quarantined,
               COUNT(DISTINCT user_id) AS n_keys,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        FROM events
        WHERE event_id % 4 = 2
        GROUP BY 1
        ORDER BY partition
    """,
)
def sq_dlq_quarantine_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.pipeline import AppendSink, CdcPipeline, DlqWriter

    import os
    import shutil

    work = _workdir("sq_dlq_")
    # Deterministic chunks: one file per event_id residue class, so "the
    # batch containing residue-2 rows" is exactly one micro-batch.  ONE
    # scan: a residue-partitioned write, then the per-residue files are
    # moved up into the flat layout the file stream source expects.
    src = f"{work}/source"
    staged = f"{work}/staged"
    events = _normalized_events(spark, sf_dir)
    events.withColumn("__r", F.pmod(F.col("event_id"), F.lit(4))).repartition(
        F.col("__r")
    ).write.partitionBy("__r").mode("overwrite").parquet(staged)
    os.makedirs(src, exist_ok=True)
    for k in range(4):
        part_dir = f"{staged}/__r={k}"
        for i, name in enumerate(sorted(os.listdir(part_dir))):
            if name.endswith(".parquet"):
                shutil.move(f"{part_dir}/{name}", f"{src}/chunk-{k}-{i}.parquet")
    shutil.rmtree(staged, ignore_errors=True)
    healthy = AppendSink(f"{work}/healthy")
    poison = AppendSink(f"{work}/poison", fail_predicate="pmod(seq, 4) = 2")
    dlq = DlqWriter(f"{work}/dlq")
    CdcPipeline(
        spark=spark,
        source_dir=src,
        checkpoint_dir=f"{work}/ck",
        sinks={"healthy": healthy, "poison": poison},
        dlq=dlq,
        max_files_per_trigger=1,
    ).run_available_now()
    q = dlq.read(spark)
    payload = F.from_json(
        F.col("payload"),
        "seq long, pk long, op string, event_type string, value double, "
        "props string, event_ts_us long",
    )
    return (
        q.select(
            F.col("dlq_source_partition").alias("partition"),
            F.col("dlq_sink_id").alias("sink_id"),
            F.col("dlq_error_type").alias("error_type"),
            payload.alias("p"),
        )
        .groupBy("partition", "sink_id", "error_type")
        .agg(
            F.count(F.lit(1)).alias("n_quarantined"),
            F.countDistinct("p.pk").alias("n_keys"),
            F.sum(F.col("p.value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
        .orderBy("partition")
    )


@register(
    "sq_incremental_agg_stream",
    category="streaming",
    doc=(
        "Incremental materialized-aggregate maintenance as a driver-"
        "checkable artifact (the aggregate-level complement of SQ5's "
        "row-level upsert): a one-bucket BucketedAggregatingSink folds one "
        "partial-aggregate merge per micro-batch into a per-key "
        "count/sum/min/max view — never rescanning history, decimal sums "
        "so the end state is "
        "batch-split-independent, batch-id-fenced against at-least-once "
        "redelivery — driven availableNow over 4 micro-batches; the final "
        "view must equal the one-shot batch aggregate."
    ),
    oracle="""
        SELECT user_id AS pk,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
               MIN(value) AS value_min,
               MAX(value) AS value_max,
               MAX(event_id) AS last_offset
        FROM events
        GROUP BY user_id
        ORDER BY pk
    """,
)
def sq_incremental_agg_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.streaming.pipeline import BucketedAggregatingSink, CdcPipeline

    work = _workdir("sq_incr_")
    src = _stage_chunks(spark, sf_dir, work)
    sink = BucketedAggregatingSink(f"{work}/aggview", n_buckets=1)
    CdcPipeline(
        spark=spark,
        source_dir=src,
        checkpoint_dir=f"{work}/ck",
        sinks={"aggview": sink},
        max_files_per_trigger=1,
    ).run_available_now()
    return sink.state(spark).orderBy("pk")


@register(
    "sq_topic_router_stream",
    category="streaming",
    doc=(
        "P2/F1 multiplexing as a driver-checkable artifact: ONE stream "
        "carrying two CDC topics (per-row topic derived from the key — the "
        "multi-table capture shape) runs through TopicRouterSink, which "
        "dispatches each envelope row to the sink registered for its "
        "topic; per-destination-table accounting must equal the batch "
        "partition of the same rows. Driver evidence for the one-stream-"
        "to-N-tables routing path (reference topic naming semantics, "
        "streaming/topics.py)."
    ),
    oracle="""
        SELECT CASE WHEN user_id % 2 = 0 THEN 'cdc.public.users'
                    ELSE 'cdc.public.orders' END AS topic,
               COUNT(*) AS n,
               COUNT(DISTINCT user_id) AS n_keys,
               MAX(event_id) AS max_offset
        FROM events
        GROUP BY 1
        ORDER BY topic
    """,
)
def sq_topic_router_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.pipeline import (
        AppendSink,
        CdcPipeline,
        TopicRouterSink,
        to_envelope,
    )
    from cdc_platform_spark.streaming.topics import cdc_topic

    t_users = cdc_topic("cdc", "public.users", source_type="postgres")
    t_orders = cdc_topic("cdc", "public.orders", source_type="postgres")

    def multi_topic_envelope(df: DataFrame) -> DataFrame:
        env = to_envelope(df)
        return env.withColumn(
            "topic",
            F.when(F.pmod(F.col("pk"), F.lit(2)) == 0, F.lit(t_users)).otherwise(
                F.lit(t_orders)
            ),
        )

    work = _workdir("sq_router_")
    src = _stage_chunks(spark, sf_dir, work)
    users_sink = AppendSink(f"{work}/users")
    orders_sink = AppendSink(f"{work}/orders")
    router = TopicRouterSink({t_users: users_sink, t_orders: orders_sink})
    CdcPipeline(
        spark=spark,
        source_dir=src,
        checkpoint_dir=f"{work}/ck",
        sinks={"router": router},
        envelope_fn=multi_topic_envelope,
        max_files_per_trigger=1,
    ).run_available_now()
    parts = []
    for sink in (users_sink, orders_sink):
        parts.append(
            sink.exactly_once_view(spark).select(
                F.col("_cdc_topic").alias("topic"), "pk", F.col("_cdc_offset").alias("offset")
            )
        )
    routed = parts[0].unionByName(parts[1])
    return (
        routed.groupBy("topic")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("pk").alias("n_keys"),
            F.max("offset").alias("max_offset"),
        )
        .orderBy("topic")
    )


@register(
    "sq_webhook_sink_stream",
    category="streaming",
    doc=(
        "K1 as a driver-checkable artifact: the pipeline delivers every "
        "envelope row to a LIVE local HTTP collector through WebhookSink "
        "(executor-side POSTs, reference payload shape key/value/metadata), "
        "then the received payloads are parsed back and their accounting "
        "hash-compared against the batch view of the same rows — wire-"
        "format fidelity and at-least-once delivery verified end to end. "
        "The 1-in-5 event subset keeps the HTTP volume bounded at any SF."
    ),
    oracle="""
        SELECT user_id % 8 AS partition,
               COUNT(*) AS n,
               COUNT(DISTINCT user_id) AS n_keys,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
        FROM events
        WHERE event_id % 5 = 0
        GROUP BY 1
        ORDER BY partition
    """,
)
def sq_webhook_sink_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import http.server
    import threading

    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.pipeline import CdcPipeline
    from cdc_platform_spark.streaming.webhook import WebhookSink

    received: list[bytes] = []
    lock = threading.Lock()

    class Collector(http.server.BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802 - stdlib handler contract
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            with lock:
                received.append(body)
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def log_message(self, *args):  # quiet
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Collector)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        work = _workdir("sq_webhook_")
        src = f"{work}/source"
        _normalized_events(spark, sf_dir).filter(
            F.col("event_id") % 5 == 0
        ).repartition(4).write.mode("overwrite").parquet(src)
        sink = WebhookSink(
            f"http://127.0.0.1:{srv.server_address[1]}/hook", base_delay=0.01
        )
        CdcPipeline(
            spark=spark,
            source_dir=src,
            checkpoint_dir=f"{work}/ck",
            sinks={"webhook": sink},
            max_files_per_trigger=1,
        ).run_available_now()
    finally:
        srv.shutdown()
        t.join(timeout=5)
    payloads = spark.createDataFrame(
        [(b.decode("utf-8"),) for b in received], "payload string"
    )
    p = F.from_json(
        "payload",
        "key struct<pk:long>, "
        "value struct<seq:long,op:string,event_type:string,value:double,props:string>, "
        "metadata struct<topic:string,partition:long,offset:long>",
    )
    parsed = payloads.select(p.alias("p")).select(
        F.col("p.metadata.partition").alias("partition"),
        F.col("p.key.pk").alias("pk"),
        F.col("p.value.value").alias("value"),
        F.col("p.metadata.offset").alias("offset"),
    )
    # at-least-once delivery -> coordinate-keyed dedup before accounting
    # (same exactly-once read every sink exposes)
    parsed = parsed.dropDuplicates(["partition", "offset"])
    return (
        parsed.groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("pk").alias("n_keys"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
        .orderBy("partition")
    )


@register(
    "lk_compaction_rewrite",
    category="lakehouse",
    doc=(
        "L2/L3 compaction as a driver-checkable artifact: eight small "
        "appends land as eight file groups, compact() rewrites them into "
        "fewer groups through a new snapshot, and the compacted read must "
        "be byte-identical to the union of the appends (oracle = the same "
        "rows straight from the fixture). The builder also asserts the "
        "file-group count actually dropped and that pre-compaction "
        "snapshots remain time-travel-readable."
    ),
    oracle="""
        SELECT event_id, user_id, event_type, value
        FROM events
        WHERE event_id % 2 = 0
        ORDER BY event_id
    """,
)
def lk_compaction_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.lakehouse.table import VersionedTable

    work = _workdir("lk_compact_")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    ).filter(F.col("event_id") % 2 == 0)
    t = VersionedTable(spark, f"{work}/t")
    partial_snapshot = None
    for k in range(8):
        t.append(events.filter(F.pmod(F.expr("event_id div 2"), F.lit(8)) == k))
        if k == 6:  # a snapshot whose contents DIFFER from the final state
            partial_snapshot = t.current_snapshot_id()
    pre_compact_snapshot = t.current_snapshot_id()
    n_groups_before = len(t._snapshot(pre_compact_snapshot)["files"])
    partial_rows = t._snapshot(partial_snapshot)["rows"]
    full_rows = t._snapshot(pre_compact_snapshot)["rows"]
    t.compact(max_files=4)
    n_groups_after = len(t._snapshot(t.current_snapshot_id())["files"])
    assert n_groups_after < n_groups_before, (n_groups_before, n_groups_after)
    # time travel must still serve the 7-append snapshot, whose row set
    # differs from the compacted head — a read(snapshot_id) regression
    # that silently returned the current state would fail this count
    assert partial_rows < full_rows, (partial_rows, full_rows)
    assert t.read(snapshot_id=partial_snapshot).count() == partial_rows
    return t.read().orderBy("event_id")


@register(
    "lk_stats_pruned_scan",
    category="lakehouse",
    doc=(
        "Manifest stats pruning as a driver-checkable artifact (L5 + the "
        "sort-clustered rewrite that makes pruning effective): events land "
        "unsorted, rewrite_sorted range-clusters them on event_id into "
        "disjoint file groups, and a read_where point-range scan must both "
        "(a) PRUNE most groups from manifest min/max alone — asserted in "
        "the builder via last_scan_files — and (b) return exactly the "
        "oracle's filter result."
    ),
    oracle="""
        SELECT event_id, user_id, event_type, value
        FROM events
        WHERE event_id >= (4 * (SELECT MAX(event_id) FROM events)) // 5
        ORDER BY event_id
    """,
)
def lk_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.lakehouse.table import VersionedTable

    work = _workdir("lk_prune_")
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    t = VersionedTable(spark, f"{work}/t")
    # land in key-interleaved chunks so pre-rewrite groups have overlapping
    # [min, max] ranges (pruning impossible), then sort-cluster
    for k in range(4):
        t.append(events.filter(F.pmod(F.col("event_id"), F.lit(4)) == k))
    t.rewrite_sorted("event_id", n_groups=8)
    # cutoff from the snapshot manifest's own column stats — metadata-only,
    # no Spark job (the same min/max the pruning decision reads)
    snap = t._snapshot(t.current_snapshot_id())
    hi = max(
        s["event_id"]["max"]
        for s in snap["stats"].values()
        if s.get("event_id") and s["event_id"]["max"] is not None
    )
    cutoff = 4 * hi // 5
    result = t.read_where("event_id", ">=", int(cutoff))
    kept, total = t.last_scan_files
    assert kept < total, (kept, total)  # pruning actually happened
    return result.orderBy("event_id")


def _ann_index_oracle() -> str:
    """Full-rebuild oracle for sq_ann_index_stream: train on the ORIGINAL
    table (frozen quantizer), assign the POST-CDC vectors (reversal remaps
    subscript i -> DIM+1-i; deleted ids excluded)."""
    from cdc_platform_spark.operators.dedup import ORACLE_EMB_UNNEST
    from cdc_platform_spark.operators.similarity import (
        _CENT_FINAL,
        _TRAIN_CTES,
        _cent_hash,
        DIM,
        N_CELLS,
    )

    return f"""
        WITH u AS ({ORACLE_EMB_UNNEST}),
        norms AS (SELECT vec_id, SUM(v * v) AS n FROM u GROUP BY vec_id),
        cents AS (
            SELECT vec_id AS cent_id FROM embeddings
            ORDER BY {_cent_hash}, vec_id LIMIT {N_CELLS}
        ),
        cu AS (SELECT u.* FROM u JOIN cents ON u.vec_id = cents.cent_id),
        {_TRAIN_CTES},
        ncf AS (SELECT cent_id, SUM(cv * cv) AS n FROM {_CENT_FINAL} GROUP BY cent_id),
        final AS (
            SELECT vec_id, i, v FROM u
            WHERE vec_id % 11 <> 3 AND vec_id % 7 <> 0
            UNION ALL
            SELECT vec_id, {DIM} + 1 - i AS i, v FROM u
            WHERE vec_id % 11 <> 3 AND vec_id % 7 = 0
        ),
        fnorms AS (SELECT vec_id, SUM(v * v) AS n FROM final GROUP BY vec_id),
        fdots AS (
            SELECT x.vec_id, c.cent_id, SUM(x.v * c.cv) AS d
            FROM final x JOIN {_CENT_FINAL} c ON x.i = c.i
            GROUP BY x.vec_id, c.cent_id
        ),
        fcos AS (
            SELECT v.vec_id, v.cent_id, v.d / (sqrt(nx.n) * sqrt(nc.n)) AS c
            FROM fdots v JOIN fnorms nx ON v.vec_id = nx.vec_id
                         JOIN ncf nc ON v.cent_id = nc.cent_id
        )
        SELECT vec_id, cent_id AS cell FROM (
            SELECT vec_id, cent_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
            FROM fcos) WHERE rn = 1
        ORDER BY vec_id
    """


def _stage_embedding_cdc(spark: SparkSession, sf_dir: str, work: str):
    """Stage the deterministic embedding CDC stream shared by the ANN
    index queries: full insert wave, then updates (reversed vectors,
    vec_id % 7 = 0) and deletes (vec_id % 11 = 3) — split into 4
    arbitrary chunks so the waves interleave across micro-batches and the
    offset-keyed merge must converge regardless of arrival order."""
    from pyspark.sql import functions as F

    from cdc_platform_spark.operators.similarity import _fixed_embeddings

    e = _fixed_embeddings(spark, sf_dir)
    off = F.col("vec_id") + F.lit(100000000)  # wave-1 offsets after all wave-0
    wave0 = e.select(
        "vec_id", F.col("vec_id").alias("offset"), F.lit("c").alias("op"), "a"
    )
    upd = e.filter((F.col("vec_id") % 7 == 0) & (F.col("vec_id") % 11 != 3)).select(
        "vec_id", off.alias("offset"), F.lit("u").alias("op"), F.reverse("a").alias("a")
    )
    dels = e.filter(F.col("vec_id") % 11 == 3).select(
        "vec_id",
        off.alias("offset"),
        F.lit("d").alias("op"),
        F.lit(None).cast("array<long>").alias("a"),
    )
    src = f"{work}/source"
    wave0.unionByName(upd).unionByName(dels).repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    stream = (
        spark.readStream.schema("vec_id long, offset long, op string, a array<long>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return e, stream


def _run_index_stream(stream, sink, work: str) -> None:
    q = (
        stream.writeStream.foreachBatch(lambda b, _bid: sink.write(b))
        .option("checkpointLocation", f"{work}/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

def _stage_document_cdc(spark: SparkSession, sf_dir: str, work: str, domains: bool = False):
    """Stage the deterministic document CDC stream shared by the whole
    curation family: full insert wave, then updates (dup-bait suffix
    appended, doc_id % 7 == 0) and deletes (doc_id % 11 == 3), split into
    4 arbitrary chunks so the waves interleave across micro-batches.
    ``domains=True`` carries (lang, source) for the mix/dashboard sinks.
    ONE definition: every family oracle's docs_live CTE mirrors exactly
    this recipe, so a wave change can never drift per-query."""
    from pyspark.sql import functions as F

    cols = ["doc_id"] + (["lang", "source"] if domains else []) + ["text"]
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(*cols)
    off = F.col("doc_id") + F.lit(100000000)  # wave-1 offsets after all wave-0
    dom = ["lang", "source"] if domains else []
    dom_nulls = (
        [
            F.lit(None).cast("string").alias("lang"),
            F.lit(None).cast("string").alias("source"),
        ]
        if domains
        else []
    )
    wave0 = d.select(
        "doc_id", F.col("doc_id").alias("offset"), F.lit("c").alias("op"), "text", *dom
    )
    upd = d.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 11 != 3)).select(
        "doc_id",
        off.alias("offset"),
        F.lit("u").alias("op"),
        F.concat(F.col("text"), F.lit(" spark dedup stream spark dedup stream")).alias("text"),
        *dom,
    )
    dels = d.filter(F.col("doc_id") % 11 == 3).select(
        "doc_id",
        off.alias("offset"),
        F.lit("d").alias("op"),
        F.lit(None).cast("string").alias("text"),
        *dom_nulls,
    )
    src = f"{work}/source"
    wave0.unionByName(upd).unionByName(dels).repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    schema = "doc_id long, offset long, op string, text string" + (
        ", lang string, source string" if domains else ""
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )




@register(
    "sq_ann_index_stream",
    category="streaming",
    doc=(
        "Incremental ANN index maintenance as a driver-checkable artifact: "
        "the IVF coarse quantizer is Lloyd-trained once on the base "
        "embeddings table and FROZEN (the versioned-quantizer production "
        "pattern), then a synthetic embedding CDC stream - full insert "
        "wave, then updates (reversed vectors, vec_id % 7 = 0) and deletes "
        "(vec_id % 11 = 3) - is driven availableNow through a one-bucket "
        "BucketedIvfIndexSink: each micro-batch assigns ONLY its own vectors (broadcast "
        "centroids, exact fixed-point argmax, never a corpus rescan), "
        "deletes tombstone, and the merged latest-per-vec_id state is the "
        "inverted file. The final index must equal a from-scratch rebuild "
        "over the post-CDC vectors - which is exactly what the oracle "
        "computes (same unrolled-Lloyd training CTEs as sim_ann_ivf)."
    ),
    oracle=_ann_index_oracle(),
)
def sq_ann_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.operators.similarity import train_ivf_centroids
    from cdc_platform_spark.streaming.ann_index import BucketedIvfIndexSink

    work = _workdir("sq_annidx_")
    e, stream = _stage_embedding_cdc(spark, sf_dir, work)
    sink = BucketedIvfIndexSink(f"{work}/index", train_ivf_centroids(e), n_buckets=1)
    _run_index_stream(stream, sink, work)
    return sink.state(spark).orderBy("vec_id")


def _cluster_sample_from_index_oracle() -> str:
    """Oracle for sq_cluster_sample_from_index: the batch
    sim_cluster_sample pick rule applied to the POST-CDC assignments
    under the frozen quantizer (the _ann_index_oracle CTE chain with the
    per-cell md5-ordered pick on top)."""
    from cdc_platform_spark.operators.dedup import ORACLE_EMB_UNNEST
    from cdc_platform_spark.operators.similarity import (
        _CENT_FINAL,
        _TRAIN_CTES,
        _cent_hash,
        DIM,
        N_CELLS,
        SAMPLE_PER_CELL,
    )

    return f"""
        WITH u AS ({ORACLE_EMB_UNNEST}),
        norms AS (SELECT vec_id, SUM(v * v) AS n FROM u GROUP BY vec_id),
        cents AS (
            SELECT vec_id AS cent_id FROM embeddings
            ORDER BY {_cent_hash}, vec_id LIMIT {N_CELLS}
        ),
        cu AS (SELECT u.* FROM u JOIN cents ON u.vec_id = cents.cent_id),
        {_TRAIN_CTES},
        ncf AS (SELECT cent_id, SUM(cv * cv) AS n FROM {_CENT_FINAL} GROUP BY cent_id),
        final AS (
            SELECT vec_id, i, v FROM u
            WHERE vec_id % 11 <> 3 AND vec_id % 7 <> 0
            UNION ALL
            SELECT vec_id, {DIM} + 1 - i AS i, v FROM u
            WHERE vec_id % 11 <> 3 AND vec_id % 7 = 0
        ),
        fnorms AS (SELECT vec_id, SUM(v * v) AS n FROM final GROUP BY vec_id),
        fdots AS (
            SELECT x.vec_id, c.cent_id, SUM(x.v * c.cv) AS d
            FROM final x JOIN {_CENT_FINAL} c ON x.i = c.i
            GROUP BY x.vec_id, c.cent_id
        ),
        fcos AS (
            SELECT v.vec_id, v.cent_id, v.d / (sqrt(nx.n) * sqrt(nc.n)) AS c
            FROM fdots v JOIN fnorms nx ON v.vec_id = nx.vec_id
                         JOIN ncf nc ON v.cent_id = nc.cent_id
        ),
        asg AS (
            SELECT vec_id, cent_id FROM (
                SELECT vec_id, cent_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
                FROM fcos) WHERE rn = 1
        ),
        sz AS (SELECT cent_id, COUNT(*) AS n FROM asg GROUP BY cent_id),
        picks AS (
            SELECT cent_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY cent_id
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
            FROM asg
        )
        SELECT p.cent_id AS cell_id, CAST(p.rn AS BIGINT) AS pick_rank,
               p.vec_id AS vec_id, CAST(s.n AS BIGINT) AS cell_docs
        FROM picks p JOIN sz s ON p.cent_id = s.cent_id
        WHERE p.rn <= {SAMPLE_PER_CELL}
        ORDER BY cell_id, pick_rank
    """


@register(
    "sq_cluster_sample_from_index",
    category="streaming",
    doc=(
        "Cluster-balanced diversity sampling served FROM the maintained "
        "IVF index — the embedding counterpart of the curated corpus's "
        "mix_sample: the same embedding CDC stream as sq_ann_index_stream "
        "drives a one-bucket BucketedIvfIndexSink (frozen Lloyd-trained "
        "quantizer, per-batch assignment), then ivf_cluster_sample_from_index "
        "applies the batch "
        "sim_cluster_sample pick rule (SAMPLE_PER_CELL per cell in "
        "md5(vec_id) order, cell population attached) to the live inverted "
        "file — no re-cluster pass, the sink already maintains the "
        "assignments. Must equal the batch rule over the post-CDC "
        "assignments under the frozen quantizer."
    ),
    oracle=_cluster_sample_from_index_oracle(),
)
def sq_cluster_sample_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.operators.similarity import train_ivf_centroids
    from cdc_platform_spark.streaming.ann_index import (
        BucketedIvfIndexSink,
        ivf_cluster_sample_from_index,
    )

    work = _workdir("sq_clustersample_")
    e, stream = _stage_embedding_cdc(spark, sf_dir, work)
    sink = BucketedIvfIndexSink(f"{work}/index", train_ivf_centroids(e), n_buckets=1)
    _run_index_stream(stream, sink, work)
    return ivf_cluster_sample_from_index(sink.state(spark)).orderBy(
        "cell_id", "pick_rank"
    )


def _ivf_drift_stream_oracle() -> str:
    """Oracle for sq_ivf_drift_stream: per-cell drift of the POST-CDC
    vectors to their FROZEN trained centroids — the _ann_index_oracle
    assignment chain with the micro-cosine rollup of
    sim_ivf_drift_report on top."""
    from cdc_platform_spark.operators.dedup import ORACLE_EMB_UNNEST
    from cdc_platform_spark.operators.similarity import (
        _CENT_FINAL,
        _TRAIN_CTES,
        _cent_hash,
        DIM,
        DRIFT_MICRO,
        N_CELLS,
    )

    return f"""
        WITH u AS ({ORACLE_EMB_UNNEST}),
        norms AS (SELECT vec_id, SUM(v * v) AS n FROM u GROUP BY vec_id),
        cents AS (
            SELECT vec_id AS cent_id FROM embeddings
            ORDER BY {_cent_hash}, vec_id LIMIT {N_CELLS}
        ),
        cu AS (SELECT u.* FROM u JOIN cents ON u.vec_id = cents.cent_id),
        {_TRAIN_CTES},
        ncf AS (SELECT cent_id, SUM(cv * cv) AS n FROM {_CENT_FINAL} GROUP BY cent_id),
        final AS (
            SELECT vec_id, i, v FROM u
            WHERE vec_id % 11 <> 3 AND vec_id % 7 <> 0
            UNION ALL
            SELECT vec_id, {DIM} + 1 - i AS i, v FROM u
            WHERE vec_id % 11 <> 3 AND vec_id % 7 = 0
        ),
        fnorms AS (SELECT vec_id, SUM(v * v) AS n FROM final GROUP BY vec_id),
        fdots AS (
            SELECT x.vec_id, c.cent_id, SUM(x.v * c.cv) AS d
            FROM final x JOIN {_CENT_FINAL} c ON x.i = c.i
            GROUP BY x.vec_id, c.cent_id
        ),
        fcos AS (
            SELECT v.vec_id, v.cent_id, v.d / (sqrt(nx.n) * sqrt(nc.n)) AS c
            FROM fdots v JOIN fnorms nx ON v.vec_id = nx.vec_id
                         JOIN ncf nc ON v.cent_id = nc.cent_id
        ),
        best AS (
            SELECT vec_id, cent_id AS cell,
                   CAST(floor({DRIFT_MICRO} * c + 0.5) AS BIGINT) AS m
            FROM (
                SELECT vec_id, cent_id, c,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
                FROM fcos) WHERE rn = 1
        )
        SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(m) AS DOUBLE) / COUNT(*) AS mean_cos_micro,
               MIN(m) AS min_cos_micro
        FROM best GROUP BY cell ORDER BY cell
    """


@register(
    "sq_ivf_drift_stream",
    category="streaming",
    doc=(
        "Quantizer DRIFT served from the maintained IVF-Flat index — the "
        "monitor that schedules rotate_ivf_pq_generation: the same "
        "embedding CDC stream as sq_ann_index_stream (frozen Lloyd-trained "
        "quantizer; the reversal updates genuinely move vectors away from "
        "their trained cells) drives BucketedIvfFlatIndexSink, then "
        "ivf_drift_from_index reports per cell the member count and "
        "mean/min cosine to the frozen centroid in exact micro-units — "
        "the batch sim_ivf_drift_report rollup (one shared definition) "
        "over the stored assignments. Must equal the batch rollup over "
        "the post-CDC vectors under the frozen quantizer."
    ),
    oracle=_ivf_drift_stream_oracle(),
)
def sq_ivf_drift_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.operators.similarity import train_ivf_centroids
    from cdc_platform_spark.streaming.ann_index import (
        BucketedIvfFlatIndexSink,
        ivf_drift_from_index,
    )

    work = _workdir("sq_ivfdrift_")
    e, stream = _stage_embedding_cdc(spark, sf_dir, work)
    cents = train_ivf_centroids(e)
    sink = BucketedIvfFlatIndexSink(f"{work}/index", cents, n_buckets=8)
    _run_index_stream(stream, sink, work)
    return ivf_drift_from_index(sink.state(spark), cents)


def _pq_recon_stream_oracle() -> str:
    """Oracle for sq_pq_recon_stream: per-subspace reconstruction error
    of the POST-CDC vectors against codebooks trained FROZEN on the
    ORIGINAL table (the sim_pq_recon_report rollup over the post-CDC
    subvectors)."""
    from cdc_platform_spark.operators.dedup import ORACLE_EMB_UNNEST
    from cdc_platform_spark.operators.similarity import (
        _PQ_FINAL,
        _PQ_TRAIN_CTES,
        _cent_hash,
        DIM,
        PQ_K,
        PQ_SUBDIM,
    )

    return f"""
        WITH u AS ({ORACLE_EMB_UNNEST}),
        su AS (SELECT vec_id, CAST((i - 1) // {PQ_SUBDIM} AS BIGINT) AS sub,
                      CAST((i - 1) % {PQ_SUBDIM} AS BIGINT) AS j, v
               FROM u),
        cents AS (
            SELECT vec_id AS cent_id FROM embeddings
            ORDER BY {_cent_hash}, vec_id LIMIT {PQ_K}
        ),
        {_PQ_TRAIN_CTES},
        final AS (
            SELECT vec_id, i, v FROM u
            WHERE vec_id % 11 <> 3 AND vec_id % 7 <> 0
            UNION ALL
            SELECT vec_id, {DIM} + 1 - i AS i, v FROM u
            WHERE vec_id % 11 <> 3 AND vec_id % 7 = 0
        ),
        fsu AS (SELECT vec_id, CAST((i - 1) // {PQ_SUBDIM} AS BIGINT) AS sub,
                       CAST((i - 1) % {PQ_SUBDIM} AS BIGINT) AS j, v
                FROM final),
        fd AS (
            SELECT s.vec_id, s.sub, c.cent_id, SUM((s.v - c.cv) * (s.v - c.cv)) AS d
            FROM fsu s JOIN {_PQ_FINAL} c ON s.sub = c.sub AND s.j = c.j
            GROUP BY s.vec_id, s.sub, c.cent_id
        ),
        best AS (SELECT vec_id, sub, MIN(d) AS err FROM fd GROUP BY vec_id, sub)
        SELECT sub, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(SUM(err) AS DOUBLE) / COUNT(*) AS mean_err,
               CAST(MAX(err) AS BIGINT) AS max_err
        FROM best GROUP BY sub ORDER BY sub
    """


@register(
    "sq_pq_recon_stream",
    category="streaming",
    doc=(
        "PQ codebook FIT served from the maintained IVF-Flat index — the "
        "codebook-side retraining trigger complementing "
        "sq_ivf_drift_stream: the same embedding CDC stream drives "
        "BucketedIvfFlatIndexSink while the per-subspace codebooks stay "
        "FROZEN (trained on the original table), then pq_recon_from_index "
        "reports per subspace the exact integer squared-L2 reconstruction "
        "error of the live vectors against their nearest codeword — the "
        "batch sim_pq_recon_report rollup (one shared definition). Must "
        "equal the batch rollup over the post-CDC vectors under the "
        "frozen codebooks."
    ),
    oracle=_pq_recon_stream_oracle(),
)
def sq_pq_recon_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.operators.similarity import (
        pq_seeds,
        pq_subvectors,
        train_ivf_centroids,
        train_pq_codebooks,
    )
    from cdc_platform_spark.streaming.ann_index import (
        BucketedIvfFlatIndexSink,
        pq_recon_from_index,
    )

    work = _workdir("sq_pqrecon_")
    e, stream = _stage_embedding_cdc(spark, sf_dir, work)
    cb = train_pq_codebooks(pq_subvectors(e.select("vec_id", "a")), pq_seeds(e))
    sink = BucketedIvfFlatIndexSink(
        f"{work}/index", train_ivf_centroids(e), n_buckets=8
    )
    _run_index_stream(stream, sink, work)
    return pq_recon_from_index(sink.state(spark), cb)


def _dedup_index_oracle() -> str:
    """Full-rebuild oracle for sq_dedup_index_stream: the batch
    dedup_minhash_lsh pair CTE chain evaluated over the POST-CDC live
    documents (updated ids carry the appended marker text, deleted ids
    excluded).  The chain is reused verbatim with its document source
    swapped to the docs_live CTE — the assert guards the single
    substitution point so a reworded template cannot silently leave the
    oracle reading the base table."""
    from cdc_platform_spark.operators.dedup import _ORACLE_MINHASH_PAIR_CTES

    assert _ORACLE_MINHASH_PAIR_CTES.count("FROM documents") == 1
    ctes = _ORACLE_MINHASH_PAIR_CTES.replace("FROM documents", "FROM docs_live")
    return f"""
        WITH docs_live AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' spark dedup stream spark dedup stream'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 3
        ),
        {ctes}
        SELECT da AS doc_a, db AS doc_b, n_common, jaccard
        FROM scored
        ORDER BY doc_a, doc_b
    """


@register(
    "sq_dedup_index_stream",
    category="streaming",
    doc=(
        "Incremental near-dup detection as a driver-checkable artifact: a "
        "document CDC stream - full insert wave, then updates (marker text "
        "appended, doc_id % 7 = 0) and deletes (doc_id % 11 = 3) - driven "
        "availableNow through BucketedMinHashIndexSink, which maintains "
        "the LSH signature index, the band-bucketed probe view AND the "
        "verified pair view incrementally in the per-bucket copy-on-write "
        "layout: each micro-batch hashes ONLY its own documents, "
        "candidates come from the batch's band rows probing ONLY the band "
        "buckets they hash into (DPP-pruned scan, currency-checked "
        "against the live index), exact Jaccard runs on candidates only, "
        "and updates/deletes retract their stale pairs per-bucket. The "
        "final pair view must equal the from-scratch batch "
        "dedup_minhash_lsh result over the live documents - which is what "
        "the oracle computes."
    ),
    oracle=_dedup_index_oracle(),
)
def sq_dedup_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.dedup_index import BucketedMinHashIndexSink

    work = _workdir("sq_dedupidx_")
    stream = _stage_document_cdc(spark, sf_dir, work)
    sink = BucketedMinHashIndexSink(f"{work}/dedup")
    _run_index_stream(stream, sink, work)
    return sink.pairs(spark).orderBy("doc_a", "doc_b")


def _span_dedup_oracle() -> str:
    """Full-rebuild oracle for sq_span_dedup_stream: the batch
    dedup_span_ngram query evaluated over the POST-CDC live documents —
    the same docs_live CTE recipe as every other _stage_document_cdc
    oracle, with the span CTE chain built from the SAME constants/SQL
    fragments the batch operator's oracle uses (SPAN_NGRAM,
    _SPAN_GRAMS_DUCK, ORACLE_MD5_60BIT), so the two cannot drift."""
    from cdc_platform_spark.operators.dedup import (
        ORACLE_MD5_60BIT,
        SPAN_FLAG_THRESHOLD,
        SPAN_NGRAM,
        _SPAN_GRAMS_DUCK,
    )

    return f"""
        WITH docs_live AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' spark dedup stream spark dedup stream'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 3
        ),
        w AS (SELECT doc_id, str_split(text, ' ') AS words FROM docs_live),
        g AS (
            SELECT doc_id, {ORACLE_MD5_60BIT.format(x="gram")} AS gh
            FROM (SELECT doc_id, unnest({_SPAN_GRAMS_DUCK}) AS gram FROM w)
        ),
        dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
        hits AS (
            SELECT g.doc_id, COUNT(*) AS n_shared_spans
            FROM g JOIN dup USING (gh) GROUP BY g.doc_id
        ),
        base AS (SELECT doc_id, len({_SPAN_GRAMS_DUCK}) AS n_spans FROM w WHERE len(words) >= {SPAN_NGRAM})
        SELECT base.doc_id,
               CAST(n_spans AS BIGINT) AS n_spans,
               CAST(COALESCE(n_shared_spans, 0) AS BIGINT) AS n_shared_spans,
               CAST(COALESCE(n_shared_spans, 0) AS DOUBLE) / n_spans AS shared_fraction,
               CAST(CAST(COALESCE(n_shared_spans, 0) AS DOUBLE) / n_spans > {SPAN_FLAG_THRESHOLD}
                    AS BIGINT) AS is_flagged
        FROM base LEFT JOIN hits USING (doc_id)
        ORDER BY base.doc_id
    """


@register(
    "sq_span_dedup_stream",
    category="streaming",
    doc=(
        "Incremental cross-document duplicated-span statistics as a "
        "driver-checkable artifact: the shared document CDC stream (full "
        "insert wave, then marker-text updates doc_id % 7 = 0 and deletes "
        "doc_id % 11 = 3) driven availableNow through "
        "BucketedSpanIndexSink, which maintains an EXACT span posting "
        "store plus per-document shared-span statistics incrementally - "
        "each micro-batch explodes ONLY its own documents' grams, "
        "retracts old postings via the pre-merge per-doc index (which "
        "commits LAST, the replay anchor), detects df>=2 threshold "
        "crossings from replay-stable counts, and recomputes statistics "
        "for exactly the affected documents. The final served stats must "
        "equal the from-scratch batch dedup_span_ngram over the live "
        "documents - which is what the oracle computes."
    ),
    oracle=_span_dedup_oracle(),
)
def sq_span_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.streaming.span_index import BucketedSpanIndexSink

    work = _workdir("sq_spanidx_")
    stream = _stage_document_cdc(spark, sf_dir, work)
    sink = BucketedSpanIndexSink(f"{work}/span")
    _run_index_stream(stream, sink, work)
    return sink.span_stats(spark).orderBy("doc_id")


def _corpus_curation_oracle() -> str:
    """Oracle for sq_corpus_curation_stream: the batch curation funnel
    (quality filter -> exact dedup -> near-dup suppression) evaluated over
    the POST-CDC live documents.  Quality thresholds and the pair CTE
    chain are the canonical definitions (text.curation_survivors /
    dedup._ORACLE_MINHASH_PAIR_CTES) with the document source swapped to
    the docs_live CTE."""
    from cdc_platform_spark.operators.dedup import _ORACLE_MINHASH_PAIR_CTES
    from cdc_platform_spark.operators.text import (
        CURATION_MIN_DISTINCT_RATIO,
        CURATION_MIN_WORDS,
    )

    assert _ORACLE_MINHASH_PAIR_CTES.count("FROM documents") == 1
    ctes = _ORACLE_MINHASH_PAIR_CTES.replace("FROM documents", "FROM docs_live")
    return f"""
        WITH docs_live AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' spark dedup stream spark dedup stream'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 3
        ),
        {ctes},
        qdocs AS (
            SELECT doc_id, str_split(text, ' ') AS words, md5(text) AS content_md5
            FROM docs_live
        ),
        qual AS (
            SELECT doc_id, content_md5,
                   CAST(len(words) AS BIGINT) AS n_words,
                   CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS distinct_ratio
            FROM qdocs
            WHERE len(words) >= {CURATION_MIN_WORDS}
              AND CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
                  >= {CURATION_MIN_DISTINCT_RATIO}
        ),
        qcanon AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS rn
                FROM qual) WHERE rn = 1
        ),
        suppressed AS (SELECT DISTINCT db AS doc_id FROM scored)
        SELECT q.doc_id, q.n_words, q.distinct_ratio
        FROM qcanon q LEFT JOIN suppressed s ON q.doc_id = s.doc_id
        WHERE s.doc_id IS NULL
        ORDER BY q.doc_id
    """


@register(
    "sq_corpus_curation_stream",
    category="streaming",
    doc=(
        "The full LLM training-data curation funnel as ONE incrementally "
        "maintained artifact: the same document CDC stream as "
        "sq_dedup_index_stream drives CuratedCorpusSink (the bucketed "
        "near-dup index retaining text), and curated() then serves the "
        "corpus a training run would read — latest live docs -> quality "
        "filter (the exact batch curation_survivors thresholds) -> exact "
        "dedup (lowest doc_id per content md5) -> near-dup suppression "
        "(drop doc_b of every maintained verified pair). Must equal the "
        "batch funnel over the post-CDC live documents."
    ),
    oracle=_corpus_curation_oracle(),
)
def sq_corpus_curation_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    work = _workdir("sq_curation_")
    stream = _stage_document_cdc(spark, sf_dir, work)
    sink = CuratedCorpusSink(f"{work}/corpus")
    _run_index_stream(stream, sink, work)
    return sink.curated(spark).orderBy("doc_id")


def _span_filtered_curation_oracle() -> str:
    """Oracle for sq_span_filtered_curation_stream: the batch curation
    funnel COMPOSED with the span-flag drop rule, all over the POST-CDC
    live documents — the curation CTE chain is the canonical
    _corpus_curation_oracle recipe, the span CTE chain the canonical
    _span_dedup_oracle recipe (same constants/SQL fragments as the batch
    operators), and a document appears iff it survives the funnel AND is
    not span-flagged."""
    from cdc_platform_spark.operators.dedup import (
        ORACLE_MD5_60BIT,
        SPAN_FLAG_THRESHOLD,
        SPAN_NGRAM,
        _ORACLE_MINHASH_PAIR_CTES,
        _SPAN_GRAMS_DUCK,
    )
    from cdc_platform_spark.operators.text import (
        CURATION_MIN_DISTINCT_RATIO,
        CURATION_MIN_WORDS,
    )

    assert _ORACLE_MINHASH_PAIR_CTES.count("FROM documents") == 1
    ctes = _ORACLE_MINHASH_PAIR_CTES.replace("FROM documents", "FROM docs_live")
    return f"""
        WITH docs_live AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' spark dedup stream spark dedup stream'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 3
        ),
        {ctes},
        qdocs AS (
            SELECT doc_id, str_split(text, ' ') AS words, md5(text) AS content_md5
            FROM docs_live
        ),
        qual AS (
            SELECT doc_id, content_md5,
                   CAST(len(words) AS BIGINT) AS n_words,
                   CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS distinct_ratio
            FROM qdocs
            WHERE len(words) >= {CURATION_MIN_WORDS}
              AND CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
                  >= {CURATION_MIN_DISTINCT_RATIO}
        ),
        qcanon AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS rn
                FROM qual) WHERE rn = 1
        ),
        suppressed AS (SELECT DISTINCT db AS doc_id FROM scored),
        sw AS (SELECT doc_id, str_split(text, ' ') AS words FROM docs_live),
        sg AS (
            SELECT doc_id, {ORACLE_MD5_60BIT.format(x="gram")} AS gh
            FROM (SELECT doc_id, unnest({_SPAN_GRAMS_DUCK}) AS gram FROM sw)
        ),
        sdup AS (SELECT gh FROM sg GROUP BY gh HAVING COUNT(*) >= 2),
        shits AS (
            SELECT sg.doc_id, COUNT(*) AS n_shared_spans
            FROM sg JOIN sdup USING (gh) GROUP BY sg.doc_id
        ),
        sbase AS (SELECT doc_id, len({_SPAN_GRAMS_DUCK}) AS n_spans FROM sw WHERE len(words) >= {SPAN_NGRAM}),
        flagged AS (
            SELECT sbase.doc_id
            FROM sbase LEFT JOIN shits USING (doc_id)
            WHERE CAST(COALESCE(n_shared_spans, 0) AS DOUBLE) / n_spans > {SPAN_FLAG_THRESHOLD}
        )
        SELECT q.doc_id, q.n_words, q.distinct_ratio
        FROM qcanon q
        LEFT JOIN suppressed s ON q.doc_id = s.doc_id
        LEFT JOIN flagged f ON q.doc_id = f.doc_id
        WHERE s.doc_id IS NULL AND f.doc_id IS NULL
        ORDER BY q.doc_id
    """


@register(
    "sq_span_filtered_curation_stream",
    category="streaming",
    doc=(
        "The curation funnel COMPOSED with the span-level dedup signal "
        "(round 12): the shared document CDC stream drives BOTH "
        "CuratedCorpusSink and BucketedSpanIndexSink per micro-batch, and "
        "curated_span_filtered() then serves the corpus with the "
        "RefinedWeb-style boilerplate drop applied - quality filter -> "
        "exact dedup -> near-dup suppression -> drop every document whose "
        "duplicated-span fraction exceeds the flag threshold (no "
        "canonical survivor: span-flagged material exists elsewhere). "
        "Must equal the batch funnel composed with the batch "
        "dedup_span_ngram flag rule over the post-CDC live documents."
    ),
    oracle=_span_filtered_curation_oracle(),
)
def sq_span_filtered_curation_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink
    from cdc_platform_spark.streaming.span_index import BucketedSpanIndexSink

    work = _workdir("sq_spancur_")
    stream = _stage_document_cdc(spark, sf_dir, work)
    corpus = CuratedCorpusSink(f"{work}/corpus")
    span = BucketedSpanIndexSink(f"{work}/span")

    def write_both(batch, _bid) -> None:
        corpus.write(batch)
        span.write(batch)

    q = (
        stream.writeStream.foreachBatch(write_both)
        .option("checkpointLocation", f"{work}/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return corpus.curated_span_filtered(spark, span.span_stats(spark)).orderBy("doc_id")


def _decontaminated_curation_oracle() -> str:
    """Oracle for sq_decontaminated_curation_stream: the batch curation
    funnel (quality -> exact dedup -> near-dup suppression) COMPOSED with
    the text_decontaminate overlap rule, all over the POST-CDC live
    documents — benchmark docs (doc_id % DECON_BENCH_MOD == 0) are
    dropped outright, and any other document sharing a word
    DECON_NGRAM-gram with a live benchmark document is dropped too."""
    from cdc_platform_spark.operators.dedup import (
        ORACLE_MD5_60BIT,
        _ORACLE_MINHASH_PAIR_CTES,
    )
    from cdc_platform_spark.operators.text import (
        _DECON_GRAMS_DUCK,
        CURATION_MIN_DISTINCT_RATIO,
        CURATION_MIN_WORDS,
        DECON_BENCH_MOD,
    )

    assert _ORACLE_MINHASH_PAIR_CTES.count("FROM documents") == 1
    ctes = _ORACLE_MINHASH_PAIR_CTES.replace("FROM documents", "FROM docs_live")
    return f"""
        WITH docs_live AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' spark dedup stream spark dedup stream'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 3
        ),
        {ctes},
        qdocs AS (
            SELECT doc_id, str_split(text, ' ') AS words, md5(text) AS content_md5
            FROM docs_live
        ),
        qual AS (
            SELECT doc_id, content_md5,
                   CAST(len(words) AS BIGINT) AS n_words,
                   CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS distinct_ratio
            FROM qdocs
            WHERE len(words) >= {CURATION_MIN_WORDS}
              AND CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
                  >= {CURATION_MIN_DISTINCT_RATIO}
        ),
        qcanon AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS rn
                FROM qual) WHERE rn = 1
        ),
        suppressed AS (SELECT DISTINCT db AS doc_id FROM scored),
        dg AS (
            SELECT doc_id, {ORACLE_MD5_60BIT.format(x="gram")} AS gh
            FROM (SELECT doc_id, unnest({_DECON_GRAMS_DUCK}) AS gram FROM qdocs)
        ),
        bench AS (SELECT DISTINCT gh FROM dg WHERE doc_id % {DECON_BENCH_MOD} = 0),
        hits AS (
            SELECT DISTINCT c.doc_id FROM dg c JOIN bench b USING (gh)
            WHERE c.doc_id % {DECON_BENCH_MOD} <> 0
        )
        SELECT q.doc_id, q.n_words, q.distinct_ratio
        FROM qcanon q
        LEFT JOIN suppressed s ON q.doc_id = s.doc_id
        LEFT JOIN hits h ON q.doc_id = h.doc_id
        WHERE s.doc_id IS NULL AND h.doc_id IS NULL
          AND q.doc_id % {DECON_BENCH_MOD} <> 0
        ORDER BY q.doc_id
    """


@register(
    "sq_decontaminated_curation_stream",
    category="streaming",
    doc=(
        "The curation funnel with benchmark DECONTAMINATION composed in — "
        "the same document CDC stream as sq_corpus_curation_stream drives "
        "CuratedCorpusSink, whose write path now also stores each version's "
        "word 8-gram hashes (the exact batch text_decontaminate "
        "expression); decontaminated() then serves curated() minus the "
        "benchmark partition minus every document sharing a gram with a "
        "LIVE benchmark document. Incremental on both sides: corpus "
        "updates re-gram only touched docs, bench updates/deletes retract "
        "contamination on the next read. Must equal the batch funnel "
        "composed with the text_decontaminate overlap rule post-CDC."
    ),
    oracle=_decontaminated_curation_oracle(),
)
def sq_decontaminated_curation_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    work = _workdir("sq_decon_curation_")
    stream = _stage_document_cdc(spark, sf_dir, work)
    sink = CuratedCorpusSink(f"{work}/corpus")
    _run_index_stream(stream, sink, work)
    return sink.decontaminated(spark).orderBy("doc_id")


def _mix_sample_oracle() -> str:
    """Oracle for sq_mix_sample_stream: the batch temperature-resample
    rule (sqrt-law targets, md5-ordered picks) applied to the POST-CDC
    curated corpus (quality -> exact dedup -> near-dup suppression) with
    each live document's (lang, source) domain."""
    from cdc_platform_spark.operators.curation import TEMP_SAMPLE_MULT
    from cdc_platform_spark.operators.dedup import _ORACLE_MINHASH_PAIR_CTES
    from cdc_platform_spark.operators.text import (
        CURATION_MIN_DISTINCT_RATIO,
        CURATION_MIN_WORDS,
    )

    assert _ORACLE_MINHASH_PAIR_CTES.count("FROM documents") == 1
    ctes = _ORACLE_MINHASH_PAIR_CTES.replace("FROM documents", "FROM docs_live")
    return f"""
        WITH docs_live AS (
            SELECT doc_id, lang, source,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' spark dedup stream spark dedup stream'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 3
        ),
        {ctes},
        qdocs AS (
            SELECT doc_id, str_split(text, ' ') AS words, md5(text) AS content_md5
            FROM docs_live
        ),
        qual AS (
            SELECT doc_id, content_md5,
                   CAST(len(words) AS BIGINT) AS n_words
            FROM qdocs
            WHERE len(words) >= {CURATION_MIN_WORDS}
              AND CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
                  >= {CURATION_MIN_DISTINCT_RATIO}
        ),
        qcanon AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS rn
                FROM qual) WHERE rn = 1
        ),
        suppressed AS (SELECT DISTINCT db AS doc_id FROM scored),
        cur AS (
            SELECT q.doc_id, d.lang, d.source
            FROM qcanon q
            JOIN docs_live d ON d.doc_id = q.doc_id
            LEFT JOIN suppressed s ON q.doc_id = s.doc_id
            WHERE s.doc_id IS NULL
        ),
        dom AS (SELECT lang, source, COUNT(*) AS n_docs FROM cur GROUP BY lang, source),
        tgt AS (
            SELECT lang, source, CAST(n_docs AS BIGINT) AS domain_docs,
                   CAST(LEAST(n_docs, GREATEST(1, CAST(FLOOR(
                        {TEMP_SAMPLE_MULT} * sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)))
                        AS BIGINT) AS target_docs
            FROM dom
        ),
        ranked AS (
            SELECT lang, source, doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang, source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM cur
        )
        SELECT r.lang, r.source, r.doc_id, CAST(r.rn AS BIGINT) AS sample_rank,
               t.domain_docs, t.target_docs
        FROM ranked r JOIN tgt t ON r.lang = t.lang AND r.source = t.source
        WHERE r.rn <= t.target_docs
        ORDER BY r.lang, r.source, sample_rank
    """


def _mix_sample_tokens_oracle() -> str:
    """Oracle for sq_mix_sample_tokens_stream: the batch
    token_budget_sample rule (sqrt-law TOKEN budgets, md5-ordered fill,
    boundary doc kept) over the POST-CDC curated corpus."""
    from cdc_platform_spark.operators.curation import TOKEN_BUDGET_MULT
    from cdc_platform_spark.operators.dedup import _ORACLE_MINHASH_PAIR_CTES
    from cdc_platform_spark.operators.text import (
        CURATION_MIN_DISTINCT_RATIO,
        CURATION_MIN_WORDS,
    )

    assert _ORACLE_MINHASH_PAIR_CTES.count("FROM documents") == 1
    ctes = _ORACLE_MINHASH_PAIR_CTES.replace("FROM documents", "FROM docs_live")
    return f"""
        WITH docs_live AS (
            SELECT doc_id, lang, source,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' spark dedup stream spark dedup stream'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 3
        ),
        {ctes},
        qdocs AS (
            SELECT doc_id, str_split(text, ' ') AS words, md5(text) AS content_md5
            FROM docs_live
        ),
        qual AS (
            SELECT doc_id, content_md5,
                   CAST(len(words) AS BIGINT) AS n_words
            FROM qdocs
            WHERE len(words) >= {CURATION_MIN_WORDS}
              AND CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
                  >= {CURATION_MIN_DISTINCT_RATIO}
        ),
        qcanon AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS rn
                FROM qual) WHERE rn = 1
        ),
        suppressed AS (SELECT DISTINCT db AS doc_id FROM scored),
        cur AS (
            SELECT q.doc_id, d.lang, d.source, q.n_words
            FROM qcanon q
            JOIN docs_live d ON d.doc_id = q.doc_id
            LEFT JOIN suppressed s ON q.doc_id = s.doc_id
            WHERE s.doc_id IS NULL
        ),
        dom AS (
            SELECT lang, source, SUM(n_words) AS total_tokens
            FROM cur GROUP BY lang, source
        ),
        tgt AS (
            SELECT lang, source,
                   CAST(LEAST(total_tokens, GREATEST(1, CAST(FLOOR(
                        {TOKEN_BUDGET_MULT} * sqrt(CAST(total_tokens AS DOUBLE))) AS BIGINT)))
                        AS BIGINT) AS target_tokens
            FROM dom
        ),
        ranked AS (
            SELECT lang, source, doc_id, n_words,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang, source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
                   SUM(n_words) OVER (
                       PARTITION BY lang, source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
            FROM cur
        )
        SELECT r.lang, r.source, r.doc_id, r.n_words,
               CAST(r.rn AS BIGINT) AS sample_rank,
               CAST(r.cum_tokens AS BIGINT) AS cum_tokens,
               t.target_tokens
        FROM ranked r JOIN tgt t ON r.lang = t.lang AND r.source = t.source
        WHERE r.cum_tokens - r.n_words < t.target_tokens
        ORDER BY r.lang, r.source, sample_rank
    """


@register(
    "sq_mix_sample_tokens_stream",
    category="streaming",
    doc=(
        "The TOKEN-budgeted training mix served from maintained state: "
        "the same document CDC stream as sq_mix_sample_stream drives "
        "CuratedCorpusSink, then mix_sample_tokens() applies the batch "
        "token_budget_sample rule (sqrt-law token budgets per domain, "
        "md5-ordered fill, boundary doc kept — one shared definition) to "
        "the live curated corpus with word counts from the WRITE-TIME "
        "n_words metric. Training budgets are denominated in tokens; this "
        "is the pool a scheduler provisions. Must equal the batch rule "
        "over the post-CDC curation funnel output."
    ),
    oracle=_mix_sample_tokens_oracle(),
)
def sq_mix_sample_tokens_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    work = _workdir("sq_mix_tokens_")
    stream = _stage_document_cdc(spark, sf_dir, work, domains=True)
    sink = CuratedCorpusSink(f"{work}/corpus")
    _run_index_stream(stream, sink, work)
    return sink.mix_sample_tokens(spark).orderBy("lang", "source", "sample_rank")


def _mix_sample_decon_oracle() -> str:
    """Oracle for sq_mix_sample_decon_stream: the batch
    temperature-resample rule over the POST-CDC curated corpus with
    benchmark DECONTAMINATION composed in — the pool a pretraining
    scheduler actually draws from (never eval docs or their leaks)."""
    from cdc_platform_spark.operators.curation import TEMP_SAMPLE_MULT
    from cdc_platform_spark.operators.dedup import (
        ORACLE_MD5_60BIT,
        _ORACLE_MINHASH_PAIR_CTES,
    )
    from cdc_platform_spark.operators.text import (
        _DECON_GRAMS_DUCK,
        CURATION_MIN_DISTINCT_RATIO,
        CURATION_MIN_WORDS,
        DECON_BENCH_MOD,
    )

    assert _ORACLE_MINHASH_PAIR_CTES.count("FROM documents") == 1
    ctes = _ORACLE_MINHASH_PAIR_CTES.replace("FROM documents", "FROM docs_live")
    return f"""
        WITH docs_live AS (
            SELECT doc_id, lang, source,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' spark dedup stream spark dedup stream'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 3
        ),
        {ctes},
        qdocs AS (
            SELECT doc_id, str_split(text, ' ') AS words, md5(text) AS content_md5
            FROM docs_live
        ),
        qual AS (
            SELECT doc_id, content_md5,
                   CAST(len(words) AS BIGINT) AS n_words
            FROM qdocs
            WHERE len(words) >= {CURATION_MIN_WORDS}
              AND CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
                  >= {CURATION_MIN_DISTINCT_RATIO}
        ),
        qcanon AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS rn
                FROM qual) WHERE rn = 1
        ),
        suppressed AS (SELECT DISTINCT db AS doc_id FROM scored),
        dg AS (
            SELECT doc_id, {ORACLE_MD5_60BIT.format(x="gram")} AS gh
            FROM (SELECT doc_id, unnest({_DECON_GRAMS_DUCK}) AS gram FROM qdocs)
        ),
        bench AS (SELECT DISTINCT gh FROM dg WHERE doc_id % {DECON_BENCH_MOD} = 0),
        hits AS (
            SELECT DISTINCT c.doc_id FROM dg c JOIN bench b USING (gh)
            WHERE c.doc_id % {DECON_BENCH_MOD} <> 0
        ),
        cur AS (
            SELECT q.doc_id, d.lang, d.source
            FROM qcanon q
            JOIN docs_live d ON d.doc_id = q.doc_id
            LEFT JOIN suppressed s ON q.doc_id = s.doc_id
            LEFT JOIN hits h ON q.doc_id = h.doc_id
            WHERE s.doc_id IS NULL AND h.doc_id IS NULL
              AND q.doc_id % {DECON_BENCH_MOD} <> 0
        ),
        dom AS (SELECT lang, source, COUNT(*) AS n_docs FROM cur GROUP BY lang, source),
        tgt AS (
            SELECT lang, source, CAST(n_docs AS BIGINT) AS domain_docs,
                   CAST(LEAST(n_docs, GREATEST(1, CAST(FLOOR(
                        {TEMP_SAMPLE_MULT} * sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)))
                        AS BIGINT) AS target_docs
            FROM dom
        ),
        ranked AS (
            SELECT lang, source, doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang, source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM cur
        )
        SELECT r.lang, r.source, r.doc_id, CAST(r.rn AS BIGINT) AS sample_rank,
               t.domain_docs, t.target_docs
        FROM ranked r JOIN tgt t ON r.lang = t.lang AND r.source = t.source
        WHERE r.rn <= t.target_docs
        ORDER BY r.lang, r.source, sample_rank
    """


@register(
    "sq_mix_sample_decon_stream",
    category="streaming",
    doc=(
        "The training mix drawn from the DECONTAMINATED corpus — "
        "mix_sample(decontaminated=True): the same document CDC stream as "
        "sq_mix_sample_stream, with the resample pool additionally "
        "excluding the benchmark partition and every document sharing a "
        "word 8-gram with a live benchmark document (the maintained "
        "leak-evidence view). This is the composition a pretraining "
        "scheduler actually consumes: never mix in eval docs or their "
        "leaks. Must equal the batch temperature_resample applied to the "
        "post-CDC decontaminated funnel output."
    ),
    oracle=_mix_sample_decon_oracle(),
)
def sq_mix_sample_decon_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    work = _workdir("sq_mix_sample_decon_")
    stream = _stage_document_cdc(spark, sf_dir, work, domains=True)
    sink = CuratedCorpusSink(f"{work}/corpus")
    _run_index_stream(stream, sink, work)
    return sink.mix_sample(spark, decontaminated=True).orderBy(
        "lang", "source", "sample_rank"
    )


def _mix_tokens_decon_oracle() -> str:
    """Oracle for sq_mix_tokens_decon_stream: the batch
    token_budget_sample rule (sqrt-law TOKEN budgets, md5-ordered fill,
    boundary doc kept) over the POST-CDC DECONTAMINATED corpus — the
    token pool a pretraining scheduler actually provisions (never eval
    docs or their leaks)."""
    from cdc_platform_spark.operators.curation import TOKEN_BUDGET_MULT
    from cdc_platform_spark.operators.dedup import (
        ORACLE_MD5_60BIT,
        _ORACLE_MINHASH_PAIR_CTES,
    )
    from cdc_platform_spark.operators.text import (
        _DECON_GRAMS_DUCK,
        CURATION_MIN_DISTINCT_RATIO,
        CURATION_MIN_WORDS,
        DECON_BENCH_MOD,
    )

    assert _ORACLE_MINHASH_PAIR_CTES.count("FROM documents") == 1
    ctes = _ORACLE_MINHASH_PAIR_CTES.replace("FROM documents", "FROM docs_live")
    return f"""
        WITH docs_live AS (
            SELECT doc_id, lang, source,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' spark dedup stream spark dedup stream'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 3
        ),
        {ctes},
        qdocs AS (
            SELECT doc_id, str_split(text, ' ') AS words, md5(text) AS content_md5
            FROM docs_live
        ),
        qual AS (
            SELECT doc_id, content_md5,
                   CAST(len(words) AS BIGINT) AS n_words
            FROM qdocs
            WHERE len(words) >= {CURATION_MIN_WORDS}
              AND CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
                  >= {CURATION_MIN_DISTINCT_RATIO}
        ),
        qcanon AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS rn
                FROM qual) WHERE rn = 1
        ),
        suppressed AS (SELECT DISTINCT db AS doc_id FROM scored),
        dg AS (
            SELECT doc_id, {ORACLE_MD5_60BIT.format(x="gram")} AS gh
            FROM (SELECT doc_id, unnest({_DECON_GRAMS_DUCK}) AS gram FROM qdocs)
        ),
        bench AS (SELECT DISTINCT gh FROM dg WHERE doc_id % {DECON_BENCH_MOD} = 0),
        hits AS (
            SELECT DISTINCT c.doc_id FROM dg c JOIN bench b USING (gh)
            WHERE c.doc_id % {DECON_BENCH_MOD} <> 0
        ),
        cur AS (
            SELECT q.doc_id, d.lang, d.source, q.n_words
            FROM qcanon q
            JOIN docs_live d ON d.doc_id = q.doc_id
            LEFT JOIN suppressed s ON q.doc_id = s.doc_id
            LEFT JOIN hits h ON q.doc_id = h.doc_id
            WHERE s.doc_id IS NULL AND h.doc_id IS NULL
              AND q.doc_id % {DECON_BENCH_MOD} <> 0
        ),
        dom AS (
            SELECT lang, source, SUM(n_words) AS total_tokens
            FROM cur GROUP BY lang, source
        ),
        tgt AS (
            SELECT lang, source,
                   CAST(LEAST(total_tokens, GREATEST(1, CAST(FLOOR(
                        {TOKEN_BUDGET_MULT} * sqrt(CAST(total_tokens AS DOUBLE))) AS BIGINT)))
                        AS BIGINT) AS target_tokens
            FROM dom
        ),
        ranked AS (
            SELECT lang, source, doc_id, n_words,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang, source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
                   SUM(n_words) OVER (
                       PARTITION BY lang, source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
            FROM cur
        )
        SELECT r.lang, r.source, r.doc_id, r.n_words,
               CAST(r.rn AS BIGINT) AS sample_rank,
               CAST(r.cum_tokens AS BIGINT) AS cum_tokens,
               t.target_tokens
        FROM ranked r JOIN tgt t ON r.lang = t.lang AND r.source = t.source
        WHERE r.cum_tokens - r.n_words < t.target_tokens
        ORDER BY r.lang, r.source, sample_rank
    """


@register(
    "sq_mix_tokens_decon_stream",
    category="streaming",
    doc=(
        "The TOKEN-budgeted training mix drawn from the DECONTAMINATED "
        "corpus — mix_sample_tokens(decontaminated=True): the same "
        "document CDC stream as sq_mix_sample_tokens_stream, with the "
        "budget pool additionally excluding the benchmark partition and "
        "every document sharing a word 8-gram with a live benchmark "
        "document (the maintained leak-evidence view). Training budgets "
        "are denominated in tokens and schedulers must never provision "
        "eval docs or their leaks — this is the read they actually hit. "
        "Must equal the batch token_budget_sample applied to the post-CDC "
        "decontaminated funnel output."
    ),
    oracle=_mix_tokens_decon_oracle(),
)
def sq_mix_tokens_decon_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    work = _workdir("sq_mix_tokens_decon_")
    stream = _stage_document_cdc(spark, sf_dir, work, domains=True)
    sink = CuratedCorpusSink(f"{work}/corpus")
    _run_index_stream(stream, sink, work)
    return sink.mix_sample_tokens(spark, decontaminated=True).orderBy(
        "lang", "source", "sample_rank"
    )


def _contamination_report_oracle() -> str:
    """Oracle for sq_contamination_report_stream: the batch
    text_contamination_report attribution over the POST-CDC live docs.
    ``stop_gram_cap`` yields the CAPPED variant (boilerplate grams with
    corpus DF > cap excluded as evidence) for
    sq_contamination_capped_stream."""
    return _contamination_report_oracle_capped(None)


def _contamination_report_oracle_capped(stop_gram_cap: int | None) -> str:
    from cdc_platform_spark.operators.dedup import ORACLE_MD5_60BIT
    from cdc_platform_spark.operators.text import _DECON_GRAMS_DUCK, DECON_BENCH_MOD

    corpus_cte = "SELECT doc_id, gh FROM g WHERE doc_id % {m} <> 0".format(
        m=DECON_BENCH_MOD
    )
    if stop_gram_cap is not None:
        corpus_cte = f"""
            SELECT doc_id, gh FROM ({corpus_cte})
            WHERE gh NOT IN (
                SELECT gh FROM ({corpus_cte}) GROUP BY gh
                HAVING COUNT(DISTINCT doc_id) > {stop_gram_cap}
            )
        """
    return f"""
        WITH docs_live AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' spark dedup stream spark dedup stream'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 3
        ),
        w AS (SELECT doc_id, str_split(text, ' ') AS words FROM docs_live),
        g AS (
            SELECT doc_id, {ORACLE_MD5_60BIT.format(x="gram")} AS gh
            FROM (SELECT doc_id, unnest({_DECON_GRAMS_DUCK}) AS gram FROM w)
        ),
        bench AS (SELECT doc_id AS bench_id, gh FROM g WHERE doc_id % {DECON_BENCH_MOD} = 0),
        corpus AS ({corpus_cte}),
        leaks AS (
            SELECT b.bench_id,
                   COUNT(DISTINCT c.doc_id) AS n_leaking_docs,
                   COUNT(DISTINCT b.gh) AS n_leaked_grams
            FROM bench b JOIN corpus c USING (gh)
            GROUP BY b.bench_id
        ),
        base AS (
            SELECT doc_id AS bench_id, len({_DECON_GRAMS_DUCK}) AS n_grams
            FROM w WHERE doc_id % {DECON_BENCH_MOD} = 0
        )
        SELECT base.bench_id,
               CAST(n_grams AS BIGINT) AS n_grams,
               CAST(COALESCE(n_leaked_grams, 0) AS BIGINT) AS n_leaked_grams,
               CAST(COALESCE(n_leaking_docs, 0) AS BIGINT) AS n_leaking_docs,
               CASE WHEN n_grams > 0
                    THEN CAST(COALESCE(n_leaked_grams, 0) AS DOUBLE) / n_grams END AS leak_ratio
        FROM base LEFT JOIN leaks USING (bench_id)
        ORDER BY bench_id
    """


def _dedup_rate_stream_oracle() -> str:
    """Oracle for sq_dedup_rate_stream: the batch dedup_rate_by_domain
    rollup evaluated over the POST-CDC live documents."""
    from cdc_platform_spark.operators.dedup import _ORACLE_MINHASH_PAIR_CTES

    assert _ORACLE_MINHASH_PAIR_CTES.count("FROM documents") == 1
    ctes = _ORACLE_MINHASH_PAIR_CTES.replace("FROM documents", "FROM docs_live")
    return f"""
        WITH docs_live AS (
            SELECT doc_id, lang, source,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' spark dedup stream spark dedup stream'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 3
        ),
        {ctes},
        supp AS (SELECT DISTINCT db AS doc_id FROM scored),
        flags AS (
            SELECT d.doc_id, d.lang, d.source,
                   CASE WHEN d.doc_id > MIN(d2.doc_id) THEN 1 ELSE 0 END AS is_exact_dup,
                   CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_near_dup
            FROM docs_live d
            JOIN docs_live d2 ON md5(d2.text) = md5(d.text)
            LEFT JOIN supp s ON s.doc_id = d.doc_id
            GROUP BY d.doc_id, d.lang, d.source, s.doc_id
        )
        SELECT lang, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(is_exact_dup) AS BIGINT) AS n_exact_dups,
               CAST(SUM(is_near_dup) AS BIGINT) AS n_near_dup_suppressed,
               CAST(SUM(CASE WHEN is_exact_dup = 0 AND is_near_dup = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
               1.0 - CAST(SUM(CASE WHEN is_exact_dup = 0 AND is_near_dup = 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_rate
        FROM flags
        GROUP BY lang, source
        ORDER BY lang, source
    """


@register(
    "sq_dedup_rate_stream",
    category="streaming",
    doc=(
        "The per-domain dedup dashboard served from maintained state: the "
        "document CDC stream (carrying (lang, source)) drives "
        "CuratedCorpusSink, and dedup_rate_by_domain() rolls up exact-dup "
        "counts (write-time content_md5), near-dup-suppressed counts (the "
        "maintained pair view) and dup rate per domain — no re-hash, no "
        "re-shingle. Must equal the batch dedup_rate_by_domain rollup "
        "over the post-CDC live documents."
    ),
    oracle=_dedup_rate_stream_oracle(),
)
def sq_dedup_rate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    work = _workdir("sq_dedup_rate_")
    stream = _stage_document_cdc(spark, sf_dir, work, domains=True)
    sink = CuratedCorpusSink(f"{work}/corpus")
    _run_index_stream(stream, sink, work)
    return sink.dedup_rate_by_domain(spark).orderBy("lang", "source")


@register(
    "sq_contamination_report_stream",
    category="streaming",
    doc=(
        "Contamination attribution served from maintained state: the "
        "document CDC stream drives CuratedCorpusSink, and "
        "contamination_report() answers per live BENCHMARK doc how many "
        "live corpus docs leak it (share a word 8-gram) and how many of "
        "its grams are leaked — from the write-time gram hashes, never "
        "re-tokenizing. Must equal the batch text_contamination_report "
        "semantics over the post-CDC live documents."
    ),
    oracle=_contamination_report_oracle(),
)
def sq_contamination_report_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    work = _workdir("sq_contam_report_")
    stream = _stage_document_cdc(spark, sf_dir, work)
    sink = CuratedCorpusSink(f"{work}/corpus")
    _run_index_stream(stream, sink, work)
    return sink.contamination_report(spark).orderBy("bench_id")


def _sq_contamination_capped_oracle() -> str:
    from cdc_platform_spark.operators.text import STOP_GRAM_DOC_FREQ_CAP

    return _contamination_report_oracle_capped(STOP_GRAM_DOC_FREQ_CAP)


@register(
    "sq_contamination_capped_stream",
    category="streaming",
    doc=(
        "Contamination attribution with the OPT-IN stop-gram cap served "
        "from maintained state: contamination_report(stop_gram_cap=N) "
        "excludes boilerplate grams (live-corpus doc frequency > cap) as "
        "leak evidence — the skew/noise valve for web-scale corpora. DF "
        "per gram is derived from the maintained leak triples themselves "
        "(every live corpus doc carrying a bench gram has a triple, so "
        "the view count IS the corpus DF): the capped read stays O(leak "
        "evidence). Must equal the batch "
        "text_contamination_report_capped semantics over the post-CDC "
        "live documents."
    ),
    oracle=_sq_contamination_capped_oracle(),
)
def sq_contamination_capped_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.operators.text import STOP_GRAM_DOC_FREQ_CAP
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    work = _workdir("sq_contam_capped_")
    stream = _stage_document_cdc(spark, sf_dir, work)
    sink = CuratedCorpusSink(f"{work}/corpus")
    _run_index_stream(stream, sink, work)
    return sink.contamination_report(
        spark, stop_gram_cap=STOP_GRAM_DOC_FREQ_CAP
    ).orderBy("bench_id")


@register(
    "sq_mix_sample_stream",
    category="streaming",
    doc=(
        "The training MIX served from maintained state: the document CDC "
        "stream (now carrying each doc's (lang, source) domain) drives "
        "CuratedCorpusSink, and mix_sample() applies the batch "
        "temperature_resample body — sqrt-law per-domain targets, "
        "md5-ordered picks, ONE shared definition — to the LIVE curated "
        "corpus. Must equal the batch operator applied to the post-CDC "
        "curation funnel output."
    ),
    oracle=_mix_sample_oracle(),
)
def sq_mix_sample_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    work = _workdir("sq_mix_sample_")
    stream = _stage_document_cdc(spark, sf_dir, work, domains=True)
    sink = CuratedCorpusSink(f"{work}/corpus")
    _run_index_stream(stream, sink, work)
    return sink.mix_sample(spark).orderBy("lang", "source", "sample_rank")


_MM_FEATURE_ORACLE = """
        WITH docs_live AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' spark dedup stream spark dedup stream'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 3
        )
        SELECT doc_id,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               CASE CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 3
                    WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format,
               CAST(16 * (1 + CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) % 120) AS BIGINT) AS width,
               CAST(16 * (1 + (CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) // 120) % 68) AS BIGINT) AS height
        FROM docs_live
        ORDER BY doc_id
    """


@register(
    "sq_mm_feature_store_stream",
    category="streaming",
    doc=(
        "Maintained multimodal FEATURE STORE under asset CDC: binary "
        "payload events (insert wave, updated payloads for doc_id % 7 = 0, "
        "deletes for doc_id % 11 = 3) fold through "
        "MultimodalFeatureStoreSink — each batch's DISTINCT payloads run "
        "the Arrow-batched decode ONCE (content-addressed), metadata joins "
        "back per (doc_id, offset), and the bucketed keyed merge keeps the "
        "latest version per asset with delete tombstones. The served "
        "feature view must equal the batch mm_decode_metadata md5 "
        "arithmetic over the post-CDC live payloads — decode-on-write "
        "replacing decode-on-every-query."
    ),
    oracle=_MM_FEATURE_ORACLE,
)
def sq_mm_feature_store_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.feature_store import MultimodalFeatureStoreSink

    work = _workdir("sq_mmfs_")
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    off = F.col("doc_id") + F.lit(100000000)
    enc = lambda c: F.encode(c, "utf-8")  # noqa: E731
    wave0 = d.select(
        "doc_id",
        F.col("doc_id").alias("offset"),
        F.lit("c").alias("op"),
        enc(F.col("text")).alias("payload"),
    )
    upd = d.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 11 != 3)).select(
        "doc_id",
        off.alias("offset"),
        F.lit("u").alias("op"),
        enc(
            F.concat(F.col("text"), F.lit(" spark dedup stream spark dedup stream"))
        ).alias("payload"),
    )
    dels = d.filter(F.col("doc_id") % 11 == 3).select(
        "doc_id",
        off.alias("offset"),
        F.lit("d").alias("op"),
        F.lit(None).cast("binary").alias("payload"),
    )
    src = f"{work}/source"
    wave0.unionByName(upd).unionByName(dels).repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, offset long, op string, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = MultimodalFeatureStoreSink(f"{work}/features", use_real=False)
    _run_index_stream(stream, sink, work)
    return sink.features(spark).orderBy("doc_id")


def _dedup_clusters_stream_oracle() -> str:
    """Oracle for sq_dedup_clusters_stream: the batch dedup_clusters
    recursive-reachability closure evaluated over the POST-CDC live
    documents (same CTE swap as the other curation-family oracles)."""
    from cdc_platform_spark.operators.dedup import _ORACLE_MINHASH_PAIR_CTES

    ctes = _ORACLE_MINHASH_PAIR_CTES.replace("FROM documents", "FROM docs_live")
    return f"""
        WITH RECURSIVE docs_live AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' spark dedup stream spark dedup stream'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 3
        ),
        {ctes},
        sym AS (
            SELECT da AS s, db AS d FROM scored
            UNION
            SELECT db, da FROM scored
        ),
        reach(s, d) AS (
            SELECT s, d FROM sym
            UNION
            SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s
        )
        SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_id
        FROM reach
        GROUP BY s
        ORDER BY doc_id
    """


@register(
    "sq_dedup_clusters_stream",
    category="streaming",
    doc=(
        "Near-dup CLUSTERS served from the incrementally maintained pair "
        "view: the document CDC stream drives BucketedMinHashIndexSink "
        "(per-batch signature + DPP-pruned band probe + per-bucket pair "
        "retraction), then clusters() runs pointer-jumping connected "
        "components over the maintained pairs at read time — O(pairs), "
        "never a corpus rescan; retraction-induced component SPLITS fall "
        "out naturally because connectivity is re-derived from the live "
        "pair set. Must equal the batch dedup_clusters closure over the "
        "post-CDC live documents."
    ),
    oracle=_dedup_clusters_stream_oracle(),
)
def sq_dedup_clusters_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.dedup_index import BucketedMinHashIndexSink

    work = _workdir("sq_clusters_")
    stream = _stage_document_cdc(spark, sf_dir, work)
    sink = BucketedMinHashIndexSink(f"{work}/dedup")
    _run_index_stream(stream, sink, work)
    return sink.clusters(spark).orderBy("doc_id")


def _cluster_reps_stream_oracle() -> str:
    """Oracle for sq_cluster_reps_stream: the batch
    dedup_cluster_representatives policy (longest member per component,
    ties to the lowest doc_id) over the POST-CDC live documents."""
    from cdc_platform_spark.operators.dedup import _ORACLE_MINHASH_PAIR_CTES

    assert _ORACLE_MINHASH_PAIR_CTES.count("FROM documents") == 1
    ctes = _ORACLE_MINHASH_PAIR_CTES.replace("FROM documents", "FROM docs_live")
    return f"""
        WITH RECURSIVE docs_live AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' spark dedup stream spark dedup stream'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 3
        ),
        {ctes},
        sym AS (
            SELECT da AS s, db AS d FROM scored
            UNION
            SELECT db, da FROM scored
        ),
        reach(s, d) AS (
            SELECT s, d FROM sym
            UNION
            SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s
        ),
        comp AS (
            SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster_id
            FROM reach GROUP BY s
        ),
        scored_docs AS (
            SELECT c.cluster_id, c.doc_id,
                   CAST(len(str_split(d.text, ' ')) AS BIGINT) AS n_words
            FROM comp c JOIN docs_live d ON d.doc_id = c.doc_id
        )
        SELECT cluster_id, doc_id AS rep_doc_id, n_words AS rep_n_words, n_members
        FROM (
            SELECT cluster_id, doc_id, n_words,
                   CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members,
                   ROW_NUMBER() OVER (
                       PARTITION BY cluster_id
                       ORDER BY n_words DESC, doc_id) AS rn
            FROM scored_docs)
        WHERE rn = 1
        ORDER BY cluster_id
    """


@register(
    "sq_cluster_reps_stream",
    category="streaming",
    doc=(
        "Quality-based cluster representatives served from maintained "
        "state: the document CDC stream drives CuratedCorpusSink, then "
        "cluster_representatives() picks the longest member per near-dup "
        "component (ties to the lowest doc_id — the batch "
        "dedup_cluster_representatives policy) with components from the "
        "maintained pair view and lengths from the WRITE-TIME n_words "
        "column — the read never re-tokenizes text. Must equal the batch "
        "policy over the post-CDC live documents."
    ),
    oracle=_cluster_reps_stream_oracle(),
)
def sq_cluster_reps_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    work = _workdir("sq_cluster_reps_")
    stream = _stage_document_cdc(spark, sf_dir, work)
    sink = CuratedCorpusSink(f"{work}/corpus")
    _run_index_stream(stream, sink, work)
    return sink.cluster_representatives(spark).orderBy("cluster_id")


def _curated_shards_oracle() -> str:
    """Oracle for sq_curated_shards_stream: the batch curation funnel over
    the post-CDC live documents, grouped into stable md5-hash shards with
    doc and token totals — the same assignment expression as the sink's
    shard_manifest (shared ORACLE_MD5_60BIT primitive)."""
    from cdc_platform_spark.operators.dedup import (
        _ORACLE_MINHASH_PAIR_CTES,
        ORACLE_MD5_60BIT,
    )
    from cdc_platform_spark.operators.text import (
        CURATION_MIN_DISTINCT_RATIO,
        CURATION_MIN_WORDS,
    )
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    ctes = _ORACLE_MINHASH_PAIR_CTES.replace("FROM documents", "FROM docs_live")
    shard = ORACLE_MD5_60BIT.format(x="CAST(q.doc_id AS VARCHAR)")
    return f"""
        WITH docs_live AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' spark dedup stream spark dedup stream'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 3
        ),
        {ctes},
        qdocs AS (
            SELECT doc_id, str_split(text, ' ') AS words, md5(text) AS content_md5
            FROM docs_live
        ),
        qual AS (
            SELECT doc_id, content_md5,
                   CAST(len(words) AS BIGINT) AS n_words
            FROM qdocs
            WHERE len(words) >= {CURATION_MIN_WORDS}
              AND CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
                  >= {CURATION_MIN_DISTINCT_RATIO}
        ),
        qcanon AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS rn
                FROM qual) WHERE rn = 1
        ),
        suppressed AS (SELECT DISTINCT db AS doc_id FROM scored)
        SELECT {shard} % {CuratedCorpusSink.N_SHARDS} AS shard_id,
               COUNT(*) AS n_docs,
               CAST(SUM(q.n_words) AS BIGINT) AS n_tokens
        FROM qcanon q LEFT JOIN suppressed s ON q.doc_id = s.doc_id
        WHERE s.doc_id IS NULL
        GROUP BY 1
        ORDER BY shard_id
    """


def _curated_export_oracle() -> str:
    """Oracle for sq_curated_export_stream: the decontaminated funnel
    survivors joined back to their post-CDC text with the stable shard
    assignment — the rows a training run actually tokenizes."""
    from cdc_platform_spark.operators.dedup import (
        _ORACLE_MINHASH_PAIR_CTES,
        ORACLE_MD5_60BIT,
    )
    from cdc_platform_spark.operators.text import (
        _DECON_GRAMS_DUCK,
        CURATION_MIN_DISTINCT_RATIO,
        CURATION_MIN_WORDS,
        DECON_BENCH_MOD,
    )
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    assert _ORACLE_MINHASH_PAIR_CTES.count("FROM documents") == 1
    ctes = _ORACLE_MINHASH_PAIR_CTES.replace("FROM documents", "FROM docs_live")
    shard = ORACLE_MD5_60BIT.format(x="CAST(q.doc_id AS VARCHAR)")
    return f"""
        WITH docs_live AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' spark dedup stream spark dedup stream'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 3
        ),
        {ctes},
        qdocs AS (
            SELECT doc_id, str_split(text, ' ') AS words, md5(text) AS content_md5
            FROM docs_live
        ),
        qual AS (
            SELECT doc_id, content_md5,
                   CAST(len(words) AS BIGINT) AS n_words
            FROM qdocs
            WHERE len(words) >= {CURATION_MIN_WORDS}
              AND CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
                  >= {CURATION_MIN_DISTINCT_RATIO}
        ),
        qcanon AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS rn
                FROM qual) WHERE rn = 1
        ),
        suppressed AS (SELECT DISTINCT db AS doc_id FROM scored),
        dg AS (
            SELECT doc_id, {ORACLE_MD5_60BIT.format(x="gram")} AS gh
            FROM (SELECT doc_id, unnest({_DECON_GRAMS_DUCK}) AS gram FROM qdocs)
        ),
        bench AS (SELECT DISTINCT gh FROM dg WHERE doc_id % {DECON_BENCH_MOD} = 0),
        hits AS (
            SELECT DISTINCT c.doc_id FROM dg c JOIN bench b USING (gh)
            WHERE c.doc_id % {DECON_BENCH_MOD} <> 0
        )
        SELECT q.doc_id, {shard} % {CuratedCorpusSink.N_SHARDS} AS shard_id,
               q.n_words, t.text
        FROM qcanon q
        JOIN docs_live t ON t.doc_id = q.doc_id
        LEFT JOIN suppressed s ON q.doc_id = s.doc_id
        LEFT JOIN hits h ON q.doc_id = h.doc_id
        WHERE s.doc_id IS NULL AND h.doc_id IS NULL
          AND q.doc_id % {DECON_BENCH_MOD} <> 0
        ORDER BY q.doc_id
    """


@register(
    "sq_curated_export_stream",
    category="streaming",
    doc=(
        "The training EXPORT read — export_docs(decontaminated=True): "
        "(doc_id, shard_id, n_words, text) for every decontaminated "
        "curated survivor, the stable-hash shard assignment of "
        "shard_manifest, served from the maintained corpus state after "
        "the same document CDC stream as sq_corpus_curation_stream. "
        "Every other serving read avoids the text column by design; this "
        "is the one read whose job IS the text — the rows a training run "
        "tokenizes. Must equal the batch funnel composed with "
        "decontamination, joined back to the post-CDC text."
    ),
    oracle=_curated_export_oracle(),
)
def sq_curated_export_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    work = _workdir("sq_curated_export_")
    stream = _stage_document_cdc(spark, sf_dir, work)
    sink = CuratedCorpusSink(f"{work}/corpus")
    _run_index_stream(stream, sink, work)
    return sink.export_docs(spark, decontaminated=True).orderBy("doc_id")


@register(
    "sq_curated_shards_stream",
    category="streaming",
    doc=(
        "Training-export shard manifest served FROM the maintained curated "
        "corpus: the document CDC stream drives CuratedCorpusSink, and "
        "shard_manifest() groups the curated survivors into STABLE "
        "md5-hash shards (a doc add/update/delete perturbs exactly one "
        "shard — the incremental export layout, vs the batch prefix-sum "
        "packing where one insert shifts every later boundary) with doc "
        "and token totals per shard. Must equal the batch funnel over the "
        "post-CDC live documents grouped by the same hash."
    ),
    oracle=_curated_shards_oracle(),
)
def sq_curated_shards_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    work = _workdir("sq_shards_")
    stream = _stage_document_cdc(spark, sf_dir, work)
    sink = CuratedCorpusSink(f"{work}/corpus")
    _run_index_stream(stream, sink, work)
    return sink.shard_manifest(spark).orderBy("shard_id")


def _unified_curation_oracle() -> str:
    """Oracle for sq_unified_curation_stream: the batch curation funnel
    (quality -> exact dedup -> text near-dup suppression) FURTHER
    suppressing embedding-level near-dups (the dedup_embedding_cosine
    best-neighbor recipe over the post-CDC live vectors, drop every
    vector whose duplicate-best partner has a lower id).  Both CTE chains
    are the shared canonical constants; the cosine chain's ``cand`` CTE
    is renamed to avoid colliding with the minhash chain's."""
    from cdc_platform_spark.operators.dedup import (
        _ORACLE_COSINE_BEST_CTES,
        _ORACLE_MINHASH_PAIR_CTES,
        EMB_DIM,
        ORACLE_EMB_UNNEST,
        UNIFIED_EMB_DUP_THRESHOLD,
    )
    from cdc_platform_spark.operators.text import (
        CURATION_MIN_DISTINCT_RATIO,
        CURATION_MIN_WORDS,
    )

    assert _ORACLE_MINHASH_PAIR_CTES.count("FROM documents") == 1
    text_ctes = _ORACLE_MINHASH_PAIR_CTES.replace("FROM documents", "FROM docs_live")
    # the two shared chains collide only on the CTE name `cand`
    assert _ORACLE_COSINE_BEST_CTES.count("cand") == 2  # definition + one use
    emb_ctes = _ORACLE_COSINE_BEST_CTES.replace("cand", "ecand")
    return f"""
        WITH docs_live AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN text || ' spark dedup stream spark dedup stream'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 11 <> 3
        ),
        {text_ctes},
        qdocs AS (
            SELECT doc_id, str_split(text, ' ') AS words, md5(text) AS content_md5
            FROM docs_live
        ),
        qual AS (
            SELECT doc_id, content_md5,
                   CAST(len(words) AS BIGINT) AS n_words,
                   CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS distinct_ratio
            FROM qdocs
            WHERE len(words) >= {CURATION_MIN_WORDS}
              AND CAST(len(list_distinct(words)) AS DOUBLE) / len(words)
                  >= {CURATION_MIN_DISTINCT_RATIO}
        ),
        qcanon AS (
            SELECT * FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY content_md5 ORDER BY doc_id) AS rn
                FROM qual) WHERE rn = 1
        ),
        suppressed AS (SELECT DISTINCT db AS doc_id FROM scored),
        u0 AS ({ORACLE_EMB_UNNEST}),
        u AS (
            SELECT vec_id, i, v FROM u0
            WHERE vec_id % 11 <> 3 AND vec_id % 7 <> 0
            UNION ALL
            SELECT vec_id, {EMB_DIM} + 1 - i AS i, v FROM u0
            WHERE vec_id % 11 <> 3 AND vec_id % 7 = 0
        ),
        {emb_ctes},
        edup AS (
            SELECT ia AS doc_id FROM best
            WHERE c >= {UNIFIED_EMB_DUP_THRESHOLD} AND ib < ia
        )
        SELECT q.doc_id, q.n_words, q.distinct_ratio
        FROM qcanon q
        LEFT JOIN suppressed s ON q.doc_id = s.doc_id
        LEFT JOIN edup e ON q.doc_id = e.doc_id
        WHERE s.doc_id IS NULL AND e.doc_id IS NULL
        ORDER BY q.doc_id
    """


@register(
    "sq_unified_curation_stream",
    category="streaming",
    doc=(
        "The COMBINED dedup-signal curation funnel a real pretraining "
        "pipeline runs, maintained incrementally from two CDC streams: "
        "the document stream drives CuratedCorpusSink (quality filter -> "
        "exact dedup -> text-LSH near-dup suppression) and the embedding "
        "stream drives CosineNeighborIndexSink (per-vector best-cosine "
        "duplicate flags); curated_unified() then also drops every "
        "document whose embedding is a duplicate of a lower-id partner "
        "(vec_id = doc_id). Must equal the batch funnel composed with the "
        "batch dedup_embedding_cosine suppression over the post-CDC live "
        "corpus."
    ),
    oracle=_unified_curation_oracle(),
)
def sq_unified_curation_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink
    from cdc_platform_spark.streaming.neighbor_index import CosineNeighborIndexSink

    work = _workdir("sq_unicur_")
    # document CDC -> curated-corpus sink (same staging as the curation query)
    dstream = _stage_document_cdc(spark, sf_dir, f"{work}/docs")
    corpus = CuratedCorpusSink(f"{work}/corpus")
    _run_index_stream(dstream, corpus, f"{work}/dck")

    # embedding CDC -> best-neighbor sink (same staging as the ANN queries)
    _e, estream = _stage_embedding_cdc(spark, sf_dir, f"{work}/emb")
    nn = CosineNeighborIndexSink(f"{work}/nn")
    _run_index_stream(estream, nn, f"{work}/eck")

    return corpus.curated_unified(spark, nn.view(spark)).orderBy("doc_id")


def _ann_index_pq_oracle() -> str:
    """Full-rebuild oracle for sq_ann_index_pq_stream: IVF coarse
    quantizer AND per-subspace PQ codebooks trained on the ORIGINAL
    table (frozen), then the POST-CDC vectors are (a) assigned to their
    max-cosine cell and (b) encoded as min-L2 codes per subspace,
    codes packed into the same CSV serialization the sink emits."""
    from cdc_platform_spark.operators.dedup import ORACLE_EMB_UNNEST
    from cdc_platform_spark.operators.similarity import (
        _CENT_FINAL,
        _PQ_FINAL_NS,
        _PQ_TRAIN_CTES_NS,
        _TRAIN_CTES,
        _cent_hash,
        DIM,
        N_CELLS,
        PQ_K,
        PQ_SUBDIM,
    )

    return f"""
        WITH u AS ({ORACLE_EMB_UNNEST}),
        norms AS (SELECT vec_id, SUM(v * v) AS n FROM u GROUP BY vec_id),
        cents AS (
            SELECT vec_id AS cent_id FROM embeddings
            ORDER BY {_cent_hash}, vec_id LIMIT {N_CELLS}
        ),
        cu AS (SELECT u.* FROM u JOIN cents ON u.vec_id = cents.cent_id),
        {_TRAIN_CTES},
        ncf AS (SELECT cent_id, SUM(cv * cv) AS n FROM {_CENT_FINAL} GROUP BY cent_id),
        su AS (SELECT vec_id, CAST((i - 1) // {PQ_SUBDIM} AS BIGINT) AS sub,
                      CAST((i - 1) % {PQ_SUBDIM} AS BIGINT) AS j, v
               FROM u),
        pqseeds AS (
            SELECT vec_id AS cent_id FROM embeddings
            ORDER BY {_cent_hash}, vec_id LIMIT {PQ_K}
        ),
        {_PQ_TRAIN_CTES_NS},
        final AS (
            SELECT vec_id, i, v FROM u
            WHERE vec_id % 11 <> 3 AND vec_id % 7 <> 0
            UNION ALL
            SELECT vec_id, {DIM} + 1 - i AS i, v FROM u
            WHERE vec_id % 11 <> 3 AND vec_id % 7 = 0
        ),
        fnorms AS (SELECT vec_id, SUM(v * v) AS n FROM final GROUP BY vec_id),
        fdots AS (
            SELECT x.vec_id, c.cent_id, SUM(x.v * c.cv) AS d
            FROM final x JOIN {_CENT_FINAL} c ON x.i = c.i
            GROUP BY x.vec_id, c.cent_id
        ),
        fcos AS (
            SELECT v.vec_id, v.cent_id, v.d / (sqrt(nx.n) * sqrt(nc.n)) AS c
            FROM fdots v JOIN fnorms nx ON v.vec_id = nx.vec_id
                         JOIN ncf nc ON v.cent_id = nc.cent_id
        ),
        cell_assign AS (
            SELECT vec_id, cent_id FROM (
                SELECT vec_id, cent_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
                FROM fcos) WHERE rn = 1
        ),
        suf AS (SELECT vec_id, CAST((i - 1) // {PQ_SUBDIM} AS BIGINT) AS sub,
                       CAST((i - 1) % {PQ_SUBDIM} AS BIGINT) AS j, v
                FROM final),
        fd2 AS (
            SELECT s.vec_id, s.sub, c.cent_id, SUM((s.v - c.cv) * (s.v - c.cv)) AS d
            FROM suf s JOIN {_PQ_FINAL_NS} c ON s.sub = c.sub AND s.j = c.j
            GROUP BY s.vec_id, s.sub, c.cent_id
        ),
        enc AS (
            SELECT vec_id, sub, cent_id FROM (
                SELECT vec_id, sub, cent_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, cent_id) AS rn
                FROM fd2) WHERE rn = 1
        ),
        ranks AS (
            SELECT cent_id, ROW_NUMBER() OVER (ORDER BY cent_id) - 1 AS code FROM pqseeds
        ),
        code_strs AS (
            SELECT enc.vec_id,
                   string_agg(CAST(ranks.code AS VARCHAR), ',' ORDER BY enc.sub) AS codes
            FROM enc JOIN ranks ON enc.cent_id = ranks.cent_id
            GROUP BY enc.vec_id
        )
        SELECT a.vec_id, a.cent_id AS cell, c.codes
        FROM cell_assign a JOIN code_strs c ON a.vec_id = c.vec_id
        ORDER BY a.vec_id
    """


@register(
    "sq_ann_index_pq_stream",
    category="streaming",
    doc=(
        "The full production ANN index (IVF-PQ composite) as an "
        "incrementally-maintained materialized view: coarse quantizer and "
        "per-subspace PQ codebooks are Lloyd-trained once on the base "
        "table and frozen, then the same embedding CDC stream as "
        "sq_ann_index_stream is driven availableNow through "
        "BucketedIvfPqIndexSink — each micro-batch assigns cells AND "
        "encodes 8-byte PQ codes for ONLY its own vectors (broadcast "
        "codebooks, exact-integer argmin), deletes tombstone, and the "
        "per-bucket copy-on-write merge (DPP-pruned state scan, journaled "
        "atomic multi-bucket commit) rewrites only the buckets the batch's "
        "vectors hash into — the 100 TB layout of the exact (cell, codes) "
        "artifact sim_ann_ivf_pq queries. The final index must equal a "
        "from-scratch rebuild over the post-CDC vectors (IVF assignment + "
        "PQ encode oracle)."
    ),
    oracle=_ann_index_pq_oracle(),
)
def sq_ann_index_pq_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cdc_platform_spark.operators.similarity import (
        pq_seeds,
        pq_subvectors,
        train_ivf_centroids,
        train_pq_codebooks,
    )
    from cdc_platform_spark.streaming.ann_index import BucketedIvfPqIndexSink

    work = _workdir("sq_annpq_")
    e, stream = _stage_embedding_cdc(spark, sf_dir, work)
    seeds = pq_seeds(e)
    codebooks = train_pq_codebooks(pq_subvectors(e.select("vec_id", "a")), seeds)
    ranks = seeds.withColumn(
        "code", (F.row_number().over(Window.orderBy("cent_id")) - 1).cast("long")
    )
    sink = BucketedIvfPqIndexSink(
        f"{work}/index", train_ivf_centroids(e), codebooks, ranks
    )
    _run_index_stream(stream, sink, work)
    return sink.state(spark).orderBy("vec_id")


def _ann_search_oracle() -> str:
    """Oracle for sq_ann_search_from_index: the sim_ann_ivf search recipe
    (frozen-quantizer probe + cell equi-join + exact cosine top-k)
    evaluated over the POST-CDC corpus — exactly what serving from the
    maintained index must equal."""
    from cdc_platform_spark.operators.dedup import ORACLE_EMB_UNNEST
    from cdc_platform_spark.operators.similarity import (
        _CENT_FINAL,
        _TRAIN_CTES,
        _cent_hash,
        DIM,
        N_CELLS,
        N_PROBE,
        N_PROBES,
        TOP_K,
    )

    return f"""
        WITH u AS ({ORACLE_EMB_UNNEST}),
        norms AS (SELECT vec_id, SUM(v * v) AS n FROM u GROUP BY vec_id),
        cents AS (
            SELECT vec_id AS cent_id FROM embeddings
            ORDER BY {_cent_hash}, vec_id LIMIT {N_CELLS}
        ),
        cu AS (SELECT u.* FROM u JOIN cents ON u.vec_id = cents.cent_id),
        {_TRAIN_CTES},
        ncf AS (SELECT cent_id, SUM(cv * cv) AS n FROM {_CENT_FINAL} GROUP BY cent_id),
        final AS (
            SELECT vec_id, i, v FROM u
            WHERE vec_id % 11 <> 3 AND vec_id % 7 <> 0
            UNION ALL
            SELECT vec_id, {DIM} + 1 - i AS i, v FROM u
            WHERE vec_id % 11 <> 3 AND vec_id % 7 = 0
        ),
        fnorms AS (SELECT vec_id, SUM(v * v) AS n FROM final GROUP BY vec_id),
        fdots AS (
            SELECT x.vec_id, c.cent_id, SUM(x.v * c.cv) AS d
            FROM final x JOIN {_CENT_FINAL} c ON x.i = c.i
            GROUP BY x.vec_id, c.cent_id
        ),
        fcos AS (
            SELECT v.vec_id, v.cent_id, v.d / (sqrt(nx.n) * sqrt(nc.n)) AS c
            FROM fdots v JOIN fnorms nx ON v.vec_id = nx.vec_id
                         JOIN ncf nc ON v.cent_id = nc.cent_id
        ),
        assign AS (
            SELECT vec_id, cent_id FROM (
                SELECT vec_id, cent_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
                FROM fcos) WHERE rn = 1
        ),
        probes AS (
            SELECT vec_id AS qid, cent_id FROM (
                SELECT vec_id, cent_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
                FROM fcos) WHERE rn <= {N_PROBE} AND vec_id < {N_PROBES}
        ),
        cand AS (
            SELECT DISTINCT p.qid, a.vec_id AS nid
            FROM probes p JOIN assign a ON p.cent_id = a.cent_id
            WHERE a.vec_id <> p.qid
        ),
        dots AS (
            SELECT c.qid, c.nid, SUM(x.v * y.v) AS d
            FROM cand c JOIN final x ON x.vec_id = c.qid
                        JOIN final y ON y.vec_id = c.nid AND y.i = x.i
            GROUP BY c.qid, c.nid
        ),
        cos AS (
            SELECT qid, nid, d / (sqrt(nq.n) * sqrt(nn.n)) AS c
            FROM dots JOIN fnorms nq ON qid = nq.vec_id
                      JOIN fnorms nn ON nid = nn.vec_id
        )
        SELECT qid AS query_id, CAST(rnk AS BIGINT) AS rank, nid AS neighbor_id, c AS cosine
        FROM (SELECT qid, nid, c, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rnk FROM cos)
        WHERE rnk <= {TOP_K}
        ORDER BY query_id, rank
    """


@register(
    "sq_ann_search_projection",
    category="streaming",
    doc=(
        "ANN search from the cell-partitioned SERVING PROJECTION — the "
        "CQRS read replica of the maintained IVF-Flat index, refreshed "
        "INCREMENTALLY: the insert wave streams into "
        "BucketedIvfFlatIndexSink (vec_id-bucketed maintenance primary) "
        "and a journal-driven bootstrap builds the replica; then the "
        "update/delete wave streams in and refresh_from_primary rewrites "
        "ONLY the cells the primary's touched-cell journal names — "
        "untouched cell partitions keep their files. The probe reads ONLY "
        "its probed cells' partitions (broadcast-semi DPP prune — "
        "plan-test pinned) with no join against the primary. Must equal "
        "the primary-path sq_ann_search_from_index result, i.e. the batch "
        "sim_ann_ivf recipe over the post-CDC corpus (same oracle) — so a "
        "green row certifies the DELTA refresh path end-to-end."
    ),
    oracle=_ann_search_oracle(),
)
def sq_ann_search_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.operators.similarity import (
        N_PROBES,
        _fixed_embeddings,
        train_ivf_centroids,
    )
    from cdc_platform_spark.streaming.ann_index import (
        BucketedIvfFlatIndexSink,
        IvfCellProjection,
    )

    work = _workdir("sq_annproj_")
    e = _fixed_embeddings(spark, sf_dir)
    cents = train_ivf_centroids(e)
    sink = BucketedIvfFlatIndexSink(f"{work}/index", cents)
    proj = IvfCellProjection(f"{work}/serving")
    src = f"{work}/source"
    emb_schema = "vec_id long, offset long, op string, a array<long>"

    def run_stream():
        stream = (
            spark.readStream.schema(emb_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        _run_index_stream(stream, sink, work)

    # phase 1: insert wave -> bootstrap (full) replica build
    wave0 = e.select(
        "vec_id", F.col("vec_id").alias("offset"), F.lit("c").alias("op"), "a"
    )
    wave0.repartition(2).write.mode("overwrite").parquet(src)
    run_stream()
    proj.refresh_from_primary(spark, sink)

    # phase 2: update/delete wave appended to the same source; the
    # checkpointed availableNow run processes only the new files, and the
    # replica refresh is a DELTA — only journal-named cells rewritten
    off = F.col("vec_id") + F.lit(100000000)
    upd = e.filter((F.col("vec_id") % 7 == 0) & (F.col("vec_id") % 11 != 3)).select(
        "vec_id", off.alias("offset"), F.lit("u").alias("op"), F.reverse("a").alias("a")
    )
    dels = e.filter(F.col("vec_id") % 11 == 3).select(
        "vec_id",
        off.alias("offset"),
        F.lit("d").alias("op"),
        F.lit(None).cast("array<long>").alias("a"),
    )
    upd.unionByName(dels).repartition(2).write.mode("append").parquet(src)
    run_stream()
    proj.refresh_from_primary(spark, sink)

    state = sink.state(spark)
    pv = state.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("qid"), F.col("a").alias("qa")
    )
    return proj.search(spark, cents, pv).orderBy("query_id", "rank")


def _ann_search_pq_oracle() -> str:
    """Oracle for sq_ann_search_pq_from_index: the sim_ann_ivf_pq IVF-ADC
    recipe (probe cells -> candidate codes -> asymmetric-distance
    shortlist -> exact cosine re-rank) evaluated over the POST-CDC corpus
    with quantizer and codebooks frozen on the original table."""
    from cdc_platform_spark.operators.dedup import ORACLE_EMB_UNNEST
    from cdc_platform_spark.operators.similarity import (
        _CENT_FINAL,
        _PQ_FINAL_NS,
        _PQ_TRAIN_CTES_NS,
        _TRAIN_CTES,
        _cent_hash,
        DIM,
        N_CELLS,
        N_PROBE,
        N_PROBES,
        PQ_K,
        PQ_SUBDIM,
        R_RERANK,
        TOP_K,
    )

    return f"""
        WITH u AS ({ORACLE_EMB_UNNEST}),
        norms AS (SELECT vec_id, SUM(v * v) AS n FROM u GROUP BY vec_id),
        cents AS (
            SELECT vec_id AS cent_id FROM embeddings
            ORDER BY {_cent_hash}, vec_id LIMIT {N_CELLS}
        ),
        cu AS (SELECT u.* FROM u JOIN cents ON u.vec_id = cents.cent_id),
        {_TRAIN_CTES},
        ncf AS (SELECT cent_id, SUM(cv * cv) AS n FROM {_CENT_FINAL} GROUP BY cent_id),
        su AS (SELECT vec_id, CAST((i - 1) // {PQ_SUBDIM} AS BIGINT) AS sub,
                      CAST((i - 1) % {PQ_SUBDIM} AS BIGINT) AS j, v
               FROM u),
        pqseeds AS (
            SELECT vec_id AS cent_id FROM embeddings
            ORDER BY {_cent_hash}, vec_id LIMIT {PQ_K}
        ),
        {_PQ_TRAIN_CTES_NS},
        final AS (
            SELECT vec_id, i, v FROM u
            WHERE vec_id % 11 <> 3 AND vec_id % 7 <> 0
            UNION ALL
            SELECT vec_id, {DIM} + 1 - i AS i, v FROM u
            WHERE vec_id % 11 <> 3 AND vec_id % 7 = 0
        ),
        fnorms AS (SELECT vec_id, SUM(v * v) AS n FROM final GROUP BY vec_id),
        fdots AS (
            SELECT x.vec_id, c.cent_id, SUM(x.v * c.cv) AS d
            FROM final x JOIN {_CENT_FINAL} c ON x.i = c.i
            GROUP BY x.vec_id, c.cent_id
        ),
        fcos AS (
            SELECT v.vec_id, v.cent_id, v.d / (sqrt(nx.n) * sqrt(nc.n)) AS c
            FROM fdots v JOIN fnorms nx ON v.vec_id = nx.vec_id
                         JOIN ncf nc ON v.cent_id = nc.cent_id
        ),
        assign AS (
            SELECT vec_id, cent_id FROM (
                SELECT vec_id, cent_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
                FROM fcos) WHERE rn = 1
        ),
        probes AS (
            SELECT vec_id AS qid, cent_id FROM (
                SELECT vec_id, cent_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn
                FROM fcos) WHERE rn <= {N_PROBE} AND vec_id < {N_PROBES}
        ),
        cand AS (
            SELECT DISTINCT p.qid, a.vec_id AS nid
            FROM probes p JOIN assign a ON p.cent_id = a.cent_id
            WHERE a.vec_id <> p.qid
        ),
        suf AS (SELECT vec_id, CAST((i - 1) // {PQ_SUBDIM} AS BIGINT) AS sub,
                       CAST((i - 1) % {PQ_SUBDIM} AS BIGINT) AS j, v
                FROM final),
        fd2 AS (
            SELECT s.vec_id, s.sub, c.cent_id, SUM((s.v - c.cv) * (s.v - c.cv)) AS d
            FROM suf s JOIN {_PQ_FINAL_NS} c ON s.sub = c.sub AND s.j = c.j
            GROUP BY s.vec_id, s.sub, c.cent_id
        ),
        enc AS (
            SELECT vec_id, sub, cent_id FROM (
                SELECT vec_id, sub, cent_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, cent_id) AS rn
                FROM fd2) WHERE rn = 1
        ),
        adc AS (
            SELECT c.qid, c.nid, SUM(fq.d) AS adist
            FROM cand c
            JOIN enc e ON e.vec_id = c.nid
            JOIN fd2 fq ON fq.vec_id = c.qid AND fq.sub = e.sub AND fq.cent_id = e.cent_id
            GROUP BY c.qid, c.nid
        ),
        shortlist AS (
            SELECT qid, nid FROM (
                SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, nid) AS rn
                FROM adc) WHERE rn <= {R_RERANK}
        ),
        dots AS (
            SELECT s.qid, s.nid, SUM(a.v * b.v) AS d
            FROM shortlist s JOIN final a ON a.vec_id = s.qid
                             JOIN final b ON b.vec_id = s.nid AND b.i = a.i
            GROUP BY s.qid, s.nid
        ),
        cos AS (
            SELECT qid, nid, d / (sqrt(nq.n) * sqrt(nn.n)) AS c
            FROM dots JOIN fnorms nq ON qid = nq.vec_id
                      JOIN fnorms nn ON nid = nn.vec_id
        )
        SELECT qid AS query_id, CAST(rnk AS BIGINT) AS rank, nid AS neighbor_id, c AS cosine
        FROM (SELECT qid, nid, c, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rnk FROM cos)
        WHERE rnk <= {TOP_K}
        ORDER BY query_id, rank
    """


@register(
    "sq_ann_search_pq_from_index",
    category="streaming",
    doc=(
        "IVF-ADC serving from the maintained composite index — the "
        "production read path over BOTH maintained artifacts: the same "
        "embedding CDC stream drives BucketedIvfPqIndexSink (cell + "
        "8-byte PQ codes, the RAM-resident index) and "
        "BucketedIvfFlatIndexSink (the cold vector store) in one "
        "foreachBatch; top-k probes are then answered by probe cells -> "
        "cell equi-join for candidate codes -> the query's broadcast "
        "exact L2 code tables (ADC, never touching candidate vectors) -> "
        "top-R shortlist -> exact cosine re-rank reading full vectors for "
        "the R survivors only. Results must equal the batch "
        "sim_ann_ivf_pq recipe evaluated over the post-CDC corpus."
    ),
    oracle=_ann_search_pq_oracle(),
)
def sq_ann_search_pq_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cdc_platform_spark.operators.similarity import (
        pq_seeds,
        pq_subvectors,
        train_ivf_centroids,
        train_pq_codebooks,
    )
    from cdc_platform_spark.streaming.ann_index import (
        BucketedIvfFlatIndexSink,
        BucketedIvfPqIndexSink,
        ivf_pq_search_from_index,
    )

    work = _workdir("sq_annpqsearch_")
    e, stream = _stage_embedding_cdc(spark, sf_dir, work)
    cents = train_ivf_centroids(e)
    seeds = pq_seeds(e)
    codebooks = train_pq_codebooks(pq_subvectors(e.select("vec_id", "a")), seeds)
    ranks = seeds.withColumn(
        "code", (F.row_number().over(Window.orderBy("cent_id")) - 1).cast("long")
    )
    pq = BucketedIvfPqIndexSink(f"{work}/pq", cents, codebooks, ranks)
    flat = BucketedIvfFlatIndexSink(f"{work}/flat", cents)

    def both(b, _bid):
        b.persist()
        try:
            pq.write(b)
            flat.write(b)
        finally:
            b.unpersist()

    q = (
        stream.writeStream.foreachBatch(both)
        .option("checkpointLocation", f"{work}/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ivf_pq_search_from_index(
        pq.state(spark), flat.state(spark), cents, codebooks, ranks
    ).orderBy("query_id", "rank")


@register(
    "sq_ann_search_from_index",
    category="streaming",
    doc=(
        "ANN search served FROM the maintained index — the loop from index "
        "maintenance to query answering, the actual production path: the "
        "same embedding CDC stream as sq_ann_index_stream is driven "
        "availableNow through BucketedIvfFlatIndexSink (inverted file with "
        "the vectors co-located, per-bucket copy-on-write), then top-k "
        "probes are answered from state() ALONE — probe cells via the "
        "frozen broadcast centroids, candidates via the cell-probe "
        "equi-join against the materialized inverted file, exact cosine "
        "re-rank from the stored vectors. Results must equal the batch "
        "sim_ann_ivf recipe evaluated over the post-CDC corpus."
    ),
    oracle=_ann_search_oracle(),
)
def sq_ann_search_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.operators.similarity import train_ivf_centroids
    from cdc_platform_spark.streaming.ann_index import (
        BucketedIvfFlatIndexSink,
        ivf_search_from_index,
    )

    work = _workdir("sq_annsearch_")
    e, stream = _stage_embedding_cdc(spark, sf_dir, work)
    cents = train_ivf_centroids(e)
    sink = BucketedIvfFlatIndexSink(f"{work}/index", cents)
    _run_index_stream(stream, sink, work)
    return ivf_search_from_index(sink.state(spark), cents).orderBy("query_id", "rank")


@register(
    "sq_bucketed_agg_stream",
    category="streaming",
    doc=(
        "The 100 TB materialized-aggregate form as a driver-checkable "
        "artifact: the same 4-micro-batch CDC stream as "
        "sq_incremental_agg_stream driven into a BucketedAggregatingSink "
        "- hash-bucketed per-bucket copy-on-write aggregate state, "
        "executor-side merge (map-only shaping with map-side partial "
        "combine, DPP-pruned state semi-join, journaled atomic "
        "multi-bucket commit), per-bucket batch-id fencing against "
        "at-least-once redelivery. The final view must equal the one-shot "
        "batch aggregate - bucketing is storage granularity, never "
        "semantics."
    ),
    oracle="""
        SELECT user_id AS pk,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
               MIN(value) AS value_min,
               MAX(value) AS value_max,
               MAX(event_id) AS last_offset
        FROM events
        GROUP BY user_id
        ORDER BY pk
    """,
)
def sq_bucketed_agg_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.streaming.pipeline import BucketedAggregatingSink, CdcPipeline

    work = _workdir("sq_bagg_")
    src = _stage_chunks(spark, sf_dir, work)
    sink = BucketedAggregatingSink(f"{work}/aggview", n_buckets=16)
    CdcPipeline(
        spark=spark,
        source_dir=src,
        checkpoint_dir=f"{work}/ck",
        sinks={"aggview": sink},
        max_files_per_trigger=1,
    ).run_available_now()
    return sink.state(spark).orderBy("pk")


@register(
    "sq_join_view_stream",
    category="streaming",
    doc=(
        "Incremental materialized JOIN maintenance as a driver-checkable "
        "artifact: BucketedJoinViewSink keeps facts ⋈ latest-dimension "
        "consistent while BOTH sides change (each event is a fact AND a "
        "dimension update for its key) — per micro-batch only the batch's "
        "keys are retracted and re-derived (delta-join maintenance), and "
        "all three tables (facts, dim, view) are pk-bucketed with "
        "per-bucket copy-on-write + DPP-pruned reads, so the batch "
        "rewrites only the buckets its keys hash into, driven "
        "availableNow over 4 micro-batches. The final view must equal the "
        "batch join of all facts against the final latest-per-key "
        "dimension - which is what the oracle computes."
    ),
    oracle=f"""
        WITH env AS ({_ENV_SQL}),
        latest AS (
            SELECT pk, value, op,
                   ROW_NUMBER() OVER (PARTITION BY pk ORDER BY "offset" DESC) AS rn
            FROM env
        ),
        dim AS (SELECT pk, value FROM latest WHERE rn = 1 AND op <> 'd')
        SELECT f.seq, f.pk, f.event_type,
               f.value AS fact_value, d.value AS dim_value
        FROM env f JOIN dim d ON f.pk = d.pk
        ORDER BY f.seq
    """,
)
def sq_join_view_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.streaming.join_view import BucketedJoinViewSink
    from cdc_platform_spark.streaming.pipeline import EVENTS_SCHEMA, to_envelope

    work = _workdir("sq_joinview_")
    src = _stage_chunks(spark, sf_dir, work)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = BucketedJoinViewSink(f"{work}/jv")
    q = (
        to_envelope(stream)
        .writeStream.foreachBatch(lambda b, _bid: sink.write(b))
        .option("checkpointLocation", f"{work}/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sink.view(spark).orderBy("seq")



def _neighbor_index_oracle() -> str:
    """Full-rebuild oracle for sq_neighbor_index_stream: the batch
    dedup_embedding_cosine CTE chain (shared constant, cannot drift)
    evaluated with ``u`` = the POST-CDC live unnest — reversal remaps
    subscript i -> DIM+1-i for vec_id % 7 = 0, deleted ids
    (vec_id % 11 = 3) excluded — and the final left join anchored on the
    live vectors instead of the base table."""
    from cdc_platform_spark.operators.dedup import (
        _ORACLE_COSINE_BEST_CTES,
        COSINE_DUP_THRESHOLD,
        EMB_DIM,
        ORACLE_EMB_UNNEST,
    )

    return f"""
        WITH u0 AS ({ORACLE_EMB_UNNEST}),
        u AS (
            SELECT vec_id, i, v FROM u0
            WHERE vec_id % 11 <> 3 AND vec_id % 7 <> 0
            UNION ALL
            SELECT vec_id, {EMB_DIM} + 1 - i AS i, v FROM u0
            WHERE vec_id % 11 <> 3 AND vec_id % 7 = 0
        ),
        {_ORACLE_COSINE_BEST_CTES}
        SELECT e.vec_id, b.ib AS nn_id, b.c AS cosine,
               CAST(CASE WHEN b.c >= {COSINE_DUP_THRESHOLD} THEN 1 ELSE 0 END AS BIGINT) AS is_dup
        FROM (SELECT DISTINCT vec_id FROM u) e LEFT JOIN best b ON e.vec_id = b.ia
        ORDER BY vec_id
    """


@register(
    "sq_neighbor_index_stream",
    category="streaming",
    doc=(
        "Incremental embedding near-dup detection as a driver-checkable "
        "artifact: the same embedding CDC stream as sq_ann_index_stream - "
        "full insert wave, then updates (reversed vectors, vec_id % 7 = 0) "
        "and deletes (vec_id % 11 = 3) - driven availableNow through "
        "CosineNeighborIndexSink, which maintains the per-vector "
        "BEST-cosine-neighbor view (the answer table of the batch "
        "dedup_embedding_cosine) incrementally: per batch it re-signs only "
        "its own vectors, probes only the band buckets they hash into, and "
        "heals the non-local invalidations - a vector becoming someone "
        "else's new best (band probe) and a vector LOSING its stored best "
        "to an update/delete (reverse pointers co-bucketed with the "
        "neighbor) - then recomputes exactly that touched set. The view "
        "must equal the from-scratch batch recipe over the post-CDC live "
        "vectors, which is what the oracle computes (same CTE chain, "
        "post-CDC unnest)."
    ),
    oracle=_neighbor_index_oracle(),
)
def sq_neighbor_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.streaming.neighbor_index import CosineNeighborIndexSink

    work = _workdir("sq_nnidx_")
    _e, stream = _stage_embedding_cdc(spark, sf_dir, work)
    sink = CosineNeighborIndexSink(f"{work}/nn")
    _run_index_stream(stream, sink, work)
    return sink.view(spark).orderBy("vec_id")


def _stage_event_session_cdc(spark: SparkSession, sf_dir: str, work: str):
    """Stage the deterministic EVENT-level CDC stream for the session
    sink: full insert wave, then updates (ts shifted +45 min,
    event_id % 7 = 0 — a shift larger than the 30-min session gap, so
    updates genuinely SPLIT and MERGE sessions; the event_id % 14 = 0
    slice ALSO reassigns user_id to user_id + 1, so the driver-checked
    stream exercises the cross-user MOVE path — old owner and new owner
    both recomputed — not just the unit tests, ADVICE r13) and deletes
    (event_id % 11 = 3 — removing bridge events splits sessions), split
    into 4 arbitrary chunks so the waves interleave across micro-batches
    and the offset-keyed merge must converge regardless of arrival
    order.  The sq_session_stats_stream oracle's live CTE mirrors
    exactly this recipe."""
    from pyspark.sql import functions as F

    e = _normalized_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        "value",
    )
    off = F.col("event_id") + F.lit(100000000)  # wave-1 offsets after all wave-0
    wave0 = e.select(
        "event_id",
        F.col("event_id").alias("offset"),
        F.lit("c").alias("op"),
        "user_id",
        "t_us",
        "value",
    )
    upd = e.filter((F.col("event_id") % 7 == 0) & (F.col("event_id") % 11 != 3)).select(
        "event_id",
        off.alias("offset"),
        F.lit("u").alias("op"),
        (
            F.col("user_id")
            + F.when(F.col("event_id") % 14 == 0, F.lit(1)).otherwise(F.lit(0))
        ).alias("user_id"),
        (F.col("t_us") + F.lit(2_700_000_000)).alias("t_us"),
        "value",
    )
    dels = e.filter(F.col("event_id") % 11 == 3).select(
        "event_id",
        off.alias("offset"),
        F.lit("d").alias("op"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("long").alias("t_us"),
        F.lit(None).cast("double").alias("value"),
    )
    src = f"{work}/source"
    wave0.unionByName(upd).unionByName(dels).repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    return (
        spark.readStream.schema(
            "event_id long, offset long, op string, user_id long, t_us long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _session_stats_oracle() -> str:
    """Full-rebuild oracle for sq_session_stats_stream: the batch
    w_session_per_user gaps-and-islands algebra evaluated over the
    POST-CDC live events — the same live CTE recipe as
    _stage_event_session_cdc (deletes event_id % 11 = 3 removed,
    updates event_id % 7 = 0 time-shifted +45 min, the event_id % 14 = 0
    slice moved to user_id + 1), with the same 30-minute
    (1 800 000 000 µs) gap rule and exact DECIMAL(18,2) sum."""
    return """
        WITH live AS (
            SELECT event_id,
                   user_id + CASE WHEN event_id % 14 = 0 THEN 1 ELSE 0 END AS user_id,
                   CAST(epoch_us(ts) AS BIGINT)
                     + CASE WHEN event_id % 7 = 0 THEN 2700000000 ELSE 0 END AS t_us,
                   CAST(value AS DECIMAL(18,2)) AS v
            FROM events
            WHERE event_id % 11 <> 3
        ),
        marked AS (
            SELECT user_id, event_id, t_us, v,
                   CASE WHEN LAG(t_us) OVER w IS NULL
                          OR t_us - LAG(t_us) OVER w >= 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM live
            WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
        ),
        sessions AS (
            SELECT user_id, t_us, v,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY t_us, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sno
            FROM marked
        )
        SELECT user_id, CAST(MIN(t_us) AS BIGINT) AS session_start_us,
               COUNT(*) AS n_events,
               CAST(SUM(v) AS DOUBLE) AS value_sum
        FROM sessions
        GROUP BY user_id, sno
        ORDER BY user_id, session_start_us
    """


@register(
    "sq_session_stats_stream",
    category="streaming",
    doc=(
        "Incremental per-user SESSION aggregates under event CDC as a "
        "driver-checkable artifact - the CDC-maintained form of the batch "
        "w_session_per_user (the native session_window form, "
        "sq_session_per_user_stream, is append-only; real CDC updates can "
        "MOVE an event across time or users and deletes can SPLIT a "
        "session, neither expressible with watermarked session windows). "
        "The staged stream is a full insert wave, then time-shift updates "
        "(event_id % 7 = 0, +45 min - past the 30-min gap, so sessions "
        "genuinely split/merge; the event_id % 14 = 0 slice also MOVES to "
        "user_id + 1, exercising the old-owner/new-owner dual recompute "
        "end-to-end) and deletes (event_id % 11 = 3), driven "
        "availableNow through BucketedSessionStatsSink: per micro-batch it "
        "re-keys only its own events into the per-user event log "
        "(copy-on-write buckets, DPP-pruned), recomputes sessions for "
        "exactly the touched users (old owners and new owners), and "
        "commits user_events -> sessions -> per-event index LAST (the "
        "replay anchor). The served view must equal the from-scratch "
        "gaps-and-islands batch computation over the live post-CDC "
        "events, which is what the oracle computes."
    ),
    oracle=_session_stats_oracle(),
)
def sq_session_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.streaming.session_index import BucketedSessionStatsSink

    work = _workdir("sq_sessidx_")
    stream = _stage_event_session_cdc(spark, sf_dir, work)
    sink = BucketedSessionStatsSink(f"{work}/sessions")
    _run_index_stream(stream, sink, work)
    return sink.session_stats(spark).orderBy("user_id", "session_start_us")


@register(
    "sq_gapfill_locf_stream",
    category="streaming",
    doc=(
        "Gap-filled hourly series with LOCF served from INCREMENTALLY "
        "maintained state - the streaming form of the batch w_gapfill_locf "
        "(TimescaleDB time_bucket_gapfill + locf semantics), completing "
        "the window-time family's streaming matrix alongside "
        "sq_session_stats_stream. The hourly (event_type, hour) "
        "count/decimal-sum aggregates are maintained per micro-batch by "
        "BucketedAggregatingSink (partial-aggregate merge, per-bucket "
        "copy-on-write + batch-id fence, key = event_type:hour_s so a "
        "batch rewrites only the hour buckets it touches); the dense grid "
        "and the per-key running last() are a READ-TIME derivation over "
        "the maintained aggregate - bounded by grid size (|keys| x "
        "|hours|), never event count, via the same gapfill_locf_grid tail "
        "the batch operator uses, so the two semantics cannot drift. The "
        "served grid must equal the one-shot batch computation, which is "
        "what the oracle (DuckDB ASOF JOIN - an independent formulation) "
        "computes."
    ),
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
            FROM events GROUP BY 1, 2
        ),
        bounds AS (
            SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
            FROM events
        ),
        grid AS (
            SELECT et.event_type, gs.h
            FROM (SELECT DISTINCT event_type FROM events) et,
                 (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds) gs
        )
        SELECT g.event_type, CAST(epoch(g.h) AS BIGINT) AS hour_start,
               COALESCE(hy.n, 0) AS n,
               locf.v AS v_locf
        FROM grid g
        LEFT JOIN hourly hy ON hy.event_type = g.event_type AND hy.h = g.h
        ASOF LEFT JOIN hourly locf ON g.event_type = locf.event_type AND g.h >= locf.h
        ORDER BY g.event_type, hour_start
    """,
)
def sq_gapfill_locf_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from cdc_platform_spark.operators.windows import gapfill_locf_grid
    from cdc_platform_spark.streaming.pipeline import (
        EVENTS_SCHEMA,
        BucketedAggregatingSink,
        to_envelope,
    )

    work = _workdir("sq_gapfill_")
    src = _stage_chunks(spark, sf_dir, work)
    stream = spark.readStream.schema(EVENTS_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    sink = BucketedAggregatingSink(f"{work}/hourly")

    def shape(env):
        # key = event_type:hour_s — composite string pk, so the generic
        # per-key aggregate sink maintains the hourly series unchanged;
        # hour from the µs clock (epoch >= 0 in the fixtures), exactly
        # the batch operator's ns-clock bucket
        hour_s = (F.unix_micros(F.col("event_ts")) / F.lit(3_600_000_000)).cast(
            "long"
        ) * F.lit(3600)
        return env.select(
            F.concat_ws(":", F.col("event_type"), hour_s.cast("string")).alias("pk"),
            F.col("offset"),
            F.col("value"),
        )

    q = (
        stream.writeStream.foreachBatch(
            lambda b, bid: sink.write(shape(to_envelope(b)), bid)
        )
        .option("checkpointLocation", f"{work}/ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # read-time derivation over the MAINTAINED aggregate: decode the
    # composite key (the regex anchors the hour after the LAST ':' so an
    # event_type containing ':' cannot corrupt the split), then the
    # shared grid + LOCF tail
    st = sink.state(spark)
    hourly = st.select(
        F.regexp_extract("pk", r"^(.*):(-?\d+)$", 1).alias("event_type"),
        F.regexp_extract("pk", r"^(.*):(-?\d+)$", 2).cast("long").alias("hour_s"),
        F.col("n_events").alias("n"),
        # DOUBLE, not the sink's DECIMAL(28,2): the batch w_gapfill_locf
        # casts v to double before the shared tail and the oracle emits
        # DOUBLE — keep the served v_locf type identical (ADVICE r13)
        F.col("value_sum").cast("double").alias("v"),
    )
    return gapfill_locf_grid(hourly)


def _stage_event_hourly_cdc(spark: SparkSession, sf_dir: str, work: str):
    """Stage the deterministic EVENT-level CDC stream for the hourly
    sink: full insert wave, then updates (ts shifted +45 min,
    event_id % 7 = 0 — crossing the hour boundary for most events, so
    aggregates genuinely MOVE between hours; the event_id % 21 = 0 slice
    ALSO reclassifies event_type to event_type || '-mv', exercising the
    cross-key move in the other group dimension) and deletes
    (event_id % 11 = 3 — genuine retraction from the sums), split into 4
    arbitrary chunks so the waves interleave across micro-batches and
    the offset-keyed merge must converge regardless of arrival order.
    The sq_gapfill_locf_cdc_stream oracle's live CTE mirrors exactly
    this recipe."""
    from pyspark.sql import functions as F

    e = _normalized_events(spark, sf_dir).select(
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        "value",
    )
    off = F.col("event_id") + F.lit(100000000)  # wave-1 offsets after all wave-0
    wave0 = e.select(
        "event_id",
        F.col("event_id").alias("offset"),
        F.lit("c").alias("op"),
        "event_type",
        "t_us",
        "value",
    )
    upd = e.filter((F.col("event_id") % 7 == 0) & (F.col("event_id") % 11 != 3)).select(
        "event_id",
        off.alias("offset"),
        F.lit("u").alias("op"),
        F.when(
            F.col("event_id") % 21 == 0, F.concat(F.col("event_type"), F.lit("-mv"))
        )
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        (F.col("t_us") + F.lit(2_700_000_000)).alias("t_us"),
        "value",
    )
    dels = e.filter(F.col("event_id") % 11 == 3).select(
        "event_id",
        off.alias("offset"),
        F.lit("d").alias("op"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("long").alias("t_us"),
        F.lit(None).cast("double").alias("value"),
    )
    src = f"{work}/source"
    wave0.unionByName(upd).unionByName(dels).repartition(4).write.mode(
        "overwrite"
    ).parquet(src)
    return (
        spark.readStream.schema(
            "event_id long, offset long, op string, event_type string, "
            "t_us long, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


@register(
    "sq_gapfill_locf_cdc_stream",
    category="streaming",
    doc=(
        "Gap-filled hourly series with LOCF under FULL CDC - the "
        "retraction-capable form of sq_gapfill_locf_stream (VERDICT r13 "
        "#2): the append-only BucketedAggregatingSink merge cannot "
        "retract an update or delete from its sums, so this entry drives "
        "genuine update waves (ts +45 min - aggregates MOVE between "
        "hours; the event_id % 21 = 0 slice also reclassifies event_type) "
        "and delete waves through BucketedHourlyStatsSink, the "
        "session-sink recompute-the-touched-group pattern applied to the "
        "(event_type, hour) key: per micro-batch it derives the touched "
        "groups (old owners and new owners of the batch's events), "
        "re-keys only those events in the per-group log (copy-on-write "
        "buckets, DPP-pruned), recomputes exactly the touched hours' "
        "count/sum (never delta-updates), and commits group_events -> "
        "hourly -> per-event index LAST (the replay anchor). The dense "
        "grid + LOCF stays a READ-TIME tail over the maintained hourly "
        "store via the same gapfill_locf_grid the batch operator uses. "
        "The served grid must equal the one-shot batch computation over "
        "the live post-CDC events, which is what the oracle (DuckDB ASOF "
        "JOIN over the mirrored live CTE) computes."
    ),
    oracle="""
        WITH live AS (
            SELECT event_id,
                   CASE WHEN event_id % 21 = 0 THEN event_type || '-mv'
                        ELSE event_type END AS event_type,
                   CAST(epoch_us(ts) AS BIGINT)
                     + CASE WHEN event_id % 7 = 0 THEN 2700000000 ELSE 0 END AS t_us,
                   CAST(value AS DECIMAL(18,2)) AS v
            FROM events
            WHERE event_id % 11 <> 3
        ),
        hourly AS (
            SELECT event_type, (t_us // 3600000000) * 3600 AS hour_s,
                   COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS v
            FROM live GROUP BY 1, 2
        ),
        bounds AS (SELECT MIN(hour_s) AS lo, MAX(hour_s) AS hi FROM hourly),
        grid AS (
            SELECT et.event_type, gs.hour_s
            FROM (SELECT DISTINCT event_type FROM hourly) et,
                 (SELECT unnest(generate_series(lo, hi, 3600)) AS hour_s FROM bounds) gs
        )
        SELECT g.event_type, g.hour_s AS hour_start,
               COALESCE(hy.n, 0) AS n,
               locf.v AS v_locf
        FROM grid g
        LEFT JOIN hourly hy ON hy.event_type = g.event_type AND hy.hour_s = g.hour_s
        ASOF LEFT JOIN hourly locf
          ON g.event_type = locf.event_type AND g.hour_s >= locf.hour_s
        ORDER BY g.event_type, hour_start
    """,
)
def sq_gapfill_locf_cdc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdc_platform_spark.operators.windows import gapfill_locf_grid
    from cdc_platform_spark.streaming.hourly_index import BucketedHourlyStatsSink

    work = _workdir("sq_gapcdc_")
    stream = _stage_event_hourly_cdc(spark, sf_dir, work)
    sink = BucketedHourlyStatsSink(f"{work}/hourly")
    _run_index_stream(stream, sink, work)
    return gapfill_locf_grid(sink.hourly_stats(spark))
