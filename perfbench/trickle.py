"""The ``trickle`` workload: steady-state CDC with live reads beside it.

Set-up seeds ~1M keys into the upsert state.  The pipeline
(``CdcPipeline.run_available_now``, ``maxFilesPerTrigger=1``) then ingests
rounds of three 1,000-record Kafka/Debezium files into ``AppendSink`` +
``BucketedUpsertSink(n_buckets=16)`` + ``DlqWriter``, while one reader
thread reads the live state on an open loop through a ``read_only`` sink
under ``serving.run_stable``.  Per-batch fixed cost and the O(state)
bucket rewrite dominate.  The live reads count toward ``reads_ok_share``
and the per-layer ``serve.live_read_ms``; the bounded read-latency metrics
come from the reads repeated after ingest with no writer running, so they
leave out contention with the writer.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cdc_platform_spark.sources.kafka import kafka_envelope_flat
from cdc_platform_spark.streaming.pipeline import (
    AppendSink,
    BucketedUpsertSink,
    CdcPipeline,
    DlqWriter,
    StateInFlightError,
)
from cdc_platform_spark.streaming.serving import run_stable

from perfbench import frames, oracle
from perfbench.stats import TAIL_PCT, geomean, median, percentile, tail

N_BUCKETS = 16
READER_GROUP = "perfbench-reader"
# Three reads in four are point lookups.  The mix is an assumption, not
# taken from a measured serving trace; it was chosen so the median read
# falls inside the point-lookup distribution rather than on the edge
# between kinds.
READ_CYCLE = ("point_lookup", "point_lookup", "point_lookup", "state_scan",
              "point_lookup", "point_lookup", "point_lookup", "append_view")
SETUP_REPS = 3
KEYS = 1_000_000  # key space; set-up seeds every key
FILES_PER_ROUND = 3
PER_FILE = 1_000
ROUND_S = 8  # nominal seconds per round; --seconds / ROUND_S rounds are run
# Open-loop read rate.  A live read takes ~0.7 s (median) under ingest load
# and up to ~2 s when it lands on the upsert's heavy stages, so one reader
# thread keeps up at this rate without a growing backlog.
READ_RATE = 0.5
QUIET_PASSES = 2  # passes through the read cycle after ingest, no writer running


def _parquet_files(root: str) -> set[str]:
    out = set()
    for d, _, names in os.walk(root):
        out.update(f"{d}/{n}" for n in names if n.endswith(".parquet"))
    return out


def _rows(paths) -> int:
    return sum(pq.read_metadata(p).num_rows for p in paths)


class Pipeline:
    """One pipeline's directories, sinks and the record files fed to it."""

    def __init__(self, spark, root: str, listener) -> None:
        self.spark, self.root, self.listener = spark, root, listener
        self.source = f"{root}/source"
        os.makedirs(self.source)
        self.append = AppendSink(f"{root}/append")
        self.upsert = BucketedUpsertSink(f"{root}/state", n_buckets=N_BUCKETS)
        self.dlq = DlqWriter(f"{root}/dlq")
        self.pipe = CdcPipeline(
            spark=spark,
            source_dir=self.source,
            checkpoint_dir=f"{root}/checkpoint",
            sinks={"append": self.append, "upsert": self.upsert},
            dlq=self.dlq,
            stream_builder=self._stream,
            envelope_fn=kafka_envelope_flat,
        )
        self.next_offset = 0
        self.seed_keys = 0

    def _stream(self, spark):
        return (
            spark.readStream.schema(frames.SPARK_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.source)
        )

    def seed(self, n_keys: int) -> None:
        """Write ``n_keys`` creates (pk = offset = 0..n-1) through the
        upsert sink; stream offsets start above them."""
        ids = F.col("id")
        etype = F.element_at(
            F.array(*[F.lit(e) for e in frames.EVENT_TYPES]), (ids % 5 + 1).cast("int")
        )
        self.upsert.write(
            self.spark.range(n_keys).select(
                ids.alias("pk"), ids.alias("offset"), F.lit("c").alias("op"),
                etype.alias("event_type"), ((ids % 100_000) / 100.0).alias("value"),
            )
        )
        self.seed_keys = self.next_offset = n_keys

    def add_round(self, rng, keys, n_files: int) -> None:
        """Write one round of ``n_files`` record files into the source dir."""
        frames.write_round(rng, keys, self.next_offset, n_files, PER_FILE,
                           self.source, f"r{self.next_offset:012d}")
        self.next_offset += n_files * PER_FILE

    def run(self) -> tuple[float, list[dict]]:
        """One ``run_available_now``; returns its wall time and batches."""
        seen = len(self.listener.batches)
        done = self.listener.terminated
        t0 = time.perf_counter()
        self.pipe.run_available_now()
        wall = time.perf_counter() - t0
        self.listener.wait_terminated(done + 1)
        return wall, sorted(self.listener.batches[seen:], key=lambda b: b["batch"])


class Reads:
    """The read mix, each read under ``run_stable`` against a read-only sink."""

    def __init__(self, spark, root: str, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.state = BucketedUpsertSink(f"{root}/state", n_buckets=N_BUCKETS, read_only=True)
        self.append = AppendSink(f"{root}/append")

    def _action(self, kind: str, pk: int):
        spark = self.spark
        if kind == "point_lookup":
            bucket = spark.createDataFrame([(pk,)], "pk long").select(
                F.pmod(F.hash("pk"), F.lit(N_BUCKETS)).alias("bucket")
            )
            return lambda: self.state.pruned_read(spark, bucket).filter(F.col("pk") == pk).collect()
        if kind == "state_scan":
            return lambda: self.state.state(spark).agg(F.count(F.lit(1)), F.sum("value")).collect()
        return lambda: self.append.exactly_once_view(spark).count()

    def read(self, kind: str, pk: int) -> dict:
        tracer = self.tracer
        action = self._action(kind, pk)
        attempts = 0

        def attempt():
            nonlocal attempts
            attempts += 1
            with tracer.span("serve.attempt"):
                return action()

        def fingerprint():
            with tracer.span("serve.fingerprint"):
                return self.state.state_fingerprint()

        out = {"kind": kind, "ok": False, "refused": False}
        with tracer.span(f"serve.{kind}"):
            try:
                run_stable(attempt, fingerprint)
                out["ok"] = True
            except StateInFlightError:
                out["refused"] = True
            except Exception as exc:  # noqa: BLE001 - an erroring read is a failed read
                out["error"] = f"{type(exc).__name__}: {str(exc)[:200]}"
        out["attempts"] = attempts
        return out


class OpenLoopReader(threading.Thread):
    """Issues reads at a fixed rate from one thread; each read is timed from
    when it was due.  Every read due before ``stop`` is issued, so a backlog
    left when ingest ends is drained rather than dropped."""

    def __init__(self, reads: Reads, rate: float, pks: np.ndarray) -> None:
        super().__init__(name="perfbench-reader", daemon=True)
        self.reads, self.rate, self.pks = reads, rate, pks
        self.samples: list[dict] = []
        self._stop_at: float | None = None
        self._wake = threading.Event()
        self.error: BaseException | None = None

    def stop(self) -> None:
        self._stop_at = time.perf_counter()
        self._wake.set()

    def run(self) -> None:
        try:
            self.reads.spark.sparkContext.setJobGroup(READER_GROUP, "live-state reads")
            t0 = time.perf_counter()
            i = 0
            while True:
                due = t0 + i / self.rate
                wait = due - time.perf_counter()
                if wait > 0 and self._stop_at is None:
                    self._wake.wait(wait)
                if self._stop_at is not None and due > self._stop_at:
                    return
                start = time.perf_counter()
                r = self.reads.read(READ_CYCLE[i % len(READ_CYCLE)], int(self.pks[i % len(self.pks)]))
                r.update(latency=time.perf_counter() - due, lateness=start - due)
                self.samples.append(r)
                i += 1
        except BaseException as exc:  # noqa: BLE001 - surfaced by the caller after join
            self.error = exc


class SinkProbe:
    """Traced-run wrapper around a sink's ``write``: a span per call plus
    the parquet files and rows the call added, read from file footers."""

    def __init__(self, tracer, name: str, sink, root: str) -> None:
        self.tracer, self.name, self.root = tracer, name, root
        self.calls: list[dict] = []
        inner = sink.write

        def write(*args, **kwargs):
            if not tracer.enabled:
                return inner(*args, **kwargs)
            before = _parquet_files(root)
            t0 = time.time()
            with tracer.span(f"sink.{name}.write"):
                inner(*args, **kwargs)
            ms = (time.time() - t0) * 1000
            added = _parquet_files(root) - before
            self.calls.append({"start": t0, "ms": ms, "rows": _rows(added),
                               "buckets": len({os.path.dirname(p) for p in added})})

        sink.write = write


def _batch_of(t: float, batches: list[dict]) -> int | None:
    for b in batches:
        if b["start"] <= t <= b["start"] + b["durations"]["triggerExecution"] / 1000 + 0.05:
            return b["batch"]
    return None


def _dir_stats(root: str) -> tuple[int, int]:
    n_files = n_bytes = 0
    for d, _, names in os.walk(root):
        for n in names:
            n_files += 1
            n_bytes += os.path.getsize(f"{d}/{n}")
    return n_files, n_bytes


def _leftovers(root: str) -> int:
    n = 0
    for d, dirs, _ in os.walk(root):
        n += sum(1 for x in dirs if ".tmp-" in x or ".old-" in x)
        if d.endswith(".work"):
            n += len(os.listdir(d))
    return n


class TrickleWorkload:
    def __init__(self, spark, work: str, seed: int, tracer, listener) -> None:
        self.spark, self.work, self.tracer, self.listener = spark, work, tracer, listener
        self.rng = np.random.default_rng([seed, 1])
        self.keys = frames.KeySampler(np.random.default_rng([seed, 2]), KEYS)
        self.pipeline: Pipeline | None = None
        self.setup_reps: list[float] = []

    def setup(self) -> None:
        """Create the pipeline and seed its upsert state, then start the
        pipeline ``SETUP_REPS`` times, each run over one 1,000-record file.
        A set-up is the seeding plus one such run.  The runs let codegen
        and JIT settle before the measured rounds."""
        p = Pipeline(self.spark, f"{self.work}/trickle", self.listener)
        t0 = time.perf_counter()
        p.seed(KEYS)
        seed_s = time.perf_counter() - t0
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            p.add_round(self.rng, self.keys, 1)
            p.run()
            self.setup_reps.append(seed_s + time.perf_counter() - t0)
        self.pipeline = p

    def measure(self, seconds: float, traced: bool) -> dict:
        """Ingest ``seconds / ROUND_S`` rounds (at least one), a fixed
        amount of work for a given ``seconds``, so every run's batch
        latencies come from the same point of warm-up; returns the raw
        observations.  A traced run orders its rounds untraced, traced,
        traced, untraced (repeating, at least four), so both kinds see the
        same warm-up trend and their ratio is the tracing overhead."""
        n_rounds = max(round(seconds / ROUND_S), 4 if traced else 1)
        p = self.pipeline
        probes = {}
        if traced:
            probes = {
                "append": SinkProbe(self.tracer, "append", p.append, p.append.path),
                "upsert": SinkProbe(self.tracer, "upsert", p.upsert, p.upsert.path),
                "dlq": SinkProbe(self.tracer, "dlq", p.dlq, p.dlq.path),
            }
        reader = OpenLoopReader(Reads(self.spark, p.root, self.tracer), READ_RATE,
                                self.keys.sample(self.rng, 4096))
        reader.start()
        runs = []
        try:
            while len(runs) < n_rounds:
                p.add_round(self.rng, self.keys, FILES_PER_ROUND)
                self.tracer.enabled = traced and len(runs) % 4 in (1, 2)
                t_start = time.time()
                wall, batches = p.run()
                runs.append({"wall": wall, "batches": batches, "start": t_start,
                             "traced": self.tracer.enabled})
        finally:
            self.tracer.enabled = False
            reader.stop()
            reader.join(timeout=120)
        if reader.is_alive():
            raise TimeoutError("reader thread did not stop")
        if reader.error is not None:
            raise reader.error
        # the read cycle again with no writer running: serving cost alone
        quiet = []
        for kind in READ_CYCLE * QUIET_PASSES:
            t0 = time.perf_counter()
            r = reader.reads.read(kind, int(self.keys.sample(self.rng, 1)[0]))
            quiet.append({**r, "latency": time.perf_counter() - t0})
        batches = [b for r in runs for b in r["batches"]]
        for s in self.tracer.spans:
            if s.name.startswith("sink.") and s.batch is None:
                s.batch = _batch_of(s.start, batches)
        return {"runs": runs, "reads": reader.samples,
                "quiet": quiet, "probes": probes}

    def decode_rate(self, n_reps: int = 3) -> float:
        """``kafka_envelope_flat`` alone over one of the run's record files."""
        files = sorted(os.listdir(self.pipeline.source))
        path = f"{self.pipeline.source}/{files[-1]}"
        rows = pq.read_metadata(path).num_rows
        times = []
        for _ in range(n_reps):
            t0 = time.perf_counter()
            kafka_envelope_flat(self.spark.read.parquet(path)).write.format("noop").mode(
                "overwrite"
            ).save()
            times.append(time.perf_counter() - t0)
        return rows / median(times)

    def add_pipeline_spans(self, obs: dict) -> None:
        """Add run, batch and addBatch spans of the traced rounds, built from
        the listener's progress, and hang each sink span under its batch's
        addBatch."""
        tracer = self.tracer
        add_ids = {}
        for r in obs["runs"]:
            if not r["traced"]:
                continue
            rid = tracer.add("pipeline.run", r["start"], r["start"] + r["wall"])
            for b in r["batches"]:
                d, start = b["durations"], b["start"]
                bid = tracer.add("pipeline.batch", start, start + d["triggerExecution"] / 1000,
                                 parent=rid, batch=b["batch"])
                pre = sum(d.get(k, 0) for k in
                          ("latestOffset", "walCommit", "getBatch", "queryPlanning")) / 1000
                add_ids[b["batch"]] = tracer.add(
                    "pipeline.addBatch", start + pre, start + pre + d.get("addBatch", 0) / 1000,
                    parent=bid, batch=b["batch"])
        for s in tracer.spans:
            if s.name.startswith("sink.") and s.batch in add_ids:
                s.parent = add_ids[s.batch]

    def check(self) -> list[str]:
        p = self.pipeline
        return oracle.check_ingest(self.spark, p.source, p.seed_keys, p.upsert, p.append, p.dlq)

    # --- metrics ---------------------------------------------------------

    @staticmethod
    def end_to_end(obs: dict) -> tuple[dict, dict]:
        batches = [b for r in obs["runs"] for b in r["batches"]]
        trig = [b["durations"]["triggerExecution"] for b in batches]
        rows = sum(b["rows"] for b in batches)
        wall = sum(r["wall"] for r in obs["runs"])
        lat = [r["latency"] * 1000 for r in obs["quiet"] if r["ok"]]
        all_reads = obs["reads"] + obs["quiet"]
        attempted_reads = len(all_reads)
        ok_reads = sum(r["ok"] for r in all_reads)
        metrics = {
            "ingest_events_per_s": rows / wall,
            "batch_latency_p50_ms": median(trig),
            "read_latency_p50_ms": median(lat),
            "read_latency_tail_ms": tail(lat),
            "live_read_latency_ms": statistics.fmean(
                [r["latency"] * 1000 for r in obs["reads"] if r["ok"]]),
            "reads_ok_share": ok_reads / attempted_reads,
            "queries_total_s": sum(lat) / 1000,
            "queries_geomean_s": geomean(lat) / 1000,
        }
        detail = {
            "batches": len(batches), "tail_pct": TAIL_PCT, "events": rows,
            "batch_tail_ms": tail(trig),
            "batch_ms": trig, "read_ms": [round(x) for x in lat],
            "live_read_ms": [round(r["latency"] * 1000) for r in obs["reads"] if r["ok"]],
            "ingest_wall_s": wall, "reads": attempted_reads, "quiet_reads": len(lat),
            "read_errors": sorted({r["error"] for r in all_reads if "error" in r}),
            "attempted": len(batches) + attempted_reads, "failed": attempted_reads - ok_reads,
        }
        return metrics, detail

    def per_layer(self, obs: dict) -> dict:
        """Per-layer metrics of the traced rounds, except the Spark job
        count, which needs the event log and so is added after the session
        stops."""
        runs = [r for r in obs["runs"] if r["traced"]]
        batches = [b for r in runs for b in r["batches"]]
        d = lambda b, k: b["durations"].get(k, 0)  # noqa: E731
        probes = obs["probes"]
        sink_ms_by_batch: dict[int, float] = {}
        for s in self.tracer.spans:
            if s.name.startswith("sink.") and s.batch is not None:
                sink_ms_by_batch[s.batch] = sink_ms_by_batch.get(s.batch, 0.0) + (s.end - s.start) * 1000
        start_stop = [
            r["wall"] * 1000 - sum(d(b, "triggerExecution") for b in r["batches"])
            for r in runs
        ]
        upsert = probes["upsert"].calls
        healthy = sum(b["rows"] for b in batches) - sum(c["rows"] for c in probes["dlq"].calls)
        reads = obs["reads"]
        stats = self.pipeline.upsert.state_stats(self.spark)
        ckpt_files, ckpt_bytes = _dir_stats(f"{self.pipeline.root}/checkpoint")
        serve = {k: [] for k in ("point_lookup", "state_scan", "append_view", "fingerprint")}
        for s in self.tracer.spans:
            kind = s.name.split(".", 1)[1] if s.name.startswith("serve.") else None
            if kind in serve:
                serve[kind].append((s.end - s.start) * 1000)
        poison_by_batch = {b["batch"]: 0 for b in batches}
        for c in probes["dlq"].calls:
            b = _batch_of(c["start"], batches)
            if b in poison_by_batch:
                poison_by_batch[b] += c["rows"]
        return {
            "pipeline.trigger_overhead_ms": median(
                [d(b, "triggerExecution") - d(b, "addBatch") for b in batches]),
            "pipeline.query_start_stop_ms": median(start_stop),
            "pipeline.input_rows": median([b["rows"] for b in batches]),
            "pipeline.poison_rows": median(list(poison_by_batch.values())),
            "pipeline.decode_materialize_ms": median(
                [d(b, "addBatch") - sink_ms_by_batch.get(b["batch"], 0.0) for b in batches]),
            "sink.append.write_ms": median([c["ms"] for c in probes["append"].calls]),
            "sink.upsert.write_ms": median([c["ms"] for c in upsert]),
            "sink.dlq.write_ms": median([c["ms"] for c in probes["dlq"].calls]),
            "sink.append.rows": median([c["rows"] for c in probes["append"].calls]),
            "sink.upsert.rows": median([c["rows"] for c in upsert]),
            "sink.dlq.rows": median([c["rows"] for c in probes["dlq"].calls]),
            "state.rows": stats["rows"],
            "state.bytes": stats["bytes"],
            "state.buckets_touched_per_batch": median([c["buckets"] for c in upsert]),
            "state.rows_rewritten_per_event": (
                sum(c["rows"] for c in upsert) / healthy if healthy else 0.0),
            "serve.point_lookup_ms": median(serve["point_lookup"]),
            "serve.state_scan_ms": median(serve["state_scan"]),
            "serve.append_view_ms": median(serve["append_view"]),
            "serve.attempts_per_read": (
                sum(r["attempts"] for r in reads) / len(reads) if reads else 0.0),
            "serve.refused_reads": sum(1 for r in reads if r["refused"]),
            "serve.fingerprint_ms": median(serve["fingerprint"]),
            "checkpoint.bytes": ckpt_bytes,
            "checkpoint.files": ckpt_files,
            "storage.leftover_dirs": _leftovers(self.pipeline.root),
            "serve.live_read_ms": median([r["latency"] * 1000 for r in reads if r["ok"]]),
            "gen.reader_lateness_ms": percentile([r["lateness"] * 1000 for r in reads], 50),
        }

    @staticmethod
    def overhead_pct(obs: dict) -> float:
        """Ingest wall per event of traced rounds over untraced ones, − 1."""
        def cost(traced: bool) -> float:
            runs = [r for r in obs["runs"] if r["traced"] == traced]
            return sum(r["wall"] for r in runs) / sum(b["rows"] for r in runs for b in r["batches"])

        return (cost(True) / cost(False) - 1) * 100
