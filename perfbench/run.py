"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload trickle|queries \
        --seed N --seconds S --trace 0|1

Run from the repository root.  trickle generates its inputs from
``--seed`` under ``perfbench/.work/`` (removed at exit); queries reads the
fixed sf0.01 tables under ``perfbench/fixture/``.  Results, and in traced
runs the span file and per-layer self-time table, go to
``perfbench/out/``.  The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: every
end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1``.  The exit code is 0 only when every output matched its
oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# The sf0.01 tables the repository's correctness tests read, copied byte
# for byte so the query workload runs inside its own checkout.
FIXTURE_DIR = os.path.join(BENCH_DIR, "fixture", "sf0.01")


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _git_sha() -> str:
    """HEAD of the checkout, read from ``.git`` without running git;
    ``unknown`` when the checkout is not a git repository."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = os.path.join(ROOT, ".git", ref)
        if os.path.exists(ref_file):
            with open(ref_file) as fh:
                return fh.read().strip()
        with open(os.path.join(ROOT, ".git", "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def _pin_host(work: str) -> dict:
    """Size Spark to this host and keep its files inside ``work``.  Must run
    before ``cdc_platform_spark.session`` is imported (it reads the CPU
    count at import)."""
    cpus = len(os.sched_getaffinity(0))
    mem = _mem_total_bytes()
    heap_max_mb = min(2048, int(mem * 0.4) // 2**20)
    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM the session starts (the launcher and the engine) keeps its
    # temp and perf-data files out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData") if o
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_max_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    # executors' Python workers import the engine's UDFs by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    return {"cpus": cpus, "mem_total_mb": mem // 2**20, "heap_max_mb": heap_max_mb}


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _jvm_heap_peak_mb(spark) -> float:
    """Sum over the JVM's heap memory pools of each pool's peak use."""
    mgmt = spark._jvm.java.lang.management.ManagementFactory
    heap = spark._jvm.java.lang.management.MemoryType.HEAP
    return sum(
        pool.getPeakUsage().getUsed() for pool in mgmt.getMemoryPoolMXBeans()
        if pool.getType().equals(heap)
    ) / 2**20


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and every process under
    it, and wait until they are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = _descendants(proc.pid) if proc is not None else set()
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.terminate()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - escalate to SIGKILL on a stuck JVM
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in procs:
        while time.time() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def _event_log_jobs(log_dir: str, batches: list[dict], skip_group: str) -> dict[int, int]:
    """Spark jobs started inside each micro-batch's trigger window, from the
    event log, leaving out jobs of the reader's job group."""
    starts = []
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' not in line:
                    continue
                ev = json.loads(line)
                if ev.get("Properties", {}).get("spark.jobGroup.id") != skip_group:
                    starts.append(ev["Submission Time"] / 1000)
    out = {}
    for b in batches:
        end = b["start"] + b["durations"]["triggerExecution"] / 1000
        out[b["batch"]] = sum(1 for t in starts if b["start"] <= t <= end)
    return out


def _layer_table(rows: dict[str, dict]) -> str:
    lines = [f"{'span':36s} {'count':>6s} {'total_ms':>12s} {'self_ms':>12s}"]
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["self_ms"]):
        lines.append(f"{name:36s} {r['count']:6d} {r['total_ms']:12.1f} {r['self_ms']:12.1f}")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("trickle", "queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(BENCH_DIR, "out")
    os.makedirs(work)
    spark = None
    marks = {"start": time.perf_counter()}
    try:
        host = _pin_host(work)
        from cdc_platform_spark.session import get_spark

        from perfbench import spec
        from perfbench.trickle import READER_GROUP, TrickleWorkload
        from perfbench.queries import QueryWorkload
        from perfbench.stats import median
        from perfbench.trace import ProgressListener, Tracer

        traced = bool(args.trace)
        tracer = Tracer(enabled=False)
        conf = {
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            os.makedirs(os.path.join(work, "eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        spark.range(1).count()
        session_start = time.perf_counter() - t0

        trickle = args.workload == "trickle"
        if trickle:
            listener = ProgressListener()
            spark.streams.addListener(listener)
            wl = TrickleWorkload(spark, work, args.seed, tracer, listener)
        else:
            wl = QueryWorkload(spark, FIXTURE_DIR, tracer)
        marks["session"] = time.perf_counter()
        wl.setup()
        marks["setup"] = time.perf_counter()
        setup_s = session_start + median(wl.setup_reps)

        obs = wl.measure(args.seconds, traced=traced)
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        peak_rss_mb = _vm_hwm_mb(jvm_pid)
        heap_peak_mb = _jvm_heap_peak_mb(spark)
        e2e, detail = wl.end_to_end(obs)
        layers = {}
        if traced:
            layers = {name: 0 for name, _, _ in spec.PER_LAYER}
            layers["session.start_s"] = session_start
            layers.update(wl.per_layer(obs))
            layers["trace.overhead_pct"] = wl.overhead_pct(obs)
            layers["jvm.heap_peak_mb"] = heap_peak_mb
            if trickle:
                layers["sources.decode_events_per_s"] = wl.decode_rate()
                wl.add_pipeline_spans(obs)

        marks["measure"] = time.perf_counter()
        problems = wl.check()
        marks["check"] = time.perf_counter()
        _stop_spark(spark)
        spark = None
        marks["stop"] = time.perf_counter()
        if traced and trickle:
            batches = [b for r in obs["runs"] for b in r["batches"]]
            jobs = _event_log_jobs(os.path.join(work, "eventlog"), batches, READER_GROUP)
            layers["pipeline.spark_jobs_per_batch"] = median(list(jobs.values()))

        attempted = detail.pop("attempted") + 1
        failed = detail.pop("failed") + (1 if problems else 0)
        e2e.update(setup_s=setup_s, ok_share=1 - failed / attempted, peak_rss_mb=peak_rss_mb)
        units = {n: u for n, u, *_ in (spec.PER_LAYER if traced else spec.END_TO_END)}
        values = layers if traced else e2e
        result = {
            "correct": not problems,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in units},
        }
        info = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "git_sha": _git_sha(), **host, "detail": detail,
            "setup_reps_s": wl.setup_reps, "session_start_s": session_start,
            "heap_peak_mb": heap_peak_mb,
            "problems": problems,
            "phases_s": {k: round(v - marks["start"], 2) for k, v in marks.items()},
        }
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        if traced:
            table = _layer_table(tracer.self_times())
            tracer.dump(f"{stem}.spans.json")
            with open(f"{stem}.layers.txt", "w") as fh:
                fh.write(table + "\n")
            print(table)
        with open(f"{stem}.json", "w") as fh:
            json.dump({**info, **result}, fh, indent=1)
        print(json.dumps(info))
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
