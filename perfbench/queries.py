"""The ``queries`` workload: the headline registry queries, closed loop.

One client runs the 21 headline queries of the ``operators`` registry in
a fixed order, each built by its registry builder, executed and collected
as Arrow, and starts the next only when the previous one finished.  The
tables are the repository's sf0.01 correctness fixture; they are fixed,
so ``--seed`` does not change this workload's inputs.  A run measures
whole passes, so its first pass pays the session's first-use costs
(codegen, Python-worker start) as a user of a fresh session does; the
collected results feed the correctness gate.
"""

from __future__ import annotations

import gc
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import oracle
from perfbench.spec import HEADLINE
from perfbench.stats import TAIL_PCT, geomean, median, tail

# The headline queries that read the CDC events table end to end.
EVENT_QUERIES = ("q26_cdc_append", "q27_cdc_upsert_latest", "w_session_per_user",
                 "w_gapfill_locf")


class QueryWorkload:
    def __init__(self, spark, sf_dir: str, tracer) -> None:
        self.spark, self.sf_dir, self.tracer = spark, sf_dir, tracer
        self.n_events = pq.read_metadata(f"{sf_dir}/events.parquet").num_rows
        self.registry = {}
        self.results: dict[str, pa.Table] = {}
        self.setup_reps: list[float] = []

    def setup(self) -> None:
        """Loading the registry is the workload's only set-up; a module
        imports once per process, so it is timed once."""
        from cdc_platform_spark.operators import load_all

        t0 = time.perf_counter()
        self.registry = load_all()
        self.setup_reps.append(time.perf_counter() - t0)

    def _run(self, name: str) -> dict:
        tracer = self.tracer
        out = {"name": name, "ok": False}
        with tracer.span(f"query.{name}"):
            try:
                t0 = time.perf_counter()
                with tracer.span("query.build"):
                    df = self.registry[name].builder(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with tracer.span("query.execute"):
                    self.results[name] = df.toArrow()
                t2 = time.perf_counter()
                out.update(ok=True, total=t2 - t0, execute=t2 - t1)
            except Exception as exc:  # noqa: BLE001 - a failing query is a failed operation
                out["error"] = f"{type(exc).__name__}: {str(exc)[:200]}"
        gc.collect()
        return out

    def measure(self, seconds: float, traced: bool) -> dict:
        """Whole passes over the headline set until ``seconds`` elapsed.  A
        traced run discards its first, cold pass, then alternates untraced
        and traced passes (at least one of each) so their ratio is the
        tracing overhead."""
        passes: list[dict] = []
        t0 = time.perf_counter()
        while len(passes) < 1 + 2 * traced or time.perf_counter() - t0 < seconds:
            self.tracer.enabled = traced and len(passes) % 2 == 0 and len(passes) > 0
            p0 = time.perf_counter()
            runs = [self._run(name) for name in HEADLINE]
            passes.append({"runs": runs, "wall": time.perf_counter() - p0,
                           "traced": self.tracer.enabled})
        self.tracer.enabled = False
        if traced:
            passes = passes[1:]
        return {"passes": passes, "runs": [r for p in passes for r in p["runs"]]}

    def check(self) -> list[str]:
        return oracle.check_queries(self.results, self.sf_dir, self.registry)

    def _medians(self, obs: dict) -> dict[str, float]:
        return {
            name: median([r["total"] for r in obs["runs"] if r["name"] == name and r["ok"]])
            for name in HEADLINE
        }

    def end_to_end(self, obs: dict) -> tuple[dict, dict]:
        ok = [r for r in obs["runs"] if r["ok"]]
        total_ms = [r["total"] * 1000 for r in ok]
        exec_ms = [r["execute"] * 1000 for r in ok]
        per_query = self._medians(obs)
        metrics = {
            "ingest_events_per_s": (
                len(EVENT_QUERIES) * self.n_events / sum(per_query[q] for q in EVENT_QUERIES)
            ),
            # the 21 latencies are of 21 different queries, and their median
            # jumps between two queries of different cost from run to run,
            # so the central value here is the geometric mean
            "batch_latency_p50_ms": geomean(total_ms),
            "read_latency_p50_ms": geomean(exec_ms),
            "read_latency_tail_ms": tail(exec_ms),
            "live_read_latency_ms": statistics.fmean(exec_ms),
            "reads_ok_share": len(ok) / len(obs["runs"]),
            "queries_total_s": sum(per_query.values()),
            "queries_geomean_s": geomean(list(per_query.values())),
        }
        detail = {
            "passes": len(obs["passes"]), "executions": len(obs["runs"]),
            "pass_s": [p["wall"] for p in obs["passes"]],
            "query_s": {r["name"]: r["total"] for r in ok},
            "tail_pct": TAIL_PCT, "batch_tail_ms": tail(total_ms),
            "errors": sorted({r["error"] for r in obs["runs"] if "error" in r}),
            "attempted": len(obs["runs"]), "failed": len(obs["runs"]) - len(ok),
        }
        return metrics, detail

    def per_layer(self, obs: dict) -> dict:
        traced = [r for p in obs["passes"] if p["traced"] for r in p["runs"]]
        return {f"query.{name}_s": v for name, v in self._medians({"runs": traced}).items()}

    @staticmethod
    def overhead_pct(obs: dict) -> float:
        """Median traced pass over median untraced pass, − 1."""
        def cost(traced: bool) -> float:
            return median([p["wall"] for p in obs["passes"] if p["traced"] == traced])

        return (cost(True) / cost(False) - 1) * 100
