"""The benchmark's workloads and the pieces they share: the run
context, the closed batch loop and the per-layer metric table."""

from __future__ import annotations

import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from ..measure import Tracer, layer_self_times


class Mismatch(Exception):
    """An output differs from its independent reference."""


@dataclass
class Context:
    spark: object
    seed: int
    nproc: int
    workdir: str
    stats: object
    tracer: Tracer
    # per-step Spark status-store sums, filled in traced windows only
    steps: dict = field(default_factory=dict)

    @contextmanager
    def step(self, name: str, op: str | None = None):
        """A span around one call into a layer; in a traced window also
        the Spark work that completed inside it."""
        if not self.tracer.enabled:
            yield
            return
        cursor = self.stats.mark()
        with self.tracer.span(name, op):
            yield
        got = self.stats.since(cursor)
        acc = self.steps.setdefault(name, dict.fromkeys(got, 0.0))
        for k, v in got.items():
            acc[k] += v


@dataclass
class Outcome:
    latencies_s: list
    items: int
    wall_s: float
    attempted: int
    failed: int
    extra: dict = field(default_factory=dict)


def batch_loop(op, seconds: float) -> Outcome:
    """Closed loop: run ``op(i)`` back to back until ``seconds`` have
    passed, always finishing the operation in flight. ``op`` returns
    the items of work it completed; an exception counts it as failed,
    except a Mismatch, which fails the run."""
    lat, items, attempted, failed = [], 0, 0, 0
    t0 = time.perf_counter()
    while True:
        a = time.perf_counter()
        attempted += 1
        try:
            items += op(attempted)
        except Mismatch:
            raise
        except Exception:
            traceback.print_exc()
            failed += 1
        b = time.perf_counter()
        lat.append(b - a)
        if b - t0 >= seconds:
            return Outcome(lat, items, b - t0, attempted, failed)


def make(name: str, ctx: Context):
    if name == "arco_ingest":
        from .arco_ingest import ArcoIngest
        return ArcoIngest(ctx)
    if name == "api_mixed":
        from .api_mixed import ApiMixed
        return ApiMixed(ctx)
    raise ValueError(f"unknown workload {name!r}")


# Three of the reference's six pre-computed metrics: a temporal
# aggregate, a climatology joined back to every row, and an exact sort
# per group. The other three (climatology, trend, exceedance) repeat
# these plan shapes and did not fit the run budget.
SUITE = ("monthly_mean", "anomaly", "percentiles")
ROUTES = ("point", "region", "stats", "temporal", "trend", "anomaly",
          "percentiles")

# Every per-layer metric BENCHMARK.json lists, with its unit; a traced
# run of any listed workload prints all of them, with 0 where the
# workload does not touch a layer.
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.hdf5_open_s": "s",
    "sources.write_parquet_s": "s",
    "sources.parquet_info_s": "s",
    "sources.bytes_stored": "B",
    "sources.files_written": "count",
    "sources.catalog_load_ms": "ms",
    **{f"plans.run_metric_build_ms.{m}": "ms" for m in SUITE},
    **{f"operators.{m}_s": "s" for m in SUITE},
    "serving.cache_hit_ratio": "ratio",
    "serving.hit_ms": "ms",
    "serving.miss_ms": "ms",
    **{f"http_server.handle_ms.{r}": "ms" for r in ROUTES},
    "http_server.wait_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.pyworker_start_s": "s",
    "spark.pyworker_run_s": "s",
    "spark.pyworker_bytes_sent": "B",
    "spark.pyworker_bytes_returned": "B",
    "spark.scheduler_idle_ratio": "ratio",
    "loadgen.late_ms": "ms",
    "loadgen.within_2s_ratio": "ratio",
    **{f"self.{layer}_s": "s"
       for layer in ("loadgen", "http_server", "serving", "sources", "plans",
                     "operators")},
    "trace.overhead_ratio": "ratio",
    "peak_rss_mb": "MB",
}


def layer_metrics(wl, ctx: Context, out: Outcome, spark_stats: dict,
                  wall_s: float, session_s: float) -> dict:
    """The traced window's per-layer numbers."""
    m = dict.fromkeys(LAYER_UNITS, 0.0)
    m["session.start_s"] = session_s
    for k, v in spark_stats.items():
        m[f"spark.{k}"] = v
    m["spark.scheduler_idle_ratio"] = max(
        0.0, 1.0 - spark_stats["executor_run_s"] / (wall_s * ctx.nproc))
    for layer, s in layer_self_times(ctx.tracer.spans).items():
        m[f"self.{layer}_s"] = s
    m.update(wl.layer_metrics(out))
    unknown = set(m) - set(LAYER_UNITS)
    if unknown:
        raise KeyError(f"per-layer metrics without a unit: {sorted(unknown)}")
    return m
