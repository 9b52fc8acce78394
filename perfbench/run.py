"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload arco_ingest --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones in BENCHMARK.json;
with ``--trace 1`` they are the per-layer ones, measured in a second,
traced half of the window after an untraced half that gives the tracing
overhead. A full report (host fingerprint, the workload's own metric
names, per-step Spark numbers, spans) goes to ``.perfbench_out/``.
The exit code is 1 when an output check fails.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("arco_ingest", "api_mixed")
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms"}
_PR_SET_CHILD_SUBREAPER = 36


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(workdir: str, nproc: int) -> None:
    """Settings for the JVM and the Python workers it starts. Workers
    import the package from the checkout, whatever their working
    directory; temporary files stay in the run's work directory; the
    status stores keep a whole timed window readable."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "--conf", "spark.sql.ui.retainedExecutions=100000",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "pyspark-shell"])


def adopt_orphans() -> None:
    """Make this process the subreaper of all it starts: a Python worker
    whose parent (the JVM) ends first is re-parented here, not to init,
    so ``stop_processes`` can wait for it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(
            _PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_processes(grace_s: float = 30.0) -> None:
    """End the JVM that the Spark session launched and wait until every
    process this run started has ended; SIGKILL what outlives ``grace_s``.

    ``spark.stop()`` leaves the JVM up: it exits only when its stdin
    closes, which otherwise happens after this process is gone."""
    from perfbench.probes import descendants
    gateway = None
    if "pyspark" in sys.modules:
        from pyspark import SparkContext
        gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return          # no child is left, and none can be adopted
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main(argv=None) -> int:
    args = _args(argv)
    nproc = len(os.sched_getaffinity(0))
    workdir = os.path.join(ROOT, ".perfbench_work",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    _environment(workdir, nproc)
    sys.path.insert(0, ROOT)
    adopt_orphans()
    # a terminated run unwinds through the clean-up below too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    os.chdir(workdir)      # anything Spark drops in its cwd stays here
    try:
        return _run(args, nproc, workdir)
    finally:
        os.chdir(ROOT)
        stop_processes()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))    # when no other run uses it
        except OSError:
            pass


def _run(args, nproc: int, workdir: str) -> int:
    from climate_data_pipeline_spark.session import get_spark

    from perfbench import workloads
    from perfbench.measure import Tracer
    from perfbench.probes import SparkStats, host_fingerprint

    host = host_fingerprint()
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=nproc)
    session_s = time.perf_counter() - t0
    try:
        ctx = workloads.Context(spark=spark, seed=args.seed, nproc=nproc,
                                workdir=workdir, stats=SparkStats(spark),
                                tracer=Tracer(False))
        wl = workloads.make(args.workload, ctx)
        try:
            wl.setup()
            inputs_s = time.perf_counter() - t0 - session_s
            wl.warmup()
            setup_s = time.perf_counter() - t0
            report = {"workload": args.workload, "seed": args.seed,
                      "seconds": args.seconds, "trace": args.trace,
                      "host": host,
                      "setup_parts": {"session_s": session_s,
                                      "inputs_s": inputs_s,
                                      "warmup_s": setup_s - session_s
                                      - inputs_s}}
            metrics = _measure(args, ctx, wl, setup_s, report)
        finally:
            wl.close()
    finally:
        spark.stop()
    _write_report(args, report, ctx.tracer)
    print(json.dumps({k: report[k] for k in
                      ("host", "setup_parts", "workload_metrics",
                       "mismatch")}))
    print(json.dumps({"correct": report["mismatch"] is None,
                      "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0 if report["mismatch"] is None else 1


def _measure(args, ctx, wl, setup_s: float, report: dict) -> dict:
    """The timed window(s), the output check and the metrics to print."""
    from perfbench import workloads
    from perfbench.measure import Tracer
    from perfbench.probes import RssSampler

    windows = ([("untraced", args.seconds)] if not args.trace else
               [("untraced", args.seconds / 2), ("traced", args.seconds / 2)])
    results = {}
    try:
        for label, seconds in windows:
            traced = label == "traced"
            ctx.tracer = Tracer(traced)
            ctx.steps.clear()
            # memory is sampled on a thread, so only where overhead is
            # allowed
            rss = RssSampler().start() if traced else None
            cursor = ctx.stats.mark()
            t_start = time.perf_counter()
            try:
                out = wl.measure(seconds)
            finally:
                peak = rss.stop() if traced else None
            wall = time.perf_counter() - t_start
            results[label] = (out, ctx.stats.since(cursor), wall, peak)
        wl.verify()
    except workloads.Mismatch as e:
        # a wrong output fails the run: no metrics, correct=false
        report.update(mismatch=str(e), attempted=1, failed=1,
                      workload_metrics=None)
        return {}
    report["mismatch"] = None

    out, spark_stats, wall, peak = results[windows[-1][0]]
    e2e = {"setup_s": setup_s,
           "op_p50_ms": statistics.median(out.latencies_s) * 1e3}
    report.update(end_to_end=e2e, spark=spark_stats,
                  workload_metrics=wl.named_metrics(out),
                  op_ms=[[label, round(t * 1e3, 1)] for label, t in zip(
                      out.extra.get("labels", [None] * len(out.latencies_s)),
                      out.latencies_s)],
                  attempted=out.attempted, failed=out.failed,
                  steps=ctx.steps)
    if not args.trace:
        return {k: {"value": v, "unit": END_TO_END[k]}
                for k, v in e2e.items()}
    layers = workloads.layer_metrics(wl, ctx, out, spark_stats, wall,
                                     report["setup_parts"]["session_s"])
    layers["peak_rss_mb"] = peak / 2 ** 20
    layers["trace.overhead_ratio"] = (
        statistics.median(out.latencies_s)
        / statistics.median(results["untraced"][0].latencies_s) - 1.0)
    report["per_layer"] = layers
    return {k: {"value": layers[k], "unit": u}
            for k, u in workloads.LAYER_UNITS.items()}


def _write_report(args, report: dict, tracer) -> None:
    outdir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(outdir, exist_ok=True)
    stem = os.path.join(
        outdir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    if tracer.enabled:
        with open(stem + ".spans.jsonl", "w") as fh:
            for s in tracer.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(2)
