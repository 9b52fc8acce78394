"""Readers that look at a run from outside the program: Spark's two
status stores, the process tree's resident memory, and the host."""

from __future__ import annotations

import os
import re
import threading

# SQL metrics render as "<total> (<min>, <med>, <max> ...)" under a
# header line, or as a bare "<value>"; these scale the units Spark uses.
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0}

# SQL metric name → the per-layer key it feeds
_PY_METRICS = {
    "time to start Python workers": "pyworker_start_s",
    "time to run Python workers": "pyworker_run_s",
    "data sent to Python workers": "pyworker_bytes_sent",
    "data returned from Python workers": "pyworker_bytes_returned",
}

SPARK_KEYS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
              "input_bytes", "output_bytes", "shuffle_read_bytes",
              "shuffle_write_bytes", *_PY_METRICS.values())


def parse_sql_metric(text: str) -> float:
    """Total of one rendered SQL metric, in bytes or seconds (counts
    stay counts)."""
    last = text.strip().splitlines()[-1]
    head = last.split(" (", 1)[0].strip()
    m = re.fullmatch(r"([-\d.,]+)\s*([A-Za-z]*)", head)
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1) if m.group(2) else value


def _jlist(jseq):
    """Python list of a Scala Seq or Java List handed over by py4j."""
    if hasattr(jseq, "iterator") and hasattr(jseq, "size"):
        out, it = [], jseq.iterator()
        while it.hasNext():
            out.append(it.next())
        return out
    return [jseq.apply(i) for i in range(jseq.length())]


class SparkStats:
    """Reads the core status store (per-stage task metrics) and the SQL
    status store (operator metrics such as the Python-worker times).
    ``mark()`` returns a cursor; ``since(cursor)`` sums everything that
    completed after it, so each timed step gets its own numbers."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._core = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _stages(self):
        jvm = self._jvm
        return _jlist(self._core.stageList(
            jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList()))

    def mark(self) -> tuple[set, set, set]:
        stages = {(s.stageId(), s.attemptId()) for s in self._stages()}
        jobs = {j.jobId() for j in _jlist(self._core.jobsList(None))}
        execs = {e.executionId() for e in _jlist(self._sql.executionsList())}
        return stages, jobs, execs

    def since(self, cursor) -> dict[str, float]:
        seen_stages, seen_jobs, seen_execs = cursor
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        for s in self._stages():
            if (s.stageId(), s.attemptId()) in seen_stages:
                continue
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["input_bytes"] += s.inputBytes()
            out["output_bytes"] += s.outputBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["jobs"] = float(sum(1 for j in _jlist(self._core.jobsList(None))
                                if j.jobId() not in seen_jobs))
        for e in _jlist(self._sql.executionsList()):
            eid = e.executionId()
            if eid in seen_execs:
                continue
            values = self._sql.executionMetrics(eid)
            for node in _jlist(self._sql.planGraph(eid).allNodes()):
                for pm in _jlist(node.metrics()):
                    key = _PY_METRICS.get(pm.name())
                    if key is None:
                        continue
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_sql_metric(v.get())
        return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Every process below ``root``, children first."""
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop(0)
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and every descendant (driver, JVM and the
    Python workers the JVM forks)."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak`` is the
    highest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak


def host_fingerprint() -> dict:
    model = ""
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    return {"cpu_model": model, "nproc": len(os.sched_getaffinity(0)),
            "loadavg": list(os.getloadavg()),
            "mem_total_gb": round(mem_kb / (1 << 20), 1)}
