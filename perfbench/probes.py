"""Outside-the-program probes: /proc accounting for the Spark process tree
and a reader for the Spark event log.

The process tree is every descendant of the benchmark process: the Spark
driver JVM that pyspark launches and the Python daemon and workers it forks.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            # fields after the parenthesised command name start at field 3
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f:
                kids.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """utime+stime of each process plus that of its reaped children."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f:
            total += sum(int(x) for x in f[11:15])
    return total / _TCK


def reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def tree_peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"python" in fh.read().split(b"\0", 1)[0]
    except OSError:
        return False


class ProcTree:
    """CPU seconds and summed peak RSS of the Spark process tree over a span
    of time: `start()` before the pass, `stop()` after it.  The JVM's share
    of RSS follows its lazily grown heap, so the Python workers' share (the
    decoded media) is reported on its own."""

    def start(self) -> None:
        self.pids = descendants()
        reset_peak_rss(self.pids)
        self.cpu0 = tree_cpu_s(self.pids)

    def stop(self) -> tuple[float, float, float]:
        """(CPU seconds of the tree, peak RSS of the Python workers, peak RSS
        of the whole tree)."""
        pids = descendants()
        # processes that appeared mid-pass started from zero CPU
        cpu = tree_cpu_s(pids) - self.cpu0
        return cpu, tree_peak_rss_mb([p for p in pids if _is_python(p)]), tree_peak_rss_mb(pids)


def load_average() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor ran something else on this VM's CPUs."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


# -- Spark event log --------------------------------------------------------

SQL = "org.apache.spark.sql.execution.ui."
PY_TOTAL = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


class EventLog:
    """Spark's own event-log listener, attached to a running SparkContext
    for the traced passes only, plus an incremental reader of its file."""

    def __init__(self, spark, log_dir: str):
        sc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        conf = sc.getConf().set("spark.eventLog.compress", "false").set("spark.eventLog.rolling.enabled", "false")
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"trace-{os.getpid()}", jvm.scala.Option.empty(), jvm.java.net.URI(f"file://{log_dir}"),
            conf, spark.sparkContext._jsc.hadoopConfiguration(),
        )
        self.listener.start()
        sc.addSparkListener(self.listener)
        self.sc, self.dir, self.pos = sc, log_dir, 0

    def close(self) -> None:
        self.sc.removeSparkListener(self.listener)
        self.listener.stop()

    def read_new(self) -> list[dict]:
        # the listener bus is asynchronous: drain it so every event of the
        # finished action has reached the (flushed) log file
        self.sc.listenerBus().waitUntilEmpty()
        (path,) = glob.glob(os.path.join(self.dir, "*"))
        with open(path, "rb") as fh:
            fh.seek(self.pos)
            data = fh.read()
        end = data.rfind(b"\n") + 1
        self.pos += end
        return [json.loads(line) for line in data[:end].splitlines() if line]


def _plan_metric_ids(info: dict, node: str, metric: str, out: set[int]) -> None:
    if info.get("nodeName", "").startswith(node):
        out.update(m["accumulatorId"] for m in info.get("metrics", []) if m["name"] == metric)
    for child in info.get("children", []):
        _plan_metric_ids(child, node, metric, out)


def spark_metrics(events: list[dict]) -> dict:
    """Per-action Spark figures from the events one action produced."""
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    stages = [e["Stage Info"] for e in events if e["Event"] == "SparkListenerStageCompleted"]
    by_stage_py: dict[int, float] = {}
    acc: dict[str, float] = {}
    for t in tasks:
        for a in t["Task Info"].get("Accumulables", []):
            name = a.get("Name")
            if name in (PY_TOTAL, PY_BOOT, PY_INIT, PY_SENT, PY_RECV):
                acc[name] = acc.get(name, 0.0) + float(a["Update"])
                if name == PY_TOTAL:
                    by_stage_py[t["Stage ID"]] = by_stage_py.get(t["Stage ID"], 0.0) + float(a["Update"])

    def tm(t: dict, key: str, sub: str | None = None) -> float:
        m = t.get("Task Metrics") or {}
        v = m.get(key, 0)
        if sub is not None:
            v = sum((v or {}).get(s, 0) for s in sub.split(","))
        return float(v)

    out = {
        "jobs": sum(e["Event"] == "SparkListenerJobStart" for e in events),
        "stages": len(stages),
        "tasks": len(tasks),
        "executor_run_s": sum(tm(t, "Executor Run Time") for t in tasks) / 1e3,
        "executor_cpu_s": sum(tm(t, "Executor CPU Time") for t in tasks) / 1e9,
        "gc_s": sum(tm(t, "JVM GC Time") for t in tasks) / 1e3,
        "shuffle_write_mb": sum(tm(t, "Shuffle Write Metrics", "Shuffle Bytes Written") for t in tasks) / 2**20,
        "shuffle_read_mb": sum(
            tm(t, "Shuffle Read Metrics", "Remote Bytes Read,Local Bytes Read") for t in tasks
        ) / 2**20,
        "python_total_s": acc.get(PY_TOTAL, 0.0) / 1e3,
        "python_boot_s": acc.get(PY_BOOT, 0.0) / 1e3,
        "python_init_s": acc.get(PY_INIT, 0.0) / 1e3,
        "python_sent_mb": acc.get(PY_SENT, 0.0) / 2**20,
        "python_received_mb": acc.get(PY_RECV, 0.0) / 2**20,
    }
    # broadcast size is a plan metric the Spark driver updates
    bc_ids: set[int] = set()
    for e in events:
        if e["Event"] in (SQL + "SparkListenerSQLExecutionStart", SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metric_ids(e["sparkPlanInfo"], "BroadcastExchange", "data size", bc_ids)
    out["broadcast_mb"] = sum(
        float(v) for e in events if e["Event"] == SQL + "SparkListenerDriverAccumUpdates"
        for i, v in e["accumUpdates"] if i in bc_ids
    ) / 2**20
    # the UDF stage does the most Python work; the re-stitch stages are the
    # shuffle readers that run after it
    udf_stage = max(by_stage_py, key=by_stage_py.get) if by_stage_py else None
    run_ms = [tm(t, "Executor Run Time") for t in tasks if t["Stage ID"] == udf_stage]
    out["udf_task_skew"] = max(run_ms) / max(statistics.median(run_ms), 1.0) if run_ms else 0.0
    udf_done = max((s["Completion Time"] for s in stages if s["Stage ID"] == udf_stage), default=None)
    read_stages = {t["Stage ID"] for t in tasks if tm(t, "Shuffle Read Metrics", "Remote Bytes Read,Local Bytes Read") > 0}
    out["restitch_stage_s"] = sum(
        (s["Completion Time"] - s["Submission Time"]) / 1e3
        for s in stages
        if udf_done is not None and s["Stage ID"] in read_stages and s["Submission Time"] >= udf_done
    )
    return out


def sql_execution_spans(events: list[dict]) -> list[tuple[str, float]]:
    """(physical plan text, seconds) for each top-level SQL execution."""
    starts = {}
    out = []
    for e in events:
        if e["Event"] == SQL + "SparkListenerSQLExecutionStart":
            root = e.get("rootExecutionId", e["executionId"])
            if root in (None, -1, e["executionId"]):
                starts[e["executionId"]] = e
        elif e["Event"] == SQL + "SparkListenerSQLExecutionEnd" and e["executionId"] in starts:
            s = starts.pop(e["executionId"])
            out.append((s.get("physicalPlanDescription", ""), (e["time"] - s["time"]) / 1e3))
    return out
