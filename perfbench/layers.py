"""Per-layer attribution for traced runs.

Two sources, both read from outside the program:

- Spark's JSON event log (``spark.eventLog.enabled``, uncompressed):
  jobs, stages and tasks. Jobs launched on the query's own thread carry
  the job group the benchmark sets per query; stream threads run their
  jobs under the stream's run id instead, so any job without a
  benchmark group is attributed by its submission time, which is sound
  because the loop runs one query at a time.
- A ``StreamingQueryListener``: per-batch ``durationMs`` phases, keyed
  by run id; a run belongs to the query whose wall interval contains
  the run's start.
"""

from __future__ import annotations

import json
import re
import statistics
import threading
import time
from collections import defaultdict
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

#: plan nodes whose tasks run Arrow/pandas Python workers
PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
#: a stage holds one task taking more than this share of its task time
SERIAL_SHARE = 0.8
STREAM_PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamListener(StreamingQueryListener):
    """Collects stream run starts and per-batch phase durations.

    Callbacks arrive on the py4j callback thread, hence the lock."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started: dict[str, float] = {}
        self.batches: list[tuple[str, dict]] = []
        self.terminated: set[str] = set()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started[str(event.runId)] = _epoch(event.timestamp)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.batches.append((str(p.runId), dict(p.durationMs)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def drain(self, timeout_s: float = 10.0) -> bool:
        """Wait until every started run has reported termination; the
        listener bus delivers asynchronously."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if set(self.started) <= self.terminated:
                    return True
            time.sleep(0.05)
        return False


def read_event_log(path: str) -> dict:
    """Parse one uncompressed event-log file into jobs, stages and the
    accumulator ids of Python plan nodes."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(
        lambda: {"tasks": [], "failed": 0, "scopes": set(), "accums": defaultdict(int)}
    )
    python_accums: dict[int, str] = {}

    def walk(node: dict) -> None:
        if PYTHON_NODE.search(node["nodeName"]):
            for m in node["metrics"]:
                python_accums[m["accumulatorId"]] = m["name"]
        for child in node.get("children", []):
            walk(child)

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {
                    "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": e["Stage IDs"],
                }
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages[info["Stage ID"]]
                for rdd in info.get("RDD Info", []):
                    if rdd.get("Scope"):
                        st["scopes"].add(json.loads(rdd["Scope"])["name"])
            elif ev == "SparkListenerTaskEnd":
                st = stages[e["Stage ID"]]
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                if ti.get("Failed") or e["Task End Reason"]["Reason"] != "Success":
                    st["failed"] += 1
                sr = tm.get("Shuffle Read Metrics", {})
                st["tasks"].append(
                    (
                        (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                        tm.get("JVM GC Time", 0) / 1000.0,
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        tm.get("Disk Bytes Spilled", 0),
                    )
                )
                for acc in ti.get("Accumulables", []):
                    if acc["ID"] in python_accums:
                        st["accums"][acc["ID"]] += int(float(acc.get("Update") or 0))
            elif ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                walk(e["sparkPlanInfo"])
    return {"jobs": jobs, "stages": dict(stages), "python_accums": python_accums}


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute(log: dict, records: list[dict], listener: StreamListener | None) -> None:
    """Add the spark/sources/python/streaming metrics to each measured
    query record in place. A record has ``group``, ``t0``/``t1`` (epoch
    seconds) and ``build_s``."""
    by_group = {r["group"]: r for r in records}

    def owner(ts: float) -> dict | None:
        for r in records:
            if r["t0"] <= ts <= r["t1"]:
                return r
        return None

    for r in records:
        r.update(
            jobs=0, tasks=0, failed_tasks=0, task_s=0.0, critical_path_s=0.0,
            serial_task_s=0.0, shuffle_read_bytes=0, shuffle_write_bytes=0,
            spill_bytes=0, gc_s=0.0, scan_tasks=0, scan_crit_s=0.0,
            python_task_s=0.0, python_data_sent_bytes=0, python_rows_received=0,
            _intervals=[],
        )
    stage_owner: dict[int, dict] = {}
    for job in log["jobs"].values():
        r = by_group.get(job["group"]) or owner(job["start"])
        if r is None:
            continue
        r["jobs"] += 1
        r["_intervals"].append((job["start"], job["end"] or r["t1"]))
        for sid in job["stages"]:
            stage_owner.setdefault(sid, r)

    accum_names = log["python_accums"]
    for sid, st in log["stages"].items():
        r = stage_owner.get(sid)
        if r is None or not st["tasks"]:
            continue
        durs = [t[0] for t in st["tasks"]]
        stage_s, slowest = sum(durs), max(durs)
        r["tasks"] += len(durs)
        r["failed_tasks"] += st["failed"]
        r["task_s"] += stage_s
        r["critical_path_s"] += slowest
        if slowest > SERIAL_SHARE * stage_s:
            r["serial_task_s"] += stage_s
        r["gc_s"] += sum(t[1] for t in st["tasks"])
        r["shuffle_read_bytes"] += sum(t[2] for t in st["tasks"])
        r["shuffle_write_bytes"] += sum(t[3] for t in st["tasks"])
        r["spill_bytes"] += sum(t[4] for t in st["tasks"])
        if any(s.startswith("Scan parquet") for s in st["scopes"]):
            r["scan_tasks"] += len(durs)
            r["scan_crit_s"] += slowest
        if any(PYTHON_NODE.search(s) for s in st["scopes"]):
            r["python_task_s"] += stage_s
        for acc_id, value in st["accums"].items():
            name = accum_names[acc_id]
            if name == "data sent to Python workers":
                r["python_data_sent_bytes"] += value
            elif name == "number of output rows":
                r["python_rows_received"] += value

    for r in records:
        clipped = [(max(a, r["t0"]), min(b, r["t1"])) for a, b in r.pop("_intervals")]
        r["jobs_union_s"] = _union_s([(a, b) for a, b in clipped if b > a])
        r["driver_gap_s"] = r["wall_s"] - r["jobs_union_s"]

    for r in records:
        r.update(batches=0, trigger_ms=[], trigger_total_ms=0, outside_batch_s=0.0)
        r.update({f"{p}_ms": 0 for p in STREAM_PHASES})
    if listener is None:
        return
    run_owner = {run: owner(ts) for run, ts in listener.started.items()}
    for run, dur in listener.batches:
        r = run_owner.get(run)
        if r is None:
            continue
        r["batches"] += 1
        r["trigger_ms"].append(dur.get("triggerExecution", 0))
        r["trigger_total_ms"] += dur.get("triggerExecution", 0)
        for p in STREAM_PHASES:
            r[f"{p}_ms"] += dur.get(p, 0)
    for r in records:
        if r["batches"]:
            r["outside_batch_s"] = r["build_s"] - r["trigger_total_ms"] / 1000.0


def pass_metrics(records: list[dict], pass_wall_s: float) -> dict[str, float]:
    """Per-layer sums over one measured pass (records of that pass)."""
    s = lambda k: sum(r[k] for r in records)  # noqa: E731
    task_s, crit = s("task_s"), s("critical_path_s")
    trig = [t for r in records for t in r["trigger_ms"]]
    out = {
        "session.tune_s": s("tune_s"),
        "registry.build_s": s("build_s"),
        "exec.noop_s": s("noop_s"),
        "spark.jobs": s("jobs"),
        "spark.tasks": s("tasks"),
        "spark.failed_tasks": s("failed_tasks"),
        "spark.driver_gap_s": s("driver_gap_s"),
        "spark.critical_path_s": crit,
        "spark.task_s": task_s,
        "spark.parallelism": task_s / crit if crit else 0.0,
        "spark.serial_stage_share": s("serial_task_s") / task_s if task_s else 0.0,
        "spark.shuffle_read_bytes": s("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": s("shuffle_write_bytes"),
        "spark.spill_bytes": s("spill_bytes"),
        "spark.gc_s": s("gc_s"),
        "sources.scan_tasks": s("scan_tasks"),
        "sources.scan_crit_s": s("scan_crit_s"),
        "python.task_s": s("python_task_s"),
        "python.data_sent_bytes": s("python_data_sent_bytes"),
        "python.rows_received": s("python_rows_received"),
        "streaming.batches": s("batches"),
        "streaming.trigger_ms_p50": statistics.median(trig) if trig else 0.0,
        "streaming.outside_batch_s": s("outside_batch_s"),
        "trace.wall_s": pass_wall_s,
    }
    out.update({f"streaming.{p}_ms": s(f"{p}_ms") for p in STREAM_PHASES})
    return out


def wall_split(records: list[dict], pass_wall_s: float) -> dict[str, float]:
    """Where one pass's wall time went: inside Spark jobs (what the
    spark/sources/python metrics describe), on the driver outside any
    job during the program's calls (``spark.driver_gap_s``: planning,
    eager driver-side work, stream start and stop), and in the
    benchmark's own loop between queries. ``layer_share`` is the share
    spent inside Spark jobs."""
    jobs = sum(r["jobs_union_s"] for r in records)
    gap = sum(r["driver_gap_s"] for r in records)
    return {
        "spark_jobs_s": jobs,
        "driver_gap_s": gap,
        "loop_s": pass_wall_s - jobs - gap,
        "layer_share": jobs / pass_wall_s,
    }
