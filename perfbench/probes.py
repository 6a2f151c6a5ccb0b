"""Counters read from outside the engine: Spark's status tracker and
local UI REST API, a streaming-query listener, /proc memory figures and
the files a run writes under its temp dir.
"""

from __future__ import annotations

import json
import os
import threading
import urllib.request
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener


def drain_listener_bus(spark, timeout_ms: int = 10_000) -> None:
    """Wait until Spark's listener bus has delivered every event, so the
    UI store and the streaming listener have seen all finished work."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def jvm_gc_seconds(spark) -> float:
    """Total collection time of every garbage collector of the Spark JVM
    (in local mode the driver JVM runs every task)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _rest(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


def _app_url(spark) -> str:
    sc = spark.sparkContext
    return f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"


def last_job_id(spark) -> int:
    """Id of the newest job Spark has started (-1 before the first)."""
    return max((j["jobId"] for j in _rest(f"{_app_url(spark)}/jobs")), default=-1)


def stage_counters(spark, after_job: int) -> dict:
    """Job, stage and task counters of every job newer than ``after_job``,
    including the jobs streaming queries run on their own threads.

    Jobs and per-task metrics come from the local UI REST API
    (``/jobs``, ``/stages/<id>?details=true``), the same source
    ``tools/profile_query.py`` reads.
    """
    jobs = [j for j in _rest(f"{_app_url(spark)}/jobs") if j["jobId"] > after_job]
    stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
    out = {
        "jobs": len(jobs), "stages": 0, "tasks": 0, "empty_tasks": 0,
        "failed_tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
        "shuffle_write_b": 0, "shuffle_read_b": 0, "spill_b": 0,
    }
    base = f"{_app_url(spark)}/stages"
    for sid in sorted(stage_ids):
        try:
            attempts = _rest(f"{base}/{sid}?details=true&withSummaries=false")
        except OSError:  # skipped stages are unknown to the UI store
            continue
        for st in attempts:
            if st.get("status") == "SKIPPED":
                continue
            out["stages"] += 1
            for t in (st.get("tasks") or {}).values():
                m = t.get("taskMetrics") or {}
                out["tasks"] += 1
                if t.get("status") == "FAILED":
                    out["failed_tasks"] += 1
                shr = m.get("shuffleReadMetrics") or {}
                shw = m.get("shuffleWriteMetrics") or {}
                inp = m.get("inputMetrics") or {}
                if not inp.get("recordsRead") and not shr.get("recordsRead"):
                    out["empty_tasks"] += 1
                out["task_run_s"] += m.get("executorRunTime", 0) / 1e3
                out["task_cpu_s"] += m.get("executorCpuTime", 0) / 1e9
                out["shuffle_read_b"] += shr.get("localBytesRead", 0) + shr.get("remoteBytesRead", 0)
                out["shuffle_write_b"] += shw.get("bytesWritten", 0)
                out["spill_b"] += m.get("diskBytesSpilled", 0)
    return out


class BatchListener(StreamingQueryListener):
    """Collects one record per streaming micro-batch from its progress
    event: start time, triggerExecution, commit and planning durations,
    and state-store rows."""

    def __init__(self):
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs or {}
        start = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        rec = {
            "start_epoch": start.replace(tzinfo=timezone.utc).timestamp(),
            "trigger_s": d.get("triggerExecution", 0) / 1e3,
            "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
            "planning_s": d.get("queryPlanning", 0) / 1e3,
            "state_rows": sum(s.numRowsTotal for s in (p.stateOperators or [])),
        }
        with self._lock:
            self.batches.append(rec)

    def take(self) -> list[dict]:
        with self._lock:
            out, self.batches = self.batches, []
        return out


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def peak_rss_mb(jvm: int) -> float:
    """The JVM's peak resident set plus the largest Python worker's."""
    workers = [_vm_hwm_mb(p) for p in _descendants(jvm)]
    return _vm_hwm_mb(jvm) + max(workers, default=0.0)


def file_state(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every data file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) that are new or rewritten in ``after``."""
    files = size = 0
    for p, st in after.items():
        if before.get(p) != st:
            files += 1
            size += st[0]
    return files, size
