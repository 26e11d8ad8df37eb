"""Measurements taken from outside the program: process memory, Spark's
status REST API, streaming progress, and in-memory trace spans.

Nothing here imports the program; it reads what Spark already exposes.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import time
import urllib.request

# -- process memory ----------------------------------------------------------


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, RSS in KiB by pid) from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:  # the process ended while we looked
            continue
        pid = int(entry)
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * _PAGE_KB
    return children, rss


def descendants(root_pid: int) -> list[int]:
    children, _ = _proc_table()
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def memory_mb(spark) -> float:
    """Memory the run holds: RSS of every Python process of this tree
    (driver and workers) plus the driver JVM's heap in use after a full GC
    and its non-heap in use. JVM RSS itself is left out: it mostly shows how
    far the garbage collector let the heap grow, which varies run to run."""
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    children, rss = _proc_table()
    python_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid != jvm_pid:
            python_kb += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    jvm_bytes = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return python_kb / 1024.0 + jvm_bytes / 1024.0**2


# -- trace spans -------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent, run id.

    Disabled, ``span`` records nothing, so the untraced run pays only a
    context-manager entry per call into a layer."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = self.add(name, time.time(), None, attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float | None, attrs: dict, parent: int | None = None) -> dict:
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": start,
            "end": end,
            "parent": parent if parent is not None else (self._stack[-1] if self._stack else None),
            "run_id": self.run_id,
            "attrs": attrs,
        }
        if self.enabled:
            self.spans.append(rec)
        return rec

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (the span name before ``:``) that the layer's
        spans spend outside their child spans."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = _union(
                [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in kids.get(s["id"], []) if c["end"]]
            )
            layer = s["name"].split(":")[0]
            out[layer] = out.get(layer, 0.0) + max(0.0, (s["end"] - s["start"]) - covered)
        return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark status REST API ---------------------------------------------------


def _ts(text: str | None) -> float | None:
    if not text:
        return None
    return (
        datetime.datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
    )


class SparkStatus:
    """Reads jobs, stages, tasks and SQL executions from the driver UI."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def window(self, *spans: tuple[float, float]) -> dict:
        """Jobs submitted inside any of the (start, end) epoch ``spans``,
        with their stages (tasks included)."""

        def inside(j) -> bool:
            t = _ts(j.get("submissionTime")) or 0
            return any(a <= t <= b for a, b in spans)

        return self.jobs(inside)

    def jobs(self, keep) -> dict:
        """The jobs ``keep`` accepts, with their stages (tasks included)."""
        jobs = [j for j in self.get("/jobs") if keep(j)]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self.get("/stages?details=true") if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]
        return {"jobs": jobs, "stages": stages}

    def sql(self) -> list[dict]:
        """Every SQL execution, with its plan-node metrics."""
        return self.get("/sql?details=true&length=100000")


def sql_top_operators(executions: list[dict], k: int = 3) -> list[dict]:
    """Per SQL execution, the ``k`` plan nodes with the largest summed
    timing metrics."""
    out = []
    for ex in executions:
        nodes = [(_node_ms(n), n["nodeName"]) for n in ex.get("nodes", [])]
        nodes = sorted((t for t in nodes if t[0]), reverse=True)
        out.append({"id": ex["id"], "top": [{"node": n, "ms": ms} for ms, n in nodes[:k]]})
    return out


def sql_node_ms(executions: list[dict], node_prefix: str, metric: str | None = None) -> float:
    """Summed timing metrics (or the one named ``metric``) of the plan
    nodes whose name starts with ``node_prefix``."""
    return sum(
        _node_ms(n, metric) for ex in executions for n in ex.get("nodes", []) if n["nodeName"].startswith(node_prefix)
    )


def _node_ms(node: dict, metric: str | None = None) -> float:
    return sum(
        _metric_ms(m["value"])
        for m in node["metrics"]
        if (m["name"] == metric if metric else "time" in m["name"].lower())
    )


def sql_metric_total(executions: list[dict], node_prefix: str, metric: str) -> float:
    """Sum of one metric over the plan nodes whose name starts with
    ``node_prefix`` (sizes in bytes)."""
    return sum(
        _metric_num(m["value"])
        for ex in executions
        for n in ex.get("nodes", [])
        if n["nodeName"].startswith(node_prefix)
        for m in n["metrics"]
        if m["name"] == metric
    )


_UNITS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0, "µs": 0.001, "ns": 1e-6}
_BYTES = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _metric_ms(value: str) -> float:
    """A timing metric's total in ms. Spark renders either a plain total
    (``"12 ms"``) or ``"total (min, med, max ...)\\n12 ms (...)"``."""
    line = value.strip().splitlines()[-1]
    parts = line.replace(",", "").split()
    if len(parts) >= 2 and parts[1] in _UNITS:
        try:
            return float(parts[0]) * _UNITS[parts[1]]
        except ValueError:
            return 0.0
    return 0.0


def _metric_num(value: str) -> float:
    """A size or count metric's total (bytes for sizes)."""
    line = value.strip().splitlines()[-1]
    parts = line.replace(",", "").split()
    try:
        num = float(parts[0])
    except (IndexError, ValueError):
        return 0.0
    if len(parts) >= 2 and parts[1] in _BYTES:
        num *= _BYTES[parts[1]]
    return num


def job_metrics(win: dict, prefix: str, wall_s: float) -> dict[str, float]:
    """Counters and busy times of the jobs in one window.

    ``sched_ms``: driver time from stage submission to its first task
    launch, plus each task's scheduler delay, deserialisation and result
    hand-back (the per-task tax, as distinct from running the task body).
    ``exec.python_ms``: executor run time not spent on JVM CPU or GC, the
    share spent waiting on Python workers and on I/O such as state-store
    fsync. ``driver_ms``: window wall time outside every job."""
    jobs, stages = win["jobs"], win["stages"]
    tasks = [t for s in stages for t in (s.get("tasks") or {}).values()]
    sched = sum(
        max(0.0, (_ts(s.get("firstTaskLaunchedTime")) or 0) - (_ts(s.get("submissionTime")) or 0)) * 1000
        for s in stages
        if s.get("firstTaskLaunchedTime")
    )
    sched += sum(
        t.get("schedulerDelay", 0)
        + t["taskMetrics"]["executorDeserializeTime"]
        + t["taskMetrics"]["resultSerializationTime"]
        + t.get("gettingResultTime", 0)
        for t in tasks
        if t.get("taskMetrics")
    )
    run = sum(s["executorRunTime"] for s in stages)
    cpu = sum(s["executorCpuTime"] for s in stages) / 1e6
    gc = sum(s["jvmGcTime"] for s in stages)
    job_iv = [(_ts(j.get("submissionTime")), _ts(j.get("completionTime"))) for j in jobs]
    busy = _union([iv for iv in job_iv if iv[0] and iv[1]])
    return {
        f"{prefix}.jobs": len(jobs),
        f"{prefix}.stages": len(stages),
        f"{prefix}.tasks": len(tasks),
        f"{prefix}.sched_ms": sched,
        f"{prefix}.driver_ms": max(0.0, wall_s - busy) * 1000,
        f"{prefix}.exec.run_ms": run,
        f"{prefix}.exec.cpu_ms": cpu,
        f"{prefix}.exec.gc_ms": gc,
        f"{prefix}.exec.python_ms": max(0.0, run - cpu - gc),
        f"{prefix}.shuffle.write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        f"{prefix}.shuffle.read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        f"{prefix}.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
        f"{prefix}.input_bytes": sum(s["inputBytes"] for s in stages),
    }


def covering(spans: list[dict], t: float) -> int | None:
    """Id of the first span whose interval holds ``t``."""
    for s in spans:
        if s["start"] <= t <= s["end"]:
            return s["id"]
    return None


def trace_jobs(tracer: Tracer, win: dict, parent_of) -> None:
    """Attach each job (and its stages) as spans under ``parent_of(start)``."""
    by_stage = {s["stageId"]: s for s in win["stages"]}
    for j in win["jobs"]:
        js, je = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
        if not js or not je:
            continue
        rec = tracer.add("spark:job", js, je, {"job": j["jobId"], "tasks": j["numTasks"]}, parent=parent_of(js))
        for sid in j["stageIds"]:
            s = by_stage.get(sid)
            if s and s.get("submissionTime") and s.get("completionTime"):
                tracer.add(
                    "spark:stage",
                    _ts(s["submissionTime"]),
                    _ts(s["completionTime"]),
                    {
                        "stage": sid,
                        "tasks": s["numTasks"],
                        "run_ms": s["executorRunTime"],
                        "cpu_ms": s["executorCpuTime"] / 1e6,
                        "gc_ms": s["jvmGcTime"],
                    },
                    parent=rec["id"],
                )


# -- streaming progress ------------------------------------------------------

_STATE_SUMS = {
    "streaming.state.commit_ms": "commitTimeMs",
    "streaming.state.update_ms": "allUpdatesTimeMs",
    "streaming.state.removal_ms": "allRemovalsTimeMs",
    "streaming.state.rows_updated": "numRowsUpdated",
    "streaming.state.dropped_late_rows": "numRowsDroppedByWatermark",
}
_ROCKSDB_SUMS = {
    "streaming.state.fsync_ms": "rocksdbCommitFileSyncLatencyMs",
    "streaming.state.snapshot_zip_ms": "rocksdbSaveZipFilesLatencyMs",
    "streaming.state.checkpoint_ms": "rocksdbCommitCheckpointLatency",
    "streaming.state.get_count": "rocksdbGetCount",
    "streaming.state.put_count": "rocksdbPutCount",
}


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """Per-layer sums over a stream's progress records (parsed JSON)."""
    out = dict.fromkeys(
        [
            "sources.offset_ms", "sources.input_rows", "streaming.data_batches",
            "streaming.nodata_batch_ms", "streaming.add_batch_ms", "streaming.planning_ms",
            "streaming.log_commit_ms", "streaming.output_rows", "streaming.state.rows_total",
            "streaming.state.memory_bytes", "streaming.state.instances",
            *_STATE_SUMS, *_ROCKSDB_SUMS,
        ],
        0.0,
    )
    for p in progress:
        d = p.get("durationMs", {})
        rows = p.get("numInputRows", 0)
        out["sources.offset_ms"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
        out["sources.input_rows"] += rows
        if rows:
            out["streaming.data_batches"] += 1
        else:
            out["streaming.nodata_batch_ms"] += d.get("triggerExecution", 0)
        out["streaming.add_batch_ms"] += d.get("addBatch", 0)
        out["streaming.planning_ms"] += d.get("queryPlanning", 0)
        out["streaming.log_commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        out["streaming.output_rows"] += (p.get("sink") or {}).get("numOutputRows", 0) or 0
        for op in p.get("stateOperators", []):
            for k, f in _STATE_SUMS.items():
                out[k] += op.get(f, 0)
            for k, f in _ROCKSDB_SUMS.items():
                out[k] += (op.get("customMetrics") or {}).get(f, 0)
            out["streaming.state.rows_total"] = op.get("numRowsTotal", 0)
            out["streaming.state.memory_bytes"] = max(out["streaming.state.memory_bytes"], op.get("memoryUsedBytes", 0))
            out["streaming.state.instances"] = op.get("numStateStoreInstances", 0)
    return out
