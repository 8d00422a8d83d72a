"""Measurement helpers shared by the workloads: percentiles, the RSS
sampler, the span recorder, the streaming-progress listener and the
Spark event-log reader used by the traced run."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

MARKER = "PERFBENCH_RUN"
FILES_READ, FILES_WRITTEN = "number of files read", "number of written files"
SQL_FILE_METRICS = (FILES_READ, FILES_WRITTEN)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, p: float) -> float:
    """Nearest-rank percentile ``p`` (0-100) of ``xs``."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[min(len(s) - 1, max(0, int(round(p / 100.0 * len(s) + 0.5)) - 1))])


def supported_pct(n: int, wanted: float) -> float:
    """The highest percentile up to ``wanted`` that leaves at least ten
    samples beyond it (the median when the sample is that small)."""
    return min(wanted, max(50.0, 100.0 * (1 - 10.0 / max(1, n))))


def tail(xs, wanted: float) -> dict:
    """``{"value", "pct", "n"}`` for the highest supported percentile."""
    p = supported_pct(len(xs), wanted)
    return {"value": pct(xs, p), "pct": round(p, 1), "n": len(xs)}


def marked_pids(token: str) -> list[int]:
    """Every live process, this one aside, whose environment carries the
    run marker ``token``."""
    needle = f"{MARKER}={token}".encode()
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    found.append(int(d))
        except OSError:
            continue
    return found


class RssSampler:
    """Peak summed RSS of every process carrying this run's marker
    (the worker's Python, the JVM and its Python workers)."""

    def __init__(self, period_s: float = 0.25):
        self.token = os.environ.get(MARKER, "")
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *(marked_pids(self.token) if self.token else [])]:
            try:
                with open(f"/proc/{pid}/status") as fh:
                    total += next((int(ln.split()[1]) for ln in fh if ln.startswith("VmRSS:")), 0)
            except OSError:
                pass
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class Tracer:
    """Spans at each call into a layer: name, start, end, parent and
    operation id, kept in memory and written out when the run ends.
    With tracing off, ``span`` only yields and records nothing."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, op: int | None = None, tag: bool = True):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "op": op if op is not None else self._op, "start": time.time(), "end": None,
               "tag": f"pb-{sid}" if tag and self.spark is not None else None}
        self.spans.append(rec)
        self._stack.append(sid)
        if rec["tag"]:
            # a context job tag reaches every job this thread starts, also
            # those outside a SQL execution (schema inference, listing)
            self.spark.sparkContext.addJobTag(rec["tag"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if rec["tag"]:
                self.spark.sparkContext.removeJobTag(rec["tag"])

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted((c["start"], c["end"]) for c in self.spans if c["parent"] == rec["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def make_progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress report as a
    dict, keyed by the order it arrived in."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self.lock:
                self.events.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def for_query(self, query_id: str) -> list[dict]:
            with self.lock:
                evs = [e for e in self.events if e["id"] == query_id]
            return sorted(evs, key=lambda e: e["batchId"])

    return Progress()


def progress_end_s(p: dict) -> float:
    """Wall time at which a micro-batch finished."""
    import datetime as dt

    t0 = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc)
    return t0.timestamp() + p["durationMs"].get("triggerExecution", 0) / 1000.0


class EventLog:
    """Task, stage and job records read back from the Spark event log
    (enabled only in the traced run).  Jobs are attributed by the tags
    ``Tracer`` adds around each call and by the job group a streaming
    query runs its batches under (its ``runId``)."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.acc_name: dict[int, str] = {}  # driver-side SQL metric id -> name
        self.exec_metric: dict[tuple[int, str], int] = {}
        # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
            if os.path.isfile(path) and not os.path.basename(path).startswith("appstatus"):
                with open(path) as fh:
                    for line in fh:
                        self._read(json.loads(line))

    def _read(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            tags = set(filter(None, (props.get("spark.job.tags") or "").split(",")))
            jid = ev["Job ID"]
            ex = props.get("spark.sql.execution.id")
            self.jobs[jid] = {"tags": tags, "group": props.get("spark.jobGroup.id"),
                              "desc": (props.get("spark.job.description") or "").splitlines(),
                              "exec": int(ex) if ex is not None else None}
            for sid in ev.get("Stage IDs", []):
                self.stage_job[sid] = jid
        elif kind and kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            self._plan_metrics(ev.get("sparkPlanInfo") or {})
        elif kind and kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, val in ev.get("accumUpdates", []):
                if acc in self.acc_name:
                    key = (ev["executionId"], self.acc_name[acc])
                    self.exec_metric[key] = self.exec_metric.get(key, 0) + int(val)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            out = m.get("Output Metrics") or {}
            self.tasks.append({
                "stage": ev["Stage ID"],
                "run_ms": m.get("Executor Run Time", 0),
                "dur_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "out_bytes": out.get("Bytes Written", 0),
            })

    def _plan_metrics(self, node: dict) -> None:
        for m in node.get("metrics", []):
            if m.get("name") in SQL_FILE_METRICS:
                self.acc_name[m["accumulatorId"]] = m["name"]
        for child in node.get("children", []):
            self._plan_metrics(child)

    def sql_metric(self, job_ids: set[int], name: str) -> int:
        """A driver-side SQL metric (``SQL_FILE_METRICS``) summed over the
        SQL executions these jobs ran in."""
        execs = {self.jobs[j]["exec"] for j in job_ids if self.jobs[j]["exec"] is not None}
        return sum(self.exec_metric.get((e, name), 0) for e in execs)

    def job_ids(self, tags=(), group: str | None = None, batch: int | None = None) -> set[int]:
        """Jobs carrying one of ``tags``, or run under job group ``group``
        (a streaming query's runId), optionally of one micro-batch only."""
        tags = set(tags)
        return {j for j, r in self.jobs.items()
                if (tags & r["tags"]) or (group and r["group"] == group
                                          and (batch is None or f"batch = {batch}" in r["desc"]))}

    def summary(self, job_ids: set[int], wall_s: float, cores: int) -> dict:
        """Counts and byte totals for the tasks of ``job_ids``."""
        ts = [t for t in self.tasks if self.stage_job.get(t["stage"]) in job_ids]
        by_stage: dict[int, list[int]] = {}
        for t in ts:
            by_stage.setdefault(t["stage"], []).append(t["dur_ms"])
        longest = max(by_stage.values(), key=sum, default=[])
        run_s = sum(t["run_ms"] for t in ts) / 1000.0
        return {
            "jobs": len(job_ids),
            "tasks": len(ts),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
            "spill_bytes": sum(t["spill"] for t in ts),
            "output_bytes": sum(t["out_bytes"] for t in ts),
            "executor_busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
            "task_skew": (max(longest) / max(1.0, median(longest))) if longest else 0.0,
        }


def udf_profile_seconds(spark) -> float:
    """Total Python-UDF time recorded by ``spark.sql.pyspark.udf.profiler``."""
    try:
        results = spark._profiler_collector._perf_profile_results
    except AttributeError:
        return 0.0
    return float(sum(st.total_tt for st in results.values()))


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring hidden and marker files."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def _canon(v) -> str:
    import math
    from decimal import Decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    return str(v)


def canon_rows(cols, rows) -> list[str]:
    """Order-insensitive canonical form of a result, columns by name
    (the comparison the repository's oracle gate uses)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
