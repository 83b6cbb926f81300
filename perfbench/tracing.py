"""Spans, Spark counters and per-layer metrics for the traced run.

Spans are recorded by the benchmark around each call into a layer's
public function (never inside the program): one ``op`` span per timed
operation with a ``build`` and an ``action`` child, plus ``spark.job``
children taken from the UI's job timeline. Every op runs under its own
Spark job group, so its jobs, stages, SQL executions and task metrics
are attributed to it. Counters come from the local UI REST API
(``localhost:<ui port>/api/v1``), which ``SparkContext.statusTracker``
shares its store with, and from the JVM's GC and JIT MXBeans over py4j.

Spans stay in memory and are written to one JSON file when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import threading
import time
import urllib.request
from datetime import datetime, timezone

# op kind -> (layer, metric prefix) for the <layer>.<prefix>build_s /
# <layer>.<prefix>action_s per-layer metrics
OP_METRICS = {
    "rect_window": ("functions.predicates", ""),
    "convex": ("functions.predicates", ""),
    "nonconvex": ("functions.predicates", ""),
    "within_distance": ("functions.predicates", ""),
    "knn": ("operators.knn", ""),
    "knn_join": ("operators.knn", "join_"),
    "within_distance_join": ("operators.join", ""),
    "st_join_contains": ("operators.join", ""),
    "dbscan": ("operators.dbscan", ""),
    "interval_join": ("operators.temporal_join", ""),
    "raster_join_vector": ("raster", ""),
    "skyline": ("operators.skyline", ""),
    "read_pruned": ("sources.partitioned", "read_"),
    "knn_pruned": ("sources.partitioned", "knn_"),
}
# ops whose shuffle is keyed by grid cell (for partitioner.grid.task_skew)
GRID_KEYED = {"within_distance_join", "st_join_contains", "knn_join", "dbscan",
              "raster_join_vector"}
JOIN_NODES = ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                "MapInPandas", "MapInArrow", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "WindowInPandas")

# every per-layer metric, with its unit; the same list is in BENCHMARK.json
PER_LAYER = [
    ("session.get_session_s", "s"),
    ("functions.constructors.st_frame_s", "s"),
    ("functions.predicates.build_s", "s"),
    ("functions.predicates.action_s", "s"),
    ("core.geometry.python_rows", "rows"),
    ("core.geometry.arrow_bytes", "bytes"),
    ("core.geometry.pip_kernel_s", "s"),
    ("operators.knn.build_s", "s"),
    ("operators.knn.action_s", "s"),
    ("operators.knn.join_build_s", "s"),
    ("operators.knn.join_action_s", "s"),
    ("operators.join.build_s", "s"),
    ("operators.join.action_s", "s"),
    ("operators.join.refine_precision", "ratio"),
    ("operators.dbscan.build_s", "s"),
    ("operators.dbscan.action_s", "s"),
    ("operators.temporal_join.build_s", "s"),
    ("operators.temporal_join.action_s", "s"),
    ("operators.skyline.build_s", "s"),
    ("operators.skyline.action_s", "s"),
    ("raster.build_s", "s"),
    ("raster.action_s", "s"),
    ("partitioner.grid.replication", "ratio"),
    ("partitioner.grid.task_skew", "ratio"),
    ("sources.partitioned.save_s", "s"),
    ("sources.partitioned.write_rows_per_s", "rows/s"),
    ("sources.partitioned.files_written", "count"),
    ("sources.partitioned.bytes_written_per_input_byte", "ratio"),
    ("sources.partitioned.read_build_s", "s"),
    ("sources.partitioned.read_action_s", "s"),
    ("sources.partitioned.files_read_ratio", "ratio"),
    ("sources.partitioned.knn_build_s", "s"),
    ("sources.partitioned.knn_action_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.driver_gap_s", "s"),
    ("spark.executor_run_ms", "ms"),
    ("spark.executor_cpu_ms", "ms"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"),
    ("jvm.gc_ms", "ms"),
    ("jvm.jit_ms", "ms"),
    ("host.jvm_canary_s", "s"),
    ("host.jvm_canary_after_s", "s"),
]


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _ts(s: str) -> float:
    """UI REST timestamp ('2026-01-01T00:00:00.123GMT') -> epoch seconds."""
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f") \
        .replace(tzinfo=timezone.utc).timestamp()


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def metric_value(text: str) -> float:
    """Total of a SQL-metric string: '1,234', '12.0 MiB' or
    'total (min, med, max (stageId: taskId))\\n12.0 MiB (...)'."""
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = re.match(r"\s*([\d,]+(?:\.\d+)?)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "B", 1)


def union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class NullTracer:
    """Tracing off: spans time nothing, counters are not read."""
    enabled = False

    @contextlib.contextmanager
    def span(self, layer, name, **attrs):
        yield

    def op_begin(self, op, group):
        pass

    def op_end(self, op, group, rec):
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self.spark = None
        self._sql_seen = 0

    # -- spans ----------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, layer, name, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "layer": layer, "name": name, "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def bind(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.app = sc.applicationId
        self.base = "http://localhost:%s/api/v1/applications/%s" % (
            sc.uiWebUrl.rsplit(":", 1)[1], self.app)
        self._sql_seen = 0
        jvm = sc._jvm
        self._mf = jvm.java.lang.management.ManagementFactory

    def _get(self, path):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.loads(r.read())

    def jvm_ms(self):
        gc = sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())
        return float(gc), float(self._mf.getCompilationMXBean().getTotalCompilationTime())

    # -- per-op counters -------------------------------------------------------
    def op_begin(self, op, group):
        self._jvm0 = self.jvm_ms()

    def op_end(self, op, group, rec):
        gc1, jit1 = self.jvm_ms()
        rec["gc_ms"] = gc1 - self._jvm0[0]
        rec["jit_ms"] = jit1 - self._jvm0[1]
        jobs = self._group_jobs(group)
        rec["jobs"] = len(jobs)
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            for att in self._get("/stages/%d" % sid):
                if att["status"] != "SKIPPED":
                    stages.append(att)
        rec["stages"] = len(stages)
        rec["tasks"] = sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages)
        rec["executor_run_ms"] = sum(s["executorRunTime"] for s in stages)
        rec["executor_cpu_ms"] = sum(s["executorCpuTime"] for s in stages) / 1e6
        rec["shuffle_read_bytes"] = sum(s["shuffleReadBytes"] for s in stages)
        rec["shuffle_write_bytes"] = sum(s["shuffleWriteBytes"] for s in stages)
        rec["spill_bytes"] = sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                                 for s in stages)
        rec["input_bytes"] = sum(s["inputBytes"] for s in stages)
        job_iv = [(_ts(j["submissionTime"]), _ts(j["completionTime"])) for j in jobs]
        rec["job_intervals"] = job_iv
        rec["driver_gap_s"] = rec["wall"] - union_len(job_iv, rec["t0"], rec["t1"])
        if op.kind in GRID_KEYED:
            # broadcast joins shuffle nothing by cell; single-task stages
            # (final aggregates) cannot be skewed
            shuffled = [s for s in stages
                        if s["shuffleReadBytes"] > 0 and s["numCompleteTasks"] > 1]
            if shuffled:
                s = max(shuffled, key=lambda s: s["shuffleReadBytes"])
                q = self._get("/stages/%d/%d/taskSummary?quantiles=0.5,1.0"
                              % (s["stageId"], s["attemptId"]))["executorRunTime"]
                rec["task_skew"] = q[1] / max(q[0], 1.0)
        self._sql_metrics(rec, {j["jobId"] for j in jobs})
        if "spans" in rec:
            build, action = rec.pop("spans")
            for j in jobs:
                start = _ts(j["submissionTime"])
                parent = build if start < build["end"] else action
                self.spans.append({"id": len(self.spans), "parent": parent["id"],
                                   "layer": "spark", "name": "job %d" % j["jobId"],
                                   "start": start, "end": _ts(j["completionTime"])})
        self.ops.append(rec)

    def _group_jobs(self, group):
        """The group's jobs once the UI store has seen every one finish."""
        deadline = time.time() + 10
        ids = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] in ids]
            if len(jobs) == len(ids) and all(j.get("completionTime") for j in jobs):
                return jobs
            if time.time() > deadline:
                return [j for j in jobs if j.get("completionTime")]
            time.sleep(0.05)

    def _sql_metrics(self, rec, job_ids):
        deadline = time.time() + 10
        while True:
            execs = self._get("/sql?details=true&planDescription=false&offset=%d&length=1000"
                              % self._sql_seen)
            mine = [e for e in execs
                    if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", [])
                                     + e.get("runningJobIds", []))]
            if all(e["status"] != "RUNNING" for e in mine) or time.time() > deadline:
                break
            time.sleep(0.05)
        if execs and all(e["status"] != "RUNNING" for e in execs):
            self._sql_seen += len(execs)
        py_rows = py_bytes = gen_rows = join_rows = files_read = 0.0
        for e in mine:
            for node in e.get("nodes", []):
                name = node["nodeName"]
                m = {x["name"]: metric_value(x["value"]) for x in node.get("metrics", [])}
                if name.startswith(PYTHON_NODES):
                    py_rows += m.get("number of output rows", 0)
                    py_bytes += (m.get("data sent to Python workers", 0)
                                 + m.get("data returned from Python workers", 0))
                elif name.startswith("Generate"):
                    gen_rows += m.get("number of output rows", 0)
                elif name.startswith(JOIN_NODES):
                    join_rows += m.get("number of output rows", 0)
                elif name.startswith("Scan parquet") and "number of partitions read" in m:
                    # partitioned data scans only, not the manifest read
                    files_read += m.get("number of files read", 0)
        rec.update(python_rows=py_rows, arrow_bytes=py_bytes, generate_rows=gen_rows,
                   join_rows=join_rows, files_read=files_read)


def self_times(spans) -> dict[str, float]:
    """Self time per layer: a span's duration minus the part of it that
    its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        if "end" not in s:
            continue
        own = (s["end"] - s["start"]) - union_len(kids.get(s["id"], []),
                                                 s["start"], s["end"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def per_layer(tr: Tracer, wl, setup_spans, canary, pip_s) -> dict[str, float]:
    """Per-layer metrics from the traced run's timed ops and set-up spans."""
    ops = tr.ops
    v: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}

    def med_span(layer):
        xs = [s["end"] - s["start"] for s in setup_spans if s["layer"] == layer]
        return statistics.median(xs) if xs else 0.0

    v["session.get_session_s"] = med_span("session")
    v["functions.constructors.st_frame_s"] = med_span("functions.constructors")
    groups: dict[str, list] = {}
    for r in ops:
        if r["kind"] in OP_METRICS:
            layer, pre = OP_METRICS[r["kind"]]
            groups.setdefault(f"{layer}.{pre}build_s", []).append(r["build_s"])
            groups.setdefault(f"{layer}.{pre}action_s", []).append(r["action_s"])
    for k, xs in groups.items():
        v[k] = _mean(xs)
    n = max(len(ops), 1)
    for key in ("jobs", "stages", "tasks", "driver_gap_s", "executor_run_ms",
                "executor_cpu_ms", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "input_bytes"):
        v["spark." + key] = sum(r.get(key, 0) for r in ops) / n
    v["jvm.gc_ms"] = sum(r["gc_ms"] for r in ops) / n
    v["jvm.jit_ms"] = sum(r["jit_ms"] for r in ops) / n
    v["core.geometry.python_rows"] = sum(r.get("python_rows", 0) for r in ops) / n
    v["core.geometry.arrow_bytes"] = sum(r.get("arrow_bytes", 0) for r in ops) / n
    v["core.geometry.pip_kernel_s"] = pip_s

    joins = [r for r in ops if r["kind"] in ("within_distance_join", "st_join_contains")
             and r.get("join_rows")]
    if joins:
        v["operators.join.refine_precision"] = _mean(
            [r["result_rows"] / r["join_rows"] for r in joins])
    # dbscan's explode runs inside a cached frame whose plan nodes the SQL
    # metrics do not expose, so only ops with a visible Generate count
    grid = [r for r in ops if r["exploded_rows"] and r.get("generate_rows")]
    if grid:
        v["partitioner.grid.replication"] = (sum(r["generate_rows"] for r in grid)
                                             / sum(r["exploded_rows"] for r in grid))
    skew = [r["task_skew"] for r in ops if "task_skew" in r]
    if skew:
        v["partitioner.grid.task_skew"] = _mean(skew)

    # the store is written during set-up (st_query_mix), once per set-up
    saves = [s["end"] - s["start"] for s in setup_spans
             if s["layer"] == "sources.partitioned"]
    if saves:
        save_s = statistics.median(saves)
        v["sources.partitioned.save_s"] = save_s
        v["sources.partitioned.write_rows_per_s"] = len(wl.ids) / save_s
        v["sources.partitioned.files_written"] = wl.store_files
        v["sources.partitioned.bytes_written_per_input_byte"] = (
            wl.store_bytes / os.path.getsize(wl._p("points.parquet")))
    reads = [r for r in ops if r["kind"] == "read_pruned"]
    if reads:
        v["sources.partitioned.files_read_ratio"] = _mean(
            [r["files_read"] / wl.store_files for r in reads])
    v["host.jvm_canary_s"], v["host.jvm_canary_after_s"] = canary
    return v


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and the
    Python workers it forks), sampled from /proc."""

    def __init__(self, interval=0.5):
        self.interval = interval
        self.root = None
        self.peak = 0
        self.peak_root = 0          # the root process (the JVM) alone
        self.peak_procs = 0         # most processes seen in the tree
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self, pid):
        self.root = pid
        self._thread.start()

    def tree(self) -> list[int]:
        """The root process and its descendants, by parent pid."""
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(c for c, p in parent.items() if p == pid)
        return out

    def sample(self):
        total = 0
        pids = self.tree()
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
            except OSError:
                continue
            total += rss
            if pid == self.root:
                self.peak_root = max(self.peak_root, rss)
        self.peak = max(self.peak, total)
        self.peak_procs = max(self.peak_procs, len(pids))

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self):
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
