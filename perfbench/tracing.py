"""Tracing from outside the program: operation spans, job groups, layer
wrappers and Spark's own event log.

Nothing here edits the package.  A traced run

* brackets each benchmark operation with ``SparkContext.setJobGroup``
  and reads the group's jobs, stages and tasks from ``statusTracker()``;
* wraps public layer functions on their module attributes (restored on
  exit) and records a span per call, so each layer's self time is its
  span minus the wrapped calls nested inside it;
* reads task time, shuffle-write and input bytes per job from the
  uncompressed, non-rolling event log the benchmark's launch config
  turns on, and matches jobs to operations by their job-group property.
  Gate epochs run on the stream thread; a wrapper on the gate's
  ``foreachBatch`` function gives their jobs an ``epoch-<id>`` group.

An untraced run uses the same :class:`Tracer` with ``enabled=False``: it
only times operations.  A traced run also times its own bookkeeping, the
work it adds to each operation (``overhead_s``).
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from stats import union_len

ACID_VERBS = (
    "append_partitions", "append_rows", "replace_partitions", "read_table",
    "merge_into", "delete_rows", "compact_partitions",
    "latest_consistent_version",
)
# (module, attribute, layer) — every attribute is looked up on its module
# at call time by its callers, so replacing it reaches them.
WRAPPED = (
    *[("data_engineer_coder_spark.io.acid_table", v, "io.acid_table") for v in ACID_VERBS],
    ("data_engineer_coder_spark.io.acid_table", "vacuum", "io.acid_table"),
    ("data_engineer_coder_spark.io.acid_table", "version_before_txid", "io.acid_table"),
    ("data_engineer_coder_spark.io.layout", "align_bucketed_write", "io.layout"),
    ("data_engineer_coder_spark.streaming.core", "write_stream_curation_gate", "streaming.core"),
    ("data_engineer_coder_spark.streaming.core", "write_foreach_batch", "streaming.core"),
    ("data_engineer_coder_spark.operators.dedup", "shingle_hashes", "operators.dedup"),
    ("data_engineer_coder_spark.operators.dedup", "minhash_from_hashes", "operators.dedup"),
    ("data_engineer_coder_spark.operators.textops", "ngram_array", "operators.textops"),
)
WRITE_ARGS = {  # positions of (root, txid) in each write verb's arguments
    "append_partitions": (1, 3), "replace_partitions": (1, 3),
    "append_rows": (3, 5), "merge_into": (2, 5), "delete_rows": (1, 99),
    "compact_partitions": (1, 2),
}


def _arg(args, kwargs, pos, name):
    return kwargs[name] if name in kwargs else (args[pos] if len(args) > pos else None)


def tree_bytes(path: str) -> int:
    """Bytes of all files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Tracer:
    """Operation timer; with ``enabled`` also the per-layer tracer."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.ops: list[dict] = []
        self.spans: list[dict] = []
        self.setup_spans: list[dict] = []
        # frames io.layout.align_bucketed_write returned: the write that
        # consumes one runs the layout's repartition and sort
        self.aligned: list = []
        self.counters: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._restore: list[tuple] = []
        self._seq = 0
        self.overhead_s = 0.0
        self._lock = threading.Lock()  # wrappers also run on stream and pool threads

    def reset(self) -> None:
        """End of set-up and warm-up: their layer spans move to
        ``setup_spans``; ops, spans, counters and overhead restart for
        the timed loop."""
        self.setup_spans = self.spans
        self.ops, self.spans = [], []
        self.counters.clear()
        self.overhead_s = 0.0

    # -- operations ---------------------------------------------------------

    @contextmanager
    def op(self, kind: str, name: str):
        """Time one benchmark operation; in a traced run also bracket it
        with a job group and read the group's counts afterwards."""
        self._seq += 1
        rec = {"kind": kind, "name": name, "seq": self._seq}
        sc = self.spark.sparkContext
        if self.enabled:
            t0 = time.perf_counter()
            rec["group"] = f"pb-{self._seq}"
            sc.setJobGroup(rec["group"], f"{kind}:{name}")
            self._add_overhead(t0)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["wall_s"] = rec["end"] - rec["start"]
            if self.enabled:
                t0 = time.perf_counter()
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec["tracker"] = self._tracker(rec["group"])
                self._add_overhead(t0)
            self.ops.append(rec)

    def _tracker(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages, tasks = set(), 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for s in stages:
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}

    # -- layer wrappers -----------------------------------------------------

    def install(self) -> None:
        """Replace each function in :data:`WRAPPED` with a span-recording
        wrapper.  :meth:`uninstall` puts the originals back."""
        for mod_name, attr, layer in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            setattr(mod, attr, self._wrap(orig, layer, attr))
            self._restore.append((mod, attr, orig))

    def uninstall(self) -> None:
        while self._restore:
            mod, attr, orig = self._restore.pop()
            setattr(mod, attr, orig)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self
        if name == "write_foreach_batch":
            return self._wrap_foreach_batch(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            stack = tracer._stack()
            span = {"layer": layer, "name": name, "start": time.time(),
                    "child_s": 0.0, "op": tracer._seq}
            if args and any(args[0] is df for df in tracer.aligned):
                span["aligned"] = True
            stack.append(span)
            tracer._add_overhead(t0)
            out = None
            try:
                out = fn(*args, **kwargs)
                return out
            finally:
                t0 = time.perf_counter()
                span["end"] = time.time()
                stack.pop()
                dur = span["end"] - span["start"]
                span["self_s"] = dur - span["child_s"]
                if stack:
                    stack[-1]["child_s"] += dur
                tracer.spans.append(span)
                if name == "align_bucketed_write" and out is not None:
                    tracer.aligned.append(out)
                tracer._count(name, args, kwargs)
                tracer._add_overhead(t0)
        return wrapper

    def _wrap_foreach_batch(self, fn):
        """Wrap the gate's ``foreachBatch`` sink so each epoch's jobs,
        which run on the stream thread, carry an ``epoch-<id>`` job group."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(sdf, batch_fn, *args, **kwargs):
            def traced_batch(df, epoch_id):
                t0 = time.perf_counter()
                sc = df.sparkSession.sparkContext
                sc.setJobGroup(f"epoch-{epoch_id}", "gate epoch")
                tracer._add_overhead(t0)
                try:
                    return batch_fn(df, epoch_id)
                finally:
                    t0 = time.perf_counter()
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    tracer._add_overhead(t0)
            return fn(sdf, traced_batch, *args, **kwargs)
        return wrapper

    def _add_overhead(self, t0: float) -> None:
        dt = time.perf_counter() - t0
        with self._lock:
            self.overhead_s += dt

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _count(self, name, args, kwargs) -> None:
        """Layer counters the spans alone cannot give."""
        from data_engineer_coder_spark.io import acid_table

        c = self.counters
        if name == "read_table":
            root = _arg(args, kwargs, 1, "root")
            pfilter = _arg(args, kwargs, 2, "partition_filter")
            version = _arg(args, kwargs, 3, "version")
            sfilter = _arg(args, kwargs, 4, "stats_filter")
            try:
                man = acid_table.manifest_at(root, version)
                decisions = acid_table.files_selected(root, version, sfilter)
            except ValueError:
                return
            dirs = [
                rel for pkey, val in man["partitions"].items()
                if pfilter is None or pfilter(dict(seg.split("=", 1) for seg in pkey.split("/")))
                for rel in ([val] if isinstance(val, str) else val)
            ]
            c["reads"] += 1
            c["read_dirs"] += len(dirs)
            c["read_files_listed"] += sum(len(decisions.get(d, ())) for d in dirs)
            c["read_files_kept"] += sum(keep for d in dirs for _, keep in decisions.get(d, ()))
        elif name in WRITE_ARGS:
            root_pos, txid_pos = WRITE_ARGS[name]
            root = _arg(args, kwargs, root_pos, "root")
            txid = _arg(args, kwargs, txid_pos, "txid")
            stage = os.path.join(root, "_staging", str(txid))
            written = tree_bytes(stage) if os.path.isdir(stage) else 0
            c["bytes_written"] += written
            if name == "compact_partitions":
                c["compact_bytes_rewritten"] += written

    def op_costs(self, jobs: list[dict]) -> None:
        """Attach event-log costs and driver self time to each traced op."""
        by_group = defaultdict(list)
        for j in jobs:
            by_group[j["group"]].append(j)
        for rec in self.ops:
            mine = list(by_group.get(rec["group"], []))
            rec["group_jobs"] = len(mine)
            # epoch jobs carry the epoch's own group; attach them to the
            # operation whose span holds them
            mine += [
                j for g, js in by_group.items() if g and g.startswith("epoch-")
                for j in js if rec["start"] <= j["start"] <= rec["end"]
            ]
            spans = [(j["start"], j["end"]) for j in mine]
            rec["jobs"] = len(mine)
            rec["stages"] = sum(len(j["stages"]) for j in mine)
            rec["tasks"] = sum(j["tasks"] for j in mine)
            rec["task_s"] = sum(j["task_s"] for j in mine)
            rec["shuffle_w_mb"] = sum(j["shuffle_w"] for j in mine) / 2**20
            rec["input_mb"] = sum(j["input"] for j in mine) / 2**20
            rec["job_span_s"] = union_len(spans, rec["start"], rec["end"])
            rec["driver_self_s"] = max(0.0, rec["wall_s"] - rec["job_span_s"])

    def layer_self(self, rec: dict) -> dict[tuple[str, str], list[float]]:
        """``(layer, name) -> [calls, self seconds]`` inside one op."""
        out: dict[tuple[str, str], list[float]] = defaultdict(lambda: [0, 0.0])
        for s in self.spans:
            if s["op"] == rec["seq"]:
                v = out[(s["layer"], s["name"])]
                v[0] += 1
                v[1] += s["self_s"]
        return out


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from the event log: group, batch id, span, stages, tasks,
    task seconds, shuffle-write and input bytes."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(max(files, key=os.path.getmtime)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "id": jid, "start": ev["Submission Time"] / 1000.0,
                    "end": None, "group": props.get("spark.jobGroup.id"),
                    "batch": props.get("streaming.sql.batchId"),
                    "stages": set(), "tasks": 0, "task_s": 0.0,
                    "shuffle_w": 0, "input": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                tm = ev.get("Task Metrics") or {}
                if job is None:
                    continue
                job["stages"].add(ev["Stage ID"])
                job["tasks"] += 1
                job["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                job["shuffle_w"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                job["input"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
    return list(jobs.values())


def job_floor_ms(spark, n: int = 15) -> float:
    """Median wall time of an empty one-task job on a JVM-only RDD (no
    Python worker), in ms: the scheduling floor every job pays."""
    sc = spark.sparkContext
    rdd = sc._jsc.parallelize(sc._gateway.jvm.java.util.Collections.singletonList(0), 1)
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        rdd.count()
        times.append((time.perf_counter() - t0) * 1000.0)
    times.sort()
    return times[len(times) // 2]
