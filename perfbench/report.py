"""Turn one workload's measurements into printed lines and the result
JSON.  End-to-end metric names are shared by every workload so that one
``BENCHMARK.json`` describes them all; each workload also prints its
figures under their own names (``batch.qpm``, ``ingest.epoch_p50_s``,
``lake.read_p50_s`` ...)."""

from __future__ import annotations

import json
import os
from collections import defaultdict

from stats import fmt_tail, union_len
from tracing import ACID_VERBS
from workloads import BATCH_QUERIES

HERE = os.path.dirname(os.path.abspath(__file__))
OPERATOR_MODULES = (
    "relational", "joins", "multijoin", "windows", "aggregates", "dedup",
    "similarity", "textops",
)


def spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def _metric_units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in spec()[kind]}


def build(args, res, tracer, jobs, session_s, rss_mb, floor_ms, host) -> dict:
    setup_s = session_s + sum(res.setup_parts.values())
    e2e = {
        "setup_s": setup_s,
        "op_latency_s": res.op_latency_s,
        "items_per_s": res.items_per_s,
    }
    why = {w["name"]: w["why"] for w in spec()["workloads"]}[args.workload]
    lines = [
        f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
        f"trace {args.trace}",
        f"why: {why}",
        "host " + json.dumps(host, sort_keys=True),
        "inputs " + json.dumps(res.inputs, sort_keys=True),
        f"setup: session {session_s:.3f} s, " + ", ".join(
            f"{k} {v:.3f} s" for k, v in res.setup_parts.items())
        + " (repeatable steps: median of repeats)",
    ]
    for name, (v, unit) in res.figures.items():
        lines.append(f"{name} = {v:.4f} {unit}")
    tail_name = {"batch_mix": "batch.latency_tail_s",
                 "curation_lakehouse": "ingest.epoch_tail_s"}[args.workload]
    lines.append(f"{tail_name} = {fmt_tail(res.op_latencies, 's')}")
    if res.read_latencies:
        lines.append(f"lake.read_tail_s = {fmt_tail(res.read_latencies, 's')}")
    lines.append(f"peak_rss_mb = {rss_mb:.1f} MB (Python driver + JVM)")
    ratio = res.failed / max(1, res.attempted)
    lines.append(f"ops_failed_ratio = {ratio:.4f} ({res.failed}/{res.attempted})")
    lines.extend(res.lines)
    lines.extend(f"FAILED: {p}" for p in res.problems)

    units = _metric_units("end_to_end")
    metrics = {k: {"value": e2e[k], "unit": units[k]} for k in units}
    if args.trace:
        lines.append("traced end-to-end: " + ", ".join(f"{k} = {v:.4f}" for k, v in e2e.items()))
        layer, more = per_layer(res, tracer, jobs, floor_ms)
        units = _metric_units("per_layer")
        missing = set(units) - set(layer)
        if missing:
            raise RuntimeError(f"per-layer metrics not computed: {sorted(missing)}")
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
        lines.extend(more)
    for k, m in metrics.items():
        lines.append(f"{k} = {m['value']:.6g} {m['unit']}")
    return {
        "lines": lines,
        "result": {
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": metrics,
        },
    }


def per_layer(res, tracer, jobs, floor_ms) -> tuple[dict, list[str]]:
    ops = tracer.ops
    n = max(1, len(ops))
    wall = sum(o["wall_s"] for o in ops) or 1.0
    m: dict[str, float] = {
        "session.job_floor_ms": floor_ms,
        "spark.jobs_per_op": sum(o["jobs"] for o in ops) / n,
        "spark.stages_per_op": sum(o["stages"] for o in ops) / n,
        "spark.tasks_per_op": sum(o["tasks"] for o in ops) / n,
        "spark.task_s_per_op": sum(o["task_s"] for o in ops) / n,
        "spark.shuffle_write_mb_per_op": sum(o["shuffle_w_mb"] for o in ops) / n,
        "spark.input_mb_per_op": sum(o["input_mb"] for o in ops) / n,
        "driver.self_s_per_op": sum(o["driver_self_s"] for o in ops) / n,
        "sched.jobs_x_floor_s_per_op": sum(o["jobs"] for o in ops) / n * floor_ms / 1000.0,
    }
    m["trace.overhead_pct"] = 100.0 * tracer.overhead_s / wall

    # operators: whole query attributed to the module that registered it
    for mod in OPERATOR_MODULES:
        mine = [o for o in ops if o.get("module") == mod]
        m[f"operators.{mod}.wall_pct"] = 100.0 * sum(o["wall_s"] for o in mine) / wall
        m[f"operators.{mod}.jobs_per_op"] = sum(o["jobs"] for o in mine) / n

    # layer spans: calls and self time per verb, as a share of op wall
    calls = defaultdict(float)
    self_s = defaultdict(float)
    for o in ops:
        for (layer, name), (c, s) in tracer.layer_self(o).items():
            calls[(layer, name)] += c
            self_s[(layer, name)] += s
    for v in ACID_VERBS:
        m[f"io.acid_table.{v}.calls_per_op"] = calls[("io.acid_table", v)] / n
        m[f"io.acid_table.{v}.self_pct"] = 100.0 * self_s[("io.acid_table", v)] / wall
    cnt = tracer.counters
    m["io.acid_table.dirs_per_read"] = cnt["read_dirs"] / max(1, cnt["reads"])
    m["io.acid_table.files_read_ratio"] = (
        cnt["read_files_kept"] / cnt["read_files_listed"] if cnt["read_files_listed"] else 0.0)
    user_bytes = res.inputs.get("timed_user_bytes", 0)
    m["io.acid_table.write_amp"] = cnt["bytes_written"] / user_bytes if user_bytes else 0.0
    m["io.acid_table.compact_mb_rewritten_per_op"] = cnt["compact_bytes_rewritten"] / 2**20 / n
    # io.layout only plans a repartition and sort; they run in the jobs
    # of the write that consumes the aligned frame (the eval-index
    # builds of set-up): Spark job time per aligned write
    job_spans = [(j["start"], j["end"]) for j in jobs]
    aligned = [s for s in tracer.setup_spans + tracer.spans if s.get("aligned")]
    m["io.layout.aligned_write_s"] = sum(
        union_len(job_spans, s["start"], s["end"]) for s in aligned) / max(1, len(aligned))
    # every registry query reads the fixture through io.tables.table
    queries = [o for o in ops if o["kind"] == "query"]
    passes = len(queries) / len(BATCH_QUERIES)
    m["io.tables.scan_mb"] = sum(o["input_mb"] for o in queries) / passes if queries else 0.0

    epochs = [o for o in ops if o["kind"] == "epoch"]
    ne = max(1, len(epochs))
    m["streaming.core.epoch_jobs"] = sum(o["jobs"] for o in epochs) / ne
    m["streaming.core.addbatch_pct"] = 100.0 * sum(
        o["addbatch_s"] for o in epochs) / max(1e-9, sum(o["trigger_s"] for o in epochs))
    m["streaming.core.start_pct"] = 100.0 * sum(
        o["wall_s"] - o["trigger_s"] for o in epochs) / max(1e-9, sum(o["wall_s"] for o in epochs))

    lines = [
        f"tracing overhead: {tracer.overhead_s:.4f} s of bookkeeping over {len(ops)} ops "
        f"({m['trace.overhead_pct']:.3f} % of op wall time); the event log is written "
        "by Spark's listener thread and is not included. Compare the traced "
        "figures above with an untraced run of the same seed for the end-to-end difference.",
    ]
    lines.append(f"aligned writes (io.layout.aligned_write_s): {len(aligned)}")
    tracked = sum(o["tracker"]["jobs"] for o in ops)
    logged = sum(o["group_jobs"] for o in ops)
    lines.append(f"jobs in operation job groups: statusTracker {tracked}, event log {logged}; "
                 f"with stream-thread epoch jobs {sum(o['jobs'] for o in ops)}")
    if jobs is not None:
        ep = [j for j in jobs if (j["group"] or "").startswith("epoch-")]
        if ep:
            tagged = sum(1 for j in ep if j["batch"] is not None)
            lines.append(f"epoch jobs carrying streaming.sql.batchId: {tagged}/{len(ep)}")
    by_type = defaultdict(list)
    for o in ops:
        by_type[o["name"] if o["kind"] == "query" else o["kind"]].append(o)
    lines.append("per operation type (mean per op): n jobs stages tasks task_s "
                 "shuffle_w_mb input_mb driver_self_s wall_s")
    for name, os_ in sorted(by_type.items()):
        k = len(os_)
        lines.append(
            f"  {name}: {k} " + " ".join(
                f"{sum(o[f] for o in os_) / k:.3f}" for f in
                ("jobs", "stages", "tasks", "task_s", "shuffle_w_mb", "input_mb",
                 "driver_self_s", "wall_s")))
    lines.append("layer self time (s, calls): " + ", ".join(
        f"{layer}.{name}={self_s[(layer, name)]:.3f}({int(c)})"
        for (layer, name), c in sorted(calls.items()) if c))
    return m, lines
