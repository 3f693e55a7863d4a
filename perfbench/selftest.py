#!/usr/bin/env python3
"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

Run from the repository root.  Checks that

1. one seed always generates identical inputs (and another seed does not):
   the batch query order and the curation feed;
2. the tracing wrappers put every original function back;
3. each workload, run briefly with ``--trace 0`` and ``--trace 1``, prints
   every metric of ``BENCHMARK.json`` by name with its unit, both in its
   readable lines and in the final JSON line.

Step 3 starts Spark four times (about five minutes on 4 cores).
"""

from __future__ import annotations

import importlib
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import tracing  # noqa: E402
from workloads import BATCH_QUERIES, WORKLOADS  # noqa: E402


def check_generators() -> None:
    def orders(seed):
        it = gen.query_orders(seed, BATCH_QUERIES)
        return [next(it) for _ in range(3)]

    assert orders(7) == orders(7), "query order differs for one seed"
    assert orders(7) != orders(8), "query order ignores the seed"
    assert all(sorted(o) == sorted(BATCH_QUERIES) for o in orders(7))

    def curation(seed):
        feed = gen.CurationFeed(seed)
        out = [gen.table_digest(feed.eval_table())]
        for _ in range(3):
            tab, want = feed.next_batch()
            out.append((gen.table_digest(tab), sorted(want.items())))
        return out

    assert curation(7) == curation(7), "curation feed differs for one seed"
    assert curation(7) != curation(8), "curation feed ignores the seed"
    _, want = gen.CurationFeed(7).next_batch()
    assert set(want.values()) == {gen.ACCEPTED, gen.DUP_BATCH, gen.LEAKED}

    def corpus(seed):
        feed = gen.CurationFeed(seed)
        for _ in range(3):
            feed.next_batch()
        return [gen.table_digest(feed.corrections()), feed.erasures(),
                feed.point_doc(), feed.totals()]

    assert corpus(7) == corpus(7), "corpus changes differ for one seed"
    assert corpus(7) != corpus(8), "corpus changes ignore the seed"
    print("ok: one seed, identical inputs")


def check_wrappers() -> None:
    originals = {}
    for mod_name, attr, _ in tracing.WRAPPED:
        mod = importlib.import_module(mod_name)
        originals[(mod_name, attr)] = getattr(mod, attr)
    tr = tracing.Tracer(spark=None, enabled=True)
    tr.install()
    try:
        for (mod_name, attr), orig in originals.items():
            assert getattr(importlib.import_module(mod_name), attr) is not orig, (
                f"{mod_name}.{attr} was not wrapped")
    finally:
        tr.uninstall()
    for (mod_name, attr), orig in originals.items():
        assert getattr(importlib.import_module(mod_name), attr) is orig, (
            f"{mod_name}.{attr} was not restored")
    print(f"ok: {len(originals)} wrapped functions restored")


def check_run(workload: str, trace: int) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        capture_output=True, text=True, timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0 and lines, f"{workload}: exit {p.returncode}\n{p.stderr[-3000:]}"
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["attempted"] >= 1 and res["failed"] == 0
    got = res["metrics"]
    assert set(got) == set(want), f"{workload}: metrics {set(got) ^ set(want)}"
    for name, unit in want.items():
        assert got[name]["unit"] == unit, f"{name}: unit {got[name]['unit']} != {unit}"
        assert math.isfinite(got[name]["value"]), f"{name} is not a number"
        assert any(ln.startswith(f"{name} = ") and ln.endswith(f" {unit}")
                   for ln in lines[:-1]), f"{name} not printed with its unit"
    print(f"ok: {workload} --trace {trace} prints {len(want)} metrics with units")


def main() -> int:
    check_generators()
    check_wrappers()
    for w in WORKLOADS:
        for trace in (0, 1):
            check_run(w, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
