#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 15 --trace 0

Run from the repository root.  Builds a SparkSession through the
package's own ``session.get_spark`` on ``local[<cpus>]`` with every
scratch directory inside ``.perfbench_work/`` under the current
directory, runs one workload (see ``workloads.py``), prints what it
measured by name and unit, and ends with one JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` turns on the event log, job groups and layer wrappers and
reports the per-layer metrics plus the tracing overhead.  Exits 1 when
any output was wrong, 2 when the program cannot be imported or run.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env(work: str, trace: bool) -> dict:
    """Point every scratch directory of Python, the JVM and Spark into
    ``work`` before the JVM starts; size the session for this host."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    events = os.path.join(work, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    cpus = _cpus()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": local,  # overrides spark.local.dir
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "OMP_NUM_THREADS": "1",
        "PYSPARK_PYTHON": sys.executable,
    })
    confs = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    return {"cpus": cpus, "spark_local_dir": os.path.relpath(local, os.getcwd()),
            "spark_local_fs": _filesystem(local),
            "event_log_dir": os.path.relpath(events, os.getcwd()) if trace else None}


def _filesystem(path: str) -> str:
    """``device (type)`` of the mount that holds ``path``."""
    path = os.path.realpath(path)
    best = ("", "?", "?")
    with open("/proc/mounts") as fh:
        for line in fh:
            dev, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best[0]):
                best = (mnt, dev, fstype)
    return f"{best[1]} ({best[2]})"


def _start_session():
    """``session.get_spark``, but without its ``/dev/shm/spark-local``
    scratch default: a run may write only inside its checkout, so
    shuffle and spill go to ``SPARK_LOCAL_DIRS`` there (which Spark
    prefers over ``spark.local.dir``), and ``get_spark`` is kept from
    creating the tmpfs directory.  This departs from the program's own
    configuration; see the README."""
    from unittest import mock

    from data_engineer_coder_spark import session

    real_isdir = os.path.isdir
    with mock.patch.object(session.os.path, "isdir",
                           lambda p: p != "/dev/shm" and real_isdir(p)):
        return session.get_spark(app_name="perfbench")


def _stop(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and
    wait for it."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _peak_rss_mb(spark) -> float:
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        try:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        except OSError:
            pass
    return (py_kb + jvm_kb) / 1024.0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def _host() -> dict:
    import pyspark

    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"cpus": _cpus(), "ram_gb": round(ram / 2**30, 1),
            "pyspark": pyspark.__version__, "python": platform.python_version()}


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    import report
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "data"))
    spark = None
    try:
        env = _configure_env(work, bool(args.trace))
        try:
            import data_engineer_coder_spark  # noqa: F401
        except ImportError as e:
            print(f"cannot import the program under test: {e}", file=sys.stderr)
            return 2
        from tracing import Tracer, job_floor_ms, read_event_log

        ticks0 = _cpu_ticks()
        t0 = time.perf_counter()
        spark = _start_session()
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        if args.trace:
            tracer.install()
        try:
            res = workloads.WORKLOADS[args.workload](
                spark, tracer, args.seed, args.seconds, os.path.join(work, "data"))
            floor = job_floor_ms(spark) if args.trace else None
        finally:
            tracer.uninstall()
        rss = _peak_rss_mb(spark)
        _stop(spark)
        spark = None
        jobs = None
        if args.trace:
            jobs = read_event_log(os.path.join(work, "eventlog"))
            tracer.op_costs(jobs)
        steal, total = (b - a for a, b in zip(ticks0, _cpu_ticks()))
        host = {**_host(), **env, "cpu_steal_pct": round(100.0 * steal / max(1, total), 2)}
        out = report.build(args, res, tracer, jobs, session_s, rss, floor, host)
    except Exception:  # the run failed: report it, print no result
        traceback.print_exc()
        return 2
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    for line in out["lines"]:
        print(line)
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
