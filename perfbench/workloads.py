"""The workloads.  Each is a closed loop with one client: the next
operation starts only after the previous one returned.

Every workload function takes ``(spark, tracer, seed, seconds, work)``
and returns a :class:`Result`.  Set-up work is timed separately from
the measured loop, and correctness checks run outside the timed spans.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen
from stats import geomean, median
from tracing import tree_bytes

# heaviest first: the concurrent warm-up pass then ends sooner
BATCH_QUERIES = (
    "dedup_clusters", "minhash_lsh_neardup", "ivf_ann_topk", "bm25_topk",
    "regional_supplier_volume", "revenue_by_nation", "pricing_summary",
    "cosine_topk", "summary_stats", "join_inner", "word_freq_topk",
    "window_topk",
)
BATCH_SF = 0.01
SETUP_REPEATS = 3  # repeatable set-up steps run this often; the median counts


@dataclass
class Result:
    setup_parts: dict[str, float] = field(default_factory=dict)
    inputs: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    # end-to-end figures in the workload's own terms, printed by name
    figures: dict[str, tuple[float, str]] = field(default_factory=dict)
    # the generic end-to-end metrics every workload reports
    op_latency_s: float = 0.0
    op_latencies: list[float] = field(default_factory=list)
    read_latencies: list[float] = field(default_factory=list)
    items_per_s: float = 0.0
    lines: list[str] = field(default_factory=list)

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(msg)


def _repeat_setup(build, work: str, name: str):
    """Run ``build(dir)`` :data:`SETUP_REPEATS` times into fresh dirs;
    keep the first output, return it with the median build time."""
    out, times = None, []
    for i in range(SETUP_REPEATS):
        d = os.path.join(work, f"{name}{i}")
        t0 = time.perf_counter()
        res = build(d)
        times.append(time.perf_counter() - t0)
        if i == 0:
            out = res
        else:
            shutil.rmtree(d, ignore_errors=True)
    return out, median(times)


# -- batch_mix ----------------------------------------------------------------


def batch_mix(spark, tracer, seed: int, seconds: float, work: str) -> Result:
    """Seeded permutations of the registry queries over the repository's
    sf0.01 fixture.  Each query is verified once against its DuckDB oracle
    (also the JIT warm-up pass); every timed execution must then equal
    the verified result."""
    from data_engineer_coder_spark import registry, testing

    r = Result()
    cpus = len(os.sched_getaffinity(0))
    specs = registry.all_queries()
    fns = {q: specs[q].fn for q in BATCH_QUERIES}
    _, r.setup_parts["fixture_s"] = _repeat_setup(
        lambda d: gen.write_fixture(BATCH_SF, d), work, "sf")
    sf_dir = os.path.join(work, "sf0")
    info = gen.fixture_info(sf_dir)
    r.inputs = {
        "sf": BATCH_SF,
        "rows": sum(v["rows"] for v in info.values()),
        "bytes": sum(v["bytes"] for v in info.values()),
        "queries": len(BATCH_QUERIES),
        "digest": {k: v["digest"] for k, v in info.items()},
    }

    # verification pass, also the JIT warm-up: queries run concurrently
    # (heaviest first) to overlap their driver-side planning and
    # compilation; each result is then checked against its oracle
    t0 = time.perf_counter()
    with ThreadPoolExecutor(cpus) as ex:
        pdfs = dict(zip(BATCH_QUERIES, ex.map(
            lambda q: fns[q](spark, sf_dir).toPandas(), BATCH_QUERIES)))
    r.setup_parts["warmup_s"] = time.perf_counter() - t0
    con = testing.duck_connect(sf_dir)
    oracles = registry.oracle_sql()
    for q, pdf in pdfs.items():
        problems = [p for p in testing.compare_pandas(pdf, con.execute(oracles[q]).fetchdf())
                    if not p.startswith("WARN")]
        r.attempted += 1
        if problems:
            r.fail(f"{q}: oracle mismatch: {problems[0][:200]}")
    con.close()

    tracer.reset()
    lat: dict[str, list[float]] = {q: [] for q in BATCH_QUERIES}
    t_end = time.perf_counter() + seconds
    passes = 0
    # whole passes until time is up
    orders = gen.query_orders(seed, BATCH_QUERIES)
    while passes == 0 or time.perf_counter() < t_end:
        for q in next(orders):
            with tracer.op("query", q) as rec:
                pdf = fns[q](spark, sf_dir).toPandas()
            rec["module"] = fns[q].__module__.rsplit(".", 1)[-1]
            lat[q].append(rec["wall_s"])
            r.attempted += 1
            if testing.compare_pandas(pdf, pdfs[q]):
                r.fail(f"{q}: result differs from the verified result")
        passes += 1

    per_query = {q: median(v) for q, v in lat.items()}
    pass_s = sum(per_query.values())
    r.op_latencies = [x for v in lat.values() for x in v]
    r.op_latency_s = geomean(per_query.values())
    r.items_per_s = len(BATCH_QUERIES) / pass_s
    r.figures = {
        "batch.qpm": (60.0 * len(BATCH_QUERIES) / pass_s, "1/min"),
        "batch.latency_p50_s": (median(per_query.values()), "s"),
        "batch.latency_geomean_s": (r.op_latency_s, "s"),
        "batch.pass_s": (pass_s, "s"),
    }
    r.lines.append("per-query median s: " + " ".join(
        f"{q}={v:.3f}" for q, v in per_query.items()))
    r.lines.append(f"timed passes: {passes}")
    return r


# -- curation_lakehouse -------------------------------------------------------

def curation_lakehouse(spark, tracer, seed: int, seconds: float, work: str) -> Result:
    """Cycles of: one seeded micro-batch through the streaming curation
    gate; a partition-pruned point read and a full read of the curated
    corpus; text corrections (``merge_into``) and erasures
    (``delete_rows``) on the corpus; compaction and vacuum of the gate's
    standing near-dup index.  Verdicts are checked per document and
    every read against the benchmark's own model of the corpus."""
    from pyspark.sql import functions as F

    from data_engineer_coder_spark.io import acid_table, layout
    from data_engineer_coder_spark.operators.textops import _DECON_N, ngram_array
    from data_engineer_coder_spark.streaming import core

    r = Result()
    feed = gen.CurationFeed(seed)
    eval_path = os.path.join(work, "eval.parquet")
    pq.write_table(feed.eval_table(), eval_path)

    def build_eval(root):
        ev = (
            spark.read.parquet(eval_path)
            .select(F.explode(ngram_array(F.split("text", " "), _DECON_N)).alias("g"))
            .distinct()
            .withColumn("b", F.pmod(F.xxhash64("g"), F.lit(8)))
        )
        acid_table.replace_partitions(
            layout.align_bucketed_write(ev, ["b"], ["g"], 8, 8), root, ["b"], "eval-build")

    _, r.setup_parts["eval_index_s"] = _repeat_setup(build_eval, work, "eval")
    roots = {n: os.path.join(work, n) for n in
             ("sigs", "docs", "quarantine", "verdicts", "stats")}
    roots["eval"] = os.path.join(work, "eval0")
    roots["bands"] = roots["sigs"] + "_bands"  # the gate's default
    src = os.path.join(work, "src")
    land = os.path.join(work, "landing")
    for d in (src, land):
        os.makedirs(d)
    ckpt = os.path.join(work, "ckpt")
    want: dict[int, dict[int, str]] = {}
    lat = {k: [] for k in ("epoch", "read_point", "read_full", "merge", "delete", "compact")}
    epochs: list[dict] = []
    space: list[float] = []
    schema = None
    t0 = time.time()

    def op(kind, name, fn):
        with tracer.op(kind, name) as rec:
            out = fn()
        lat[kind].append(rec["wall_s"])
        return out, rec

    def gate_epoch():
        nonlocal schema
        tab, expect = feed.next_batch()
        e = feed.epoch - 1
        path = os.path.join(src, f"e{e:06d}.parquet")
        pq.write_table(tab, path)
        os.utime(path, (t0 + e, t0 + e))
        want[e] = expect
        if schema is None:
            schema = spark.read.parquet(path).schema
        sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)

        def run():
            q = core.write_stream_curation_gate(
                sdf, roots["eval"], roots["sigs"], roots["docs"],
                roots["quarantine"], roots["verdicts"], roots["stats"],
                checkpoint=ckpt,
            )
            q.awaitTermination()
            return q
        q, rec = op("epoch", f"epoch-{e}", run)
        if q.exception() is not None:
            raise RuntimeError(f"gate failed: {q.exception()}")
        prog = [p for p in q.recentProgress if p.numInputRows]
        if len(prog) != 1 or prog[0].batchId != e:
            raise RuntimeError(f"expected one micro-batch for epoch {e}: {prog}")
        rec["trigger_s"] = prog[0].durationMs["triggerExecution"] / 1000.0
        rec["addbatch_s"] = prog[0].durationMs.get("addBatch", 0) / 1000.0
        rec["docs"] = tab.num_rows
        rec["bytes"] = os.path.getsize(path)
        epochs.append(rec)

    def reads():
        d = feed.point_doc()
        e, text = str(feed.corpus[d][0]), feed.corpus[d][1]
        got, _ = op("read_point", "read_point", lambda: acid_table.read_table(
            spark, roots["docs"], partition_filter=lambda kv: kv["epoch"] == e,
            stats_filter=lambda st: "doc_id" not in st or st["doc_id"][0] <= d <= st["doc_id"][1],
        ).filter(F.col("doc_id") == d).select("text").collect())
        r.attempted += 1
        if [x["text"] for x in got] != [text]:
            r.fail(f"point read of doc {d}: {len(got)} rows, text differs from the model")
        full, _ = op("read_full", "read_full", lambda: acid_table.read_table(
            spark, roots["docs"]).agg(F.count("*"), F.sum("doc_id"),
                                      F.sum(F.length("text"))).collect()[0])
        r.attempted += 1
        if tuple(int(x or 0) for x in full) != feed.totals():
            r.fail(f"full read {tuple(full)} != model {feed.totals()}")

    def maintain(k):
        fix = feed.corrections()
        fix_path = os.path.join(land, f"fix{k}.parquet")
        pq.write_table(fix, fix_path)
        fix_df = spark.read.parquet(fix_path)
        op("merge", "merge", lambda: acid_table.merge_into(
            spark, fix_df, roots["docs"], ["epoch"], ["epoch", "doc_id"], f"merge-{k}"))
        gone_epochs, gone = feed.erasures()
        op("delete", "delete", lambda: acid_table.delete_rows(
            spark, roots["docs"], partition_cols=["epoch"],
            condition=F.col("doc_id").isin(gone), txid=f"delete-{k}",
            partition_filter=lambda kv: kv["epoch"] in gone_epochs))
        before = sum(tree_bytes(p) for p in roots.values())

        def compact():
            acid_table.compact_partitions(spark, roots["sigs"], f"compact-{k}", sort_by=["doc_id"])
            acid_table.compact_partitions(spark, roots["bands"], f"compact-{k}", sort_by=["band_key"])
            for n in ("sigs", "bands", "docs"):
                acid_table.vacuum(roots[n])
        op("compact", "compact", compact)
        space.append(before / sum(tree_bytes(p) for p in roots.values()))
        r.attempted += 3

    def cycle(k):
        gate_epoch()
        reads()
        maintain(k)

    # the warm-up cycle runs epoch 0 (empty index); epoch 1, the first
    # index probe, is the first timed one
    t_warm = time.perf_counter()
    cycle(0)
    r.setup_parts["warmup_s"] = time.perf_counter() - t_warm
    for v in lat.values():
        v.clear()
    epochs.clear()
    space.clear()
    tracer.reset()

    t_start = time.perf_counter()
    k = 1
    while k == 1 or time.perf_counter() < t_start + seconds:
        cycle(k)
        k += 1
    loop_s = time.perf_counter() - t_start

    # correctness: per-doc verdicts, ledger conservation, one commit per
    # epoch per table; the tables are read straight from the files their
    # manifests list, independently of the program's read path
    got: dict[int, dict[int, str]] = {}
    for part, tab in _live_files(roots["verdicts"]):
        e = int(part["epoch"])
        got.setdefault(e, {}).update(zip(tab["doc_id"].to_pylist(), tab["verdict"].to_pylist()))
    ledger = {int(part["epoch"]): tab.to_pylist()[0] for part, tab in _live_files(roots["stats"])}
    manifests = {n: acid_table.current_manifest(roots[n])["txids"]
                 for n in ("sigs", "bands", "docs", "quarantine", "verdicts", "stats")}
    for e, expect in sorted(want.items()):
        r.attempted += 1
        bad = []
        if got.get(e) != expect:
            diff = [d for d in expect if got.get(e, {}).get(d) != expect[d]]
            bad.append(f"{len(diff)} verdicts differ, e.g. doc {diff[:1]}")
        row = ledger.get(e)
        counts = {v: list(expect.values()).count(v) for v in
                  (gen.DUP_INDEX, gen.DUP_BATCH, gen.LEAKED, gen.ACCEPTED)}
        if row is None:
            bad.append("no ledger row")
        elif (row["n_arrived"] != row["n_rejected_index"] + row["n_rejected_batch"]
              + row["n_quarantined"] + row["n_accepted"]
              or row["n_arrived"] != len(expect)
              or row["n_rejected_index"] != counts[gen.DUP_INDEX]
              or row["n_rejected_batch"] != counts[gen.DUP_BATCH]
              or row["n_quarantined"] != counts[gen.LEAKED]):
            bad.append(f"ledger {row} != expected {counts}")
        for n, txids in manifests.items():
            if txids.count(f"epoch-{e}") != 1:
                bad.append(f"txid epoch-{e} appears {txids.count(f'epoch-{e}')}x in {n}")
        if bad:
            r.fail(f"epoch {e}: " + "; ".join(bad))

    docs = sum(x["docs"] for x in epochs)
    r.op_latencies = [x["trigger_s"] for x in epochs]
    r.op_latency_s = geomean(median(v) for v in lat.values())
    r.read_latencies = lat["read_point"] + lat["read_full"]
    r.items_per_s = docs / loop_s
    r.figures = {
        "ingest.docs_per_s": (docs / sum(x["wall_s"] for x in epochs), "1/s"),
        "ingest.epoch_p50_s": (median(r.op_latencies), "s"),
        "cycle.op_geomean_s": (r.op_latency_s, "s"),
        "lake.read_p50_s": (median(r.read_latencies), "s"),
        "lake.maintenance_s": (sum(median(lat[k]) for k in ("merge", "delete", "compact")), "s"),
        "lake.bytes_per_live_byte": (median(space), "ratio"),
        "loop.docs_per_s": (r.items_per_s, "1/s"),
    }
    r.inputs = {
        "epochs": len(want), "docs_per_epoch": feed.batch_docs,
        "rows": feed.batch_docs * len(want),
        "bytes": sum(os.path.getsize(os.path.join(src, f)) for f in os.listdir(src)),
        "eval_docs": len(feed.eval_texts), "timed_cycles": k - 1,
        "timed_user_bytes": sum(x["bytes"] for x in epochs),
        "digest": gen.table_digest(pq.read_table(os.path.join(src, "e000000.parquet"))),
    }
    r.lines.append("epoch trigger s: " + " ".join(f"{x:.3f}" for x in r.op_latencies))
    r.lines.append("epoch addBatch s: " + " ".join(f"{x['addbatch_s']:.3f}" for x in epochs))
    r.lines.append("median s by op: " + " ".join(
        f"{k}={median(v):.3f}(n={len(v)})" for k, v in lat.items()))
    return r


def _live_files(root: str):
    """``(partition values, rows)`` for every data file the table's
    current manifest references, read with pyarrow."""
    from data_engineer_coder_spark.io import acid_table

    man = acid_table.current_manifest(root)
    for pkey, rels in man["partitions"].items():
        part = dict(seg.split("=", 1) for seg in pkey.split("/"))
        for rel in [rels] if isinstance(rels, str) else rels:
            d = os.path.join(root, rel)
            for f in sorted(os.listdir(d)):
                if f.endswith(".parquet"):
                    yield part, pq.read_table(os.path.join(d, f))


WORKLOADS = {
    "batch_mix": batch_mix,
    "curation_lakehouse": curation_lakehouse,
}
