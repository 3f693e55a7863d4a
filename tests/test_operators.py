"""Targeted operator semantics beyond the oracle sweep."""

from __future__ import annotations

from data_engineer_coder_spark import registry
from data_engineer_coder_spark.io.tables import table

_Q = registry.queries()


def test_empty_result_keeps_schema(spark, sf_dir):
    df = _Q["empty_result_schema"](spark, sf_dir)
    assert df.columns == ["l_orderkey", "sum_qty"]
    assert df.count() == 0


def test_dedup_is_deterministic(spark, sf_dir):
    a = sorted(map(tuple, _Q["dedup_keep_first"](spark, sf_dir).collect()))
    b = sorted(map(tuple, _Q["dedup_keep_first"](spark, sf_dir).collect()))
    assert a == b


def test_minhash_finds_all_strong_pairs(spark, sf_dir):
    """LSH recall check: every exact pair with jaccard >= 0.5 must be
    found by MinHash+LSH (at j≈0.99 and 8x4 bands, miss prob ≈ 0)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in _Q["ngram_jaccard_pairs"](spark, sf_dir).collect()
        if r.jaccard >= 0.5
    }
    lsh = {(r.doc_a, r.doc_b) for r in _Q["minhash_lsh_neardup"](spark, sf_dir).collect()}
    assert exact <= lsh, f"LSH missed pairs: {exact - lsh}"


def test_cosine_topk_matches_numpy(spark, sf_dir):
    import numpy as np

    rows = table(spark, sf_dir, "embeddings").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    got = _Q["cosine_topk"](spark, sf_dir).collect()
    by_probe: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r.probe_id, r.rn)):
        by_probe.setdefault(r.probe_id, []).append(r.neighbor_id)
    for probe in list(by_probe)[:5]:
        p = vecs[probe]
        sims = {
            vid: float(p @ v / (np.linalg.norm(p) * np.linalg.norm(v)))
            for vid, v in vecs.items()
            if vid != probe
        }
        expected = [vid for vid, _ in sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]]
        assert by_probe[probe] == expected


def test_topk_orders_descending(spark, sf_dir):
    rows = _Q["topk_orders"](spark, sf_dir).collect()
    prices = [r.o_totalprice for r in rows]
    assert prices == sorted(prices, reverse=True)
    assert len(rows) == 25


def test_pricing_summary_plan_is_scale_shaped(spark, sf_dir):
    """The flagship plan must push the filter into the scan and do a
    partial-before-shuffle aggregate."""
    df = _Q["pricing_summary"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    explained = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in explained


def test_shingle_df_cap_recall_unchanged(spark, sf_dir, monkeypatch):
    """The frequent-shingle DF cap is a pure skew guard on the fixture:
    with the cap effectively disabled (huge threshold) the exact-Jaccard
    pair set must be identical (fixture max shingle df ~25 << 1000)."""
    from data_engineer_coder_spark.operators import dedup as d

    capped = sorted(map(tuple, _Q["ngram_jaccard_pairs"](spark, sf_dir).collect()))
    monkeypatch.setattr(d, "_SHINGLE_DF_CAP", 10**9)
    uncapped = sorted(map(tuple, _Q["ngram_jaccard_pairs"](spark, sf_dir).collect()))
    assert capped == uncapped


def test_sort_global_no_data_sized_single_partition_window(spark, sf_dir):
    """The global-rank plan must not push all data rows through one
    window task: the only single-partition window allowed is the
    #partitions-sized offset aggregate.

    Since with_global_pos lazily checkpoints its ranked rows (the
    determinism fix — see _helpers.py), the row_number window lives in
    the CHECKPOINT's plan, not the final query's: the final plan scans
    an ExistingRDD that already carries _rn/_pid from the range-
    partitioned window.  Assert that shape, and that no data-sized
    single-partition window appears anywhere."""
    plan = _Q["sort_global"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    # Ranked rows come from the checkpointed range-partitioned window
    assert "_rn" in plan and "_pid" in plan
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
    # No window over the full data with an empty partition spec: the only
    # Window node left (offset cumsum) partitions a #partitions-sized input.
    assert "windowspecdefinition(o_" not in plan.replace(" ", "")


def test_ivf_recall_against_exact(spark, sf_dir):
    """IVF(nprobe=4/16) top-3 should substantially agree with the exact
    top-5: every IVF hit must be a true neighbor ranking-wise (cos_sim
    monotone in rn), and overall recall@3 vs the exact top-3 stays > 0.5
    on the fixture."""
    exact = {}
    for r in _Q["cosine_topk"](spark, sf_dir).collect():
        if r.rn <= 3:
            exact.setdefault(r.probe_id, set()).add(r.neighbor_id)
    ivf = {}
    for r in _Q["ivf_ann_topk"](spark, sf_dir).collect():
        ivf.setdefault(r.probe_id, set()).add(r.neighbor_id)
    hits = sum(len(ivf.get(p, set()) & s) for p, s in exact.items())
    total = sum(len(s) for s in exact.values())
    assert hits / total > 0.5, f"IVF recall@3 too low: {hits}/{total}"


def test_ivf_kmeans_recall_at_least_matches_fixed_centroids(spark, sf_dir):
    """Lloyd refinement must not degrade recall vs the exact top-3."""
    exact = {}
    for r in _Q["cosine_topk"](spark, sf_dir).collect():
        if r.rn <= 3:
            exact.setdefault(r.probe_id, set()).add(r.neighbor_id)
    km = {}
    for r in _Q["ivf_kmeans_topk"](spark, sf_dir).collect():
        km.setdefault(r.probe_id, set()).add(r.neighbor_id)
    total = sum(len(s) for s in exact.values())
    hits = sum(len(km.get(p, set()) & s) for p, s in exact.items())
    assert hits / total > 0.5, f"k-means IVF recall@3 too low: {hits}/{total}"


def test_minhash_exprs_match_python(spark):
    """The MinHash family's SQL-text expressions (signature aggregates,
    LSH band keys, agreement count) equal a pure-Python replay of the
    ``_PERM_A``/``_PERM_B`` permutations bit for bit, with the column
    types the standing index tables were written with."""
    from pyspark.sql import functions as F

    from data_engineer_coder_spark.operators import dedup as d

    hashes = {
        1: [0, 7, 2**31 - 1, 123456789],
        2: [0, 7, 2**31 - 2, 987654321],
        3: [5],
    }
    hashed = spark.createDataFrame(
        [(i, h) for i, hs in hashes.items() for h in hs], "doc_id long, h long"
    )
    sig = d.minhash_from_hashes(hashed)
    want = {
        i: [min((a * h + b) % d._MERSENNE for h in hs) for a, b in zip(d._PERM_A, d._PERM_B)]
        for i, hs in hashes.items()
    }
    rows = sig.collect()
    assert {r["doc_id"]: [r[f"m{j}"] for j in range(d._K)] for r in rows} == want
    assert all(sig.schema[f"m{j}"].dataType.typeName() == "long" for j in range(d._K))

    keys = sig.select("doc_id", d.band_key_array().alias("k"))
    assert keys.schema["k"].dataType.simpleString() == "array<string>"
    assert {r["doc_id"]: r["k"] for r in keys.collect()} == {
        i: [
            "_".join([str(band)] + [str(m[band * d._ROWS + r]) for r in range(d._ROWS)])
            for band in range(d._BANDS)
        ]
        for i, m in want.items()
    }

    pairs = (
        sig.alias("a")
        .join(sig.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"),
                d.agree_count("a", "b").alias("n"))
    )
    assert pairs.schema["n"].dataType.typeName() == "integer"
    assert {(r["x"], r["y"]): r["n"] for r in pairs.collect()} == {
        (x, y): sum(p == q for p, q in zip(want[x], want[y]))
        for x in want for y in want if x < y
    }
