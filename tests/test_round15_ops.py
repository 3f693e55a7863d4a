"""Round 15 (optimization round 2) focused tests.

Each test pins an optimization's EQUIVALENCE, not just its behavior:
the driver-side one-row commit path must be indistinguishable from the
Spark write path at the table level (rows, schema json, manifest
protocol, zone-map stats), because every gate ledger now rides it.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_engineer_coder_spark.io.acid_table import (
    append_partitions,
    append_rows,
    current_manifest,
    read_table,
    replace_rows,
)

LEDGER_DDL = (
    "epoch int, n_docs long, len_sum long, ratio double, src string, ok boolean"
)
ROW1 = (0, 10, 1234, 0.5, "gate-a", True)
ROW2 = (1, 7, 999, None, None, False)


def test_append_rows_matches_spark_append(spark, tmp_path):
    """Local and Spark appends of the same rows produce identical
    read-back rows, identical manifest schema json, and the same
    partition/dir layout."""
    a = str(tmp_path / "local")
    b = str(tmp_path / "sparkw")
    append_rows(spark, [ROW1], LEDGER_DDL, a, ["epoch"], "epoch-0")
    append_rows(spark, [ROW2], LEDGER_DDL, a, ["epoch"], "epoch-1")
    append_partitions(
        spark.createDataFrame([ROW1], LEDGER_DDL), b, ["epoch"], "epoch-0"
    )
    append_partitions(
        spark.createDataFrame([ROW2], LEDGER_DDL), b, ["epoch"], "epoch-1"
    )
    ra = sorted(map(tuple, read_table(spark, a).collect()))
    rb = sorted(map(tuple, read_table(spark, b).collect()))
    assert ra == rb
    assert read_table(spark, a).schema == read_table(spark, b).schema
    ma, mb = current_manifest(a), current_manifest(b)
    assert ma["schema"] == mb["schema"]
    assert ma["txids"] == mb["txids"]
    assert sorted(ma["partitions"]) == sorted(mb["partitions"])
    # zone-map stats recorded for the local files too (same machinery)
    assert all(
        f["stats"].get("n_docs") for v in ma["dir_files"].values() for f in v
    )


def test_append_rows_exactly_once_and_negative_epoch(spark, tmp_path):
    root = str(tmp_path / "t")
    replace_rows(
        spark, [(-1, 5, 100)], "epoch int, n_docs long, len_sum long",
        root, ["epoch"], "bulk-load",
    )
    append_rows(
        spark, [(-2, -1, -10)], "epoch int, n_docs long, len_sum long",
        root, ["epoch"], "correction",
    )
    # replay: exactly-once no-op, version unchanged
    v = current_manifest(root)["version"]
    append_rows(
        spark, [(-2, -99, -99)], "epoch int, n_docs long, len_sum long",
        root, ["epoch"], "correction",
    )
    assert current_manifest(root)["version"] == v
    got = {
        int(r["epoch"]): (int(r["n_docs"]), int(r["len_sum"]))
        for r in read_table(spark, root).collect()
    }
    assert got == {-1: (5, 100), -2: (-1, -10)}


def test_append_rows_falls_back_on_unsafe_values(spark, tmp_path):
    """A partition value needing hive escaping (or an unsupported type)
    must route through the Spark writer, not a hand-rolled dir name."""
    root = str(tmp_path / "fb")
    append_rows(
        spark, [("a b", 1)], "k string, n long", root, ["k"], "t1"
    )
    rows = read_table(spark, root).collect()
    assert [(r["k"], int(r["n"])) for r in rows] == [("a b", 1)]


@pytest.mark.parametrize(
    "ddl, vals",
    [
        ("k int, n long", [None, 3, -1]),
        ("k boolean, n long", [True, False, None]),
        ("k string, n long", ["a", None, "7"]),
    ],
)
def test_append_rows_partition_keys_match_spark(spark, tmp_path, ddl, vals):
    """``None`` and bools need Spark's spelling of the partition dir
    (``__HIVE_DEFAULT_PARTITION__``, ``true``), not ``str()``'s: the
    driver-side commit and the Spark write give the same keys."""
    a = str(tmp_path / "local")
    b = str(tmp_path / "sparkw")
    for i, v in enumerate(vals):
        append_rows(spark, [(v, i)], ddl, a, ["k"], f"t{i}")
        append_partitions(spark.createDataFrame([(v, i)], ddl), b, ["k"], f"t{i}")
    assert sorted(current_manifest(a)["partitions"]) == sorted(
        current_manifest(b)["partitions"]
    )


def test_append_rows_crash_before_commit_is_invisible(spark, tmp_path):
    root = str(tmp_path / "crash")

    def boom():
        raise RuntimeError("die before commit")

    with pytest.raises(RuntimeError, match="die before commit"):
        append_rows(
            spark, [(0, 1)], "epoch int, n long", root, ["epoch"], "e0",
            _crash_before_commit=boom,
        )
    assert current_manifest(root)["partitions"] == {}
    # restage after the crash: clean exactly-once commit
    append_rows(spark, [(0, 1)], "epoch int, n long", root, ["epoch"], "e0")
    assert [int(r["n"]) for r in read_table(spark, root).collect()] == [1]


def test_covariance_pair_moments_match_exploded_reference(spark):
    """r15 optimization (VERDICT r14 #4): embedding_covariance_topk's
    per-(i<j) pair moments come from per-task numpy Gram partials
    (mapInArrow) instead of a chained posexplode.  The summed exact ints
    (Σxy, Σx, Σy, n) must equal the exploded plan per pair — integer
    addition is order-free, so any partitioning gives the same sums —
    and therefore the covariance doubles and the top-k cut are
    bit-identical."""
    from pyspark.sql import functions as F

    from data_engineer_coder_spark.operators import similarity as sim

    rows = [
        ([float((i * 13 + d * 5) % 11) / 11.0 - 0.3 for d in range(sim._DIMS)],)
        for i in range(41)
    ]
    df = spark.createDataFrame(rows, "embedding array<double>").repartition(7)
    q = df.select(sim._qvec("embedding").alias("qv"))

    # exploded reference (the pre-r15 plan shape)
    a = q.select("qv", F.posexplode("qv").alias("pi", "x"))
    b = a.select("pi", "x", F.posexplode("qv").alias("pj", "y")).filter(
        F.col("pi") < F.col("pj")
    )
    want = {
        (int(r["pi"]) + 1, int(r["pj"]) + 1): (
            int(r["sxy"]), int(r["sx"]), int(r["sy"]), int(r["n"])
        )
        for r in b.groupBy("pi", "pj").agg(
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.count("*").alias("n"),
        ).collect()
    }

    # the partials kernel, via the public operator's own mapInArrow body:
    # run the operator end-to-end on a temp fixture dir is heavier than
    # needed — instead re-derive the partial frame the same way the
    # operator does and compare the aggregated moments.
    import numpy as np  # noqa: F401  (kernel imports inside)

    def _pair_moments(batches):
        import numpy as np
        import pyarrow as pa

        dims = sim._DIMS
        acc = np.zeros((dims, dims), dtype=np.int64)
        sums = np.zeros(dims, dtype=np.int64)
        cnt = 0
        for bt in batches:
            col = bt.column(0)
            flat = col.flatten().to_numpy(zero_copy_only=False)
            m = flat.astype(np.int64, copy=False).reshape(-1, dims)
            acc += m.T @ m
            sums += m.sum(axis=0)
            cnt += m.shape[0]
        if cnt:
            iu, ju = np.triu_indices(dims, k=1)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array((iu + 1).astype(np.int32), pa.int32()),
                    pa.array((ju + 1).astype(np.int32), pa.int32()),
                    pa.array(acc[iu, ju], pa.int64()),
                    pa.array(sums[iu], pa.int64()),
                    pa.array(sums[ju], pa.int64()),
                    pa.array(np.full(iu.shape, cnt, dtype=np.int64), pa.int64()),
                ],
                names=["dim_i", "dim_j", "sxy", "sx", "sy", "n"],
            )

    got = {
        (int(r["dim_i"]), int(r["dim_j"])): (
            int(r["sxy"]), int(r["sx"]), int(r["sy"]), int(r["n"])
        )
        for r in q.mapInArrow(
            _pair_moments,
            "dim_i int, dim_j int, sxy long, sx long, sy long, n long",
        )
        .groupBy("dim_i", "dim_j")
        .agg(
            F.sum("sxy").alias("sxy"),
            F.sum("sx").alias("sx"),
            F.sum("sy").alias("sy"),
            F.sum("n").alias("n"),
        )
        .collect()
    }
    assert got == want
