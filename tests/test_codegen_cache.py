"""Generated code is reused across repeated operations.

Spark's generated-class cache defaults to 100 entries, fewer than one
pass over a dozen registry queries needs, so every repeat used to
recompile its classes through Janino inside its tasks.  ``get_spark``
sizes the cache to the engine's working set; a repeated query must hit
it.
"""

from __future__ import annotations

from data_engineer_coder_spark import registry
from data_engineer_coder_spark.testing import compare_pandas


def _compilations(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_repeated_query_compiles_nothing_new(spark, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    # one curation-gate run generates ~200 classes, twice the default
    # cache: with it, the second run recompiles most of them
    q = registry.queries()["stream_curation_ingest"]
    first = q(spark, sf_dir).toPandas()
    before = _compilations(spark)
    second = q(spark, sf_dir).toPandas()
    assert _compilations(spark) == before
    assert not compare_pandas(second, first)
