"""Session-level behaviour of ``session.get_spark``."""

from __future__ import annotations

from ssis_to_pyspark_agent_spark.queries import QUERIES

#: catalog queries no other test runs (window, SCD, dedup, similarity,
#: clustering and join operators); at sf0.001 their first run compiled
#: 276-355 classes, depending on what the session ran before
_RERUN = (
    "q16_window_suite",
    "q26_scd2",
    "q31_dedup_ngram_cluster",
    "q37_ann_topk",
    "q40_dedup_embedding_pairs",
    "q58_approx_distinct",
    "q74_returned_items",
    "q80_embedding_kmeans",
)


def _compiles(spark) -> int:
    """Generated classes the JVM has compiled so far (cache misses)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_rerun_compiles_no_new_code(spark, sf_dir):
    # a session that runs the same pipelines again must reuse the classes
    # it compiled the first time; a codegen cache smaller than the working
    # set evicts them, and every re-run pays Janino and the JIT again
    # (NOTES invariant 25)
    counts = []
    for _ in range(2):
        before = _compiles(spark)
        for name in _RERUN:
            QUERIES[name](spark, sf_dir).collect()
        counts.append(_compiles(spark) - before)
    first, second = counts
    assert first > 150, counts
    assert second <= 0.1 * first, counts
