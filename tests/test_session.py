"""Session-level confs whose effect only shows across queries."""

from __future__ import annotations

from tests.conftest import SF_DIR

CURATION_ROWS = (
    "pagerank_copurchase",
    "graph_lpa_communities",
    "entity_resolution_parts",
    "model_inference_annotator",
)


def test_codegen_cache_holds_a_curation_pass(spark):
    """A warm pass over the iterative curation rows must reuse its
    compiled whole-stage classes. One pass generates 100-odd distinct
    classes; at Spark's default 100-entry codegen cache each is evicted
    before its reuse and the second pass recompiles them all (103 at
    sf0.001).
    get_spark sizes the cache at 1000, so the second pass compiles
    (almost) nothing."""
    from dend_covid19_spark import plans

    reg = plans.all_queries()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_pass():
        for name in CURATION_ROWS:
            reg[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    run_pass()
    before = compiles.getCount()
    run_pass()
    assert compiles.getCount() - before <= 10
