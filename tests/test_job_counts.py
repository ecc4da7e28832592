"""Per-query Spark job-count pins.

Each pinned query runs at sf0.001 from released shared caches, under
its own job group, and is forced through the ``noop`` sink the way
``perfbench/run.py`` forces it. Its job count, read from the status
tracker, must not exceed the pin. Unlike wall time, a job count does
not grow with host load (bar the one variance below), so a change that
adds jobs to one of these queries fails here.

The pins are the highest counts measured on 2 and 4 cores. Two of
them carry one job of slack: the first round of the components
fixpoint's eager checkpoint runs one adaptive-execution job more in
some runs than in others (``dedup_component_stats`` 31-32,
``dedup_rewrite_map`` 33-34).

Lower a pin when a change removes jobs. Never raise one to get a pass;
a justified increase goes in CHANGES.md.
"""

from __future__ import annotations

import pytest

from datafusion_streams_spark.operators import REGISTRY, release_shared_caches
from tests.conftest import SF_DIR_SMALL

# The model-fitting and converged-label consumers: each fits or
# converges from its inputs on every call, no driver memo in between.
JOB_PINS = {
    "cluster_kmeans_embeddings": 13,
    "dedup_semantic_clusters": 12,
    "pipeline_curation_v2": 28,
    "ann_pq_adc": 9,
    "ann_ivf_pq": 9,
    "dedup_components": 30,
    "dedup_component_stats": 32,
    "dedup_rewrite_map": 34,
    # The registry_mix TPC-H members: one schema-inference job per table
    # they read (3 and 5) and none for the tables they do not.
    "q3_shipping_priority": 7,
    "q9_product_profit": 11,
    # SQL-surface queries: each registers only the views its text names
    # (supplier+nation, orders+customer, orders).
    "sql_entry_point": 5,
    "sql_in_subquery": 4,
    "sql_window_functions": 3,
}


def query_job_count(spark, name: str) -> int:
    """Jobs one fresh-cache run of ``name`` starts, plan build and the
    ``noop`` write together."""
    sc = spark.sparkContext
    release_shared_caches(spark)
    group = f"job-count:{name}"
    sc.setJobGroup(group, name)
    try:
        df = REGISTRY[name].fn(spark, SF_DIR_SMALL)
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc._jsc.clearJobGroup()
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", list(JOB_PINS))
def test_query_job_count_within_pin(spark, name):
    assert query_job_count(spark, name) <= JOB_PINS[name]
