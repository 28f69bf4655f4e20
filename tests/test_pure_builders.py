"""Plan builders are pure: building a query returns a lazy DataFrame, fires
no Spark job — not even to read its tables' parquet schemas — and leaves no
state behind: nothing in Spark's cache and nothing held at module level
between calls."""

import os

import pytest
from pyspark.sql import DataFrame

from create_proposals_using_vector_db_public_spark.plans import (
    QUERIES,
    graph_queries,
    selection_queries,
)

SF = "/root/testdata/sf0.001"

# graph and sampling builders, the batch kNN and MinHash dedup of the
# search workload, and relational builders that only read tables
_PURE = (
    "q_pagerank",
    "q_temperature_sample",
    "q_knn_join",
    "q_dedup_minhash",
    "q_scan_filter",
    "q_agg_basic",
    "q_topk_per_group",
    "q_cdc_apply",
)


@pytest.mark.skipif(not os.path.isdir(SF), reason="sf0.001 testdata absent")
def test_builders_fire_no_jobs_and_keep_no_state(spark, jobs_fired):
    built, fired = {}, {}
    for name in _PURE:
        built[name], fired[name] = jobs_fired(
            f"pure-build-{name}", lambda: QUERIES[name](spark, SF)
        )
    assert not any(fired.values()), (
        f"jobs fired while building: { {k: v for k, v in fired.items() if v} }"
    )
    # executing the plans is allowed to run jobs, and must still leave no
    # cache entry behind
    for name, df in built.items():
        assert df.collect(), f"{name} returned no rows"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "a plan builder left a cached relation behind"
    )
    for module in (graph_queries, selection_queries):
        state = {
            k: type(v).__name__
            for k, v in vars(module).items()
            if not k.startswith("__") and isinstance(v, (dict, DataFrame))
        }
        assert not state, f"{module.__name__} keeps module-level state: {state}"
