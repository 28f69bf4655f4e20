"""Plan builders are pure: building a query returns a lazy DataFrame, fires
no Spark job beyond reading its tables' parquet schemas, and leaves no
state behind — nothing in Spark's cache and nothing held at module level
between calls."""

import os

import pytest
from pyspark.sql import DataFrame

from create_proposals_using_vector_db_public_spark.plans import (
    QUERIES,
    graph_queries,
    selection_queries,
)
from create_proposals_using_vector_db_public_spark.sources import load_table

SF = "/root/testdata/sf0.001"

# query -> the parquet tables its builder reads
_PURE = {
    "q_pagerank": ("lineitem",),
    "q_temperature_sample": ("documents",),
}


def _in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setJobGroup("", "")


def _jobs(spark, group) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@pytest.mark.skipif(not os.path.isdir(SF), reason="sf0.001 testdata absent")
def test_builders_fire_no_jobs_and_keep_no_state(spark):
    # the reference: what reading each table alone costs (one parquet
    # schema job per spark.read.parquet)
    for table in {t for ts in _PURE.values() for t in ts}:
        _in_group(spark, f"pure-load-{table}",
                  lambda: load_table(spark, SF, table))
    built = {
        name: _in_group(spark, f"pure-build-{name}",
                        lambda: QUERIES[name](spark, SF))
        for name in _PURE
    }
    # executing the plans is allowed to run jobs, and must still leave no
    # cache entry behind
    for name, df in built.items():
        assert df.collect(), f"{name} returned no rows"
    for name, tables in _PURE.items():
        allowed = sum(_jobs(spark, f"pure-load-{t}") for t in tables)
        fired = _jobs(spark, f"pure-build-{name}")
        assert fired <= allowed, (
            f"{name} fired {fired} jobs while building; reading its tables "
            f"alone fires {allowed}"
        )
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
