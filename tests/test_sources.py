"""``sources.read_parquet``: the schema Spark would infer, without the
inference job, for single files and Spark-written partitioned directories,
and a logged fallback to Spark's own inference where the session has no
JVM bridge."""

import logging
import os

import pytest

from create_proposals_using_vector_db_public_spark.sources import (
    TABLES,
    load_table,
    read_parquet,
    tables,
)

SF = "/root/testdata/sf0.001"

needs_sf = pytest.mark.skipif(
    not os.path.isdir(SF), reason="sf0.001 testdata absent"
)


@needs_sf
@pytest.mark.parametrize("name", TABLES)
def test_read_parquet_schema_equals_inferred(spark, name):
    path = f"{SF}/{name}.parquet"
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


@needs_sf
def test_read_parquet_partitioned_directory(spark, tmp_path, jobs_fired):
    """A Spark-written directory partitioned by ``lang``: the data columns
    come from a part file's footer (``_SUCCESS`` and ``.crc`` files are
    skipped), the partition column is still discovered from the paths,
    and the rows are the ones Spark's own inference reads."""
    out = str(tmp_path / "by_lang")
    load_table(spark, SF, "documents").write.partitionBy("lang").parquet(out)
    names = os.listdir(out)
    assert "_SUCCESS" in names and any(n.startswith("lang=") for n in names)
    got, fired = jobs_fired("read-partitioned", lambda: read_parquet(spark, out))
    want = spark.read.parquet(out)
    assert fired == 0
    assert got.schema == want.schema
    assert "lang" in got.columns
    assert sorted(got.collect()) == sorted(want.collect())


@needs_sf
def test_load_table_fires_no_job(spark, jobs_fired):
    fired = {
        name: jobs_fired(f"load-{name}", lambda: load_table(spark, SF, name))[1]
        for name in ("embeddings", "events", "lineitem")
    }
    assert fired == {"embeddings": 0, "events": 0, "lineitem": 0}


def test_read_parquet_without_data_file_keeps_spark_error(spark, tmp_path):
    """No data file to take the schema from: Spark's own read runs and
    raises its usual error instead of a footer-reader failure."""
    (tmp_path / "_SUCCESS").write_text("")
    with pytest.raises(Exception, match="(?i)infer schema"):
        read_parquet(spark, str(tmp_path))
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        read_parquet(spark, str(tmp_path / "missing"))


def test_read_parquet_keeps_session_schema_merging(spark, tmp_path):
    """With ``spark.sql.parquet.mergeSchema`` on, the schema is the union
    of every file's, which one footer cannot give: Spark infers it."""
    out = str(tmp_path / "evolved")
    spark.range(3).write.parquet(f"{out}/gen=1")
    spark.range(3).selectExpr("id", "id * 2 AS twice").write.parquet(
        f"{out}/gen=2"
    )
    old = spark.conf.get("spark.sql.parquet.mergeSchema")
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        got = read_parquet(spark, out).schema
        assert got == spark.read.parquet(out).schema
    finally:
        spark.conf.set("spark.sql.parquet.mergeSchema", old)
    assert "twice" in got.fieldNames()


@needs_sf
def test_read_parquet_without_jvm_bridge_falls_back_logged(spark, caplog):
    """A session with no JVM bridge (Spark Connect has no
    ``_jsparkSession``) reads with Spark's inference and says so at INFO."""

    class _Bridgeless:
        def __init__(self, session):
            self.read = session.read

    path = f"{SF}/nation.parquet"
    with caplog.at_level(logging.INFO, logger=tables.__name__):
        df = read_parquet(_Bridgeless(spark), path)
    assert df.schema == spark.read.parquet(path).schema
    assert any(
        "no JVM bridge" in r.message and r.levelno == logging.INFO
        for r in caplog.records
    ), "the fallback must be observable at INFO"
