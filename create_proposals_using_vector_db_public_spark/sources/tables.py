"""Parquet star-schema sources.

The driver materializes deterministic TPC-H-ish tables plus ``events``,
``documents`` and ``embeddings`` as one parquet file per table
(TESTDATA.md). At 100 TB each of these would be a partitioned parquet/Delta
dataset; reading stays identical and all the engine's filters/projections
push down to the scan, so nothing here needs to change with scale — only
the physical layout (partitioning columns, file sizing) of the warehouse
does.

Every plain parquet read in the package goes through :func:`read_parquet`.
``spark.read.parquet(path)`` infers the schema by running a one-task Spark
job that reads a footer (~0.1 s of fixed cost per table per query, most of
a small query's plan-build time); :func:`read_parquet` reads that footer on
the driver instead and hands the schema to the reader, so building a plan
over these tables fires no job.
"""

from __future__ import annotations

import json
import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_LOG = logging.getLogger(__name__)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job.

    Without ``mergeSchema``, Spark infers a parquet schema from ONE data
    file's footer (all files are assumed to agree), but reads that footer
    inside a Spark job. This reads the same footer on the driver and
    converts it with Spark's own converter under the session's conf
    (``ParquetFileFormat.readSchemaFromFooter`` +
    ``ParquetToSparkSchemaConverter``), then passes the schema to the
    reader: the result is the inferred schema, partition columns of a
    partitioned directory included (they are still discovered from the
    paths), with no job.

    Spark's own inference stays in charge when the session merges schemas
    (``spark.sql.parquet.mergeSchema``; that needs every footer), when
    ``path`` holds no data file (Spark raises its usual error), and when
    the session has no JVM bridge (Spark Connect) — the last is logged at
    INFO, since it brings the per-read job back.
    """
    schema = None
    jspark = getattr(spark, "_jsparkSession", None)
    if jspark is None:
        _LOG.info(
            "no JVM bridge to read the parquet footer of %s on the driver; "
            "Spark infers the schema with a job", path,
        )
    elif spark.conf.get("spark.sql.parquet.mergeSchema") != "true":
        schema = _footer_schema(spark._jvm, jspark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _footer_schema(jvm, jspark, path: str) -> StructType | None:
    """Spark's schema for the parquet data at ``path``, from the footer of
    its first data file, or None when there is no data file. A directory is
    listed recursively, skipping what Spark's file index skips: names
    starting with ``.``, and with ``_`` unless they are ``key=value``
    partition directories (``_SUCCESS``, ``_temporary``, ``.crc`` files)."""
    conf = jspark.sessionState().newHadoopConf()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return None
    status = fs.getFileStatus(root)
    if status.isDirectory():
        prefix = status.getPath().toUri().getPath().rstrip("/") + "/"
        files, status = fs.listFiles(root, True), None
        while files.hasNext():
            f = files.next()
            parts = f.getPath().toUri().getPath()[len(prefix):].split("/")
            if not any(p.startswith(".") or (p.startswith("_") and "=" not in p)
                       for p in parts):
                status = f
                break
        if status is None:
            return None
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    meta = parquet.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(status.getPath(), meta),
        parquet.ParquetToSparkSchemaConverter(jspark.sessionState().conf()),
    )
    return StructType.fromJson(json.loads(schema.json()))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table carries parquet TIMESTAMP(NANOS). Spark's reader
    behavior differs by version — Spark ≤4.0 rejects nanos unless the
    legacy ``nanosAsLong`` conf maps them to raw bigint; Spark 4.1+ reads
    them natively as TIMESTAMP_NTZ (truncated to µs, exactly like DuckDB
    truncates TIMESTAMP_NS to its native µs on read). Handle both and
    expose a stable schema:

    - ``ts_ns``  : bigint nanoseconds since epoch,
    - ``ts_us``  : bigint microseconds — matches DuckDB ``epoch_us(ts)``,
      so every oracle comparison/ordering uses ``ts_us``,
    - ``ts``     : a real TIMESTAMP column (µs) for human-facing use.

    Integer timestamps keep all ordering/bucketing arithmetic
    timezone-independent; the session timezone is pinned to UTC so the
    NTZ→instant interpretation and ``to_date``/``date_format`` rendering
    agree with DuckDB's naive-timestamp semantics — session-timezone
    rendering is the #1 cross-engine divergence for time queries.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:  # honored on Spark ≤4.0; accepted-but-ignored on 4.1+
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = read_parquet(spark, f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":  # legacy nanosAsLong path
        df = df.withColumnRenamed("ts", "ts_ns").withColumn(
            # FLOOR division (pmod is non-negative), matching the 4.1+
            # native nanos->micros truncation for pre-epoch values too —
            # `div` alone truncates toward zero and would differ by 1µs
            "ts_us", F.expr("(ts_ns - pmod(ts_ns, 1000)) div 1000")
        )
    else:  # timestamp_ntz (or timestamp): fields are the UTC wall clock
        df = (
            df.withColumn(
                "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
            )
            .withColumn("ts_ns", F.col("ts_us") * F.lit(1000))
            .drop("ts")
        )
    return df.withColumn("ts", F.timestamp_micros(F.col("ts_us")))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
