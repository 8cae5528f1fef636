"""Parquet / catalog sources (SURVEY.md S1–S5, S12).

Every scan in the reference maps to a built-in Spark reader:

- S1 single-object scan  → ``spark.read.parquet(path)``
- S2 partitioned layout  → same call; hive partition discovery recovers
  the partition column (``Partition-script.py:44``)
- S3 catalog table       → ``spark.read.table`` / registered temp view
- S4 pruned catalog scan → ``where(col(key) == v)``; Catalyst prunes
  hive partitions at planning time — the declarative twin of Glue's
  ``push_down_predicate`` (``data-s3-elastic-transfer.py:301-306``)
- S5 SQL-over-files      → ``spark.sql`` on registered views (no
  Athena submit/poll/CSV round-trip — ``ID-based-transfer.py:22-48``)
- S12 partition DDL      → ``SHOW PARTITIONS`` / ``MSCK REPAIR TABLE``
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def scan(spark: SparkSession, path: str) -> DataFrame:
    """S1/S2 — parquet scan with partition discovery."""
    return spark.read.parquet(path)


def register_catalog_table(spark: SparkSession, name: str, path: str,
                           partition_col: str | None = None) -> None:
    """S3/S12 — register an external partitioned table in the session
    catalog so SQL DDL (SHOW PARTITIONS / MSCK REPAIR TABLE) works
    against it — the engine's Glue-crawler equivalent."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    df = spark.read.parquet(path)
    partitioned = f"PARTITIONED BY ({partition_col})" if partition_col else ""
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields
        if partition_col is None or f.name != partition_col)
    if partition_col:
        pcol_type = dict((f.name, f.dataType.simpleString())
                         for f in df.schema.fields)[partition_col]
        partitioned = f"PARTITIONED BY (`{partition_col}` {pcol_type})"
    spark.sql(f"CREATE TABLE {name} ({cols}) USING parquet {partitioned} "
              f"LOCATION '{path}'")
    if partition_col:
        spark.sql(f"MSCK REPAIR TABLE {name}")


def show_partitions(spark: SparkSession, name: str) -> DataFrame:
    """S12 — ``SHOW PARTITIONS`` (``README.md:77``)."""
    return spark.sql(f"SHOW PARTITIONS {name}")


def scan_csv(spark: SparkSession, path: str, schema=None,
             header: bool = True) -> DataFrame:
    """CSV source. Schema should be explicit at scale — inference
    re-reads the data (a full extra pass at 100 TB)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def scan_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source; explicit schema avoids the inference pass and
    pins field types (inference widens to string on conflict)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def scan_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning properties as parquet
    (vectorized reader, predicate pushdown, column pruning); included
    so a lake standardized on ORC can run every operator unchanged."""
    return spark.read.orc(path)
