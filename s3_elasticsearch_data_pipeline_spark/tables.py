"""Test-data catalog: load the driver-generated parquet tables.

The reference reads one logical table through a Glue catalog
(``data-s3-elastic-transfer.py:95-99``); our engine's equivalent is
plain ``spark.read.parquet`` + temp-view registration, which gives
Catalyst full pushdown/pruning visibility (SURVEY.md §1.4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from s3_elasticsearch_data_pipeline_spark import storage

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Columns that MAY be stored as parquet TIMESTAMP(NANOS) — Spark's
# reader rejects nanos natively; with ``nanosAsLong`` they surface as
# long and we convert to microsecond timestamps (identical to DuckDB's
# ns→µs truncation). Newer generator versions write plain µs
# timestamps, which arrive as TimestampType already — handled
# adaptively below so both layouts load identically.
NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


#: Session confs that change what parquet schema inference returns for
#: one file; part of every :data:`_SCHEMA_CACHE` key.
_SCHEMA_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)

#: (qualified path, length, mtime, inference confs) → inferred
#: StructType. Inferring a parquet schema runs one Spark job per read;
#: a file with the same (length, mtime) has the same footer, so later
#: loads pass the memoized schema instead (the :data:`_ROW_GROUP_CACHE`
#: argument). Keyed on the Hadoop ``FileStatus``, so it holds for any
#: Hadoop-FS URI (``file://``, ``s3a://``), not only bare local paths.
#: Two racing first loads of one file both infer and store the same
#: schema, so the memo needs no lock.
_SCHEMA_CACHE: dict[tuple, StructType] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """Memo key of a parquet FILE, or None for a directory or a path
    the FileSystem cannot stat (the plain read then raises as before)."""
    status = storage.file_status(spark, path)
    if status is None:
        return None
    confs = tuple(spark.conf.get(c, None) for c in _SCHEMA_INFERENCE_CONFS)
    return status + (confs,)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a file's schema once per
    (file version, inference confs) — see :data:`_SCHEMA_CACHE`."""
    key = _schema_key(spark, path)
    schema = _SCHEMA_CACHE.get(key) if key is not None else None
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _SCHEMA_CACHE[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    nanos_cols = NANOS_TS_COLS.get(name, ())
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, table_path(sf_dir, name))
    dtypes = dict(df.dtypes)
    for c in nanos_cols:
        if dtypes.get(c) == "bigint":
            # integer div — a float division would round the µs up at
            # ns magnitudes (double has 53 mantissa bits, ns epochs
            # need 61)
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtypes.get(c) == "timestamp_ntz":
            # session tz is pinned to UTC (session.py), so this cast is
            # wall-clock-preserving; keeps one TimestampType everywhere
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


#: (path, size, mtime) → row-group count; parquet footers are immutable
#: for a given (size, mtime), so entries never go stale. The same
#: argument keys :data:`_SCHEMA_CACHE`, the inferred-schema memo of
#: :func:`load_table`.
_ROW_GROUP_CACHE: dict[tuple[str, int, float], int] = {}


_SIZE_SUFFIXES = (("tb", 1024 ** 4), ("gb", 1024 ** 3), ("mb", 1024 ** 2),
                  ("kb", 1024), ("t", 1024 ** 4), ("g", 1024 ** 3),
                  ("m", 1024 ** 2), ("k", 1024), ("b", 1))


def _parse_size_bytes(value, default: int) -> int:
    """Spark byte-size conf value → bytes. Accepts plain integers and
    the k/m/g/t (or kb/mb/gb/tb) suffixes Spark itself accepts —
    '128m'-style values used to raise and silently fall back."""
    try:
        s = str(value).strip().lower()
        mult = 1
        for suffix, m in _SIZE_SUFFIXES:
            if s.endswith(suffix):
                s, mult = s[:-len(suffix)], m
                break
        return int(float(s) * mult)
    except (ValueError, TypeError):
        return default


def _packed_scan_partitions(file_infos: list[tuple[int, int]],
                            max_partition_bytes: int,
                            open_cost_bytes: int,
                            parallelism: int) -> int:
    """Mirror of Spark's ``FilePartition`` planning over
    ``(file_bytes, row_groups)`` pairs → number of scan partitions that
    carry actual rows.

    Spark first derives the split size
    (``FilePartition.maxSplitBytes``)::

        totalBytes    = Σ (fileSize + openCostInBytes)
        maxSplitBytes = min(maxPartitionBytes,
                            max(openCostInBytes, totalBytes / parallelism))

    then slices each file into byte ranges of ``maxSplitBytes`` and
    bin-packs the slices (sorted by size, descending) into partitions,
    closing a bin when the next slice would overflow, with each packed
    slice padded by ``openCostInBytes``. Parquet rows land in the
    slice containing their row group's midpoint, so a file contributes
    rows to at most ``row_groups`` of its slices — slices beyond that
    are planned but empty, hence the work-bearing-bin count, which is
    what a repartition decision should compare against cores.
    """
    total = sum(size + open_cost_bytes for size, _ in file_infos)
    max_split = max(1, min(max_partition_bytes,
                           max(open_cost_bytes,
                               total // max(parallelism, 1))))
    pieces: list[tuple[int, bool]] = []
    for size, row_groups in file_infos:
        n = max(1, -(-size // max_split))
        for i in range(n):
            piece = max_split if i < n - 1 else size - max_split * (n - 1)
            pieces.append((piece, i < row_groups))
    pieces.sort(key=lambda p: -p[0])
    work_bins = 0
    cur_bytes, cur_work, bin_open = 0, False, False
    for piece, has_work in pieces:
        if bin_open and cur_bytes + piece > max_split:
            work_bins += cur_work
            cur_bytes, cur_work, bin_open = 0, False, False
        cur_bytes += piece + open_cost_bytes
        cur_work = cur_work or has_work
        bin_open = True
    if bin_open:
        work_bins += cur_work
    return work_bins


def _scan_split_estimate(df: DataFrame) -> int | None:
    """Cheaply estimate how many WORK-BEARING tasks the scan stage of
    ``df`` gets, using Spark's own split planning
    (:func:`_packed_scan_partitions`) over driver-side file metadata:
    the plan's ``inputFiles()`` plus a (cached) pyarrow footer read per
    file. Returns None when the estimate isn't cheaply available
    (non-local storage, derived frames) — callers then fall back to the
    exact but costlier ``df.rdd.getNumPartitions()``.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    conf = df.sparkSession.conf
    max_bytes = _parse_size_bytes(
        conf.get("spark.sql.files.maxPartitionBytes", "134217728b"),
        128 * 1024 * 1024)
    open_cost = _parse_size_bytes(
        conf.get("spark.sql.files.openCostInBytes", "4194304b"),
        4 * 1024 * 1024)
    infos: list[tuple[int, int]] = []
    for uri in files:
        if uri.startswith("file:"):
            path = uri[len("file://"):] if uri.startswith("file://") \
                else uri[len("file:"):]
        elif uri.startswith("/"):
            path = uri
        else:
            return None  # remote storage — not worth a driver round-trip
        try:
            st = os.stat(path)
            key = (path, st.st_size, st.st_mtime)
            if key not in _ROW_GROUP_CACHE:
                import pyarrow.parquet as pq
                _ROW_GROUP_CACHE[key] = pq.ParquetFile(path).metadata.num_row_groups
            infos.append((st.st_size, _ROW_GROUP_CACHE[key]))
        except Exception:
            return None
    return _packed_scan_partitions(
        infos, max_bytes, open_cost,
        df.sparkSession.sparkContext.defaultParallelism)


def parallelize_for_compute(df: DataFrame,
                            min_partitions: int | None = None) -> DataFrame:
    """Ensure a frame ENTERING AN EXPENSIVE PER-ROW COMPUTE STAGE
    (tokenization/shingling over full text, regex feature extraction,
    media decode) has at least cluster parallelism.

    Why: Spark splits parquet by row group — a source written as few
    large row groups (or any unsplittable codec) yields fewer input
    partitions than cores, and the projection pipelined into that scan
    stage then runs serially on one task no matter how wide the
    cluster is. At real scale split counts far exceed parallelism and
    this is a no-op; when they don't, one round-robin shuffle of the
    input buys a fully parallel compute stage. Deterministic filters
    and column pruning still push through the repartition to the scan.

    The split-count check itself must be cheap — it runs on the query
    path. For parquet scans it's answered driver-side from file sizes
    + (cached) footer row-group counts; only derived/remote frames pay
    the exact ``.rdd`` materialization.

    Use ONLY in front of genuinely expensive per-row work — cheap
    columnar aggregates are better off without the extra exchange.
    """
    spark = df.sparkSession
    if min_partitions is None:
        min_partitions = spark.sparkContext.defaultParallelism
    splits = _scan_split_estimate(df)
    if splits is None:
        splits = df.rdd.getNumPartitions()
    if splits < min_partitions:
        return df.repartition(min_partitions)
    return df


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Register each table as a temp view so ``spark.sql`` works on the
    same names the DuckDB oracle sees."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
