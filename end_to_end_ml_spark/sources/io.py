"""Sources & sinks (reference S1/S2/S5/S6: parquet scan+sink, JSON ingest,
CSV sink — src/feature/generate_initial_data.py:57,126-129;
src/inference/api_server.py:150-158).

Spark-first: ``spark.read.parquet`` gives columnar scan with predicate
pushdown + column pruning from Catalyst; nothing manual to do. Writers default
to overwrite-mode parquet, matching the reference's ``to_parquet`` semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TESTDATA_TABLES = (
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


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the ``events.ts`` column to a session-TZ TIMESTAMP whatever
    the parquet encoding surfaced as. Encodings seen across Spark versions:

    - ``timestamp_ntz`` (PySpark 4.1 reads TIMESTAMP(NANOS, isAdjustedToUTC=
      false) this way, truncated to µs): cast to TIMESTAMP — the session TZ
      is pinned UTC, so this is a pure type-tag change with identical
      semantics to DuckDB's naive-UTC reading of the same file.
    - ``bigint`` (older behavior under ``nanosAsLong``): raw nanoseconds →
      µs timestamps via ``timestamp_micros(ts div 1000)``, the same
      truncation DuckDB applies casting ns → its µs-native TIMESTAMP.
    - ``timestamp`` already: pass through.

    Anything else raises — a wrong-unit timestamp must be an error, never a
    silent scale factor."""
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        return df
    if dtype == "timestamp":
        return df
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if dtype == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    raise TypeError(
        f"events.{col} has unsupported dtype {dtype!r}; expected "
        "timestamp, timestamp_ntz, or bigint (nanos-as-long)"
    )


# (session id, sf_dir, table) -> scan DataFrame. A DataFrame is an immutable
# lazy plan, so handing the same object to every caller is safe; re-resolving
# the scan per call costs a driver round of file-listing + footer/schema RPCs
# (~50-100 ms — 20-40% of a sub-second query's wall time at bench scale).
#
# ASSUMPTION: the table directories are immutable while cached — the
# memoized relation pins its file listing at first resolution. Every sink
# in this module calls invalidate_scan_cache(path) so a write back into a
# cached directory drops the stale entries; out-of-band rewrites need a
# manual invalidate_scan_cache() call.
_SCAN_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def invalidate_scan_cache(path: str | None = None) -> int:
    """Drop memoized scans. With ``path``, drop only entries whose resolved
    table file/dir overlaps that path (either is a prefix of the other);
    without, clear everything. Returns the number of entries dropped —
    callers writing into a scanned directory get stale-read protection,
    and long-lived sessions get an unbounded-growth escape hatch."""
    if path is None:
        n = len(_SCAN_CACHE)
        _SCAN_CACHE.clear()
        return n
    norm = os.path.abspath(path)
    doomed = []
    for key in _SCAN_CACHE:
        table_path = os.path.abspath(os.path.join(key[1], f"{key[2]}.parquet"))
        if table_path.startswith(norm) or norm.startswith(table_path):
            doomed.append(key)
    for key in doomed:
        del _SCAN_CACHE[key]
    return len(doomed)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table (parquet). Catalyst pushes filters/projections into
    the scan, so callers should chain ``.select``/``.filter`` lazily.

    The ``events.ts`` column is normalized to TIMESTAMP regardless of how
    the parquet TIMESTAMP(NANOS) physical type surfaces in this Spark
    version (see :func:`normalize_event_ts`).

    The resolved scan is memoized per (session, dir, table): repeated
    queries over the same table reuse one analyzed relation instead of
    re-listing files and re-reading footers on the driver each call."""
    key = (id(spark), sf_dir, name)
    cached = _SCAN_CACHE.get(key)
    if cached is not None:
        return cached
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    _SCAN_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TESTDATA_TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names=TESTDATA_TABLES) -> None:
    """Register every table as a temp view so the FULL Spark SQL surface is
    available over the dataset (``spark.sql("SELECT ... FROM lineitem
    JOIN ...")``) — same normalization (events.ts) as load_table, so SQL
    and DataFrame queries see identical data. Views are lazy: registering
    costs nothing until a query scans them."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Parquet sink (reference S2). ``partition_by`` enables partition pruning
    for downstream time/key-filtered scans at scale."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    invalidate_scan_cache(path)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A driver-built table (tuple or dict rows; ``StructType`` or DDL
    schema) as a JVM-only ``LocalRelation``: every driver-built frame in the
    package goes through here.

    ``createDataFrame`` on Python rows builds a ``LogicalRDD`` over a Python
    RDD, so its first action starts the Python worker pool (the
    ``pyspark.daemon`` fork plus one worker per core) only to unpickle a
    few rows: 2.35 s against 0.71 s for the first action in a fresh
    session on a 4-core host. An Arrow table is handed to the
    JVM whole and runs no Python on executors; a plan of deterministic
    expressions over it is folded on the driver (``ConvertToLocalRelation``)
    and its collect launches no job.

    Each row is checked against the schema as ``createDataFrame`` does by
    default, so a wrong-typed value raises the same ``TypeError`` rather
    than being coerced by Arrow."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType, _make_type_verifier

    struct = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    verify = _make_type_verifier(struct)
    cols: list[list] = [[] for _ in struct.names]
    for row in rows:
        verify(row)
        values = [row.get(n) for n in struct.names] if isinstance(row, dict) else row
        for col, v in zip(cols, values):
            col.append(v)
    arrow = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def ingest_json_records(spark: SparkSession, records, schema) -> DataFrame:
    """JSON record ingest for serving (reference S5,
    src/inference/api_server.py:150-158): dict or list[dict] → DataFrame with
    an explicit schema (never inferred — serving schemas are contracts)."""
    if isinstance(records, dict):
        records = [records]
    return local_frame(spark, records, schema)


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """CSV sink (reference S6: Optuna trials log, study_logger.py:43-50).
    Tiny driver-adjacent tables (trial logs, metric frames) — still written
    through the distributed writer so the same call works at any size."""
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)
    invalidate_scan_cache(path)


def latest_per_key(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    feature_cols: list[str] | None = None,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """The pure relational core of the online-store export: newest row per
    entity key (window partitioned by key — distributed, no global sort),
    deterministic under ts ties via ``tiebreak_cols``."""
    keys = list(key_cols)
    cols = (
        [*keys, ts_col, *feature_cols] if feature_cols is not None else df.columns
    )
    order = [F.col(ts_col).desc()] + [
        F.col(c).desc() for c in (tiebreak_cols or [])
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.select(*cols)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def deterministic_shard(col, n_hex: int = 1):
    """Stable, engine-independent shard key for a row id: the first
    ``n_hex`` hex chars of md5(id) — 16^n_hex shards, uniform for any id
    distribution, reproducible across engines/runs (unlike
    hash()/xxhash64, whose values are engine-specific — same idiom as the
    deterministic sampler, operators/split.py)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.md5(c.cast("string")), 1, n_hex)
