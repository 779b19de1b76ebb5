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

from ..materialize import persist

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


def ingest_json_records(spark: SparkSession, records, schema) -> DataFrame:
    """JSON record ingest for serving (reference S5,
    src/inference/api_server.py:150-158): dict or list[dict] → DataFrame with
    an explicit schema (never inferred — serving schemas are contracts)."""
    if isinstance(records, dict):
        records = [records]
    return spark.createDataFrame(records, schema=schema)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink (secondary columnar format — Spark bundles the reader/writer;
    same predicate-pushdown + column-pruning behavior as parquet, verified
    by the round-trip test). Useful when a downstream consumer is
    Hive/ORC-native."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)
    invalidate_scan_cache(path)


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """CSV sink (reference S6: Optuna trials log, study_logger.py:43-50).
    Tiny driver-adjacent tables (trial logs, metric frames) — still written
    through the distributed writer so the same call works at any size."""
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)
    invalidate_scan_cache(path)


def export_online_store(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    path: str,
    feature_cols: list[str] | None = None,
    num_buckets: int = 64,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Online-store export (the engine's stand-in for the reference's Feast
    online materialization, src/feature/feature_repo/define_feature.py):
    keep the LATEST feature row per entity key and write it bucketed by
    key hash so a serving layer can address one file per key.

    Shape at 100 TB: latest-per-key is one window partitioned by the key
    (no global sort), the sink partitions on pmod(hash(key), buckets) so
    point lookups touch one directory; re-exports overwrite only changed
    buckets via dynamic partition overwrite. Returns the exported frame
    (also the oracle surface: latest-per-key is plain SQL)."""
    keys = list(key_cols)
    latest = latest_per_key(df, keys, ts_col, feature_cols, tiebreak_cols)
    bucketed = latest.withColumn(
        "__bucket", F.pmod(F.xxhash64(*keys), F.lit(num_buckets))
    )
    (
        bucketed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket")
        .parquet(path)
    )
    invalidate_scan_cache(path)
    return latest


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


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed managed-table sink: hashes rows into ``num_buckets`` files
    per partition on the bucket key at write time, so downstream equi-joins
    and aggregations on that key are co-located and run WITHOUT a shuffle
    (both sides bucketed by the same key/count → zero Exchange in the plan).
    The 100 TB lever for fact⋈fact joins repeated across many queries —
    pay the shuffle once at ingest, never again."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table_name)


def write_parquet_observed(
    df: DataFrame,
    path: str,
    count_null_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> dict:
    """Instrumented parquet sink: writes AND returns dataset stats from the
    same single pass using Spark's ``Observation`` API (``df.observe``) —
    no second scan for row counts / null audits of what was just written.
    At 100 TB that saves a full re-read; the observed aggregates piggyback
    on the write tasks and merge on the driver.

    Known Spark 4.1 caveat: Observation leaves the owning SESSION's
    ObservationManager reachable from later closure serialization —
    subsequent MLlib fits in the same session can fail with
    NotSerializableException. Call this from a dedicated child session
    (``spark.newSession()`` — shares the SparkContext) when the pipeline
    continues with closure-serializing work afterwards.

    Returns {"n_rows": ..., "null_<col>": ... } for each requested col."""
    from pyspark.sql import Observation

    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in count_null_cols or []:
        metrics.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"null_{c}")
        )
    obs = Observation("write_stats")
    observed = df.observe(obs, *metrics)
    writer = observed.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    invalidate_scan_cache(path)
    return obs.get


def deterministic_shard(col, n_hex: int = 1):
    """Stable, engine-independent shard key for a row id: the first
    ``n_hex`` hex chars of md5(id) — 16^n_hex shards, uniform for any id
    distribution, reproducible across engines/runs (unlike
    hash()/xxhash64, whose values are engine-specific — same idiom as the
    deterministic sampler, operators/split.py)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.md5(c.cast("string")), 1, n_hex)


def export_training_shards(
    df: DataFrame,
    id_col: str,
    path: str,
    n_hex: int = 1,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Training-data export: assign every row a deterministic shard and
    write parquet partitioned by shard, rows sorted within each shard —
    the final step of a pre-training corpus pipeline (reader frameworks
    want stable shard membership + stable within-shard order so a resumed
    job sees identical batches).

    Scale: one shuffle (repartition on shard) + in-partition sort; 16^n_hex
    output directories each written by its own tasks. Returns the sharded
    frame (shard column included) for stats/verification."""
    sharded = df.withColumn("shard", deterministic_shard(id_col, n_hex))
    (
        sharded.repartition(16**n_hex, "shard")
        .sortWithinPartitions("shard", *(sort_cols or [id_col]))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    invalidate_scan_cache(path)
    return sharded


def read_binary_files(
    spark: SparkSession, directory: str, glob: str | None = None
) -> DataFrame:
    """Media-file ingestion via Spark's ``binaryFile`` source: one row per
    file with (path, modificationTime, length, content BINARY) — the entry
    point that feeds operators/multimodal.py (payload_metadata,
    extract_features, resize_payloads). ``glob`` filters by pattern
    (e.g. ``*.jpg``) at LISTING time, before any bytes are read.

    Scale notes: the source parallelizes over files (one task per file
    group); ``spark.sql.files.maxPartitionBytes`` does not split a single
    binary (a file is one row), so shard huge media into per-object files
    upstream. Driver-side listing of millions of objects is the real
    bottleneck at 100 TB — point this at partitioned prefixes, not one
    flat directory."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(directory)


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-tolerant parquet read: ``mergeSchema`` unions the
    footers of every file under ``path`` so batches written before a column
    existed surface it as NULL instead of silently dropping it (Spark's
    default takes ONE footer — a pre-evolution file picked first hides the
    new column for the whole read). Footer merging scans metadata only; at
    100 TB prefer a table format (Delta/Iceberg) or a pinned explicit
    schema, and treat this as the migration-window read path."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def compact_small_files(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_mb: int = 128,
) -> int:
    """Small-files compaction: rewrite a fragmented parquet dataset into
    ~``target_file_mb`` files (the classic ingest-side fix — thousands of
    KB-sized micro-batch outputs destroy scan parallelism bookkeeping and
    driver listing time at scale). File count derives from the dataset's
    ACTUAL on-disk bytes, not a row-count guess; coalesce (no shuffle)
    because compaction must not pay a network pass just to concatenate.
    Returns the number of files written."""
    import os

    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    n_files = max(1, -(-total // (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    df.coalesce(n_files).write.mode("overwrite").parquet(out_path)
    return n_files


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
) -> None:
    """Z-ORDER clustered parquet write: interleave the bits of two
    16-bit-quantized columns into a Morton code, range-partition and sort
    by it, and write — so each output file covers a small rectangle of
    the (a, b) value space and parquet row-group/file min-max stats prune
    scans filtered on EITHER column (the Delta/Iceberg OPTIMIZE ZORDER
    mechanism, expressed with stock Spark: width_bucket quantization +
    shiftleft/shiftright bit-interleave + repartitionByRange).

    Quantization is linear between the column's observed min/max (one tiny
    agg, broadcast as literals via crossJoin) — the honest simplification
    vs rank-based quantization; heavily skewed columns cluster less
    evenly but never incorrectly, since Z-order only affects LAYOUT.
    All expressions are JVM bit ops — no Python, one range shuffle."""
    stats = df.agg(
        F.min(F.col(col_a).cast("double")).alias("__amin"),
        F.max(F.col(col_a).cast("double")).alias("__amax"),
        F.min(F.col(col_b).cast("double")).alias("__bmin"),
        F.max(F.col(col_b).cast("double")).alias("__bmax"),
    )
    staged = df.crossJoin(F.broadcast(stats))

    def q16(c, lo, hi):
        # width_bucket yields 1..65536 over [lo, hi]; degenerate ranges
        # (lo == hi) quantize to 0
        return F.when(
            F.col(hi) > F.col(lo),
            F.width_bucket(
                F.col(c).cast("double"), F.col(lo), F.col(hi), F.lit(65535)
            )
            - 1,
        ).otherwise(F.lit(0)).cast("long")

    a16 = q16(col_a, "__amin", "__amax")
    b16 = q16(col_b, "__bmin", "__bmax")
    morton = F.lit(0).cast("long")
    for i in range(16):
        abit = F.shiftright(a16, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b16, i).bitwiseAND(F.lit(1))
        morton = morton.bitwiseOR(F.shiftleft(abit, 2 * i)).bitwiseOR(
            F.shiftleft(bbit, 2 * i + 1)
        )
    (
        staged.withColumn("__z", morton)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", "__amin", "__amax", "__bmin", "__bmax")
        .write.mode("overwrite")
        .parquet(path)
    )


def parquet_file_stats(path: str) -> dict:
    """File-level layout stats of a parquet dataset on a local filesystem:
    {n_files, total_bytes, min_bytes, max_bytes}. The input to a
    compaction decision — a table with thousands of KB-sized files wastes
    a scheduler task + an open/seek per file at read time (the classic
    small-files problem of streaming/incremental sinks).

    LOCAL PATHS ONLY: sizing walks the OS filesystem, so a remote URI
    (s3://, hdfs://) that spark.read.parquet would accept is rejected
    loudly here instead of silently reporting 0 files (remote sizing
    belongs to the Hadoop FileSystem API, not os.walk)."""
    import os
    import re

    # Any scheme-prefixed form is parsed, not just '://' (Hadoop accepts
    # the single-slash 'file:/x' too — the round-7 review caught that it
    # slipped past the first guard and silently walked nothing). file
    # URIs resolve to their path component; anything else — including a
    # file URI with a non-local host — is rejected loudly. The URI test
    # is PURELY SYNTACTIC: scheme + ':' + '/' (every Hadoop URI form —
    # 's3://b', 'hdfs://nn/x', 'file:/x' — has a slash right after the
    # colon, while a legal local name like 'data:v2/table' does not).
    # Round-8 ADVICE: the previous `not os.path.exists(path)` escape made
    # the guard depend on filesystem state — a directory literally named
    # 'hdfs:' in cwd would have turned a remote URI into a silent local
    # walk.
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:/", path):
        from urllib.parse import urlparse

        parsed = urlparse(path)
        if parsed.scheme != "file" or parsed.netloc not in ("", "localhost"):
            raise ValueError(
                f"parquet_file_stats/compact_parquet size via the local "
                f"filesystem; got non-local path {path!r}"
            )
        path = parsed.path

    sizes = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                sizes.append(os.path.getsize(os.path.join(root, f)))
    if not sizes:
        return {"n_files": 0, "total_bytes": 0, "min_bytes": 0, "max_bytes": 0}
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "min_bytes": min(sizes),
        "max_bytes": max(sizes),
    }


def compact_parquet(
    spark,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Compact a small-files parquet dataset into ~target-sized files (the
    Delta/Iceberg OPTIMIZE bin-packing step, expressed with stock Spark):
    size the output file count from the dataset's actual bytes
    (ceil(total/target), floor 1), then rewrite through a round-robin
    ``repartition(n)`` — an O(N) shuffle that yields evenly sized files,
    which matters more for downstream scan parallelism than preserving
    any accidental input order. Row content is unchanged (contract:
    compaction is a LAYOUT operation; tests assert count and content
    equality).

    Writes to ``dst`` rather than in place: an in-place overwrite that
    fails mid-write destroys the source — the caller swaps directories
    after success (the same reason table formats commit new files then
    flip a manifest). Returns {before, after} file stats."""
    if target_file_bytes <= 0:
        raise ValueError("target_file_bytes must be positive")
    before = parquet_file_stats(src)
    if before["n_files"] == 0:
        raise ValueError(f"compact_parquet: no parquet files under {src}")
    n_out = max(1, -(-before["total_bytes"] // int(target_file_bytes)))
    df = spark.read.parquet(src)
    df.repartition(n_out).write.mode("overwrite").parquet(dst)
    return {"before": before, "after": parquet_file_stats(dst), "n_target": n_out}


def read_binary_assets(spark, path: str, glob: str | None = None):
    """Multimodal asset ingestion via Spark's built-in ``binaryFile``
    source: one row per file with (path, modificationTime, length,
    content) — the actual on-ramp for image/audio/video payloads that the
    multimodal operators (operators/multimodal.py) process as opaque
    binary columns. ``glob`` filters by pattern (e.g. ``*.jpg``) INSIDE
    the reader via pathGlobFilter, so non-matching files are never opened.

    Scale notes: binaryFile is non-splittable (one task per file — correct
    for media, where a file IS the record); Spark caps per-file size via
    spark.sql.sources.binaryFile.maxLength (2 GB default). Derives a
    deterministic ``asset_id`` = md5 of the path (stable across re-reads,
    unlike any row-order id) and ``ext`` from the filename."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    from pyspark.sql import functions as F

    return df.select(
        F.md5(F.col("path")).alias("asset_id"),
        F.col("path"),
        F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1).alias("ext"),
        F.col("length"),
        F.col("modificationTime").alias("modified_at"),
        F.col("content"),
    )


def read_text_corpus(spark, path: str, glob: str | None = None):
    """Raw text-line corpus ingestion (the LLM on-ramp for *.txt / one-
    doc-per-line dumps): Spark's built-in ``text`` source, one row per
    line, with file provenance (``input_file_name``) and a deterministic
    content-derived ``doc_id`` = md5(line). Identical lines therefore
    share an id BY CONTRACT — exact duplicates are the first thing a
    corpus pipeline removes anyway (d1), and a content id is the only row
    identity that is stable across re-reads, splits, and file moves
    (line numbers are not a distributed concept on splittable text).
    Empty lines are dropped. Splittable source: big files parallelize by
    range, unlike binaryFile."""
    from pyspark.sql import functions as F

    reader = spark.read
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.text(path)
    return (
        df.filter(F.length(F.trim("value")) > 0)
        .select(
            F.md5(F.col("value")).alias("doc_id"),
            F.input_file_name().alias("file"),
            F.col("value").alias("text"),
        )
    )


def read_jsonl_quarantine(spark, path: str, schema: str):
    """Error-tolerant JSON-lines ingest: PERMISSIVE mode with an explicit
    ``_corrupt_record`` column splits the stream into (good, quarantined)
    — the production ingest contract where one malformed producer line
    must neither kill the job (FAILFAST) nor vanish silently (DROPMALFORMED).
    Returns (good_df without the corrupt column, bad_df of raw corrupt
    lines). The schema is caller-declared — schema inference over corrupt
    data is the bug this helper exists to avoid. Note Spark requires the
    corrupt column to be part of the declared schema; it is appended
    here, callers pass only their data columns.

    Cache note: the parsed frame is persisted (Spark disallows filtering
    on only the corrupt column of an unmaterialized json scan,
    SPARK-21610) and BOTH returned frames read through that cache; after
    materializing/writing both sides, callers ingesting huge files should
    release it (``good.unpersist()`` reaches the shared parent, or
    ``spark.catalog.clearCache()``)."""
    from pyspark.sql import functions as F

    full_schema = schema + ", _corrupt_record STRING"
    # Spark requires materialization before filtering on the corrupt
    # column (SPARK-21610: referencing only the corrupt column of an
    # unmaterialized json scan is disallowed)
    df, _ = persist(
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return good, bad
