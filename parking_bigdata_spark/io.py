"""Sources: parquet table loading and a cleaned CSV reader.

The reference ingests CSVs with encoding detection and sentinel-value
cleanup (``/root/reference/20210803_이승하.R:69-97,122-129``). Here the
equivalent is a schema-driven ``spark.read.csv`` plus a declarative
sentinel-null cleaning pass that stays entirely inside Catalyst codegen
(no UDFs), and plain parquet scans for the driver-provided tables.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Default sentinel strings the reference maps to NULL ("" and "-",
#: see 20210803_이승하.R:122-129).
DEFAULT_SENTINELS = ("", "-", "NA", "N/A", "null")


#: Session confs that change what parquet schema inference returns,
#: beyond the three ``load_table`` sets itself; their values are part of
#: every memo key, so a session that sets them differently infers anew.
_INFER_CONFS = ("spark.sql.parquet.binaryAsString",
                "spark.sql.parquet.int96AsTimestamp",
                "spark.sql.parquet.mergeSchema")

#: path -> (fingerprint, inferred schema): the only state ``load_table``
#: keeps. One small StructType per distinct local path; never any data.
#: Entries are replaced whole, so concurrent loads need no lock: a load
#: that stores an outdated fingerprint only makes the next load infer.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _fingerprint(path: str) -> tuple | None:
    """``(relative path, inode, size, mtime_ns)`` of every file under
    ``path`` (the file itself when it is one, else a recursive walk that
    follows links as Spark's listing does), sorted. A table rewritten in
    place or replaced by ``os.replace`` therefore gets a new fingerprint.
    ``None`` when the path has no local ``os.stat`` (URIs, remote
    stores, a missing path) or a file under it vanishes mid-walk."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_ino, st.st_size, st.st_mtime_ns),)
        files = []
        for root, _dirs, names in os.walk(path, followlinks=True):
            for name in names:
                f = os.path.join(root, name)
                st = os.stat(f)
                files.append((os.path.relpath(f, path), st.st_ino,
                              st.st_size, st.st_mtime_ns))
        return tuple(sorted(files))
    except OSError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver-generated parquet table.

    Plain parquet scans so Catalyst gets full pushdown/pruning. The
    only thing cached here is the table's SCHEMA, never data — callers
    decide data lifetimes. ``spark.read.parquet`` without a schema runs
    a whole Spark job (``ParquetUtils.inferSchema``) just to read a
    footer; instead, the schema Spark inferred for a path the first
    time is reused with ``spark.read.schema(...)``, which only lists
    files on the driver and runs no job. The memo key is a fingerprint
    of every file under the path (relative path, inode, size, mtime in
    ns) plus the session confs in ``_INFER_CONFS``, so a rewritten or
    replaced table is inferred again. Paths with no local ``os.stat``
    (URIs, remote stores) are inferred on every call.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it scans as a long that we
    convert to a microsecond timestamp (integer ``div`` — nanosecond
    epochs exceed double's exact-integer range, so no float math).

    The two session confs are (re)applied here at runtime because the
    build driver supplies its OWN SparkSession without our builder
    configs: without nanosAsLong the events scan throws
    PARQUET_TYPE_ILLEGAL, and a non-UTC session timezone would shift
    year()/date_trunc() results away from the naive-timestamp oracle.
    Both are runtime-settable SQL confs; setting them is idempotent.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Parquet TIMESTAMP(MICROS) without isAdjustedToUTC would otherwise
    # infer as TIMESTAMP_NTZ (Spark 3.4+), which unix_micros()/window()
    # reject. With the UTC session timezone above, reading it as plain
    # TIMESTAMP yields identical instants to the naive-timestamp oracle.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    fp = _fingerprint(path)
    if fp is not None:
        fp += tuple(spark.conf.get(c, None) for c in _INFER_CONFS)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == fp:
        schema = hit[1]
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        schema = df.schema
        if fp is not None:
            _SCHEMAS[path] = (fp, schema)
    for field in schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # DELIBERATELY no automatic re-layout of single-row-group inputs,
    # although it measurably helps the local bench (a one-row-group
    # parquet scans as ONE task, so pre-shuffle stages run
    # single-threaded; an A/B repartition cut gram/hash-heavy text ops
    # 25-45%): a round-robin exchange reorders FLOAT partial sums, and
    # a 4-dp-rounded aggregate sitting on a half-tick then flips vs the
    # single-order DuckDB oracle (observed: q1_pricing_summary
    # hash-mismatch). The oracle contract outranks local scan
    # parallelism — at production scale inputs shard by row group and
    # the bottleneck doesn't exist. Operators whose downstream math is
    # integer/hash-exact opt in explicitly (trees._ensure_parallel).
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All tables as a dict — the engine's 'catalog' for one scale factor."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def clean_sentinel_numeric(df: DataFrame, cols: list[str],
                           sentinels: tuple[str, ...] = DEFAULT_SENTINELS,
                           target_type: str = "double") -> DataFrame:
    """Sentinel strings → NULL, then cast — the reference's 임대보증금/임대료
    cleanup (20210803_이승하.R:122-129) as a pure-Catalyst expression.

    `when().otherwise().cast()` compiles into whole-stage codegen; at
    100 TB this adds zero extra passes over the data.
    """
    out = df
    for c in cols:
        cleaned = F.when(F.trim(F.col(c)).isin(*sentinels), None) \
                   .otherwise(F.col(c))
        out = out.withColumn(c, cleaned.cast(target_type))
    return out


def write_partitioned_parquet(df: DataFrame, path: str,
                              partition_by: list[str],
                              sort_by: list[str] | None = None,
                              mode: str = "overwrite") -> None:
    """Partitioned parquet sink (the engine's durable output format).

    ``partitionBy`` gives downstream readers partition pruning;
    ``sortWithinPartitions`` keeps row groups clustered so min/max
    parquet statistics stay selective — both are what make the NEXT
    100 TB query cheap, which is the real job of a sink.
    """
    out = df.sortWithinPartitions(*sort_by) if sort_by else df
    out.write.mode(mode).partitionBy(*partition_by).parquet(path)


def write_bucketed_table(df: DataFrame, table: str, bucket_by: str,
                         n_buckets: int = 16,
                         mode: str = "overwrite") -> None:
    """Bucketed parquet table (saveAsTable) — pre-shuffles once at write
    time so every later equi-join/aggregation on ``bucket_by`` is
    shuffle-free (Catalyst sees the bucketing and drops the Exchange).
    The classic amortization for fact tables joined repeatedly on the
    same key at 100 TB.
    """
    (df.write.mode(mode)
       .bucketBy(n_buckets, bucket_by)
       .sortBy(bucket_by)
       .format("parquet")
       .saveAsTable(table))


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink with header, UTF-8 — mirrors the reference's
    ``write.csv(fileEncoding='UTF-8')`` export (R:1005-1010)."""
    df.write.mode(mode).option("header", "true").csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source. An explicit schema skips the whole-file
    inference pass — mandatory at scale; inference is for exploration."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (one object per row, splittable downstream)."""
    df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source. ORC carries its schema and per-stripe min/max
    statistics, so scans get the same pushdown/pruning treatment as
    parquet (predicate pushdown is on by default via
    ``spark.sql.orc.filterPushdown``)."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None,
              mode: str = "overwrite") -> None:
    """ORC sink — the columnar alternative for Hive-ecosystem consumers;
    supports the same partition layout as the parquet sink."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_clean_csv(spark: SparkSession, path: str, schema=None,
                   numeric_sentinel_cols: list[str] | None = None,
                   renames: dict[str, str] | None = None,
                   encoding: str = "UTF-8") -> DataFrame:
    """CSV source with the reference's full ingest pipeline:
    header, optional explicit schema (no sampling pass at scale),
    sentinel-null cleaning, and column renaming (R:133-139).

    ``encoding`` passes through to Spark's CSV reader — the reference
    guesses UTF-8 vs EUC-KR before reading its Korean-government CSVs
    (R:68-73); pass ``encoding="EUC-KR"`` for those (any charset the
    JVM knows is accepted). Default UTF-8.

    NOTE: for a non-whitelisted charset this sets
    ``spark.sql.legacy.javaCharsets=true`` and the conf STAYS SET for
    the session's lifetime. It cannot be snapshot/restored around this
    call: the returned DataFrame is lazy and CSVOptions re-validates
    the charset against the conf at ACTION time (verified on Spark
    4.1 — restoring before ``.collect()`` fails the read with
    INVALID_PARAMETER_VALUE.CHARSET). The conf only relaxes charset
    validation; it changes no query semantics.
    """
    # Spark 4 whitelists exactly {iso-8859-1, us-ascii, utf-16,
    # utf-16be, utf-16le, utf-32, utf-8} (utf-32be/utf-32le are NOT
    # whitelisted); anything else (EUC-KR included) needs the
    # documented javaCharsets escape hatch — a runtime SQL conf,
    # flipped only by sessions that actually read such files.
    if encoding.lower() not in {"utf-8", "utf-16", "utf-16be", "utf-16le",
                                "utf-32", "us-ascii", "iso-8859-1"}:
        spark.conf.set("spark.sql.legacy.javaCharsets", "true")
    reader = (spark.read.option("header", "true")
              .option("encoding", encoding))
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    df = reader.csv(path)
    if renames:
        for old, new in renames.items():
            df = df.withColumnRenamed(old, new)
    if numeric_sentinel_cols:
        df = clean_sentinel_numeric(df, numeric_sentinel_cols)
    return df


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro source — gated: spark-avro is an external module (not on the
    classpath in this container). Fails with a clear message instead of
    Spark's generic ClassNotFound."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as ex:  # pragma: no cover - depends on deployment
        raise NotImplementedError(
            "Avro requires the spark-avro package on the classpath "
            "(--packages org.apache.spark:spark-avro_2.13:<version>); "
            f"not available in this deployment: {ex}") from ex


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Avro sink — same classpath gate as `read_avro`."""
    try:
        df.write.format("avro").mode(mode).save(path)
    except Exception as ex:  # pragma: no cover - depends on deployment
        raise NotImplementedError(
            "Avro requires the spark-avro package on the classpath; "
            f"not available in this deployment: {ex}") from ex


def write_sorted_parquet(df: DataFrame, path: str, sort_cols: list[str],
                         num_files: int | None = None) -> None:
    """Cluster-the-data layout: range-partition on ``sort_cols`` then
    sort within each partition before writing.

    Every output file then covers a NARROW, non-overlapping range of the
    sort key, so parquet row-group min/max statistics let point/range
    scans skip whole files (the poor man's Z-order for one dimension —
    the layout lever that turns a 100 TB full scan into a handful of
    row groups). ``repartitionByRange`` samples the key distribution, so
    skew in the sort key yields balanced files anyway.
    """
    # INT96 timestamps carry no min/max statistics — force MICROS so the
    # layout actually prunes (runtime conf: the driver's own session may
    # not have our builder configs).
    df.sparkSession.conf.set("spark.sql.parquet.outputTimestampType",
                             "TIMESTAMP_MICROS")
    d = df.repartitionByRange(*( [num_files] if num_files else [] ),
                              *[F.col(c) for c in sort_cols])
    (d.sortWithinPartitions(*sort_cols)
      .write.mode("overwrite").parquet(path))


def compact_parquet(spark: SparkSession, path: str, out_path: str,
                    target_file_mb: int = 128) -> int:
    """Small-file compaction: rewrite a dataset into ~``target_file_mb``
    files. Streaming sinks and per-batch writers fragment datasets into
    thousands of tiny files; scan throughput at scale is gated on file
    count (driver listing + per-file open cost), so periodic compaction
    is part of any production pipeline. Returns the file count written.
    """
    import glob
    import os
    src_bytes = sum(os.path.getsize(p)
                    for p in glob.glob(os.path.join(path, "**", "*.parquet"),
                                       recursive=True))
    n_files = max(1, round(src_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    # coalesce, not repartition: merging files needs no shuffle
    df.coalesce(n_files).write.mode("overwrite").parquet(out_path)
    return n_files


def write_zorder_parquet(df: DataFrame, path: str, col_a: str, col_b: str,
                         bits: int = 16, num_files: int | None = None) -> None:
    """Z-order (Morton curve) layout for TWO pruning dimensions.

    ``write_sorted_parquet`` clusters one key; filters on any other
    column still scan every file. Here both columns are rescaled to
    ``bits``-bit integer ranks (min/max from one tiny agg) and their
    bits interleaved into a single Morton key; range-partitioning +
    sorting on that key makes every output file cover a small RECTANGLE
    in (a, b) space, so parquet row-group min/max statistics prune
    scans filtered on EITHER column. This is the layout trick behind
    Delta/Iceberg Z-ordering, expressed in pure Spark bit arithmetic
    (stays in whole-stage codegen — no UDF).
    """
    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)).first()
    scale = (1 << bits) - 1

    def to_rank(c: str, lo, hi):
        span = float(hi - lo) or 1.0
        r = F.floor((F.col(c) - F.lit(lo)) / F.lit(span) * scale)
        return F.least(F.greatest(r, F.lit(0)), F.lit(scale)).cast("long")

    ra, rb = to_rank(col_a, lo_a, hi_a), to_rank(col_b, lo_b, hi_b)
    morton = F.lit(0).cast("long")
    for i in range(bits):
        bit_a = F.shiftright(ra, i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(rb, i).bitwiseAND(F.lit(1))
        morton = morton.bitwiseOR(F.shiftleft(bit_a, 2 * i + 1)) \
                       .bitwiseOR(F.shiftleft(bit_b, 2 * i))
    d = df.withColumn("__zkey", morton)
    d = d.repartitionByRange(*([num_files] if num_files else []),
                             F.col("__zkey"))
    (d.sortWithinPartitions("__zkey").drop("__zkey")
      .write.mode("overwrite").parquet(path))
