"""Sources: parquet star-schema tables, plus text/csv/json readers.

The driver fixtures (TESTDATA.md) are one parquet file per table.  At
100 TB each of these would be a partitioned parquet/iceberg dataset; the
reader below is identical for both cases — ``spark.read.parquet`` handles
directory trees, partition pruning and predicate pushdown natively, so no
custom source machinery is warranted.
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
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

# Relation cache: building a parquet relation re-lists files and re-reads
# footers (~100ms per call locally; a full listing RPC storm against object
# storage at 100 TB). Real engines cache this in a catalog/metastore — we
# memoize the lazy DataFrame per (session, dir, table). DataFrames are
# immutable plans, so sharing one across queries is safe.
_relation_cache: dict[tuple[int, str, str], DataFrame] = {}


def invalidate_relation_cache(sf_dir: str | None = None) -> None:
    """Drop cached relations (all, or those under ``sf_dir``).

    Needed after overwriting a table directory in-place within one
    session: the memoized relation pins the old file list, and reading
    it raises FAILED_READ_FILE (same contract as Spark's own cached
    Datasets — "REFRESH TABLE" territory). Writers in this repo always
    write to fresh directories, so this is an escape hatch, not a
    routine call."""
    if sf_dir is None:
        _relation_cache.clear()
        return
    for key in [k for k in _relation_cache if k[1] == sf_dir]:
        del _relation_cache[key]


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Coerce every top-level TIMESTAMP_LTZ column to TIMESTAMP_NTZ,
    preserving the stored parquet instant bit-for-bit.

    The fixtures store naive ``timestamp[us]`` (isAdjustedToUTC=false),
    which DuckDB always reads as a naive TIMESTAMP whose ``epoch_us`` is
    the stored integer. Spark's reading depends on the CALLER's session:
    with ``spark.sql.parquet.inferTimestampNTZ.enabled=false`` (or older
    defaults) the same column arrives as TIMESTAMP_LTZ, and every
    wall-clock expression downstream — date_trunc, hour(), ts::date,
    ts::string — silently re-labels under the session timezone. That is
    the CORRECTNESS_r07 ``events_hierarchical_rollup`` failure signature
    (rows+schema match, hash mismatch, driver env only).

    ``unix_micros`` on LTZ is timezone-independent (it reads the instant
    micros, which for a naive parquet column ARE the stored wall-clock
    micros), and ``timestampadd`` onto an NTZ epoch literal is pure
    integer arithmetic — so this rebase is exact and deterministic under
    ANY session timezone, and a no-op in sessions that already read NTZ.
    NTZ columns make every downstream wall-clock op timezone-free, which
    is the engine's documented semantics (timestamps are civil time, as
    stored)."""
    from pyspark.sql import functions as F

    for fname, ftype in df.dtypes:
        if ftype == "timestamp":  # LTZ; NTZ prints as "timestamp_ntz"
            df = df.withColumn(
                fname,
                F.expr(
                    f"timestampadd(MICROSECOND, unix_micros({fname}), "
                    f"TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Column pruning / filter pushdown happen at
    the scan automatically because this returns the lazy DataFrame.

    The events fixture stores TIMESTAMP(NANOS) which Spark has no native
    type for: read nanos as long (legacy conf) and truncate to
    microseconds — the same conversion DuckDB applies, so both engines
    see identical instants. Session TZ is pinned to UTC so rendered
    timestamps are engine-independent.
    """
    # applicationId (e.g. "local-1699999999999") embeds the session start
    # time, so it is unique per SparkSession lifetime — unlike id(spark),
    # which CPython can reuse for a NEW session after the old one is
    # garbage-collected, handing back DataFrames bound to a dead session.
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _relation_cache.get(key)
    if cached is not None:
        return cached

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        # Fixture stores TIMESTAMP(NANOS) → read as long; but synthetic
        # test tables may already carry a real timestamp column.
        if dict(raw.dtypes).get("ts") == "bigint":
            raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        df = raw
    else:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    df = _normalize_ntz(df)
    if name == "documents":
        # The text table feeds regex/hash-heavy pipelines whose cost is
        # per-character, not per-byte-scanned; make sure that compute is
        # spread across cores even when the file arrives as one split.
        # Done here (cached) so the partition-count probe runs once per
        # session, not once per query plan.
        df = spread(df)
    _relation_cache[key] = df
    return df


def spread(df: DataFrame, factor: int = 1) -> DataFrame:
    """Repartition up to cluster parallelism when the source has too few
    splits for the CPU-heavy expressions that follow (regex tokenise,
    per-shingle hashing, k-gram explode).

    A small parquet file arrives as ONE input partition, serialising all
    pre-shuffle compute onto one core; the round-robin exchange of raw
    rows is cheap relative to that compute. At 100 TB inputs already have
    thousands of splits, so the partition-count guard makes this a no-op
    exactly when the exchange would be expensive."""
    spark = df.sparkSession
    try:
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        shuffle_parts = spark.sparkContext.defaultParallelism
    # Match the session's shuffle width: that is the parallelism the rest
    # of the plan runs at, so spreading wider just adds task overhead.
    target = min(spark.sparkContext.defaultParallelism, shuffle_parts) * factor
    try:
        nparts = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — planning-only helper, never fatal
        return df
    return df.repartition(target) if nparts < target else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All fixture tables as a dict of lazy DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


_view_cache: set[tuple[str, str, str]] = set()


def sql_view(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Register (once per session+sf) a temp view over ``load_table`` and
    return its sf-scoped view name.

    Exists so a query can be BUILT as one ``spark.sql(...)`` round trip:
    a hand-chained DataFrame build of a TPC-H-shaped query costs 25-40
    py4j calls (~0.1-0.2 s of driver latency per build, re-paid on every
    execution because plans are rebuilt per run), while the SQL parse of
    the same plan is a single call (~milliseconds JVM-side). The view
    sits on the SAME memoized DataFrame as ``load_table`` — pushdown,
    column pruning, the events timestamp conversion, and the documents
    spread all apply identically. View names are sf-scoped because one
    session runs several scale dirs (bench warms at sf0.001, times at
    the target sf)."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    tag = "".join(ch if ch.isalnum() else "_" for ch in sf_dir)
    view = f"{name}__{tag}"
    if key not in _view_cache:
        load_table(spark, sf_dir, name).createOrReplaceTempView(view)
        _view_cache.add(key)
    return view


_temp_views = itertools.count()


def temp_view_name(prefix: str) -> str:
    """A process-unique temp-view name, ``__<prefix>_<n>``. One counter
    serves every operator, so two handles can never collide."""
    return f"__{prefix}_{next(_temp_views)}"


def drop_temp_view(spark: SparkSession, name: str) -> None:
    """Best-effort temp-view cleanup. Operators that drop a view before
    their returned DataFrame runs rely on classic-mode eager analysis:
    the DataFrame's plan is already resolved and no longer names the
    view."""
    try:
        spark.catalog.dropTempView(name)
    except Exception:  # noqa: BLE001 — cleanup must never mask results
        pass


def read_csv(spark: SparkSession, path: str, **options) -> DataFrame:
    opts = {"header": "true", "inferSchema": "true"}
    opts.update(options)
    return spark.read.options(**opts).csv(path)


def read_json(spark: SparkSession, path: str, **options) -> DataFrame:
    return spark.read.options(**options).json(path)


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    """ORC columnar source — same predicate-pushdown / column-pruning
    contract as parquet (both flow through the vectorised columnar scan)."""
    return spark.read.options(**options).orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_xml(spark: SparkSession, path: str, row_tag: str = "row",
             **options) -> DataFrame:
    """XML source (built into Spark 4): one row per ``row_tag`` element,
    schema inferred. (Avro, by contrast, ships as an external module not
    deployed in this environment — use parquet/orc for binary columnar.)"""
    return (
        spark.read.format("xml").option("rowTag", row_tag).options(**options).load(path)
    )


def write_xml(df: DataFrame, path: str, row_tag: str = "row",
              mode: str = "overwrite") -> None:
    df.write.mode(mode).format("xml").option("rowTag", row_tag).save(path)


def read_binary_files(spark: SparkSession, path: str,
                      glob: str | None = None) -> DataFrame:
    """Opaque-blob source for multimodal columns: one row per file with
    (path, modificationTime, length, content: binary) — the ingest edge
    for the image/audio operators in operators/multimodal.py, which
    treat media as binary columns + typed metadata.  At scale, set
    ``spark.sql.files.maxPartitionBytes`` so a task holds a bounded
    number of blobs; tiny-file explosions are the real 100 TB risk, so
    production ingest should compact blobs into parquet binary columns
    (write_parquet) after first read — which is exactly what the fixture
    generator does for documents/embeddings."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


def write_tsv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Tab-separated text sink — byte-compatible with the reference's
    TextOutputFormat ``key\\tvalue`` lines (reference WordCount.java:158;
    format evidence report.md:77-90)."""
    from pyspark.sql import functions as F

    cols = [F.col(c).cast("string") for c in df.columns]
    df.select(F.concat_ws("\t", *cols).alias("value")).write.mode(mode).text(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", **options) -> None:
    opts = {"header": "true"}
    opts.update(options)
    df.write.mode(mode).options(**opts).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite", **options) -> None:
    df.write.mode(mode).options(**options).json(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table (hive-style bucketing via saveAsTable).

    The 100 TB join strategy: two fact tables bucketed on their join key
    with the same bucket count join WITHOUT any shuffle — each task reads
    the matching bucket pair (plus, with sort_by, without a sort). One
    write-time shuffle amortised over every subsequent join is the
    classic trade for repeatedly-joined fact tables; at 1000 executors
    it removes the single largest network cost in the pipeline.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view so spark.sql() queries
    run against them by name — the engine's SQL entry point (same names
    the DuckDB oracle uses)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv_strict(spark: SparkSession, path: str, schema: str,
                    mode: str = "PERMISSIVE",
                    corrupt_col: str = "_corrupt_record",
                    **options) -> DataFrame:
    """Schema-enforced CSV ingest with explicit malformed-record policy
    — the ingest hygiene a 100 TB pipeline needs (silent type coercion
    on dirty CSV is how bad rows poison a corpus).

    mode='PERMISSIVE' (default): unparseable rows null out and land
    verbatim in `corrupt_col` for quarantine/audit; 'DROPMALFORMED'
    silently drops them; 'FAILFAST' raises on the first. The corrupt
    column must be declared in the schema for PERMISSIVE capture
    (Spark contract) — this helper appends it automatically.
    """
    if mode.upper() == "PERMISSIVE" and corrupt_col not in schema:
        schema = f"{schema}, {corrupt_col} string"
    return (
        spark.read.schema(schema)
        .options(header="true", mode=mode,
                 columnNameOfCorruptRecord=corrupt_col, **options)
        .csv(path)
    )


def run_with_metrics(df: DataFrame, name: str, metric_exprs: dict):
    """Attach Observation metrics to a DataFrame and force one pass
    through the noop sink; returns the observed metric dict.

    This is `df.observe` — metrics computed ON the executors DURING the
    job (no second scan, no collect of data): row counts, null rates,
    value bounds ride along with the write. The audit pattern for
    production pipelines: the job that writes the corpus also emits its
    own data-quality counters.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F  # noqa: F401 (callers build exprs)

    obs = Observation(name)
    observed = df.observe(obs, *[v.alias(k) for k, v in metric_exprs.items()])
    observed.write.format("noop").mode("overwrite").save()
    return obs.get
