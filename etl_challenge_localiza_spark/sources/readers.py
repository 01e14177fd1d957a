"""Sources: parquet table loading + the reference's CSV ingest (S1).

Reference: ``pd.read_csv(path)`` with inferred dtypes
(flows/pipeline.py:41-47). Spark-first mapping: header CSV read where
every column arrives as *string* and downstream cleaning coerces — this
reproduces pandas' "whatever is in the cell" behavior without an extra
inference pass over 100 TB of input, and keeps bad cells as data (to be
nulled by try_cast) instead of read errors.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, DataFrameReader, SparkSession

from ..session import shuffle_width

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


# Analyzed-DataFrame memo: repeated load_table calls for the same
# on-disk table (a bench run dispatches 34 queries over the same ten
# tables; the driver's correctness gate dispatches 50) re-pay parquet
# footer reading + InMemoryFileIndex listing + schema analysis through
# py4j on EVERY call — fixed driver-side latency that a long-lived
# production session amortizes to zero. DataFrames are immutable, so
# handing the same analyzed plan back is semantics-free; the key
# carries the session's applicationId (a restarted session never sees
# stale plans) and the path's mtime+size (a rewritten table — e.g. a
# pytest tmp dir — invalidates naturally).
_TABLE_CACHE: dict[tuple, DataFrame] = {}
_TABLE_CACHE_MAX = 64
# Max stat() calls spent building one cache key (dir entries + one
# level of subdirectory files). A table wider than this skips the
# plan cache entirely — correctness over cache hits.
_TABLE_CACHE_STAT_CAP = 512


def _table_cache_key(spark: SparkSession, path: str) -> tuple | None:
    # For a directory table the top-level mtime only changes when an
    # ENTRY is added/removed/renamed — rewriting a part file in place
    # does not bump it (ADVICE r7). Folding each immediate entry's
    # (name, mtime, size) into the key catches in-place part rewrites;
    # for one-level partitioned layouts (dir of subdirectories) the
    # subdirectory's OWN mtime also misses a same-named in-place
    # rewrite of a file inside it (ADVICE r8), so for entries that are
    # directories we additionally fold THEIR immediate files into the
    # key. Partitioned tables in this repo are at most one level deep;
    # the stat count is bounded by _TABLE_CACHE_STAT_CAP — beyond it
    # we return None (no caching) rather than risk staleness.
    try:
        st = os.stat(path)
        entries: tuple = ()
        if os.path.isdir(path):
            stat_budget = _TABLE_CACHE_STAT_CAP
            collected = []
            with os.scandir(path) as it:
                for e in it:
                    est = e.stat()
                    collected.append((e.name, est.st_mtime_ns, est.st_size))
                    stat_budget -= 1
                    if e.is_dir():
                        with os.scandir(e.path) as sub:
                            for s in sub:
                                sst = s.stat()
                                collected.append(
                                    (
                                        f"{e.name}/{s.name}",
                                        sst.st_mtime_ns,
                                        sst.st_size,
                                    )
                                )
                                stat_budget -= 1
                                if stat_budget <= 0:
                                    return None
                    if stat_budget <= 0:
                        return None
            entries = tuple(sorted(collected))
        return (
            spark.sparkContext.applicationId,
            os.path.abspath(path),
            st.st_mtime_ns,
            st.st_size,
            entries,
        )
    except Exception:
        return None


def ts_nanos_to_micros(df: DataFrame) -> DataFrame:
    """Turn a raw int64 nanosecond ``ts`` column (TIMESTAMP(NANOS) read
    with nanosAsLong) into µs-precision TIMESTAMP_NTZ. Works on batch
    and streaming frames alike."""
    from pyspark.sql import functions as F

    # integer `div` truncates toward zero — bit-identical to the
    # previous decimal(38,0) divide-then-cast across the full int64
    # domain (fuzz-checked round 9) and to DuckDB's read-time ns→µs
    # truncation, without the per-row 128-bit decimal temporary
    micros = F.call_function("div", F.col("ts"), F.lit(1000))
    # NTZ so events timestamps carry the same (timezone-free)
    # semantics as every other table and as DuckDB's read of the
    # file — collected values are naive either way.
    return df.withColumn("ts", F.timestamp_micros(micros).cast("timestamp_ntz"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic-benchmark table (columnar parquet scan).

    Column pruning + predicate pushdown reach the scan automatically
    because callers express projections/filters declaratively.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark
    cannot represent; we read it as a raw int64
    (spark.sql.legacy.parquet.nanosAsLong) and truncate to microsecond
    timestamps — the same truncation DuckDB applies when reading the
    file, so oracle comparisons agree. Integer `div` keeps the ns→µs
    conversion exact (a double would lose precision above 2^53).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = _table_cache_key(spark, path)
    if key is not None:
        cached = _TABLE_CACHE.get(key)
        if cached is not None:
            return cached
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = ts_nanos_to_micros(df)
    if key is not None:
        while len(_TABLE_CACHE) >= _TABLE_CACHE_MAX:
            _TABLE_CACHE.pop(next(iter(_TABLE_CACHE)))
        _TABLE_CACHE[key] = df
    return df


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Repartition a low-parallelism scan before per-row-heavy work.

    Parquet scan parallelism is bounded by file/row-group structure; the
    local test tables are single-row-group files, so an expensive
    projection chain (tokenize → hash → explode) would otherwise run on
    ONE core while 31 idle. On a cluster-scale table the scan already
    has >= half the session's shuffle width in splits and this returns
    the input unchanged — the round-robin shuffle only fires when the
    scan is narrow, i.e. exactly when its payload is small.
    """
    parts = shuffle_width(df.sparkSession)
    # getNumPartitions triggers physical planning of the scan (split
    # computation through py4j) — memoized on the DataFrame object, so
    # the load_table-cached frames pay it once per session, not once
    # per dispatched query
    nparts = getattr(df, "_sg_scan_parts", None)
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
        try:
            df._sg_scan_parts = nparts
        except Exception:
            pass
    if nparts < max(2, parts // 2):
        return df.repartition(parts)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def read_transactions_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1: ingest the transactions CSV (flows/pipeline.py:41-47).

    All columns are read as strings (no inferSchema pass — at 100 TB a
    second full read for type inference is wasted I/O). The cleaning
    stage (operators.cleaning) owns all coercion, mirroring the
    reference where pandas inference is immediately overridden by
    errors="coerce" coercions (flows/pipeline.py:137,144,148).
    """
    return (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )


def _split_corrupt(
    reader: DataFrameReader, fmt: str, path: str, schema_ddl: str
) -> tuple[DataFrame, DataFrame]:
    """The quarantine readers' shared split: ONE cached PERMISSIVE scan
    that captures each malformed line in ``_corrupt_record``, split by
    two filters into eager localCheckpoints (good, quarantine); the
    scan cache is dropped on every exit path."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructType

    schema = StructType.fromDDL(schema_ddl).add("_corrupt_record", StringType())
    raw = (
        reader.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema)
        .format(fmt)
        .load(path)
        # corrupt-record access requires materializing the column
        # (Spark disallows filtering the raw scan on it alone)
        .cache()
    )
    try:
        good = (
            raw.filter(F.col("_corrupt_record").isNull())
            .drop("_corrupt_record")
            .localCheckpoint(eager=True)
        )
        quarantine = (
            raw.filter(F.col("_corrupt_record").isNotNull())
            .select(F.col("_corrupt_record").alias("raw_line"))
            .localCheckpoint(eager=True)
        )
    finally:
        raw.unpersist()
    return good, quarantine


def read_csv_with_quarantine(
    spark: SparkSession, path: str, schema_ddl: str
) -> tuple[DataFrame, DataFrame]:
    """CSV ingest with a dead-letter channel: returns (good, quarantine).

    The reference silently coerces bad cells to null
    (flows/pipeline.py:84,101,137,144,148); at production scale you
    also want the UNPARSEABLE ROWS themselves (wrong column count,
    broken quoting) preserved for triage instead of vanished. PERMISSIVE
    mode + ``columnNameOfCorruptRecord`` captures each malformed line
    verbatim in ``_corrupt_record``; rows where it is null are clean.
    The split is two filters over ONE scan (no second read), and the
    quarantine frame carries the raw line so a fixer job can re-ingest.

    ``schema_ddl`` must list the expected columns (all string keeps the
    reference's coerce-later semantics) — corrupt capture requires an
    explicit schema, since with inferSchema Spark would just widen
    types instead of flagging.

    Cache lifecycle: the split requires a cached scan (Spark disallows
    querying the internal corrupt-record column off a raw file scan),
    but a CacheManager entry is never released by GC — repeated calls
    in a long-lived session would pin executor memory indefinitely
    (round-4 advisor finding). So both outputs are materialized through
    ONE cached scan here and landed in eager localCheckpoints — whose
    blocks the ContextCleaner DOES release when the returned frames are
    garbage-collected — and the scan cache is dropped before returning.
    At cluster scale, ingest jobs should instead write both channels
    straight to their sinks inside this lifetime; the eager shape makes
    that a drop-in change.
    """
    return _split_corrupt(spark.read.option("header", True), "csv", path, schema_ddl)


def read_binary_assets(
    spark: SparkSession, dir_path: str, glob: str = "*"
) -> DataFrame:
    """Multimodal ingest source: read a directory of opaque media files
    (images/audio/video) with Spark's built-in ``binaryFile`` format —
    one row per file with (path, modificationTime, length, content) —
    normalized to the (asset_id, payload) shape the multimodal
    operators consume (asset_id = filename stem; payload = raw bytes).

    Scale notes: binaryFile is a real FileFormat — listings shard
    across executors, each file is read on one task (media files are
    row-atomic by nature), and ``pathGlobFilter`` prunes the listing
    server-side. Spark caps per-file size at
    spark.sql.sources.binaryFile.maxLength (default 2^31-1); bigger
    assets belong in chunked storage, not single files.
    """
    from pyspark.sql import functions as F

    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(dir_path)
        .select(
            F.regexp_extract(
                F.element_at(F.split(F.col("path"), "/"), -1), r"^(.*?)(\.[^.]*)?$", 1
            ).alias("asset_id"),
            F.col("length").cast("long").alias("n_bytes"),
            F.col("content").alias("payload"),
        )
    )


def read_jsonl_with_quarantine(
    spark: SparkSession, path: str, schema_ddl: str
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines ingest with a dead-letter channel — the JSONL twin of
    :func:`read_csv_with_quarantine` (JSONL is the lingua franca of
    LLM-corpus interchange, so the quarantine path matters as much as
    for CSV). Returns (good, quarantine).

    Same mechanics: explicit schema + PERMISSIVE mode capture each
    malformed line verbatim in ``_corrupt_record`` (truncated records,
    broken nesting, type-mismatched scalars under ANSI off become
    nulls in typed columns, while syntactically-broken JSON lands in
    quarantine). One cached scan split by two filters, landed in eager
    localCheckpoints so the CacheManager entry is dropped before
    return (the same leak-free lifecycle as the CSV path).

    JSON-specific wrinkle vs CSV: Spark treats a line whose top level
    is not an object (bare scalar / array) as corrupt too, and a
    missing field is a NULL, not corruption — schema-presence policy
    belongs to the DQ gates downstream, not the parser.
    """
    return _split_corrupt(spark.read, "json", path, schema_ddl)


def read_xml(
    spark: SparkSession, path: str, row_tag: str = "row", schema_ddl: str | None = None
) -> DataFrame:
    """XML source (Spark 4 native). Always pass ``schema_ddl`` in
    production: schema inference costs a full extra pass over the
    files and can widen types differently per batch.
    ``ignoreSurroundingSpaces`` is pinned FALSE so element text with
    leading/trailing whitespace survives the round trip byte-exact —
    the reader's default trims it, which would silently break the
    content-checksum equality the xml_roundtrip_rollup oracle pins
    (ADVICE r6). Caveat that remains: a whitespace-significant EMPTY
    element still reads back null (an XML-model limit, not a trim) —
    byte-exact round-tripping of empty-vs-missing needs CDATA or a
    binary format.

    ``schema_ddl=None`` + ``ignoreSurroundingSpaces=false`` interact
    (ADVICE r7): inference can capture the WRITER'S indentation between
    child elements as data (a spurious ``_VALUE`` field on struct
    rows), changing the inferred schema vs a trimmed read. With an
    explicit schema the indentation text has nowhere to land and is
    dropped, so "always pass schema_ddl" is load-bearing for
    correctness here, not just for the extra inference pass; inferred
    reads emit a UserWarning."""
    if schema_ddl is None:
        import warnings

        warnings.warn(
            "read_xml without schema_ddl: schema inference with "
            "ignoreSurroundingSpaces=false can capture inter-element "
            "indentation as a _VALUE field — pass an explicit schema",
            UserWarning,
            stacklevel=2,
        )
    r = (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .option("ignoreSurroundingSpaces", "false")
    )
    if schema_ddl is not None:
        from pyspark.sql.types import StructType

        r = r.schema(StructType.fromDDL(schema_ddl))
    return r.load(path)
