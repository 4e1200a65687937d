"""Sources & sinks.

The reference reads JSONL from stdin/file (``/root/reference/src/cli.ts:
125-158``) and offers a batched async loader with an error strategy
(``src/aggo/api-enhancements.ts:398+``). Spark supplies every format
natively; these helpers just pin the MongoDB-ish defaults.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_jsonl(
    spark: SparkSession,
    path: str,
    *,
    schema=None,
    error_strategy: str = "skip",
    multiline: bool = False,
) -> DataFrame:
    """JSONL reader (reference cli.ts:125-158 semantics: skip bad lines).

    ``error_strategy``: 'skip' → DROPMALFORMED, 'fail' → FAILFAST,
    'keep' → PERMISSIVE (bad line lands in _corrupt_record), matching the
    fromJSONL error strategies (api-enhancements.ts:90-113).
    """
    mode = {"skip": "DROPMALFORMED", "fail": "FAILFAST", "keep": "PERMISSIVE"}[error_strategy]
    reader = spark.read.option("mode", mode).option("multiLine", multiline)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jsonl_stream(
    spark: SparkSession,
    path: str,
    *,
    schema,
    error_strategy: str = "skip",
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming JSONL reader with the fromJSONL batching knobs
    (reference api-enhancements.ts:90-113): ``batchSize`` maps to
    ``maxFilesPerTrigger`` and ``memoryLimit`` to ``maxBytesPerTrigger`` —
    Spark's per-microbatch admission caps, the cluster analogue of the
    reference's driver-side batch/memory caps. Schema is required (file
    stream sources cannot infer)."""
    if max_files_per_trigger is not None and max_bytes_per_trigger is not None:
        raise ValueError(
            "maxFilesPerTrigger and maxBytesPerTrigger are mutually exclusive "
            "(Spark file-source admission control accepts one cap)"
        )
    mode = {"skip": "DROPMALFORMED", "fail": "FAILFAST", "keep": "PERMISSIVE"}[error_strategy]
    reader = spark.readStream.schema(schema).option("mode", mode)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    if max_bytes_per_trigger is not None:
        reader = reader.option("maxBytesPerTrigger", int(max_bytes_per_trigger))
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """JSONL sink (reference cli.ts:160-166)."""
    df.write.mode(mode).json(path)


def read_csv(spark: SparkSession, path: str, *, header: bool = True, schema=None) -> DataFrame:
    """CSV reader (the reference delegates CSV to an external csv2json,
    README.md:70-77; Spark reads it natively with schema inference)."""
    reader = spark.read.option("header", header).option("inferSchema", schema is None)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 128,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed table: co-locates rows by hash(bucket_cols) so
    subsequent equi joins / groupBys on those keys skip the shuffle
    entirely (Exchange elided when both sides share bucketing).

    This is the 100 TB answer to 'every $lookup on o_custkey shuffles
    600 GB': bucket orders AND customer by the key once at write time, and
    every later join is a local zip of co-located buckets. Requires a
    catalog table (saveAsTable) — plain files can't carry bucket metadata.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_parquet_bloom(
    df: DataFrame,
    path: str,
    bloom_cols: list[str],
    expected_ndv: int | None = None,
    fpp: float | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet with column Bloom filters — the storage-native
    re-expression of the reference's in-memory per-collection Bloom gate
    (``/root/reference/src/aggo/bloom-filter.ts:15-371``).

    The reference probes a RAM filter before scanning documents; at 100 TB
    the filter must live WITH the data, so it goes into the parquet column
    chunk metadata (`parquet.bloom.filter.enabled#col`). Point-lookup /
    IN-list predicates on ``bloom_cols`` then skip row groups whose filter
    proves the key absent — the same "definitely not here" fast path,
    evaluated inside the scan with zero driver state. Complements (not
    replaces) min/max stats: Blooms prune on high-cardinality ids where
    min/max ranges overlap every row group.
    """
    writer = df.write.mode(mode)
    for c in bloom_cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        if expected_ndv is not None:
            writer = writer.option(
                f"parquet.bloom.filter.expected.ndv#{c}", str(expected_ndv))
        if fpp is not None:
            writer = writer.option(f"parquet.bloom.filter.fpp#{c}", str(fpp))
    writer.parquet(path)


def _enable_nanos(spark: SparkSession) -> None:
    # Runtime-settable engine defaults, applied here too (not only in
    # build_session) because a host application may hand us its own session:
    # - nanosAsLong: parquet TIMESTAMP(NANOS) is rejected by Spark's schema
    #   converter ([PARQUET_TYPE_ILLEGAL]); read as raw nanos longs, which
    #   _restore_nanos converts back to real timestamps matching DuckDB's
    #   ns → µs truncation.
    # - UTC session tz: the engine's normative timezone (COMPAT.md) — epoch
    #   conversions of NTZ values must not depend on host-machine locale.
    # - codegen.maxFields: wide aggregates (64-buffer MinHash) must stay in
    #   whole-stage codegen.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.codegen.maxFields", "256")


def _restore_nanos(df: DataFrame, path: str) -> DataFrame:
    """Cast nanos-as-long columns back to timestamps (µs, floor like DuckDB)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
    except Exception:
        return df
    # timestamp_micros yields TIMESTAMP(LTZ); cast to NTZ (identity under a
    # UTC session, which Engine sessions pin) to match how Spark reads the
    # sibling TIMESTAMP(MICROS) columns and what DuckDB returns.
    fixes = {
        f.name: F.timestamp_micros(F.expr(f"`{f.name}` div 1000")).cast("timestamp_ntz")
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    }
    return df.withColumns(fixes) if fixes else df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    _enable_nanos(spark)
    return _restore_nanos(spark.read.parquet(path), path)


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming read of a parquet file/dir: schema from a batch footer read
    (file stream sources require an explicit schema), nanos columns restored
    the same way as the batch path so plans are interchangeable. The
    max-*-per-trigger knobs bound each microbatch (see read_jsonl_stream)."""
    import os

    if max_files_per_trigger is not None and max_bytes_per_trigger is not None:
        raise ValueError(
            "maxFilesPerTrigger and maxBytesPerTrigger are mutually exclusive "
            "(Spark file-source admission control accepts one cap)"
        )
    _enable_nanos(spark)
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    if max_bytes_per_trigger is not None:
        reader = reader.option("maxBytesPerTrigger", int(max_bytes_per_trigger))
    if os.path.isfile(path):
        # file-stream sources require a directory; target one file via glob
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        stream = reader.parquet(os.path.dirname(path))
    else:
        stream = reader.parquet(path)
    return _restore_nanos(stream, path)


class _Tables(Mapping[str, DataFrame]):
    """Table name → DataFrame, each opened by ``open_table`` on first
    access and kept. Names, order, ``len``, iteration and ``in`` come
    from the name list alone, so none of them reads a file."""

    def __init__(self, open_table: Callable[[str], DataFrame], names: Iterable[str]):
        self._open = open_table
        self._names = list(dict.fromkeys(names))
        self._opened: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._opened:
            if name not in self._names:
                raise KeyError(name)
            self._opened[name] = self._open(name)
        return self._opened[name]

    def __contains__(self, name: object) -> bool:
        return name in self._names

    def __iter__(self) -> Iterator[str]:
        return iter(self._names)

    def __len__(self) -> int:
        return len(self._names)


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: list[str] | None = None,
    cache: bool | None = None,
) -> Mapping[str, DataFrame]:
    """The driver's TPC-H-ish parquet tables in ``sf_dir``, by name.

    Tables open on first access, not here: ``spark.read.parquet`` runs a
    schema job per table, and a query that reads one table should not pay
    for ten. The returned mapping keeps each opened DataFrame, so later
    lookups return the same plan. A missing or unreadable table file
    therefore raises its ``AnalysisException`` on first access of that
    name, not from this call. The session settings the tables need
    (``_enable_nanos``: nanos-as-long, UTC time zone) are applied here, at
    call time.

    ``cache`` (or env ``AGGO_SPARK_CACHE_TABLES=1``) repartitions each table
    by file size and pins it MEMORY_ONLY. This matches the reference's
    setting — it is an *in-memory* engine whose BASELINE.md numbers are over
    pre-loaded arrays — and sidesteps the single-row-group layout of the
    driver's parquet (one row group ⇒ a one-task, single-threaded scan no
    matter how many cores exist). Default off: at 100 TB you rely on the
    parquet scan's pushdown/pruning instead of caching (SCALE.md).
    """
    import os

    _enable_nanos(spark)
    names = names or [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    if cache is None:
        cache = os.environ.get("AGGO_SPARK_CACHE_TABLES") == "1"

    def open_table(n: str) -> DataFrame:
        path = f"{sf_dir}/{n}.parquet"
        df = _restore_nanos(spark.read.parquet(path), path)
        if cache:
            from pyspark import StorageLevel

            # cached-scan parallelism equals the cached partition count, and
            # downstream per-row work (regex, shingling) runs at that width —
            # so anything non-tiny gets full core count; only dimension
            # tables stay single-partition.
            par = spark.sparkContext.defaultParallelism
            nparts = par if os.path.getsize(path) > (256 << 10) else 1
            df = df.repartition(nparts).persist(StorageLevel.MEMORY_ONLY)
        return df

    return _Tables(open_table, names)


def save_bucketed(
    df: DataFrame,
    table: str,
    keys: list,
    buckets: int = 64,
    sort: bool = True,
    path: str | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Persist ``df`` as a BUCKETED (and by default sorted) table on
    ``keys`` — the co-location lever for repeated big-big joins and
    aggregations at 100 TB: two tables bucketed on the same keys with
    the same bucket count join with ZERO Exchange (each task zips
    bucket i with bucket i), and a groupBy on the bucket keys reads
    pre-partitioned data. Bucketing only exists through the catalog
    (``saveAsTable``); pass ``path`` for an external table. One
    up-front shuffle at write time buys every later join/agg its
    exchange back — the classic amortization when a dimension-fact or
    fact-fact join key is stable across a pipeline's runs
    (tests pin the exchange-free join plan)."""
    w = df.write.format(fmt).mode(mode).bucketBy(buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def load_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a :func:`save_bucketed` table back WITH its bucket spec
    (``spark.table`` — a raw ``read.parquet`` of the same files would
    lose the metadata and re-shuffle on the next join)."""
    return spark.table(table)
