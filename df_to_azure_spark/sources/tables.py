"""Readers for the engine's table sources.

S2 (CSV with header + inferred types, reference ``tests/__init__.py:24-36``)
and the driver's parquet star schema.  One normalization is applied at the
source: event timestamps are projected to session-zoned ``TIMESTAMP``
(microsecond precision) regardless of how the parquet file physically
encodes them.  Three physical shapes occur across environments:

* ``TIMESTAMP(NANOS)`` parquet, which Spark reads only as a raw nanos
  ``LongType`` under ``spark.sql.legacy.parquet.nanosAsLong`` — divide
  to micros (truncate toward negative infinity, matching DuckDB/Arrow);
* ``TIMESTAMP(MICROS, isAdjustedToUTC=false)``, which Spark 4 reads as
  ``TIMESTAMP_NTZ`` — cast to ``TIMESTAMP`` (the session time zone is
  pinned UTC in ``__spark_entry__._configure``, so the wall-clock values
  denote the same instants and oracle hashes are unchanged);
* plain ``TIMESTAMP`` — already the canonical shape, no-op.

Normalizing here, once, is what keeps the five timestamp-arithmetic
queries (sessionize, rolling windows, funnels) and the whole streaming
family environment-independent.
"""

from __future__ import annotations

import functools
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# columns normalized to TIMESTAMP at the source, per table
_EVENT_TS_COLUMNS = {"events": ["ts"]}


def normalize_ts_col(df: DataFrame, col: str) -> DataFrame:
    """Normalize one physical timestamp column to session-zoned
    ``TIMESTAMP`` (micros).  Handles nanos-as-long, ``TIMESTAMP_NTZ``,
    and plain ``TIMESTAMP`` identically across environments; raises on
    any other dtype so a future encoding change fails loudly here, in
    one place, instead of deep inside five different query plans."""
    if col not in df.columns:
        return df
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):  # TIMESTAMP(NANOS) read as raw long
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    if isinstance(dt, T.TimestampNTZType):  # micros, no tz (Spark 4 default read)
        return df.withColumn(col, F.col(col).cast(T.TimestampType()))
    if isinstance(dt, T.TimestampType):
        return df
    raise TypeError(
        f"column {col!r} has unsupported timestamp encoding {dt.simpleString()}; "
        "expected long (nanos), timestamp_ntz, or timestamp"
    )


@functools.lru_cache(maxsize=1)
def _footer_schema(spark: SparkSession):
    """``path -> StructType | None``: the Spark schema of the single
    Parquet file at ``path``, read from its footer on the driver, or None
    when ``path`` is not a file.  The JVM handles are looked up once per
    session: each hop of ``spark._jvm.a.b.c`` is one py4j round trip."""
    jvm = spark._jvm
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    path_cls = jvm.org.apache.hadoop.fs.Path
    hconf = spark._jsc.hadoopConfiguration()
    file_reader = jvm.org.apache.parquet.hadoop.ParquetFileReader
    metadata = jvm.org.apache.parquet.format.converter.ParquetMetadataConverter
    skip_row_groups = metadata.SKIP_ROW_GROUPS
    footer_cls = jvm.org.apache.parquet.hadoop.Footer
    file_format = parquet.ParquetFileFormat
    converter_cls = parquet.ParquetToSparkSchemaConverter
    sqlconf = spark._jsparkSession.sessionState().conf()

    def schema_of(path: str) -> T.StructType | None:
        jpath = path_cls(path)
        if not jpath.getFileSystem(hconf).isFile(jpath):
            return None
        footer = footer_cls(jpath, file_reader.readFooter(hconf, jpath, skip_row_groups))
        # the converter reads the session conf when built, so it is built per call
        jschema = file_format.readSchemaFromFooter(footer, converter_cls(sqlconf))
        return T.StructType.fromJson(json.loads(jschema.json()))

    return schema_of


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read the star-schema table ``{sf_dir}/{name}.parquet``, with its
    event timestamps normalized (module docstring).

    When the path is one file, its schema is read from the file's footer
    on the driver and handed to the reader, so building the frame runs no
    Spark job.  The conversion is Spark's own
    (``ParquetFileFormat.readSchemaFromFooter`` with a converter built
    from the session's SQL conf), the code Spark's schema inference runs
    on this same footer inside a job, so the schema is unchanged,
    ``nanosAsLong`` and NTZ inference included.  A directory of part
    files, or a missing path, is read by ``spark.read.parquet``, which
    infers the schema."""
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    schema = _footer_schema(spark)(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    for col in _EVENT_TS_COLUMNS.get(name, []):
        df = normalize_ts_col(df, col)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


STAR_SCHEMA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def register_star_schema(
    spark: SparkSession, sf_dir: str, prefix: str = ""
) -> list[str]:
    """Register every star-schema table as a temp view so users run plain
    ANSI SQL against the engine (``spark.sql("SELECT ... FROM lineitem
    JOIN orders ...")``) with full Catalyst optimization — the SQL
    passthrough surface.  Views are lazy: registering costs nothing until
    a query scans a table.  Returns the registered view names."""
    names = []
    for t in STAR_SCHEMA_TABLES:
        name = f"{prefix}{t}"
        load_table(spark, sf_dir, t).createOrReplaceTempView(name)
        names.append(name)
    return names


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """Reference fixture loader semantics: header row + inferred types."""
    return spark.read.csv(path, header=True, inferSchema=True)


def read_json(
    spark: SparkSession, path: str, schema: str | T.StructType | None = None
) -> DataFrame:
    """JSON-lines source (one object per line — the streaming-friendly
    layout Spark splits by line across tasks; multiline JSON documents
    cannot be split and serialize the read).

    Pass ``schema`` in production: schema inference costs a full extra
    pass over the data, and at 100 TB an inferred schema can also drift
    between runs as new keys appear — pinning it keeps the pipeline
    deterministic.  Inference is the convenient default for fixtures."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — the other columnar lake format Spark reads natively
    (vectorized scan, predicate pushdown, column pruning — same scan
    machinery as parquet; ``spark.sql.orc.filterPushdown`` is on by
    default in Spark 4).  Useful when ingesting from Hive-era warehouses
    whose tables are ORC-backed."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "error") -> None:
    """Executor-parallel ORC write (round-trip partner of ``read_orc``)."""
    df.write.mode(mode).orc(path)


def read_text(
    spark: SparkSession, path: str, whole_file: bool = False
) -> DataFrame:
    """Raw text source → one ``value`` row per line (the ingest format of
    most web-scrape corpora before any parsing).  ``whole_file=True``
    reads each file as ONE row instead — needed when a document spans
    lines; at scale prefer line-split inputs, since an unsplittable
    multi-GB file serializes into a single task."""
    return spark.read.text(path, wholetext=whole_file)
