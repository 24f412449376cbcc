"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` (one JVM); production is a multi-executor
cluster.  The settings below are the ones that matter at both scales:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy);
- shuffle partitions sized to the parallelism at hand, not the 200 default;
- UTC session timezone so results compare bit-for-bit with the DuckDB oracle;
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _ensure_worker_import_path() -> None:
    """Make this package importable inside Python WORKERS, not just the
    driver.  Module-level Pandas-UDF functions (``applyInPandas``,
    ``applyInPandasWithState``, ``mapInPandas``) are pickled by
    *reference*, so every worker re-imports ``df_to_azure_spark`` — which
    only works if the package root is on the worker's ``sys.path``.
    Workers inherit ``PYTHONPATH`` from the JVM's environment, and in
    local mode the JVM inherits ours, so exporting the path *before* the
    JVM first launches covers any driver cwd.  On a real cluster ship the
    package instead (``--py-files``/``spark.archives``); this keeps the
    local path honest so a cwd change can't break stateful queries."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    current = os.environ.get("PYTHONPATH", "")
    if root not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{root}{os.pathsep}{current}" if current else root
        )


def get_spark(
    app_name: str = "df_to_azure_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    ``shuffle_partitions`` defaults to the core count locally; on a real
    cluster set it to ~2-3x total executor cores (or rely on AQE coalesce,
    which is enabled here and shrinks post-shuffle partitions at runtime).

    Parquet timestamps are written as ``TIMESTAMP_MICROS`` instead of
    Spark's legacy INT96: parquet-java records no min/max for INT96
    columns, and the versioned lake builds its per-file zone maps from
    the footer statistics of the files it stages (``VersionedLake``
    falls back to a Spark aggregation for INT96 files, one job per
    commit).
    """
    cpus = cpus or DEFAULT_CPUS
    _ensure_worker_import_path()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # the driver's events table carries TIMESTAMP(NANOS) parquet, which
        # Spark has no native type for; read as long and let the source
        # loader project it back to a microsecond timestamp
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# RDD ids of pins with declared session lifetime (e.g. the prebuilt
# nn-descent graph memo — the in-session stand-in for a stored index that
# BOTH search entries read; its build cost is priced by its own headline
# entry).  release_pins skips these; everything else is per-query garbage.
_PROTECTED_PIN_IDS: set[int] = set()


def protect_pin(df) -> "DataFrame":
    """Mark an (eagerly localCheckpoint'd) frame as session-lifetime so
    ``release_pins`` leaves its blocks alone.  Returns the frame."""
    _PROTECTED_PIN_IDS.add(
        df._jdf.queryExecution().analyzed().rdd().id()
    )
    return df


def release_pins(spark: SparkSession) -> int:
    """Release every persistent RDD block the session currently holds.

    The engine pins eagerly-reused intermediates with ``localCheckpoint()``
    inside each query invocation (one pin per consumer fan-out; see the
    per-site comments).  Pinned blocks are freed only when the
    ContextCleaner notices the RDD became unreferenced, which in a long
    many-query session lags far behind creation — a 45-query bench session
    accumulates hundreds of dead storage blocks whose block-manager
    bookkeeping and GC pressure tax every later, unrelated query.

    Call this BETWEEN queries, after the previous query's outputs are fully
    materialized and before the next one starts.  Safe by construction:
    every pin is created inside the query function whose returned frame
    consumes it, so once that frame has been materialized the pins are
    garbage; nothing in the engine holds a pinned frame across query
    invocations (the minhash/semdedup per-call caches are cleared on entry
    of each call).  A ``persist()``-ed frame released here simply recomputes
    from lineage if ever re-used; a localCheckpoint'd frame cannot, but none
    is ever re-consumed after its query's materialization.

    Returns the number of RDDs released.
    """
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for jrdd in jmap.values():
        if jrdd.id() in _PROTECTED_PIN_IDS:
            continue
        jrdd.unpersist(False)
        n += 1
    return n


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Runtime counterpart of ``_ensure_worker_import_path`` for sessions
    whose JVM is already running (e.g. a harness-provided session): zip
    the package and ``addPyFile`` it, so Python workers can unpickle
    module-referenced Pandas-UDF functions regardless of the driver's cwd
    or environment.  Idempotent per SparkContext; the zip is rebuilt per
    process into a stable temp path (addPyFile copies it immediately, so
    later overwrites are safe)."""
    sc = spark.sparkContext
    if getattr(sc, "_df_to_azure_spark_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"df_to_azure_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_STORED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in sorted(filenames):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.join(
                    "df_to_azure_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._df_to_azure_spark_shipped = True
