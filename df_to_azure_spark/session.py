"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` (one JVM); production is a multi-executor
cluster.  The settings below are the ones that matter at both scales:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy);
- shuffle partitions sized to the parallelism at hand, not the 200 default;
- UTC session timezone so results compare bit-for-bit with the DuckDB oracle;
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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


# The JVM logs each class it skips at dump time, and each archive it
# rejects, as a [cds] warning on the caller's stdout.
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# Life bound of the detached process that builds a missing archive (a JVM
# start, three facade calls and the dump: about 45 s on 4 vCPUs).
_BUILD_TIMEOUT_S = 300
# Age past which a build removes the archives of other keys: a changed JDK
# or Spark jar list leaves its old archive (about 170 MB) unmapped for good.
_STALE_ARCHIVE_S = 7 * 24 * 3600


def _archive_prefix(spark_home: str, cache: str) -> str:
    """One archive per JDK build and Spark jar list: the JVM maps an
    archive only on the classpath and JDK it was dumped with, and checks
    each jar's size and modification time."""
    java_home = os.environ.get("JAVA_HOME")
    if not java_home:
        java = shutil.which("java")
        if java is None:
            raise FileNotFoundError("no java on PATH")
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    key = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as fh:
        key.update(fh.read())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(n for n in os.listdir(jars) if n.endswith(".jar")):
        st = os.stat(os.path.join(jars, name))
        key.update(f"{name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return os.path.join(cache, f"driver-{key.hexdigest()[:16]}-")


def _non_empty_dir(path: str | None) -> bool:
    return bool(path) and os.path.isdir(path) and bool(os.listdir(path))


def _archive_plan(java_opts: str) -> tuple[str, str, str | None] | None:
    """(empty conf directory, archive prefix, archive or None on a miss)
    for the next driver JVM; None when it must start without one."""
    if "SharedArchiveFile" in java_opts or "ArchiveClassesAtExit" in java_opts:
        return None  # the caller manages CDS
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and any(
        not n.endswith(".template") for n in os.listdir(conf_dir)
    ):
        return None  # a real configuration: CDS refuses it on the classpath
    # the launcher puts these on the classpath too, and they are not
    # swapped: CDS refuses a non-empty directory, and the archive is keyed
    # by $SPARK_HOME/jars alone
    if os.environ.get("SPARK_DIST_CLASSPATH") or any(
        _non_empty_dir(os.environ.get(v)) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR")
    ):
        return None
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "df_to_azure_spark",
    )
    empty_conf = os.path.join(cache, "spark-conf")
    os.makedirs(empty_conf, exist_ok=True)
    prefix = _archive_prefix(spark_home, cache)
    # an archive is named by its size: the JVM rejects a corrupt archive
    # but dies of SIGBUS on a truncated one, so a short file is removed
    for path in glob.glob(glob.escape(prefix) + "*.jsa"):
        if path == f"{prefix}{os.path.getsize(path)}.jsa":
            return empty_conf, prefix, path
        os.remove(path)
    return empty_conf, prefix, None


def _start(builder: SparkSession.Builder, java_opts: str, empty_conf: str) -> SparkSession:
    """Launch the driver JVM with ``java_opts`` and, for the launch only,
    ``SPARK_CONF_DIR`` pointed at an empty directory."""
    builder = builder.config(
        "spark.driver.extraJavaOptions", f"{java_opts} {_CDS_QUIET}".strip()
    )
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = empty_conf
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def _launch(builder: SparkSession.Builder, java_opts: str) -> SparkSession:
    """Start the driver JVM from the class-data-sharing archive for this
    JDK and Spark jar list; on a miss start it plainly and build the
    archive in the background."""
    try:
        plan = _archive_plan(java_opts)
    except OSError:
        plan = None  # e.g. an unwritable cache: start without an archive
    if plan is None:
        return builder.getOrCreate()
    empty_conf, _, archive = plan
    if archive is None:
        spark = builder.getOrCreate()
        with contextlib.suppress(OSError):  # no build, no archive
            _spawn_build()
        return spark
    return _start(builder, f'{java_opts} -XX:SharedArchiveFile="{archive}"', empty_conf)


def _spawn_build() -> None:
    """Build the archive this process missed in a detached process: the
    next process starts from it, and this one neither waits for it at
    exit nor takes it down with its process group."""
    # the builder's Spark scratch goes to the JVM's temp dir: the caller
    # may delete its local dirs while the build runs
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    subprocess.Popen(
        [sys.executable, "-c",
         "from df_to_azure_spark.session import _build_archive; _build_archive()"],
        env=env, cwd=tempfile.gettempdir(), stdin=subprocess.DEVNULL,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, start_new_session=True,
    )


def _build_archive() -> None:
    """Start a JVM that dumps the loaded classes when it exits, land a
    pandas frame in a versioned lake by create, append and upsert, end
    the JVM, and publish the dump if the JVM exited with status 0.  One
    build runs per cache at a time, under a lock on the cache directory;
    a temp file that a killed build left behind is removed first, and so
    are other keys' archives older than ``_STALE_ARCHIVE_S``."""
    import fcntl

    import pandas as pd

    from df_to_azure_spark.api import df_to_spark

    # a stuck build ends; its JVM follows when its stdin closes
    signal.alarm(_BUILD_TIMEOUT_S)
    plan = _archive_plan("")
    if plan is None or plan[2] is not None:
        return  # no archive possible, or built already
    empty_conf, prefix, _ = plan
    lock = os.open(os.path.dirname(prefix), os.O_RDONLY)
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        return  # another process is building it
    if _archive_plan("")[2] is not None:
        return  # built meanwhile
    for stale in glob.glob(glob.escape(prefix) + "*.tmp"):
        os.remove(stale)
    _remove_stale_archives(prefix)
    tmp = f"{prefix}{os.getpid()}.tmp"
    spark = _start(
        _builder("df_to_azure_spark", 1, 1, {"spark.driver.memory": "1g"}),
        f'-XX:ArchiveClassesAtExit="{tmp}"', empty_conf,
    )
    pdf = pd.DataFrame({
        "id": [1, 2, 3], "name": ["a", "b", "c"], "amount": [1.5, 2.5, 3.5],
        "ts": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"]),
    })
    try:
        with tempfile.TemporaryDirectory() as root:
            for method in ("create", "append", "upsert"):
                df_to_spark(pdf, "t", method=method, id_field="id",
                            parquet=True, lake_root=root, versioned=True)
    finally:
        spark.stop()
        proc = SparkContext._gateway.proc
        proc.stdin.close()  # the JVM exits, and dumps, when its stdin closes
        try:
            if proc.wait(timeout=_BUILD_TIMEOUT_S) == 0:
                os.replace(tmp, f"{prefix}{os.path.getsize(tmp)}.jsa")
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)


def _remove_stale_archives(prefix: str) -> None:
    """Remove the archives of keys other than ``prefix``'s that were
    last written more than ``_STALE_ARCHIVE_S`` ago."""
    cutoff = time.time() - _STALE_ARCHIVE_S
    cache = glob.escape(os.path.dirname(prefix))
    for path in glob.glob(os.path.join(cache, "driver-*.jsa")):
        if not path.startswith(prefix):
            with contextlib.suppress(FileNotFoundError):
                if os.path.getmtime(path) < cutoff:
                    os.remove(path)


def _builder(
    app_name: str, cpus: int, shuffle_partitions: int | None, extra_conf: dict[str, str]
) -> SparkSession.Builder:
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
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder


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

    The first call of a process starts the driver JVM, which spends most
    of its start loading and verifying Spark's classes from jars.  A
    dynamic class-data-sharing archive (JEP 350) under
    ``$XDG_CACHE_HOME/df_to_azure_spark/`` holds them pre-parsed, keyed
    by the JDK build and the names, sizes and modification times of the
    jars in ``$SPARK_HOME/jars``; the JVM memory-maps it and rejects a
    stale or corrupt one by itself.  CDS refuses a non-empty directory
    on the classpath, and Spark puts ``$SPARK_CONF_DIR`` there, so a
    conf directory holding only ``*.template`` files is swapped for an
    empty one for the launch.  A
    real configuration is left alone and the JVM starts without an
    archive, and so it does with a non-empty ``$HADOOP_CONF_DIR`` or
    ``$YARN_CONF_DIR`` or any ``$SPARK_DIST_CLASSPATH``, which the
    launcher also puts on the classpath.  On a miss the JVM starts
    plainly and a detached process starts a short-lived JVM that lands a
    small frame and dumps its classes when it exits: a JVM in dumping
    mode runs slower, so the caller's own session never dumps, and the
    caller never waits for the build.  The dump goes to a per-process
    temp file, renamed to the archive only after that JVM exited with
    status 0, so no reader maps a half-written archive and a killed JVM
    publishes nothing.  Any ``OSError`` on this path (an unwritable
    cache, say) starts the JVM without an archive.
    """
    cpus = cpus or DEFAULT_CPUS
    extra_conf = extra_conf or {}
    _ensure_worker_import_path()
    builder = _builder(app_name, cpus, shuffle_partitions, extra_conf)
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        spark = _launch(builder, extra_conf.get("spark.driver.extraJavaOptions", ""))
    else:
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# (application id, RDD id) of pins with declared session lifetime (e.g.
# the prebuilt nn-descent graph memo — the in-session stand-in for a
# stored index that BOTH search entries read; its build cost is priced by
# its own headline entry).  release_pins skips these; everything else is
# per-query garbage.  RDD ids restart at 0 in every SparkContext, so an
# id alone would shield an unrelated RDD of a later context.
_PROTECTED_PINS: set[tuple[str, int]] = set()


def protect_pin(df) -> "DataFrame":
    """Mark an (eagerly localCheckpoint'd) frame as session-lifetime so
    ``release_pins`` leaves its blocks alone.  Returns the frame."""
    _PROTECTED_PINS.add((
        df.sparkSession.sparkContext.applicationId,
        df._jdf.queryExecution().analyzed().rdd().id(),
    ))
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
    app_id = spark.sparkContext.applicationId
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    n = 0
    for jrdd in jmap.values():
        if (app_id, jrdd.id()) in _PROTECTED_PINS:
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
