"""Parquet lake sink: create / append / upsert over a table directory.

Rebuilds the reference's blob-parquet path (``export.py:295-423``, SURVEY
§2.2 K5 / §2.3 W4) with Spark as the data plane:

- a "table" is a directory of part-files under ``{root}/{table}/data``
  (the reference writes ONE parquet object per table — a single-writer,
  single-node assumption that cannot hold at 100 TB; a directory of
  part-files is the scale-correct equivalent, and readers see one table
  either way);
- ``create``  → overwrite the directory (reference ``export.py:417``);
- ``append``  → add part-files (reference writes a timestamp-suffixed
  file per call, ``export.py:353-360`` — Spark's append mode is the same
  idea with collision-free task files);
- ``upsert``  → read existing, row-level keyed merge (see
  ``operators/upsert.py``), write to a fresh snapshot directory, then
  atomically repoint.  Snapshot-and-swap avoids the classic Spark trap of
  overwriting a path that the lazy plan is still reading, and is the same
  copy-on-write shape Delta/Iceberg use (minus the transaction log).

All filesystem metadata ops go through the Hadoop FileSystem API, so the
same code addresses ``file://``, ``hdfs://`` or ``abfss://`` roots.
"""

from __future__ import annotations

import time
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from df_to_azure_spark.checks import ensure_unique_column_names, ensure_unique_keys
from df_to_azure_spark.exceptions import PipelineRunError, WrongMethodError
from df_to_azure_spark.operators.upsert import upsert_frames


class ParquetLake:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        # (jvm, Hadoop Path class, Hadoop Configuration), looked up on
        # first use: each lookup is a py4j round trip
        self._hadoop = None

    # -- paths -----------------------------------------------------------
    def table_dir(self, table: str) -> str:
        return f"{self.root}/{table}"

    def data_dir(self, table: str) -> str:
        return f"{self.table_dir(table)}/data"

    def _fs(self, path: str):
        """``(FileSystem, Path, jvm)`` for ``path``.  Hadoop's own
        ``FileSystem.CACHE`` returns one instance per scheme and
        authority, so only the class and configuration lookups are
        kept here."""
        if self._hadoop is None:
            jvm = self.spark._jvm
            self._hadoop = (
                jvm,
                jvm.org.apache.hadoop.fs.Path,
                self.spark._jsc.hadoopConfiguration(),
            )
        jvm, path_cls, hconf = self._hadoop
        jpath = path_cls(path)
        return jpath.getFileSystem(hconf), jpath, jvm

    def exists(self, table: str) -> bool:
        fs, jpath, _ = self._fs(self.data_dir(table))
        return fs.exists(jpath)

    # -- batch ledger ----------------------------------------------------
    def has_batch(self, table: str, batch_id: str) -> bool:
        """True when a write with ``batch_id`` landed in ``table``
        (see :meth:`write`)."""
        fs, marker, _ = self._fs(self._batch_marker(table, batch_id))
        return fs.exists(marker)

    def _batch_marker(self, table: str, batch_id: str) -> str:
        _check_batch_id(batch_id)
        return f"{self.table_dir(table)}/_batches/{batch_id}"

    def _write_batch(self, write, table: str, batch_id: str | None) -> None:
        """Run ``write`` and record ``batch_id`` in the ledger: a marker
        file ``_batches/<batch_id>`` under the table directory, created
        after the data.  A crash between the two leaves the data without
        its marker, so a replay writes the batch again (at-least-once)."""
        marker = None if batch_id is None else self._batch_marker(table, batch_id)
        write()
        if marker is not None:
            fs, path, _ = self._fs(marker)
            fs.createNewFile(path)

    # -- reads -----------------------------------------------------------
    def read(self, table: str, merge_schema: bool = False) -> DataFrame:
        """``merge_schema=True`` unions the schemas of all part-files —
        needed after an append added columns (schema evolution); columns
        absent from older files read as NULL.  Off by default: schema
        merging lists/reads every file footer, which costs at scale."""
        if not self.exists(table):
            raise PipelineRunError(f"lake table {table!r} does not exist under {self.root}")
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(self.data_dir(table))

    # -- writes ----------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        table: str,
        method: str = "create",
        id_field: list[str] | str | None = None,
        partition_by: list[str] | str | None = None,
        batch_id: str | None = None,
    ) -> None:
        """Land ``df`` by ``create``, ``append`` or keyed ``upsert``.
        ``batch_id`` names the write in the table's batch ledger, which
        :meth:`has_batch` reads: a caller that replays a batch asks
        first and skips it.  This lake writes a marker file after the
        data (at-least-once); ``VersionedLake`` records the id inside the
        write's own commit (exactly-once)."""
        ensure_unique_column_names(df)
        parts = [partition_by] if isinstance(partition_by, str) else list(partition_by or [])
        if method == "create":
            write = partial(self.create, df, table, partition_by=parts)
        elif method == "append":
            write = partial(self.append, df, table, partition_by=parts)
        elif method == "upsert":
            keys = [id_field] if isinstance(id_field, str) else list(id_field or [])
            write = partial(self.upsert, df, table, keys, partition_by=parts or None)
        else:
            raise WrongMethodError(f"unknown lake method {method!r}")
        self._write_batch(write, table, batch_id)

    def create(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        sort_files: int | None = None,
    ) -> None:
        """``partition_by`` lays the table out hive-style
        (``col=value/`` directories).  At 100 TB this is what makes
        point/range reads cheap: a filter on the partition column prunes
        whole directories at planning time (PartitionFilters in the scan,
        asserted in ``tests/test_lake_partitioning.py``) instead of
        row-group-filtering every file.

        ``sort_by`` clusters rows within each task file, so parquet
        row-group min/max statistics become narrow, disjoint ranges — a
        selective filter on a sort column then skips most row groups at
        read time (the second tier of data skipping, below directory
        pruning).  Footer stats are asserted in
        ``tests/test_lake_partitioning.py``.  ``sort_files`` pins the
        range-partition count (AQE otherwise coalesces small inputs to
        one file; at scale, leave it None and let AQE size the files)."""
        if sort_by:
            # range-partition + sort so file-LEVEL ranges are disjoint
            # too, not just row-groups within a file
            if sort_files:
                df = df.repartitionByRange(sort_files, *sort_by)
            else:
                df = df.repartitionByRange(*sort_by)
            df = df.sortWithinPartitions(*sort_by)
        # a create starts a fresh batch ledger.  The markers go before the
        # data: a crash in between makes a replay land its batch again
        # (at-least-once), never skip it.
        fs, ledger, _ = self._fs(f"{self.table_dir(table)}/_batches")
        fs.delete(ledger, True)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.data_dir(table))

    def append(
        self,
        df: DataFrame,
        table: str,
        timestamped_file: bool = False,
        partition_by: list[str] | None = None,
    ) -> None:
        """Default: collision-free task part-files (the scale path).
        ``timestamped_file=True`` reproduces the reference's byte-layout:
        one ``{table}_{YYYYmmddHHMMSS}.parquet`` file per append call
        (``export.py:353-360``) — a single-writer convenience for small
        appends, deliberately NOT the default."""
        if not timestamped_file:
            w = df.write.mode("append")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self.data_dir(table))
            return
        import datetime as _dt

        stamp = _dt.datetime.now().strftime("%Y%m%d%H%M%S")
        tmp = f"{self.table_dir(table)}/.append-{stamp}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        fs, data_path, jvm = self._fs(self.data_dir(table))
        if not fs.exists(data_path):
            fs.mkdirs(data_path)
        tmp_path = jvm.org.apache.hadoop.fs.Path(tmp)
        target = jvm.org.apache.hadoop.fs.Path(
            f"{self.data_dir(table)}/{table}_{stamp}.parquet"
        )
        for status in fs.listStatus(tmp_path):
            name = status.getPath().getName()
            if name.startswith("part-"):
                fs.rename(status.getPath(), target)
        fs.delete(tmp_path, True)

    def partition_columns(self, table: str) -> list[str]:
        """Detect the table's hive partition columns from the directory
        layout (``col=value/`` levels, outermost first).  Lets every
        rewrite path (upsert, compact) preserve partitioning without the
        caller restating it."""
        fs, path, jvm = self._fs(self.data_dir(table))
        cols: list[str] = []
        while fs.exists(path):
            subdirs = [
                st.getPath()
                for st in fs.listStatus(path)
                if st.isDirectory() and "=" in st.getPath().getName()
            ]
            if not subdirs:
                break
            cols.append(subdirs[0].getName().split("=", 1)[0])
            path = subdirs[0]
        return cols

    def vacuum(self, table: str) -> list[str]:
        """Recover-then-garbage-collect crash leftovers from ``_swap_in``.

        Crash states and what this does with them:
        - ``data`` live + ``.snapshot-*`` orphan (died before
          rename-aside) or ``.old-*`` orphan (died before the final
          delete): live data wins, orphans are removed.
        - ``data`` MISSING (died between rename-aside and rename-in):
          both ``.old-<ts>`` and ``.snapshot-<ts>`` are complete copies —
          ROLL FORWARD by promoting the newest ``.snapshot`` to ``data``
          (it is the write that was being committed), falling back to
          restoring the newest ``.old`` if no snapshot survived.
          Deleting the orphans without this recovery would delete the
          only copies of the table.

        Returns the removed orphan names (a promoted dir is recovery,
        not garbage, and is not listed)."""
        fs, tdir, jvm = self._fs(self.table_dir(table))
        if not fs.exists(tdir):
            return []
        data_path = jvm.org.apache.hadoop.fs.Path(self.data_dir(table))

        def _orphans(prefix: str):
            out = []
            for status in fs.listStatus(tdir):
                name = status.getPath().getName()
                if name.startswith(prefix):
                    out.append((name, status.getPath()))
            return sorted(out)  # ts suffix sorts oldest → newest

        if not fs.exists(data_path):
            snaps = _orphans(".snapshot-")
            olds = _orphans(".old-")
            if snaps:
                fs.rename(snaps[-1][1], data_path)
            elif olds:
                fs.rename(olds[-1][1], data_path)

        removed = []
        for name, path in _orphans(".snapshot-") + _orphans(".old-"):
            fs.delete(path, True)
            removed.append(name)
        return sorted(removed)

    def compact(
        self,
        table: str,
        target_files: int = 8,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Rewrite the table into ``target_files`` part-files and
        snapshot-swap it in; returns the file count before compaction.

        Appends accumulate small files (every micro-append adds task
        files); at scale the file-listing and per-file open costs
        eventually dominate reads — periodic compaction is the standard
        fix (Delta/Iceberg's OPTIMIZE).  Data is byte-identical, only the
        layout changes; the swap reuses the crash-safe rename dance of
        ``_swap_in``.

        ``zorder_by`` (Delta's ``OPTIMIZE ... ZORDER BY``): cluster the
        rewrite on a MORTON (Z-)curve over 2+ numeric/date/timestamp
        columns, so every output file covers a small hyper-rectangle of
        the combined key space instead of a slice of one column — parquet
        min/max footer stats then prune files for predicates on ANY of
        the z-columns, which a single-column sort only delivers for its
        leading column.  Implementation: each column normalizes to a
        16-bit range bucket (min/max from one bounded aggregate), buckets
        bit-interleave into the z-value, the rewrite range-partitions +
        sorts on it, and the helper column is dropped before writing —
        all map-side except the one range exchange any clustered rewrite
        needs.  The skipping win is asserted from real parquet footers in
        ``tests/test_lake_zorder.py``."""
        fs, data_path, _ = self._fs(self.data_dir(table))
        if not fs.exists(data_path):
            raise PipelineRunError(f"lake table {table!r} does not exist under {self.root}")

        def _count_parts(path) -> int:
            n = 0
            for st in fs.listStatus(path):
                if st.isDirectory():
                    n += _count_parts(st.getPath())
                elif st.getPath().getName().startswith("part-"):
                    n += 1
            return n

        before = _count_parts(data_path)
        # preserve hive layout: a compaction must change file count, not
        # the partitioning scheme (flattening would break PartitionFilters
        # pruning AND later partition-scoped upserts)
        parts = self.partition_columns(table)
        # merge_schema so files written before a schema evolution survive
        df = self.read(table, merge_schema=True)
        if zorder_by:
            df = _zorder_cluster(df, zorder_by, target_files)
        else:
            df = df.coalesce(target_files)
        self._swap_in(df, table, partition_by=parts or None)
        return before

    def upsert(
        self,
        df: DataFrame,
        table: str,
        keys: list[str],
        partition_by: list[str] | None = None,
    ) -> None:
        """Full-table keyed upsert.  The rewrite preserves the table's
        hive layout: partition columns are taken from ``partition_by`` or
        auto-detected from the existing directory structure, so an upsert
        never silently flattens a partitioned table."""
        ensure_unique_keys(df, keys)
        parts = partition_by or self.partition_columns(table)
        existing = self.read(table)
        merged = upsert_frames(df, existing, keys)
        self._swap_in(merged, table, partition_by=parts or None)

    def delete(
        self,
        table: str,
        keys_df: DataFrame,
        keys: list[str],
        partition_by: list[str] | None = None,
    ) -> int:
        """Keyed row deletion — the right-to-be-forgotten / retraction
        primitive the lake needs next to ``upsert``: rows whose key
        tuple appears in ``keys_df`` are removed via a LEFT ANTI join
        and the result snapshot-swaps in (same crash contract as
        ``_swap_in``; the hive partition layout is preserved the same
        way ``upsert`` preserves it).  Returns the number of rows
        deleted — the audit count a compliance log records.

        Scale shape: the anti join is a broadcast when the key set is
        small (the common GDPR case — Spark picks it by size), else a
        shuffled hash join; either way one pass over the table.  NULLs
        in ``keys_df`` keys never match (SQL join semantics), so NULL
        keys cannot mass-delete rows."""
        existing = self.read(table)
        parts = partition_by or self.partition_columns(table)
        k = keys_df.select(*keys).dropDuplicates(keys)
        # audit count via ONE semi-join pass (rows that will match the
        # delete set), not n_before/n_kept full-table counts — the old
        # shape scanned the table twice just to subtract (round-8 ADVICE)
        n_deleted = existing.join(k, keys, "left_semi").count()
        kept = existing.join(k, keys, "left_anti")
        self._swap_in(kept, table, partition_by=parts or None)
        return n_deleted

    def upsert_partitioned(
        self,
        df: DataFrame,
        table: str,
        keys: list[str],
        partition_col: str,
    ) -> int:
        """Partition-scoped upsert for tables created with
        ``partition_by=[partition_col]`` — rewrites ONLY the partitions
        the delta touches, instead of snapshotting the whole table.

        At 100 TB this is the difference between rewriting terabytes and
        rewriting the handful of partitions a day's delta lands in: the
        delta's distinct partition values (small by assumption) select
        the affected directories via partition pruning, the keyed merge
        runs on just those rows, and ``partitionOverwriteMode=dynamic``
        replaces exactly those directories in place.  Returns the number
        of partitions rewritten.

        Requires every delta row to carry its partition value, and the
        table's partition column to be stable per key (a key must not
        move between partitions — enforced here by checking the delta's
        keys against OTHER partitions and refusing if any would move,
        which would otherwise leave the old row behind).
        """
        ensure_unique_keys(df, keys)
        # the dynamic-overwrite below repartitions by this ONE column; on
        # a table partitioned by more (or other) columns the rewrite would
        # land at the wrong hive depth and corrupt subsequent reads
        table_parts = self.partition_columns(table)
        if table_parts != [partition_col]:
            raise PipelineRunError(
                f"upsert_partitioned requires a table partitioned by "
                f"exactly [{partition_col!r}]; {table!r} is partitioned "
                f"by {table_parts!r}"
            )
        spark = df.sparkSession
        touched = [r[0] for r in df.select(partition_col).distinct().collect()]
        existing = self.read(table)
        # NULL-safe membership: a NULL partition value lands in the hive
        # default partition, which is a real directory — `isin` alone
        # would evaluate to NULL for it, silently excluding those rows
        # from `affected` (data loss on overwrite) and from the guard
        non_null = [t for t in touched if t is not None]
        in_touched = (
            F.col(partition_col).isin(non_null) if non_null else F.lit(False)
        )
        if any(t is None for t in touched):
            in_touched = in_touched | F.col(partition_col).isNull()
        in_touched = F.coalesce(in_touched, F.lit(False))
        # a key arriving with partition value X must not already live in
        # partition Y != X: dynamic overwrite would never clear Y's copy
        moved = (
            existing.where(~in_touched)
            .join(df.select(*keys), keys, "left_semi")
        )
        if moved.limit(1).count() > 0:
            raise PipelineRunError(
                "upsert_partitioned: delta moves key(s) across partitions; "
                "use the full upsert for partition-changing updates"
            )
        affected = existing.where(in_touched)
        # materialize BEFORE the overwrite: the write replaces the very
        # directories the lazy merge plan reads (the same self-overwrite
        # trap _swap_in avoids); affected partitions are delta-scale, so
        # pinning them is cheap — on a cluster, checkpoint durably instead
        merged = upsert_frames(df, affected, keys, sort=False).localCheckpoint()
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy(partition_col).parquet(
                self.data_dir(table)
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        return len(touched)

    def merge(
        self,
        df: DataFrame,
        table: str,
        keys: list[str],
        when_matched: str | None = "update_all",
        when_not_matched: str | None = "insert_all",
    ) -> None:
        """Lake-side MERGE with Delta ``whenMatched``/``whenNotMatched``
        semantics (SURVEY §2.3 W3; reference ``db.py:20-53`` is the SQL
        MERGE this mirrors on the lake target).

        Modes (each may be None to skip that clause):
        - ``when_matched="update_all"``: target rows whose key appears in
          ``df`` are replaced column-for-column;
        - ``when_not_matched="insert_all"``: ``df`` rows whose key is
          absent from the target are inserted.
        Both together are the classic upsert; insert-only gives
        append-if-absent (idempotent ingestion); update-only applies a
        correction without admitting new keys.

        Engine selection: when the ``delta`` package is importable AND the
        table directory is a Delta table, this routes to
        ``DeltaTable.merge`` — a log-backed ACID commit, so concurrent
        readers serialize against the transaction log and always see an
        entire snapshot, before or after, with no failure window.
        Otherwise (this container has no delta-spark) it falls back to the
        same DataFrame algebra + snapshot-swap used by ``upsert``, whose
        weaker-but-precise concurrency contract is documented on
        ``_swap_in``.
        """
        if not _merge_clauses(when_matched, when_not_matched):
            return  # no-op merge
        ensure_unique_keys(df, keys)
        if self._delta_merge(df, table, keys, when_matched, when_not_matched):
            return
        from df_to_azure_spark.operators.upsert import merge_frames

        merged = merge_frames(
            df, self.read(table), keys, when_matched, when_not_matched
        )
        parts = self.partition_columns(table)
        self._swap_in(merged, table, partition_by=parts or None)

    def _delta_merge(
        self,
        df: DataFrame,
        table: str,
        keys: list[str],
        when_matched: str | None,
        when_not_matched: str | None,
    ) -> bool:
        """Attempt the log-backed Delta MERGE; returns False when the
        ``delta`` package is absent or the directory is not a Delta table
        (no ``_delta_log``), in which case the caller falls back to the
        snapshot-swap path.  Gated behind an import probe so environments
        with delta-spark get real ACID merges with zero code change."""
        try:
            from delta.tables import DeltaTable  # type: ignore[import-not-found]
        except ImportError:
            return False
        path = self.data_dir(table)
        if not DeltaTable.isDeltaTable(self.spark, path):
            return False
        target = DeltaTable.forPath(self.spark, path)
        cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in keys)
        builder = target.alias("t").merge(df.alias("s"), cond)
        if when_matched:
            builder = builder.whenMatchedUpdateAll()
        if when_not_matched:
            builder = builder.whenNotMatchedInsertAll()
        builder.execute()
        return True

    # -- snapshot swap ---------------------------------------------------
    def _swap_in(
        self, df: DataFrame, table: str, partition_by: list[str] | None = None
    ) -> None:
        """Write ``df`` to a new snapshot dir, then repoint ``data``.

        The write fully materializes BEFORE the old directory is touched,
        so a plan that lazily reads the old snapshot (as the upsert plan
        does) is never pulled out from under itself.  The swap itself is
        rename-aside → rename-in → delete-old, so a COMPLETE copy of the
        table exists on disk at every step: a crash leaves either the old
        data live, or the old data under ``.old-<ts>`` with the new
        snapshot orphaned-but-complete, or the new data live with a stale
        ``.old-<ts>`` to garbage-collect (``vacuum`` sweeps both orphan
        kinds).

        Concurrency contract (precise, and weaker than a commit log):
        WRITERS must be externally serialized — two concurrent swaps can
        interleave their renames and strand a snapshot.  READERS never see
        a torn table — every visible ``data`` directory is a complete
        snapshot, never a mix of two — but a reader that resolved the file
        listing before the swap can fail mid-scan with a missing-file
        error once the old snapshot directory is deleted, and on
        eventually-consistent object stores list-after-rename can
        transiently surface neither directory.  Delta/Iceberg close
        exactly this gap with a transaction log (readers pin a log
        version, old files are retained until vacuum); ``merge`` routes to
        Delta when available for that reason.
        """
        ts = int(time.time() * 1000)
        tmp = f"{self.table_dir(table)}/.snapshot-{ts}"
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        fs, data_path, jvm = self._fs(self.data_dir(table))
        tmp_path = jvm.org.apache.hadoop.fs.Path(tmp)
        old_path = jvm.org.apache.hadoop.fs.Path(
            f"{self.table_dir(table)}/.old-{ts}"
        )
        had_old = fs.exists(data_path)
        if had_old and not fs.rename(data_path, old_path):
            raise PipelineRunError(f"snapshot swap failed for table {table!r}")
        if not fs.rename(tmp_path, data_path):
            # roll the old data back into place so reads keep working
            if had_old:
                fs.rename(old_path, data_path)
            raise PipelineRunError(f"snapshot swap failed for table {table!r}")
        if had_old:
            fs.delete(old_path, True)


def _check_batch_id(batch_id: str) -> None:
    """A batch id names a file in a plain lake's ledger, so it must be a
    plain token: no ``/``, not empty, not ``.`` or ``..``."""
    if "/" in batch_id or batch_id in ("", ".", ".."):
        raise ValueError(f"batch_id {batch_id!r} must be a plain token")


def _merge_clauses(when_matched: str | None, when_not_matched: str | None) -> bool:
    """Validate MERGE clauses: ``when_matched`` is ``"update_all"`` or
    None, ``when_not_matched`` is ``"insert_all"`` or None, anything else
    raises ``WrongMethodError``.  False when both are None: the merge
    has nothing to do."""
    if when_matched not in ("update_all", None):
        raise WrongMethodError(f"unknown when_matched {when_matched!r}")
    if when_not_matched not in ("insert_all", None):
        raise WrongMethodError(f"unknown when_not_matched {when_not_matched!r}")
    return when_matched is not None or when_not_matched is not None


_Z_BITS = 16  # per-column range-bucket resolution of the Morton curve


def _zorder_cluster(df: DataFrame, cols: list[str], n_files: int) -> DataFrame:
    """Range-partition + sort ``df`` on a Morton (Z-)curve over ``cols``.

    Each column maps to a ``_Z_BITS``-bit bucket by linear range
    normalization — dates/timestamps through their epoch numbers, so any
    orderable numeric works; the per-column min/max come from ONE fused
    bounded aggregate (2·|cols| values).  Buckets interleave bitwise into
    the z-value (column i owns bit positions i, i+|cols|, i+2|cols|, …),
    the frame range-partitions and sorts on it, and the helper column is
    dropped — the layout changes, the data does not.  Constant columns
    (max == min) bucket to 0 and simply drop out of the curve.

    Guards (round-9 ADVICE): non-orderable column types raise up front
    (a silent CAST-to-DOUBLE of a string column would NULL out and
    collapse the curve); an empty / all-NULL table (MIN/MAX = NULL)
    falls back to a plain ``coalesce(n_files)`` rewrite — there is no
    data to cluster."""
    if len(cols) < 2:
        raise ValueError("zorder_by needs at least 2 columns")
    exact_ok = {"tinyint", "smallint", "int", "bigint", "float", "double", "date"}
    ncols = []
    dtypes = dict(df.dtypes)
    for c in cols:
        dt = dtypes.get(c)
        if dt is None:
            raise ValueError(f"zorder_by column {c!r} is not in the table")
        if dt == "date":
            ncols.append(f"CAST(datediff({c}, DATE '1970-01-01') AS DOUBLE)")
        elif dt.startswith("timestamp"):
            # CAST(ts AS DOUBLE) = epoch seconds; works for ntz too
            ncols.append(f"CAST(CAST({c} AS TIMESTAMP) AS DOUBLE)")
        elif dt in exact_ok or dt.startswith("decimal"):
            ncols.append(f"CAST({c} AS DOUBLE)")
        else:
            raise ValueError(
                f"zorder_by column {c!r} has non-orderable type {dt!r} — "
                "z-ordering needs numeric/date/timestamp columns"
            )
    stats = df.agg(
        *[F.expr(f"MIN({e})").alias(f"mn_{i}") for i, e in enumerate(ncols)],
        *[F.expr(f"MAX({e})").alias(f"mx_{i}") for i, e in enumerate(ncols)],
    ).collect()[0]
    if any(
        stats[f"mn_{i}"] is None or stats[f"mx_{i}"] is None
        for i in range(len(ncols))
    ):
        # empty table or an all-NULL z-column: nothing to cluster
        return df.coalesce(n_files)
    top = (1 << _Z_BITS) - 1
    bucket_exprs = []
    for i, e in enumerate(ncols):
        mn, mx = float(stats[f"mn_{i}"]), float(stats[f"mx_{i}"])
        if mx <= mn:
            bucket_exprs.append("CAST(0 AS BIGINT)")
        else:
            bucket_exprs.append(
                f"CAST(FLOOR(({e} - {mn!r}) * {float(top)!r}"
                f" / {mx - mn!r}) AS BIGINT)"
            )
    k = len(cols)
    terms = []
    for i, b in enumerate(bucket_exprs):
        for bit in range(_Z_BITS):
            terms.append(f"(SHIFTLEFT(SHIFTRIGHT({b}, {bit}) & 1, {bit * k + i}))")
    z = " + ".join(terms)
    return (
        df.withColumn("__z", F.expr(z))
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
