"""Streaming → SQL sink bridge: land a structured stream in a JDBC table
through ``foreachBatch``, with replay-safe batch handling.

Spark's JDBC writer has no native streaming sink; the standard pattern is
``foreachBatch``, which hands each micro-batch to the batch writer.  On
failure/restart Spark MAY re-deliver the last uncommitted batch (the
checkpoint records progress after the handler returns), so a plain append
would double-write.  Exactly-once lands here as idempotence, two ways:

- ``id_field`` given → each batch is applied as a keyed staged-MERGE
  upsert, idempotent under replay by construction (re-merging the same
  rows is a no-op);
- no keys → batches APPEND, guarded by a ``<table>_batches`` ledger that
  records every applied ``batch_id``; a re-delivered batch is recognized
  and skipped.  The ledger insert runs after the data append, so the
  keyed path is the strict one — the ledger path is at-least-once with a
  one-batch replay window on crash between append and ledger insert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def make_batch_handler(
    sink,
    table: str,
    schema: str = "dbo",
    id_field: list[str] | str | None = None,
):
    """The ``foreachBatch`` handler, exposed for direct testing (replay
    semantics are exercised by invoking it twice with one batch_id)."""
    from df_to_azure_spark.operators import merge as merge_mod

    ledger = f"{table}_batches"
    keys = [id_field] if isinstance(id_field, str) else list(id_field or [])
    # once a table is observed to exist it can never un-exist; cache the
    # positive answer so long streams don't pay a JDBC probe per batch
    _known_exists: set[str] = set()

    def _exec(sql: str) -> None:
        merge_mod.execute_statement(sink.spark, sink.url, sink.properties, sql)

    def _is_missing_table_error(exc: Exception) -> bool:
        msg = str(exc).lower()
        return any(
            frag in msg
            for frag in ("does not exist", "not found", "cannot be found", "unknown table")
        )

    def _table_exists(name: str) -> bool:
        if name in _known_exists:
            return True
        try:
            (
                sink.spark.read.format("jdbc")
                .option("url", sink.url)
                .options(**sink.properties)
                .option("dbtable", f"{schema}.{name}")
                .load()
                .limit(1)
                .count()
            )
            _known_exists.add(name)
            return True
        except Exception as exc:
            # ONLY a genuinely-missing table maps to False; a transient
            # JDBC failure must propagate — treating it as "missing"
            # would route to create-over-existing or double-apply a batch
            if _is_missing_table_error(exc):
                return False
            raise

    def _ledger_has(batch_id: int) -> bool:
        if not _table_exists(ledger):
            return False
        rows = (
            sink.spark.read.format("jdbc")
            .option("url", sink.url)
            .options(**sink.properties)
            # push the predicate into the database, not a full table scan
            .option(
                "dbtable",
                f"(SELECT batch_id FROM {schema}.{ledger} "
                f"WHERE batch_id = {int(batch_id)}) AS probe",
            )
            .load()
            .limit(1)
            .count()
        )
        return rows > 0

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if keys:
            # first batch creates the table (typed DDL), later ones MERGE
            method = "upsert" if _table_exists(table) else "create"
            sink.write(batch_df, table, schema=schema, method=method, id_field=keys)
            _known_exists.add(table)
            return
        if _ledger_has(batch_id):
            return  # replayed batch — already applied
        method = "append" if _table_exists(table) else "create"
        sink.write(batch_df, table, schema=schema, method=method)
        _known_exists.add(table)
        if not _table_exists(ledger):
            _exec(f"CREATE TABLE {schema}.{ledger} (batch_id BIGINT)")
            _known_exists.add(ledger)
        _exec(
            f"INSERT INTO {schema}.{ledger} (batch_id) VALUES ({int(batch_id)})"
        )

    return handle


def stream_to_sql(
    stream_df: DataFrame,
    sink,
    table: str,
    schema: str = "dbo",
    checkpoint_dir: str | None = None,
    id_field: list[str] | str | None = None,
):
    """Start a ``StreamingQuery`` landing ``stream_df`` into
    ``schema.table`` through ``sink`` (a configured ``SqlSink``)."""
    handle = make_batch_handler(sink, table, schema=schema, id_field=id_field)
    writer = stream_df.writeStream.foreachBatch(handle).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def make_lake_batch_handler(
    lake,
    table: str,
    id_field: list[str] | str | None = None,
):
    """``foreachBatch`` handler landing micro-batches in a
    :class:`~df_to_azure_spark.operators.lake.ParquetLake` table — the
    lake twin of :func:`make_batch_handler`, same replay contract:

    - ``id_field`` given → each batch applies as a keyed lake upsert,
      idempotent under replay by construction.  On a
      :class:`~df_to_azure_spark.operators.manifest.VersionedLake` a
      batch with a NULL key raises before any write: a NULL key never
      matches, so a replay would insert its row again;
    - no keys → batches APPEND under the id ``epoch-<batch_id>`` in the
      lake's batch ledger, and a replayed epoch the ledger already holds
      is skipped.  A ``VersionedLake`` commits the id in the same atomic
      manifest publish as the data, so the sink is exactly-once (the
      Delta streaming sink's txn version in the commit).  A plain
      ``ParquetLake`` writes a marker file after the data, so the sink
      is at-least-once, with a one-batch replay window on a crash
      between the two.
    """
    keys = [id_field] if isinstance(id_field, str) else list(id_field or [])

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        exists = lake.exists(table)
        if keys:
            lake.write(
                batch_df, table, method="upsert" if exists else "create",
                id_field=keys,
            )
            return
        epoch = f"epoch-{int(batch_id)}"
        if lake.has_batch(table, epoch):
            return  # replayed epoch — already applied
        lake.write(
            batch_df, table, method="append" if exists else "create",
            batch_id=epoch,
        )

    return handle


def stream_to_lake(
    stream_df: DataFrame,
    lake,
    table: str,
    checkpoint_dir: str | None = None,
    id_field: list[str] | str | None = None,
):
    """Start a ``StreamingQuery`` landing ``stream_df`` in a lake table."""
    handle = make_lake_batch_handler(lake, table, id_field=id_field)
    writer = stream_df.writeStream.foreachBatch(handle).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
