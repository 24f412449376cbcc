"""Write-audit-publish (WAP): gate every lake publish behind a
declarative expectations audit, so a bad batch can never land in the
serving table.

The Iceberg/DLT pattern: stage → audit → publish.  Here the audit is
the one-scan fused-aggregate report from ``operators.expectations``,
and the publish is the lake's snapshot-swap write — if ANY rule exceeds
its violation tolerance the publish raises and the target table is left
byte-identical (nothing was written).  Optionally the violating rows
divert to a quarantine table (DLT's ``expect_or_drop``) and only the
clean rows publish.

The reference ships frames to Azure unconditionally
(`/root/reference/df_to_azure/export.py` upload flow — no audit gate);
engine-extension per the governance brief.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from df_to_azure_spark.exceptions import PipelineRunError
from df_to_azure_spark.operators.expectations import (
    Expectation,
    evaluate_expectations,
)
from df_to_azure_spark.operators.lake import ParquetLake, _check_batch_id

__all__ = ["AuditFailedError", "PublishReport", "publish_with_audit"]


class AuditFailedError(PipelineRunError):
    """The expectations audit exceeded tolerance; nothing was published."""


@dataclass(frozen=True)
class PublishReport:
    table: str
    n_rows_in: int
    n_rows_published: int
    n_rows_quarantined: int
    audit: list  # Row(rule, n_rows, n_violations, pass) per rule


def publish_with_audit(
    lake: ParquetLake,
    df: DataFrame,
    table: str,
    rules: list[Expectation],
    method: str = "create",
    id_field: list[str] | str | None = None,
    max_violation_frac: float = 0.0,
    quarantine_table: str | None = None,
    batch_id: str | None = None,
) -> PublishReport:
    """Audit ``df`` against ``rules``, then publish via the lake writer.

    - ``max_violation_frac = 0.0`` (default): any violating row on any
      rule aborts with ``AuditFailedError`` — the strict gate.
    - With ``quarantine_table``: rows violating ANY rule are written
      there (append) and only clean rows publish; the tolerance then
      applies to the QUARANTINED fraction, so a feed that suddenly
      rots past the threshold still aborts instead of silently
      quarantining itself away.

    Retry contract (round-9 ADVICE): retries are safe by construction
    for idempotent methods (``create`` overwrites, ``upsert`` is keyed).
    For ``method='append'`` pass a caller-stable ``batch_id`` (a plain
    token).  The publish write then records it in the table's batch
    ledger (``lake.write(batch_id=...)``), and a retry that finds it
    there (``lake.has_batch``) SKIPS the clean-row write instead of
    duplicating already-published rows.  The quarantine append carries
    its own derived id, ``<batch_id>.q``, so a retry after a crash
    anywhere in this function duplicates neither table and replays only
    the write that is missing.  An ``append`` without ``batch_id`` keeps
    the documented non-atomic window: a crash after the publish write
    but before return means a blind retry appends the batch twice.

    How safe a marked write is depends on the lake's ledger: a
    :class:`~df_to_azure_spark.operators.manifest.VersionedLake` records
    the id inside the write's manifest commit (exactly-once); a plain
    ``ParquetLake`` writes a marker file after the data, so a crash
    between the two re-writes the batch once on retry (duplicates
    possible, drops impossible).

    One audit scan (fused aggregate), one publish write, at most one
    quarantine write — no per-rule passes."""
    if not rules:
        raise ValueError("publish_with_audit needs at least one rule")
    if batch_id is not None:
        _check_batch_id(batch_id)
    already_published = batch_id is not None and lake.has_batch(table, batch_id)
    audit_rows = evaluate_expectations(df, rules).collect()
    n_in = int(audit_rows[0]["n_rows"]) if audit_rows else 0
    worst = max((r["n_violations"] for r in audit_rows), default=0)

    if quarantine_table is None:
        if worst > max_violation_frac * n_in:
            failing = [
                r["rule"] for r in audit_rows if r["n_violations"] > 0
            ]
            raise AuditFailedError(
                f"publish to {table!r} aborted: rules {failing} exceed "
                f"tolerance {max_violation_frac} (worst {worst}/{n_in} rows)"
            )
        if not already_published:
            lake.write(
                df, table, method=method, id_field=id_field, batch_id=batch_id
            )
        return PublishReport(table, n_in, n_in, 0, audit_rows)

    clean_pred = F.lit(True)
    for e in rules:
        clean_pred = clean_pred & F.coalesce(e.condition, F.lit(False))
    # one boolean column, evaluated once per branch — the two writes
    # partition the input exactly
    flagged = df.withColumn("__clean", clean_pred)
    dirty = flagged.where(~F.col("__clean")).drop("__clean")
    clean = flagged.where(F.col("__clean")).drop("__clean")
    n_dirty = dirty.count()
    if n_dirty > max_violation_frac * n_in:
        raise AuditFailedError(
            f"publish to {table!r} aborted: {n_dirty}/{n_in} rows violate "
            f"the rule set, over tolerance {max_violation_frac}"
        )
    # Clean rows publish FIRST, quarantine after (round-8 ADVICE): if the
    # publish write fails, nothing has landed anywhere and a retry of the
    # whole call is clean; the old order left this batch's dirty rows in
    # the quarantine table on a failed publish, so the retry appended
    # them twice.  The two writes are still non-atomic — a crash in the
    # window between them loses only the quarantine audit trail, never
    # published data.  Re-running the call repairs it safely when the
    # method is idempotent (create/upsert) or when ``batch_id`` is set
    # (the ledger makes the retry skip the clean append); an unmarked
    # append retry after a mid-window crash duplicates the published
    # rows — see the retry contract in the docstring.
    if not already_published:
        lake.write(
            clean, table, method=method, id_field=id_field, batch_id=batch_id
        )
    q_batch = None if batch_id is None else f"{batch_id}.q"
    if n_dirty and not (
        q_batch is not None and lake.has_batch(quarantine_table, q_batch)
    ):
        method_q = "append" if lake.exists(quarantine_table) else "create"
        lake.write(dirty, quarantine_table, method=method_q, batch_id=q_batch)
    return PublishReport(table, n_in, n_in - n_dirty, n_dirty, audit_rows)
