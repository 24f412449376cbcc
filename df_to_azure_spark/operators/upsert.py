"""Keyed upsert as pure DataFrame algebra (reference W3/W4 semantics).

The reference implements lake upsert client-side in pandas
(``export.py:362-404``): new rows replace matching-key target rows,
target-only rows survive, result is key-sorted.  Both its branches
(``combine_first`` and the NaN-path ``concat+drop_duplicates``) reduce to
row-level replace on every test it pins (SURVEY §7 "what's hard"), so the
canonical distributed form is::

    new  UNION ALL  (existing ANTI-JOIN new ON keys)   ORDER BY keys

Scale notes (100 TB target):
- the anti-join probes ``existing`` with only the KEY COLUMNS of ``new``
  — we select the keys before joining so the broadcast/shuffle carries no
  payload columns;
- when ``new`` is a small delta against a large target (the common upsert
  shape), its key set is broadcast, so the big side never shuffles;
- ``unionByName`` avoids positional-column bugs when the two sides were
  written at different times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from df_to_azure_spark.checks import ensure_unique_keys
from df_to_azure_spark.exceptions import ColumnMismatchError


def check_same_columns(new: DataFrame, existing: DataFrame) -> None:
    """Reference requires identical column sets for lake upsert
    (``export.py:385-390``, symmetric difference check)."""
    diff = set(new.columns) ^ set(existing.columns)
    if diff:
        raise ColumnMismatchError(
            f"columns of new and existing data differ: {sorted(diff)}"
        )


def upsert_frames(
    new: DataFrame,
    existing: DataFrame,
    keys: list[str],
    sort: bool = True,
) -> DataFrame:
    """Row-level keyed upsert; see module docstring for the algebra.

    The key columns of ``new`` are broadcast for the anti-join — correct
    whenever the delta's keys fit in executor memory (deltas
    are usually ≪ target).  Keys of ``new`` are not validated here: the
    write verb that calls this checks them first.
    """
    check_same_columns(new, existing)
    # an anti join's result does not depend on how often a key repeats
    # on the right, so the key side needs no dedup shuffle
    new_keys = F.broadcast(new.select(*keys))
    survivors = existing.join(new_keys, on=keys, how="left_anti")
    out = new.unionByName(survivors)
    if sort:
        # reference output is key-sorted (export.py:397,402); at scale this
        # is a range-partitioned sort — drop it (sort=False) when the
        # consumer doesn't need ordered storage.
        out = out.orderBy(*keys)
    return out


def merge_frames(
    new: DataFrame,
    existing: DataFrame,
    keys: list[str],
    when_matched: str | None = "update_all",
    when_not_matched: str | None = "insert_all",
) -> DataFrame:
    """MERGE algebra with Delta-style clause selection (SURVEY §2.3 W3):

    - both clauses         → classic upsert (``upsert_frames``);
    - ``update_all`` only  → matched target rows replaced, delta-only
      keys DROPPED (a correction pass that admits no new rows);
    - ``insert_all`` only  → target rows untouched, unmatched delta rows
      appended (idempotent append-if-absent ingestion).

    Shuffle shape: each branch is one semi/anti join on the key columns
    plus a union — the delta's key set is the only thing joined against
    the big side, so the target never carries payload through a shuffle
    it doesn't need.  ``ParquetLake.merge`` materializes this through the
    snapshot swap (or hands the clauses to Delta when available).  As
    for ``upsert_frames``, the caller validates the keys."""
    check_same_columns(new, existing)
    if when_matched and when_not_matched:
        return upsert_frames(new, existing, keys, sort=False)
    existing_keys = existing.select(*keys)
    if when_matched:
        updates = new.join(existing_keys, keys, "left_semi")
        new_keys = F.broadcast(new.select(*keys))
        return updates.unionByName(existing.join(new_keys, keys, "left_anti"))
    if when_not_matched:
        inserts = new.join(existing_keys, keys, "left_anti")
        return existing.unionByName(inserts)
    return existing


def upsert_frames_cell_level(
    new: DataFrame,
    existing: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Cell-level coalesce variant — pandas ``combine_first`` exact
    semantics (``export.py:399-404``): for matched keys take the NEW value
    unless it is NULL, then keep the old; unmatched rows pass through.

    Full-outer join on keys + per-column ``coalesce(new, old)``.  Provided
    for parity completeness; the row-level form is the default because
    every reference test degenerates to it.
    """
    check_same_columns(new, existing)
    ensure_unique_keys(new, keys)
    value_cols = [c for c in new.columns if c not in keys]
    n = new.alias("n")
    e = existing.alias("e")
    joined = n.join(e, on=keys, how="full_outer")
    cols = [F.col(k) for k in keys] + [
        F.coalesce(F.col(f"n.{c}"), F.col(f"e.{c}")).alias(c) for c in value_cols
    ]
    return joined.select(*cols).orderBy(*keys)


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Change-data-capture between two versions of a table: one row per
    differing key, labeled ``added`` / ``removed`` / ``changed``.

    Full-outer join on the keys; non-key columns compared null-safely
    (``<=>`` semantics — NULL equals NULL, so a NULL→NULL column is not a
    change).  One shuffle per side on the key columns; comparison is a
    projection.  Columns are prefixed before the join so the operator is
    safe even when both versions derive from the same source plan (a
    self-join, where bare attribute references are ambiguous).  The
    complement operator to ``upsert_frames``: upsert applies a delta,
    table_diff recovers one."""
    check_same_columns(new, old)
    value_cols = [c for c in new.columns if c not in keys]
    # presence markers, not key-IS-NULL tests: keys may legitimately be
    # NULL (the join matches them null-safely), so row presence must be
    # tracked by a column that is non-null exactly when the side matched
    o = old.select(
        [F.col(c).alias(f"__o_{c}") for c in old.columns]
        + [F.lit(True).alias("__o_present")]
    )
    n = new.select(
        [F.col(c).alias(f"__n_{c}") for c in new.columns]
        + [F.lit(True).alias("__n_present")]
    )
    cond = [F.col(f"__o_{k}").eqNullSafe(F.col(f"__n_{k}")) for k in keys]
    joined = o.join(n, cond, "full_outer")
    changed = F.lit(False)
    for c in value_cols:
        changed = changed | ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    change_type = (
        F.when(F.col("__o_present").isNull(), F.lit("added"))
        .when(F.col("__n_present").isNull(), F.lit("removed"))
        .when(changed, F.lit("changed"))
    )
    key_out = [
        F.coalesce(F.col(f"__n_{k}"), F.col(f"__o_{k}")).alias(k) for k in keys
    ]
    return (
        joined.select(*key_out, change_type.alias("change_type"))
        .where(F.col("change_type").isNotNull())
    )
