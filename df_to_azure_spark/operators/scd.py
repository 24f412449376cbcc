"""SCD Type-2 apply: keyed upsert that KEEPS history.

Extends the engine's row-level upsert (W4) to the slowly-changing-
dimension shape: instead of overwriting matched rows, close their
validity interval and append the new version.

Given ``current`` with (payload, valid_from, valid_to NULL = open) and a
``delta`` of new versions effective at ``effective_ts``:

- open rows whose key appears in the delta  → closed (valid_to = ts);
- open rows with no delta match             → unchanged;
- already-closed history rows               → unchanged;
- every delta row                            → new open version
  (valid_from = ts, valid_to = NULL).

Pure DataFrame algebra: one broadcast-able semi/anti split on the delta's
key set + a union — same scale profile as ``upsert_frames``.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from df_to_azure_spark.checks import ensure_unique_keys


def scd2_apply(
    current: DataFrame,
    delta: DataFrame,
    keys: list[str],
    effective_ts: dt.datetime,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Apply ``delta`` (payload columns only, no validity columns) to the
    versioned ``current`` table at ``effective_ts``.  ``delta``'s keys
    must be unique (``DuplicateKeysError`` otherwise): two new versions
    of one key would both open."""
    ensure_unique_keys(delta, keys)
    ts = F.lit(effective_ts).cast(current.schema[valid_from].dataType)
    delta_keys = F.broadcast(delta.select(*keys).dropDuplicates(keys))

    is_open = F.col(valid_to).isNull()
    open_rows = current.where(is_open)
    closed_rows = current.where(~is_open)

    to_close = open_rows.join(delta_keys, on=keys, how="left_semi").withColumn(
        valid_to, ts
    )
    untouched_open = open_rows.join(delta_keys, on=keys, how="left_anti")

    new_versions = delta.withColumn(valid_from, ts).withColumn(
        valid_to, F.lit(None).cast(current.schema[valid_to].dataType)
    )

    return (
        closed_rows.unionByName(to_close)
        .unionByName(untouched_open)
        .unionByName(new_versions.select(*current.columns))
    )
