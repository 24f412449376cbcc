"""Validation operators (SURVEY.md §2.4, V1-V5) as distributed checks.

Every check that touches data runs as a Spark job returning a boolean or
tiny count — never a ``collect()`` of data rows — so the same code is safe
on a 100 TB input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from df_to_azure_spark.exceptions import (
    DoubleColumnNamesError,
    DuplicateKeysError,
    EngineConfigError,
    MissingIdFieldError,
    PipelineRunError,
    WrongMethodError,
)

VALID_METHODS = ("create", "append", "upsert")


def validate_method(method: str) -> None:
    """V: method whitelist (reference ``settings.py:27-30``)."""
    if method not in VALID_METHODS:
        raise WrongMethodError(
            f"method must be one of {VALID_METHODS}, got {method!r}"
        )


def validate_id_field(method: str, id_field: list[str] | None) -> list[str]:
    """V3: upsert requires keys (reference ``settings.py:32-34``).
    Normalizes a single key name to a list (``settings.py:21``)."""
    if method != "upsert":
        return id_field or []
    if not id_field:
        raise MissingIdFieldError("method='upsert' requires id_field")
    return [id_field] if isinstance(id_field, str) else list(id_field)


def ensure_unique_column_names(df: DataFrame) -> None:
    """V1: duplicate column names are an error in both sink paths
    (reference ``utils.py:92-97``)."""
    seen: set[str] = set()
    dupes = [c for c in df.columns if c in seen or seen.add(c)]
    if dupes:
        raise DoubleColumnNamesError(
            f"duplicate column names in DataFrame: {sorted(set(dupes))}"
        )


def _duplicate_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    return (
        df.select(*keys)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


def _raise_duplicate_keys(df: DataFrame, keys: list[str]) -> None:
    sample = [r.asDict() for r in _duplicate_keys(df, keys).limit(5).collect()]
    raise DuplicateKeysError(
        f"duplicate key values for id_field={keys}: e.g. {sample}"
    )


def ensure_unique_keys(df: DataFrame, keys: list[str]) -> None:
    """V2: upsert keys must be unique in the new data, checked BEFORE any
    write (reference ``utils.py:87-89``).  Distributed: a groupBy on the
    keys with an any-dup probe; map-side partial aggregation means the
    shuffle carries at most one row per distinct key, and ``isEmpty``
    stops at the first offending partition.
    """
    if not _duplicate_keys(df, keys).isEmpty():
        _raise_duplicate_keys(df, keys)


def key_envelope(
    df: DataFrame, keys: list[str], unique: bool = True
) -> dict[str, tuple] | None:
    """V2 plus the NULL-key check and the key envelope of a keyed write,
    from ONE aggregate: a ``groupBy(keys)`` (skipped when ``unique`` is
    False) followed by a global aggregate of the group sizes, the
    NULL-key groups and each key column's min/max.  A duplicate key
    raises ``DuplicateKeysError`` (its sample rows are fetched only on
    that path); a NULL key raises ``PipelineRunError``, because it never
    matches and is invisible to range pruning.  Returns ``{key: (min,
    max)}``, or None for an empty ``df``."""
    cols = [F.col(f"`{k}`") for k in keys]
    null_key = F.expr(" OR ".join(f"`{k}` IS NULL" for k in keys))
    aggs = [F.count(F.when(null_key, 1)).alias("__null_keys")]
    for k, c in zip(keys, cols):
        aggs += [F.min(c).alias(f"mn__{k}"), F.max(c).alias(f"mx__{k}")]
    if unique:
        groups = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("__n"))
        aggs.append(F.max("__n").alias("__max_n"))
        env = groups.agg(*aggs).collect()[0]
        if (env["__max_n"] or 0) > 1:
            _raise_duplicate_keys(df, keys)
    else:
        env = df.agg(*aggs).collect()[0]
    if env["__null_keys"]:
        raise PipelineRunError(
            f"keyed write: delta contains NULL values in key(s) "
            f"{keys!r}; keys must be non-NULL"
        )
    if env[f"mn__{keys[0]}"] is None:
        return None
    return {k: (env[f"mn__{k}"], env[f"mx__{k}"]) for k in keys}


def validate_required_options(options: dict, required: list[str]) -> None:
    """V6: required-config presence check (the reference defines
    ``check_env_variables`` over 15 ADF env vars but never calls it,
    ``adf.py:62-91``; here the intent is implemented for callers that
    need connection settings)."""
    missing = [k for k in required if not options.get(k)]
    if missing:
        raise EngineConfigError(f"missing required options: {missing}")


def is_empty(df: DataFrame) -> bool:
    """V4: empty-input short-circuit (reference ``export.py:96-99``).
    Applied to BOTH sink paths here (the reference's parquet path skips
    it — asymmetry documented in SURVEY §2.4)."""
    return df.isEmpty()
