"""Keyed MERGE for SQL targets (reference W3, ``db.py:20-73``).

The reference stages new rows in ``staging.{table}`` and runs a generated
T-SQL ``MERGE`` stored procedure inside Azure SQL (copy activity →
stored-proc activity).  Spark has no JDBC upsert writer, so we keep the
shape: write the staging table with the JDBC sink, execute a generated
``MERGE`` statement over a plain JDBC connection, drop staging.  The data
movement is distributed (executors write staging in parallel); only the
set-based MERGE runs in-database — exactly like the reference.

Semantics pinned by the reference tests (``test_upsert.py``):
- equi-match on the key column(s);
- WHEN MATCHED → UPDATE every non-key column;
- WHEN NOT MATCHED BY TARGET → INSERT;
- **no DELETE clause** — target-only rows survive;
- column names are whitespace-stripped and bracket-quoted (spaces in
  names are legal, ``db.py:18,21-34``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _bq(name: str) -> str:
    """Bracket-quote a (stripped) identifier, T-SQL style."""
    return "[" + name.strip().replace("]", "]]") + "]"


def _dq(name: str) -> str:
    """Double-quote an identifier (ANSI).  Spark's JDBC writer quotes
    column names on CREATE, so they keep their exact case and the MERGE
    must quote them identically."""
    return '"' + name.strip().replace('"', '""') + '"'


def _plain(name: str) -> str:
    """Unquoted identifier — case-folds; matches how Spark passes the
    ``dbtable`` string through unquoted."""
    return name.strip()


def _tick(name: str) -> str:
    """Backtick-quote an identifier, MySQL style."""
    return "`" + name.strip().replace("`", "``") + "`"


def merge_statement(
    table: str,
    columns: list[str],
    keys: list[str],
    target_schema: str = "dbo",
    staging_schema: str = "staging",
    dialect: str = "tsql",
) -> str:
    """The MERGE text the reference wraps in ``UPSERT_{table}``
    (``db.py:36-53``); generated, never string-formatted from user data
    beyond identifier quoting.  ``dialect='tsql'`` bracket-quotes and uses
    T-SQL's ``NOT MATCHED BY TARGET``; ``'ansi'`` emits unquoted
    identifiers and plain ``NOT MATCHED`` (Derby, H2, ...);
    ``'postgres'`` emits the native upsert form ``INSERT ... ON CONFLICT
    (keys) DO UPDATE SET col = EXCLUDED.col`` (``DO NOTHING`` when every
    column is a key), double-quoted so Spark-JDBC-created mixed-case
    identifiers resolve; ``'mysql'`` emits backtick-quoted ``INSERT ...
    AS s ON DUPLICATE KEY UPDATE col = s.col`` (8.0.19+ row-alias form;
    when every column is a key, a self-assignment no-op
    ``ON DUPLICATE KEY UPDATE k = tbl.k`` — not ``INSERT IGNORE``, which
    downgrades *all* row errors to silent skips, far broader than the
    postgres ``DO NOTHING`` it mirrors).  Like postgres'
    ON CONFLICT, the mysql form requires the match keys to be the
    target's PRIMARY/UNIQUE key — that is what the reference's upsert
    contract guarantees (``df_to_azure/db.py:36-53`` merges on the id
    field it just made the clustered key).  All dialects share the
    reference's MERGE semantics: match on the keys, update the
    non-keys, insert absentees, never DELETE."""
    if dialect not in ("tsql", "ansi", "postgres", "mysql"):
        raise ValueError(
            f"unknown dialect {dialect!r} (tsql, ansi, postgres, mysql)"
        )
    cols = [c.strip() for c in columns]
    key_set = {k.strip() for k in keys}
    non_keys = [c for c in cols if c not in key_set]
    if dialect == "mysql":
        q = _tick
        col_list = ", ".join(q(c) for c in cols)
        src = f"{q(staging_schema)}.{q(table)}"
        if non_keys:
            update = ", ".join(f"{q(c)} = s.{q(c)}" for c in non_keys)
            lines = [
                f"INSERT INTO {q(target_schema)}.{q(table)} ({col_list})",
                f"SELECT {col_list} FROM {src} AS s",
                f"ON DUPLICATE KEY UPDATE {update}",
            ]
        else:
            # All-keys case: a duplicate must be a NO-OP, matching postgres'
            # DO NOTHING.  NOT `INSERT IGNORE` — IGNORE downgrades ALL row
            # errors (truncation, NOT NULL, FK violations) to silent skips,
            # far broader than a key-conflict skip.  The self-assignment
            # update form only suppresses the duplicate-key error.  Caveat
            # shared with the row-alias form above: ON DUPLICATE KEY fires
            # on ANY unique index of the target, not only the declared
            # match keys.
            # `tbl`.`col` (no schema qualifier) is MySQL's documented form
            # for referencing the target row inside ODKU; the fully
            # schema-qualified reference is not accepted by all versions.
            k0 = q(sorted(key_set)[0])
            lines = [
                f"INSERT INTO {q(target_schema)}.{q(table)} ({col_list})",
                f"SELECT {col_list} FROM {src}",
                f"ON DUPLICATE KEY UPDATE {k0} = {q(table)}.{k0}",
            ]
        return "\n".join(lines) + ";"
    if dialect == "postgres":
        q = _dq
        col_list = ", ".join(q(c) for c in cols)
        conflict_cols = ", ".join(q(k.strip()) for k in keys)
        # `WHERE true` disambiguates the upsert clause from a join when the
        # INSERT source is a SELECT — required by SQLite's parser, harmless
        # (and documented as the portable form) in postgres
        lines = [
            f"INSERT INTO {q(target_schema)}.{q(table)} AS t ({col_list})",
            f"SELECT {col_list} FROM {q(staging_schema)}.{q(table)} WHERE true",
        ]
        if non_keys:
            update = ", ".join(f"{q(c)} = EXCLUDED.{q(c)}" for c in non_keys)
            lines.append(f"ON CONFLICT ({conflict_cols}) DO UPDATE SET {update}")
        else:
            lines.append(f"ON CONFLICT ({conflict_cols}) DO NOTHING")
        return "\n".join(lines) + ";"
    q = _bq if dialect == "tsql" else _dq        # column identifiers
    qt = _bq if dialect == "tsql" else _plain    # schema/table identifiers
    on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in keys)
    update = ", ".join(f"t.{q(c)} = s.{q(c)}" for c in non_keys)
    insert_cols = ", ".join(q(c) for c in cols)
    insert_vals = ", ".join(f"s.{q(c)}" for c in cols)
    not_matched = "WHEN NOT MATCHED BY TARGET" if dialect == "tsql" else "WHEN NOT MATCHED"
    lines = [
        f"MERGE INTO {qt(target_schema)}.{qt(table)} AS t",
        f"USING {qt(staging_schema)}.{qt(table)} AS s",
        f"ON {on}",
    ]
    if update:
        lines.append(f"WHEN MATCHED THEN UPDATE SET {update}")
    lines.append(f"{not_matched} THEN INSERT ({insert_cols}) VALUES ({insert_vals})")
    return "\n".join(lines) + (";" if dialect == "tsql" else "")


def upsert_procedure(
    table: str,
    columns: list[str],
    keys: list[str],
    target_schema: str = "dbo",
    staging_schema: str = "staging",
) -> str:
    """Stored-procedure wrapper for byte-compat with targets that want the
    reference's ``UPSERT_{table}`` proc (``db.py:36-41``)."""
    body = merge_statement(table, columns, keys, target_schema, staging_schema)
    return f"CREATE OR ALTER PROCEDURE {_bq(f'UPSERT_{table}')} AS\nBEGIN\n{body}\nEND;"


def create_staging_statement(
    table: str,
    target_schema: str = "dbo",
    staging_schema: str = "staging",
    dialect: str = "tsql",
) -> str:
    """An empty ``staging.{table}`` with the target's own column types,
    so the staged rows need no type inference of their own: T-SQL
    ``SELECT TOP 0 * INTO``, postgres and mysql ``LIKE``, ANSI (Derby)
    ``CREATE TABLE ... AS SELECT ... WITH NO DATA``.  The staging table
    must not exist; drop it first (:func:`drop_staging_statement`)."""
    if dialect == "tsql":
        return (
            f"SELECT TOP 0 * INTO {_bq(staging_schema)}.{_bq(table)} "
            f"FROM {_bq(target_schema)}.{_bq(table)};"
        )
    if dialect == "postgres":
        return (
            f"CREATE TABLE {_dq(staging_schema)}.{_dq(table)} "
            f"(LIKE {_dq(target_schema)}.{_dq(table)});"
        )
    if dialect == "mysql":
        return (
            f"CREATE TABLE {_tick(staging_schema)}.{_tick(table)} "
            f"LIKE {_tick(target_schema)}.{_tick(table)};"
        )
    return (
        f"CREATE TABLE {_plain(staging_schema)}.{_plain(table)} AS "
        f"SELECT * FROM {_plain(target_schema)}.{_plain(table)} WITH NO DATA"
    )


def drop_staging_statement(
    table: str, staging_schema: str = "staging", dialect: str = "tsql"
) -> str:
    """Cleanup after the merge (reference ``export.py:284-292``).  ANSI
    dialects without ``IF EXISTS`` get the plain DROP; callers swallow
    the does-not-exist error."""
    if dialect == "tsql":
        return f"DROP TABLE IF EXISTS {_bq(staging_schema)}.{_bq(table)};"
    if dialect == "postgres":
        return f"DROP TABLE IF EXISTS {_dq(staging_schema)}.{_dq(table)};"
    if dialect == "mysql":
        return f"DROP TABLE IF EXISTS {_tick(staging_schema)}.{_tick(table)};"
    return f"DROP TABLE {_plain(staging_schema)}.{_plain(table)}"


def execute_statement(df_or_spark, url: str, properties: dict[str, str], sql: str) -> None:
    """Run a DDL/DML statement over JDBC via the JVM ``DriverManager`` —
    the py4j equivalent of the reference's pyodbc ``execute_stmt``
    (``db.py:104-119``).  Requires the JDBC driver jar on the Spark
    classpath; raises a plain RuntimeError otherwise so callers can gate.
    """
    spark = df_or_spark if not isinstance(df_or_spark, DataFrame) else df_or_spark.sparkSession
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    for k, v in properties.items():
        props.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        stmt = conn.createStatement()
        try:
            stmt.execute(sql)
        finally:
            stmt.close()
    finally:
        conn.close()
