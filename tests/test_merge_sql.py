"""Generated MERGE text semantics (reference ``db.py:20-53`` +
``test_upsert.py:137-169`` spaces-in-names)."""

from __future__ import annotations

from df_to_azure_spark.operators.merge import (
    drop_staging_statement,
    merge_statement,
    upsert_procedure,
)


def test_merge_single_key():
    sql = merge_statement("sample", ["col_a", "col_b", "col_c"], ["col_a"])
    assert "MERGE INTO [dbo].[sample] AS t" in sql
    assert "USING [staging].[sample] AS s" in sql
    assert "ON t.[col_a] = s.[col_a]" in sql
    assert "UPDATE SET t.[col_b] = s.[col_b], t.[col_c] = s.[col_c]" in sql
    assert "WHEN NOT MATCHED BY TARGET THEN INSERT ([col_a], [col_b], [col_c])" in sql
    # pinned: no DELETE clause — target-only rows survive
    assert "DELETE" not in sql


def test_merge_composite_key():
    sql = merge_statement("emp", ["employee_id", "week_nr", "hours"], ["employee_id", "week_nr"])
    assert "ON t.[employee_id] = s.[employee_id] AND t.[week_nr] = s.[week_nr]" in sql
    assert "UPDATE SET t.[hours] = s.[hours]" in sql


def test_merge_spaces_and_strip():
    # reference strips whitespace (db.py:18) and bracket-quotes spaces
    sql = merge_statement("s3", [" col a ", "col b"], [" col a "])
    assert "ON t.[col a] = s.[col a]" in sql
    assert "t.[col b] = s.[col b]" in sql


def test_merge_all_key_columns_no_update_clause():
    sql = merge_statement("t", ["a", "b"], ["a", "b"])
    assert "WHEN MATCHED" not in sql
    assert "INSERT ([a], [b])" in sql


def test_procedure_wrapper_and_cleanup():
    proc = upsert_procedure("sample", ["a", "b"], ["a"])
    assert proc.startswith("CREATE OR ALTER PROCEDURE [UPSERT_sample] AS")
    assert drop_staging_statement("sample") == "DROP TABLE IF EXISTS [staging].[sample];"


def test_postgres_on_conflict_golden():
    sql = merge_statement(
        "sales", ["id", "region", "amount"], ["id"],
        target_schema="public", dialect="postgres",
    )
    assert sql == (
        'INSERT INTO "public"."sales" AS t ("id", "region", "amount")\n'
        'SELECT "id", "region", "amount" FROM "staging"."sales" WHERE true\n'
        'ON CONFLICT ("id") DO UPDATE SET "region" = EXCLUDED."region", '
        '"amount" = EXCLUDED."amount";'
    )


def test_postgres_composite_key_and_do_nothing():
    sql = merge_statement(
        "m", ["a", "b"], ["a", "b"], target_schema="public", dialect="postgres"
    )
    # every column is a key: nothing to update, insert-if-absent only —
    # the no-DELETE reference semantics preserved
    assert sql.endswith('ON CONFLICT ("a", "b") DO NOTHING;')
    assert "EXCLUDED" not in sql


def test_postgres_drop_staging_and_unknown_dialect():
    import pytest

    from df_to_azure_spark.operators.merge import drop_staging_statement

    assert drop_staging_statement("t", dialect="postgres") == (
        'DROP TABLE IF EXISTS "staging"."t";'
    )
    with pytest.raises(ValueError, match="unknown dialect"):
        merge_statement("t", ["a"], ["a"], dialect="oracle")


def test_mysql_on_duplicate_key_golden():
    sql = merge_statement(
        "sales", ["id", "region", "amount"], ["id"],
        target_schema="shop", dialect="mysql",
    )
    assert sql == (
        "INSERT INTO `shop`.`sales` (`id`, `region`, `amount`)\n"
        "SELECT `id`, `region`, `amount` FROM `staging`.`sales` AS s\n"
        "ON DUPLICATE KEY UPDATE `region` = s.`region`, "
        "`amount` = s.`amount`;"
    )


def test_mysql_all_key_columns_noop_update():
    sql = merge_statement(
        "m", ["a", "b"], ["a", "b"], target_schema="shop", dialect="mysql"
    )
    # every column is a key: insert-if-absent only, never DELETE.  The
    # no-op self-assignment (NOT `INSERT IGNORE`) suppresses ONLY the
    # duplicate-key error — IGNORE would silently swallow truncation /
    # NOT NULL / FK errors too.  The target reference is `tbl`.`col`
    # (no schema qualifier) — MySQL's documented ODKU disambiguation
    # form; a schema-qualified reference is not universally parsed.
    assert sql == (
        "INSERT INTO `shop`.`m` (`a`, `b`)\n"
        "SELECT `a`, `b` FROM `staging`.`m`\n"
        "ON DUPLICATE KEY UPDATE `a` = `m`.`a`;"
    )


def test_mysql_drop_staging_and_backtick_escape():
    from df_to_azure_spark.operators.merge import drop_staging_statement

    assert drop_staging_statement("t", dialect="mysql") == (
        "DROP TABLE IF EXISTS `staging`.`t`;"
    )
    sql = merge_statement("we`ird", ["i`d", "v"], ["i`d"], dialect="mysql")
    assert "`we``ird`" in sql and "`i``d`" in sql


# ---- hostile identifiers: quoting paths under reserved words and
# ---- embedded quote characters, all four dialects (round-6 negatives)

def test_tsql_bracket_escape_and_reserved_words():
    # ']' inside a name must double to ']]'; reserved words just quote
    sql = merge_statement("or[der", ["select", "ke]y", "from"], ["select"])
    assert "MERGE INTO [dbo].[or[der] AS t" in sql
    assert "ON t.[select] = s.[select]" in sql
    assert "t.[ke]]y] = s.[ke]]y]" in sql
    assert "t.[from] = s.[from]" in sql


def test_postgres_doublequote_escape_and_reserved_words():
    sql = merge_statement(
        'ta"ble', ["user", 'co"l', "order"], ["user"], dialect="postgres"
    )
    assert 'INSERT INTO "dbo"."ta""ble" AS t' in sql
    assert '"co""l" = EXCLUDED."co""l"' in sql
    assert '"order" = EXCLUDED."order"' in sql
    assert 'ON CONFLICT ("user")' in sql


def test_mysql_reserved_words_and_mixed_hostile():
    sql = merge_statement(
        "select", ["order", "group`by", "desc"], ["order"],
        dialect="mysql",
    )
    assert "INSERT INTO `dbo`.`select`" in sql
    assert "ON DUPLICATE KEY UPDATE `group``by` = s.`group``by`, " in sql
    assert "`desc` = s.`desc`" in sql
    assert "ORDER" not in sql.replace("`order`", "")  # never unquoted


def test_ansi_merge_quotes_columns_plain_tables():
    # ansi: columns double-quoted (Spark JDBC CREATE preserves case),
    # schema/table plain (passed through dbtable unquoted)
    sql = merge_statement("T1", ["Id", "Val ue"], ["Id"], dialect="ansi")
    assert "MERGE INTO dbo.T1 AS t" in sql
    assert 'ON t."Id" = s."Id"' in sql
    assert 't."Val ue" = s."Val ue"' in sql


def test_all_dialects_strip_whitespace_everywhere():
    for d in ("tsql", "ansi", "postgres", "mysql"):
        sql = merge_statement("t", ["  a  ", " b"], ["  a  "], dialect=d)
        assert "  a  " not in sql and " b " not in sql


def test_create_staging_statement_per_dialect():
    from df_to_azure_spark.operators.merge import create_staging_statement

    assert create_staging_statement("t", "dbo") == (
        "SELECT TOP 0 * INTO [staging].[t] FROM [dbo].[t];"
    )
    assert create_staging_statement("t", "public", dialect="postgres") == (
        'CREATE TABLE "staging"."t" (LIKE "public"."t");'
    )
    assert create_staging_statement("t", "app", dialect="mysql") == (
        "CREATE TABLE `staging`.`t` LIKE `app`.`t`;"
    )
    assert create_staging_statement("t", "dbo", dialect="ansi") == (
        "CREATE TABLE staging.t AS SELECT * FROM dbo.t WITH NO DATA"
    )
