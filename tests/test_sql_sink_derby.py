"""End-to-end SQL path against embedded Derby (ships with Spark, supports
MERGE) — the hermetic stand-in for the reference's Azure SQL round-trips:
create with typed DDL, append, staged upsert with generated MERGE +
staging cleanup (``tests/test_create.py`` / ``test_append.py`` /
``test_upsert.py`` semantics)."""

from __future__ import annotations

import pytest

from df_to_azure_spark.exceptions import DuplicateKeysError
from df_to_azure_spark.operators.sql_sink import SqlSink

DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


@pytest.fixture(scope="module")
def sink(spark, tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "testdb"
    s = SqlSink(
        spark,
        url=f"jdbc:derby:{db};create=true",
        driver=DRIVER,
        dialect="ansi",
        num_partitions=2,
    )
    s.create_schema("dbo")
    return s


def _read(sink, table, schema="dbo"):
    return (
        sink.spark.read.format("jdbc")
        .option("url", sink.url)
        .option("driver", DRIVER)
        .option("dbtable", f"{schema}.{table}")
        .load()
    )


def _sample(spark):
    return spark.createDataFrame(
        [(1, "test1", "test2"), (3, "test3", "test4"), (4, "test5", "test6")],
        "col_a bigint, col_b string, col_c string",
    )


def test_create_round_trip(spark, sink):
    df = _sample(spark)
    sink.write(df, "sample", schema="dbo", method="create")
    back = _read(sink, "sample")
    assert sorted(tuple(r) for r in back.collect()) == sorted(tuple(r) for r in df.collect())


def test_create_applies_typed_ddl(spark, sink):
    df = spark.createDataFrame([(1, 1.555, "x" * 300)], "a bigint, f double, s string")
    sink.write(df, "typed", schema="dbo", method="create")
    row = _read(sink, "typed").collect()[0]
    # double landed as NUMERIC(18,2) server-side → value rounded at 2dp
    assert float(row.f) == 1.56 or float(row.f) == 1.55  # dialect rounding mode
    assert row.s == "x" * 300  # widened VARCHAR holds 300 chars


def test_append_is_concat(spark, sink):
    df = _sample(spark)
    sink.write(df, "sample_app", schema="dbo", method="create")
    sink.write(df, "sample_app", schema="dbo", method="append")
    assert _read(sink, "sample_app").count() == 6


def test_upsert_merge_golden(spark, sink):
    """The reference upsert golden, through a REAL staged MERGE."""
    sink.write(_sample(spark), "sample_up", schema="dbo", method="create")
    new = spark.createDataFrame(
        [
            (1, "updated1", "updated2"),
            (3, "test3", "test4"),
            (5, "new5a", "new5b"),
            (6, "new6a", "new6b"),
        ],
        "col_a bigint, col_b string, col_c string",
    )
    sink.write(new, "sample_up", schema="dbo", method="upsert", id_field=["col_a"])
    back = {r.col_a: (r.col_b, r.col_c) for r in _read(sink, "sample_up").collect()}
    assert sorted(back) == [1, 3, 4, 5, 6]
    assert back[1] == ("updated1", "updated2")   # updated
    assert back[4] == ("test5", "test6")         # target-only survives
    assert back[6] == ("new6a", "new6b")         # inserted
    # staging cleaned up
    with pytest.raises(Exception):
        _read(sink, "sample_up", schema="staging").collect()


def test_upsert_composite_key(spark, sink):
    e1 = spark.createDataFrame(
        [(1, 1, 40), (1, 2, 40), (2, 1, 40)],
        "employee_id bigint, week_nr bigint, hours bigint",
    )
    e2 = spark.createDataFrame(
        [(1, 1, 36), (1, 2, 38), (2, 1, 40)],
        "employee_id bigint, week_nr bigint, hours bigint",
    )
    sink.write(e1, "employee", schema="dbo", method="create")
    sink.write(e2, "employee", schema="dbo", method="upsert", id_field=["employee_id", "week_nr"])
    back = sorted(tuple(r) for r in _read(sink, "employee").collect())
    assert back == sorted(tuple(r) for r in e2.collect())


def test_stale_staging_is_harmless(spark, sink):
    """Reference subtlety (test_upsert.py:172-238): a staging table left
    behind (clean_staging=False) with different columns breaks the NEXT
    upsert there.  Here staging is always recreated (overwrite), so a
    stale table cannot poison later runs — pinned as an improvement."""
    sink.write(_sample(spark), "sample_stale", schema="dbo", method="create")
    new = spark.createDataFrame([(1, "u1", "u2")], "col_a bigint, col_b string, col_c string")
    sink.write(new, "sample_stale", schema="dbo", method="upsert",
               id_field=["col_a"], clean_staging=False)
    assert _read(sink, "sample_stale", schema="staging").count() == 1  # left behind
    # second upsert with the SAME shape over the stale staging: must succeed
    new2 = spark.createDataFrame([(3, "x1", "x2")], "col_a bigint, col_b string, col_c string")
    sink.write(new2, "sample_stale", schema="dbo", method="upsert", id_field=["col_a"])
    back = {r.col_a: r.col_b for r in _read(sink, "sample_stale").collect()}
    assert back[1] == "u1" and back[3] == "x1"


def test_sweep_staging_collects_orphans(spark, sink):
    """The cleanup-suite analogue (reference test_zz_clean_up.py:6-41):
    crashed-run leftovers in the staging schema are swept in one call;
    target tables are untouched."""
    sink.write(_sample(spark), "sweep_tgt", schema="dbo", method="create")
    # simulate two crashed runs: staging tables written, never dropped
    sink.create(_sample(spark), "orphan_a", schema="staging")
    sink.create(_sample(spark), "orphan_b", schema="staging")
    dropped = sink.sweep_staging()
    assert {d.lower() for d in dropped} >= {"orphan_a", "orphan_b"}
    for t in ("orphan_a", "orphan_b"):
        with pytest.raises(Exception):
            _read(sink, t, schema="staging").collect()
    assert _read(sink, "sweep_tgt").count() == 3  # targets untouched
    assert sink.sweep_staging() == []  # idempotent: nothing left


def test_merge_failure_surfaces_as_upsert_error(spark, sink):
    """A MERGE that references columns missing from the target fails
    in-database and surfaces as UpsertError (reference db.py:65-73)."""
    from df_to_azure_spark.exceptions import UpsertError

    sink.write(_sample(spark), "sample_err", schema="dbo", method="create")
    wider = spark.createDataFrame(
        [(1, "a", "b", "EXTRA")],
        "col_a bigint, col_b string, col_c string, col_d string",
    )
    with pytest.raises(UpsertError):
        sink.write(wider, "sample_err", schema="dbo", method="upsert", id_field=["col_a"])
    assert _read(sink, "sample_err").count() == 3  # target untouched


def test_upsert_stages_in_the_target_types(spark, sink):
    """The staging table copies the target's declared column types, so
    a value only the target's VARCHAR(600) holds lands intact."""
    base = spark.createDataFrame([(1, "short"), (2, "kept")], "k bigint, s string")
    sink.write(base, "wide_s", schema="dbo", method="create",
               dtypes={"s": "VARCHAR(600)"})
    new = spark.createDataFrame(
        [(1, "x" * 600), (3, "é" * 600)], "k bigint, s string"
    )
    sink.write(new, "wide_s", schema="dbo", method="upsert", id_field=["k"])
    back = {r.k: r.s for r in _read(sink, "wide_s").collect()}
    assert back == {1: "x" * 600, 2: "kept", 3: "é" * 600}
    with pytest.raises(Exception):
        _read(sink, "wide_s", schema="staging").collect()


def test_upsert_duplicate_keys_raise_before_any_write(spark, sink):
    sink.write(_sample(spark), "sample_dup", schema="dbo", method="create")
    dup = spark.createDataFrame(
        [(1, "a", "b"), (1, "c", "d")], "col_a bigint, col_b string, col_c string"
    )
    with pytest.raises(DuplicateKeysError):
        sink.write(dup, "sample_dup", schema="dbo", method="upsert", id_field=["col_a"])
    assert _read(sink, "sample_dup").count() == 3


def test_stream_to_sql_appends_with_ledger(spark, sink, sf_smoke, tmp_path):
    """Streaming → JDBC through foreachBatch: a real streaming query
    lands the events source in Derby; replaying a batch id through the
    handler must be a no-op (ledger dedup)."""
    from df_to_azure_spark.streaming.events import read_events_stream
    from df_to_azure_spark.streaming.sink import make_batch_handler, stream_to_sql

    stream = read_events_stream(spark, sf_smoke).select(
        "event_id", "user_id", "event_type"
    )
    q = stream_to_sql(
        stream, sink, "events_landed", schema="dbo",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_src = spark.read.parquet(f"{sf_smoke}/events.parquet").count()
    assert _read(sink, "events_landed").count() == n_src

    # replay: calling the handler again with an already-ledgered batch id
    # must not double-write
    handle = make_batch_handler(sink, "events_landed", schema="dbo")
    batch = spark.read.parquet(f"{sf_smoke}/events.parquet").select(
        "event_id", "user_id", "event_type"
    ).limit(10)
    ledgered = [r.BATCH_ID for r in _read(sink, "events_landed_batches").collect()]
    handle(batch, int(ledgered[0]))
    assert _read(sink, "events_landed").count() == n_src


def test_stream_to_sql_keyed_upsert_is_idempotent(spark, sink, sf_smoke):
    from df_to_azure_spark.streaming.sink import make_batch_handler

    handle = make_batch_handler(
        sink, "events_upserted", schema="dbo", id_field="event_id"
    )
    batch = spark.read.parquet(f"{sf_smoke}/events.parquet").select(
        "event_id", "user_id", "event_type"
    ).limit(20)
    handle(batch, 0)   # creates
    handle(batch, 0)   # replay: MERGE of identical rows — no growth
    assert _read(sink, "events_upserted").count() == 20


def test_parallel_partitioned_read(spark, sink):
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "pk bigint, val string"
    )
    sink.create(df, "partread")
    out = sink.read("partread", partition_column="pk", num_partitions=4)
    # the scan is split into range slices: 4 concurrent JDBC partitions
    assert out.rdd.getNumPartitions() == 4
    assert out.count() == 100
    assert sorted(r.pk for r in out.collect()) == list(range(100))
    # unpartitioned read still works and returns the same rows
    plain = sink.read("partread")
    assert plain.count() == 100


def test_partitioned_read_empty_table(spark, sink):
    empty = spark.createDataFrame([], "pk bigint, val string")
    sink.create(empty, "partread_empty")
    out = sink.read("partread_empty", partition_column="pk", num_partitions=4)
    assert out.count() == 0
