"""Parquet lake round-trips — hermetic port of the reference's
``tests/test_parquet.py`` goldens (create/append/upsert, NaN rows,
column-mismatch) and ``test_upsert.py:37-48`` key-ordering."""

from __future__ import annotations

import pytest

from df_to_azure_spark.api import df_to_spark
from df_to_azure_spark.exceptions import ColumnMismatchError, DuplicateKeysError
from df_to_azure_spark.operators.lake import ParquetLake
from df_to_azure_spark.operators.upsert import upsert_frames, upsert_frames_cell_level


def sample_1(spark):
    # reference data/sample_1.csv: keys {1,3,4}
    return spark.createDataFrame(
        [(1, "test1", "test2"), (3, "test3", "test4"), (4, "test5", "test6")],
        ["col_a", "col_b", "col_c"],
    )


def sample_2(spark):
    # reference data/sample_2.csv: keys {1,3,5,6}; 1 changed, 3 unchanged
    return spark.createDataFrame(
        [
            (1, "updated1", "updated2"),
            (3, "test3", "test4"),
            (5, "new5a", "new5b"),
            (6, "new6a", "new6b"),
        ],
        ["col_a", "col_b", "col_c"],
    )


@pytest.fixture
def lake(spark, tmp_path):
    return ParquetLake(spark, str(tmp_path / "lake"))


def test_create_round_trip(spark, lake):
    df = sample_1(spark)
    lake.write(df, "sample", method="create")
    back = lake.read("sample")
    assert sorted(back.collect()) == sorted(df.collect())


def test_create_overwrites(spark, lake):
    lake.write(sample_1(spark), "sample", method="create")
    lake.write(sample_2(spark), "sample", method="create")
    assert lake.read("sample").count() == 4


def test_append_is_concat(spark, lake):
    # reference test_append.py: append twice == concat([df, df])
    df = sample_1(spark)
    lake.write(df, "sample", method="create")
    lake.write(df, "sample", method="append")
    back = lake.read("sample")
    assert back.count() == 6
    assert sorted(back.collect()) == sorted(df.union(df).collect())


def test_upsert_golden(spark, lake):
    """Reference upsert golden (test_upsert.py:37-48): upsert sample_2
    onto sample_1 by col_a ⇒ keys {1,3,4,5,6}; 1 updated, 4 kept
    (target-only survives), 5/6 inserted; key-ordered result."""
    lake.write(sample_1(spark), "sample", method="create")
    lake.write(sample_2(spark), "sample", method="upsert", id_field="col_a")
    back = lake.read("sample").orderBy("col_a").collect()
    assert [r.col_a for r in back] == [1, 3, 4, 5, 6]
    as_map = {r.col_a: (r.col_b, r.col_c) for r in back}
    assert as_map[1] == ("updated1", "updated2")   # updated
    assert as_map[4] == ("test5", "test6")         # target-only survives
    assert as_map[5] == ("new5a", "new5b")         # inserted


def test_upsert_composite_key_full_overlap(spark, lake):
    # reference employee fixture (test_upsert.py:96-110): all keys overlap
    # ⇒ result == new exactly
    e1 = spark.createDataFrame([(1, 1, 40), (1, 2, 40), (2, 1, 40)], ["employee_id", "week_nr", "hours"])
    e2 = spark.createDataFrame([(1, 1, 36), (1, 2, 38), (2, 1, 40)], ["employee_id", "week_nr", "hours"])
    lake.write(e1, "employee", method="create")
    lake.write(e2, "employee", method="upsert", id_field=["employee_id", "week_nr"])
    back = lake.read("employee")
    assert sorted(back.collect()) == sorted(e2.collect())


def test_upsert_duplicate_keys_raise_before_write(spark, lake):
    lake.write(sample_1(spark), "sample", method="create")
    dup = spark.createDataFrame([(1, "a", "b"), (1, "c", "d")], ["col_a", "col_b", "col_c"])
    with pytest.raises(DuplicateKeysError):
        lake.write(dup, "sample", method="upsert", id_field="col_a")
    assert lake.read("sample").count() == 3  # untouched


@pytest.mark.parametrize("versioned", [False, True])
def test_facade_upsert_validates_keys_once(spark, tmp_path, monkeypatch, versioned):
    """One facade upsert runs the duplicate-key check exactly once: the
    lake validates before its merge (the versioned lake inside its one
    key aggregate, ``key_envelope``) and the merge algebra does not
    repeat it.  A duplicate-key delta still raises before any write."""
    from df_to_azure_spark import checks
    from df_to_azure_spark.operators import lake as lake_mod
    from df_to_azure_spark.operators import manifest, upsert

    calls = []

    def counting(original):
        def check(df, keys, *args, **kwargs):
            calls.append(original.__name__)
            return original(df, keys, *args, **kwargs)

        return check

    unique_keys = counting(checks.ensure_unique_keys)
    for mod in (checks, lake_mod, manifest, upsert):
        monkeypatch.setattr(mod, "ensure_unique_keys", unique_keys)
    monkeypatch.setattr(manifest, "key_envelope", counting(checks.key_envelope))
    kw = dict(parquet=True, lake_root=str(tmp_path / "lake"), versioned=versioned)
    df_to_spark(sample_1(spark), "t", **kw)
    calls.clear()
    df_to_spark(sample_2(spark), "t", method="upsert", id_field="col_a", **kw)
    assert calls == ["key_envelope" if versioned else "ensure_unique_keys"]
    dup = spark.createDataFrame([(1, "a", "b"), (1, "c", "d")], ["col_a", "col_b", "col_c"])
    with pytest.raises(DuplicateKeysError):
        df_to_spark(dup, "t", method="upsert", id_field="col_a", **kw)
    lake_cls = manifest.VersionedLake if versioned else ParquetLake
    back = lake_cls(spark, kw["lake_root"]).read("t")
    assert sorted(r.col_a for r in back.collect()) == [1, 3, 4, 5, 6]


def test_upsert_column_mismatch_raises(spark, lake):
    lake.write(sample_1(spark), "sample", method="create")
    extra = sample_2(spark).withColumnRenamed("col_c", "col_x")
    with pytest.raises(ColumnMismatchError):
        lake.write(extra, "sample", method="upsert", id_field="col_a")


def test_upsert_null_values_in_new_rows(spark, lake):
    """Reference NaN branch (export.py:392-397): rows with NULLs still
    replace whole rows (row-level, not cell-level)."""
    lake.write(sample_1(spark), "sample", method="create")
    new = spark.createDataFrame(
        [(1, None, "only_c")], "col_a bigint, col_b string, col_c string"
    )
    lake.write(new, "sample", method="upsert", id_field="col_a")
    row = {r.col_a: r for r in lake.read("sample").collect()}[1]
    assert row.col_b is None and row.col_c == "only_c"


def test_cell_level_upsert_variant(spark):
    """combine_first parity (export.py:399-404): NULL in new keeps old cell."""
    existing = spark.createDataFrame([(1, "old_b", "old_c")], ["k", "b", "c"])
    new = spark.createDataFrame([(1, None, "new_c"), (2, "b2", "c2")], ["k", "b", "c"])
    out = upsert_frames_cell_level(new, existing, ["k"]).collect()
    m = {r.k: (r.b, r.c) for r in out}
    assert m[1] == ("old_b", "new_c")
    assert m[2] == ("b2", "c2")


def test_upsert_frames_no_sort_preserves_algebra(spark):
    new = spark.createDataFrame([(1, "n")], ["k", "v"])
    old = spark.createDataFrame([(1, "o"), (2, "o2")], ["k", "v"])
    out = upsert_frames(new, old, ["k"], sort=False).collect()
    assert {(r.k, r.v) for r in out} == {(1, "n"), (2, "o2")}


def test_timestamped_append_single_file(spark, lake):
    """T8 parity: one {table}_{stamp}.parquet file per append call."""
    import re

    df = sample_1(spark)
    lake.write(df, "ts_sample", method="create")
    lake.append(df, "ts_sample", timestamped_file=True)
    back = lake.read("ts_sample")
    assert back.count() == 6
    fs, data_path, jvm = lake._fs(lake.data_dir("ts_sample"))
    names = [s.getPath().getName() for s in fs.listStatus(data_path)]
    stamped = [n for n in names if re.fullmatch(r"ts_sample_\d{14}\.parquet", n)]
    assert len(stamped) == 1


def test_facade_empty_short_circuit(spark, tmp_path):
    empty = spark.createDataFrame([], "col_a int, col_b string")
    rep = df_to_spark(empty, "t", parquet=True, lake_root=str(tmp_path / "lake"))
    assert rep.skipped_empty
    assert not (tmp_path / "lake" / "t").exists()


def test_facade_lake_create_report(spark, tmp_path):
    rep = df_to_spark(sample_1(spark), "t", parquet=True, lake_root=str(tmp_path / "lake"))
    assert rep.rows_written == 3 and rep.method == "create"


def test_schema_evolution_append_and_merge_read(spark, tmp_path):
    from pyspark.sql import functions as F

    from df_to_azure_spark.operators.lake import ParquetLake

    lake = ParquetLake(spark, str(tmp_path))
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    lake.write(base, "t")
    evolved = spark.createDataFrame([(3, "c", 9.5)], "id long, v string, score double")
    lake.write(evolved, "t", method="append")
    merged = lake.read("t", merge_schema=True)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r.id: (r.v, r.score) for r in merged.collect()}
    assert rows[3] == ("c", 9.5)
    assert rows[1] == ("a", None)  # old files read the new column as NULL


def test_compact_reduces_files_and_preserves_data(spark, tmp_path):
    from pathlib import Path

    from df_to_azure_spark.operators.lake import ParquetLake

    lake = ParquetLake(spark, str(tmp_path))
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    lake.write(df.repartition(10), "t")
    for _ in range(3):  # simulate micro-appends accumulating small files
        lake.write(df.limit(5).repartition(5), "t", method="append")
    before = lake.compact("t", target_files=2)
    assert before >= 20
    files = [
        p for p in Path(lake.data_dir("t")).iterdir() if p.name.startswith("part-")
    ]
    assert len(files) <= 2
    back = lake.read("t")
    assert back.count() == 115
    assert back.where("v != id * 2").count() == 0


def test_vacuum_removes_orphans_keeps_live_data(spark, tmp_path):
    from pathlib import Path

    from df_to_azure_spark.operators.lake import ParquetLake

    lake = ParquetLake(spark, str(tmp_path))
    df = spark.range(10).selectExpr("id", "id * 3 AS v")
    lake.write(df, "t")
    # simulate crash leftovers
    tdir = Path(lake.table_dir("t"))
    (tdir / ".snapshot-123").mkdir()
    (tdir / ".snapshot-123" / "part-orphan.parquet").write_bytes(b"x")
    (tdir / ".old-456").mkdir()
    removed = sorted(lake.vacuum("t"))
    assert removed == [".old-456", ".snapshot-123"]
    assert lake.read("t").count() == 10
    assert lake.vacuum("t") == []  # idempotent


def test_vacuum_rolls_forward_mid_swap_crash(spark, tmp_path):
    """Crash BETWEEN rename-aside and rename-in: `data` is gone, the old
    copy sits under .old-<ts> and the new write under .snapshot-<ts>.
    vacuum must promote the snapshot (roll the interrupted swap forward),
    never delete the only copies."""
    import shutil
    from pathlib import Path

    from df_to_azure_spark.operators.lake import ParquetLake

    lake = ParquetLake(spark, str(tmp_path))
    lake.write(spark.range(10).selectExpr("id", "id AS v"), "t")        # v1
    tdir = Path(lake.table_dir("t"))
    # stage v2 as a completed snapshot write
    lake.write(spark.range(20).selectExpr("id", "id * 2 AS v"), "t2")
    shutil.move(str(Path(lake.table_dir("t2")) / "data"), str(tdir / ".snapshot-200"))
    # simulate the rename-aside having happened, then the crash
    shutil.move(str(tdir / "data"), str(tdir / ".old-100"))

    removed = lake.vacuum("t")
    assert removed == [".old-100"]           # snapshot was PROMOTED, old swept
    assert lake.read("t").count() == 20      # rolled forward to v2
    assert lake.read("t").where("v != id * 2").count() == 0


def test_vacuum_restores_old_when_no_snapshot(spark, tmp_path):
    """Degenerate crash state with only .old left: restore it."""
    import shutil
    from pathlib import Path

    from df_to_azure_spark.operators.lake import ParquetLake

    lake = ParquetLake(spark, str(tmp_path))
    lake.write(spark.range(7).selectExpr("id", "id AS v"), "t")
    tdir = Path(lake.table_dir("t"))
    shutil.move(str(tdir / "data"), str(tdir / ".old-100"))
    assert lake.vacuum("t") == []            # nothing swept — .old became data
    assert lake.read("t").count() == 7


def test_rows_written_rides_the_write_job(spark, tmp_path):
    """rows_written comes from df.observe() on the write job — enabling
    the count must add ZERO extra Spark jobs vs count_rows=False (it
    used to be a second full scan)."""
    from df_to_azure_spark.api import df_to_spark

    df = spark.range(500).selectExpr("id AS k", "id * 2 AS v")
    tracker = spark.sparkContext.statusTracker()

    def run(tag: str, count_rows: bool) -> tuple[int, int]:
        spark.sparkContext.setJobGroup(tag, tag)
        try:
            rep = df_to_spark(
                df, f"t_{tag}", parquet=True,
                lake_root=str(tmp_path / tag), method="create",
                count_rows=count_rows,
            )
        finally:
            spark.sparkContext.setJobGroup(None, None)
        return rep.rows_written, len(tracker.getJobIdsForGroup(tag))

    rows_off, jobs_off = run("nocount", False)
    rows_on, jobs_on = run("withcount", True)
    assert rows_off == 0
    assert rows_on == 500
    assert jobs_on == jobs_off, (jobs_on, jobs_off)


def test_delete_removes_only_keyed_rows(spark, tmp_path):
    lake = ParquetLake(spark, str(tmp_path))
    lake.create(sample_1(spark), "t")
    keys = spark.createDataFrame([(1,), (4,), (99,)], ["col_a"])
    n = lake.delete("t", keys, ["col_a"])
    assert n == 2  # key 99 matches nothing
    left = {r.col_a for r in lake.read("t").collect()}
    assert left == {3}
    # deleting again is a no-op
    assert lake.delete("t", keys, ["col_a"]) == 0


def test_delete_null_keys_never_match(spark, tmp_path):
    lake = ParquetLake(spark, str(tmp_path))
    lake.create(sample_1(spark), "t")
    keys = spark.createDataFrame([(None,)], "col_a: int")
    assert lake.delete("t", keys, ["col_a"]) == 0
    assert lake.read("t").count() == 3


def test_delete_preserves_partition_layout(spark, tmp_path):
    import os

    lake = ParquetLake(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "y"), (3, "b", "z")],
        ["id", "lang", "v"],
    )
    lake.create(df, "t", partition_by=["lang"])
    keys = spark.createDataFrame([(2,)], ["id"])
    assert lake.delete("t", keys, ["id"]) == 1
    assert sorted(
        d for d in os.listdir(lake.data_dir("t")) if d.startswith("lang=")
    ) == ["lang=a", "lang=b"]
    assert {r.id for r in lake.read("t").collect()} == {1, 3}
