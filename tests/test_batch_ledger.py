"""The batch ledger behind both lakes: ``write(batch_id=)`` records a
batch, ``has_batch`` finds it, and a replay under the same id lands no
row twice — whether the replay comes from ``publish_with_audit`` or the
stream sink."""

from __future__ import annotations

import pytest

from df_to_azure_spark.operators.expectations import not_null
from df_to_azure_spark.operators.lake import ParquetLake
from df_to_azure_spark.operators.manifest import VersionedLake
from df_to_azure_spark.operators.publish import publish_with_audit
from df_to_azure_spark.streaming.sink import make_lake_batch_handler


@pytest.mark.parametrize("lake_cls", [ParquetLake, VersionedLake])
def test_replayed_publish_and_stream_batch_land_once(spark, tmp_path, lake_cls):
    lake = lake_cls(spark, str(tmp_path / "lake"))
    rules = [not_null("v")]

    def batch(*ids):
        return spark.createDataFrame([(i, i * 10) for i in ids], "id int, v int")

    publish_with_audit(lake, batch(1, 2), "t", rules, method="create")
    for _ in range(2):
        publish_with_audit(
            lake, batch(3, 4), "t", rules, method="append", batch_id="b1"
        )
    assert lake.has_batch("t", "b1")

    handle = make_lake_batch_handler(lake, "t")
    for _ in range(2):
        handle(batch(5, 6), 0)
    assert lake.has_batch("t", "epoch-0")
    # one ledger: a publish under a stream's epoch id stands for that epoch
    publish_with_audit(
        lake, batch(7), "t", rules, method="append", batch_id="epoch-1"
    )
    handle(batch(7), 1)

    ids = sorted(r.id for r in lake.read("t").collect())
    assert ids == [1, 2, 3, 4, 5, 6, 7]
    assert not lake.has_batch("t", "epoch-2")


@pytest.mark.parametrize("lake_cls", [ParquetLake, VersionedLake])
def test_write_records_batch_for_every_method(spark, tmp_path, lake_cls):
    lake = lake_cls(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    lake.write(df, "t", method="create", batch_id="c")
    lake.write(df, "t", method="upsert", id_field="id", batch_id="u")
    lake.write(df, "t", method="append", batch_id="a")
    assert all(lake.has_batch("t", b) for b in ("c", "u", "a"))
    assert lake.read("t").count() == 4


def test_plain_lake_refuses_a_path_as_batch_id(spark, tmp_path):
    lake = ParquetLake(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(ValueError, match="plain token"):
        lake.write(df, "t", batch_id="../x")
    assert not lake.exists("t")
