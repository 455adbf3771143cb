"""Partitioned transcript layout: pruning must actually reach the scan."""

from __future__ import annotations

from pyspark.sql import functions as F

from logshipper_spark import gen, tables

from .conftest import plan_string


def test_partition_pruning(spark, tmp_path):
    path = str(tmp_path / "tx")
    tr = gen.transcripts(spark, 4000)
    tables.write_transcripts(tr, path, n_buckets=8)
    full = tables.read_transcripts(spark, path)

    # time-range pruning: one day's partitions only
    day = full.filter(F.col("ts_day") == "2024-03-01")
    plan = plan_string(day)
    assert "PartitionFilters" in plan and "ts_day" in plan

    # conversation point lookup prunes to one bucket
    cid = full.select("conv_id").first()["conv_id"]
    one = full.filter(tables.conv_bucket_of(cid, 8)).filter(F.col("conv_id") == cid)
    plan1 = plan_string(one)
    assert "conv_bucket" in plan1.split("PartitionFilters")[1].split("]")[0]

    # pruned read returns exactly the conversation's rows
    expected = tr.filter(F.col("conv_id") == cid).count()
    assert one.count() == expected


def test_roundtrip_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "tx2")
    tr = gen.transcripts(spark, 2000)
    tables.write_transcripts(tr, path, n_buckets=4)
    back = tables.read_transcripts(spark, path)
    assert back.count() == 2000
    # partition-derived cols ride along; originals unchanged
    assert back.select("conv_id", "turn_idx", "text").exceptAll(
        tr.select("conv_id", "turn_idx", "text")
    ).count() == 0
