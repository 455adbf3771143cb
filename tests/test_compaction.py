"""Epoch-based index compaction (datapipe.compaction): the live view
must be byte-identical before and after compaction and vacuum, crashes
between the epoch rewrite and the marker must leave readers untouched,
and the streaming dedup operators must keep working against a
compacted + vacuumed index across restarts."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from logshipper_spark import streaming
from logshipper_spark.datapipe import compaction
from logshipper_spark.datapipe import dedup as ddp
from logshipper_spark.datapipe import semdedup as sdd
from logshipper_spark.datapipe import substr as sub


def _long_text(prefix: str, n: int = 12) -> str:
    return " ".join(f"{prefix}{i} t{prefix}{i} w{prefix}{i}" for i in range(n))


def _write_minhash_batch(spark, index_dir: str, docs, batch_id: int) -> None:
    """One committed batch partition in streaming_near_dedup's layout."""
    sigs = docs.select(
        "doc_id", ddp.minhash_signature(F.col("text")).alias("sig")
    )
    sigs.write.mode("overwrite").parquet(
        os.path.join(index_dir, "sigs", f"batch_id={batch_id}")
    )
    ddp.banded_buckets(sigs).write.mode("overwrite").parquet(
        os.path.join(index_dir, "bands", f"batch_id={batch_id}")
    )
    spark.createDataFrame([(batch_id,)], "batch_id long").write.mode(
        "append"
    ).parquet(os.path.join(index_dir, "_commits"))


def _sig_set(sigs_df):
    return {
        (r["doc_id"], tuple(r["sig"])) for r in sigs_df.collect()
    }


def _band_set(bands_df):
    return {
        (r["doc_id"], r["band"], r["bucket"]) for r in bands_df.collect()
    }


def test_minhash_compaction_preserves_live_view(spark, tmp_path):
    idx = str(tmp_path / "mh_idx")
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame(
        [(1, _long_text("a")), (2, _long_text("b"))], schema
    )
    b1 = spark.createDataFrame([(3, _long_text("c"))], schema)
    _write_minhash_batch(spark, idx, b0, 0)
    _write_minhash_batch(spark, idx, b1, 1)

    sigs0, bands0 = compaction.read_minhash_index(spark, idx)
    before_s, before_b = _sig_set(sigs0), _band_set(bands0)
    assert {i for i, _ in before_s} == {1, 2, 3}

    res = compaction.compact_minhash_index(spark, idx)
    assert res == {"epoch": 1, "covered": 1, "compacted": True}
    assert compaction.compaction_state(spark, idx) == (1, 1)

    sigs1, bands1 = compaction.read_minhash_index(spark, idx)
    assert _sig_set(sigs1) == before_s
    assert _band_set(bands1) == before_b

    # probe parity: a near-copy of an indexed doc drops, fresh survives
    probe = spark.createDataFrame(
        [
            (10, _long_text("a").replace("a5", "EDIT")),
            (11, _long_text("z")),
        ],
        schema,
    )
    kept = sorted(
        r["doc_id"]
        for r in ddp.near_dedup_against(probe, sigs1, bands1).collect()
    )
    assert kept == [11]

    # idempotent no-op: nothing new since the epoch
    res2 = compaction.compact_minhash_index(spark, idx)
    assert res2 == {"epoch": 1, "covered": 1, "compacted": False}

    # vacuum removes covered batch dirs; the view is unchanged
    vac = compaction.vacuum_index(spark, idx, compaction.MINHASH_TABLES)
    assert vac["deleted"] == 4  # 2 tables x 2 batches
    assert not os.path.exists(os.path.join(idx, "sigs", "batch_id=0"))
    sigs2, bands2 = compaction.read_minhash_index(spark, idx)
    assert _sig_set(sigs2) == before_s
    assert _band_set(bands2) == before_b

    # growth resumes after vacuum: a new committed batch joins the view
    b2 = spark.createDataFrame([(4, _long_text("d"))], schema)
    _write_minhash_batch(spark, idx, b2, 2)
    sigs3, _ = compaction.read_minhash_index(spark, idx)
    assert {i for i, _ in _sig_set(sigs3)} == {1, 2, 3, 4}
    # second compaction folds epoch 1 + the tail into epoch 2
    res3 = compaction.compact_minhash_index(spark, idx)
    assert res3 == {"epoch": 2, "covered": 2, "compacted": True}
    sigs4, _ = compaction.read_minhash_index(spark, idx)
    assert {i for i, _ in _sig_set(sigs4)} == {1, 2, 3, 4}
    vac2 = compaction.vacuum_index(spark, idx, compaction.MINHASH_TABLES)
    assert vac2["deleted"] == 4  # batch_id=2 x 2 tables + epoch=1 x 2
    ddp.release_cached_signatures()


def test_compaction_crash_before_marker_leaves_view_untouched(
    spark, tmp_path
):
    """The chaos drill: a crash AFTER the epoch rewrite but BEFORE the
    marker appends must leave readers on the old view; the rerun
    overwrites the same epoch directories and converges."""
    idx = str(tmp_path / "cc_idx")
    schema = "doc_id long, text string"
    _write_minhash_batch(
        spark, idx,
        spark.createDataFrame([(1, _long_text("a"))], schema), 0,
    )

    def boom(epoch: int) -> None:
        raise RuntimeError(f"chaos: crash before marker of epoch {epoch}")

    with pytest.raises(RuntimeError, match="chaos"):
        compaction.compact_minhash_index(spark, idx, chaos=boom)
    # half-written epoch exists on disk but is invisible to readers
    assert os.path.exists(os.path.join(idx, "sigs_compact", "epoch=1"))
    assert compaction.compaction_state(spark, idx) == (0, -1)
    sigs, _ = compaction.read_minhash_index(spark, idx)
    assert {i for i, _ in _sig_set(sigs)} == {1}
    # vacuum before any committed epoch is a no-op
    assert compaction.vacuum_index(
        spark, idx, compaction.MINHASH_TABLES
    ) == {"deleted": 0}

    # rerun converges on the same epoch number
    res = compaction.compact_minhash_index(spark, idx)
    assert res == {"epoch": 1, "covered": 0, "compacted": True}
    sigs2, _ = compaction.read_minhash_index(spark, idx)
    assert {i for i, _ in _sig_set(sigs2)} == {1}
    ddp.release_cached_signatures()


def test_semantic_compaction_keeps_cells_and_probe_results(spark, tmp_path):
    """The semantic epoch keeps the cell partitioning (probe filters
    still prune directories) and dedup-against results are identical
    before/after compact + vacuum."""

    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    idx = str(tmp_path / "se_idx")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    schema = "vec_id long, embedding array<double>"

    for batch_id, rows in ((0, [(1, unit(2.0))]), (1, [(2, unit(88.0))])):
        batch = spark.createDataFrame(rows, schema)
        sdd.assign_trained_cells(batch, cents, "embedding").select(
            "vec_id", "embedding", "cell"
        ).write.mode("overwrite").partitionBy("cell").parquet(
            os.path.join(idx, "vectors", f"batch_id={batch_id}")
        )
        spark.createDataFrame([(batch_id,)], "batch_id long").write.mode(
            "append"
        ).parquet(os.path.join(idx, "_commits"))

    view0 = compaction.read_semantic_index(spark, idx)
    before = {(r["vec_id"], r["cell"]) for r in view0.collect()}
    assert before == {(1, 0), (2, 1)}

    probe = spark.createDataFrame(
        [(10, unit(1.0)), (11, unit(45.0))], schema
    )

    def kept_ids(view):
        return sorted(
            r["vec_id"]
            for r in sdd.semantic_dedup_against(
                probe, threshold=0.99, index_df=view, centroids=cents
            ).collect()
        )

    assert kept_ids(view0) == [11]

    res = compaction.compact_semantic_index(spark, idx)
    assert res == {"epoch": 1, "covered": 1, "compacted": True}
    # cell partitioning survives the rewrite
    assert os.path.exists(
        os.path.join(idx, "vectors_compact", "epoch=1", "cell=0")
    )
    compaction.vacuum_index(spark, idx, compaction.SEMANTIC_TABLES)
    assert not os.path.exists(os.path.join(idx, "vectors", "batch_id=0"))

    view1 = compaction.read_semantic_index(spark, idx)
    assert {(r["vec_id"], r["cell"]) for r in view1.collect()} == before
    assert kept_ids(view1) == [11]
    sdd.release_cached_cells()


def test_fingerprint_compaction_dedups_cross_batch_repeats(spark, tmp_path):
    """Fingerprint compaction collapses gram hashes repeated across
    batch partitions — the one family where compaction shrinks rows,
    not just file count — without changing the distinct view."""
    idx = str(tmp_path / "fp_idx")
    spark.createDataFrame(
        [(h,) for h in (1, 2, 3)], "gram_hash long"
    ).write.mode("overwrite").parquet(
        os.path.join(idx, "grams", "batch_id=0")
    )
    spark.createDataFrame(
        [(h,) for h in (3, 4)], "gram_hash long"
    ).write.mode("overwrite").parquet(
        os.path.join(idx, "grams", "batch_id=1")
    )
    spark.createDataFrame(
        [(0,), (1,)], "batch_id long"
    ).write.mode("append").parquet(os.path.join(idx, "_commits"))

    view0 = compaction.read_fingerprint_index(spark, idx)
    assert view0.count() == 5  # raw union carries the repeat
    assert {r["gram_hash"] for r in view0.collect()} == {1, 2, 3, 4}

    res = compaction.compact_fingerprint_index(spark, idx)
    assert res == {"epoch": 1, "covered": 1, "compacted": True}
    compaction.vacuum_index(spark, idx, compaction.FINGERPRINT_TABLES)

    view1 = compaction.read_fingerprint_index(spark, idx)
    assert view1.count() == 4  # the cross-batch repeat collapsed
    assert {r["gram_hash"] for r in view1.collect()} == {1, 2, 3, 4}


def test_streaming_near_dedup_across_compaction_and_vacuum(spark, tmp_path):
    """End-to-end: stream a batch, compact + vacuum the index, stream a
    later epoch against the compacted state — a near-copy of a KEPT
    document must still drop even though its original batch partition
    no longer exists."""
    input_dir = str(tmp_path / "cp_in")
    out_dir = str(tmp_path / "cp_out")
    ckpt = str(tmp_path / "cp_ck")
    idx = str(tmp_path / "cp_idx")
    schema = "doc_id long, text string"
    long_a = _long_text("alpha")
    spark.createDataFrame([(1, long_a)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)

    q = streaming.streaming_near_dedup(
        spark, input_dir, out_dir, ckpt, idx, schema=schema
    )
    q.awaitTermination(180)
    assert compaction.committed_batches(spark, idx) == {0}

    compaction.compact_minhash_index(spark, idx)
    compaction.vacuum_index(spark, idx, compaction.MINHASH_TABLES)
    assert not os.path.exists(os.path.join(idx, "sigs", "batch_id=0"))

    near_a = long_a.replace("alpha5", "CHANGED")
    fresh = _long_text("gamma")
    spark.createDataFrame(
        [(10, near_a), (11, fresh)], schema
    ).coalesce(1).write.mode("append").parquet(input_dir)
    q2 = streaming.streaming_near_dedup(
        spark, input_dir, out_dir, ckpt, idx, schema=schema
    )
    q2.awaitTermination(180)
    kept = sorted(
        r["doc_id"]
        for r in spark.read.schema(schema).parquet(out_dir).collect()
    )
    assert kept == [1, 11]  # 10 dropped vs the COMPACTED index
    # the view now spans the epoch + the new batch partition
    sigs, _ = compaction.read_minhash_index(spark, idx)
    assert sorted(r["doc_id"] for r in sigs.collect()) == [1, 11]
    ddp.release_cached_signatures()


def test_streaming_substr_screen_across_compaction(spark, tmp_path):
    """The substring screen keeps dropping boilerplate after its gram
    index is compacted and vacuumed."""
    input_dir = str(tmp_path / "sp_in")
    out_dir = str(tmp_path / "sp_out")
    ckpt = str(tmp_path / "sp_ck")
    idx = str(tmp_path / "sp_idx")
    schema = "doc_id long, text string"
    page = _long_text("tpl", 20)
    spark.createDataFrame([(1, page)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(input_dir)

    q = streaming.streaming_substr_screen(
        spark, input_dir, out_dir, ckpt, idx, schema=schema
    )
    q.awaitTermination(180)

    compaction.compact_fingerprint_index(spark, idx)
    compaction.vacuum_index(spark, idx, compaction.FINGERPRINT_TABLES)

    fresh = _long_text("new", 20)
    spark.createDataFrame(
        [(10, page), (11, fresh)], schema
    ).coalesce(1).write.mode("append").parquet(input_dir)
    q2 = streaming.streaming_substr_screen(
        spark, input_dir, out_dir, ckpt, idx, schema=schema
    )
    q2.awaitTermination(180)
    kept = sorted(
        r["doc_id"]
        for r in spark.read.schema(schema).parquet(out_dir).collect()
    )
    assert kept == [1, 11]  # 10 is wholly boilerplate vs the epoch


def test_empty_batch_partitions_never_poison_the_live_view(spark, tmp_path):
    """An all-dup micro-batch writes ZERO data files under its
    committed partition (partitionBy of an empty frame); a pinned-
    schema scan of such a listing materializes no hive columns, and
    the batch_id/cell references used to throw UNRESOLVED_COLUMN on
    every later read — permanently wedging the stream. The live view
    must instead read as empty (or just the non-empty parts)."""
    idx = str(tmp_path / "sem_idx")

    def write_sem_batch(df, batch_id):
        df.write.mode("overwrite").option("compression", "zstd").partitionBy(
            "cell"
        ).parquet(os.path.join(idx, "vectors", f"batch_id={batch_id}"))
        spark.createDataFrame([(batch_id,)], "batch_id long").write.mode(
            "append"
        ).parquet(os.path.join(idx, "_commits"))

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>, cell int"
    )
    # batch 0 committed with zero files: read, compact, vacuum, re-read
    write_sem_batch(empty, 0)
    assert compaction.read_semantic_index(spark, idx).count() == 0
    st = compaction.compact_semantic_index(spark, idx)
    assert st["compacted"] is True  # empty epoch committed is fine
    compaction.vacuum_index(spark, idx, compaction.SEMANTIC_TABLES)
    assert compaction.read_semantic_index(spark, idx).count() == 0
    # a later real batch lands next to the empty epoch and is visible
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 1)],
        "vec_id long, embedding array<double>, cell int",
    )
    write_sem_batch(vecs, 1)
    live = compaction.read_semantic_index(spark, idx)
    assert {r["vec_id"] for r in live.collect()} == {1, 2}
    # and an empty batch AFTER real data stays invisible but harmless
    write_sem_batch(empty, 2)
    st = compaction.compact_semantic_index(spark, idx)
    assert st["compacted"] is True
    compaction.vacuum_index(spark, idx, compaction.SEMANTIC_TABLES)
    live = compaction.read_semantic_index(spark, idx)
    assert {r["vec_id"] for r in live.collect()} == {1, 2}
