"""VACUUM-retention for epoch sweeps (Delta/Iceberg contract): a
compaction's pointer flip is atomic, but physically deleting the
retired epoch's files under a CONCURRENT READER IN ANOTHER PROCESS
(which resolved the old epoch at plan time) is not. ``retention_sec``
keeps retired epoch dirs younger than the window so such readers finish
their scans; the next sweep collects whatever aged out. Default 0.0
preserves the immediate-GC behavior every in-process maintainer test
already pins."""

from __future__ import annotations

import os

import pytest

from ariadne_dbt_spark.operators import epoch_store
from ariadne_dbt_spark.operators.search_index import (
    build_search_index,
    compact_search_index,
    delete_from_search_index,
    read_search_index,
)


def _search_epoch(idx: str) -> int:
    return int(epoch_store.read_meta(idx).get("epoch", 0))


def _docs(spark, n=30):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("alpha"),
            F.concat(F.lit("tok"), F.col("id").cast("string")),
            F.lit("omega common words"),
        ).alias("body"),
    )


def test_retention_keeps_old_epoch_readable_then_next_sweep_collects(
    spark, tmp_path
):
    idx = str(tmp_path / "srch")
    build_search_index(_docs(spark), "doc_id", {"body": "body"}, idx)
    delete_from_search_index(spark, idx, ["3", "4"])
    old_epoch = _search_epoch(idx)
    old_postings = epoch_store.data_dir(idx, "postings", old_epoch)
    assert os.path.isdir(old_postings)

    # a reader in another process would have resolved old_postings at
    # plan time; compact with retention keeps it scannable
    compact_search_index(spark, idx, retention_sec=3600.0)
    new_epoch = _search_epoch(idx)
    assert new_epoch == old_epoch + 1
    assert os.path.isdir(old_postings), "retired epoch swept inside retention"
    # the old files are still whole parquet (the mid-scan reader's view)
    assert spark.read.parquet(old_postings).count() > 0
    # committed view serves the NEW epoch regardless of retention
    postings, _, n_docs, _ = read_search_index(spark, idx)
    assert n_docs == 28

    # the retiring sweep stamped retirement time explicitly (round-8
    # advice: dir mtime marks the last data write, NOT retirement)
    stamp = os.path.join(old_postings, "_retired.json")
    assert os.path.isfile(stamp)
    # age the RETIREMENT STAMP past the window; ANY later sweep collects
    epoch_store.atomic_write_json(stamp, {"retired_at": 1e9})  # 2001
    delete_from_search_index(spark, idx, ["5"])
    compact_search_index(spark, idx, retention_sec=3600.0)
    assert not os.path.isdir(old_postings), "aged-out epoch must be swept"


def test_retention_clock_starts_at_retirement_not_data_write(spark, tmp_path):
    """Round-8 advice (high): an epoch BUILT hours ago but retired just
    now must survive the retiring compaction's sweep — aging by the
    dir's own mtime would delete it immediately, silently defeating the
    concurrent-reader guarantee."""
    idx = str(tmp_path / "srch_old")
    build_search_index(_docs(spark), "doc_id", {"body": "body"}, idx)
    delete_from_search_index(spark, idx, ["3"])
    old_postings = epoch_store.data_dir(idx, "postings", _search_epoch(idx))
    # simulate an index built long ago: last data write far in the past
    past = 1e9
    os.utime(old_postings, (past, past))
    for dirpath, dirs, files in os.walk(old_postings):
        for name in dirs + files:
            os.utime(os.path.join(dirpath, name), (past, past))

    compact_search_index(spark, idx, retention_sec=3600.0)
    assert os.path.isdir(old_postings), (
        "just-retired epoch swept because its mtime predates retention — "
        "retirement must be stamped at the pointer flip"
    )
    assert spark.read.parquet(old_postings).count() > 0
    retired = epoch_store._read_retired_at(
        os.path.join(old_postings, "_retired.json")
    )
    assert retired is not None and retired > 1e9, "stamp must be flip-time, not mtime"


def test_retention_zero_sweeps_immediately(spark, tmp_path):
    idx = str(tmp_path / "srch0")
    build_search_index(_docs(spark), "doc_id", {"body": "body"}, idx)
    delete_from_search_index(spark, idx, ["7"])
    old_postings = epoch_store.data_dir(idx, "postings", _search_epoch(idx))
    compact_search_index(spark, idx)  # default retention_sec=0.0
    assert not os.path.isdir(old_postings)


def test_ivf_compact_retention(spark, tmp_path):
    from pyspark.sql import functions as F

    from ariadne_dbt_spark.operators.similarity import (
        ivf_build_index,
        ivf_compact,
        ivf_delete,
        ivf_query_index,
    )

    idx = str(tmp_path / "ivf")
    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 5).cast("double"),
            (F.col("id") % 3).cast("double"),
            F.lit(1.0),
        ).alias("embedding"),
    )
    ivf_build_index(emb, idx, n_centroids=4, iters=2)
    ivf_delete(spark, idx, [1, 2])
    old_vectors = epoch_store.data_dir(idx, "vectors", epoch_store.read_epoch(idx))
    ivf_compact(spark, idx, retention_sec=3600.0)
    assert os.path.isdir(old_vectors)
    assert spark.read.parquet(old_vectors).count() == 64
    # served results unaffected by the retained dir
    got = ivf_query_index(spark, idx, [1.0, 1.0, 1.0, 1.0], k=5, nprobe=4)
    assert 1 not in [r["vec_id"] for r in got.collect()]
