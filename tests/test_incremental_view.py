"""Change-feed log (table_store.enable_change_feed / table_changes_log)
and incrementally maintained aggregate views (operators/incremental_view).

Contracts under test:

* with the feed enabled, every MERGE / DELETE / UPDATE commit logs its
  exact change rows (pre+post images) and ``table_changes_log`` over a
  range equals the diff-based ``table_changes(with_preimages=True)``
  row-for-row;
* pre-change-feed and restore epochs are refused loudly by the log
  reader (never silently empty); optimize epochs read as empty;
* an incrementally refreshed SUM/COUNT view is BIT-IDENTICAL to a
  from-scratch rebuild after a mixed insert/update/delete workload —
  including group birth and group death;
* the refresh uses the log path when available, the diff path without
  it, and REBUILDS (never double-folds) when the view moved without
  its cursor;
* MIN/MAX measures are refused at build time.
"""

from __future__ import annotations

import os
from decimal import Decimal

import pytest
from pyspark.sql import Row, functions as F

from ariadne_dbt_spark.operators.epoch_store import read_epoch
from ariadne_dbt_spark.operators.incremental_view import (
    build_agg_view,
    refresh_agg_view,
    view_status,
)
from ariadne_dbt_spark.operators.table_store import (
    delete_keys,
    enable_change_feed,
    merge_table,
    optimize_table,
    read_table,
    table_changes,
    table_changes_log,
    update_where,
    write_table,
)


def _base(spark, tmp_path, name="base", n=400, feed=True):
    tdir = str(tmp_path / name)
    df = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 5).cast("int").alias("grp"),
        (F.col("id") * 10).cast("decimal(18,2)").alias("amt"),
    )
    write_table(spark, df, tdir)
    if feed:
        enable_change_feed(tdir)
    return tdir


def _mutate(spark, tdir):
    """A mixed workload: updates, inserts (incl. a NEW group), deletes
    (incl. one that KILLS a group), and a predicate update."""
    # group 4 lives only in ids {4,9,...}; delete all of it later.
    # retention keeps the intermediate epochs (and their change logs /
    # diff bases) readable for the refresh — the same rule Delta has
    # for CDF vs VACUUM
    merge_table(
        spark,
        tdir,
        spark.createDataFrame(
            [
                Row(id=1, grp=1, amt=Decimal("999.50")),
                Row(id=10_001, grp=7, amt=Decimal("70.25")),
            ],
            "id long, grp int, amt decimal(18,2)",
        ),
        ["id"],
        retention_sec=3600,
    )
    delete_keys(
        spark,
        tdir,
        spark.range(400).select("id").where(F.col("id") % 5 == 4),
        ["id"],
        retention_sec=3600,
    )
    update_where(
        spark, tdir, {"amt": "amt + 0.25"}, "grp = 2 AND id < 100",
        retention_sec=3600,
    )


def test_changes_log_matches_version_diff(spark, tmp_path):
    tdir = _base(spark, tmp_path)
    e0 = read_epoch(tdir)
    _mutate(spark, tdir)

    log = table_changes_log(spark, tdir, from_epoch=e0).drop("_commit_epoch")
    diff = table_changes(
        spark, tdir, ["id"], from_epoch=e0, with_preimages=True
    )
    cols = ["id", "_change_type", "grp", "amt"]
    got = sorted(map(tuple, log.select(cols).collect()))
    want = sorted(map(tuple, diff.select(cols).collect()))
    # the log records per-commit truth; the diff collapses an
    # update-then-delete of the SAME row differently — this workload
    # touches disjoint rows per commit, so they must agree exactly
    assert got == want
    assert len(got) > 0


def test_log_reader_names_no_hidden_path(spark, tmp_path, monkeypatch):
    """Spark ignores a read path whose last segment starts with ``_`` (and
    warns ``All paths were ignored``): the log reader names the part
    files of each epoch's ``_changes/`` dir instead."""
    from pyspark.sql.readwriter import DataFrameReader

    tdir = _base(spark, tmp_path, name="paths")
    e0 = read_epoch(tdir)
    _mutate(spark, tdir)
    want = table_changes(spark, tdir, ["id"], from_epoch=e0, with_preimages=True).count()
    read, paths = DataFrameReader.parquet, []

    def spy(self, *args, **kwargs):
        paths.extend(args)
        return read(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    log = table_changes_log(spark, tdir, from_epoch=e0)
    assert paths
    assert not [p for p in paths if os.path.basename(p.rstrip("/")).startswith("_")]
    assert log.count() == want > 0


def test_change_feed_merge_keeps_the_callers_job_group(spark, tmp_path):
    """A change-feed commit writes its data and its log on two pool
    threads; both jobs must carry the caller's job group, or a group
    cancel and per-group job accounting miss them."""
    import time

    tdir = _base(spark, tmp_path, name="group")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"g-{os.urandom(4).hex()}"

    def in_group(name, fn):
        sc.setJobGroup(name, name)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def ungrouped() -> set:
        # a closing job: once it is listed, every earlier job is too
        # (listener events arrive in order)
        tag = f"close-{os.urandom(4).hex()}"
        in_group(tag, lambda: spark.range(1).collect())
        for _ in range(200):
            if tracker.getJobIdsForGroup(tag):
                break
            time.sleep(0.05)
        return set(tracker.getJobIdsForGroup(None))

    before = ungrouped()
    in_group(group, lambda: merge_table(
        spark, tdir,
        spark.range(390, 410).select(
            "id", (F.col("id") % 5).cast("int").alias("grp"),
            F.lit(1).cast("decimal(18,2)").alias("amt"),
        ),
        ["id"],
    ))
    assert ungrouped() - before == set()
    assert len(tracker.getJobIdsForGroup(group)) >= 2


def test_log_reader_refuses_unlogged_epochs(spark, tmp_path):
    tdir = _base(spark, tmp_path, name="nolog", feed=False)
    e0 = read_epoch(tdir)
    merge_table(
        spark,
        tdir,
        spark.createDataFrame([Row(id=1, grp=1, amt=Decimal("5.00"))],
                              "id long, grp int, amt decimal(18,2)"),
        ["id"],
    )
    with pytest.raises(ValueError, match="no.*change log|change log"):
        table_changes_log(spark, tdir, from_epoch=e0)


def test_log_reads_optimize_epochs_as_empty(spark, tmp_path):
    tdir = _base(spark, tmp_path, name="opt")
    e0 = read_epoch(tdir)
    optimize_table(spark, tdir, cluster_by=["id"])
    assert table_changes_log(spark, tdir, from_epoch=e0).count() == 0


def _assert_view_equals_rebuild(spark, tdir, vdir, tmp_path, tag):
    fresh = str(tmp_path / f"fresh_{tag}")
    build_agg_view(
        spark, tdir, fresh,
        row_keys=["id"], group_by=["grp"],
        measures={"total": ("sum", "amt"), "n": ("count", None)},
    )
    cols = ["grp", "total", "n", "_rows"]
    got = sorted(map(tuple, read_table(spark, vdir).select(cols).collect()))
    want = sorted(map(tuple, read_table(spark, fresh).select(cols).collect()))
    assert got == want, f"incremental view diverged from rebuild ({tag})"


@pytest.mark.parametrize("feed", [True, False], ids=["log", "diff"])
def test_incremental_view_equals_rebuild(spark, tmp_path, feed):
    tdir = _base(spark, tmp_path, name=f"b_{feed}", feed=feed)
    vdir = str(tmp_path / f"view_{feed}")
    rep = build_agg_view(
        spark, tdir, vdir,
        row_keys=["id"], group_by=["grp"],
        measures={"total": ("sum", "amt"), "n": ("count", None)},
    )
    assert rep["n_groups"] == 5

    # keep retired epochs so the diff fallback can read from_epoch
    _mutate(spark, tdir)
    st = view_status(vdir)
    assert st["stale"] and not st["view_moved_externally"]

    out = refresh_agg_view(spark, vdir)
    assert out["refreshed"] and out["mode"] == ("log" if feed else "diff")
    assert out["groups_deleted"] == 1  # grp 4 died
    _assert_view_equals_rebuild(spark, tdir, vdir, tmp_path, f"m_{feed}")

    # idempotent: nothing to fold
    assert refresh_agg_view(spark, vdir)["refreshed"] is False


def test_view_moved_externally_triggers_rebuild(spark, tmp_path):
    tdir = _base(spark, tmp_path, name="ext")
    vdir = str(tmp_path / "extview")
    build_agg_view(
        spark, tdir, vdir,
        row_keys=["id"], group_by=["grp"],
        measures={"total": ("sum", "amt"), "n": ("count", None)},
    )
    # simulate a crash between the view merge and the cursor write:
    # mutate the VIEW table out-of-band
    optimize_table(spark, vdir)
    _mutate(spark, tdir)
    out = refresh_agg_view(spark, vdir)
    assert out["mode"] == "rebuild"
    _assert_view_equals_rebuild(spark, tdir, vdir, tmp_path, "ext")


def test_minmax_measures_refused(spark, tmp_path):
    tdir = _base(spark, tmp_path, name="mm")
    with pytest.raises(ValueError, match="not incrementally maintainable"):
        build_agg_view(
            spark, tdir, str(tmp_path / "mmv"),
            row_keys=["id"], group_by=["grp"],
            measures={"hi": ("max", "amt")},
        )


def test_write_table_refused_under_change_feed(spark, tmp_path):
    tdir = _base(spark, tmp_path, name="wt")
    with pytest.raises(ValueError, match="change_feed"):
        write_table(
            spark,
            read_table(spark, tdir).limit(1),
            tdir,
        )


def test_avg_measure_and_read_view(spark, tmp_path):
    """``avg`` measures store hidden sum/count pairs (incrementally
    maintainable) and divide at read time; read_view hides the storage
    columns and matches a from-scratch AVG after mutations. The view is
    itself a managed table, so time travel to the pre-refresh version
    works out of the box."""
    from ariadne_dbt_spark.operators.incremental_view import read_view

    tdir = _base(spark, tmp_path, name="avg")
    vdir = str(tmp_path / "avgview")
    build_agg_view(
        spark, tdir, vdir,
        row_keys=["id"], group_by=["grp"],
        measures={"mean_amt": ("avg", "amt"), "n": ("count", None)},
    )
    before = {r["grp"]: r["mean_amt"] for r in read_view(spark, vdir).collect()}

    _mutate(spark, tdir)
    out = refresh_agg_view(spark, vdir, retention_sec=3600)
    assert out["refreshed"] and out["mode"] == "log"

    got = {
        r["grp"]: (round(r["mean_amt"], 6), r["n"])
        for r in read_view(spark, vdir).collect()
    }
    want = {
        r["grp"]: (round(float(r["m"]), 6), r["n"])
        for r in read_table(spark, tdir)
        .groupBy("grp")
        .agg(F.avg("amt").alias("m"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    assert set(read_view(spark, vdir).columns) == {"grp", "mean_amt", "n"}

    # time travel: the pre-refresh view version is still readable
    old = {
        r["grp"]: float(r["mean_amt__sum"]) / r["mean_amt__cnt"]
        for r in read_table(spark, vdir, epoch=0).collect()
    }
    assert old.keys() == before.keys()
    for g in old:
        assert abs(old[g] - before[g]) < 1e-9


def test_refresh_with_two_column_group_key_equals_rebuild(spark, tmp_path):
    """The refresh collects only the leading group key (plus an any-NULL
    flag) to prune the view read; a view grouped on two columns must
    still fold to exactly a from-scratch GROUP BY, including groups that
    share the leading key."""
    tdir = _base(spark, tmp_path, name="b2")
    vdir = str(tmp_path / "v2")
    base = read_table(spark, tdir)
    write = str(tmp_path / "b2w")
    # a second group column: each grp splits into three sub-groups
    write_table(spark, base.withColumn("sub", (F.col("id") % 3).cast("int")), write)
    enable_change_feed(write)
    spec = dict(
        row_keys=["id"], group_by=["grp", "sub"],
        measures={"total": ("sum", "amt"), "n": ("count", None)},
    )
    build_agg_view(spark, write, vdir, **spec)
    merge_table(
        spark, write,
        spark.createDataFrame(
            [Row(id=1, grp=1, amt=Decimal("999.50"), sub=2),
             Row(id=10_001, grp=7, amt=Decimal("70.25"), sub=0)],
            "id long, grp int, amt decimal(18,2), sub int",
        ),
        ["id"], retention_sec=3600,
    )
    delete_keys(
        spark, write, spark.range(400).select("id").where(F.col("id") % 15 == 4),
        ["id"], retention_sec=3600,
    )
    update_where(spark, write, {"sub": "sub + 3"}, "grp = 2 AND id < 100", retention_sec=3600)

    out = refresh_agg_view(spark, vdir)
    assert out["refreshed"] and out["mode"] == "log"
    fresh = str(tmp_path / "v2_fresh")
    build_agg_view(spark, write, fresh, **spec)
    cols = ["grp", "sub", "total", "n", "_rows"]
    got = sorted(map(tuple, read_table(spark, vdir).select(cols).collect()))
    want = sorted(map(tuple, read_table(spark, fresh).select(cols).collect()))
    assert got == want
    assert len({(g, s) for g, s, *_ in got}) > len({g for g, *_ in got})
