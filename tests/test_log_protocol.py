"""The one index log protocol (``operators/epoch_store.py``) as the shingle
and IVF indexes use it.

* A delete commits like an append, so a compaction in flight can refuse
  it or keep it, but never undo it: a tombstone written into the epoch a
  compaction is about to retire would otherwise vanish with that epoch,
  and the deleted row would serve again after the flip.
* Tombstones follow the newest-wins rule: a delete followed by a
  re-append of the same id serves the new row at once, with no
  compaction in between.
* ``dedup.py``, ``search_index.py`` and ``similarity.py`` reach the
  commit primitives only through the protocol functions.
"""

from __future__ import annotations

import ast
import os

import pytest

from conftest import REPO

from ariadne_dbt_spark.operators import epoch_store

KINDS = ("raw", "pq", "shingle")
IDS = range(12)


def _text(i: int, tag: str = "") -> str:
    # every doc has its own words, so no two docs are near duplicates
    return " ".join(f"w{i}{tag}{c}" for c in "abcdef")


def _vector(i: int, base: float = 0.0) -> list[float]:
    return [float(((i * 7 + j * 3) % 10) + base) for j in range(8)]


def _build(spark, kind, idx):
    from ariadne_dbt_spark.operators.dedup import build_shingle_index
    from ariadne_dbt_spark.operators.similarity import (
        ivf_build_index,
        ivf_pq_build_index,
    )

    if kind == "shingle":
        docs = spark.createDataFrame(
            [(i, _text(i)) for i in IDS], "doc_id bigint, text string"
        )
        build_shingle_index(docs, idx, "doc_id", "text", n=3)
        return
    vecs = spark.createDataFrame(
        [(i, _vector(i)) for i in IDS], "vec_id bigint, embedding array<float>"
    )
    if kind == "raw":
        ivf_build_index(vecs, idx, n_centroids=4, iters=2)
    else:
        ivf_pq_build_index(vecs, idx, n_centroids=4, iters=2, m=4, k_sub=4)


def _delete(spark, kind, idx, ids):
    from ariadne_dbt_spark.operators.dedup import delete_from_shingle_index
    from ariadne_dbt_spark.operators.similarity import ivf_delete

    if kind == "shingle":
        return delete_from_shingle_index(spark, idx, ids)
    return ivf_delete(spark, idx, ids)


def _compact(spark, kind, idx):
    from ariadne_dbt_spark.operators.dedup import compact_shingle_index
    from ariadne_dbt_spark.operators.similarity import ivf_compact

    (compact_shingle_index if kind == "shingle" else ivf_compact)(spark, idx)


def _serves(spark, kind, idx, i, tag=""):
    """Whether doc/vector ``i`` serves: a shingle batch doc with its text
    is flagged as a duplicate; a full-probe IVF query returns its id."""
    from ariadne_dbt_spark.operators.dedup import incremental_near_dup_flags
    from ariadne_dbt_spark.operators.similarity import (
        ivf_pq_query_index,
        ivf_query_index,
    )

    if kind == "shingle":
        batch = spark.createDataFrame([(999, _text(i, tag))], "doc_id bigint, text string")
        flags = incremental_near_dup_flags(
            None, batch, "doc_id", "text", n=3, threshold=0.8, index_dir=idx
        ).collect()
        return flags[0]["is_dup"]
    query = ivf_query_index if kind == "raw" else ivf_pq_query_index
    ids = [r["vec_id"] for r in query(spark, idx, _vector(i), k=100, nprobe=4).collect()]
    assert len(ids) == len(set(ids))
    return i in ids


@pytest.mark.parametrize("kind", KINDS)
def test_delete_during_compaction_is_never_undone(spark, tmp_path, monkeypatch, kind):
    """The delete commits after the compaction read its snapshot and
    staged the new epoch, just before the flip. Either the compaction
    refuses, or it keeps the delete: the deleted id must not serve again,
    neither now nor after a clean re-run of the compaction."""
    idx = str(tmp_path / kind)
    _build(spark, kind, idx)
    assert _serves(spark, kind, idx, 5)

    original_lock = epoch_store.commit_lock
    state = {"fired": False}

    def delete_then_lock(target_dir):
        if not state["fired"]:
            state["fired"] = True
            monkeypatch.undo()
            assert _delete(spark, kind, idx, [5]) == 1  # the concurrent delete
        return original_lock(target_dir)

    monkeypatch.setattr(epoch_store, "commit_lock", delete_then_lock)
    try:
        _compact(spark, kind, idx)
    except epoch_store.ConcurrentWriteError:
        pass  # refused: the delete stays committed in the old epoch
    monkeypatch.undo()
    assert state["fired"]
    assert not _serves(spark, kind, idx, 5)
    assert _serves(spark, kind, idx, 6)

    _compact(spark, kind, idx)
    assert epoch_store.read_epoch(idx) >= 1
    assert not _serves(spark, kind, idx, 5)
    assert _serves(spark, kind, idx, 6)


@pytest.mark.parametrize("kind", KINDS)
def test_reappend_after_delete_serves_the_new_row(spark, tmp_path, kind):
    """A tombstone hides only the rows older than it: an id re-appended
    after its delete serves its new row before any compaction, and the
    deleted row stays hidden."""
    from ariadne_dbt_spark.operators.dedup import append_to_shingle_index
    from ariadne_dbt_spark.operators.similarity import ivf_append

    idx = str(tmp_path / kind)
    _build(spark, kind, idx)
    _delete(spark, kind, idx, [5])
    assert not _serves(spark, kind, idx, 5)

    if kind == "shingle":
        batch = spark.createDataFrame([(5, _text(5, "new"))], "doc_id bigint, text string")
        append_to_shingle_index(batch, idx, "doc_id", "text")
        assert _serves(spark, kind, idx, 5, tag="new")
        assert not _serves(spark, kind, idx, 5)  # the deleted text
        return
    batch = spark.createDataFrame([(5, _vector(5, 0.5))], "vec_id bigint, embedding array<float>")
    ivf_append(batch, idx)
    assert _serves(spark, kind, idx, 5)
    # exactly one live row for the id: the re-appended one
    meta_file = "stats.json" if kind == "raw" else "index_meta.json"
    snap = epoch_store.snapshot(idx, meta_file)
    data = "vectors" if kind == "raw" else "codes"
    rows = (
        epoch_store.live_rows(spark, snap, data, "vec_id long")
        .where("vec_id = 5")
        .collect()
    )
    assert [r["gen"] for r in rows] == [snap.meta["gen"]]


def test_legacy_genless_tombstones_still_delete(spark, tmp_path):
    """A tombstone file written before deletes were gen-tagged has no
    ``gen`` column. Mixed into a log with gen-tagged files, it still
    hides its id, including rows appended after it (a legacy tombstone
    counts as newer than every row)."""
    from ariadne_dbt_spark.operators.similarity import ivf_append

    idx = str(tmp_path / "raw")
    _build(spark, "raw", idx)
    _delete(spark, "raw", idx, [5])  # gen-tagged
    spark.createDataFrame([(6,)], "vec_id long").write.mode("append").parquet(
        epoch_store.data_dir(idx, "tombstones")
    )
    batch = spark.createDataFrame([(6, _vector(6, 0.5))], "vec_id bigint, embedding array<float>")
    ivf_append(batch, idx)
    assert not _serves(spark, "raw", idx, 5)
    assert not _serves(spark, "raw", idx, 6)
    assert _serves(spark, "raw", idx, 7)


#: the commit primitives only epoch_store's protocol functions may call
_PROTOCOL_PRIMITIVES = {
    "commit_lock",
    "check_gen_unchanged",
    "advance_gen",
    "next_attempt_gen",
    "commit_epoch",
    "sweep_stale_epochs",
    "apply_gen_filter",
    "read_gen_data",
}
_INDEX_MODULES = ("dedup.py", "search_index.py", "similarity.py")


def protocol_bypasses(operators_dir: str) -> list[str]:
    """Calls (and imports) of the commit primitives, or ``os.replace``,
    in the three index modules under ``operators_dir``."""
    out = []
    for fn in _INDEX_MODULES:
        path = os.path.join(operators_dir, fn)
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                names = {a.name for a in node.names} & _PROTOCOL_PRIMITIVES
                out += [f"{fn}:{node.lineno} imports {n}" for n in sorted(names)]
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            if isinstance(func, ast.Name) and func.id in _PROTOCOL_PRIMITIVES:
                out.append(f"{fn}:{node.lineno} {func.id}")
            elif isinstance(func, ast.Attribute) and (
                func.attr in _PROTOCOL_PRIMITIVES
                or (
                    func.attr == "replace"
                    and isinstance(func.value, ast.Name)
                    and func.value.id == "os"
                )
            ):
                out.append(f"{fn}:{node.lineno} {func.attr}")
    return out


def test_index_modules_commit_only_through_the_protocol():
    """The shingle, search and IVF indexes commit through epoch_store's
    snapshot / live_rows / append / tombstone / flip and write files
    with its atomic writers: a direct call to a commit primitive is a
    second copy of the protocol, which drifts (IVF and shingle deletes
    once skipped the commit entirely)."""
    offenders = protocol_bypasses(os.path.join(REPO, "ariadne_dbt_spark", "operators"))
    assert offenders == [], "go through epoch_store's protocol: " + ", ".join(offenders)


def test_planning_a_live_rows_read_runs_no_job(spark, tmp_path):
    """The data log's schema (the union of its files' footers, ``gen``
    kept whenever any file has it) resolves on the driver: building a
    ``live_rows`` plan runs no Spark job."""
    import time

    idx = str(tmp_path / "raw")
    _build(spark, "raw", idx)
    _delete(spark, "raw", idx, [5])
    snap = epoch_store.snapshot(idx, "stats.json")

    sc = spark.sparkContext
    group = f"live-rows-plan-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        rows = epoch_store.live_rows(spark, snap, "vectors", "vec_id long")
        spark.range(1).collect()  # a closing job marks the group's end
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    for _ in range(200):
        jobs = tracker.getJobIdsForGroup(group)
        if jobs:
            break
        time.sleep(0.05)
    assert len(jobs) == 1, f"planning ran {len(jobs) - 1} job(s)"
    assert "gen" in rows.columns and "cell" in rows.columns
    assert 5 not in {r["vec_id"] for r in rows.collect()}
