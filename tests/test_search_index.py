"""Versioned search index (operators/search_index.py): upsert / delete /
compact are rebuild-identical, the meta gen is a real commit point, and
the phrase operator counts token-level adjacency exactly."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ariadne_dbt_spark.operators import epoch_store
from ariadne_dbt_spark.operators.search import bm25, phrase_hits, positional_postings
from ariadne_dbt_spark.operators.search_index import (
    build_search_index,
    compact_search_index,
    delete_from_search_index,
    read_search_index,
    upsert_search_index,
)

FIELDS = {"text": "text"}


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _ranked(spark, index_dir, q="spark stream"):
    postings, docstats, n_docs, avgdl = read_search_index(spark, index_dir)
    return [
        (r["unique_id"], round(r["bm25_score"], 9))
        for r in bm25(
            postings, docstats, n_docs, q,
            field_weights={"text": 1.0}, avgdl_by_field=avgdl,
        ).collect()
    ]


def _rebuilt_ranked(spark, rows, tmp, q="spark stream"):
    d = os.path.join(tmp, "rebuild")
    import shutil

    shutil.rmtree(d, ignore_errors=True)
    build_search_index(_docs(spark, rows), "doc_id", FIELDS, d)
    return _ranked(spark, d, q)


BASE = [
    (1, "spark stream join table"),
    (2, "table scan filter group"),
    (3, "spark spark vector window"),
    (4, "stream stream stream merge"),
]


def test_upsert_and_delete_match_rebuild(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_search_index(_docs(spark, BASE), "doc_id", FIELDS, idx)

    # upsert: replace doc 2, insert doc 5
    batch = [(2, "spark stream stream query"), (5, "vector spark stream")]
    upsert_search_index(spark, idx, _docs(spark, batch), "doc_id", FIELDS)
    # delete doc 4
    delete_from_search_index(spark, idx, [4])

    final_rows = [BASE[0], batch[0], BASE[2], batch[1]]
    assert _ranked(spark, idx) == _rebuilt_ranked(spark, final_rows, str(tmp_path))

    # n_docs and integer stats match a from-scratch build exactly
    with open(os.path.join(idx, "meta.json")) as f:
        meta = json.load(f)
    with open(os.path.join(str(tmp_path), "rebuild", "meta.json")) as f:
        ref = json.load(f)
    assert meta["n_docs"] == ref["n_docs"] == 4
    assert meta["field_stats"] == ref["field_stats"]


def test_upsert_same_gen_replacement_wins(spark, tmp_path):
    """An upsert's tombstone (gen g) must not kill its own replacement
    rows (also gen g)."""
    idx = str(tmp_path / "idx")
    build_search_index(_docs(spark, BASE), "doc_id", FIELDS, idx)
    upsert_search_index(
        spark, idx, _docs(spark, [(1, "query query query")]), "doc_id", FIELDS
    )
    postings, _, _, _ = read_search_index(spark, idx)
    live1 = postings.where(F.col("unique_id") == "1").collect()
    assert {r["term"] for r in live1} == {"query"}
    assert live1[0]["tf"] == 3


def test_compaction_preserves_results_and_clears_log(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_search_index(_docs(spark, BASE), "doc_id", FIELDS, idx)
    upsert_search_index(
        spark, idx, _docs(spark, [(2, "spark stream stream query")]), "doc_id", FIELDS
    )
    delete_from_search_index(spark, idx, [4])
    before = _ranked(spark, idx)
    compact_search_index(spark, idx)
    assert _ranked(spark, idx) == before
    with open(os.path.join(idx, "meta.json")) as f:
        meta = json.load(f)
    assert meta["gen"] == 0
    # compaction committed a fresh epoch whose tombstone log is empty,
    # and swept the old epoch's directories
    tomb = spark.read.parquet(
        epoch_store.data_dir(idx, "tombstones", meta["epoch"])
    )
    assert tomb.count() == 0
    assert meta["epoch"] == 1
    assert not os.path.exists(os.path.join(idx, "tombstones"))


def test_meta_is_the_commit_point(spark, tmp_path):
    """Rows appended past meta.gen are invisible: a crash between the
    data append and the meta write leaves the old version intact."""
    idx = str(tmp_path / "idx")
    build_search_index(_docs(spark, BASE), "doc_id", FIELDS, idx)
    before = _ranked(spark, idx)
    meta_file = os.path.join(idx, "meta.json")
    with open(meta_file) as f:
        saved = f.read()
    upsert_search_index(
        spark, idx, _docs(spark, [(1, "query query query")]), "doc_id", FIELDS
    )
    # simulate the crash: data of gen 1 is on disk, meta still says gen 0
    with open(meta_file, "w") as f:
        f.write(saved)
    assert _ranked(spark, idx) == before


def test_crash_retry_does_not_resurrect_orphans(spark, tmp_path):
    """A crashed upsert (rows appended, meta never written) followed by
    a RETRY of the same batch must not double-count: the retry reserves
    a fresh gen via the attempt marker and the orphan's gen lands in
    meta['orphans'], so readers skip the orphaned copy forever."""
    idx = str(tmp_path / "idx")
    build_search_index(_docs(spark, BASE), "doc_id", FIELDS, idx)
    meta_file = os.path.join(idx, "meta.json")
    with open(meta_file) as f:
        saved = f.read()
    batch = [(2, "spark stream stream query")]
    upsert_search_index(spark, idx, _docs(spark, batch), "doc_id", FIELDS)
    # crash: the append of gen 1 survived, the commit didn't
    with open(meta_file, "w") as f:
        f.write(saved)
    # retry the same logical batch — then later commits happen
    upsert_search_index(spark, idx, _docs(spark, batch), "doc_id", FIELDS)
    with open(meta_file) as f:
        meta = json.load(f)
    assert meta["gen"] == 2 and meta["orphans"] == [1]  # gen 1 orphaned
    # ground truth: a clean index over the same logical corpus
    clean = str(tmp_path / "clean")
    rows = [r for r in BASE if r[0] != 2] + batch
    build_search_index(_docs(spark, rows), "doc_id", FIELDS, clean)
    assert _ranked(spark, idx) == _ranked(spark, clean)
    # and doc 2's postings appear exactly once (no duplicated tf rows)
    postings, _, _, _ = read_search_index(spark, idx)
    dup = (
        postings.where(F.col("unique_id") == "2")
        .groupBy("field", "term")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_compaction_crash_before_commit_leaves_old_epoch_live(
    spark, tmp_path, monkeypatch
):
    """Compaction stages a whole new epoch and commits via one atomic
    meta replace — killing it anywhere before that leaves readers on
    the old, fully consistent version (tombstones still applied)."""
    idx = str(tmp_path / "idx")
    build_search_index(_docs(spark, BASE), "doc_id", FIELDS, idx)
    upsert_search_index(
        spark, idx, _docs(spark, [(2, "spark stream stream query")]), "doc_id", FIELDS
    )
    delete_from_search_index(spark, idx, [4])
    before = _ranked(spark, idx)

    def _boom(*args, **kw):
        raise RuntimeError("crash before commit")

    # the flip's meta replace is the search index's commit point
    monkeypatch.setattr(epoch_store, "write_meta", _boom)
    with pytest.raises(RuntimeError):
        compact_search_index(spark, idx)
    monkeypatch.undo()
    assert _ranked(spark, idx) == before  # old epoch intact, delete applied
    # and a subsequent real compaction still succeeds and agrees
    compact_search_index(spark, idx)
    assert _ranked(spark, idx) == before


def test_concurrent_commit_refused(spark, tmp_path):
    """Two writers racing on one index: the second commit must refuse
    (ConcurrentWriteError) instead of silently dropping the first's gen
    and stats deltas via last-writer-wins meta replace."""
    from ariadne_dbt_spark.operators import search_index as si

    idx = str(tmp_path / "idx")
    build_search_index(_docs(spark, BASE), "doc_id", FIELDS, idx)

    real_lock = epoch_store.commit_lock
    state = {"raced": False}

    def _race_once(index_dir):
        # simulate writer B committing between A's read and A's commit
        if not state["raced"]:
            state["raced"] = True
            other = epoch_store.read_meta(index_dir)
            other["gen"] = 99
            epoch_store.write_meta(index_dir, "meta.json", other)
        return real_lock(index_dir)

    epoch_store.commit_lock = _race_once
    try:
        with pytest.raises(si.ConcurrentWriteError):
            upsert_search_index(
                spark, idx, _docs(spark, [(5, "query")]), "doc_id", FIELDS
            )
    finally:
        epoch_store.commit_lock = real_lock


def test_legacy_gens_meta_reads_and_migrates(spark, tmp_path):
    """A round-6 meta carrying an explicit 'gens' list still reads
    correctly (orphans derived from the gaps) and the next commit
    rewrites it to the bounded gen+orphans representation."""
    idx = str(tmp_path / "idx")
    build_search_index(_docs(spark, BASE), "doc_id", FIELDS, idx)
    before = _ranked(spark, idx)
    meta_file = os.path.join(idx, "meta.json")
    with open(meta_file) as f:
        meta = json.load(f)
    del meta["orphans"]
    meta["gens"] = [0]  # the round-6 format
    with open(meta_file, "w") as f:
        json.dump(meta, f)
    assert _ranked(spark, idx) == before
    upsert_search_index(
        spark, idx, _docs(spark, [(5, "vector spark stream")]), "doc_id", FIELDS
    )
    with open(meta_file) as f:
        meta2 = json.load(f)
    assert "gens" not in meta2 and meta2["orphans"] == []
    assert meta2["gen"] == 1 and meta2["n_docs"] == 5


def test_compaction_sweeps_stale_attempt_markers(spark, tmp_path):
    """Attempt markers of retired epochs are dead bytes once the pointer
    moves on — compaction's sweep removes them (ADVICE r6)."""
    idx = str(tmp_path / "idx")
    build_search_index(_docs(spark, BASE), "doc_id", FIELDS, idx)
    upsert_search_index(
        spark, idx, _docs(spark, [(5, "vector spark")]), "doc_id", FIELDS
    )
    assert os.path.exists(os.path.join(idx, "_attempt.json"))
    compact_search_index(spark, idx)  # → epoch 1
    assert not os.path.exists(os.path.join(idx, "_attempt.json"))
    upsert_search_index(
        spark, idx, _docs(spark, [(6, "stream merge")]), "doc_id", FIELDS
    )
    assert os.path.exists(os.path.join(idx, "_attempt_ep1.json"))
    compact_search_index(spark, idx)  # → epoch 2
    assert not os.path.exists(os.path.join(idx, "_attempt_ep1.json"))


def test_delete_then_reinsert(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_search_index(_docs(spark, BASE), "doc_id", FIELDS, idx)
    delete_from_search_index(spark, idx, [3])
    upsert_search_index(
        spark, idx, _docs(spark, [(3, "vector vector")]), "doc_id", FIELDS
    )
    rows = [BASE[0], BASE[1], (3, "vector vector"), BASE[3]]
    assert _ranked(spark, idx, "vector") == _rebuilt_ranked(
        spark, rows, str(tmp_path), "vector"
    )


def test_delete_missing_id_is_noop_on_stats(spark, tmp_path):
    idx = str(tmp_path / "idx")
    meta0 = build_search_index(_docs(spark, BASE), "doc_id", FIELDS, idx)
    meta1 = delete_from_search_index(spark, idx, [999])
    assert meta1["n_docs"] == meta0["n_docs"]
    assert meta1["field_stats"] == meta0["field_stats"]


# -- phrase matching ----------------------------------------------------------


def test_phrase_hits_counts_overlaps_and_adjacency(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark stream spark stream"),   # 2 hits (overlap-adjacent)
            (2, "spark x stream"),              # gap -> no hit
            (3, "a spark stream b"),            # 1 hit
            (4, "stream spark"),                # wrong order -> no hit
            (5, "SPARK, stream!"),              # case/punct normalize -> 1 hit
        ],
        "doc_id bigint, text string",
    )
    pos = positional_postings(docs, "doc_id", "text")
    got = {
        r["unique_id"]: r["n_hits"]
        for r in phrase_hits(pos, ["spark", "stream"]).collect()
    }
    assert got == {1: 2, 3: 1, 5: 1}


def test_phrase_hits_three_terms(spark):
    docs = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a b x c")], "doc_id bigint, text string"
    )
    pos = positional_postings(docs, "doc_id", "text")
    got = {
        r["unique_id"]: r["n_hits"]
        for r in phrase_hits(pos, ["a", "b", "c"]).collect()
    }
    assert got == {1: 2}


def test_phrase_hits_empty_phrase_raises(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id bigint, text string")
    with pytest.raises(ValueError):
        phrase_hits(positional_postings(docs, "doc_id", "text"), [])


# -- curriculum ordering ------------------------------------------------------


def test_curriculum_order_phases_and_positions(spark):
    from ariadne_dbt_spark.operators.sampling import curriculum_order

    rows = [(i, i * 10) for i in range(1, 31)]
    df = spark.createDataFrame(rows, "doc_id bigint, score bigint")
    out = curriculum_order(df, "doc_id", "score", n_phases=3).collect()
    by_phase = {}
    for r in out:
        by_phase.setdefault(r["phase"], []).append(r)
    # terciles of 10*[1..30]: boundaries at interpolated 1/3 and 2/3
    assert set(by_phase) == {1, 2, 3}
    assert sum(len(v) for v in by_phase.values()) == 30
    # monotone: every phase-1 score <= every phase-2 score <= phase-3
    assert max(r["score"] for r in by_phase[1]) <= min(r["score"] for r in by_phase[2])
    assert max(r["score"] for r in by_phase[2]) <= min(r["score"] for r in by_phase[3])
    # positions are 1..n within each (phase, shard), no gaps
    for rows_ in by_phase.values():
        shard_pos = {}
        for r in rows_:
            shard_pos.setdefault(r["shard"], []).append(r["pos"])
        for poss in shard_pos.values():
            assert sorted(poss) == list(range(1, len(poss) + 1))


def test_curriculum_order_deterministic(spark):
    from ariadne_dbt_spark.operators.sampling import curriculum_order

    df = spark.createDataFrame(
        [(i, (i * 7) % 13) for i in range(50)], "doc_id bigint, score bigint"
    )
    a = sorted(map(tuple, curriculum_order(df, "doc_id", "score").collect()))
    b = sorted(map(tuple, curriculum_order(df, "doc_id", "score").collect()))
    assert a == b


def test_phrase_hits_repeated_term(spark):
    """A phrase whose terms repeat ('stream stream') must anchor each
    leg independently: 'stream stream stream' contains it twice."""
    docs = spark.createDataFrame(
        [(1, "stream stream stream"), (2, "stream x stream")],
        "doc_id bigint, text string",
    )
    pos = positional_postings(docs, "doc_id", "text")
    got = {
        r["unique_id"]: r["n_hits"]
        for r in phrase_hits(pos, ["stream", "stream"]).collect()
    }
    assert got == {1: 2}
