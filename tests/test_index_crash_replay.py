"""Crash-retry safety of the gen-guarded append paths (round-7,
VERDICT item 8): shingle-postings, IVF and IVF-PQ appends ride the same
attempt-marker + committed-gen protocol as the search index — a batch
appended by an attempt that crashed before its meta commit stays
invisible FOREVER, and a retry of the same logical batch reserves a
fresh gen instead of double-counting the orphan's rows.

Crash simulation: run the real append, then restore the pre-append
metadata file — exactly the on-disk state a crash between the data
append and the meta commit leaves behind.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from ariadne_dbt_spark.operators import epoch_store
from ariadne_dbt_spark.operators.dedup import (
    append_to_shingle_index,
    build_shingle_index,
    compact_shingle_index,
    delete_from_shingle_index,
    incremental_near_dup_flags,
)

CORPUS = [
    (1, "alpha beta gamma delta epsilon zeta"),
    (2, "one two three four five six"),
    (3, "red green blue cyan magenta yellow"),
]
BATCH = [(10, "lorem ipsum dolor sit amet consectetur")]


def _save(path: str) -> str:
    with open(path) as f:
        return f.read()


def _restore(path: str, content: str) -> None:
    with open(path, "w") as f:
        f.write(content)


def _flags(spark, idx, batch_rows, n=3):
    batch = spark.createDataFrame(batch_rows, "doc_id bigint, text string")
    return {
        r["id"]: r["is_dup"]
        for r in incremental_near_dup_flags(
            None, batch, "doc_id", "text", n=n, threshold=0.8, index_dir=idx
        ).collect()
    }


def test_shingle_append_crash_retry_no_double_count(spark, tmp_path):
    idx = str(tmp_path / "shidx")
    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    build_shingle_index(docs, idx, "doc_id", "text", n=3)
    meta_file = os.path.join(idx, "meta.json")
    saved = _save(meta_file)

    batch = spark.createDataFrame(BATCH, "doc_id bigint, text string")
    append_to_shingle_index(batch, idx, "doc_id", "text")
    # crash: gen-1 rows are on disk, the meta commit never happened
    _restore(meta_file, saved)
    # orphaned rows are invisible: the batch doc does NOT look indexed
    assert _flags(spark, idx, [(99, BATCH[0][1])]) == {99: False}

    # retry the same logical batch → fresh gen, single live copy
    append_to_shingle_index(batch, idx, "doc_id", "text")
    with open(meta_file) as f:
        meta = json.load(f)
    assert meta["gen"] == 2 and meta["orphans"] == [1]
    assert _flags(spark, idx, [(99, BATCH[0][1])]) == {99: True}

    # exact-jaccard sanity: duplicated postings would inflate the
    # intersection count past the union and break jaccard<=1
    flags = incremental_near_dup_flags(
        None,
        spark.createDataFrame([(99, BATCH[0][1])], "doc_id bigint, text string"),
        "doc_id",
        "text",
        n=3,
        threshold=0.8,
        index_dir=idx,
    ).collect()
    assert flags[0]["max_jaccard"] <= 1.0 + 1e-9

    # physically: the orphan's rows exist on disk but carry gen 1
    postings = spark.read.parquet(epoch_store.data_dir(idx, "postings"))
    gens = {r["gen"] for r in postings.select("gen").distinct().collect()}
    assert gens == {0, 1, 2}
    live = epoch_store.apply_gen_filter(postings, meta)
    assert {r["gen"] for r in live.select("gen").distinct().collect()} == {0, 2}


def test_shingle_compaction_aborts_on_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """An append that commits between a compaction's meta snapshot and
    its epoch flip wrote postings into the OLD epoch's dirs — the flip
    would orphan its committed rows, and the compaction's meta write
    would revert its gen advance (lost update). The CAS at the flip
    must turn that into a loud retry, leaving the append fully
    visible."""
    from ariadne_dbt_spark.operators import dedup as dedup_mod

    idx = str(tmp_path / "shidx")
    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    build_shingle_index(docs, idx, "doc_id", "text", n=3)

    sneak = spark.createDataFrame(BATCH, "doc_id bigint, text string")
    original = dedup_mod._write_shingle_bloom_fold

    def inject_append_then_fold(*a, **kw):
        # runs inside compact_shingle_index, after its snapshot and
        # staged write, before its guarded flip — a real concurrent
        # committer
        append_to_shingle_index(sneak, idx, "doc_id", "text")
        return original(*a, **kw)

    monkeypatch.setattr(
        dedup_mod, "_write_shingle_bloom_fold", inject_append_then_fold
    )
    import pytest

    with pytest.raises(epoch_store.ConcurrentWriteError):
        compact_shingle_index(spark, idx)
    monkeypatch.undo()

    # nothing flipped, the sneaked append's gen survived, and its doc
    # is visible (prefilter may be degraded by the aborted refold —
    # results must be exact regardless)
    assert epoch_store.read_epoch(idx) == 0
    with open(os.path.join(idx, "meta.json")) as f:
        assert json.load(f)["gen"] == 1
    assert _flags(spark, idx, [(99, BATCH[0][1])]) == {99: True}

    # the re-run compacts cleanly and keeps the appended rows
    compact_shingle_index(spark, idx)
    assert epoch_store.read_epoch(idx) == 1
    assert _flags(spark, idx, [(99, BATCH[0][1])]) == {99: True}


def test_shingle_append_aborts_when_compaction_flips_mid_append(
    spark, tmp_path, monkeypatch
):
    """The mirror race: a compaction that flips while an append is in
    flight rewrote the OLD epoch's dirs, so the append's already-written
    rows are not part of the new epoch — committing its gen anyway would
    record rows no reader can see. The epoch check in the append's
    commit must refuse; a retry lands in the new epoch."""
    from ariadne_dbt_spark.operators import bloom as bloom_mod

    idx = str(tmp_path / "shidx")
    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    build_shingle_index(docs, idx, "doc_id", "text", n=3)

    batch = spark.createDataFrame(BATCH, "doc_id bigint, text string")
    original = bloom_mod.bloom_build

    def inject_compact_then_build(*a, **kw):
        # append calls bloom_build after its postings write and before
        # its commit — flip the epoch right in that window
        monkeypatch.undo()
        compact_shingle_index(spark, idx)
        return original(*a, **kw)

    monkeypatch.setattr(bloom_mod, "bloom_build", inject_compact_then_build)
    import pytest

    with pytest.raises(epoch_store.ConcurrentWriteError, match="compacted"):
        append_to_shingle_index(batch, idx, "doc_id", "text")

    # the refused append is invisible; the retry (clean) is visible
    assert _flags(spark, idx, [(99, BATCH[0][1])]) == {99: False}
    append_to_shingle_index(batch, idx, "doc_id", "text")
    assert _flags(spark, idx, [(99, BATCH[0][1])]) == {99: True}


def test_shingle_compaction_drops_orphans_and_clears_exclusions(spark, tmp_path):
    idx = str(tmp_path / "shidx")
    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    build_shingle_index(docs, idx, "doc_id", "text", n=3)
    meta_file = os.path.join(idx, "meta.json")
    saved = _save(meta_file)
    batch = spark.createDataFrame(BATCH, "doc_id bigint, text string")
    append_to_shingle_index(batch, idx, "doc_id", "text")
    _restore(meta_file, saved)  # orphan gen 1
    append_to_shingle_index(batch, idx, "doc_id", "text")  # committed gen 2

    # compaction needs a tombstone log to have work to do — delete a doc
    delete_from_shingle_index(spark, idx, [2])
    compact_shingle_index(spark, idx)
    with open(meta_file) as f:
        meta = json.load(f)
    assert meta["orphans"] == []
    postings = spark.read.parquet(epoch_store.data_dir(idx, "postings"))
    assert {r["gen"] for r in postings.select("gen").distinct().collect()} == {0, 2}
    assert _flags(spark, idx, [(99, BATCH[0][1])]) == {99: True}
    assert _flags(spark, idx, [(98, CORPUS[1][1])]) == {98: False}  # deleted


def test_shingle_compaction_retry_after_staged_dir_leftover(spark, tmp_path):
    """ADVICE r6 (medium): a crash between the staged new-epoch write
    and commit_epoch leaves a partial *_ep<k+1> dir — the compaction
    RETRY must overwrite it, not abort with 'path already exists'."""
    idx = str(tmp_path / "shidx")
    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    build_shingle_index(docs, idx, "doc_id", "text", n=3)
    delete_from_shingle_index(spark, idx, [1])
    # leftover partial staged dir from a "crashed" prior attempt
    stale = epoch_store.data_dir(idx, "postings", 1)
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "part-garbage.parquet"), "w") as f:
        f.write("not parquet")
    compact_shingle_index(spark, idx)
    assert epoch_store.read_epoch(idx) == 1
    assert _flags(spark, idx, [(99, CORPUS[0][1])]) == {99: False}
    assert _flags(spark, idx, [(98, CORPUS[1][1])]) == {98: True}


def _embeddings(spark, ids, dim=8, base=0.0):
    rows = [
        (i, [float(((i * 7 + j * 3) % 10) + base) for j in range(dim)])
        for i in ids
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


#: both IVF payload codecs share one lifecycle (ivf_append / ivf_delete /
#: ivf_compact); each IVF protocol test below runs against both
CODECS = ("raw", "pq")


def _ivf_build(spark, codec, idx, ids):
    from ariadne_dbt_spark.operators.similarity import (
        ivf_build_index,
        ivf_pq_build_index,
    )

    if codec == "raw":
        ivf_build_index(_embeddings(spark, ids), idx, n_centroids=4, iters=2)
    else:
        ivf_pq_build_index(
            _embeddings(spark, ids), idx, n_centroids=4, iters=2, m=4, k_sub=4
        )


def _ivf_served(spark, codec, idx, q, k):
    """Served vec_ids, full probe (raw: cosine re-rank; PQ: ADC rank)."""
    from ariadne_dbt_spark.operators.similarity import (
        ivf_pq_query_index,
        ivf_query_index,
    )

    query = ivf_query_index if codec == "raw" else ivf_pq_query_index
    return [r["vec_id"] for r in query(spark, idx, q, k=k, nprobe=4).collect()]


def _ivf_files(codec, idx):
    """(data dir name, meta file path) of the codec's on-disk layout."""
    if codec == "raw":
        return "vectors", os.path.join(idx, "stats.json")
    return "codes", os.path.join(idx, "index_meta.json")


def test_ivf_append_crash_retry_no_double_count(spark, tmp_path):
    from ariadne_dbt_spark.operators.similarity import ivf_append

    for codec in CODECS:
        idx = str(tmp_path / codec)
        _ivf_build(spark, codec, idx, range(40))
        data, meta_file = _ivf_files(codec, idx)
        saved = _save(meta_file)

        batch = _embeddings(spark, range(100, 105))
        assert ivf_append(batch, idx)["n_appended"] == 5
        _restore(meta_file, saved)  # crash before the meta commit

        # orphaned vectors never serve
        q = [float(((101 * 7 + j * 3) % 10)) for j in range(8)]
        got = set(_ivf_served(spark, codec, idx, q, 50))
        assert got.isdisjoint(set(range(100, 105)))

        # retry commits; each appended id serves exactly once
        ivf_append(batch, idx)
        with open(meta_file) as f:
            meta = json.load(f)
        assert meta["gen"] == 2 and meta["orphans"] == [1]
        ids = _ivf_served(spark, codec, idx, q, 100)
        assert set(range(100, 105)) <= set(ids)
        assert len(ids) == len(set(ids))
        # full-probe candidate count = build + ONE committed batch
        rows = spark.read.parquet(epoch_store.data_dir(idx, data))
        live = epoch_store.apply_gen_filter(rows, meta)
        assert live.count() == 45 and rows.count() == 50


def test_ivf_append_aborts_when_compaction_flips_mid_append(
    spark, tmp_path, monkeypatch
):
    """ivf_append twin of the shingle race tests: a compaction that
    flips while an append is between its data write and its commit must
    make the append refuse (rows may sit in the retired epoch's dirs) —
    and the retry must serve every id exactly once (the refusal burns
    the reserved gen in the new epoch's marker, so a post-flip stranded
    copy can never be resurrected by gen reuse)."""
    import pytest

    from ariadne_dbt_spark.operators.similarity import ivf_append, ivf_compact

    original_lock = epoch_store.commit_lock
    for codec in CODECS:
        idx = str(tmp_path / codec)
        _ivf_build(spark, codec, idx, range(40))
        state = {"fired": False}

        def lock_after_flip(target_dir):
            if not state["fired"]:
                state["fired"] = True
                monkeypatch.undo()
                ivf_compact(spark, idx)  # the concurrent maintainer
            return original_lock(target_dir)

        monkeypatch.setattr(epoch_store, "commit_lock", lock_after_flip)
        batch = _embeddings(spark, range(100, 105))
        with pytest.raises(epoch_store.ConcurrentWriteError, match="epoch moved"):
            ivf_append(batch, idx)

        # refused rows invisible; retry serves each id exactly once
        q = [float(((101 * 7 + j * 3) % 10)) for j in range(8)]
        got = set(_ivf_served(spark, codec, idx, q, 50))
        assert got.isdisjoint(set(range(100, 105)))
        ivf_append(batch, idx)
        ids = _ivf_served(spark, codec, idx, q, 100)
        assert set(range(100, 105)) <= set(ids)
        assert len(ids) == len(set(ids))
        data, meta_file = _ivf_files(codec, idx)
        with open(meta_file) as f:
            meta = json.load(f)
        live = epoch_store.apply_gen_filter(
            spark.read.parquet(epoch_store.data_dir(idx, data)), meta
        )
        assert live.count() == 45


def test_ivf_compaction_aborts_on_concurrent_append(spark, tmp_path, monkeypatch):
    """Mirror direction: an append that commits between ivf_compact's
    meta snapshot and its flip must abort the compaction (its rows live
    in the epoch the flip would retire); the re-run folds everything."""
    import pytest

    from ariadne_dbt_spark.operators.similarity import ivf_append, ivf_compact

    original_lock = epoch_store.commit_lock
    batch = _embeddings(spark, range(100, 105))
    for codec in CODECS:
        idx = str(tmp_path / codec)
        _ivf_build(spark, codec, idx, range(40))
        state = {"fired": False}

        def lock_after_append(target_dir):
            if not state["fired"]:
                state["fired"] = True
                monkeypatch.undo()
                ivf_append(batch, idx)  # the concurrent committer
            return original_lock(target_dir)

        monkeypatch.setattr(epoch_store, "commit_lock", lock_after_append)
        with pytest.raises(epoch_store.ConcurrentWriteError):
            ivf_compact(spark, idx)

        # nothing flipped; the append stayed fully committed and visible
        assert epoch_store.read_epoch(idx) == 0
        q = [float(((101 * 7 + j * 3) % 10)) for j in range(8)]
        assert set(range(100, 105)) <= set(_ivf_served(spark, codec, idx, q, 100))

        # the re-run compacts cleanly, keeping the appended vectors
        ivf_compact(spark, idx)
        assert epoch_store.read_epoch(idx) == 1
        ids = _ivf_served(spark, codec, idx, q, 100)
        assert set(range(100, 105)) <= set(ids)
        assert len(ids) == len(set(ids))


def test_ivf_retrain_aborts_on_concurrent_append(spark, tmp_path, monkeypatch):
    """ivf_retrain trains on the index's OWN live vectors, so an append
    that commits after the training snapshot holds rows the flip would
    silently drop — the guarded flip must abort instead, and the re-run
    must carry the appended vectors into the new layout."""
    import pytest

    from ariadne_dbt_spark.operators.similarity import (
        ivf_append,
        ivf_build_index,
        ivf_query_index,
        ivf_retrain,
    )

    idx = str(tmp_path / "ivf")
    ivf_build_index(_embeddings(spark, range(40)), idx, n_centroids=4, iters=2)

    state = {"fired": False}
    original_lock = epoch_store.commit_lock
    batch = _embeddings(spark, range(100, 105))

    def lock_after_append(target_dir):
        if not state["fired"]:
            state["fired"] = True
            monkeypatch.undo()
            ivf_append(batch, idx)
        return original_lock(target_dir)

    monkeypatch.setattr(epoch_store, "commit_lock", lock_after_append)
    with pytest.raises(epoch_store.ConcurrentWriteError):
        ivf_retrain(spark, idx, iters=2)

    assert epoch_store.read_epoch(idx) == 0
    q = [float(((101 * 7 + j * 3) % 10)) for j in range(8)]
    got = {
        r["vec_id"]
        for r in ivf_query_index(spark, idx, q, k=100, nprobe=4).collect()
    }
    assert set(range(100, 105)) <= got

    ivf_retrain(spark, idx, iters=2)
    assert epoch_store.read_epoch(idx) == 1
    res = ivf_query_index(spark, idx, q, k=100, nprobe=4).collect()
    ids = [r["vec_id"] for r in res]
    assert set(range(100, 105)) <= set(ids)
    assert len(ids) == len(set(ids))


def test_shingle_append_concurrent_commit_refused(spark, tmp_path):
    """Two writers racing on one shingle index: the second commit must
    refuse (ConcurrentWriteError) instead of silently dropping the
    first's gen via last-writer-wins meta replace."""
    import pytest

    idx = str(tmp_path / "shidx")
    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    build_shingle_index(docs, idx, "doc_id", "text", n=3)
    meta_file = os.path.join(idx, "meta.json")

    batch = spark.createDataFrame(BATCH, "doc_id bigint, text string")
    # writer B commits between A's meta read and A's commit: simulate by
    # bumping the live meta's gen under A's feet via a hook on the
    # attempt-gen reservation (runs after A read the meta)
    real_next = epoch_store.next_attempt_gen

    def _race(index_dir, epoch, committed):
        g = real_next(index_dir, epoch, committed)
        with open(meta_file) as f:
            live = json.load(f)
        live["gen"] = live.get("gen", 0) + 7  # writer B's commit
        live.setdefault("orphans", [])
        tmp = meta_file + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(live, fh)
        os.replace(tmp, meta_file)
        return g

    epoch_store.next_attempt_gen = _race
    try:
        with pytest.raises(epoch_store.ConcurrentWriteError):
            append_to_shingle_index(batch, idx, "doc_id", "text")
    finally:
        epoch_store.next_attempt_gen = real_next


def _ivf_compaction_retry_after_staged_dir_leftover(spark, codec, idx):
    from ariadne_dbt_spark.operators.similarity import ivf_compact, ivf_delete

    _ivf_build(spark, codec, idx, range(30))
    ivf_delete(spark, idx, [3])
    stale = epoch_store.data_dir(idx, _ivf_files(codec, idx)[0], 1)
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "part-garbage.parquet"), "w") as f:
        f.write("not parquet")
    ivf_compact(spark, idx)
    assert epoch_store.read_epoch(idx) == 1
    q = [float(((3 * 7 + j * 3) % 10)) for j in range(8)]
    got = set(_ivf_served(spark, codec, idx, q, 30))
    assert 3 not in got and len(got) == 29


def test_ivf_compaction_retry_after_staged_dir_leftover(spark, tmp_path):
    """Same ADVICE-r6 shape for the IVF compaction: a partial staged
    ``<data>_ep1`` dir from a crashed attempt must not wedge the retry."""
    _ivf_compaction_retry_after_staged_dir_leftover(
        spark, "raw", str(tmp_path / "ivf")
    )


def test_ivf_pq_compaction_retry_after_staged_dir_leftover(spark, tmp_path):
    _ivf_compaction_retry_after_staged_dir_leftover(
        spark, "pq", str(tmp_path / "ivfpq")
    )


def test_legacy_shingle_index_without_gen_still_reads(spark, tmp_path):
    """Pre-round-7 indexes have no gen column and no gen keys in meta —
    apply_gen_filter must no-op and every row stays (optimistically)
    live, so an in-place upgrade never breaks existing indexes."""
    idx = str(tmp_path / "shidx")
    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    build_shingle_index(docs, idx, "doc_id", "text", n=3)
    # strip the round-7 artifacts back to the legacy on-disk format
    postings_dir = epoch_store.data_dir(idx, "postings")
    legacy = (
        spark.read.parquet(postings_dir).drop("gen").localCheckpoint(eager=True)
    )
    import shutil

    shutil.rmtree(postings_dir)
    legacy.write.partitionBy("bucket").parquet(postings_dir)
    meta_file = os.path.join(idx, "meta.json")
    with open(meta_file) as f:
        meta = json.load(f)
    meta.pop("gen", None)
    meta.pop("orphans", None)
    with open(meta_file, "w") as f:
        json.dump(meta, f)

    assert _flags(spark, idx, [(99, CORPUS[0][1])]) == {99: True}
    # and a round-7 append onto the legacy index upgrades it in place:
    # schema union (old rows read gen NULL → kept: NULL <= hi is false...
    # so the filter must only engage when the meta says gens exist)
    batch = spark.createDataFrame(BATCH, "doc_id bigint, text string")
    append_to_shingle_index(batch, idx, "doc_id", "text")
    assert _flags(spark, idx, [(98, BATCH[0][1])]) == {98: True}
    assert _flags(spark, idx, [(97, CORPUS[1][1])]) == {97: True}


def test_gen_filter_pushes_to_scan_and_keeps_partition_pruning(spark, tmp_path):
    """The committed-gen visibility predicate reaches the parquet scan
    as a pushed filter (row groups of uncommitted gens skip at the
    reader), and the IVF cell partition pruning survives alongside it."""
    from ariadne_dbt_spark.operators.similarity import (
        ivf_append,
        ivf_build_index,
        ivf_query_index,
    )

    idx = str(tmp_path / "ivf")
    ivf_build_index(_embeddings(spark, range(30)), idx, n_centroids=4, iters=2)
    ivf_append(_embeddings(spark, range(100, 105)), idx)
    q = [float(((3 * 7 + j * 3) % 10)) for j in range(8)]
    plan = (
        ivf_query_index(spark, idx, q, k=5, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LessThanOrEqual(gen," in plan  # pushed visibility range
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:200]


def test_commit_lock_excludes_and_steals_stale(tmp_path):
    """Round 8 (ADVICE): the CAS commit window is guarded by a real
    O_CREAT|O_EXCL lock — a live concurrent holder raises
    ConcurrentWriteError; a crashed holder's stale lock is stolen."""
    import pytest

    idx = str(tmp_path / "lk")
    os.makedirs(idx)

    with epoch_store.commit_lock(idx):
        with pytest.raises(epoch_store.ConcurrentWriteError, match="commit lock"):
            with epoch_store.commit_lock(idx):
                pass
    # released on exit — reacquire works
    with epoch_store.commit_lock(idx):
        pass

    # a crashed writer's leftover lock (old mtime) is stolen
    lock = os.path.join(idx, "_commit.lock")
    with open(lock, "w") as f:
        f.write("dead")
    old = os.path.getmtime(lock) - 3600
    os.utime(lock, (old, old))
    with epoch_store.commit_lock(idx):  # steals, no raise
        pass
    assert not os.path.exists(lock)

    # exception inside the window still releases the lock
    with pytest.raises(ValueError):
        with epoch_store.commit_lock(idx):
            raise ValueError("boom")
    assert not os.path.exists(lock)


def test_ivf_append_refused_while_lock_held(spark, tmp_path):
    """A live lock (another writer mid-commit) makes ivf_append raise
    ConcurrentWriteError AFTER its data write but BEFORE its meta
    commit — the refused attempt's rows stay orphaned, never served."""
    import pytest

    from ariadne_dbt_spark.operators.similarity import ivf_append

    for codec in CODECS:
        idx = str(tmp_path / codec)
        _ivf_build(spark, codec, idx, range(30))
        with epoch_store.commit_lock(idx):
            with pytest.raises(epoch_store.ConcurrentWriteError):
                ivf_append(_embeddings(spark, range(100, 105)), idx)
        # the refused batch never serves (its gen was never committed)
        q = [float(((101 * 7 + j * 3) % 10)) for j in range(8)]
        got = set(_ivf_served(spark, codec, idx, q, 40))
        assert not ({100, 101, 102, 103, 104} & got)
        # and a retry after the lock is gone succeeds
        ivf_append(_embeddings(spark, range(100, 105)), idx)
        got2 = set(_ivf_served(spark, codec, idx, q, 40))
        assert {100, 101, 102, 103, 104} <= got2


def test_mixed_legacy_files_resolve_gen_column(spark, tmp_path):
    """Round 8 (ADVICE): a legacy index upgraded in place mixes pre-gen
    parquet files with gen-tagged appends; with default mergeSchema the
    resolved schema could come from a pre-gen footer and the gen filter
    would silently no-op. read_gen_data merges schemas, so orphan rows
    of a crashed append stay invisible even in a mixed directory."""
    from ariadne_dbt_spark.operators.similarity import (
        ivf_append,
        ivf_build_index,
        ivf_query_index,
    )

    idx = str(tmp_path / "ivf")
    ivf_build_index(_embeddings(spark, range(30)), idx, n_centroids=4, iters=2)

    # plant a LEGACY (pre-gen) file into every cell dir: drop the gen
    # column and write alongside — mimics an index whose old files
    # predate gen tagging
    legacy = _embeddings(spark, range(200, 204))
    vec_dir = epoch_store.data_dir(idx, "vectors")
    stored = spark.read.parquet(vec_dir)
    # assign cells the same way the index does: reuse query-side schema
    import json as _json

    with open(os.path.join(idx, "centroids.json")) as f:
        cents = _json.load(f)
    from ariadne_dbt_spark.operators.similarity import _nearest_centroid

    nearest = _nearest_centroid(F.col("embedding"), cents)
    legacy.select(
        "vec_id", "embedding", nearest.getField("i").alias("cell")
    ).write.mode("append").partitionBy("cell").parquet(vec_dir)

    # crash a real append: run it, then restore the pre-append stats —
    # its rows are on disk under an uncommitted gen
    stats_file = os.path.join(idx, "stats.json")
    before = _save(stats_file)
    ivf_append(_embeddings(spark, range(300, 305)), idx)
    _restore(stats_file, before)

    q = [float(((201 * 7 + j * 3) % 10)) for j in range(8)]
    got = {r.vec_id for r in ivf_query_index(spark, idx, q, k=50, nprobe=4).collect()}
    # legacy NULL-gen rows are live; the crashed append's rows are not
    assert {200, 201, 202, 203} <= got
    assert not ({300, 301, 302, 303, 304} & got)
