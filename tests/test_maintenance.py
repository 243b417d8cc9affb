"""Compaction-cadence signal (round 8, VERDICT item 4+8): the
metadata-only maintenance_report per persisted index measures the MOR
read-amplification knobs (dead rows, tombstones, live file count,
orphans) instead of leaving "should I compact now?" to guesswork, and
the streaming maintainers fold their own logs when it fires."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from ariadne_dbt_spark.operators import epoch_store


def _embeddings(spark, ids, dim=8):
    rows = [
        (i, [float(((i * 7 + j * 3) % 10)) for j in range(dim)]) for i in ids
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


class TestIvfReport:
    def test_report_counts_dead_tombstones_and_files(self, spark, tmp_path):
        from ariadne_dbt_spark.operators.similarity import (
            ivf_append,
            ivf_build_index,
            ivf_delete,
            ivf_maintenance_report,
        )

        idx = str(tmp_path / "ivf")
        ivf_build_index(_embeddings(spark, range(40)), idx, n_centroids=4, iters=2)
        r0 = ivf_maintenance_report(idx)
        assert r0["total_rows"] == 40
        assert r0["dead_rows"] == 0 and r0["tombstone_rows"] == 0
        assert not r0["should_compact"]

        # a crashed append (data landed, commit didn't) → dead rows
        stats_path = os.path.join(idx, "stats.json")
        before = open(stats_path).read()
        ivf_append(_embeddings(spark, range(100, 110)), idx)
        open(stats_path, "w").write(before)
        # a committed append advances past the orphan
        ivf_append(_embeddings(spark, range(200, 205)), idx)
        # merge-on-read deletes
        ivf_delete(spark, idx, [0, 1, 2, 3])

        r1 = ivf_maintenance_report(idx)
        assert r1["total_rows"] == 55  # 40 + 10 orphaned + 5 live
        assert r1["dead_rows"] == 10  # the crashed append's rows
        assert r1["tombstone_rows"] == 4
        assert r1["n_orphans"] == 1
        assert r1["dead_frac"] == round(14 / 55, 6)
        # 14/55 = 25% ≥ default 20% → fires on the dead-frac knob
        assert r1["should_compact"] and any(
            "dead" in s for s in r1["reasons"]
        )

    def test_compact_clears_signal_and_preserves_results(self, spark, tmp_path):
        from ariadne_dbt_spark.operators.similarity import (
            brute_force_topk,
            ivf_append,
            ivf_build_index,
            ivf_compact,
            ivf_delete,
            ivf_maintenance_report,
            ivf_query_index,
        )

        idx = str(tmp_path / "ivf")
        ivf_build_index(_embeddings(spark, range(40)), idx, n_centroids=4, iters=2)
        ivf_append(_embeddings(spark, range(100, 105)), idx)
        ivf_delete(spark, idx, [7, 8])

        q = [float(((3 * 7 + j * 3) % 10)) for j in range(8)]
        before = {
            (r.vec_id, round(r.cos_sim, 9))
            for r in ivf_query_index(spark, idx, q, k=15, nprobe=4).collect()
        }
        ivf_compact(spark, idx)
        r = ivf_maintenance_report(idx)
        assert r["epoch"] == 1
        assert r["dead_rows"] == 0 and r["tombstone_rows"] == 0
        assert r["total_rows"] == 43  # 40 + 5 - 2 deleted
        after = {
            (r.vec_id, round(r.cos_sim, 9))
            for r in ivf_query_index(spark, idx, q, k=15, nprobe=4).collect()
        }
        assert after == before
        # rebuild-identical: equals brute force over the surviving corpus
        corpus = _embeddings(spark, [i for i in range(40) if i not in (7, 8)]).union(
            _embeddings(spark, range(100, 105))
        )
        exact = {
            (r.vec_id, round(r.cos_sim, 9))
            for r in brute_force_topk(corpus, q, k=15).collect()
        }
        assert after == exact

    def test_file_count_knob_fires(self, spark, tmp_path):
        from ariadne_dbt_spark.operators.similarity import (
            ivf_append,
            ivf_build_index,
            ivf_maintenance_report,
        )

        idx = str(tmp_path / "ivf")
        ivf_build_index(_embeddings(spark, range(20)), idx, n_centroids=2, iters=1)
        for k in range(3):
            ivf_append(_embeddings(spark, range(100 + 5 * k, 105 + 5 * k)), idx)
        r = ivf_maintenance_report(idx, max_files=4)
        assert r["n_data_files"] >= 4
        assert r["should_compact"] and any("files" in s for s in r["reasons"])


class TestShingleReport:
    def test_report_and_compact(self, spark, tmp_path):
        from ariadne_dbt_spark.operators.dedup import (
            append_to_shingle_index,
            build_shingle_index,
            compact_shingle_index,
            delete_from_shingle_index,
            shingle_maintenance_report,
        )

        idx = str(tmp_path / "sh")
        corpus = spark.createDataFrame(
            [(i, f"alpha beta gamma delta epsilon token{i}") for i in range(6)],
            "doc_id bigint, text string",
        )
        build_shingle_index(corpus, idx, "doc_id", "text", n=3)
        r0 = shingle_maintenance_report(idx)
        assert r0["total_rows"] > 0 and r0["dead_rows"] == 0

        batch = spark.createDataFrame(
            [(10, "one two three four five six")], "doc_id bigint, text string"
        )
        append_to_shingle_index(batch, idx, "doc_id", "text")
        delete_from_shingle_index(spark, idx, [1, 2])
        r1 = shingle_maintenance_report(idx)
        assert r1["tombstone_rows"] == 2
        assert r1["gen"] == 2  # the append's gen, then the delete's

        compact_shingle_index(spark, idx)
        r2 = shingle_maintenance_report(idx)
        assert r2["epoch"] == 1
        assert r2["tombstone_rows"] == 0 and r2["n_orphans"] == 0


class TestSearchReport:
    def test_report_and_compact(self, spark, tmp_path):
        from ariadne_dbt_spark.operators.search_index import (
            build_search_index,
            compact_search_index,
            delete_from_search_index,
            search_maintenance_report,
            upsert_search_index,
        )

        idx = str(tmp_path / "fts")
        docs = spark.createDataFrame(
            [(i, f"orders revenue customer model{i}") for i in range(5)],
            "doc_id long, text string",
        )
        build_search_index(docs, "doc_id", {"text": "text"}, idx)
        batch = spark.createDataFrame(
            [(10, "fresh streaming document arrives")], "doc_id long, text string"
        )
        upsert_search_index(spark, idx, batch, "doc_id", {"text": "text"})
        delete_from_search_index(spark, idx, [0])
        r1 = search_maintenance_report(idx)
        assert r1["total_rows"] > 0
        assert r1["tombstone_rows"] >= 1
        compact_search_index(spark, idx)
        r2 = search_maintenance_report(idx)
        assert r2["epoch"] == r1["epoch"] + 1
        assert r2["tombstone_rows"] == 0 and r2["dead_rows"] == 0


class TestStreamingAutoCompact:
    def test_vector_stream_folds_its_own_log(self, spark, tmp_path):
        """Multi-batch stream with a tiny file-count threshold: a
        compaction fires mid-stream and served results stay identical to
        brute force over the full corpus (VERDICT item 8 done-bar)."""
        from ariadne_dbt_spark.operators.similarity import (
            brute_force_topk,
            ivf_maintenance_report,
            ivf_query_index,
        )
        from ariadne_dbt_spark.streaming.vector_stream import ivf_ingest_stream

        vec = _embeddings(spark, range(60))
        src = str(tmp_path / "src")
        idx = str(tmp_path / "idx")
        vec.repartition(4).write.parquet(src)

        n = ivf_ingest_stream(
            spark, src, idx, n_centroids=4, iters=2, compact_max_files=3
        )
        assert n == 4
        r = ivf_maintenance_report(idx, max_files=3)
        assert r["epoch"] >= 1  # at least one auto-compaction fired
        q = [float(((5 * 7 + j * 3) % 10)) for j in range(8)]
        served = {
            (x.vec_id, round(x.cos_sim, 9))
            for x in ivf_query_index(spark, idx, q, k=10, nprobe=4).collect()
        }
        exact = {
            (x.vec_id, round(x.cos_sim, 9))
            for x in brute_force_topk(vec, q, k=10).collect()
        }
        assert served == exact

    def test_vector_stream_replay_guard_survives_compaction(self, spark, tmp_path):
        """Compaction rewrites data dirs but the stream-epoch marker
        lives in stats.json — a replay after an auto-compaction must
        still short-circuit."""
        from ariadne_dbt_spark.streaming.vector_stream import apply_vector_batch

        idx = str(tmp_path / "idx")
        vec = _embeddings(spark, range(30))
        assert apply_vector_batch(vec, idx, "ck", 0, n_centroids=4)
        b1 = _embeddings(spark, range(100, 105))
        assert apply_vector_batch(b1, idx, "ck", 1, n_centroids=4)
        from ariadne_dbt_spark.operators.similarity import ivf_compact

        ivf_compact(spark, idx)
        assert apply_vector_batch(b1, idx, "ck", 1, n_centroids=4) is False
        with open(os.path.join(idx, "stats.json")) as f:
            assert json.load(f)["n_vectors"] == 35

    def test_search_stream_folds_its_own_log(self, spark, tmp_path):
        from ariadne_dbt_spark.operators.search_index import (
            search_maintenance_report,
        )
        from ariadne_dbt_spark.streaming.search_stream import (
            search_index_ingest_stream,
        )

        docs = spark.createDataFrame(
            [(i, f"revenue orders customer doc{i} term{i % 3}") for i in range(24)],
            "doc_id long, text string",
        )
        src = str(tmp_path / "docs")
        idx = str(tmp_path / "fts")
        docs.repartition(4).write.parquet(src)
        n = search_index_ingest_stream(spark, src, idx, compact_max_files=3)
        assert n == 4
        r = search_maintenance_report(idx)
        assert r["epoch"] >= 1

        # served BM25 equals a from-scratch rebuild over the same corpus
        from ariadne_dbt_spark.operators.search import bm25
        from ariadne_dbt_spark.operators.search_index import (
            build_search_index,
            read_search_index,
        )

        def ranked(path):
            p, d, nd, avg = read_search_index(spark, path)
            return {
                (r["unique_id"], round(r["bm25_score"], 9))
                for r in bm25(
                    p, d, nd, "revenue orders",
                    field_weights={"text": 1.0}, avgdl_by_field=avg,
                ).collect()
            }

        got = ranked(idx)
        idx2 = str(tmp_path / "fts2")
        build_search_index(docs, "doc_id", {"text": "text"}, idx2)
        assert got == ranked(idx2)


class TestIvfRetrain:
    def test_retrain_resets_drift_and_preserves_results(self, spark, tmp_path):
        """Round 8: ivf_retrain is a crash-safe epoch flip — centroids
        retrain over live vectors, drift baseline resets, tombstones
        fold, served results stay brute-force-exact."""
        from ariadne_dbt_spark.operators.similarity import (
            brute_force_topk,
            ivf_append,
            ivf_build_index,
            ivf_delete,
            ivf_query_index,
            ivf_retrain,
            ivf_staleness,
        )

        idx = str(tmp_path / "ivf")
        # train on a low-value region, then append a far-shifted batch
        base = _embeddings(spark, range(30))
        shifted = spark.createDataFrame(
            [(100 + i, [50.0 + ((i * 7 + j * 3) % 10) for j in range(8)])
             for i in range(30)],
            "vec_id bigint, embedding array<float>",
        )
        ivf_build_index(base, idx, n_centroids=4, iters=2)
        ivf_append(shifted, idx)
        ivf_delete(spark, idx, [0, 1])
        drift_before = ivf_staleness(idx)["drift"]
        assert drift_before > 0.5  # the shifted mass made cells baggy

        ivf_retrain(spark, idx, iters=2)
        st = ivf_staleness(idx)
        assert st["drift"] == 0.0  # baseline reset at the new fit
        assert st["n_vectors"] == 58  # 60 - 2 tombstoned
        q = [50.0 + ((3 * 7 + j * 3) % 10) for j in range(8)]
        served = {
            (r.vec_id, round(r.cos_sim, 9))
            for r in ivf_query_index(spark, idx, q, k=10, nprobe=4).collect()
        }
        live = base.where(~F.col("vec_id").isin([0, 1])).union(shifted)
        exact = {
            (r.vec_id, round(r.cos_sim, 9))
            for r in brute_force_topk(live, q, k=10).collect()
        }
        assert served == exact

    def test_retrain_preserves_stream_epochs_and_later_appends_work(
        self, spark, tmp_path
    ):
        from ariadne_dbt_spark.operators.similarity import ivf_retrain
        from ariadne_dbt_spark.streaming.vector_stream import apply_vector_batch

        idx = str(tmp_path / "ivf")
        b0 = _embeddings(spark, range(20))
        assert apply_vector_batch(b0, idx, "ck", 0, n_centroids=4)
        ivf_retrain(spark, idx, iters=2)
        with open(os.path.join(idx, "stats.json")) as f:
            st = json.load(f)
        assert st["stream_epochs"] == {"ck": 0}  # replay marker survived
        # a replay of epoch 0 after the retrain still short-circuits
        assert apply_vector_batch(b0, idx, "ck", 0, n_centroids=4) is False
        # and a fresh epoch appends into the NEW epoch's layout
        b1 = _embeddings(spark, range(100, 105))
        assert apply_vector_batch(b1, idx, "ck", 1, n_centroids=4)
        with open(os.path.join(idx, "stats.json")) as f:
            assert json.load(f)["n_vectors"] == 25

    def test_centroid_resolution_survives_compaction_after_retrain(
        self, spark, tmp_path
    ):
        """retrain (ep1) then compaction (ep2, no retrain): queries must
        resolve the ep1 centroids, not the stale epoch-0 file."""
        from ariadne_dbt_spark.operators.similarity import (
            _read_epoch_json,
            brute_force_topk,
            ivf_build_index,
            ivf_compact,
            ivf_delete,
            ivf_query_index,
            ivf_retrain,
        )

        idx = str(tmp_path / "ivf")
        vec = _embeddings(spark, range(40))
        ivf_build_index(vec, idx, n_centroids=4, iters=2)
        c1 = ivf_retrain(spark, idx, iters=2)
        ivf_delete(spark, idx, [5])
        ivf_compact(spark, idx)  # ep2, no centroid rewrite
        assert _read_epoch_json(idx, "centroids") == c1
        q = [float(((9 * 7 + j * 3) % 10)) for j in range(8)]
        served = {
            (r.vec_id, round(r.cos_sim, 9))
            for r in ivf_query_index(spark, idx, q, k=10, nprobe=4).collect()
        }
        exact = {
            (r.vec_id, round(r.cos_sim, 9))
            for r in brute_force_topk(
                vec.where(F.col("vec_id") != 5), q, k=10
            ).collect()
        }
        assert served == exact

    def test_stream_auto_retrain_fires_on_drift(self, spark, tmp_path):
        """Opt-in auto_retrain_drift: a drifting stream retrains itself
        mid-run and parity with brute force still holds."""
        from ariadne_dbt_spark.operators.similarity import (
            brute_force_topk,
            ivf_query_index,
            ivf_staleness,
        )
        from ariadne_dbt_spark.streaming.vector_stream import ivf_ingest_stream

        src = str(tmp_path / "src")
        idx = str(tmp_path / "idx")
        base = _embeddings(spark, range(30))
        shifted = spark.createDataFrame(
            [(100 + i, [50.0 + ((i * 7 + j * 3) % 10) for j in range(8)])
             for i in range(30)],
            "vec_id bigint, embedding array<float>",
        )
        base.coalesce(1).write.parquet(src)
        shifted.coalesce(1).write.mode("append").parquet(src)
        n = ivf_ingest_stream(
            spark, src, idx, n_centroids=4, iters=2, auto_retrain_drift=0.5
        )
        assert n == 2
        assert ivf_staleness(idx)["drift"] == 0.0  # the retrain fired
        q = [50.0 + ((3 * 7 + j * 3) % 10) for j in range(8)]
        served = {
            (r.vec_id, round(r.cos_sim, 9))
            for r in ivf_query_index(spark, idx, q, k=10, nprobe=4).collect()
        }
        exact = {
            (r.vec_id, round(r.cos_sim, 9))
            for r in brute_force_topk(base.union(shifted), q, k=10).collect()
        }
        assert served == exact


class TestIvfPqRetrain:
    def test_pq_retrain_epoch_flip_preserves_results(self, spark, tmp_path):
        """Round 8: ivf_retrain on a PQ index re-trains centroids AND
        codebooks over the index's live membership (tombstones folded)
        from the source embeddings, committed by one epoch flip, keeping
        the built shape; full-probe serving equals brute force over the
        survivors."""
        from ariadne_dbt_spark.operators import epoch_store
        from ariadne_dbt_spark.operators.similarity import (
            brute_force_topk,
            ivf_delete,
            ivf_pq_build_index,
            ivf_pq_query_index,
            ivf_retrain,
        )

        idx = str(tmp_path / "pq")
        emb = _embeddings(spark, range(60))
        ivf_pq_build_index(emb, idx, n_centroids=4, iters=2, m=4, k_sub=8)
        ivf_delete(spark, idx, [2, 3])
        out = ivf_retrain(spark, idx, emb, iters=2)
        assert epoch_store.read_epoch(idx) == 1
        # the built shape: 4 cells, m=4 codebooks of k_sub=8 over dim 8
        assert len(out["centroids"]) == 4
        assert [len(cb) for cb in out["codebooks"]] == [8] * 4
        assert {len(c) for cb in out["codebooks"] for c in cb} == {2}
        # artifacts staged under the new epoch's names
        assert os.path.exists(os.path.join(idx, "centroids_ep1.json"))
        assert os.path.exists(os.path.join(idx, "pq_codebooks_ep1.json"))

        q = [float(((9 * 7 + j * 3) % 10)) for j in range(8)]
        survivors = emb.where(~F.col("vec_id").isin([2, 3]))
        got = {
            r.vec_id
            for r in ivf_pq_query_index(
                spark, idx, q, k=10, nprobe=4, refine=6, embeddings=emb
            ).collect()
        }
        want = {r.vec_id for r in brute_force_topk(survivors, q, k=10).collect()}
        assert got == want
        assert not ({2, 3} & got)  # tombstoned ids never resurrect

        # appends after the retrain land in the new epoch and serve
        from ariadne_dbt_spark.operators.similarity import ivf_append

        clone = spark.createDataFrame(
            [(1000, [float(((9 * 7 + j * 3) % 10)) for j in range(8)])],
            "vec_id bigint, embedding array<float>",
        )
        ivf_append(clone, idx)
        got2 = {
            r.vec_id
            for r in ivf_pq_query_index(
                spark, idx, q, k=10, nprobe=4, refine=6,
                embeddings=emb.union(clone),
            ).collect()
        }
        assert 1000 in got2

    def test_retrain_embeddings_required_for_pq_refused_for_raw(self, tmp_path):
        """The codec is read from the index dir before any Spark work:
        PQ retrain re-encodes from the source table and needs it; raw
        retrain trains on its own vectors and refuses one."""
        import pytest

        from ariadne_dbt_spark.operators.similarity import ivf_retrain

        raw, pq = tmp_path / "raw", tmp_path / "pq"
        raw.mkdir()
        pq.mkdir()
        (pq / "pq_codebooks.json").write_text("[]")
        with pytest.raises(ValueError, match="not accepted"):
            ivf_retrain(None, str(raw), embeddings=object())
        with pytest.raises(ValueError, match="pass embeddings"):
            ivf_retrain(None, str(pq))

    def test_rebuild_drops_the_other_codec_and_stale_epoch_artifacts(
        self, spark, tmp_path
    ):
        """A raw rebuild over a retrained PQ index must clear the PQ meta
        and codebooks (they name the codec) and every ``*_ep<k>.json``:
        once a compaction walks the epoch back up to 1, a leftover
        centroids_ep1.json would outrank the rebuilt centroids."""
        from ariadne_dbt_spark.operators.similarity import (
            _read_epoch_json,
            ivf_append,
            ivf_build_index,
            ivf_compact,
            ivf_maintenance_report,
            ivf_pq_build_index,
            ivf_retrain,
        )

        idx = str(tmp_path / "idx")
        vec = _embeddings(spark, range(40))
        ivf_pq_build_index(vec, idx, n_centroids=4, iters=2, m=4, k_sub=4)
        ivf_retrain(spark, idx, vec, iters=2)  # PQ epoch 1 + *_ep1.json
        cents = ivf_build_index(vec, idx, n_centroids=2, iters=2)
        assert sorted(os.listdir(idx)) == ["centroids.json", "stats.json", "vectors"]
        ivf_compact(spark, idx)  # raw epoch 1, no centroid rewrite
        assert _read_epoch_json(idx, "centroids") == cents
        assert ivf_maintenance_report(idx)["total_rows"] == 40
        assert "drift" in ivf_append(_embeddings(spark, range(100, 103)), idx)
