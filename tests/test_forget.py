"""Right-to-be-forgotten (operators/dedup.py delete_from_shingle_index /
compact_shingle_index / forget_docs): tombstoned docs stop matching
immediately, compaction folds the log, the search index forgets too."""

from __future__ import annotations

import os

from ariadne_dbt_spark.operators import epoch_store

from ariadne_dbt_spark.operators.dedup import (
    build_shingle_index,
    compact_shingle_index,
    delete_from_shingle_index,
    forget_docs,
    incremental_near_dup_flags,
)
from ariadne_dbt_spark.operators.search import bm25
from ariadne_dbt_spark.operators.search_index import (
    build_search_index,
    read_search_index,
)

CORPUS = [
    (1, "alpha beta gamma delta epsilon zeta"),
    (2, "one two three four five six"),
    (3, "red green blue cyan magenta yellow"),
]


def _flags(spark, idx, batch_rows):
    batch = spark.createDataFrame(batch_rows, "doc_id bigint, text string")
    return {
        r["id"]: r["is_dup"]
        for r in incremental_near_dup_flags(
            None, batch, "doc_id", "text", n=3, threshold=0.8, index_dir=idx
        ).collect()
    }


def test_shingle_delete_stops_matching_and_compaction_folds(spark, tmp_path):
    idx = str(tmp_path / "shidx")
    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    build_shingle_index(docs, idx, "doc_id", "text", n=3)

    clone = [(100, CORPUS[0][1])]
    assert _flags(spark, idx, clone) == {100: True}

    delete_from_shingle_index(spark, idx, [1])
    assert _flags(spark, idx, clone) == {100: False}
    # other docs unaffected
    assert _flags(spark, idx, [(101, CORPUS[1][1])]) == {101: True}

    compact_shingle_index(spark, idx)
    assert not os.path.exists(os.path.join(idx, "tombstones"))
    assert _flags(spark, idx, clone) == {100: False}
    assert _flags(spark, idx, [(101, CORPUS[1][1])]) == {101: True}
    # physical: doc 1's postings are gone from the data files
    ids = {
        r["id"]
        for r in spark.read.parquet(epoch_store.data_dir(idx, "postings"))
        .select("id").distinct().collect()
    }
    assert 1 not in ids and {2, 3} <= ids


def test_forget_docs_spans_both_indexes(spark, tmp_path):
    shidx = str(tmp_path / "shidx")
    sidx = str(tmp_path / "sidx")
    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    build_shingle_index(docs, shidx, "doc_id", "text", n=3)
    build_search_index(docs, "doc_id", {"text": "text"}, sidx)

    out = forget_docs(spark, [1], shingle_index_dir=shidx, search_index_dir=sidx)
    assert out["n_ids"] == 1 and out["shingle_tombstoned"] == 1
    assert out["search_index_n_docs"] == 2

    # dedup no longer sees doc 1
    assert _flags(spark, shidx, [(100, CORPUS[0][1])]) == {100: False}
    # search no longer returns doc 1
    postings, docstats, n_docs, avgdl = read_search_index(spark, sidx)
    hits = {
        r["unique_id"]
        for r in bm25(
            postings, docstats, n_docs, "alpha beta",
            field_weights={"text": 1.0}, avgdl_by_field=avgdl,
        ).collect()
    }
    assert "1" not in hits


def test_ivf_delete_and_compact(spark, tmp_path):
    """Both IVF codecs share one delete/compact lifecycle: a tombstoned
    vector stops serving at once, and the fold serves the same ranking
    with the row physically gone."""
    from functools import partial

    from ariadne_dbt_spark.operators.similarity import (
        ivf_build_index,
        ivf_compact,
        ivf_delete,
        ivf_pq_build_index,
        ivf_pq_query_index,
        ivf_query_index,
    )

    raw_rows = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(64)
    ]
    pq_rows = [
        (i, [float((i * 5 + j * 7) % 13 - 6) for j in range(8)]) for i in range(48)
    ]
    raw_build = partial(ivf_build_index, n_centroids=4, iters=2)
    pq_build = partial(ivf_pq_build_index, n_centroids=4, m=4, k_sub=8, iters=2)
    cases = [
        # (codec, rows, query row, k, build, query, data dir)
        ("raw", raw_rows, 5, 5, raw_build, ivf_query_index, "vectors"),
        ("pq", pq_rows, 7, 6, pq_build, ivf_pq_query_index, "codes"),
    ]
    for codec, rows, qi, k, build, query, data in cases:
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        idx = str(tmp_path / codec)
        build(emb, idx)
        q = rows[qi][1]

        def served():
            return [r["vec_id"] for r in query(spark, idx, q, k=k, nprobe=4).collect()]

        assert rows[qi][0] in served()  # the vector itself is its own neighbor

        ivf_delete(spark, idx, [rows[qi][0]])
        after = served()
        assert rows[qi][0] not in after

        ivf_compact(spark, idx)
        assert not os.path.exists(os.path.join(idx, "tombstones"))
        assert served() == after
        ids = {
            r["vec_id"]
            for r in spark.read.parquet(epoch_store.data_dir(idx, data))
            .select("vec_id")
            .collect()
        }
        assert rows[qi][0] not in ids and len(ids) == len(rows) - 1


def test_forget_docs_includes_ivf(spark, tmp_path):
    from ariadne_dbt_spark.operators.similarity import ivf_build_index, ivf_query_index

    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), 1.0, 0.5]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    idx = str(tmp_path / "ivf")
    ivf_build_index(emb, idx, n_centroids=2, iters=1)
    out = forget_docs(spark, [3], ivf_index_dir=idx)
    assert out["ivf_tombstoned"] == 1
    got = [
        r["vec_id"]
        for r in ivf_query_index(
            spark, idx, [3.0, 0.0, 1.0, 0.5], k=20, nprobe=2
        ).collect()
    ]
    assert 3 not in got and len(got) == 19


def test_rebuild_clears_tombstones_shingle(spark, tmp_path):
    """build_shingle_index must be rebuild-replaces: after a delete, a
    fresh build over a corpus CONTAINING the forgotten id serves it
    again (no inherited tombstone), and compaction keeps its rows."""
    idx = str(tmp_path / "shidx")
    docs = spark.createDataFrame(CORPUS, "doc_id bigint, text string")
    build_shingle_index(docs, idx, "doc_id", "text", n=3)
    delete_from_shingle_index(spark, idx, [1])
    assert _flags(spark, idx, [(100, CORPUS[0][1])]) == {100: False}
    # the id legitimately re-enters the corpus; rebuild replaces the index
    build_shingle_index(docs, idx, "doc_id", "text", n=3)
    assert _flags(spark, idx, [(100, CORPUS[0][1])]) == {100: True}
    compact_shingle_index(spark, idx)
    assert _flags(spark, idx, [(100, CORPUS[0][1])]) == {100: True}


def test_rebuild_clears_tombstones_ivf(spark, tmp_path):
    from ariadne_dbt_spark.operators.similarity import (
        ivf_build_index,
        ivf_delete,
        ivf_query_index,
    )

    rows = [
        (i, [float(i % 4), float((i * 7) % 5), float((i * 3) % 6), 1.0])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = str(tmp_path / "ivf")
    ivf_build_index(emb, idx, n_centroids=4, iters=2)
    ivf_delete(spark, idx, [rows[5][0]])
    got = {
        r["vec_id"]
        for r in ivf_query_index(spark, idx, rows[5][1], k=5, nprobe=4).collect()
    }
    assert rows[5][0] not in got
    ivf_build_index(emb, idx, n_centroids=4, iters=2)
    got = {
        r["vec_id"]
        for r in ivf_query_index(spark, idx, rows[5][1], k=5, nprobe=4).collect()
    }
    assert rows[5][0] in got


def test_forget_docs_string_ids_search_index_only(spark, tmp_path):
    """GDPR erasure keyed by STRING doc ids must work when only the
    (string-keyed) search index is given — no int coercion crash."""
    sidx = str(tmp_path / "sidx")
    docs = spark.createDataFrame(
        [("model.a", "alpha beta gamma"), ("model.b", "one two three")],
        "doc_id string, text string",
    )
    build_search_index(docs, "doc_id", {"text": "text"}, sidx)
    out = forget_docs(spark, ["model.a"], search_index_dir=sidx)
    assert out["n_ids"] == 1 and out["search_index_n_docs"] == 1
