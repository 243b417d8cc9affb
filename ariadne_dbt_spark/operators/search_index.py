"""Versioned, incrementally-maintained full-text search index: upsert /
delete / compact without ever re-scanning the corpus (S6/E5 maintenance).

The reference maintains its FTS index by wholesale ``DELETE FROM
search_index`` + re-INSERT of every row on each rebuild
(reference: src/ariadne_dbt/indexer.py:472-485, schema.sql:202-210).
That is O(corpus) per refresh. This module keeps the same queryable
postings surface (``operators/search.py:bm25``) but maintains it
incrementally — the production shape for a corpus receiving document
batches: cost per upsert is O(batch), never O(corpus).

Design — merge-on-read with a generation commit pointer (the
Hudi/Iceberg MOR recipe re-expressed as plain parquet + DataFrame ops):

* every write appends rows tagged with a monotonically increasing
  ``gen``; nothing is ever rewritten in place;
* an upsert of doc X at gen g appends X's new postings at g AND a
  tombstone ``(X, g)`` — a postings row ``(X, p)`` is live iff no
  tombstone ``(X, t)`` with ``t > p`` exists;
* ``meta.json`` is the COMMIT POINT, and it also carries the index's
  epoch. The commit protocol is ``epoch_store``'s (snapshot, live rows,
  append commit, tombstone delete, guarded flip — its docstring has the
  crash and concurrency argument): readers keep only committed gens, a
  crashed attempt's rows stay dead forever, and a second writer's commit
  is refused with ``ConcurrentWriteError`` instead of dropping the
  first's gen and stats;
* corpus statistics (n_docs, per-field Σdl / doc counts) are maintained
  as EXACT INTEGER deltas in meta — avgdl after any upsert/delete
  sequence is bit-identical to a from-scratch rebuild (pinned by
  tests and the ``bm25_incremental_upsert`` oracle), and the query path
  stays free of stats jobs exactly like the one-shot index;
* ``compact_search_index`` folds the log back to a single generation
  (live rows only, tombstones cleared) — run it when the tombstone set
  grows past broadcast size; between compactions the read path's only
  overhead is one broadcast join against ``max(gen) per tombstoned id``.
  The fold is committed atomically: a complete new EPOCH of directories
  is staged and a single meta.json replace flips readers onto it.

At 100 TB: postings are term-hash-clustered on write (partition-by-term
at cluster scale) so query scans prune; upsert cost is one pass over the
batch; the tombstone broadcast is bounded by churn since the last
compaction, not by corpus size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ariadne_dbt_spark.operators import epoch_store
from ariadne_dbt_spark.operators.search import build_postings
from ariadne_dbt_spark.session import local_frame

_LOG_NAMES = ["postings", "docstats", "docids", "tombstones"]
#: the tombstone key, as epoch_store.live_rows reads it
_KEY = "unique_id string"
_TOMB_SCHEMA = _KEY + ", gen bigint"


# one CAS-refusal type across every gen-logged index
ConcurrentWriteError = epoch_store.ConcurrentWriteError


def _stage(
    docs: DataFrame,
    id_col: str,
    field_cols: dict[str, str],
    gen: int,
    *,
    stem: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, docstats, docids) for one batch, tagged with ``gen``.
    One tokenize pass (build_postings); docids carries every batch doc —
    including zero-term ones, which must still count toward n_docs and
    answer point lookups (a doc with no indexable terms is still a doc)."""
    postings, docstats = build_postings(docs, id_col, field_cols, stem=stem)
    g = F.lit(int(gen)).cast("bigint")
    return (
        postings.withColumn("gen", g),
        docstats.withColumn("gen", g),
        docs.select(F.col(id_col).cast("string").alias("unique_id")).distinct()
        .withColumn("gen", g),
    )


def _append(
    df: DataFrame, index_dir: str, name: str, *, epoch: int = 0, by_term: bool = False
) -> None:
    if by_term:
        # cluster by term so query-term scans touch few files (the local
        # stand-in for partitionBy/bucketBy term ranges at cluster scale)
        df = df.repartition(8, F.col("term"))
    df.write.mode("append").parquet(epoch_store.data_dir(index_dir, name, epoch))


def _agg_stats(docstats: DataFrame) -> dict[str, list[int]]:
    """field -> [sum_dl, n_docs_with_field] as exact integers."""
    rows = (
        docstats.groupBy("field")
        .agg(F.sum("dl").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return {r["field"]: [int(r["s"]), int(r["n"])] for r in rows}


def build_search_index(
    docs: DataFrame,
    id_col: str,
    field_cols: dict[str, str],
    out_dir: str,
    *,
    stem: bool = False,
) -> dict:
    """Initialize the versioned index at gen 0 from a corpus snapshot.
    Returns the committed meta."""
    spark = docs.sparkSession
    os.makedirs(out_dir, exist_ok=True)
    # a rebuild over an existing index must REPLACE it — every epoch's
    # data dirs, tombstones, attempt markers and the epoch pointer go,
    # so stale rows can't double-count and (crucially) no pre-existing
    # tombstone can keep suppressing an id the rebuild re-indexes
    epoch_store.clear_index(out_dir, _LOG_NAMES)
    postings, docstats, docids = _stage(docs, id_col, field_cols, 0, stem=stem)
    # docstats/docids are derived from postings — localCheckpoint the
    # postings' source once? Not needed: each is one write job; the
    # docstats rollup re-reads written postings below to avoid a second
    # tokenize pass (same recipe as workloads/text_search.build_bm25_index)
    _append(postings, out_dir, "postings", by_term=True)
    written = spark.read.parquet(os.path.join(out_dir, "postings"))
    docstats = (
        written.groupBy("unique_id", "field")
        .agg(F.sum("tf").alias("dl"))
        .withColumn("gen", F.lit(0).cast("bigint"))
    )
    _append(docstats, out_dir, "docstats")
    _append(docids, out_dir, "docids")
    # an empty tombstone log, so every epoch of this index carries one
    _append(local_frame(spark, [], _TOMB_SCHEMA), out_dir, "tombstones")
    field_stats = _agg_stats(spark.read.parquet(os.path.join(out_dir, "docstats")))
    meta = {
        "gen": 0,
        "orphans": [],
        "epoch": 0,
        "n_docs": docs.select(id_col).distinct().count(),
        "fields": sorted(field_cols),
        "stem": bool(stem),
        "field_stats": field_stats,
    }
    epoch_store.write_meta(out_dir, "meta.json", meta)
    return meta


def upsert_search_index(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    id_col: str,
    field_cols: dict[str, str],
) -> dict:
    """Insert-or-replace a document batch: O(batch) work + one skinny
    pruned join against the live docids/docstats of the INCOMING ids only
    (for the exact stats delta) — the stored corpus is never re-read."""
    with epoch_store.append(index_dir, "meta.json", "search") as txn:
        meta, gen = txn.meta, txn.gen
        postings, _, docids = _stage(
            docs, id_col, field_cols, gen, stem=bool(meta.get("stem", False))
        )
        # ONE tokenize pass over the batch: postings materialize once, the
        # docstats rollup and both appends read the checkpointed rows
        postings = postings.localCheckpoint(eager=True)
        docstats = (
            postings.groupBy("unique_id", "field")
            .agg(F.sum("tf").alias("dl"))
            .withColumn("gen", F.lit(gen).cast("bigint"))
        )
        batch_ids = docids.select("unique_id")

        # exact stats delta: remove the replaced docs' live contribution
        removed, n_replaced = _live_stats(spark, txn, batch_ids)
        added = _agg_stats(docstats)

        _append(postings, index_dir, "postings", epoch=txn.epoch, by_term=True)
        _append(docstats, index_dir, "docstats", epoch=txn.epoch)
        _append(docids, index_dir, "docids", epoch=txn.epoch)
        # the upsert's tombstone shares its rows' gen: newest-wins keeps
        # the replacement and drops every older copy of the doc
        epoch_store.tombstone(txn, batch_ids)

        field_stats = _minus(meta["field_stats"], removed)
        for fld, (s, n) in added.items():
            cur = field_stats.get(fld, [0, 0])
            field_stats[fld] = [cur[0] + s, cur[1] + n]
        n_batch = batch_ids.distinct().count()
        meta.update(
            n_docs=int(meta["n_docs"]) - n_replaced + n_batch,
            field_stats=field_stats,
        )
    return meta


def _live_stats(spark, snap, ids: DataFrame) -> tuple[dict[str, list[int]], int]:
    """(per-field stats, doc count) of the live docs among ``ids``: the
    delta an upsert or delete removes from the meta's counters."""
    ids = F.broadcast(ids)
    stats = epoch_store.live_rows(spark, snap, "docstats", _KEY).join(ids, "unique_id")
    docs = epoch_store.live_rows(spark, snap, "docids", _KEY).join(ids, "unique_id")
    return _agg_stats(stats), docs.select("unique_id").distinct().count()


def _minus(field_stats: dict, removed: dict) -> dict[str, list[int]]:
    out = {k: list(v) for k, v in field_stats.items()}
    for fld, (s, n) in removed.items():
        out[fld] = [out[fld][0] - s, out[fld][1] - n]
    return out


def delete_from_search_index(
    spark: SparkSession, index_dir: str, ids: list | DataFrame
) -> dict:
    """Tombstone a set of doc ids. O(|ids|): one pruned join for the
    stats delta, one tombstone append, no data rewrite."""
    if isinstance(ids, DataFrame):
        id_df = ids.select(F.col(ids.columns[0]).cast("string").alias("unique_id"))
    else:
        id_df = local_frame(spark, [(str(i),) for i in ids], "unique_id string")
    id_df = id_df.distinct()
    with epoch_store.append(index_dir, "meta.json", "search") as txn:
        removed, n_removed = _live_stats(spark, txn, id_df)
        epoch_store.tombstone(txn, id_df)
        txn.meta.update(
            n_docs=int(txn.meta["n_docs"]) - n_removed,
            field_stats=_minus(txn.meta["field_stats"], removed),
        )
    return txn.meta


def read_search_index(
    spark: SparkSession, index_dir: str
) -> tuple[DataFrame, DataFrame, int, dict[str, float]]:
    """(live_postings, live_docstats, n_docs, avgdl_by_field) — the exact
    4-tuple ``operators.search.bm25`` consumes, with stats coming from
    meta's integer counters (no stats jobs on the query path)."""
    snap = epoch_store.snapshot(index_dir)
    postings = epoch_store.live_rows(spark, snap, "postings", _KEY).drop("gen")
    docstats = epoch_store.live_rows(spark, snap, "docstats", _KEY).drop("gen")
    avgdl = {
        fld: float(s) / float(n)
        for fld, (s, n) in snap.meta["field_stats"].items()
        if n > 0
    }
    return postings, docstats, int(snap.meta["n_docs"]), avgdl


def search_maintenance_report(index_dir: str, **kw) -> dict:
    """Compaction-cadence signal for the search (BM25) index across all
    three gen-logged data dirs (metadata-only — parquet footers +
    meta.json): dead/tombstone row fractions, live file count,
    ``should_compact`` + reasons. Run :func:`compact_search_index` when
    it fires."""
    return epoch_store.maintenance_report(
        index_dir, ("postings", "docstats", "docids"), "meta.json", **kw
    )


def compact_search_index(
    spark: SparkSession, index_dir: str, *, retention_sec: float = 0.0
) -> dict:
    """Fold the log: rewrite live rows as gen 0 of a NEW epoch, clearing
    tombstones with it. Bounds the read path's tombstone broadcast and
    the dead-row scan overhead; run on a churn threshold (e.g.
    tombstoned ids > 1% of corpus).

    Crash-safe by construction: the complete compacted index (postings,
    docstats, docids, an empty tombstone log) is staged into fresh
    ``*_ep<k+1>`` directories, and the ONLY commit step is the atomic
    meta.json replace that moves ``epoch`` and resets ``gen`` to 0 and
    ``orphans`` to empty. A crash anywhere before that leaves readers on
    the old epoch with the tombstones still applied; the stale
    directories are swept best-effort afterwards (and by the next
    compaction)."""
    snap = epoch_store.snapshot(index_dir)
    new_epoch = snap.epoch + 1
    for name in ("postings", "docstats", "docids"):
        d = epoch_store.live_rows(spark, snap, name, _KEY).withColumn(
            "gen", F.lit(0).cast("bigint")
        )
        if name == "postings":
            d = d.repartition(8, F.col("term"))
        d.write.mode("overwrite").parquet(
            epoch_store.data_dir(index_dir, name, new_epoch)
        )
    local_frame(spark, [], _TOMB_SCHEMA).write.mode("overwrite").parquet(
        epoch_store.data_dir(index_dir, "tombstones", new_epoch)
    )
    meta = {k: v for k, v in snap.meta.items() if k != "gens"}
    meta.update(gen=0, orphans=[])
    epoch_store.flip(
        snap,
        meta,
        names=_LOG_NAMES,
        label="search",
        action="compaction",
        retention_sec=retention_sec,
    )
    return meta
