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
* ``meta.json`` is the COMMIT POINT: readers keep only rows whose
  ``gen`` is in meta's committed-gen set, so a crash between the data
  append and the meta write leaves the previous index version fully
  intact (readers never see a half-applied batch), and a crashed
  attempt's orphaned rows stay dead FOREVER — a retry reserves a fresh
  gen through a per-epoch attempt marker (``epoch_store.
  next_attempt_gen``) instead of re-using the orphan's, so later
  commits can never resurrect them. The set is stored as the high-water
  ``gen`` plus an ``orphans`` exclusion list (gens reserved by crashed
  attempts), so meta size and the read-plan predicate are O(crashes),
  not O(commits since compaction);
* writers are SINGLE-WRITER per index (one maintenance job at a time) —
  enforced, not just assumed: every commit re-reads meta and refuses
  with ``ConcurrentWriteError`` if another writer committed in between
  (last-writer-wins would silently drop that commit's gen and stats);
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
  is staged and a single meta.json replace flips readers onto it
  (``epoch_store`` docstring has the full crash-safety argument).

At 100 TB: postings are term-hash-clustered on write (partition-by-term
at cluster scale) so query scans prune; upsert cost is one pass over the
batch; the tombstone broadcast is bounded by churn since the last
compaction, not by corpus size.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ariadne_dbt_spark.operators import epoch_store
from ariadne_dbt_spark.operators.search import build_postings
from ariadne_dbt_spark.session import local_frame

_POSTINGS_SCHEMA = "unique_id string, field string, term string, tf bigint, gen bigint"
_DOCSTATS_SCHEMA = "unique_id string, field string, dl bigint, gen bigint"
_DOCIDS_SCHEMA = "unique_id string, gen bigint"
_TOMB_SCHEMA = "unique_id string, gen bigint"
_LOG_NAMES = ["postings", "docstats", "docids", "tombstones"]


# one CAS-refusal type across every gen-logged index (shingle/IVF/
# IVF-PQ commits raise the same class via epoch_store.check_gen_unchanged)
ConcurrentWriteError = epoch_store.ConcurrentWriteError


def _epoch(meta: dict) -> int:
    return int(meta.get("epoch", 0))


def _committed_info(meta: dict) -> tuple[int, list[int]]:
    """(high-water committed gen, orphaned gens below it).

    The committed-gen set is stored as ``gen`` (high water) plus an
    ``orphans`` exclusion list — orphans only appear when an attempt
    crashed mid-append, so the stored set stays O(crashes), not
    O(commits-since-compaction), and the read filter stays two tiny
    predicates instead of an ever-growing IN list."""
    hi = int(meta["gen"])
    if "orphans" in meta:
        return hi, [int(g) for g in meta["orphans"]]
    if "gens" in meta:  # round-6 metas: explicit committed list
        committed = {int(g) for g in meta["gens"]}
        hi = max(committed) if committed else hi
        return hi, sorted(set(range(hi + 1)) - committed)
    # pre-round-6 metas carried only the high-water gen; every gen up to
    # it was committed by construction (no attempt markers existed)
    return hi, []


def _gen_filter(meta: dict):
    hi, orphans = _committed_info(meta)
    cond = F.col("gen") <= hi
    if orphans:
        cond = cond & ~F.col("gen").isin(orphans)
    return cond


def _meta_snapshot(meta: dict) -> tuple:
    hi, orphans = _committed_info(meta)
    return (_epoch(meta), hi, tuple(orphans))


def _meta_path(index_dir: str) -> str:
    return os.path.join(index_dir, "meta.json")


def _read_meta(index_dir: str) -> dict:
    with open(_meta_path(index_dir)) as f:
        return json.load(f)


def _write_meta(index_dir: str, meta: dict, *, expect: tuple | None = None) -> None:
    # the commit point: written LAST, atomically (rename), so readers
    # either see the previous fully-consistent version or the new one.
    # ``expect`` is the (epoch, gen, orphans) snapshot taken when this
    # writer read the meta — if the live meta no longer matches, another
    # writer committed in between and blindly replacing would drop its
    # gen/stats; refuse instead. Round 8: the check→replace window runs
    # under epoch_store.commit_lock (O_CREAT|O_EXCL), so the
    # single-writer guard is atomic rather than check-then-write
    # best-effort — two racing writers can no longer both pass the check.
    def commit() -> None:
        tmp = _meta_path(index_dir) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, sort_keys=True)
        os.replace(tmp, _meta_path(index_dir))

    if expect is None:
        commit()
        return
    with epoch_store.commit_lock(index_dir):
        cur = _read_meta(index_dir)
        if _meta_snapshot(cur) != expect:
            raise ConcurrentWriteError(
                f"index meta changed underneath this writer "
                f"(expected {expect}, found {_meta_snapshot(cur)}); "
                "serialize index maintenance jobs per index"
            )
        commit()


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
    # empty tombstone log with a fixed schema so readers never branch
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
    _write_meta(out_dir, meta)
    return meta


def _committed(
    spark: SparkSession, index_dir: str, name: str, meta: dict
) -> DataFrame:
    """Rows of one log visible at the CURRENT commit: gen must be in the
    meta's committed set — not merely ``<= meta.gen``, which would
    resurrect a crashed attempt's orphans once a later gen commits. The
    set is expressed as high-water + orphan exclusions, so the plan
    carries at most one small NOT IN, never a churn-sized IN list."""
    return spark.read.parquet(
        epoch_store.data_dir(index_dir, name, _epoch(meta))
    ).where(_gen_filter(meta))


def _tomb_max(spark: SparkSession, index_dir: str, meta: dict) -> DataFrame:
    return (
        _committed(spark, index_dir, "tombstones", meta)
        .groupBy("unique_id")
        .agg(F.max("gen").alias("_tmax"))
    )


def _live(df: DataFrame, tomb_max: DataFrame) -> DataFrame:
    """Merge-on-read visibility: a row is live iff no NEWER tombstone for
    its id exists (an upsert's own gen carries both the tombstone and the
    replacement rows, so ``>=`` keeps the replacement). Tombstone side is
    broadcast — bounded by churn since the last compaction."""
    j = df.join(F.broadcast(tomb_max), "unique_id", "left")
    return j.where(F.col("_tmax").isNull() | (F.col("gen") >= F.col("_tmax"))).drop(
        "_tmax"
    )


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
    meta = _read_meta(index_dir)
    prev = _meta_snapshot(meta)
    epoch = _epoch(meta)
    # reserve a gen no prior attempt used (crash-retry safe): persisted
    # atomically BEFORE any append, so orphans from a crashed attempt
    # keep their own gen — which never enters meta["gens"]
    gen = epoch_store.next_attempt_gen(index_dir, epoch, int(meta["gen"]))
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
    tomb = _tomb_max(spark, index_dir, meta)
    old_stats_live = _live(
        _committed(spark, index_dir, "docstats", meta), tomb
    ).join(F.broadcast(batch_ids), "unique_id")
    removed = _agg_stats(old_stats_live)
    old_ids_live = _live(
        _committed(spark, index_dir, "docids", meta), tomb
    ).join(F.broadcast(batch_ids), "unique_id")
    n_replaced = old_ids_live.select("unique_id").distinct().count()

    added = _agg_stats(docstats)

    _append(postings, index_dir, "postings", epoch=epoch, by_term=True)
    _append(docstats, index_dir, "docstats", epoch=epoch)
    _append(docids, index_dir, "docids", epoch=epoch)
    _append(
        batch_ids.withColumn("gen", F.lit(gen).cast("bigint")),
        index_dir,
        "tombstones",
        epoch=epoch,
    )

    field_stats = {k: list(v) for k, v in meta["field_stats"].items()}
    for fld, (s, n) in removed.items():
        field_stats[fld] = [field_stats[fld][0] - s, field_stats[fld][1] - n]
    for fld, (s, n) in added.items():
        cur = field_stats.get(fld, [0, 0])
        field_stats[fld] = [cur[0] + s, cur[1] + n]
    n_batch = batch_ids.distinct().count()
    hi, orphans = _committed_info(meta)
    meta.pop("gens", None)  # migrate round-6 metas to gen+orphans
    meta.update(
        gen=gen,
        # every gen between the old high water and this one was a
        # reserved-but-never-committed attempt → permanent orphan
        orphans=sorted(set(orphans) | set(range(hi + 1, gen))),
        epoch=epoch,
        n_docs=int(meta["n_docs"]) - n_replaced + n_batch,
        field_stats=field_stats,
    )
    _write_meta(index_dir, meta, expect=prev)
    return meta


def delete_from_search_index(
    spark: SparkSession, index_dir: str, ids: list | DataFrame
) -> dict:
    """Tombstone a set of doc ids. O(|ids|): one pruned join for the
    stats delta, one tombstone append, no data rewrite."""
    meta = _read_meta(index_dir)
    prev = _meta_snapshot(meta)
    epoch = _epoch(meta)
    gen = epoch_store.next_attempt_gen(index_dir, epoch, int(meta["gen"]))
    if isinstance(ids, DataFrame):
        id_df = ids.select(F.col(ids.columns[0]).cast("string").alias("unique_id"))
    else:
        id_df = local_frame(spark, [(str(i),) for i in ids], "unique_id string")
    id_df = id_df.distinct()

    tomb = _tomb_max(spark, index_dir, meta)
    live_stats = _live(
        _committed(spark, index_dir, "docstats", meta), tomb
    ).join(F.broadcast(id_df), "unique_id")
    removed = _agg_stats(live_stats)
    n_removed = (
        _live(_committed(spark, index_dir, "docids", meta), tomb)
        .join(F.broadcast(id_df), "unique_id")
        .select("unique_id")
        .distinct()
        .count()
    )

    _append(
        id_df.withColumn("gen", F.lit(gen).cast("bigint")),
        index_dir,
        "tombstones",
        epoch=epoch,
    )
    field_stats = {k: list(v) for k, v in meta["field_stats"].items()}
    for fld, (s, n) in removed.items():
        field_stats[fld] = [field_stats[fld][0] - s, field_stats[fld][1] - n]
    hi, orphans = _committed_info(meta)
    meta.pop("gens", None)
    meta.update(
        gen=gen,
        orphans=sorted(set(orphans) | set(range(hi + 1, gen))),
        epoch=epoch,
        n_docs=int(meta["n_docs"]) - n_removed,
        field_stats=field_stats,
    )
    _write_meta(index_dir, meta, expect=prev)
    return meta


def read_search_index(
    spark: SparkSession, index_dir: str
) -> tuple[DataFrame, DataFrame, int, dict[str, float]]:
    """(live_postings, live_docstats, n_docs, avgdl_by_field) — the exact
    4-tuple ``operators.search.bm25`` consumes, with stats coming from
    meta's integer counters (no stats jobs on the query path)."""
    meta = _read_meta(index_dir)
    tomb = _tomb_max(spark, index_dir, meta)
    postings = _live(_committed(spark, index_dir, "postings", meta), tomb).drop("gen")
    docstats = _live(_committed(spark, index_dir, "docstats", meta), tomb).drop("gen")
    avgdl = {
        fld: float(s) / float(n)
        for fld, (s, n) in meta["field_stats"].items()
        if n > 0
    }
    return postings, docstats, int(meta["n_docs"]), avgdl


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
    meta.json replace that flips ``epoch``/``gen``/``gens`` together. A
    crash anywhere before that leaves readers on the old epoch with the
    tombstones still applied; the stale directories are swept
    best-effort afterwards (and by the next compaction)."""
    meta = _read_meta(index_dir)
    prev = _meta_snapshot(meta)
    postings, docstats, _, _ = read_search_index(spark, index_dir)
    tomb = _tomb_max(spark, index_dir, meta)
    docids = _live(_committed(spark, index_dir, "docids", meta), tomb).drop("gen")

    new_epoch = _epoch(meta) + 1
    for name, df, by_term in (
        ("postings", postings, True),
        ("docstats", docstats, False),
        ("docids", docids, False),
    ):
        d = df.withColumn("gen", F.lit(0).cast("bigint"))
        if by_term:
            d = d.repartition(8, F.col("term"))
        d.write.mode("overwrite").parquet(
            epoch_store.data_dir(index_dir, name, new_epoch)
        )
    local_frame(spark, [], _TOMB_SCHEMA).write.mode("overwrite").parquet(
        epoch_store.data_dir(index_dir, "tombstones", new_epoch)
    )
    # THE commit: everything above is invisible until this one replace
    meta.pop("gens", None)
    meta.update(gen=0, orphans=[], epoch=new_epoch)
    _write_meta(index_dir, meta, expect=prev)
    epoch_store.sweep_stale_epochs(
        index_dir, _LOG_NAMES, new_epoch, retention_sec=retention_sec
    )
    return meta
