"""Streaming full-text-index maintenance at ingest.

The streaming twin of ``operators/search_index.py``: documents arriving
as files become per-micro-batch UPSERTS into the versioned postings
index — each batch is one O(batch) log append (gen-tagged postings +
docstats + docids, exact integer stats deltas), so the served BM25
index is always rebuild-identical to the corpus ingested so far
(pinned by the ``stream_search_index_bm25`` gate row, whose oracle
recomputes BM25 from scratch over the full corpus).

Same division of labor as ``neardup_stream``: Structured Streaming's
file source owns discovery/ordering/exactly-once bookkeeping; the
index write runs in ``foreachBatch`` because the upsert needs actions
(pruned stats probes + parquet appends), not a streaming sink. State
lives in the INDEX — the reference's analog is the FTS rebuild its
indexer runs per refresh (reference: src/ariadne_dbt/indexer.py:472-485),
which is O(corpus) where this is O(batch).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ariadne_dbt_spark.operators import epoch_store
from ariadne_dbt_spark.session import local_frame
from ariadne_dbt_spark.operators.search_index import (
    build_search_index,
    compact_search_index,
    search_maintenance_report,
    upsert_search_index,
)

DOCS_SCHEMA = "doc_id long, text string"


def search_index_ingest_stream(
    spark: SparkSession,
    docs_dir: str,
    index_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    schema: str = DOCS_SCHEMA,
    max_files_per_trigger: int = 1,
    auto_compact: bool = True,
    compact_retention_sec: float = 0.0,
    compact_max_files: int = epoch_store.COMPACT_MAX_FILES,
    compact_dead_frac: float = epoch_store.COMPACT_DEAD_FRAC,
) -> int:
    """Run the index-ingest stream to completion (AvailableNow) over the
    parquet files in ``docs_dir``, upserting every micro-batch into the
    versioned index at ``index_dir`` (initialized empty when absent).
    Returns the number of micro-batches applied. Checkpoint lives under
    ``index_dir/_checkpoint``; a re-run after a crash skips committed
    source files, and the index's own gen commit pointer makes a batch
    that died mid-append invisible to readers.

    ``auto_compact`` (round 8): after each applied batch the
    metadata-only ``search_maintenance_report`` runs, and when it fires
    (live files >= ``compact_max_files`` or dead+tombstone fraction >=
    ``compact_dead_frac``) the stream folds its own log via
    ``compact_search_index`` — long-running ingest streams bound their
    MOR read amplification without an operator babysitting. Compaction
    is rebuild-identical by construction (epoch flip of the same live
    rows), so served results are unchanged."""
    if not os.path.exists(os.path.join(index_dir, "meta.json")):
        empty = local_frame(spark, [], f"{id_col} long, {text_col} string")
        build_search_index(empty, id_col, {text_col: text_col}, index_dir)
    applied: list[int] = []

    def process(batch_df, epoch_id: int) -> None:
        batch = batch_df.select(F.col(id_col), F.col(text_col))
        if batch.isEmpty():
            return
        upsert_search_index(spark, index_dir, batch, id_col, {text_col: text_col})
        applied.append(1)
        if auto_compact and search_maintenance_report(
            index_dir,
            max_files=compact_max_files,
            dead_frac_threshold=compact_dead_frac,
        )["should_compact"]:
            compact_search_index(
                spark, index_dir, retention_sec=compact_retention_sec
            )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(index_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return len(applied)
