"""Physical-plan audits: the SCALE.md claims, asserted on executedPlan.

These queries' wall-clock varies with sandbox load; their PLAN SHAPE is
the stable contract — filters reach the parquet scan, projections prune
the read schema, dims broadcast, top-k never global-sorts.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def registry():
    from ariadne_dbt_spark.workloads import load_all

    return load_all()


def _plan(spark, registry, name):
    df = registry[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(spark, registry):
    plan = _plan(spark, registry, "pricing_summary")
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters:")[1][:200]
    # projection pruning: the wide lineitem scan must NOT read unused cols
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read and "l_orderkey" not in read


def test_dims_broadcast_not_shuffled(spark, registry):
    plan = _plan(spark, registry, "revenue_by_region")
    assert plan.count("BroadcastHashJoin") >= 3  # region, nation, customer(+agg side)


def test_topk_compiles_to_take_ordered(spark, registry):
    plan = _plan(spark, registry, "topk_active_users")
    assert "TakeOrderedAndProject" in plan  # no global Sort materializes


def test_semi_join_for_in_list(spark, registry):
    plan = _plan(spark, registry, "customers_with_urgent_orders")
    assert "Semi" in plan  # IN-list runs as a semi join, not inner+distinct


def test_multimodal_payload_pruned(spark, tmp_path):
    """Binary payloads must not be read by metadata-only queries."""
    from ariadne_dbt_spark.operators.multimodal import metadata_stats, synthetic_assets

    tmp = str(tmp_path / "assets.parquet")
    synthetic_assets(spark, 32).write.mode("overwrite").parquet(tmp)
    stats = metadata_stats(spark.read.parquet(tmp))
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema:" in plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "payload" not in read


def test_bm25_query_term_filter_pushed(spark, registry):
    """The persisted-index BM25 query must push its term isin predicate
    into the postings parquet scan (SCALE.md search section)."""
    plan = _plan(spark, registry, "bm25_search")
    pushed = plan.split("PushedFilters:")[1][:300] if "PushedFilters:" in plan else ""
    assert "term" in pushed and "In(" in pushed


def test_bm25_query_runs_no_stats_aggregate(spark, registry):
    """avgdl/n_docs come from persisted index metadata — the query plan
    must not aggregate docstats beyond the per-doc dl join (no avg())."""
    plan = _plan(spark, registry, "bm25_search")
    assert "avg(" not in plan.lower().replace("avgdl", "")


def test_ngram_prefix_exchange_ceiling(spark):
    """The PPJoin prefix path's exchange count is pinned: candidate
    dedup aggregates by id_a (reusing sh's id-hash partitioning for the
    verification join) instead of a (id_a, id_b) distinct, which would
    add an extra re-shuffle before the join. A regression past this
    ceiling means a new exchange crept into the hot path."""
    from ariadne_dbt_spark.operators.dedup import _jaccard_pairs_prefix, shingle_sets

    corpus = spark.read.parquet(f"{SF}/documents.parquet")
    sh = shingle_sets(corpus, "doc_id", "text", 3).cache()
    try:
        sh.count()
        out = _jaccard_pairs_prefix(sh, 0.8, dedup_via_set=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") <= 14, plan
        # the unproven-safe fallback (no max-df probe): its candidate
        # set is localCheckpointed ONCE (the hot-key probe + cold/hot
        # skew-split branches all reuse it instead of recomputing the
        # prefix-join subtree), so the downstream plan is small — the
        # checkpointed subtree's own exchanges ran at materialize time
        safe = _jaccard_pairs_prefix(sh, 0.8)
        safe_plan = safe._jdf.queryExecution().executedPlan().toString()
        assert safe_plan.count("Exchange hashpartitioning") <= 13, safe_plan
        # and the skew split is physically present (salted hot branch)
        assert "_salt" in safe_plan
    finally:
        sh.unpersist()


def test_pairwise_auto_exchange_ceiling(spark):
    """The banded near-dup pipeline's exchange count is pinned in AUTO
    mode (its default): one exchange for the bucket self-join plus at
    most a handful for candidate dedup + the two rehydration joins —
    vectors must never ride through the bucket join, and no stage may
    introduce a global sort."""
    from ariadne_dbt_spark.operators.similarity import pairwise_near_duplicates

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = pairwise_near_duplicates(emb, threshold=0.9, dim=64, n_rows=1000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 6, plan
    # no stage introduces a global sort (range partitioning = sort shuffle)
    assert "Exchange rangepartitioning" not in plan, plan


def test_pq_topk_take_ordered_no_full_sort(spark):
    """ADC top-k compiles to TakeOrdered (partial per-partition top-k,
    no global sort) over a scan of just (id, codes)."""
    from ariadne_dbt_spark.operators.similarity import pq_encode, pq_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb = [[[0.0] * 16, [1.0] * 16]] * 4
    codes = pq_encode(emb, cb)
    out = pq_topk(codes, cb, [0.5] * 64, k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_lm_scoring_exchange_budget(spark, registry):
    """Self-scoring LM: bigram construction is one id-exchange per use,
    LM training two key-exchanges, scoring joins + final per-doc agg —
    the plan must stay within this budget (no accidental resort or
    re-shuffle), and no cartesian beyond the broadcast 1-row vocab."""
    df = registry["doc_lm_cross_entropy"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 14
    assert "CartesianProduct" not in plan


def test_semdedup_assignment_is_map_only(spark, registry):
    """SemDeDup: centroid assignment must not shuffle — the only
    exchanges key on cluster (pair join) and id (keep-flag join);
    assignment itself is a projection over the scan."""
    df = registry["semantic_dedup_flags"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 8
    assert "CartesianProduct" not in plan


def test_shared_spans_no_cartesian_and_bounded_exchanges(spark, registry):
    """Span detection joins on the k-gram string (postings equi-join) —
    never a cartesian; island/span aggs ride pair-keyed exchanges."""
    df = registry["shared_span_pairs"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange") <= 12


def test_editdist_blocked_join_no_cartesian(spark):
    """The Levenshtein fuzzy match must execute as an EQUI-join on the
    blocking key — if the block key ever stopped driving the join, the
    plan would degrade to BroadcastNestedLoop/Cartesian and candidate
    mass would explode quadratically at scale."""
    from pyspark.sql import functions as F

    from ariadne_dbt_spark.operators.dedup import edit_distance_near_dups

    parts = spark.read.parquet(f"{SF}/part.parquet")
    block = F.element_at(F.split(F.col("p_name"), " "), -1)
    out = edit_distance_near_dups(parts, "p_partkey", "p_name", block, max_dist=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_containment_exchange_ceiling(spark):
    """Containment pairs reuse the Jaccard postings-join shape: shingle
    build (one id-partition exchange), postings equi-join on shingle,
    pair aggregation. Ceiling pinned so an accidental distinct() or
    re-shuffle regression is caught."""
    from ariadne_dbt_spark.operators.dedup import containment_pairs

    corpus = spark.read.parquet(f"{SF}/documents.parquet")
    out = containment_pairs(corpus, "doc_id", "text", n=3, threshold=0.9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 8, plan


def test_pagerank_iteration_is_one_shuffle(spark):
    """A single PageRank iteration's incremental plan cost: the
    contribution join keys ranks⋈edges then aggregates by dst — the
    rank update itself must not introduce extra exchanges beyond the
    join + aggregation pair (the per-iteration localCheckpoint resets
    lineage, so the NEXT iteration replans from a LocalRelation-like
    scan, keeping cost per iteration flat)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ariadne_dbt_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        pd.DataFrame(
            [(f"n{i}", f"n{(i * 7 + 1) % 40}") for i in range(120)],
            columns=["parent_id", "child_id"],
        ),
        "parent_id string, child_id string",
    )
    out = pagerank(edges, iters=2)
    # the returned frame is a checkpoint: its plan is a scan, proving
    # iteration lineage was truncated (NOT a 2-iteration join tower)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan
    out.unpersist()


def test_runtime_bloom_filter_join_pruning(spark):
    """Runtime row-level filtering (Spark's bloom-filter join): when a
    selective dim filters a big fact through a shuffle join, the
    optimizer injects a bloom filter built from the dim side into the
    fact scan — at 100 TB this prunes fact rows BEFORE the shuffle, the
    difference between shuffling the whole fact table and ~the matching
    slice. Pinned here with thresholds lowered to fixture scale."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtimeFilter.number.threshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
        # the fixture fact is tiny; production's 10GB bar is met at 100 TB
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        conf.set("spark.sql.optimizer.runtimeFilter.number.threshold", "10")
        # force a SHUFFLE join (bloom filters don't apply to broadcasts —
        # those already prune via DPP/broadcast semi-join)
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        fact = spark.read.parquet(f"{SF}/lineitem.parquet")
        dim = spark.read.parquet(f"{SF}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = fact.join(dim, fact.l_orderkey == dim.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "bloom" in plan.lower(), plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_phrase_legs_prune_persisted_postings(spark, tmp_path):
    """Phrase matching over PERSISTED positional postings: each term leg's
    equality predicate must reach the parquet scan (term partitioning
    prunes at scale), and the position joins must be equi-joins — no
    cartesian anywhere (SCALE.md search section)."""
    from ariadne_dbt_spark.operators.search import phrase_hits, positional_postings

    docs = spark.createDataFrame(
        [(i, "spark stream join " * 3) for i in range(64)],
        "doc_id bigint, text string",
    )
    out = str(tmp_path / "pos_postings")
    positional_postings(docs, "doc_id", "text").write.parquet(out)
    hits = phrase_hits(spark.read.parquet(out), ["spark", "stream"])
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "PushedFilters:" in plan
    pushed = [seg[:200] for seg in plan.split("PushedFilters:")[1:]]
    assert any("EqualTo(term,spark)" in s for s in pushed)
    assert any("EqualTo(term,stream)" in s for s in pushed)


def test_incremental_index_read_path(spark, tmp_path):
    """The versioned index's serve path: commit-pointer gen filter pushed
    into every log scan, tombstone-max joined BROADCAST, and no stats
    aggregates (avgdl/n_docs ride meta.json)."""
    from ariadne_dbt_spark.operators.search import bm25
    from ariadne_dbt_spark.operators.search_index import (
        build_search_index,
        read_search_index,
        upsert_search_index,
    )

    docs = spark.createDataFrame(
        [(i, "spark stream join table") for i in range(32)],
        "doc_id bigint, text string",
    )
    idx = str(tmp_path / "idx")
    build_search_index(docs, "doc_id", {"text": "text"}, idx)
    upsert_search_index(
        spark, idx, spark.createDataFrame([(1, "spark only")], "doc_id bigint, text string"),
        "doc_id", {"text": "text"},
    )
    postings, docstats, n_docs, avgdl = read_search_index(spark, idx)
    scored = bm25(
        postings, docstats, n_docs, "spark stream",
        field_weights={"text": 1.0}, avgdl_by_field=avgdl,
    )
    plan = scored._jdf.queryExecution().executedPlan().toString()
    # committed-gen visibility reaches the scans as a pushed range
    # predicate (gen <= high-water), not a churn-sized IN list
    assert "LessThanOrEqual(gen," in plan
    assert "BroadcastHashJoin" in plan     # tombstone-max merge is broadcast
    assert "avg(" not in plan.lower().replace("avgdl", "")


def test_block_pack_no_global_sort_and_bounded_exchanges(spark):
    """block_pack: every window is per-shard (no single-partition
    funnel), and the whole layout costs a bounded number of shuffles."""
    from ariadne_dbt_spark.operators.sampling import block_pack

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(128)], "doc_id bigint, text string"
    )
    out = block_pack(docs, "doc_id", "text", block_size=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange") <= 4


def test_corpus_build_pipeline_composition_shape(spark, registry):
    """The composed corpus-build pipeline (quality → LM filter → exact
    dedup → shuffle → shards) is now a bench headline: pin its shape so
    a regression in the composition (lost co-partitioning, a cartesian
    creeping into the stage joins) is caught structurally, not by
    wall-clock noise. The two SinglePartition exchanges are the 1-row
    global aggregates (vocab size / total counts) that broadcast-cross
    into the scoring — O(1) rows by construction."""
    plan = _plan(spark, registry, "corpus_build_pipeline")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 22, plan
    assert plan.count("Exchange SinglePartition") <= 2, plan


def test_curriculum_no_single_partition_window(spark):
    """curriculum_order's result plan: phases are a literal CASE (the
    percentile agg ran at build time), windows partition by
    (phase, shard) — never a global ntile funnel."""
    from ariadne_dbt_spark.operators.sampling import curriculum_order

    docs = spark.createDataFrame(
        [(i, i % 97) for i in range(256)], "doc_id bigint, score bigint"
    )
    out = curriculum_order(docs, "doc_id", "score", n_phases=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "ntile" not in plan.lower()


def test_rrf_fusion_take_ordered(spark, registry):
    """Hybrid RRF retrieval: the final fused top-15 AND both legs'
    top-50 cuts compile to TakeOrderedAndProject (distributed partial
    top-k). The rank windows run over the ≤50-row cut results, never
    over the full term-matched candidate set — an unpartitioned
    row_number there would single-partition millions of rows at 100×."""
    plan = _plan(spark, registry, "rrf_hybrid_retrieval")
    # final fused top-15 + BM25-leg top-50 + cosine-leg top-50
    assert plan.count("TakeOrderedAndProject") >= 3
    # every rank window sits above a TakeOrdered cut: the plan string is
    # parent-first, so the first TakeOrdered must appear before any
    # window's single-partition exchange would
    first_window = plan.find("Window")
    assert first_window == -1 or "TakeOrderedAndProject" in plan[first_window:]


def test_spellfix_vocab_broadcast(spark, registry):
    """Did-you-mean: the vocabulary side of the query x vocab candidate
    join is broadcast — a term-bounded build side, never a shuffle of
    the corpus."""
    plan = _plan(spark, registry, "query_term_correction")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_faceted_counts_single_expand_pass(spark, registry):
    """Faceted search: all four facet groupings compile to ONE Expand +
    hash aggregation — no per-facet rescans of the hit set."""
    plan = _plan(spark, registry, "faceted_search_counts")
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_forgotten_index_tombstone_broadcast(spark, registry):
    """Erasure read path: the shingle-index tombstone join (newest-wins:
    a left join on the per-id max tombstone gen, then the ``_tmax``
    filter) must be BROADCAST on the tombstone side (bounded by churn),
    and the pruned bucket scan must still carry its partition filters."""
    plan = _plan(spark, registry, "incremental_dedup_forgotten")
    assert any(
        "BroadcastHashJoin" in line and "LeftOuter, BuildRight" in line
        for line in plan.splitlines()
    )
    assert "_tmax" in plan
    assert "PartitionFilters: [bucket" in plan.replace("#", "").replace(
        "cast(bucket", "bucket"
    ) or "bucket" in plan.split("PartitionFilters:")[1][:120]


def test_near_dup_pair_set_never_collected_to_driver(spark, tmp_path):
    """The near-dup workload wrappers release the operator's cache via
    localCheckpoint, not a toPandas round-trip: the returned frames must
    be executor-backed (checkpointed scan), never a LocalTableScan
    (which would mean the pair set passed through the driver)."""
    from ariadne_dbt_spark.workloads.dedup import (
        near_dup_quality_survivors,
        ngram_jaccard_near_dups,
    )

    sf_dir = "/root/testdata/sf0.001"
    for fn in (ngram_jaccard_near_dups, near_dup_quality_survivors):
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" not in plan, fn.__name__
        assert "Scan ExistingRDD" in plan, fn.__name__  # the checkpoint


def test_zipf_fit_has_topk_precut(spark, registry):
    """zipf_law_fit bounds its global row_number window by a top-K
    tf pre-cut that compiles to TakeOrderedAndProject (per-partition
    top-K, no global sort of the full vocabulary)."""
    plan = _plan(spark, registry, "zipf_law_fit")
    assert "TakeOrderedAndProject" in plan, plan
