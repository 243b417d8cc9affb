"""Deduplication operators for 100 TB training-data pipelines.

Four tiers, cheapest first:

* exact      — normalized-hash groupBy (one shuffle on the hash)
* ngram      — word-shingle Jaccard on candidate pairs (exact but O(pairs);
               the shingle-join prunes to pairs sharing ≥1 shingle)
* minhash    — MinHash + LSH banding: per-doc signature, band→bucket,
               bucket-join to candidates (the scale path: shuffles on
               band-hash only, never all-pairs)
* simhash    — 64-bit near-dup fingerprint; hamming-ball candidates

All pure DataFrame ops (explode / groupBy / join / array folds); no
Python in the hot path. Skew control for the Jaccard path is structural,
not salt-based: candidates come only from PPJoin prefix shingles (each
doc's globally-rarest ⌈(1-τ)|X|⌉+1 shingles), so ubiquitous shingles
never enter the candidate join, and verification touches only candidate
pairs. Residual hot keys are handled by AQE skew-join splitting. For
web-scale corpora where even exact pair enumeration is too big, route
MinHash-LSH first and verify only its candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ariadne_dbt_spark.functions.text import tokenize
from ariadne_dbt_spark.operators import epoch_store
from ariadne_dbt_spark.operators.text import fingerprint_md5
from ariadne_dbt_spark.session import local_frame

# deterministic MinHash parameters (Carter-Wegman style h_i(x) = a_i*x+b_i mod p).
# p is the 31-bit Mersenne prime so a*h ≤ 2^62 never overflows a signed
# 64-bit long (Spark runs ANSI mode: overflow would raise, not wrap).
_MERSENNE_P = (1 << 31) - 1


def _perm_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs derived from a fixed LCG — no RNG state,
    reproducible across runs/engines."""
    params = []
    x = 0x9E3779B97F4A7C15
    for _ in range(num_perm):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % (_MERSENNE_P - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % _MERSENNE_P
        params.append((int(a), int(b)))
    return params


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical (post-normalization) docs:
    ``(fingerprint, n_dups, keep_id)`` for groups with >1 member."""
    return (
        df.select(F.col(id_col).alias("id"), fingerprint_md5(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("id").alias("keep_id"))
        .where(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id row per normalized fingerprint (deterministic
    survivor, E3/E5 semantics)."""
    fp = df.withColumn("_fp", fingerprint_md5(text_col))
    w_min = fp.groupBy("_fp").agg(F.min(id_col).alias("_keep"))
    return (
        fp.join(w_min, "_fp")
        .where(F.col(id_col) == F.col("_keep"))
        .drop("_fp", "_keep")
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """``(id, shingle, sz)`` distinct word n-grams per doc, with the
    doc's distinct-shingle count fused in. Docs with fewer than ``n``
    tokens yield no rows.

    Shuffle-minimal by construction — one exchange total (the window's
    hash-partition on id):

    * tokens come from ONE ``posexplode(tokenize(...))`` generator pass
      (higher-order ``transform``/``slice`` lambdas re-evaluate the
      inlined tokenizer per *element* after projection collapse — ~25 s
      at sf0.1 — so shingles are assembled from window ``lead``s
      instead, fully codegen'd);
    * per-doc dedup happens in ``collect_set`` ON the window's existing
      id-partitioning (no ``distinct()`` exchange), and ``sz`` =
      ``size(set)`` rides along, saving downstream size-joins;
    * the result stays hash-partitioned by id, which later per-doc
      groupBys/joins reuse without re-shuffling.
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokenize(text_col, min_len=1, stop=False)).alias("pos", "tok"),
    )
    # EXPLICIT-N on the window's one id exchange (round 10): the window
    # + collect_set runs over every token row, so its cost is
    # row-proportional while its exchange INPUT bytes are small — under
    # byte-based AQE coalescing (session.py parallelismFirst=false) the
    # whole corpus-wide shingle build would otherwise run on one or two
    # reducers. A user-specified partition count is exempt from AQE
    # coalescing; downstream per-id joins/groupBys still reuse the
    # hash(id, N) distribution exactly as before.
    toks = toks.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "id"
    )
    w = Window.partitionBy("id").orderBy("pos")
    shingled = (
        toks.select(
            "id",
            F.concat_ws(
                " ", "tok", *[F.lead("tok", i).over(w) for i in range(1, n)]
            ).alias("shingle"),
            F.lead("tok", n - 1).over(w).alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .groupBy("id")
        .agg(F.collect_set("shingle").alias("_set"))
    )
    return shingled.select(
        "id",
        F.size("_set").alias("sz"),
        F.explode("_set").alias("shingle"),
    ).select("id", "shingle", "sz")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    strategy: str = "auto",
) -> DataFrame:
    """Exact Jaccard near-dup pairs ``(id_a, id_b, jaccard)``, id_a < id_b.

    ``prefix`` is the scale path — PPJoin-style and fully exact at every
    density:

    * candidates come ONLY from each doc's (|X| - ⌈τ|X|⌉ + 1)
      globally-rarest shingles (lossless for Jaccard ≥ τ: two qualifying
      sets must collide inside those prefixes) + τ-length filter;
    * verification computes |A∩B| by joining the candidate pairs back to
      the posting list and COUNTING matches — no shingle arrays are
      collected or shuffled, and the full Σdf² shingle self-join never
      happens. Cost is Σ_candidates |A|, i.e. proportional to real
      near-dup mass, not to vocabulary heat.

    ``count`` (shingle self-join → groupBy(pair)) materializes
    Σ df·(df-1)/2 intermediate pairs — cheaper in *stages* (2 shuffles
    vs ~6) but explosive on hot vocabularies.

    ``auto`` measures instead of guessing: it aggregates the pair mass
    from the document-frequency table (one tiny job over the cached
    postings — dfreq is an input of the prefix path anyway, so nothing
    extra is materialized when prefix wins) and picks ``count`` only
    when the intermediate-pair mass is provably bounded
    (Σ df·(df-1)/2 ≤ 50 × postings); any hot-shingle skew pushes the
    mass over the bound and routes to ``prefix``.

    |A∪B| = |A|+|B|-|A∩B| from integer counts → the one float division is
    deterministic, so both strategies hash-match the SQL oracle.

    Cache lifecycle: the shingle postings (and dfreq, when built) are
    cached only while the pair set is computed — the RESULT is cached and
    eagerly materialized, then the inputs are unpersisted before
    returning, so repeated calls in a long-lived session (the serving
    path holds one SparkSession) never accumulate postings-sized blocks.
    The caller owns the returned frame's (small — near-dup pairs are
    orders of magnitude fewer than postings) cache: call
    ``out.unpersist()`` when done to release the last block.
    """
    sh = shingle_sets(df, id_col, text_col, n).cache()
    dfreq = None
    try:
        if strategy == "prefix":
            out = _jaccard_pairs_prefix(sh, threshold)
        elif strategy == "count":
            out = _jaccard_pairs_count(sh, threshold)
        else:
            dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).cache()
            stats = dfreq.agg(
                F.sum((F.col("df").cast("double") * (F.col("df") - 1)) / 2).alias("pair_mass"),
                F.sum("df").alias("postings"),
                F.max("df").alias("max_df"),
            ).first()
            if stats["pair_mass"] is not None and stats["pair_mass"] <= 50.0 * stats["postings"]:
                out = _jaccard_pairs_count(sh, threshold)
            else:
                # max_df rides on the dispatch action for free and upper-
                # bounds any doc's candidate-set size (a clone cluster of
                # size m makes every shared shingle's df ≥ m), proving
                # the exchange-saving collect_set dedup safe — or not
                out = _jaccard_pairs_prefix(
                    sh,
                    threshold,
                    dfreq=dfreq,
                    dedup_via_set=(stats["max_df"] or 0) <= _MAX_DF_FOR_SET_DEDUP,
                )
        out = out.cache()
        out.count()  # materialize THROUGH the input caches before they drop
        return out
    finally:
        sh.unpersist()
        if dfreq is not None:
            dfreq.unpersist()


def _jaccard_pairs_count(sh: DataFrame, threshold: float) -> DataFrame:
    # round-10 note: a groupBy(shingle)+collect_list pair expansion (the
    # shared_span_pairs shape) was A/B-measured SLOWER here (2.7-3.3 →
    # 3.1-4.1 s warm at sf0.1): sh is already cached by the dispatcher,
    # so the self-join pays no recompute and streams the pair mass,
    # while the aggregate buffers it — kept as the streamed join.
    a = sh.select(F.col("id").alias("id_a"), "shingle", F.col("sz").alias("sz_a"))
    b = sh.select(F.col("id").alias("id_b"), "shingle", F.col("sz").alias("sz_b"))
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


#: collect_set candidate dedup is only proven safe when the corpus'
#: hottest shingle df stays under this bound (a doc's candidate buffer is
#: ≤ prefix_len × max_df rows of longs — ~8 MB at this cap); above it,
#: fall back to distinct(), which costs one more exchange but never
#: builds a per-doc array
_MAX_DF_FOR_SET_DEDUP = 1_000_000

#: candidate rows per id_a above which the distinct()-fallback's
#: verification join routes that id through a salted join (a mega clone
#: cluster of size m yields m candidates × |A| postings on one key —
#: a single straggler partition without the split)
_HOT_CAND_THRESHOLD = 2_048


def _prefix_postings(sh: DataFrame, threshold: float, dfreq: DataFrame) -> DataFrame:
    """Each doc's PPJoin prefix: its (|X| - ⌈τ|X|⌉ + 1) globally-RAREST
    shingles. This is the structural skew defense of the exact path — a
    shingle ubiquitous across the corpus ranks last in the rarity order
    and lands in (almost) no prefix, so hot vocabulary never enters the
    candidate join at all (pinned by tests/test_skew.py)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("id").orderBy("df", "shingle")
    return (
        sh.join(dfreq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= F.col("sz") - F.ceil(F.col("sz") * F.lit(threshold)) + 1)
        .select("id", "shingle", "sz")
    )


def _jaccard_pairs_prefix(
    sh: DataFrame,
    threshold: float,
    dfreq: DataFrame | None = None,
    *,
    dedup_via_set: bool | None = None,
) -> DataFrame:
    from pyspark.sql.window import Window

    # df(shingle) over distinct postings. No broadcast hint: vocabulary
    # is unbounded at corpus scale, so a hard hint could OOM the driver —
    # AQE converts the join to broadcast at runtime whenever dfreq is
    # actually small, skipping the re-shuffle of sh by shingle.
    if dfreq is None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    prefix = _prefix_postings(sh, threshold, dfreq)
    a = prefix.select(F.col("id").alias("id_a"), "shingle", F.col("sz").alias("sz_a"))
    b = prefix.select(F.col("id").alias("id_b"), "shingle", F.col("sz").alias("sz_b"))
    # candidate dedup as groupBy(id_a) + collect_set instead of
    # distinct(): a (id_a, id_b)-keyed distinct leaves the data
    # hash-partitioned on BOTH ids, forcing a re-shuffle for the id_a
    # verification join below; aggregating by id_a alone dedups the same
    # pairs while leaving the frame partitioned exactly how that join
    # wants it (sh is already id-hash-partitioned from the shingle
    # build), eliminating one exchange from the hot path. Trade-off:
    # one doc's candidate set becomes a single aggregation-buffer array
    # (unbounded by partitioning) that could OOM an executor if one doc
    # sits in a huge clone cluster — so the array path runs only when
    # PROVEN safe: the auto dispatcher passes dedup_via_set from a
    # measured max-df probe (candidates/doc ≤ prefix_len × max_df, and a
    # clone cluster of size m forces max_df ≥ m); callers that bypass
    # the probe (dedup_via_set=None) get the safe distinct() shape.
    raw_pairs = a.join(b, "shingle").where(
        (F.col("id_a") < F.col("id_b"))
        & (F.least("sz_a", "sz_b") >= F.lit(threshold) * F.greatest("sz_a", "sz_b"))
    )
    sh_a = sh.select(F.col("id").alias("id_a"), "shingle", F.col("sz").alias("sz_a"))
    if dedup_via_set:
        cand = (
            raw_pairs.groupBy("id_a")
            .agg(F.collect_set("id_b").alias("_ids"))
            .select("id_a", F.explode("_ids").alias("id_b"))
        )
        # verification by COUNTING posting matches restricted to
        # candidates — |A∩B| = #{shingle : (id_a, shingle) ∈ sh ∧
        # (id_b, shingle) ∈ sh}; no arrays through the shuffle, cost
        # Σ_cand |A|. Doc sizes ride on the postings (shingle_sets fuses
        # sz), so no size-joins are needed; sh's id-hash partitioning
        # from the build is reused by the id_a join.
        pa = cand.join(sh_a, "id_a")
    else:
        # materialize the candidate set ONCE: the hot-key probe, the
        # cold branch and the hot branch below would each otherwise
        # recompute the whole prefix-join subtree (3x the exchanges,
        # 3x the work)
        cand = (
            raw_pairs.select("id_a", "id_b").distinct().localCheckpoint(eager=True)
        )
        # this branch runs exactly when the max-df probe could NOT bound
        # the per-doc candidate fan-out — i.e. when a mega clone cluster
        # may exist. A cluster of size m gives one id_a m candidate rows
        # × |A| postings in the id_a verification join: a single
        # straggler partition at scale. Split-join: ids whose fan-out
        # exceeds the threshold route through a 16-way salted join
        # (operators/skew.py — small side is just the HOT docs'
        # postings, bounded by n_hot × doc size), the cold long tail
        # keeps the plain join and its reused partitioning.
        from ariadne_dbt_spark.operators.skew import hot_keys, salted_join

        hot = hot_keys(
            cand, "id_a", threshold_rows=_HOT_CAND_THRESHOLD
        ).select("id_a")
        cand_cold = cand.join(F.broadcast(hot), "id_a", "left_anti")
        cand_hot = cand.join(F.broadcast(hot), "id_a")
        pa = cand_cold.join(sh_a, "id_a").unionByName(
            salted_join(cand_hot, sh_a.join(F.broadcast(hot), "id_a"), "id_a")
        )
    inter = (
        pa.join(
            sh.select(F.col("id").alias("id_b"), "shingle", F.col("sz").alias("sz_b")),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 3, num_perm: int = 64
) -> DataFrame:
    """``(id, sig: array<bigint>)`` MinHash signatures.

    Shingles hash via xxhash64 (JVM-side). All ``num_perm`` permuted
    values are computed in ONE ``transform`` over a literal (a, b) pair
    array — a single codegen loop per posting row instead of num_perm
    independent expression trees — then reduced with num_perm element
    ``min`` aggregates (still one groupBy / one shuffle, map-side
    partial aggregation intact).
    """
    # expressions assembled as SQL strings, ONE F.expr per stage (round
    # 11): the old Column-API construction issued hundreds of py4j
    # round-trips (64 permutations x lit/cast/array/min each) and cost
    # ~1.5-2 s of pure DRIVER time per call before any job ran — plan
    # CONSTRUCTION, not execution, dominated this operator at bench
    # scale (guide §7.3's planning-cost trap, py4j edition). Semantics
    # identical: same pmod/xxhash64 arithmetic, same min-per-permutation
    # aggregate, verified by the recall oracle + tests.
    pairs_sql = ",".join(f"array({a}L,{b}L)" for a, b in _perm_params(num_perm))
    hashed = shingle_sets(df, id_col, text_col, n).select(
        "id", F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE_P)).alias("h")
    )
    sh = hashed.select(
        "id",
        F.expr(
            f"transform(array({pairs_sql}), "
            f"p -> pmod(h * p[0] + p[1], {_MERSENNE_P}L))"
        ).alias("hv"),
    )
    mins_sql = ",".join(f"min(hv[{i}])" for i in range(num_perm))
    return sh.groupBy("id").agg(F.expr(f"array({mins_sql})").alias("sig"))


def auto_minhash_params(
    n_rows: int, threshold: float, recall_target: float = 0.95
) -> tuple[int, int]:
    """Derive ``(num_perm, bands)`` from corpus size + Jaccard
    threshold — the MinHash twin of ``similarity.auto_lsh_params``.

    Rows-per-band r is the precision lever: a pair at Jaccard s shares
    a band bucket with s^r, so the spurious-candidate mass from the
    low-similarity background (n²/2 pairs at s_bg) scales with
    n²·s_bg^r·b — r must grow ~log(n) to hold it linear, exactly like
    hyperplane band width. ``r = max(4, ceil(log2(n)/2))`` keeps the
    background term (s_bg ≤ 0.25, typical shingled text is far lower)
    bounded by n·b. Bands then restore recall AT the threshold:
    ``b = ceil(log(1-recall)/log(1-t^r))`` (capped at 64), and
    ``num_perm = b·r`` is the signature budget that falls out.
    """
    import math

    r = max(4, min(16, math.ceil(math.log2(max(n_rows, 2)) / 2)))
    tr = min(max(threshold, 1e-9), 1.0) ** r
    if tr >= 1.0 - 1e-12:
        b = 1
    else:
        b = max(1, min(64, math.ceil(math.log(max(1.0 - recall_target, 1e-12)) / math.log(1.0 - tr))))
    return b * r, b


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    num_perm: int | None = 64,
    bands: int | None = 16,
    threshold: float = 0.8,
    recall_target: float = 0.95,
    n_rows: int | None = None,
) -> DataFrame:
    """LSH banding: split signatures into ``bands`` rows-per-band groups,
    hash each band, bucket-join → candidate pairs ``(id_a, id_b)``.

    This is the 100 TB path: cost is (docs × bands) rows shuffled by
    band-hash, never O(docs²). Pass ``num_perm=None``/``bands=None`` to
    AUTO-derive both from the corpus row count (``n_rows`` or a
    ``count()`` job), ``threshold`` and ``recall_target`` via
    :func:`auto_minhash_params` — rows-per-band grows with log(n) so
    background-pair collisions stay linear as the corpus grows.
    """
    if num_perm is None or bands is None:
        if n_rows is None:
            n_rows = df.count()
        num_perm, bands = auto_minhash_params(n_rows, threshold, recall_target)
    assert num_perm % bands == 0
    rows = num_perm // bands
    sigs = minhash_signatures(df, id_col, text_col, n=n, num_perm=num_perm)
    # one SQL expr instead of bands x (struct + lit + rows x getItem)
    # Column calls — same py4j-chatter fix as minhash_signatures above
    structs_sql = ",".join(
        "struct({bi} AS band, hash({items}) AS bucket)".format(
            bi=bi,
            items=",".join(f"sig[{bi * rows + r}]" for r in range(rows)),
        )
        for bi in range(bands)
    )
    banded = sigs.select(
        "id", F.expr(f"explode(array({structs_sql}))").alias("bb")
    ).select("id", "bb.band", "bb.bucket")
    a = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def dedup_clusters(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs → ``(id, cluster_id)``,
    where ``cluster_id`` is the MIN member id (the deterministic
    canonical survivor). This is the step after pair generation in a
    dedup pipeline: near-duplicate relations are not transitive, so
    A~B and B~C must collapse into ONE keep-decision even when A~C was
    never emitted.

    Iterative min-label propagation as a driver loop of DataFrame joins
    (the same adaptive shape as BFS, graph.py:34): each round every node
    takes the min label over itself and its neighbors; converge when no
    label changes. Rounds = component diameter — near-dup clusters are
    shallow (stars/short chains), so this beats the large-star/small-star
    alternation's constant factor at this workload; per-round cost is one
    shuffle of the (small) pair set, labels are localCheckpoint'd so
    plans stay flat. Never materializes components driver-side.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("cluster_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nb_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nb_label"))
        )
        updated = (
            labels.join(nb_min, labels.id == nb_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nb_label", F.col("cluster_id"))
                ).alias("cluster_id"),
                (F.coalesce("nb_label", F.col("cluster_id")) < F.col("cluster_id")).alias(
                    "_changed"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = updated.where("_changed").count()
        labels = updated.drop("_changed")
        if changed == 0:
            break
    return labels


def minhash_jaccard_estimate(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 3, num_perm: int = 64
) -> DataFrame:
    """All-pairs estimated Jaccard from signature agreement (test-scale
    helper; production path filters through LSH candidates first)."""
    sigs = minhash_signatures(df, id_col, text_col, n=n, num_perm=num_perm)
    a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq)
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("est_jaccard", agree.cast("double") / F.lit(float(num_perm)))
        .select("id_a", "id_b", "est_jaccard")
    )


def decontamination_flags(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Test-set decontamination: flag training docs sharing ≥ ``min_hits``
    distinct word n-grams with a benchmark/eval corpus —
    ``(id, n_hits, contaminated)`` for every training doc.

    Scale shape: the benchmark shingle set is orders of magnitude smaller
    than the corpus, so after ``distinct`` it is the broadcast-able side
    of a semi-join against the training postings; cost is one pass over
    training shingles (AQE promotes the join to broadcast when the bench
    set fits). Docs with fewer than ``n`` tokens yield no shingles and
    are clean by definition.
    """
    tsh = shingle_sets(train, id_col, text_col, n)
    bsh = shingle_sets(bench, id_col, text_col, n).select("shingle").distinct()
    hits = (
        tsh.join(bsh, "shingle")
        .groupBy("id")
        .agg(F.countDistinct("shingle").alias("n_hits"))
    )
    ids = train.select(F.col(id_col).alias("id")).distinct()
    return ids.join(hits, "id", "left").select(
        "id",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
    )


#: shingle-hash partition fan-out for the persisted postings index —
#: wide enough that a small batch's shingles hit a strict subset of
#: directories (physical pruning), small enough that the per-partition
#: file count stays manageable on object stores
SHINGLE_INDEX_BUCKETS = 64
#: the shingle index's tombstone key, as epoch_store.live_rows reads it
_KEY = "id long"


def _shingle_bucket(n_buckets: int):
    return F.pmod(F.xxhash64("shingle"), F.lit(n_buckets)).cast("int")


def build_shingle_index(
    df: DataFrame,
    out_dir: str,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    n_buckets: int = SHINGLE_INDEX_BUCKETS,
) -> dict:
    """Persist the corpus' shingle postings as a queryable parquet index:
    ``(id, shingle, sz)`` rows PARTITIONED BY ``bucket =
    pmod(xxhash64(shingle), n_buckets)``, plus JSON metadata pinning the
    shingle width. The incremental-dedup serving path
    (:func:`incremental_near_dup_flags` with ``index_dir=``) then joins
    each incoming batch against this index WITHOUT re-shingling the
    corpus — and scans only the bucket directories the batch's own
    shingles hash into (``bucket IN (...)`` → PartitionFilters, same
    physical-pruning shape as ``ivf_build_index``; asserted on the
    executed plan in tests/test_plan_audit.py).

    This is the postings the full-corpus dedup already computes —
    persisting them amortizes the shingle build across every future
    batch (reference analog: the engine's own persisted FTS postings,
    /root/reference/src/ariadne_dbt/schema.sql:202-210). Refresh by
    re-running after appending accepted batch docs to the corpus, or
    append-write the accepted batch's own postings with the identical
    bucket expression.
    """
    import os

    # rebuild-replaces semantics: drop EVERY prior epoch's postings,
    # staging leftovers and — critically — any tombstones, so ids
    # forgotten from the old index aren't silently suppressed (and later
    # physically dropped by compaction) in the fresh one
    os.makedirs(out_dir, exist_ok=True)
    epoch_store.clear_index(out_dir, ["postings"])
    sh = shingle_sets(df, id_col, text_col, n)
    sh.withColumn("bucket", _shingle_bucket(n_buckets)).withColumn(
        "gen", F.lit(0).cast("bigint")
    ).write.mode("overwrite").partitionBy("bucket").parquet(
        epoch_store.data_dir(out_dir, "postings", 0)
    )
    meta = {"n": n, "n_buckets": n_buckets, "gen": 0, "orphans": []}
    # bloom sidecar: membership prefilter for the incremental flags path
    # (batch shingles provably absent from the index skip the postings
    # join AND shrink the bucket IN-list). Built from the just-written
    # postings — a column-pruned single-column scan, not a re-shingle.
    written = df.sparkSession.read.parquet(
        epoch_store.data_dir(out_dir, "postings", 0)
    ).select("shingle").distinct()
    # (clear_index above also removed every ``_``-prefixed sidecar: the
    # previous index life's bloom fold and per-gen partials)
    meta = _write_shingle_bloom_fold(out_dir, written, meta, 0)
    epoch_store.write_meta(out_dir, "meta.json", meta)
    return meta


#: bloom sidecar defaults: fpp for the index-membership prefilter —
#: false positives only cost join work, so this is a size/effect knob,
#: not a correctness one
SHINGLE_BLOOM_FPP = 0.005
#: bitmap ceiling: above this the sidecar is NOT built (and never
#: loaded) — the prefilter's whole premise is a broadcast-cheap bitmap,
#: and a corpus whose distinct-shingle count needs a multi-GB filter
#: (≳2×10⁹ grams at the default fpp) is past the regime where
#: broadcasting it per flags query beats the bucket-pruned join it
#: would save. The flags path silently runs the (always-correct) full
#: join instead.
SHINGLE_BLOOM_MAX_BYTES = 256 * (1 << 20)
_BLOOM_FOLD_FILE = "_bloom_fold.bin"


def _bloom_partial_path(index_dir: str, gen: int) -> str:
    import os

    return os.path.join(index_dir, f"_bloom_gen{gen}.bin")


def _write_shingle_bloom_fold(
    index_dir: str, shingles: DataFrame, meta: dict, fold_gen: int
) -> dict:
    """(Re)build the folded bloom over ``shingles`` (distinct), size it
    for the CURRENT corpus, stamp params + fold_gen into ``meta`` (NOT
    yet committed — caller owns the meta write) and atomically replace
    the fold file. Partials at or below ``fold_gen`` become dead and
    are removed best-effort. Corpora whose sized bitmap would exceed
    ``SHINGLE_BLOOM_MAX_BYTES`` get NO sidecar (cfg dropped, fold file
    removed) — past the broadcastable regime the prefilter stops paying
    for itself, and the flags path's full join is always correct."""
    import glob
    import os

    from ariadne_dbt_spark.operators.bloom import bloom_build, optimal_params

    n = shingles.count()
    m, k = optimal_params(max(n, 1), SHINGLE_BLOOM_FPP)
    if (m + 7) // 8 > SHINGLE_BLOOM_MAX_BYTES:
        meta.pop("bloom", None)
        for p in [os.path.join(index_dir, _BLOOM_FOLD_FILE)] + glob.glob(
            os.path.join(index_dir, "_bloom_gen*.bin")
        ):
            try:
                os.remove(p)
            except OSError:
                pass
        return meta
    bloom = bloom_build(shingles, "shingle", m_bits=m, k=k, seed=11)
    epoch_store.atomic_write(os.path.join(index_dir, _BLOOM_FOLD_FILE), bloom.bits)
    meta["bloom"] = {"m": m, "k": k, "seed": 11, "fold_gen": int(fold_gen)}
    for p in glob.glob(os.path.join(index_dir, "_bloom_gen*.bin")):
        g = int(os.path.basename(p)[len("_bloom_gen"):-len(".bin")])
        if g <= fold_gen:
            try:
                os.remove(p)
            except OSError:
                pass
    return meta


def load_shingle_bloom(index_dir: str, meta: dict):
    """Assemble the index's membership bloom: fold file OR'd with the
    partial of every COMMITTED gen above ``fold_gen``. Returns None —
    prefilter disabled, flags stay correct via the full join — when the
    sidecar is absent (legacy index) or any required partial is missing
    (a crash between gen reservation and the bloom write; the next
    compaction's fold rebuild restores the prefilter). An EMPTY partial
    is a committed gen that added no shingles (a delete)."""
    import os

    import numpy as np

    from ariadne_dbt_spark.operators.bloom import BloomFilter

    cfg = meta.get("bloom")
    if not cfg:
        return None
    if (int(cfg["m"]) + 7) // 8 > SHINGLE_BLOOM_MAX_BYTES:
        # written under a larger cap (or hand-edited): refuse to drag a
        # beyond-broadcast bitmap through every flags query
        return None
    fold_path = os.path.join(index_dir, _BLOOM_FOLD_FILE)
    if not os.path.exists(fold_path):
        return None
    with open(fold_path, "rb") as f:
        bits = np.frombuffer(f.read(), dtype=np.uint8).copy()
    if len(bits) != (cfg["m"] + 7) // 8:
        return None
    hi, orphans = epoch_store.gen_state(meta)
    dead = set(orphans)
    for g in range(int(cfg["fold_gen"]) + 1, hi + 1):
        if g in dead:
            continue
        p = _bloom_partial_path(index_dir, g)
        if not os.path.exists(p):
            return None
        with open(p, "rb") as f:
            part = np.frombuffer(f.read(), dtype=np.uint8)
        if len(part) == 0:
            continue
        if len(part) != len(bits):
            return None
        bits |= part
    return BloomFilter(int(cfg["m"]), int(cfg["k"]), int(cfg["seed"]), bits.tobytes())


def append_to_shingle_index(
    df: DataFrame,
    index_dir: str,
    id_col: str,
    text_col: str,
) -> None:
    """Index maintenance (mirrors ``ivf_append``): shingle a newly
    ACCEPTED batch with the index's own pinned parameters and
    append-write its postings into the same bucket-partitioned layout —
    so the next batch's dedup sees this one without any corpus rebuild.
    Batch-bounded: touches only the batch rows, never the stored
    postings.

    Crash-retry safe: the batch's rows are tagged with a gen reserved
    BEFORE the write and become visible only when the meta commit
    records that gen (``epoch_store.append``) — a crash mid-append
    leaves partial rows permanently orphaned, a retry reserves a FRESH
    gen instead of resurrecting them, and an append that a compaction
    overtook refuses."""
    with epoch_store.append(index_dir, "meta.json", "shingle") as txn:
        meta = txn.meta
        sh = shingle_sets(df, id_col, text_col, meta["n"])
        if meta.get("bloom"):
            # the bloom partial below re-consumes the batch shingles;
            # materialize once instead of re-running the shingle lineage
            sh = sh.localCheckpoint(eager=True)
        # one file per touched bucket per append (see ivf_append): without
        # the cluster-by-key, each append writes one file per (shuffle
        # partition, bucket) and MOR planning cost balloons
        sh.withColumn("bucket", _shingle_bucket(meta["n_buckets"])).repartition(
            F.col("bucket")
        ).withColumn(
            "gen", F.lit(txn.gen).cast("bigint")
        ).write.mode("append").partitionBy("bucket").parquet(
            epoch_store.data_dir(index_dir, "postings", txn.epoch)
        )
        # bloom partial for this gen, written BEFORE the meta commit so a
        # committed gen always has its partial on disk (load_shingle_bloom
        # refuses a bloom missing any committed gen's bits — a false
        # NEGATIVE would drop true duplicates; a crash AFTER this write but
        # before the commit merely leaves an orphan-gen partial whose extra
        # bits are harmless false positives). Same (m, k, seed) as the fold
        # — saturation drifts up until compaction resizes, never wrong.
        cfg = meta.get("bloom")
        if cfg:
            from ariadne_dbt_spark.operators.bloom import bloom_build

            part = bloom_build(
                sh.select("shingle").distinct(),
                "shingle",
                m_bits=int(cfg["m"]),
                k=int(cfg["k"]),
                seed=int(cfg["seed"]),
            )
            epoch_store.atomic_write(_bloom_partial_path(index_dir, txn.gen), part.bits)


def ingest_batch_dedup_gated(
    batch: DataFrame,
    index_dir: str,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
) -> DataFrame:
    """End-to-end continuously-ingested-corpus shape: flag the batch
    against the persisted shingle index, then append ONLY the accepted
    (non-duplicate) docs' postings back into the index — the next batch
    dedups against this one automatically. Returns the accepted batch
    rows (original columns).

    The whole cycle is batch-bounded: one pruned index join for the
    flags + one batch shingle pass for the append; the stored corpus is
    never rescanned. Batch-internal dups survive by design (flags are
    batch-vs-corpus); run ``dedup_exact``/``ngram_jaccard_pairs`` on
    the batch first when intra-batch collisions matter.
    """
    flags = incremental_near_dup_flags(
        None, batch, id_col, text_col,
        n=epoch_store.read_meta(index_dir)["n"], threshold=threshold,
        index_dir=index_dir,
    )
    keep = flags.where(~F.col("is_dup")).select(F.col("id").alias("_keep_id"))
    accepted = batch.join(
        keep, batch[id_col] == F.col("_keep_id")
    ).drop("_keep_id")
    # materialize the accepted set ONCE: the append below and the
    # caller's downstream both consume it, and recomputing it would
    # re-run the index join
    accepted = accepted.localCheckpoint(eager=True)
    append_to_shingle_index(accepted, index_dir, id_col, text_col)
    return accepted


def incremental_near_dup_flags(
    existing: DataFrame | None,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
    index_dir: str | None = None,
) -> DataFrame:
    """Incremental ingestion dedup: flag each BATCH doc that is an exact
    or near duplicate (word-n-gram Jaccard ≥ threshold) of any EXISTING
    corpus doc — ``(id, n_dups, max_jaccard, is_dup)`` for every batch
    doc, without ever comparing existing docs to each other.

    This is the production shape for continuously-ingested corpora: the
    existing side contributes only its posting list, the batch side is
    orders of magnitude smaller, so the shingle equi-join is
    batch-bounded: cost ∝ batch postings × per-shingle document
    frequency, never corpus². Batch-internal pairs are deliberately out
    of scope here — run ``ngram_jaccard_pairs`` on the batch itself
    (tiny) for those.

    Two sources for the existing side:

    * ``existing=`` a DataFrame — postings are computed on the fly
      (one-off comparisons, tests);
    * ``index_dir=`` a :func:`build_shingle_index` directory — the SCALE
      path: the corpus is never re-shingled; the scan is pruned to the
      bucket partitions the batch's own shingles hash into (collected
      driver-side — bounded by ``n_buckets``, never by data), so a small
      batch physically reads a subset of the index.

    Jaccard from integer counts (|A∪B| = |A|+|B|-|A∩B|) → deterministic,
    SQL-oracle-exact (identical results from both sources).
    """
    if (existing is None) == (index_dir is None):
        raise ValueError("pass exactly one of existing= or index_dir=")
    sh_b = shingle_sets(batch, id_col, text_col, n)
    if index_dir is not None:
        snap = epoch_store.snapshot(index_dir)
        meta = snap.meta
        if meta["n"] != n:
            raise ValueError(
                f"index built with n={meta['n']}, queried with n={n}"
            )
        # bloom membership prefilter: drop batch shingles PROVABLY absent
        # from the index before anything else. Exact — a dropped shingle
        # has zero stored postings, so it cannot contribute to any
        # intersection count, and each row's ``sz`` (the Jaccard
        # denominator) was stamped at shingle time. Mostly-novel batches
        # (the common ingest case) shrink BOTH the bucket IN-list below
        # and the postings join's probe side; None (legacy index or
        # crash-degraded sidecar) falls back to the full join, same
        # results.
        bloom = load_shingle_bloom(index_dir, meta)
        if bloom is not None:
            from ariadne_dbt_spark.operators.bloom import bloom_maybe_contains

            sh_b = (
                bloom_maybe_contains(sh_b, "shingle", bloom)
                .where(F.col("bloom_maybe"))
                .drop("bloom_maybe")
            )
            # materialize the filtered shingles ONCE: the bucket probe
            # below and the final join both consume them, and without
            # this each runs its own shingle build + Arrow probe pass —
            # measured ~2x the prefilter's cost on all-dup batches (the
            # prefilter's worst case). Batch-bounded memory; the block
            # dies with this frame's GC like the other ingest-path
            # checkpoints.
            sh_b = sh_b.localCheckpoint(eager=True)
        # the probe runs the batch shingle build once to learn which
        # index partitions to read (≤ n_buckets values collected, never
        # data-bounded); the final lazy plan recomputes the batch
        # shingles — one extra batch-bounded pass, preferred over a
        # caller-owned cache that could leak in a long-lived session
        probe = sh_b.select(
            _shingle_bucket(meta["n_buckets"]).alias("bucket")
        ).distinct()
        buckets = [int(r["bucket"]) for r in probe.collect()]
        # committed rows of the probed buckets only; forgotten docs stop
        # matching immediately (delete_from_shingle_index tombstones)
        sh_e = epoch_store.live_rows(
            batch.sparkSession,
            snap,
            "postings",
            _KEY,
            where=F.col("bucket").isin(buckets) if buckets else F.lit(False),
        ).select("id", "shingle", "sz")
    else:
        sh_e = shingle_sets(existing, id_col, text_col, n)
    inter = (
        sh_b.select(F.col("id").alias("b_id"), "shingle", F.col("sz").alias("sz_b"))
        .join(
            sh_e.select(F.col("id").alias("e_id"), "shingle", F.col("sz").alias("sz_e")),
            "shingle",
        )
        .groupBy("b_id", "e_id", "sz_b", "sz_e")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_b") + F.col("sz_e") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    per_doc = inter.groupBy("b_id").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.round(F.max("jaccard"), 6).alias("max_jaccard"),
    )
    ids = batch.select(F.col(id_col).alias("id")).distinct()
    return ids.join(per_doc, ids.id == per_doc.b_id, "left").select(
        "id",
        F.coalesce("n_dups", F.lit(0)).cast("bigint").alias("n_dups"),
        "max_jaccard",
        (F.coalesce("n_dups", F.lit(0)) > 0).alias("is_dup"),
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_df: int = 2,
    line_sep: str = "\n",
) -> DataFrame:
    """C4-style line-level boilerplate removal: drop every line whose
    normalized form appears in at least ``min_df`` DISTINCT documents
    (cookie banners, nav bars, copyright footers — the repeated-line
    mass web corpora carry into training sets). Returns
    ``(id, text, n_lines_kept, n_lines_dropped)`` with the surviving
    lines rejoined in their original order.

    Shape: one posexplode over lines, one distinct-doc-count aggregate
    keyed by normalized line (shuffle ∝ total lines), one anti-join
    back, and an order-preserving reassembly via
    ``array_sort(collect_list(struct(pos, line)))`` on the doc id's
    existing partitioning. No all-pairs term anywhere: cost is linear
    in total line count, and the boilerplate side of the anti-join is
    the df-filtered minority. Blank lines are preserved verbatim (they
    carry formatting, and counting them as "boilerplate" would delete
    every paragraph break in the corpus).
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias("pos", "line"),
    )
    norm = F.trim(F.col("line"))
    boiler = (
        lines.where(norm != "")
        .select("id", norm.alias("nline"))
        .groupBy("nline")
        .agg(F.count_distinct("id").alias("line_df"))
        .where(F.col("line_df") >= min_df)
        .select("nline")
    )
    # no broadcast hint: boilerplate vocabulary size is data-dependent
    # (AQE picks broadcast when the df-filtered side is small)
    kept = lines.join(boiler, norm == F.col("nline"), "left_anti")
    totals = lines.groupBy("id").agg(F.count(F.lit(1)).alias("n_total"))
    reassembled = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.getField("line"),
            ),
            line_sep,
        ).alias("text"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    # LEFT join from totals: a doc whose every line is boilerplate
    # survives as an empty-text row (pipelines filter those with the
    # quality stage, not by silent disappearance here)
    return totals.join(reassembled, "id", "left").select(
        "id",
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("n_lines_kept", F.lit(0)).cast("int").alias("n_lines_kept"),
        (F.col("n_total") - F.coalesce("n_lines_kept", F.lit(0)))
        .cast("int")
        .alias("n_lines_dropped"),
    )


def shared_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    min_span: int = 15,
    max_df: int | None = None,
) -> DataFrame:
    """Exact shared-substring spans between document pairs — the
    distributed k-gram analog of the suffix-array substring dedup in
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"): any token span of length >= ``min_span`` shared verbatim
    by two documents is found exactly (a shared span of L tokens
    produces L-k+1 consecutive k-gram matches on one alignment
    diagonal, so any span of length >= k is detected exactly and
    reported at token granularity; set k <= min_span).

    Returns ``(id_a, id_b, n_spans, max_span_tokens)`` for pairs
    sharing at least one span of ``min_span``+ tokens (id_a < id_b).

    Shape & scale:

    * k-grams with their START POSITION from ONE map-only pass:
      ``explode(transform(sequence(...)))`` over the split token array
      behind an explicit repartition barrier (the barrier stops
      projection collapse from inlining the regex split into every
      window lambda — the measured per-element re-evaluation pathology
      the old window-``lead`` shape existed to dodge, now avoided
      without the id-exchange + sort that shape paid),
    * occurrences meet in ONE ``groupBy(gram)``: the postings list per
      gram is collected and cross-doc occurrence pairs are expanded
      group-locally with array HOFs (inner ``filter`` before the pair
      ``transform``, so the transient buffer is the group's true output
      mass, never |occ|²). ``max_df`` drops k-grams present in more
      than ``max_df`` docs inside the same aggregate (the paper's
      stop-gram cap: hot boilerplate grams otherwise quadratically blow
      up the candidate mass — at 100 TB always set it). The old shape
      self-joined the gram table instead, which derived the
      corpus-sized gram subtree THREE times (dfreq + both join sides)
      and shuffled the gram strings twice more,
    * runs of consecutive matches on a diagonal collapse via the
      classic gaps-and-islands window (pos_a - row_number), grouped
      per (pair, diagonal, island) — all hash exchanges on pair keys.

    Per-gram aggregation state is the gram's postings (positions ride
    along) — bounded by ``max_df`` docs × within-doc repeats, the same
    rows the postings join shuffled; the pair expansion's output is the
    identical candidate-match multiset the join produced.
    """
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("t"),
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    gram_expr = (
        f"transform(sequence(0, size(t) - {int(k)}), "
        f"i -> struct(i AS pos, array_join(slice(t, i + 1, {int(k)}), ' ') AS gram))"
    )
    grams = (
        toks.where(F.size("t") >= int(k))
        .select("id", F.explode(F.expr(gram_expr)).alias("g"))
        .select("id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    )
    occ = grams.groupBy("gram").agg(
        F.collect_list(F.struct("id", "pos")).alias("occ")
    )
    n_docs = F.size(F.array_distinct(F.transform(F.col("occ"), lambda o: o["id"])))
    occ = occ.where(n_docs >= 2)
    if max_df is not None:
        occ = occ.where(n_docs <= F.lit(int(max_df)))
    pair_expr = F.flatten(
        F.transform(
            F.col("occ"),
            lambda x: F.transform(
                F.filter(F.col("occ"), lambda y: x["id"] < y["id"]),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["pos"].alias("pos_a"),
                    y["pos"].alias("pos_b"),
                ),
            ),
        )
    )
    matches = (
        occ.select(F.explode(pair_expr).alias("m"))
        .select(
            F.col("m.id_a").alias("id_a"),
            F.col("m.id_b").alias("id_b"),
            F.col("m.pos_a").alias("pos_a"),
            F.col("m.pos_b").alias("pos_b"),
        )
        .select(
            "id_a",
            "id_b",
            "pos_a",
            "pos_b",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    wd = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    islands = matches.withColumn(
        "island", F.col("pos_a") - F.row_number().over(wd)
    )
    spans = (
        islands.groupBy("id_a", "id_b", "diag", "island")
        .agg((F.max("pos_a") - F.min("pos_a") + F.lit(k)).alias("span_tokens"))
        .where(F.col("span_tokens") >= F.lit(int(min_span)))
    )
    return spans.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("int").alias("n_spans"),
        F.max("span_tokens").cast("int").alias("max_span_tokens"),
    )


def excise_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    L: int = 50,
    hash_grams: bool = False,
    keep: str = "all",
) -> DataFrame:
    """Corpus-level exact-substring REMOVAL — the ExactSubstr dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), re-expressed as distributed window counting instead of a
    suffix array: cut every token position covered by an ``L``-token
    window whose exact text occurs >= 2 times corpus-wide (including
    repeats WITHIN one document). The covered-position union equals the
    union of all maximal duplicated substrings of length >= L — every
    L-window inside a duplicated substring is itself duplicated, and a
    duplicated L-window IS a duplicated substring — so the cut is exact,
    not approximate. Like the released suffix-array tool, ALL
    occurrences are removed (no canonical copy survives); the paper
    accepts the possibly-ungrammatical seams for the memorization win.

    Returns one row per input document:
    ``(id, n_tokens, n_removed, text_clean)`` where ``text_clean`` is
    the surviving tokens rejoined by single spaces (whitespace is
    normalized as a side effect, matching the tokenizer) — empty string
    when the whole document was duplicated text.

    Shape & scale (vs. the paper's single-node suffix array, which
    needs the whole corpus in one address space):

    * gram construction is MAP-ONLY — ``transform(sequence(...))`` over
      the token array, no per-doc window shuffle — and (round 10) emits
      only a 64-bit ``xxhash64`` of each window's token slice: NO gram
      string is ever built or shuffled for the corpus at large;
    * the only corpus-sized shuffle keys on that hash (count >= 2 with
      map-side combine, then a semi-join back) — O(total tokens)
      narrow rows, never all-pairs and never L-token strings (which
      at L=50 would dominate shuffle bytes ~25x);
    * hash hits are CHURN-sized candidates; their exact gram strings
      are re-derived (one churn-sized join back to the token arrays)
      and re-counted by STRING, which removes any hash-collision false
      positives — the default path stays bit-exact for every input
      while paying string costs only on candidates;
    * covered positions explode only DUPLICATED windows (churn-sized,
      L rows each) and reduce to one position-set per AFFECTED doc;
    * the rebuild is a left join of the token arrays against that
      churn-sized side + map-only ``array_except`` HOFs — unaffected
      docs pass through with a NULL set, touching no shuffle (see
      ``_excise_rebuild``).

    ``hash_grams=True`` skips the exact confirm pass and trusts the
    64-bit hash outright; under ``keep="all"`` a collision can
    only over-remove one window (probability ~n²/2⁶⁴). Under
    ``keep="first"`` the symptom differs: a collision merges two
    distinct grams' occurrence lists, so the min-``(id, start)``
    canonical can FLIP — a genuinely duplicated window's true first
    copy may be cut while the colliding unique window survives as the
    merged group's canonical (same negligible probability, but a
    removed-canonical rather than one extra removal). Tests pin both
    key paths identical on the fixture. Default False = bit-exact,
    what the oracle verifies.

    ``keep="first"`` switches from redaction to DEDUP semantics: each
    duplicated window's canonical occurrence — min ``(id, start)``, so
    the lowest-id document always wins every gram it holds — survives,
    and only the OTHER occurrences are cut. A span shared by docs A < B
    therefore stays whole in A and is removed from B, and a within-doc
    repeat keeps its first copy; corpus token mass loses only the
    redundant copies. Same one gram-keyed aggregate (min-by instead of
    count) + an occurrence≠canonical filter; default ``keep="all"`` is
    the paper tool's remove-every-copy behavior.
    """
    if keep not in ("all", "first"):
        raise ValueError(f"keep must be 'all' or 'first', got {keep!r}")
    toks = _excise_tokens(df, id_col, text_col)
    grams_h = _excise_gram_hashes(toks, L)
    if hash_grams:
        # documented hashed-key semantics: count + canonical per 64-bit
        # window hash, no string pass at all
        counted = grams_h.groupBy("h").agg(
            F.count(F.lit(1)).alias("_c"),
            F.min(F.struct("id", "start")).alias("_canon"),
        ).where(F.col("_c") >= 2)
        bad = grams_h.join(counted, "h")
        if keep == "first":
            bad = bad.where(
                (F.col("id") != F.col("_canon.id"))
                | (F.col("start") != F.col("_canon.start"))
            )
        return _excise_rebuild(toks, bad.select("id", "start"), L)
    # BIT-EXACT two-phase plan (round 10, guide §2.3/§8: decide with
    # small rows). Phase 1 — count 64-bit window hashes, never strings:
    # the corpus-sized exchange carries (h, partial count) after
    # map-side combine instead of ~8·L-byte gram strings (the old plan
    # shuffled the strings TWICE: groupBy + self-join). Phase 2 —
    # candidates (all occurrences of any window whose HASH repeats; a
    # superset of true duplicates) are churn-sized, so re-deriving
    # their exact gram strings and re-counting by STRING costs O(churn)
    # and removes hash-collision false positives: results are
    # bit-identical to the old string-keyed plan for every input, and
    # keep="first" canonicals are picked on exact string groups (no
    # collision-flip caveat).
    hot = (
        grams_h.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_hc"))
        .where(F.col("_hc") >= 2)
        .select("h")
    )
    # churn-sized: pin it so the string-confirm subtree below (read by
    # both the exact count and the occurrence join) does not re-derive
    # the corpus-sized hash pass twice
    cand = (
        grams_h.join(hot, "h")
        .groupBy("id")
        .agg(F.collect_list("start").alias("_starts"))
        .localCheckpoint()
    )
    cgram_expr = (
        f"transform(_starts, s -> struct(s AS start, "
        f"array_join(slice(t, s + 1, {int(L)}), ' ') AS gram))"
    )
    cgrams = (
        toks.join(cand, "id")
        .select("id", F.explode(F.expr(cgram_expr)).alias("g"))
        .select("id", F.col("g.start").alias("start"), F.col("g.gram").alias("gram"))
    )
    counted = cgrams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("_c"),
        F.min(F.struct("id", "start")).alias("_canon"),
    ).where(F.col("_c") >= 2)
    bad = cgrams.join(counted, "gram")
    if keep == "first":
        bad = bad.where(
            (F.col("id") != F.col("_canon.id"))
            | (F.col("start") != F.col("_canon.start"))
        )
    return _excise_rebuild(toks, bad.select("id", "start"), L)


def _excise_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token array), materialized ONCE behind a repartition
    barrier: the gram-hash pass, the candidate string re-derivation and
    the rebuild all hang off the same exchange (ReusedExchange), instead
    of re-running the regex split per consumer — and the barrier stops
    projection collapse from inlining the split into downstream HOF
    lambdas (the measured per-element re-evaluation pathology)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("t"),
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)


def _excise_gram_hashes(toks: DataFrame, L: int) -> DataFrame:
    """(id, start, h) for every L-token window — map-only HOFs; h is
    xxhash64 over the token-array slice (no gram string is built)."""
    gram_expr = (
        f"transform(sequence(0, size(t) - {int(L)}), "
        f"i -> struct(i AS start, xxhash64(slice(t, i + 1, {int(L)})) AS h))"
    )
    return (
        toks.where(F.size("t") >= int(L))
        .select("id", F.explode(F.expr(gram_expr)).alias("g"))
        .select("id", F.col("g.start").alias("start"), F.col("g.h").alias("h"))
    )


def _excise_rebuild(toks: DataFrame, bad: DataFrame, L: int) -> DataFrame:
    """Cut positions covered by the flagged windows ``bad`` (id, start)
    and rebuild text — shared tail of the excision operators.

    CHURN-SIZED, not corpus-sized: only flagged windows explode into
    covered positions and only AFFECTED docs carry a covered-position
    set through the one groupBy; the rebuild itself is a left join of
    the token arrays against that (churn-sized, AQE-broadcastable) side
    followed by map-only JVM HOFs — ``array_except`` over the position
    range (hash-set, O(n_tok + n_cov)) picks survivors in order, and
    unaffected docs pass through with ``cov = NULL`` touching no
    shuffle. (The first cut of this operator posexploded EVERY token of
    EVERY doc through an (id, pos) anti-join and re-assembled with a
    corpus-wide collect_list groupBy — two corpus-sized exchanges the
    churn never justified.)"""
    covered = (
        bad.select(
            "id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(int(L) - 1))
            ).alias("pos"),
        )
        .groupBy("id")
        .agg(F.collect_set("pos").alias("cov"))
    )
    kept_pos = F.array_except(
        F.sequence(F.lit(0), F.size("t") - 1), F.coalesce("cov", F.array())
    )
    return toks.join(covered, "id", "left").select(
        "id",
        F.size("t").cast("long").alias("n_tokens"),
        F.coalesce(F.size("cov"), F.lit(0)).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(kept_pos, lambda p: F.element_at("t", p + 1)), " "
        ).alias("text_clean"),
    )


def excise_contaminated_spans(
    df: DataFrame,
    bench_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bench_text_col: str | None = None,
    L: int = 13,
    hash_grams: bool = False,
) -> DataFrame:
    """Span-level TEST-SET DECONTAMINATION: cut from every training
    document each token position covered by an ``L``-token window that
    appears verbatim anywhere in ``bench_df`` (the benchmark/eval
    corpus) — the surgical alternative to ``decontamination_flags``,
    which can only drop whole documents. L=13 follows the GPT-3/PaLM
    appendix convention for n-gram contamination checks; the covered
    union equals all shared substrings of length >= L exactly (same
    argument as ``excise_duplicate_spans``).

    Returns ``(id, n_tokens, n_removed, text_clean)`` for every row of
    ``df`` — ``n_removed = 0`` rows pass through with whitespace
    normalized, fully-contaminated docs come back empty (drop or route
    them with a ``where``).

    Shape: benchmark window HASHES are DISTINCT'd (the benchmark is the
    small side by construction — semi-join keys, broadcast by AQE when
    it fits) and probe the corpus' hash-only gram pass, so the corpus
    side never builds gram strings or shuffles them; the hash-hit
    candidates are churn-sized, and (round 10, unless ``hash_grams``)
    their exact gram strings are re-derived and confirmed against the
    benchmark's STRING windows before the rebuild — bit-identical to a
    string-keyed semi-join for every input, at hash-probe cost.
    """
    toks = _excise_tokens(df, id_col, text_col)
    grams_h = _excise_gram_hashes(toks, L)
    bench_t = bench_df.select(
        F.split(
            F.trim(F.lower(F.col(bench_text_col or text_col))), r"\s+"
        ).alias("t")
    )
    bhash_expr = (
        f"transform(sequence(0, size(t) - {int(L)}), "
        f"i -> xxhash64(slice(t, i + 1, {int(L)})))"
    )
    bench_h = (
        bench_t.where(F.size("t") >= int(L))
        .select(F.explode(F.expr(bhash_expr)).alias("h"))
        .distinct()
    )
    if hash_grams:
        return _excise_rebuild(toks, grams_h.join(bench_h, "h"), L)
    # churn-sized; pinned for the same two-consumer reason as in
    # excise_duplicate_spans
    cand = (
        grams_h.join(bench_h, "h")
        .groupBy("id")
        .agg(F.collect_list("start").alias("_starts"))
        .localCheckpoint()
    )
    cgram_expr = (
        f"transform(_starts, s -> struct(s AS start, "
        f"array_join(slice(t, s + 1, {int(L)}), ' ') AS gram))"
    )
    cgrams = (
        toks.join(cand, "id")
        .select("id", F.explode(F.expr(cgram_expr)).alias("g"))
        .select("id", F.col("g.start").alias("start"), F.col("g.gram").alias("gram"))
    )
    bgram_expr = (
        f"transform(sequence(0, size(t) - {int(L)}), "
        f"i -> array_join(slice(t, i + 1, {int(L)}), ' '))"
    )
    bench_grams = (
        bench_t.where(F.size("t") >= int(L))
        .select(F.explode(F.expr(bgram_expr)).alias("gram"))
        .distinct()
    )
    return _excise_rebuild(toks, cgrams.join(bench_grams, "gram"), L)


def edit_distance_near_dups(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_col: str | Column,
    *,
    max_dist: int = 3,
    keep_candidates: bool = False,
) -> DataFrame:
    """Fuzzy matching for SHORT fields (product names, titles, author
    strings) by Levenshtein distance with blocking — the classic record-
    linkage shape: an equi-join on a cheap blocking key bounds the
    candidate mass, a length prefilter (``|len_a - len_b| <= d`` is a
    lower bound on edit distance) prunes before the O(len^2) distance,
    and only then does Levenshtein run on survivors.

    Returns ``(id_a, id_b, block, dist)`` pairs with ``id_a < id_b`` and
    ``dist <= max_dist`` (``keep_candidates=True`` skips the final
    distance filter — every length-surviving candidate is returned with
    its distance, for candidate-mass accounting). All JVM-side (``F.levenshtein`` codegen); the
    join is a plain shuffled equi-join on the block key — at corpus
    scale candidate mass is Σ_b n_b², so the blocking key choice (not
    this operator) is the scale knob; AQE splits residual hot blocks.
    """
    b = F.col(block_col) if isinstance(block_col, str) else block_col
    side = df.select(
        F.col(id_col).alias("_id"), F.col(name_col).alias("_name"), b.alias("block")
    )
    a = side.select(
        F.col("_id").alias("id_a"), F.col("_name").alias("name_a"), "block"
    )
    c = side.select(
        F.col("_id").alias("id_b"), F.col("_name").alias("name_b"), "block"
    )
    return (
        a.join(c, "block")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.abs(F.length("name_a") - F.length("name_b")) <= F.lit(int(max_dist))
        )
        .select(
            "id_a",
            "id_b",
            "block",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
        .where(F.lit(bool(keep_candidates)) | (F.col("dist") <= F.lit(int(max_dist))))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: ordered pairs ``(id_a, id_b)``
    where ``|A ∩ B| / |A| >= threshold`` on word-``n``-gram shingle
    sets — catches a snippet/quote/excerpt A embedded in a larger B,
    which symmetric Jaccard misses entirely (a 30-word excerpt of a
    500-word doc has Jaccard ≈ 0.06 but containment 1.0).

    Same postings-join shape as the classic Jaccard count path
    (shingle_sets → equi-join on shingle → pair-count): one exchange
    for shingles, one for the pair aggregation; only ``sz_a`` rides
    along (the denominator is the contained side alone). At scale the
    candidate mass is bounded
    by the shingle document-frequency distribution exactly as in
    ``_jaccard_pairs_count``; prefix filtering is NOT applicable on the
    contained side (a snippet keeps none of its rarest-shingle
    guarantees), so the skew defense is ``max_df``: shingles appearing
    in more than ``max_df`` docs are dropped from the postings join
    (stop-gram semantics, as in ``shared_span_pairs``) — candidate mass
    is then bounded by Σ df² ≤ max_df · |postings|. With ``max_df``
    set, containment is computed on the capped shingle sets on BOTH
    numerator and denominator, so the ratio semantics stay internally
    consistent (a snippet of only-ubiquitous shingles simply produces
    no candidates, which is the correct dedup outcome for boilerplate).

    Round-10 note: a single-pass groupBy(shingle) + group-local pair
    expansion (the shared_span_pairs round-10 shape) was measured
    SLOWER here (3.0 → 4.1 s warm at sf0.1, alternating A/B): the
    contained side's sets are near-distinct so the collect_list
    buffers, struct explode, and the extra size-rejoin cost more than
    the streamed postings self-join they replaced — kept as-is.
    """
    sh = shingle_sets(df, id_col, text_col, n=n)
    if max_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        sh = (
            sh.join(dfreq.where(F.col("_df") <= int(max_df)), "shingle")
            .drop("_df")
        )
        # sizes must reflect the CAPPED sets for a consistent ratio
        # (an explicit-N pin on this window's id exchange was A/B'd and
        # measured SLOWER — 3.3 → 3.7 s warm — the count-over-window is
        # cheap enough that the extra full-width exchange never pays)
        from pyspark.sql.window import Window

        sh = sh.select(
            "id", "shingle", F.count(F.lit(1)).over(Window.partitionBy("id")).alias("sz")
        )
    # EXPLICIT-N repartition on the join key (round 10): the postings
    # self-join EXPANDS — its output (candidate pairs, Σ df² mass) dwarfs
    # its input bytes, and AQE sizes post-shuffle partitions from INPUT
    # bytes only, so byte-based coalescing (parallelismFirst=false,
    # session.py) would serialize exactly the stage whose cost is
    # multiplicative. A user-specified partition count is exempt from
    # AQE coalescing, pinning the expansion's parallelism to the
    # cluster's cores; both self-join sides derive from this one
    # exchange, so the join itself adds none.
    n_par = df.sparkSession.sparkContext.defaultParallelism
    sh = sh.repartition(n_par, "shingle")
    a = sh.select(F.col("id").alias("id_a"), "shingle", F.col("sz").alias("sz_a"))
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") != F.col("id_b"))
        # second explicit-N pin: the pair AGGREGATION's exchange input is
        # the expanded candidate mass itself — a subset-key repartition
        # satisfies the groupBy's clustering, so this one pinned
        # exchange replaces the AQE-coalesced one rather than adding to
        # it, keeping the reduction parallel
        .repartition(n_par, "id_a", "id_b")
        .groupBy("id_a", "id_b", "sz_a")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn(
            "containment", F.col("inter").cast("double") / F.col("sz_a").cast("double")
        )
        .where(F.col("containment") >= F.lit(float(threshold)))
        .select("id_a", "id_b", F.round("containment", 6).alias("containment"))
    )


# -- shingle-index deletes (right-to-be-forgotten) ---------------------------
# The persisted postings index takes the same merge-on-read delete as
# every epoch_store index: tombstones append in O(|ids|), readers drop
# the rows they cover, compaction folds the log.
# Takedown/GDPR erasure over a continuously-ingested dedup corpus needs
# exactly this — rewriting a bucket-partitioned postings table per
# deletion request is O(corpus).


#: refold trigger: appends grow the fold's implied fpp (same bitmap,
#: more bits set); past this multiple of the build-time target the
#: prefilter is passing too many non-members to pay for itself
SHINGLE_BLOOM_FPP_DEGRADE = 8.0


def shingle_maintenance_report(index_dir: str, **kw) -> dict:
    """Compaction-cadence signal for the shingle-postings index
    (metadata-only — parquet footers + meta.json + the bloom sidecar's
    local byte files; no Spark job): dead/tombstone row fractions, live
    file count, bloom-prefilter health, ``should_compact`` + reasons.
    Run :func:`compact_shingle_index` when it fires.

    Bloom signals: ``fpp_estimate`` (saturation^k of the assembled
    filter) drifts up as appends outgrow the build-time sizing —
    compaction refolds at the current corpus size; ``prefilter_active``
    False means a sidecar hole (crash-degraded) has the flags path
    running full joins — also fixed by the refold."""
    import glob
    import os

    rep = epoch_store.maintenance_report(index_dir, "postings", "meta.json", **kw)
    meta = epoch_store.read_meta(index_dir)
    if not meta.get("bloom"):
        return rep
    n_partials = len(glob.glob(os.path.join(index_dir, "_bloom_gen*.bin")))
    bloom = load_shingle_bloom(index_dir, meta)
    if bloom is None:
        rep["bloom"] = {"prefilter_active": False, "n_partials": n_partials}
        rep["reasons"].append(
            "bloom prefilter inactive (missing or size-mismatched sidecar "
            "file) — compaction refolds it"
        )
        rep["should_compact"] = True
        return rep
    fpp = bloom.fpp_estimate
    rep["bloom"] = {
        "prefilter_active": True,
        "saturation": round(bloom.saturation, 4),
        "fpp_estimate": round(fpp, 6),
        "target_fpp": SHINGLE_BLOOM_FPP,
        "n_partials": n_partials,
    }
    if fpp > SHINGLE_BLOOM_FPP_DEGRADE * SHINGLE_BLOOM_FPP:
        rep["reasons"].append(
            f"bloom fpp_estimate {fpp:.4f} > "
            f"{SHINGLE_BLOOM_FPP_DEGRADE:g}x target {SHINGLE_BLOOM_FPP} — "
            "appends outgrew the fold; compaction resizes it"
        )
        rep["should_compact"] = True
    return rep


def delete_from_shingle_index(spark, index_dir: str, ids: list | DataFrame) -> int:
    """Tombstone doc ids out of the shingle index: their postings stop
    matching immediately (merge-on-read); no data rewrite. The delete
    commits like an append (``epoch_store.tombstone``): a compaction in
    flight refuses rather than undo it, and a later re-ingest of an id
    serves its new postings. Returns the tombstone count appended."""
    if isinstance(ids, DataFrame):
        id_df = ids.select(F.col(ids.columns[0]).cast("long").alias("id")).distinct()
    else:
        id_df = local_frame(spark, [(int(i),) for i in ids], "id long").distinct()
    n = id_df.count()
    with epoch_store.append(index_dir, "meta.json", "shingle") as txn:
        epoch_store.tombstone(txn, id_df)
        if txn.meta.get("bloom"):
            # a committed gen needs a bloom partial; a delete adds none
            epoch_store.atomic_write(_bloom_partial_path(index_dir, txn.gen), b"")
    return n


def compact_shingle_index(
    spark, index_dir: str, *, retention_sec: float = 0.0
) -> None:
    """Fold deletes into the data: rewrite live postings (bucket
    partitioning preserved) into a NEW epoch's directory and commit by
    one guarded epoch flip (``epoch_store.flip``) — a crash anywhere
    before the flip leaves readers on the old postings + tombstones,
    never on a half-swapped index, and an append or delete that commits
    meanwhile makes the compaction refuse instead of being lost. Stale
    epoch dirs are swept best-effort after the commit."""
    snap = epoch_store.snapshot(index_dir)
    meta = dict(snap.meta)
    new_dir = epoch_store.data_dir(index_dir, "postings", snap.epoch + 1)
    # hash-cluster by bucket so each bucket folds to ONE file — the fold
    # exists to cut MOR file-count amplification, so it must not
    # re-fragment (see ivf_compact). Overwrite: a crashed attempt's
    # partial staged dir must not wedge the retry
    epoch_store.live_rows(spark, snap, "postings", _KEY).repartition(
        F.col("bucket")
    ).write.mode("overwrite").partitionBy("bucket").parquet(new_dir)
    # every surviving row passed the committed filter, so the orphan
    # exclusions are dead weight in the new epoch
    if meta.get("orphans"):
        meta["orphans"] = []
    # refold the bloom sidecar from the STAGED postings before the flip
    # (two Spark jobs — the commit lock's contract is milliseconds of
    # metadata work): resizes for the current corpus, drops tombstoned
    # docs' bits (false positives until now), retires every per-gen
    # partial. If the flip then refuses, the deleted partials leave
    # load_shingle_bloom returning None — prefilter off, results still
    # exact, maintenance report asks for the re-run.
    if meta.get("bloom"):
        survivors = spark.read.parquet(new_dir).select("shingle").distinct()
        meta = _write_shingle_bloom_fold(index_dir, survivors, meta, meta.get("gen", 0))
    epoch_store.flip(
        snap,
        meta,
        names=["postings"],
        label="shingle",
        action="compaction",
        retention_sec=retention_sec,
    )


def forget_docs(
    spark,
    ids: list,
    *,
    shingle_index_dir: str | None = None,
    search_index_dir: str | None = None,
    ivf_index_dir: str | None = None,
    ivf_pq_index_dir: str | None = None,
) -> dict:
    """Right-to-be-forgotten across the serving indexes: tombstone the
    ids out of the persisted shingle-postings index and/or the versioned
    search index in one call — each an O(|ids|) log append, no corpus
    rewrite, effective for every subsequent query/ingest. Compaction
    (per index) later folds the tombstones into the data files.

    The corpus parquet itself is the caller's storage layer (rewrite it
    with an anti-join on its own retention schedule); what must be
    IMMEDIATE is that no query or dedup decision keeps using the
    forgotten docs — which is what this guarantees."""
    # count distinct ids WITHOUT coercing to int: the search index keys
    # docs by string unique_id, so non-numeric ids are legal whenever
    # only search_index_dir is set (the long-keyed shingle/IVF indexes
    # coerce inside their own delete_* and fail loudly there if needed)
    out: dict = {"n_ids": len(set(str(i) for i in ids))}
    if shingle_index_dir is not None:
        out["shingle_tombstoned"] = delete_from_shingle_index(
            spark, shingle_index_dir, ids
        )
    if search_index_dir is not None:
        from ariadne_dbt_spark.operators.search_index import (
            delete_from_search_index,
        )

        meta = delete_from_search_index(spark, search_index_dir, ids)
        out["search_index_gen"] = meta["gen"]
        out["search_index_n_docs"] = meta["n_docs"]
    from ariadne_dbt_spark.operators.similarity import ivf_delete

    # ivf_delete serves both IVF codecs (one tombstone contract)
    if ivf_index_dir is not None:
        out["ivf_tombstoned"] = ivf_delete(spark, ivf_index_dir, ids)
    if ivf_pq_index_dir is not None:
        out["ivf_pq_tombstoned"] = ivf_delete(spark, ivf_pq_index_dir, ids)
    return out
