"""Similarity search over embedding columns (north-star scale extension).

Two tiers:

* brute-force cosine top-k — the exactness baseline: one broadcast of the
  query vector, a JVM-side fold (zip_with + aggregate) for the dot
  product, orderBy/limit for top-k. At scale this is a full scan but
  embarrassingly parallel.
* random-hyperplane LSH buckets — the scale path: H deterministic
  hyperplanes → H-bit signature → candidates share a bucket (optionally
  multi-probe); brute-force re-rank inside buckets only.

Embeddings are array<float>; all math is cast to double for stable,
engine-agnostic arithmetic.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ariadne_dbt_spark.operators import epoch_store
from ariadne_dbt_spark.session import local_frame


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


#: measured crossover on local[32], 64k vectors: the JVM aggregate fold
#: wins through dim 256 (0.50 s vs 0.53 s) but loses by dim 512
#: (0.80 s vs 0.61 s) to an Arrow-batched numpy matmul, and by 2.3× at
#: dim 1024 — higher-order-function folds cost per element while BLAS
#: amortizes. Realistic text-embedding dims (768/1024/1536+) sit on the
#: Arrow side; the synthetic gate corpus (dim 64) stays JVM, keeping
#: oracle arithmetic bit-identical.
_ARROW_COSINE_MIN_DIM = 384


def _cosine_scores(
    embeddings: DataFrame, query_vec: list[float], id_col: str, vec_col: str
) -> DataFrame:
    """``(vec_id, cos_sim)`` for every row — JVM fold below
    ``_ARROW_COSINE_MIN_DIM``, vectorized Arrow/numpy matmul above."""
    if len(query_vec) < _ARROW_COSINE_MIN_DIM:
        q = F.array(*[F.lit(float(x)) for x in query_vec])
        return embeddings.select(
            F.col(id_col).alias("vec_id"),
            cosine_similarity(F.col(vec_col), q).alias("cos_sim"),
        )
    # postponed type hints ("pd.Series") resolve against module globals
    # — same registration trick as functions/porter.stem_array_udf
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    globals()["pd"] = pd

    qa = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(qa))

    @pandas_udf("double")
    def _cos(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype(np.float64)
        return pd.Series((m @ qa) / (np.linalg.norm(m, axis=1) * qn))

    return embeddings.select(
        F.col(id_col).alias("vec_id"), _cos(F.col(vec_col)).alias("cos_sim")
    )


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    exclude_self: int | None = None,
) -> DataFrame:
    """Exact cosine top-k for one query vector: ``(vec_id, cos_sim)``.
    Scoring dispatches on dimension (see ``_ARROW_COSINE_MIN_DIM``)."""
    out = _cosine_scores(embeddings, query_vec, id_col, vec_col)
    if exclude_self is not None:
        out = out.where(F.col("vec_id") != exclude_self)
    return out.orderBy(F.desc("cos_sim"), "vec_id").limit(k)


def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random ±1 hyperplanes from a fixed LCG —
    reproducible without RNG state."""
    planes = []
    x = 0x2545F4914F6CDD1D
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append(1.0 if (x >> 32) & 1 else -1.0)
        planes.append(row)
    return planes


#: auto-mode target per-band bucket occupancy (vectors per bucket)
_TARGET_BUCKET_DOCS = 32


def auto_lsh_params(
    n_rows: int, threshold: float, recall_target: float = 0.95
) -> tuple[int, int]:
    """Derive ``(bands, planes_per_band)`` from corpus size + cosine
    threshold so the banding scheme ADAPTS as the corpus grows instead
    of degrading.

    ``planes_per_band`` (r) is the density lever: expected per-band
    bucket occupancy is ~n/2^r, so ``r = log2(n / target_occupancy)``
    holds within-bucket candidate mass LINEAR in n (any fixed r decays
    toward n²/2^r as n grows — measured in SCALE.md: the pinned (4,8)
    sweep curve bends toward slope ~1.9 between 16k and 64k vectors).
    ``bands`` (b) then restores recall: a pair at angle θ shares one
    band's bucket with p^r where p = 1-θ/π, overall 1-(1-p^r)^b, so
    ``b = ceil(log(1-recall_target) / log(1-p^r))``.

    Caps: r ≤ 24, b ≤ 32. Past those (≳10⁹ vectors at tight recall on
    a low threshold) banded all-pairs LSH is the wrong tool — use
    ``ivf_build_index``/``batch_lsh_topk`` for retrieval-shaped access
    instead of materializing the full near-dup pair set in one job.
    """
    r = int(min(24, max(4, math.ceil(math.log2(max(n_rows, 2) / _TARGET_BUCKET_DOCS)))))
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    pr = p**r
    if pr >= 1.0 - 1e-12:
        b = 1  # θ=0: identical directions share every bucket
    else:
        b = int(
            min(
                32,
                max(
                    1,
                    math.ceil(
                        math.log(max(1.0 - recall_target, 1e-12))
                        / math.log(1.0 - pr)
                    ),
                ),
            )
        )
    return b, r


def lsh_bucket_signature(
    vec_col: Column, dim: int, *, n_planes: int = 16
) -> Column:
    """n_planes-bit signed-projection signature as a bigint bucket id.

    One array ``transform`` over a 2-D plane literal, folded to a long
    — NOT one inlined dot-product expression per plane, which grows the
    codegen projection quadratically with plane count (measured 20× on
    the banded path at 165 planes; see ``pairwise_near_duplicates``).
    Bit i (LSB-first) is plane i's sign, matching the driver-side
    signature in ``lsh_topk``.
    """
    bits = F.transform(
        _matrix_literal(_hyperplanes(dim, n_planes)),
        lambda p: F.when(_dot(vec_col, p) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    # LSB-first: bit i = bits[i] << i (order must stay stable — the
    # driver-side query signature in lsh_topk/batch_lsh_topk builds the
    # same layout). shiftleft only takes a literal shift, so fold the
    # REVERSED array accumulator-shift-style: acc<<1 | bit, first
    # plane's bit ending up lowest.
    return F.aggregate(
        F.reverse(bits),
        F.lit(0).cast("long"),
        lambda acc, x: F.shiftleft(acc, 1).bitwiseOR(x),
    )


def lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 12,
    min_candidates: int | None = None,
) -> DataFrame:
    """Approximate top-k with MULTI-PROBE widening: probe the query's
    bucket first, then whole Hamming-distance shells of neighboring
    buckets in increasing distance until the probed shells hold at least
    ``min_candidates`` vectors (default ``max(8*k, 128)``), then
    exact-cosine re-rank inside the probed set only.

    Never returns empty when the corpus is non-empty: in the worst case
    the probe radius widens to ``n_planes`` (= brute force). The
    widening decision collects a histogram of vector counts PER HAMMING
    DISTANCE from the query bucket — at most ``n_planes + 1`` rows,
    independent of corpus size and bucket count (an earlier per-bucket
    histogram collected up to 2^n_planes rows and filtered with a
    bucket-id literal list, both of which stop scaling once the plane
    count grows) — and the probe filter is one scalar
    ``bit_count(bucket XOR query_bucket) <= radius`` predicate.
    """
    dim = len(query_vec)
    target = min_candidates if min_candidates is not None else max(8 * k, 128)
    # the query's own signature needs no Spark job: same deterministic
    # hyperplanes, plain-Python dot products (sign convention matches
    # lsh_bucket_signature's `>= 0` exactly)
    bucket = 0
    for i, plane in enumerate(_hyperplanes(dim, n_planes)):
        if sum(float(x) * p for x, p in zip(query_vec, plane)) >= 0:
            bucket |= 1 << i
    sigged = embeddings.withColumn(
        "_b", lsh_bucket_signature(F.col(vec_col), dim, n_planes=n_planes)
    )
    hdist = F.bit_count(F.col("_b").bitwiseXOR(F.lit(bucket)))
    # ≤ n_planes+1 rows regardless of corpus/bucket count
    shell = {
        r["d"]: r["cnt"]
        for r in sigged.groupBy(hdist.alias("d"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    total, radius = 0, n_planes
    for d in range(n_planes + 1):
        total += shell.get(d, 0)
        if total >= target:
            radius = d
            break
    cand = sigged.where(hdist <= radius)
    return brute_force_topk(cand, query_vec, id_col=id_col, vec_col=vec_col, k=k)


def _matrix_literal(matrix: list[list[float]]) -> Column:
    """Literal array<array<double>> of a small driver-side matrix
    (centroids, hyperplanes, a PQ lookup table), assembled as ONE SQL
    expression: the element-wise ``F.lit`` shape paid rows×cols py4j
    round-trips of pure driver time per call (round 11 — ~0.5 s at 8×64
    centroids before any job ran). ``repr`` round-trips doubles exactly,
    so the parsed literal is bit-identical. Non-finite values (a
    centroid trained over corrupt embeddings) have no SQL double literal
    form — fall back to the element-wise construction for correctness
    there."""
    if not all(math.isfinite(float(v)) for row in matrix for v in row):
        return F.array(*[F.array(*[F.lit(float(v)) for v in row]) for row in matrix])
    rows = ",".join(
        "array({})".format(",".join(f"{float(v)!r}D" for v in row)) for row in matrix
    )
    return F.expr(f"array({rows})")


def _nearest_centroid(vec_col: Column, centroids: list[list[float]]) -> Column:
    """``struct<d, i>`` of the nearest centroid (squared L2 distance +
    index, ties to the lowest index). Distances come from ONE array
    ``transform`` over a 2-D centroid literal — not one inlined
    aggregate expression per centroid, which grows the codegen
    projection superlinearly with centroid count (the same measured
    trap as the LSH signatures: 13.5 s vs 0.7 s at 165 expressions;
    classic PQ uses k=256 sub-centroids, firmly in that regime).
    ``array_position`` returns the FIRST index holding the minimum —
    the same value the min came from, so the comparison is bit-exact
    and ties break to the lowest index, matching the old shape."""
    dists = F.transform(
        _matrix_literal(centroids),
        lambda c: F.aggregate(
            F.zip_with(
                vec_col, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    d = F.array_min(dists)
    return F.struct(
        d.alias("d"), (F.array_position(dists, d) - 1).cast("int").alias("i")
    )


def _assign_col(vec_col: Column, centroids: list[list[float]]) -> Column:
    """Index of the nearest centroid (see :func:`_nearest_centroid`)."""
    return _nearest_centroid(vec_col, centroids).getField("i")


def ivf_train_centroids(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    iters: int = 3,
    train_mod: int = 1,
) -> list[list[float]]:
    """Deterministic Lloyd k-means returning driver-side centroids.

    * init: the ``n_centroids`` rows with the smallest ``xxhash64(id)``
      (pseudo-random but reproducible — no RNG state);
    * assign: map-only nearest-centroid expression (broadcast literals);
    * update: per-dimension mean via ``posexplode`` → groupBy(cid, pos)
      — one shuffle of n·dim skinny rows per iteration; empty clusters
      keep their previous centroid.

    At 100 TB, train on a hash-sample (``train_mod`` keeps every row with
    ``xxhash64(id) % train_mod == 0``) — centroid quality needs only a
    sample, while assignment stays a full map-only pass.
    """
    emb = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if train_mod > 1:
        emb = emb.where(F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(train_mod)) == 0)
    emb = emb.cache()
    init = (
        emb.orderBy(F.xxhash64(F.col("id").cast("string")), "id")
        .limit(n_centroids)
        .collect()
    )
    centroids = [[float(x) for x in r["v"]] for r in init]
    for _ in range(iters):
        assigned = emb.select(_assign_col(F.col("v"), centroids).alias("cid"), "v")
        means = (
            assigned.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
        centroids = [
            [by_cid[i][p] for p in range(len(centroids[i]))] if i in by_cid else centroids[i]
            for i in range(len(centroids))
        ]
    emb.unpersist()
    return centroids


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 3,
    iters: int = 3,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: partition the corpus into ``n_centroids``
    Voronoi cells (trained once, reusable via ``centroids``), probe the
    ``nprobe`` cells nearest the query, exact-cosine re-rank inside the
    probed cells only.

    The scale shape: training is sample-able, assignment is map-only
    (broadcast centroid literals), and the probe filter prunes
    (1 - nprobe/n_centroids) of the corpus before any ranking work —
    with cell-partitioned storage the pruned cells are never read.
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            embeddings, id_col=id_col, vec_col=vec_col, n_centroids=n_centroids, iters=iters
        )

    probe = _probe_cells(query_vec, centroids, nprobe)
    cand = embeddings.where(_assign_col(F.col(vec_col), centroids).isin(probe))
    return brute_force_topk(cand, query_vec, id_col=id_col, vec_col=vec_col, k=k)


def pairwise_near_duplicates(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bands: int | None = None,
    planes_per_band: int | None = None,
    recall_target: float = 0.95,
    dim: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via MULTI-BAND random-hyperplane
    LSH blocking + exact re-rank: ``(id_a, id_b, cos_sim)`` with
    id_a < id_b, cos ≥ threshold. Pass ``dim=`` (the vector dimension)
    on serving paths to skip the one-row probe job that otherwise
    learns it from the data.

    ``bands``/``planes_per_band`` default to AUTO: when either is None
    both are derived by :func:`auto_lsh_params` from the corpus row
    count (a ``count()`` job unless ``n_rows=`` is passed), the
    threshold, and ``recall_target`` — band width grows with log(n) to
    hold bucket occupancy constant, band count with the collision
    formula to hold recall. Pin both explicitly to freeze a config
    (every oracle-checked workload does, for reproducible truth sets).

    Blocking is banded exactly like the MinHash path (dedup.py
    ``minhash_lsh_candidates``): ``bands`` independent sets of
    ``planes_per_band`` hyperplanes each → one (band, bucket) row per
    vector per band → candidates are pairs sharing ANY band's bucket.
    A pair at angle θ collides in one band with p = (1-θ/π)^r and
    overall with 1-(1-p^r)^b, so ``planes_per_band`` (r) keeps each
    band's buckets small — within-band candidate mass is Σ n_b²/2 over
    bucket occupancies n_b, shrinking geometrically in r — while
    ``bands`` (b) amplifies recall back toward 1 for genuinely-close
    pairs. A single fixed-width table (the old shape) degraded toward
    n²/2^planes as the corpus grew; with banding, r scales with corpus
    density and b with the recall target, independently.

    Shuffle discipline: vectors do NOT ride through the bucket join —
    only (id, band, bucket) rows shuffle; pairs are deduped across
    bands, then the two skinny id-joins rehydrate vectors for the exact
    cosine verification, whose cost is proportional to real candidate
    mass. AQE splits residual hot buckets.
    """
    if bands is None or planes_per_band is None:
        if n_rows is None:
            n_rows = embeddings.count()
        bands, planes_per_band = auto_lsh_params(n_rows, threshold, recall_target)
    if dim is None:
        first = embeddings.select(vec_col).first()
        dim = len(first[vec_col])
    planes = _hyperplanes(dim, bands * planes_per_band)
    emb = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    # all b×r sign bits in ONE array pass (transform over a 2-D plane
    # literal), then each band's bucket folds its slice of the bits
    # array. Inlining one F.aggregate dot per plane instead (the old
    # shape) blows the codegen projection up quadratically with plane
    # count — measured 13.5 s vs 0.7 s for the bucketing stage at 165
    # planes × 64k vectors — which is exactly the regime auto-tuned
    # (b, r) runs in.
    # the plane literal and the per-band structs are assembled as SQL
    # strings and parsed by ONE F.expr each (round 11): the Column-API
    # shape issued bands×r×dim F.lit py4j round-trips for the plane
    # matrix alone — measured ~0.8 s of pure driver construction per
    # call, 3x the row's warm execution (see _matrix_literal).
    bits = F.transform(
        _matrix_literal(planes),
        lambda p: F.when(_dot(F.col("v"), p) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    r = planes_per_band
    structs_sql = ",".join(
        f"struct({bi} AS band, aggregate(slice(_bits, {bi * r + 1}, {r}), 0L, "
        f"(acc, x) -> shiftleft(acc, 1) | x) AS bucket)"
        for bi in range(bands)
    )
    banded = (
        emb.select("id", bits.alias("_bits"))
        .select("id", F.expr(f"explode(array({structs_sql}))").alias("bb"))
        .select("id", "bb.band", "bb.bucket")
    )
    a = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    pa = cand.join(emb.select(F.col("id").alias("id_a"), F.col("v").alias("v_a")), "id_a")
    return (
        pa.join(emb.select(F.col("id").alias("id_b"), F.col("v").alias("v_b")), "id_b")
        .withColumn("cos_sim", cosine_similarity(F.col("v_a"), F.col("v_b")))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


def topk_per_query(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    exclude_self: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Batch exact top-k: for EVERY query row, the k nearest corpus
    vectors by cosine — ``(query_id, vec_id, cos_sim, rank)``. Pass
    ``dim=`` on serving paths to skip the one-row probe job that
    otherwise decides the scoring dispatch.

    Production retrieval scores query BATCHES, not one vector at a time
    (the single-query functions re-scan the corpus per call). Shape: the
    query set is the broadcast side of a nested-loop join (at 100 TB the
    corpus scan happens ONCE for the whole batch), cosine is the same
    JVM fold as the single-query path, and per-query top-k is a
    ``row_number`` window over ``query_id`` — partial ranks prune in the
    shuffle via the window group-limit optimization, so only ~k rows per
    (query, partition) survive the exchange, never the full score
    matrix. ``exclude_self`` drops corpus rows whose id equals the
    query id (self-retrieval, for corpus-vs-itself joins).

    Above ``_ARROW_COSINE_MIN_DIM`` the join+fold is replaced by a
    ``mapInPandas`` stage holding the (already broadcast-sized) query
    matrix as a closure: each Arrow batch of corpus vectors scores
    against ALL queries in one BLAS matrix-matrix multiply — the same
    measured crossover as the single-query path, amplified by the
    batch width. The window top-k downstream is identical.
    """
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("_qv")
    )
    c = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv"))
    if dim is None:
        probe = q.first()
        dim = len(probe["_qv"]) if probe is not None else 0
    if dim >= _ARROW_COSINE_MIN_DIM:
        import numpy as np
        import pandas as pd

        q_rows = q.collect()  # broadcast-sized by contract
        qids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
        qm = np.stack([np.asarray(r["_qv"], dtype=np.float64) for r in q_rows])
        qn = np.linalg.norm(qm, axis=1)

        def score_batches(batches):
            for pdf in batches:
                m = np.stack(pdf["_cv"].to_numpy()).astype(np.float64)
                sims = (m @ qm.T) / (
                    np.linalg.norm(m, axis=1)[:, None] * qn[None, :]
                )
                n_c, n_q = sims.shape
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_q),
                        "query_id": np.tile(qids, n_c),
                        "cos_sim": sims.ravel(),
                    }
                )

        scored = c.mapInPandas(
            score_batches, "vec_id long, query_id long, cos_sim double"
        )
    else:
        scored = c.join(F.broadcast(q)).withColumn(
            "cos_sim", cosine_similarity(F.col("_cv"), F.col("_qv"))
        )
    if exclude_self:
        scored = scored.where(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "vec_id",
            F.round("cos_sim", 6).alias("cos_sim"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def batch_lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    n_planes: int = 8,
    radius: int = 1,
    dim: int | None = None,
    exact_fallback: bool = True,
    exclude_self: bool = False,
) -> DataFrame:
    """Batch ANN: LSH-bucketed top-k for EVERY query row —
    ``(query_id, vec_id, cos_sim, rank)``.

    The scale path for batch retrieval. ``topk_per_query`` (exact)
    scores the whole corpus against every query — one scan per batch,
    but cost = |corpus| × |batch| cosines. Here both sides get the same
    ``n_planes``-bit hyperplane signature; each query EXPLODES into its
    probe buckets — every signature within Hamming distance ``radius``
    of its own (Σ_{d≤radius} C(n_planes, d) masks, enumerated
    driver-side: pure integers, no data) — and candidates come from a
    bucket EQUI-join (shuffle-hash/SMJ on a long key; never a
    theta-join/BNLJ), so per-query cosine cost tracks bucket occupancy
    (~|corpus|·probes/2^n_planes), not corpus size.

    Queries whose probed shells return fewer than ``k`` rows fall back
    to the exact path — but only that residual subset re-scans the
    corpus (``exact_fallback=True``; the same totality guarantee the
    single-query multi-probe widening gives). At ``radius = n_planes``
    every bucket is probed and the result equals the exact batch path
    by construction — the convergence bound tests pin.
    """
    from pyspark.sql.window import Window

    if dim is None:
        dim = len(queries.select(query_vec_col).first()[query_vec_col])
    masks = [
        m for m in range(1 << n_planes) if bin(m).count("1") <= radius
    ]
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qv"),
    ).withColumn("_qb", lsh_bucket_signature(F.col("_qv"), dim, n_planes=n_planes))
    probes = q.select(
        "query_id",
        "_qv",
        F.explode(
            F.array(*[F.col("_qb").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("_b"),
    )
    c = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv")
    ).withColumn("_b", lsh_bucket_signature(F.col("_cv"), dim, n_planes=n_planes))
    scored = probes.join(c, "_b").withColumn(
        "cos_sim", cosine_similarity(F.col("_cv"), F.col("_qv"))
    )
    if exclude_self:
        scored = scored.where(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "vec_id")
    approx = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "vec_id",
            F.round("cos_sim", 6).alias("cos_sim"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )
    if not exact_fallback:
        return approx
    approx = approx.localCheckpoint(eager=True)  # consumed twice below
    counts = approx.groupBy("query_id").agg(F.count(F.lit(1)).alias("n"))
    short = [r["query_id"] for r in counts.where(F.col("n") < k).collect()]
    all_ids = {r["query_id"] for r in q.select("query_id").collect()}
    short += sorted(all_ids - {r["query_id"] for r in counts.collect()})
    if not short:
        return approx
    exact = topk_per_query(
        embeddings,
        queries.where(F.col(query_id_col).isin(short)),
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        k=k,
        exclude_self=exclude_self,
        dim=dim,  # known here — skip the fallback's dispatch probe
    )
    return approx.where(~F.col("query_id").isin(short)).unionByName(exact)


# ---------------------------------------------------------------------------
# Product quantization (PQ): compress vectors to m small codes so the
# candidate scan reads BYTES instead of floats. The scale story beyond
# IVF: at 100 TB of float32 embeddings, an m=8/k=256 code table is a
# 1/((dim*4)/8) fraction of the data (e.g. 32x smaller at dim=64), and
# asymmetric-distance (ADC) scoring replaces every per-pair dot product
# with m table lookups against a driver-built query lookup table.
# Reference scope analog: the engine's embedding columns stop at exact
# cosine (/root/reference/src/ariadne_dbt/schema.sql has no ANN layer);
# PQ is this repo's training-data-pipeline extension, composable with
# ivf_build_index (coarse cells) exactly like FAISS's IVF-PQ.
# ---------------------------------------------------------------------------


def pq_train(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    train_mod: int = 1,
    dim: int | None = None,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks: ``m`` codebooks of ``k`` centroids
    over dim/m-wide vector slices (deterministic Lloyd, like
    :func:`ivf_train_centroids`).

    All m subspaces train JOINTLY: vectors explode once into
    ``(sub, subvec)`` rows and every Lloyd iteration is ONE shuffle of
    n·dim skinny ``(sub, cid, pos, val)`` rows for all subspaces — not
    m independent trainings. ``train_mod`` hash-samples the training
    set the same way (codebook quality needs a sample, not the corpus).
    """
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[vec_col])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    emb = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if train_mod > 1:
        emb = emb.where(
            F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(train_mod)) == 0
        )
    sub = emb.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("sub"),
                        F.slice("v", j * d_sub + 1, d_sub).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("id", "s.sub", "s.sv")
    sub = sub.cache()
    try:
        seeds = (
            emb.orderBy(F.xxhash64(F.col("id").cast("string")), "id").limit(k).collect()
        )
        codebooks = [
            [[float(x) for x in r["v"][j * d_sub : (j + 1) * d_sub]] for r in seeds]
            for j in range(m)
        ]
        for _ in range(iters):
            # per-subspace nearest-centroid assignment, one map-only pass:
            # CASE over sub, each arm a k-way argmin on that codebook
            cid = None
            for j in range(m):
                arm = _assign_col(F.col("sv"), codebooks[j])
                cid = (
                    F.when(F.col("sub") == j, arm)
                    if cid is None
                    else cid.when(F.col("sub") == j, arm)
                )
            # cid in its OWN projection: combining a when(getField(..))
            # chain with posexplode in one select trips a Spark 4
            # analyzer bug (the Generate rewrite re-analyzes the when
            # arm and loses the struct field aliases → FIELD_NOT_FOUND)
            means = (
                sub.select("sub", cid.alias("cid"), "sv")
                .select("sub", "cid", F.posexplode("sv").alias("pos", "val"))
                .groupBy("sub", "cid", "pos")
                .agg(F.avg(F.col("val").cast("double")).alias("mu"))
                .collect()
            )
            by_key: dict[tuple[int, int], dict[int, float]] = {}
            for r in means:
                by_key.setdefault((r["sub"], r["cid"]), {})[r["pos"]] = r["mu"]
            codebooks = [
                [
                    [by_key[(j, c)][p] for p in range(d_sub)]
                    if (j, c) in by_key
                    else codebooks[j][c]
                    for c in range(k)
                ]
                for j in range(m)
            ]
    finally:
        sub.unpersist()
    return codebooks


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: list[str] | None = None,
) -> DataFrame:
    """Encode every vector as ``(vec_id, pq_codes array<int>)`` — for
    each subspace, the index of the nearest codebook centroid on that
    slice. Map-only: codebooks ride as literals (m·k·d_sub = k·dim
    doubles), no shuffle, no UDF; ties break to the lowest index.
    ``keep`` passes extra columns through (e.g. the IVF cell) so index
    builds stay one projection."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.array(
            *[
                _assign_col(F.slice(F.col(vec_col), j * d_sub + 1, d_sub), codebooks[j])
                .cast("int")
                for j in range(m)
            ]
        ).alias("pq_codes"),
        *[F.col(c) for c in (keep or [])],
    )


def pq_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    *,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    k: int = 10,
) -> DataFrame:
    """Approximate top-k by asymmetric distance (ADC): score every
    encoded row as ``sum_j lut[j][code_j]`` where the driver builds
    ``lut[j][c] = dot(query_slice_j, codebooks[j][c])`` — so the scan
    touches ONLY the m-byte-ish code column, never the float vectors,
    and the per-row cost is m array lookups + adds in the JVM. Returns
    ``(vec_id, adc_score)`` sorted desc, TakeOrdered top-k.

    Scores approximate the DOT PRODUCT of the raw vectors; for cosine
    semantics encode L2-normalized vectors and pass a normalized query
    (then adc_score ≈ cos). Quantization error is bounded by per-slice
    reconstruction error — lossless iff every subvector sits exactly on
    a codebook centroid (the oracle construction in
    workloads/suites.py exploits this)."""
    score = _adc_score_col(codebooks, query_vec, codes_col)
    return (
        codes.select(F.col(id_col).alias("vec_id"), score.alias("adc_score"))
        .orderBy(F.desc("adc_score"), "vec_id")
        .limit(k)
    )


def _adc_score_col(
    codebooks: list[list[list[float]]], query_vec: list[float], codes_col: str
) -> Column:
    """``Σ_j lut[j][code_j]`` with ``lut[j][c] = dot(query_slice_j,
    codebooks[j][c])`` — the lut is built driver-side (m·k doubles) and
    rides as a literal; per row the JVM does m lookups + adds."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    lut = [
        [
            sum(
                float(query_vec[j * d_sub + t]) * float(c[t]) for t in range(d_sub)
            )
            for c in codebooks[j]
        ]
        for j in range(m)
    ]
    return F.aggregate(
        F.zip_with(
            _matrix_literal(lut),
            F.col(codes_col),
            lambda row, c: F.element_at(row, c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# ---------------------------------------------------------------------------
# Persisted IVF index: ONE lifecycle, two payload codecs. Both layouts are
# cell-partitioned parquet (``cell=<i>/``) behind the epoch_store protocol
# — gen-tagged appends, tombstones, CAS-guarded epoch flips and a sweep —
# and differ only in what a cell row carries:
#
# * raw — ``vectors/`` of (vec_id, embedding) + ``stats.json`` (drift
#   stats); queries exact-cosine re-rank the probed cells;
# * PQ — ``codes/`` of (vec_id, pq_codes) + ``index_meta.json`` and the
#   ``pq_codebooks*.json`` artifact; queries ADC-score the codes (with the
#   per-cell shift when the codes quantize residuals).
#
# Both keep ``centroids*.json``. Append, delete, compact, retrain and the
# maintenance report read the codec from the index directory; build and
# query keep one entry point per codec (their parameters and output
# columns differ).
# ---------------------------------------------------------------------------


class _Codec(NamedTuple):
    data: str  # cell-partitioned parquet dir, resolved through the epoch
    meta: str  # gen record: the COMMIT POINT of an append
    artifacts: tuple[str, ...]  # ``<base>.json`` / ``<base>_ep<k>.json``
    label: str


_RAW = _Codec("vectors", "stats.json", ("centroids",), "IVF")
_PQ = _Codec("codes", "index_meta.json", ("centroids", "pq_codebooks"), "IVF-PQ")
_ARTIFACT_FILE = re.compile(r"(?:centroids|pq_codebooks)(?:_ep\d+)?\.json")
#: the tombstone key, as epoch_store.live_rows reads it
_KEY = "vec_id long"


def _codec(index_dir: str) -> _Codec:
    # every PQ build writes the epoch-0 codebooks file; no raw build does
    # (and a rebuild clears the other codec's files, see _build)
    return _PQ if os.path.exists(os.path.join(index_dir, "pq_codebooks.json")) else _RAW


def _epoch_json_path(index_dir: str, base: str, epoch: int) -> str:
    suffix = "" if epoch == 0 else f"_ep{epoch}"
    return os.path.join(index_dir, f"{base}{suffix}.json")


def _read_epoch_json(index_dir: str, base: str):
    """Epoch-resolved JSON artifact (round 8): a retrain writes
    ``<base>_ep<k>.json`` beside the new epoch's data and commits both
    with the one epoch-pointer flip, so queries can never pair new cell
    assignments with old centroids/codebooks (or vice versa). A
    compaction flips epochs WITHOUT retraining, so resolution takes the
    newest artifact file at-or-below the committed epoch."""
    epoch = epoch_store.read_epoch(index_dir)
    best, best_k = None, -1
    for p in glob.glob(os.path.join(index_dir, f"{base}*.json")):
        m = re.fullmatch(rf"{base}(?:_ep(\d+))?\.json", os.path.basename(p))
        if m is None:
            continue
        k = int(m.group(1) or 0)
        if best_k < k <= epoch:
            best, best_k = p, k
    if best is None:
        raise FileNotFoundError(f"no {base} file in {index_dir}")
    with open(best) as f:
        return json.load(f)


def _read_artifacts(index_dir: str, codec: _Codec) -> dict:
    return {base: _read_epoch_json(index_dir, base) for base in codec.artifacts}


def _probe_cells(query_vec: list[float], centroids: list, nprobe: int) -> list[int]:
    """The ``nprobe`` cells nearest the query (squared L2, ties to the
    lowest index), chosen driver-side from the tiny centroid list."""

    def d2(c: list[float]) -> float:
        return sum((float(x) - float(y)) ** 2 for x, y in zip(query_vec, c))

    return sorted(range(len(centroids)), key=lambda i: (d2(centroids[i]), i))[:nprobe]


def _raw_rows(
    vectors: DataFrame, centroids: list, id_col: str, vec_col: str, vec_type=None
) -> DataFrame:
    """The raw codec's cell rows ``(vec_id, embedding, cell, _dist)``:
    assignment is the same map-only broadcast-literal expression as
    ``ivf_topk``; ``_dist`` (distance to the assigned centroid) feeds
    the drift stats and is dropped before the write."""
    nearest = _nearest_centroid(F.col(vec_col), centroids)
    vec = F.col(vec_col) if vec_type is None else F.col(vec_col).cast(vec_type)
    return vectors.select(
        F.col(id_col).alias("vec_id"),
        vec.alias("embedding"),
        nearest.getField("i").alias("cell"),
        F.sqrt(nearest.getField("d")).alias("_dist"),
    )


def _pq_source(
    vectors: DataFrame, centroids: list, id_col: str, vec_col: str, residual: bool
) -> DataFrame:
    """``(vec_id, _v, cell)`` — what the PQ codec encodes: the vector,
    or with ``residual`` its shift ``x - centroid[cell]`` (the FAISS
    refinement: residuals concentrate near zero, so the same codebook
    budget reconstructs tighter)."""
    src = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_v"),
        _assign_col(F.col(vec_col), centroids).alias("cell"),
    )
    if not residual:
        return src
    cents = _matrix_literal(centroids)
    return src.withColumn(
        "_v",
        F.zip_with(
            F.col("_v"),
            F.element_at(cents, F.col("cell") + 1),
            lambda x, c: x.cast("double") - c,
        ),
    )


def _stage(rows: DataFrame, index_dir: str, codec: _Codec, epoch: int) -> None:
    """Write ``rows`` as ``epoch``'s cell-partitioned data, mode
    overwrite so a crashed attempt's partial leftover can't wedge the
    retry. A fold into a new epoch hash-clusters by cell first so each
    cell lands in ONE file — compaction exists to cut MOR file-count
    amplification and must not re-fragment (measured: 8.9k append files
    → 16 after the fold vs 373 with the default write partitioning; at
    100 TB a cell may need several files, which AQE's target-size split
    gives). A fresh build (epoch 0) writes as partitioned."""
    if epoch > 0:
        rows = rows.repartition(F.col("cell"))
    rows.write.mode("overwrite").partitionBy("cell").parquet(
        epoch_store.data_dir(index_dir, codec.data, epoch)
    )


def _train_stage(
    src: DataFrame,
    index_dir: str,
    codec: _Codec,
    epoch: int,
    prior: dict,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int,
    iters: int,
    train_mod: int,
    m: int = 8,
    k_sub: int = 16,
    dim: int | None = None,
    codebooks: list | None = None,
) -> tuple[dict, dict]:
    """Train centroids (and PQ codebooks unless given) over ``src``,
    stage the encoded layout as ``epoch``'s gen-0 data plus its
    artifacts, and return ``(artifacts, meta)`` — the fresh meta the
    caller commits. The PQ residual flag and the streaming replay
    markers (``stream_epochs``) carry over from ``prior``."""
    centroids = ivf_train_centroids(
        src, id_col=id_col, vec_col=vec_col,
        n_centroids=n_centroids, iters=iters, train_mod=train_mod,
    )
    if codec is _RAW:
        rows = _raw_rows(src, centroids, id_col, vec_col)
        artifacts = {"centroids": centroids}
    else:
        residual = bool(prior.get("residual", False))
        enc = _pq_source(src, centroids, id_col, vec_col, residual)
        if codebooks is None:
            codebooks = pq_train(
                enc, id_col="vec_id", vec_col="_v",
                m=m, k=k_sub, iters=iters, train_mod=train_mod, dim=dim,
            )
        # cell + codes in ONE map-only projection — no build-time join
        rows = pq_encode(enc, codebooks, id_col="vec_id", vec_col="_v", keep=["cell"])
        artifacts = {"centroids": centroids, "pq_codebooks": codebooks}
    _stage(
        rows.drop("_dist").withColumn("gen", F.lit(0).cast("bigint")),
        index_dir,
        codec,
        epoch,
    )
    for base, payload in artifacts.items():
        epoch_store.atomic_write_json(_epoch_json_path(index_dir, base, epoch), payload)
    if codec is _RAW:
        # fit quality of the new layout: the baseline the drift metric
        # compares appends against (one extra agg pass)
        fit = rows.agg(F.avg("_dist").alias("m"), F.count(F.lit(1)).alias("n")).first()
        meta = {
            "build_mean_dist": float(fit["m"] or 0.0),
            "mean_dist": float(fit["m"] or 0.0),
            "n_vectors": int(fit["n"]),
        }
    else:
        meta = {"residual": residual, "m": len(codebooks), "d_sub": len(codebooks[0][0])}
    meta.update(gen=0, orphans=[])
    if prior.get("stream_epochs"):
        meta["stream_epochs"] = prior["stream_epochs"]
    return artifacts, meta


def _build(embeddings: DataFrame, out_dir: str, codec: _Codec, prior: dict, **train) -> dict:
    """Rebuild-replaces: clear every prior epoch's data, tombstones and
    staging leftovers, and BOTH codecs' metas and artifacts — a rebuild
    must never inherit a tombstone that suppresses a re-indexed id, the
    other codec's meta (it names the codec), or a ``<base>_ep<k>.json``
    that would outrank the new artifacts once compactions walk the
    epoch back up to k — then train and write epoch 0."""
    os.makedirs(out_dir, exist_ok=True)
    epoch_store.clear_index(out_dir, [_RAW.data, _PQ.data])
    for name in os.listdir(out_dir):
        if name in (_RAW.meta, _PQ.meta) or _ARTIFACT_FILE.fullmatch(name):
            os.remove(os.path.join(out_dir, name))
    artifacts, meta = _train_stage(embeddings, out_dir, codec, 0, prior, **train)
    epoch_store.write_meta(out_dir, codec.meta, meta)
    return artifacts


def ivf_build_index(
    embeddings: DataFrame,
    out_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    iters: int = 3,
    train_mod: int = 1,
    stream_epoch: tuple[str, int] | None = None,
) -> list[list[float]]:
    """Persist a cell-partitioned IVF index with the raw codec: vectors
    written as parquet PARTITIONED BY their Voronoi cell (``cell=<i>/``
    directories), plus the trained centroids as JSON metadata and the
    build-time fit in ``stats.json``. Returns the centroids.

    This is what makes the IVF pruning claim physical: a query that
    probes ``nprobe`` of ``n_centroids`` cells compiles to a scan whose
    ``PartitionFilters`` prune the other directories — the unprobed
    (1 - nprobe/n_centroids) of the corpus is never READ, not merely
    never ranked (asserted on the executed plan in tests).

    A streaming first-batch build passes ``stream_epoch`` to record its
    micro-batch id in the same commit — a replay (crash between this
    commit and the streaming checkpoint) would otherwise take the APPEND
    path (stats.json now exists) and duplicate batch 0.
    """
    prior = {}
    if stream_epoch is not None:
        prior["stream_epochs"] = {str(stream_epoch[0]): int(stream_epoch[1])}
    return _build(
        embeddings,
        out_dir,
        _RAW,
        prior,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        iters=iters,
        train_mod=train_mod,
    )["centroids"]


def ivf_pq_build_index(
    embeddings: DataFrame,
    out_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    iters: int = 3,
    train_mod: int = 1,
    m: int = 8,
    k_sub: int = 16,
    dim: int | None = None,
    codebooks: list[list[list[float]]] | None = None,
    residual: bool = False,
) -> dict:
    """Persist an IVF-PQ index: coarse Voronoi cells like
    :func:`ivf_build_index`, but each cell partition stores ONLY
    ``(vec_id, pq_codes)`` — m small ints per vector, no float arrays.
    At 100 TB of float32 embeddings this makes the index a
    ``m*4 / (dim*4)``-ish fraction of the corpus (32× smaller at
    dim=64, m=8 with int8-range codes), so probing a cell reads bytes,
    not vectors; the floats stay in the source table and are touched
    only by the final skinny id-join re-rank in
    :func:`ivf_pq_query_index`.

    ``residual=True`` quantizes ``x - centroid[cell]`` instead of the
    raw vector (pinned tighter by the MSE test). Dot-product ADC needs
    NO per-cell tables for this: ``dot(q, centroid_c + recon) =
    dot(q, centroid_c) + Σ_j lut[j][code_j]`` — a driver-computed
    scalar bias per probed cell plus the one query-global table.

    Writes ``codes/`` (parquet, ``partitionBy(cell)``),
    ``centroids.json``, ``pq_codebooks.json`` and ``index_meta.json``.
    Returns ``{"centroids": ..., "codebooks": ...}``.
    """
    artifacts = _build(
        embeddings,
        out_dir,
        _PQ,
        {"residual": residual},
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        iters=iters,
        train_mod=train_mod,
        m=m,
        k_sub=k_sub,
        dim=dim,
        codebooks=codebooks,
    )
    return {"centroids": artifacts["centroids"], "codebooks": artifacts["pq_codebooks"]}


def ivf_query_index(
    spark,
    index_dir: str,
    query_vec: list[float],
    *,
    k: int = 10,
    nprobe: int = 3,
) -> DataFrame:
    """Serve one query from a persisted raw IVF index: pick the
    ``nprobe`` cells nearest the query from the (tiny) centroid
    metadata, scan ONLY those partitions, exact-cosine re-rank inside
    them — ``(vec_id, cos_sim)``."""
    probe = _probe_cells(query_vec, _read_epoch_json(index_dir, "centroids"), nprobe)
    snap = epoch_store.snapshot(index_dir, _RAW.meta)
    cand = epoch_store.live_rows(spark, snap, _RAW.data, _KEY, where=F.col("cell").isin(probe))
    return brute_force_topk(cand, query_vec, k=k)


def ivf_pq_query_index(
    spark,
    index_dir: str,
    query_vec: list[float],
    *,
    k: int = 10,
    nprobe: int = 3,
    refine: int = 4,
    embeddings: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve one query from a persisted IVF-PQ index.

    1. pick ``nprobe`` cells from the centroid metadata (driver-side);
    2. scan ONLY those code partitions (``cell IN (...)`` →
       PartitionFilters — same physical pruning as the raw index, but
       over the 32×-smaller code table);
    3. ADC-score the probed codes (m lookups/row) and keep the top
       ``refine * k`` by ADC;
    4. if ``embeddings`` is given, rehydrate ONLY those survivors'
       float vectors via a skinny id-join against the source table and
       exact-cosine re-rank to the final top-k (``(vec_id,
       cos_sim)``); otherwise return the ADC ranking (``(vec_id,
       adc_score)``).
    """
    artifacts = _read_artifacts(index_dir, _PQ)
    centroids, codebooks = artifacts["centroids"], artifacts["pq_codebooks"]
    probe = _probe_cells(query_vec, centroids, nprobe)
    snap = epoch_store.snapshot(index_dir, _PQ.meta)
    codes = epoch_store.live_rows(spark, snap, _PQ.data, _KEY, where=F.col("cell").isin(probe))
    score = _adc_score_col(codebooks, query_vec, "pq_codes")
    if snap.meta.get("residual", False):
        # residual ADC for dot scoring: the global code table plus a
        # per-probed-cell scalar bias dot(q, centroid_c) — still one
        # pruned scan, nprobe literal CASE arms, no per-cell tables
        bias = None
        for c in probe:
            bval = F.lit(sum(float(x) * float(y) for x, y in zip(query_vec, centroids[c])))
            arm = F.col("cell") == c
            bias = F.when(arm, bval) if bias is None else bias.when(arm, bval)
        score = score + bias
    shortlist = (
        codes.select("vec_id", score.alias("adc_score"))
        .orderBy(F.desc("adc_score"), "vec_id")
        .limit(refine * k if embeddings is not None else k)
    )
    if embeddings is None:
        return shortlist
    rehydrated = shortlist.select("vec_id").join(
        embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")),
        "vec_id",
    )
    return brute_force_topk(rehydrated, query_vec, vec_col="_v", k=k)


def _drift(stats: dict) -> dict:
    build = stats["build_mean_dist"]
    return {
        "mean_dist": round(stats["mean_dist"], 6),
        "build_mean_dist": round(build, 6),
        "drift": round(stats["mean_dist"] / build - 1, 6) if build else None,
    }


def ivf_append(
    new_vectors: DataFrame,
    index_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stream_epoch: tuple[str, int] | None = None,
) -> dict:
    """Index maintenance for either codec: assign a new batch to the
    EXISTING cells (and for PQ encode it with the existing codebooks —
    no retrain, map-only broadcast-literal passes) and append-write it
    into the cell-partitioned layout, so queries see the new vectors
    immediately with partition pruning intact. Append is batch-bounded:
    it touches only the batch rows, never the stored corpus. Returns
    ``{"n_appended": n}``, plus for the raw codec the updated staleness
    stats.

    Staleness (raw): the index records mean distance-to-assigned-centroid
    at build time; each append folds its batch into a running mean. When
    the running mean drifts well above the build mean (``drift`` =
    mean/build − 1), the data distribution has moved away from the
    trained centroids — cells are getting baggy, probes less selective
    — and it is time to :func:`ivf_retrain`. PQ codebooks trained on the
    same distribution go stale with the cells, so the trigger is shared.

    Crash-retry safe (same protocol as the search/shingle indexes): the
    batch is gen-tagged through the per-epoch attempt marker and becomes
    visible only when the meta commit records the gen; a crashed
    append's partial rows stay orphaned forever.

    ``stream_epoch=(stream_id, epoch_id)`` records the last applied
    streaming micro-batch INSIDE the same atomic meta commit —
    foreachBatch is at-least-once, so a crash AFTER this commit but
    BEFORE the streaming checkpoint commit replays the micro-batch, and
    without the marker the replay would blind-append the same vec_ids
    under a fresh gen (duplicates would serve). The stream maintainer
    (streaming/vector_stream.py) short-circuits replayed epoch_ids.
    """
    codec = _codec(index_dir)
    artifacts = _read_artifacts(index_dir, codec)
    with epoch_store.append(index_dir, codec.meta, codec.label) as txn:
        meta = txn.meta
        data = epoch_store.data_dir(index_dir, codec.data, txn.epoch)
        if codec is _RAW:
            # conform the batch's vector type to the stored layout (a footer
            # read, no data scan): arithmetic upstream of an append silently
            # promotes float arrays to double, and mixed element types in one
            # partitioned dataset fail every subsequent read
            stored = new_vectors.sparkSession.read.parquet(data).schema["embedding"].dataType
            rows = _raw_rows(new_vectors, artifacts["centroids"], id_col, vec_col, stored)
        else:
            enc = _pq_source(
                new_vectors, artifacts["centroids"], id_col, vec_col, bool(meta.get("residual"))
            )
            rows = pq_encode(
                enc, artifacts["pq_codebooks"], id_col="vec_id", vec_col="_v", keep=["cell"]
            )
        # cluster the batch by cell before the write: one file per touched
        # cell per append instead of one per (shuffle partition, cell) —
        # measured ~300 files per 500-row append without this, which is the
        # MOR file-count amplification the maintenance_report exists to
        # bound. The extra shuffle is batch-sized, O(batch)
        rows = rows.repartition(F.col("cell"))
        rows.drop("_dist").withColumn("gen", F.lit(txn.gen).cast("bigint")).write.mode(
            "append"
        ).partitionBy("cell").parquet(data)
        if codec is _RAW:
            b = rows.agg(F.avg("_dist").alias("m"), F.count(F.lit(1)).alias("n")).first()
            bm, bn = float(b["m"] or 0.0), int(b["n"])
            n0, m0 = meta["n_vectors"], meta["mean_dist"]
            meta["n_vectors"] = n0 + bn
            if meta["n_vectors"]:
                meta["mean_dist"] = (m0 * n0 + bm * bn) / meta["n_vectors"]
            out = {"n_appended": bn, "batch_mean_dist": round(bm, 6)}
        else:
            out = {"n_appended": rows.count()}
        if stream_epoch is not None:
            sid, eid = stream_epoch
            meta["stream_epochs"] = {**(meta.get("stream_epochs") or {}), str(sid): int(eid)}
    if codec is _RAW:
        out.update(_drift(meta))
    return out


def ivf_staleness(index_dir: str) -> dict:
    """Current staleness of a persisted raw IVF index (metadata-only —
    no Spark job): drift of the running mean centroid distance over the
    build-time mean. Retrain when drift is large."""
    stats = epoch_store.read_meta(index_dir, _RAW.meta)
    return {"n_vectors": stats["n_vectors"], **_drift(stats)}


def ivf_delete(spark, index_dir: str, ids: list) -> int:
    """Right-to-be-forgotten for either codec: tombstone vector ids in
    O(|ids|) (same merge-on-read recipe as the shingle/search indexes —
    rewriting cell partitions per deletion request would be O(corpus)).
    The tombstones commit like an append (``epoch_store.tombstone``), so
    a compaction in flight refuses instead of undoing the delete; every
    read drops the rows they cover until :func:`ivf_compact` folds them,
    and a later re-append of an id serves. Raw ``stats.json`` keeps its
    drift stats: they drive the RETRAIN decision, not result
    correctness."""
    codec = _codec(index_dir)
    keys = sorted({int(i) for i in ids})
    # driver-side ids: one tombstone file per delete, not one per slot
    frame = local_frame(spark, [(k,) for k in keys], _KEY).coalesce(1)
    with epoch_store.append(index_dir, codec.meta, codec.label) as txn:
        epoch_store.tombstone(txn, frame)
    return len(keys)


def ivf_compact(spark, index_dir: str, *, retention_sec: float = 0.0) -> None:
    """Fold tombstones, orphaned gens and the many small appended files
    into a new epoch of the cell-partitioned data, committed by one
    guarded epoch flip (``epoch_store.flip``). No tombstones is still a
    reason to compact: folding small files bounds MOR read amplification
    (the maintenance report's file-count signal)."""
    codec = _codec(index_dir)
    snap = epoch_store.snapshot(index_dir, codec.meta)
    _stage(epoch_store.live_rows(spark, snap, codec.data, _KEY), index_dir, codec, snap.epoch + 1)
    # orphaned gens were physically dropped by the gen filter
    epoch_store.flip(
        snap,
        {**snap.meta, "orphans": []} if snap.meta.get("orphans") else None,
        names=[codec.data],
        label=codec.label,
        action="compaction",
        retention_sec=retention_sec,
    )


def ivf_retrain(
    spark,
    index_dir: str,
    embeddings: DataFrame | None = None,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
    train_mod: int = 1,
    retention_sec: float = 0.0,
):
    """Retrain the index as a crash-safe EPOCH FLIP — the answer to a
    baggy :func:`ivf_staleness` drift. The built shape is kept: the
    centroid count (and for PQ ``m``, ``k_sub`` and ``dim``) is read
    from the index. The new layout and its artifacts stage into
    ``*_ep<k+1>`` names; the ONLY commit is the epoch-pointer flip, so a
    crash anywhere before it leaves readers on the old epoch with the
    old centroids. The fresh meta resets the drift baseline while
    PRESERVING the streaming replay markers. Returns what the codec's
    build returns.

    The flip is guarded by the gen CAS as well as the epoch check
    (``epoch_store.flip``): an append or delete that committed after the
    training snapshot would be dropped or undone by the new layout, so
    the retrain refuses instead and the re-run includes it.

    * raw: trains on the index's OWN committed live vectors (gen filter
      + tombstones). (A crash between flip and meta write serves the NEW
      epoch under the OLD stats — gens there are all 0 and the gen
      filter keeps gen<=hi, so rows still serve; only the drift baseline
      is stale until the write.)
    * PQ: codes are lossy, so retraining needs the ORIGINAL floats —
      ``embeddings`` (the source table) is required, and refused for
      raw. Membership stays the index's: the live code rows pick which
      ids re-encode, via a semi-join.

    O(corpus) by nature (every vector reassigns) — that is what retrain
    means; the drift signal exists so it is paid only when the cells
    went baggy.
    """
    codec = _codec(index_dir)
    if (embeddings is None) != (codec is _RAW):
        raise ValueError(
            "PQ retrain re-encodes from the source table: pass embeddings"
            if codec is _PQ
            else "raw IVF retrain trains on the index's own vectors: "
            "embeddings is not accepted"
        )
    built = _read_artifacts(index_dir, codec)
    snap = epoch_store.snapshot(index_dir, codec.meta)
    live = epoch_store.live_rows(spark, snap, codec.data, _KEY)
    shape = {"n_centroids": len(built["centroids"])}
    if codec is _RAW:
        src = live.select("vec_id", "embedding")
    else:
        books = built["pq_codebooks"]
        shape.update(m=len(books), k_sub=len(books[0]), dim=len(books) * len(books[0][0]))
        src = embeddings.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ).join(live.select("vec_id").distinct(), "vec_id", "semi")
    artifacts, new_meta = _train_stage(
        src, index_dir, codec, snap.epoch + 1, snap.meta,
        iters=iters, train_mod=train_mod, **shape,
    )
    epoch_store.flip(
        snap,
        new_meta,
        names=[codec.data],
        label=codec.label,
        action="retrain",
        retention_sec=retention_sec,
    )
    if codec is _RAW:
        return artifacts["centroids"]
    return {"centroids": artifacts["centroids"], "codebooks": artifacts["pq_codebooks"]}


def ivf_maintenance_report(index_dir: str, **kw) -> dict:
    """Compaction-cadence signal for either codec (metadata-only —
    parquet footers + the meta file): dead/tombstone row fractions, live
    file count, ``should_compact`` + reasons. Run :func:`ivf_compact`
    when it fires; retrain-vs-compact is a separate decision
    (:func:`ivf_staleness` answers that one)."""
    codec = _codec(index_dir)
    return epoch_store.maintenance_report(index_dir, codec.data, codec.meta, **kw)


def _cosine_assign_col(vec_col: Column, centroids: list[list[float]]) -> Column:
    """Index of the max-cosine centroid (ties to the lowest index).

    One ``transform`` over the 2-D centroid literal (the measured-safe
    shape, see :func:`_nearest_centroid`); centroid norms are
    DRIVER-computed literals, so per row the plan does k dot-folds +
    one vector-norm fold. Cosine assignment (vs L2) makes the
    clustering scale-invariant — the paper's setup (SemDeDup clusters
    L2-normalized embeddings, where L2-argmin ≡ cosine-argmax)."""
    cents = _matrix_literal(centroids)
    norms = [math.sqrt(sum(float(v) * float(v) for v in c)) for c in centroids]
    if all(math.isfinite(n) for n in norms):
        norms_lit = F.expr(
            "array({})".format(",".join(f"{n!r}D" for n in norms))
        )
    else:  # non-finite norms have no SQL literal form
        norms_lit = F.array(*[F.lit(n) for n in norms])
    vnorm = _norm(vec_col)
    sims = F.transform(
        cents,
        lambda c, i: _dot(vec_col, c) / (vnorm * F.element_at(norms_lit, i + 1)),
    )
    m = F.array_max(sims)
    return (F.array_position(sims, m) - 1).cast("int")


def semantic_dedup(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 0.99,
    centroids: list[list[float]] | None = None,
    n_clusters: int = 8,
    iters: int = 3,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    drop within-cluster semantic duplicates — ``(id, cluster, keep)``
    with ``keep = false`` iff a SMALLER-id vector in the same cluster
    has cosine ≥ ``eps`` (deterministic lowest-id-wins representative;
    the paper keeps the vector farthest from the centroid — same
    pruning set, different representative choice).

    Scale shape: assignment is MAP-ONLY (broadcast centroid literals,
    one ``transform`` over a 2-D literal — see
    :func:`_cosine_assign_col`; cosine-argmax, so scaled copies of a
    vector land in the same cluster); the only shuffle keys on ``cluster``,
    and the quadratic surface is bounded per cluster — at 100 TB you
    grow ``n_clusters`` ∝ corpus size to hold cluster occupancy
    constant (the paper uses k=50k on LAION), with AQE skew-split as
    the backstop for hot clusters. Below ``_ARROW_COSINE_MIN_DIM`` the
    within-cluster pass is a cluster-keyed equi-join scored by the JVM
    cosine fold (bit-identical to the SQL oracle); at real embedding
    dims it dispatches to a per-cluster Arrow/numpy blockwise matmul
    (``applyInPandas``; O(block x cluster) memory, never cluster²).

    With ``centroids=None`` a deterministic Lloyd k-means is trained
    first (:func:`ivf_train_centroids`); pass pinned centroids for a
    reproducible / oracle-mirrorable assignment.
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            embeddings, id_col=id_col, vec_col=vec_col,
            n_centroids=n_clusters, iters=iters,
        )
    dim = len(centroids[0])
    asg = embeddings.select(
        F.col(id_col), F.col(vec_col),
        _cosine_assign_col(F.col(vec_col), centroids).alias("cluster"),
    )
    if dim < _ARROW_COSINE_MIN_DIM:
        a = asg.select("cluster", F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va"))
        b = asg.select("cluster", F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb"))
        dropped = (
            a.join(b, "cluster")
            .where(F.col("_idb") < F.col("_ida"))
            .where(cosine_similarity(F.col("_va"), F.col("_vb")) >= F.lit(float(eps)))
            .select(F.col("_ida").alias(id_col))
            .distinct()
        )
    else:
        import numpy as np
        import pandas as pd

        def _drop_ids(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf[id_col].to_numpy()
            order = np.argsort(ids)
            ids = ids[order]
            m = np.stack(pdf[vec_col].to_numpy())[order].astype(np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            out: list[int] = []
            block = 1024
            for i0 in range(0, len(ids), block):
                i1 = min(i0 + block, len(ids))
                sim = m[i0:i1] @ m.T  # (block, cluster) — never cluster²
                for r in range(i1 - i0):
                    if (sim[r, : i0 + r] >= eps).any():
                        out.append(int(ids[i0 + r]))
            return pd.DataFrame({id_col: out})

        dropped = (
            asg.select("cluster", id_col, vec_col)
            .groupBy("cluster")
            .applyInPandas(_drop_ids, schema=f"{id_col} long")
        )
    return (
        asg.select(id_col, "cluster")
        .join(dropped.withColumn("_drop", F.lit(True)), id_col, "left")
        .select(
            id_col,
            F.col("cluster").cast("int").alias("cluster"),
            F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
        )
    )


def quantize_int8(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Symmetric per-vector int8 quantization (max-abs scaling): the
    standard 4x index-size reduction for serving embeddings — codes are
    ``round(x * 127 / maxabs)`` stored as TINYINT, reconstruction is
    ``code * maxabs / 127`` with per-component error <= maxabs/254.

    Map-only (no shuffle). Below ``_ARROW_COSINE_MIN_DIM`` everything is
    JVM higher-order expressions; above it an Arrow ``mapInPandas``
    stage quantizes each batch with two numpy passes (the same measured
    dispatch as cosine scoring — Catalyst inlines the maxabs
    sub-expression into the per-element lambda, so the JVM path's
    per-vector cost is O(d^2) and loses to numpy's O(d) well before
    dim 384). Zero vectors quantize to all-zero codes (scale guard).

    Returns ``(id, codes array<tinyint>, qscale double)`` where
    ``qscale`` = maxabs/127 (dequant multiplier).
    """
    if dim is None:
        probe = embeddings.select(vec_col).first()
        dim = len(probe[vec_col]) if probe is not None else 0
    if dim >= _ARROW_COSINE_MIN_DIM:
        import numpy as np
        import pandas as pd

        out_schema = f"{id_col} long, codes array<tinyint>, qscale double"

        def quant_batches(batches):
            for pdf in batches:
                m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                maxabs = np.abs(m).max(axis=1)
                safe = np.where(maxabs == 0.0, 1.0, maxabs)
                # (x * 127) / safe — the same IEEE op sequence as the JVM
                # expression path, so codes match bit-for-bit across dispatch
                scaled = (m * 127.0) / safe[:, None]
                # half-AWAY-from-zero, matching Spark round() / DuckDB
                # round() so both dispatch paths emit identical codes
                # (np.rint is half-to-even)
                codes = (np.sign(scaled) * np.floor(np.abs(scaled) + 0.5)).astype(np.int8)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy(),
                        "codes": list(codes),
                        "qscale": maxabs / 127.0,
                    }
                )

        return embeddings.select(id_col, vec_col).mapInPandas(quant_batches, out_schema)
    v = F.col(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    safe = F.when(maxabs == 0.0, F.lit(1.0)).otherwise(maxabs)
    return embeddings.select(
        id_col,
        F.transform(v, lambda x: F.round(x.cast("double") * 127 / safe).cast("tinyint")).alias(
            "codes"
        ),
        (maxabs / 127.0).alias("qscale"),
    )


def dequantize_int8(
    quantized: DataFrame, *, codes_col: str = "codes", scale_col: str = "qscale"
) -> DataFrame:
    """Inverse of :func:`quantize_int8`: ``code * qscale`` per component
    (map-only). Output column ``vec_approx array<double>``."""
    return quantized.withColumn(
        "vec_approx",
        F.transform(F.col(codes_col), lambda c: c.cast("double") * F.col(scale_col)),
    )
