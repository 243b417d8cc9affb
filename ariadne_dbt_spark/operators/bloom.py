"""Broadcastable Bloom filters: map-only membership pruning for the
joins a 100 TB corpus pipeline cannot afford to shuffle.

The motivating workload is BFF-style decontamination (the Allen AI
"Big Friendly Filter" approach to dedup/decontamination at LLM-corpus
scale): the union of every benchmark's n-grams is far too large for a
broadcast HASH join (a hash table of 10⁸ strings costs tens of GB with
object overhead) yet fits comfortably as a Bloom bitmap (~10 bits per
element at 1% fpp → ~120 MB for 10⁸ grams). Broadcasting the bitmap
turns "which corpus shingles touch the benchmark set" into a MAP-ONLY
prefilter over the corpus scan; only the surviving candidates — true
hits plus an fpp-sized sliver of the corpus — enter the exact verify
join, whose shuffle is now candidate-sized instead of corpus-sized.
False positives are therefore harmless (the verify join removes them)
and false negatives are impossible (a Bloom filter never drops a
member), so the composed operator is EXACT and the driver's DuckDB
oracle pins it value-for-value.

Engineering notes:

* **All hashing is JVM-side.** Bit positions come from two
  ``xxhash64`` passes combined Kirsch–Mitzenmacher style
  (``pos_i = (h1 + i·h2) mod m``), computed as Spark column
  expressions — the Python side only tests/sets bits, vectorized over
  Arrow batches. Build and probe share the same expression builder, so
  the two sides can never disagree on the hash.
* **ANSI-safe arithmetic.** Spark 4 raises on long overflow, so both
  hashes are reduced mod ``m`` BEFORE the ``h1 + i*h2`` combine; with
  ``k ≤ 32`` and ``m < 2^48`` every intermediate stays far under 2⁶³.
* **Distributed build, bounded driver.** Each partition reduces to one
  packed ``m/8``-byte bitmap row (``mapInPandas``); the driver ORs the
  per-partition bitmaps. Driver memory is ``m/8 × num_partitions``
  streamed one row at a time — for the intended regime (a bench set
  orders of magnitude smaller than the corpus) this is MBs.
* **Mergeable.** ``BloomFilter.merge`` is bitwise OR (same (m, k,
  seed) enforced), so per-shard filters built independently compose
  into the corpus-wide filter — the same associativity contract as the
  HLL/CMS/histogram sketch tables in ``operators/sketches.py``.

Reference parity: the reference engine has no Bloom subsystem; this is
a §8 scale extension. The exact-verify composition mirrors
``decontamination_flags`` (operators/dedup.py) so both produce
identical flags — the Bloom path changes the JOIN STRATEGY, never the
semantics.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "BloomFilter",
    "optimal_params",
    "bloom_build",
    "bloom_maybe_contains",
    "bloom_decontaminate",
    "save_bloom",
    "load_bloom",
    "build_decontamination_index",
    "decontaminate_against_index",
]

#: refuse degenerate shapes loudly: k beyond 32 never helps (optimal k
#: is ln2 · m/n ≤ ~30 even at fpp 1e-9), and m beyond 2^48 bits (32 TiB)
#: is a config error, not a filter
_MAX_K = 32
_MAX_M = 1 << 48


@dataclass(frozen=True)
class BloomFilter:
    """Driver-side handle: parameters + packed bitmap (LSB-first within
    each byte). Opaque to Spark — pass it to :func:`bloom_maybe_contains`
    which broadcasts the bitmap once per probe."""

    m_bits: int
    k: int
    seed: int
    bits: bytes  # len == ceil(m_bits / 8)

    @property
    def saturation(self) -> float:
        """Fraction of bits set — the filter's health gauge. Popcount
        via a 256-entry LUT: the temp allocation stays O(bitmap), where
        ``np.unpackbits`` would materialize 8x the bitmap (at the
        ~1.8 GB-bitmap scale the shingle sidecar advertises, that is a
        14 GB driver spike inside a 'metadata-only' maintenance call)."""
        import numpy as np

        lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)
        arr = np.frombuffer(self.bits, dtype=np.uint8)
        return float(lut[arr].sum(dtype=np.int64)) / self.m_bits

    @property
    def fpp_estimate(self) -> float:
        """Implied false-positive probability at the current load:
        ``saturation^k`` (each of the k probes must land on a set bit)."""
        return self.saturation**self.k

    @property
    def n_items_estimate(self) -> float:
        """Cardinality implied by the fill ratio:
        ``-m/k · ln(1 - saturation)`` — the standard Bloom occupancy
        inversion; no extra Spark job needed."""
        s = self.saturation
        if s >= 1.0:
            return float("inf")
        return -self.m_bits / self.k * math.log1p(-s)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        """Bitwise-OR union. Filters built per-shard with the same
        (m, k, seed) merge into the filter of the unioned stream —
        exactly mergeable, like the sketch tables."""
        import numpy as np

        if (self.m_bits, self.k, self.seed) != (other.m_bits, other.k, other.seed):
            raise ValueError(
                "cannot merge Bloom filters with different (m_bits, k, seed)"
            )
        merged = np.frombuffer(self.bits, dtype=np.uint8) | np.frombuffer(
            other.bits, dtype=np.uint8
        )
        return BloomFilter(self.m_bits, self.k, self.seed, merged.tobytes())


def optimal_params(n_items: int, fpp: float) -> tuple[int, int]:
    """Textbook sizing: ``m = -n·ln p / (ln 2)²`` bits,
    ``k = round(ln 2 · m/n)`` probes, both clamped to sane floors."""
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    n = max(int(n_items), 1)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(m, 64)
    if m > _MAX_M:
        raise ValueError(f"bloom bitmap of {m} bits exceeds {_MAX_M}; lower fpp/n")
    k = max(1, min(_MAX_K, round(math.log(2) * m / n)))
    return m, k


def _positions(col: Column, m_bits: int, k: int, seed: int) -> Column:
    """``array<long>`` of the k bit positions for a value — shared by
    build and probe so the hash can never diverge between them.

    Kirsch–Mitzenmacher double hashing over two seeded ``xxhash64``
    passes; both hashes are reduced mod m FIRST (ANSI long overflow
    raises in Spark 4), and the stride draws from ``1..m-1`` so a zero
    stride can't collapse the k probes onto one bit.
    """
    h1 = F.pmod(F.xxhash64(col, F.lit(int(seed))), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(col, F.lit(int(seed) + 1)), F.lit(m_bits - 1)) + F.lit(1)
    return F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)])


def bloom_build(
    df: DataFrame,
    col: str,
    *,
    n_items: int | None = None,
    fpp: float = 0.01,
    m_bits: int | None = None,
    k: int | None = None,
    seed: int = 11,
) -> BloomFilter:
    """One distributed pass over ``df[col]`` → a :class:`BloomFilter`.

    Size either explicitly (``m_bits``/``k``) or from the target
    (``n_items``, ``fpp``). Each partition emits ONE ``m/8``-byte
    bitmap row (bits set vectorized over Arrow batches with
    ``np.bitwise_or.at`` — duplicate positions within a batch are
    fine); the driver ORs the rows streamed from ``collect``. Values
    may repeat across partitions — the OR is idempotent.
    """
    import numpy as np
    import pandas as pd

    if m_bits is None or k is None:
        if n_items is None:
            raise ValueError("pass n_items (with fpp) or explicit m_bits + k")
        m_bits, k = optimal_params(n_items, fpp)
    if m_bits < 8 or m_bits > _MAX_M:
        raise ValueError(f"m_bits out of range: {m_bits}")
    if not (1 <= k <= _MAX_K):
        raise ValueError(f"k out of range: {k}")
    nbytes = (m_bits + 7) // 8

    pos_df = df.select(_positions(F.col(col), m_bits, k, seed).alias("pos"))

    def _partition_bitmap(batches):
        bm = np.zeros(nbytes, dtype=np.uint8)
        touched = False
        for pdf in batches:
            if not len(pdf):
                continue
            touched = True
            flat = np.concatenate([np.asarray(a, dtype=np.int64) for a in pdf["pos"]])
            np.bitwise_or.at(
                bm, flat >> 3, (np.uint8(1) << (flat & 7).astype(np.uint8))
            )
        if touched:
            yield pd.DataFrame({"bm": [bm.tobytes()]})

    bits = np.zeros(nbytes, dtype=np.uint8)
    for row in pos_df.mapInPandas(_partition_bitmap, schema="bm binary").collect():
        bits |= np.frombuffer(row["bm"], dtype=np.uint8)
    return BloomFilter(int(m_bits), int(k), int(seed), bits.tobytes())


def bloom_maybe_contains(
    df: DataFrame, col: str, bloom: BloomFilter, *, out_col: str = "bloom_maybe"
) -> DataFrame:
    """Append a boolean ``out_col``: True iff all k bits for ``df[col]``
    are set — i.e. "possibly a member" (never False for a true member).

    Positions are computed JVM-side by the SAME expression the build
    used; the Arrow UDF only gathers bits from the broadcast bitmap
    (one ``(n, k)`` gather + reduce per batch, no Python-side hashing).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # postponed type hints ("pd.Series" under `from __future__ import
    # annotations`) resolve through module globals at decoration time
    globals()["pd"] = pd

    bitmap = np.frombuffer(bloom.bits, dtype=np.uint8)
    bc = df.sparkSession.sparkContext.broadcast(bitmap)

    @pandas_udf("boolean")
    def _probe(pos: pd.Series) -> pd.Series:
        bm = bc.value
        if not len(pos):
            return pd.Series([], dtype=bool)
        mat = np.stack([np.asarray(a, dtype=np.int64) for a in pos.to_numpy()])
        hit = bm[mat >> 3] & (np.uint8(1) << (mat & 7).astype(np.uint8))
        return pd.Series((hit != 0).all(axis=1))

    return df.withColumn(
        out_col, _probe(_positions(F.col(col), bloom.m_bits, bloom.k, bloom.seed))
    )


def save_bloom(bloom: BloomFilter, path: str) -> None:
    """Persist a filter as ``<path>.bin`` + ``<path>.json`` (params),
    each written tmp+replace so a concurrent loader never sees a
    half-written bitmap. The json is the commit point — ``load_bloom``
    refuses a bin whose byte length disagrees with it."""
    import os

    from ariadne_dbt_spark.operators.epoch_store import atomic_write, atomic_write_json

    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    atomic_write(path + ".bin", bloom.bits)
    atomic_write_json(
        path + ".json", {"m_bits": bloom.m_bits, "k": bloom.k, "seed": bloom.seed}
    )


def load_bloom(path: str) -> BloomFilter:
    """Inverse of :func:`save_bloom`; raises on a params/bitmap size
    mismatch (a crash between the two writes)."""
    import json

    with open(path + ".json") as f:
        cfg = json.load(f)
    with open(path + ".bin", "rb") as f:
        bits = f.read()
    if len(bits) != (int(cfg["m_bits"]) + 7) // 8:
        raise ValueError(
            f"bloom bitmap at {path}.bin is {len(bits)} bytes; params "
            f"file says m_bits={cfg['m_bits']} — torn write, rebuild it"
        )
    return BloomFilter(int(cfg["m_bits"]), int(cfg["k"]), int(cfg["seed"]), bits)


def build_decontamination_index(
    bench: DataFrame,
    out_dir: str,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    fpp: float = 0.001,
    seed: int = 11,
) -> dict:
    """Persist the BENCHMARK side of decontamination once, so every
    future training batch decontaminates in O(batch): the benchmark's
    distinct shingles as parquet (the exact-verify side) plus their
    sized Bloom bitmap (the map-only prefilter) plus a meta commit
    point pinning ``n``. Benchmark suites are small and change by
    release, not by stream — rebuild wholesale on change (no append
    path, deliberately; contrast the gen-logged shingle index whose
    corpus side DOES grow per batch).

    Layout: ``shingles/`` parquet, ``bloom.{bin,json}``, ``meta.json``
    (written LAST — a directory without it is an aborted build and
    :func:`decontaminate_against_index` refuses it).
    """
    import os

    from ariadne_dbt_spark.operators.dedup import shingle_sets
    from ariadne_dbt_spark.operators.epoch_store import (
        _parquet_rows_total,
        atomic_write_json,
    )

    os.makedirs(out_dir, exist_ok=True)
    meta_path = os.path.join(out_dir, "meta.json")
    if os.path.exists(meta_path):
        os.remove(meta_path)  # invalidate readers before any rewrite
    bsh = shingle_sets(bench, id_col, text_col, n).select("shingle").distinct()
    bsh.write.mode("overwrite").parquet(os.path.join(out_dir, "shingles"))
    shingles_dir = os.path.join(out_dir, "shingles")
    written = bench.sparkSession.read.parquet(shingles_dir)
    # exact row count from the just-written parquet FOOTERS (round 11):
    # driver metadata, zero Spark jobs — the old .count() re-scanned the
    # shingle parquet once per build
    n_grams = _parquet_rows_total(shingles_dir)
    bloom = bloom_build(
        written, "shingle", n_items=max(n_grams, 1), fpp=fpp, seed=seed
    )
    save_bloom(bloom, os.path.join(out_dir, "bloom"))
    meta = {
        "n": n,
        "fpp": fpp,
        "seed": seed,
        "n_grams": n_grams,
        "m_bits": bloom.m_bits,
        "k": bloom.k,
    }
    atomic_write_json(meta_path, meta)
    return meta


def decontaminate_against_index(
    train: DataFrame,
    index_dir: str,
    id_col: str,
    text_col: str,
    *,
    min_hits: int = 1,
) -> DataFrame:
    """O(batch) decontamination against a persisted
    :func:`build_decontamination_index`: same ``(id, n_hits,
    contaminated)`` contract as :func:`bloom_decontaminate`, but the
    benchmark is never re-shingled — the bitmap loads from disk
    (driver-side bytes, one broadcast) and the verify join reads the
    stored shingle parquet. The probe is map-only over the batch scan;
    only candidates (true overlaps + the fpp sliver) shuffle.

    At 100 TB this is the decontamination twin of
    ``incremental_near_dup_flags(index_dir=)``: continuous ingest pays
    per-batch cost only, with the benchmark artifact built once per
    eval-suite release.
    """
    import json
    import os

    from ariadne_dbt_spark.operators.dedup import shingle_sets

    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    bloom = load_bloom(os.path.join(index_dir, "bloom"))
    bsh = train.sparkSession.read.parquet(os.path.join(index_dir, "shingles"))
    tsh = shingle_sets(train, id_col, text_col, int(meta["n"]))
    cand = (
        bloom_maybe_contains(tsh, "shingle", bloom)
        .where(F.col("bloom_maybe"))
        .drop("bloom_maybe")
    )
    hits = (
        cand.join(bsh, "shingle")
        .groupBy("id")
        .agg(F.countDistinct("shingle").alias("n_hits"))
    )
    ids = train.select(F.col(id_col).alias("id")).distinct()
    return ids.join(hits, "id", "left").select(
        "id",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
    )


def bloom_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    min_hits: int = 1,
    fpp: float = 0.001,
    seed: int = 11,
) -> DataFrame:
    """Exact test-set decontamination with a Bloom-pruned candidate set:
    ``(id, n_hits, contaminated)`` for every training doc — byte-for-byte
    the ``decontamination_flags`` contract (operators/dedup.py), reached
    by a different physical route:

    1. distinct benchmark shingles → Bloom filter (one pass, ~10 bits
       per gram at fpp 1e-3 — broadcastable where a hash relation of
       the same grams is not);
    2. corpus shingles → MAP-ONLY Bloom probe; non-candidates never
       shuffle;
    3. candidates (true overlaps + fpp·|corpus| false positives) →
       exact semi-join against the benchmark shingles, which removes
       every false positive. A Bloom filter has no false negatives, so
       step 2 drops nothing step 3 would have kept — the composition is
       exact, and the oracle pins it value-for-value.

    At 100 TB: the shuffle into the verify join is candidate-sized,
    not corpus-sized — with fpp 1e-3 that is ~0.1% of corpus shingles
    plus the true hits, against ``decontamination_flags``' full pass of
    training postings through the semi-join.
    """
    from ariadne_dbt_spark.operators.dedup import shingle_sets

    # persisted for the two IMPERATIVE consumers only — the sizing
    # count and the bitmap build previously each re-tokenized and
    # re-shingled the bench corpus from scratch (round 11, guide §5:
    # reuse beats recompute; the bench set is orders of magnitude
    # smaller than the corpus, so the persist is scale-safe) — and
    # RELEASED before returning, so repeated calls in a long-lived
    # session never accumulate cached shingle blocks. The verify join
    # inside the RETURNED lazy frame re-derives the bench shingles
    # independently (one pass when the caller executes — the pre-round
    # shape for that side): a cache outliving this call would leak, and
    # an eager materialization here would force work the caller's own
    # action may legitimately prune.
    bsh = (
        shingle_sets(bench, id_col, text_col, n).select("shingle").distinct().persist()
    )
    try:
        n_grams = bsh.count()
        bloom = bloom_build(bsh, "shingle", n_items=max(n_grams, 1), fpp=fpp, seed=seed)
    finally:
        bsh.unpersist()

    bsh_lazy = shingle_sets(bench, id_col, text_col, n).select("shingle").distinct()
    tsh = shingle_sets(train, id_col, text_col, n)
    cand = (
        bloom_maybe_contains(tsh, "shingle", bloom)
        .where(F.col("bloom_maybe"))
        .drop("bloom_maybe")
    )
    hits = (
        cand.join(bsh_lazy, "shingle")
        .groupBy("id")
        .agg(F.countDistinct("shingle").alias("n_hits"))
    )
    ids = train.select(F.col(id_col).alias("id")).distinct()
    return ids.join(hits, "id", "left").select(
        "id",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
    )
