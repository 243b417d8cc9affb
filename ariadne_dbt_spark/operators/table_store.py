"""Managed parquet tables: crash-safe OPTIMIZE (small-file compaction +
range clustering) on a plain directory, via the same epoch-pointer
machinery the serving indexes use (operators/epoch_store.py).

The 100 TB problem this solves: long-lived fact tables accumulate
small files — micro-batch appends, per-task outputs, incremental dbt
runs — until SCAN PLANNING (listing + footer reads + per-file task
setup) dominates query time long before data volume does. The classic
fix is Delta/Iceberg's ``OPTIMIZE``: rewrite the live files into
~target-size files, optionally clustered on a key so parquet min/max
footers enable file skipping, committed atomically so readers never
see a half-rewritten table.

This module is that operation for plain parquet directories:

* **Layout.** ``table_dir/epoch.json`` + data dirs ``t`` (epoch 0 —
  so any pre-existing flat directory IS a valid managed table) /
  ``t_ep<k>``. Readers resolve through the pointer; the flip is one
  atomic ``os.replace`` (``commit_epoch``).
* **Crash safety.** The rewrite lands in the NEXT epoch's directory
  with ``mode="overwrite"`` — a crashed attempt leaves garbage that
  the retry simply overwrites and the sweeper GCs; the committed
  epoch is untouched until the pointer flips under ``commit_lock``
  (a concurrent second optimizer raises ``ConcurrentWriteError``
  instead of silently clobbering).
* **Concurrent readers.** ``retention_sec`` keeps retired epoch dirs
  alive after the flip (stamped retirement, ``sweep_stale_epochs``) so
  a cross-process reader that planned against the old epoch finishes
  its scan — the vacuum contract the index stores already honor.
* **Clustering.** ``cluster_by`` range-partitions and sorts the
  rewrite on the given keys: each output file covers a narrow key
  range, so parquet row-group/file min-max statistics turn point and
  range predicates into file skips. This is the single-dimension
  (and multi-key lexicographic) version of what Delta calls Z-ORDER;
  at 1000 executors the range exchange is one shuffle of the table —
  the price of every future scan pruning to O(matching files).

Sizing is measured, not guessed: ``table_report`` reads ONLY file
sizes + footers (no Spark job) and recommends compaction exactly like
the index ``maintenance_report`` does, so cadence is a measured knob
here too.

Relation to ``operators/layout.py compact_parquet``: that pass rewrites
a directory IN PLACE behind a tmp/old dir swap — fine for a
single-process streaming sink compacting its own output between
batches, but the swap has a two-rename window, no concurrent-writer
guard, and no reader retention. This module is the MANAGED upgrade for
tables with independent readers/writers: pointer-resolved reads, one
atomic commit, ``commit_lock`` against racing optimizers, vacuum
retention — the same guarantees ladder the serving indexes climbed
from wholesale rebuild to epoch flips. ``cluster_by`` composes with
``layout.zorder_write`` the same way Delta's OPTIMIZE composes with
ZORDER: z-write INTO a managed table dir, then keep it compacted here.

Reference parity: none — the reference rebuilds its tables wholesale
(``src/ariadne_dbt/indexer.py:472-485``); this is a §8 scale extension.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ariadne_dbt_spark.operators.epoch_store import (
    commit_epoch,
    commit_lock,
    data_dir,
    read_epoch,
    sweep_stale_epochs,
    _walk_parquet,
)
from ariadne_dbt_spark.session import local_frame

__all__ = [
    "DATA_NAME",
    "read_table",
    "write_table",
    "table_report",
    "table_history",
    "optimize_table",
    "merge_table",
    "delete_keys",
    "delete_where",
    "update_where",
    "table_changes",
    "restore_table",
    "vacuum_table",
    "clone_table",
    "set_constraints",
    "get_constraints",
    "ConstraintViolation",
    "set_table_properties",
    "get_table_properties",
    "enable_change_feed",
    "table_changes_log",
]

#: the single logical data-dir name a managed table owns
DATA_NAME = "t"

#: OPTIMIZE defaults: files this far under target count as "small";
#: the report fires on file count or small-file fraction
DEFAULT_TARGET_FILE_MB = 128
#: Delta's default VACUUM retention (7 days): what `cli table vacuum`
#: uses when no --retention-sec is given, and the floor below which it
#: demands --force — vacuum irreversibly destroys restore/time-travel
DEFAULT_VACUUM_RETENTION_SEC = 7 * 24 * 3600.0
SMALL_FILE_FRAC = 0.5
MAX_LIVE_FILES = 64


def _resolve(table_dir: str) -> str:
    return data_dir(table_dir, DATA_NAME, read_epoch(table_dir))


def read_table(
    spark: SparkSession, table_dir: str, *, epoch: int | None = None
) -> DataFrame:
    """Read the table through the epoch pointer; ``epoch=`` pins a
    specific version instead (time travel) — readable for as long as
    OPTIMIZE's ``retention_sec`` keeps the retired dir (see
    :func:`table_history` for what is on disk). A swept epoch raises
    ``FileNotFoundError`` rather than silently reading the current
    one."""
    if epoch is None:
        # persisted per-epoch schema when the epoch was committed by
        # this module (partition-column types survive round-trips);
        # mergeSchema-inference fallback for pre-existing flat dirs —
        # either way a schema-evolving merge's carried (hard-linked)
        # files null-fill the columns they predate
        return _read_epoch_dir(spark, _resolve(table_dir))
    path = data_dir(table_dir, DATA_NAME, epoch)
    # the > current guard matters as much as the isdir one: a crashed
    # or in-flight optimize leaves a STAGED t_ep<current+1> dir whose
    # partial part-files would otherwise read as a "version"
    if epoch > read_epoch(table_dir) or not os.path.isdir(path):
        raise FileNotFoundError(
            f"epoch {epoch} of {table_dir} is not a committed version "
            f"on disk (swept, never committed, or an in-flight staging "
            f"dir); retained epochs: "
            f"{[h['epoch'] for h in table_history(table_dir)]}"
        )
    return _read_epoch_dir(spark, path)


def table_history(table_dir: str) -> list[dict]:
    """Epochs still on disk, oldest first — metadata only: per epoch
    the file count, byte size, whether it is the pointer's CURRENT
    version, and the retirement timestamp (from the ``_retired.json``
    stamp vacuum retention ages by; None while current or when the
    sweeper hasn't visited yet). The managed-table face of the epoch
    machinery's retention contract: what ``read_table(epoch=)`` can
    still time-travel to, and when each version will become sweepable.
    """
    from ariadne_dbt_spark.operators.epoch_store import _read_retired_at

    current = read_epoch(table_dir)
    out = []
    if not os.path.isdir(table_dir):
        return out
    for entry in sorted(os.listdir(table_dir)):
        if entry == DATA_NAME:
            ep = 0
        elif entry.startswith(f"{DATA_NAME}_ep"):
            suffix = entry[len(DATA_NAME) + 3 :]
            if not suffix.isdigit():
                continue
            ep = int(suffix)
        else:
            continue
        path = os.path.join(table_dir, entry)
        if not os.path.isdir(path) or ep > current:
            # > current is a crashed/in-flight optimize's staging dir,
            # not a version
            continue
        files = _walk_parquet(path)
        out.append(
            {
                "epoch": ep,
                "n_files": len(files),
                "total_bytes": sum(os.path.getsize(p) for p in files),
                "is_current": ep == current,
                "retired_at": None
                if ep == current
                else _read_retired_at(os.path.join(path, "_retired.json")),
            }
        )
    out.sort(key=lambda h: h["epoch"])
    return out


def write_table(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    *,
    partition_by: list[str] | None = None,
) -> str:
    """(Re)write the table's CURRENT epoch dir wholesale — the initial
    load path. ``partition_by`` lays the table out hive-partitioned
    (``col=value`` dirs); OPTIMIZE and MERGE detect and preserve the
    layout from the paths, so it never needs restating. The logical
    schema is persisted beside the data (``_schema.json``) so readers
    recover partition-column TYPES from the log instead of Spark path
    inference — a string partition value like ``'01'`` or ``'1e3'``
    stays a string on read-back (round-9 advice; Delta/Iceberg persist
    the schema in the log for the same reason). Returns the data dir
    written."""
    _check_constraints(df, table_dir, scope="write_table")
    dest = _resolve(table_dir)
    if _change_feed_enabled(table_dir) and os.path.isdir(dest) and _walk_parquet(dest):
        # a wholesale overwrite rewrites the CURRENT epoch in place —
        # no epoch bump, so no change-log slot exists for it; silently
        # allowing it would make table_changes_log miss a mutation
        raise ValueError(
            f"{table_dir} has change_feed enabled: write_table would "
            f"overwrite the live epoch without a change log — mutate "
            f"via merge_table / delete_* / update_where instead"
        )
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(dest)
    _save_schema(dest, df.schema)
    _save_manifest(dest, None)
    return dest


def _partition_cols(live: str, files: list[str]) -> list[str]:
    """Hive partition columns of the layout, in nesting order, parsed
    from the ``col=value`` path segments — [] for a flat table. Mixed
    layouts (some files partitioned, some not, or inconsistent orders)
    raise: Spark itself cannot read such a directory coherently."""
    layouts = set()
    for f in files:
        rel = os.path.relpath(f, live)
        cols = tuple(
            seg.split("=", 1)[0] for seg in rel.split(os.sep)[:-1] if "=" in seg
        )
        layouts.add(cols)
    if not layouts:
        return []
    if len(layouts) > 1:
        raise ValueError(
            f"inconsistent hive partition layouts under {live}: {sorted(layouts)}"
        )
    return list(layouts.pop())


def _path_key_value(path: str, live: str, key: str):
    """The ``key=<value>`` segment of a partitioned file's path, or
    None — for merge-key pruning when the merge key IS a partition
    column (partition values never appear in footers)."""
    from urllib.parse import unquote

    for seg in os.path.relpath(path, live).split(os.sep)[:-1]:
        if seg.startswith(f"{key}="):
            return unquote(seg.split("=", 1)[1])
    return None


def table_report(
    table_dir: str,
    *,
    target_file_mb: int = DEFAULT_TARGET_FILE_MB,
    max_files: int = MAX_LIVE_FILES,
    small_frac_threshold: float = SMALL_FILE_FRAC,
) -> dict:
    """Measured should-I-OPTIMIZE signal — metadata only (directory
    listing; no Spark job, no footer data pages). ``should_optimize``
    fires when the live dir exceeds ``max_files`` files or more than
    ``small_frac_threshold`` of files are under half the target size
    (the Delta OPTIMIZE heuristic), with ``reasons`` naming which."""
    live = _resolve(table_dir)
    files = _walk_parquet(live) if os.path.isdir(live) else []
    sizes = [os.path.getsize(p) for p in files]
    total = sum(sizes)
    small = sum(1 for s in sizes if s < target_file_mb * (1 << 20) / 2)
    small_frac = small / len(sizes) if sizes else 0.0
    reasons = []
    if len(sizes) >= max_files:
        reasons.append(f"{len(sizes)} live files >= {max_files}")
    if len(sizes) > 1 and small_frac >= small_frac_threshold:
        reasons.append(
            f"{small}/{len(sizes)} files under {target_file_mb // 2} MB "
            f"({small_frac:.0%}) >= {small_frac_threshold:.0%}"
        )
    return {
        "epoch": read_epoch(table_dir),
        "n_files": len(sizes),
        "total_bytes": total,
        "small_files": small,
        "small_frac": round(small_frac, 6),
        "target_files": max(1, math.ceil(total / (target_file_mb * (1 << 20)))),
        "should_optimize": bool(reasons),
        "reasons": reasons,
    }


def optimize_table(
    spark: SparkSession,
    table_dir: str,
    *,
    target_file_mb: int = DEFAULT_TARGET_FILE_MB,
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 8,
    retention_sec: float = 0.0,
) -> dict:
    """Compact the table into ~``target_file_mb`` files (optionally
    range-clustered on ``cluster_by``, or Z-ORDERED on ``zorder_by``),
    committed as an atomic epoch flip. Returns the pre-rewrite report
    plus the new epoch.

    Steps — every one crash-safe:

    1. measure (``table_report``) → target output file count;
    2. rewrite the live data into an ATTEMPT-UNIQUE staging dir
       (``_cow_commit``): plain ``coalesce`` when unclustered — a
       narrowing, shuffle-free plan — or ``repartitionByRange +
       sortWithinPartitions`` when clustering (one range exchange;
       sampled bounds keep outputs even-sized even on skewed keys);
    3. under ``commit_lock``: re-read the epoch (a concurrent optimizer
       that committed first makes this attempt raise
       ``ConcurrentWriteError`` — and, because staging was private, the
       loser can never have touched the winner's committed data), then
       rename the attempt dir to ``t_ep<epoch+1>`` and flip the pointer;
    4. sweep retired epochs, honoring ``retention_sec`` for
       cross-process readers.

    ``zorder_by`` (mutually exclusive with ``cluster_by``) is Delta's
    ``OPTIMIZE ... ZORDER BY``: quantile-bucketize each key to
    ``zorder_bits`` bits (one ``approxQuantile`` pass — NUMERIC keys
    only, like ``layout.zorder_write`` it delegates to), Morton-
    interleave JVM-side, range-partition + sort on the z-value — so
    min/max footer stats stay tight on EVERY listed column and a
    filter on any one of them skips files, where lexicographic
    ``cluster_by`` prunes only its leading key. On a hive-partitioned
    table the curve is laid WITHIN each partition (exchange + sort on
    ``(partition cols, z)``, global bucket fit — Delta's per-partition
    OPTIMIZE ZORDER); a zorder key that is itself a partition column is
    refused (it is constant per directory already).
    """
    if cluster_by and zorder_by:
        raise ValueError("pass cluster_by OR zorder_by, not both")
    report = table_report(table_dir, target_file_mb=target_file_mb)
    epoch = report["epoch"]
    live = data_dir(table_dir, DATA_NAME, epoch)
    if not os.path.isdir(live):
        raise FileNotFoundError(f"no table data at {live}")
    n_out = report["target_files"]
    pcols = _partition_cols(live, _walk_parquet(live))

    # persisted-schema read (mergeSchema-inference fallback): after a
    # schema-evolving merge the live dir holds mixed-schema files; a
    # single-footer read would DROP the newer columns from the rewrite
    df = _read_epoch_dir(spark, live)
    if zorder_by:
        from ariadne_dbt_spark.operators.layout import zorder_frame

        # on a hive layout the curve composes per Delta's OPTIMIZE
        # ZORDER: exchange + sort on (partition cols, z) so each file's
        # footer z-range is tight INSIDE its directory (zorder_frame
        # refuses a zorder key that IS a partition column)
        out, _zmeta = zorder_frame(
            df,
            list(zorder_by),
            bits=zorder_bits,
            n_files=n_out,
            extra_partition_cols=pcols,
        )
    elif cluster_by:
        # with a hive layout, range-partition on (partition cols,
        # cluster keys): each task holds a contiguous slice WITHIN a
        # partition value, so after the partitionBy write every file's
        # footer range on the cluster key is tight inside its dir
        order = [*pcols, *cluster_by]
        out = df.repartitionByRange(n_out, *order).sortWithinPartitions(*order)
    elif pcols:
        # co-locate each hive partition's rows in one task so the
        # dynamic-partition write emits ~one compacted file per value
        out = df.repartition(n_out, *pcols)
    else:
        out = df.coalesce(n_out)
    # shared attempt-staged commit: rename into t_ep<epoch+1> happens
    # under the lock AFTER the epoch re-check, so a losing concurrent
    # optimizer can never destroy a committed epoch's data
    new_epoch = _cow_commit(table_dir, epoch, live, out, [], pcols, retention_sec, "optimize")
    return {
        **report,
        "new_epoch": new_epoch,
        "clustered_by": cluster_by or [],
        "zordered_by": list(zorder_by) if zorder_by else [],
    }


# ---------------------------------------------------------------------------
# Row-level MERGE (Delta's MERGE INTO, copy-on-write with file pruning)
# ---------------------------------------------------------------------------

#: above this many distinct source keys the per-key footer prune falls
#: back to a single [min,max] range overlap (still conservative)
MERGE_PRUNE_MAX_KEYS = 100_000


def _file_key_bounds(path: str, key: str):
    """``(min, max)`` of ``key`` across one parquet file, from the
    FOOTER only (no data pages). None when the column is absent, any
    row group lacks min/max stats, or the stats aren't comparable —
    callers must treat None as "could contain anything"."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = [md.schema.column(i).name for i in range(len(md.schema))]
    if key not in names:
        return None
    ki = names.index(key)
    lo = hi = None
    for r in range(md.num_row_groups):
        st = md.row_group(r).column(ki).statistics
        if st is None or not st.has_min_max:
            return None
        mn, mx = st.min, st.max
        if isinstance(mn, bytes):
            try:
                mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
            except UnicodeDecodeError:
                return None
        import datetime as _dt

        if isinstance(mn, (_dt.datetime, _dt.date)):
            # timestamp footer stats are UTC instants while collected
            # source keys are session-local naive datetimes — a silent
            # skew if the session isn't UTC. Conservative: no prune on
            # temporal keys (round-9 review).
            return None
        try:
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        except TypeError:
            return None
    return None if lo is None else (lo, hi)


def _prune_touched(files: list[str], key: str, src_keys, src_lo, src_hi, bounds_fn=None):
    """Split ``files`` into (touched, carried) by footer min/max on
    ``key``: a carried file PROVABLY contains no source key (its
    [min,max] excludes every one), so the merge never reads or rewrites
    it. ``src_keys`` is the sorted distinct source-key list when small
    enough to test per-key (exact within the stats' resolution), else
    None → conservative [src_lo, src_hi] range overlap. Files without
    usable stats are always touched — correctness never depends on a
    footer being present. ``bounds_fn`` overrides the footer reader
    (partition-column keys bound by their path value instead)."""
    import bisect

    if bounds_fn is None:
        bounds_fn = lambda f: _file_key_bounds(f, key)  # noqa: E731
    touched, carried = [], []
    for f in files:
        b = bounds_fn(f)
        hit = True
        if b is not None:
            lo, hi = b
            try:
                if src_keys is not None:
                    i = bisect.bisect_left(src_keys, lo)
                    hit = i < len(src_keys) and src_keys[i] <= hi
                else:
                    hit = not (src_hi < lo or src_lo > hi)
            except TypeError:
                hit = True  # incomparable types: stay conservative
        (touched if hit else carried).append(f)
    return touched, carried


def _coerce_partition_value(raw, sample):
    """Coerce a hive path value (always a string) to the python type of
    ``sample`` (a collected source-key value) so it is comparable.
    Returns None — "could be anything" — when coercion fails (e.g.
    ``__HIVE_DEFAULT_PARTITION__`` null dirs)."""
    if raw is None or sample is None:
        return None
    ty = type(sample)
    try:
        if ty is bool:
            return raw.lower() == "true"
        return ty(raw)
    except (ValueError, TypeError):
        return None


def _carry_files(carried: list[str], live: str, staged: str) -> None:
    """Hard-link every untouched live file into the staged epoch dir —
    O(metadata) per file, never a data copy (``copy2`` fallback only if
    the filesystem refuses links). Relative paths are preserved and
    basenames prefixed so a carried file can never collide with the
    merge output Spark just wrote."""
    import shutil as _sh

    for f in carried:
        rel = os.path.relpath(f, live)
        dest = os.path.join(staged, os.path.dirname(rel), f"carry-{os.path.basename(rel)}")
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        try:
            os.link(f, dest)
        except OSError:
            _sh.copy2(f, dest)


#: a writer's attempt dir older than this (by the NEWEST mtime anywhere
#: inside it — a long partitioned write updates nested subdirs, not the
#: top-level dir, so top-level mtime alone would age out a live writer
#: mid-write; round-9 advice) is presumed crashed and collected
ATTEMPT_STALE_SEC = 4 * 3600.0


def _gc_stale_attempts(table_dir: str) -> None:
    """Collect attempt staging dirs abandoned by CRASHED writers — never
    a live concurrent writer's: staleness is judged by the newest mtime
    of the dir's whole contents (Spark's task commits keep touching
    nested files for as long as the write is alive), with a threshold
    far above any sane staged-write duration."""
    import shutil as _sh
    import time as _time

    if not os.path.isdir(table_dir):
        return
    now = _time.time()
    for entry in os.listdir(table_dir):
        if ".attempt-" not in entry:
            continue
        p = os.path.join(table_dir, entry)
        try:
            newest = os.path.getmtime(p)
            for dirpath, _dirs, files in os.walk(p):
                newest = max(newest, os.path.getmtime(dirpath))
                for f in files:
                    newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
            if now - newest > ATTEMPT_STALE_SEC:
                _sh.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def _scrub_retired_stamp(attempt: str) -> None:
    """Drop any ``_retired.json`` from a dir about to become the NEW
    committed epoch. The sweeper now skips attempt dirs entirely, but a
    stamp written by an older binary's sweep (or carried in from a
    retired epoch by restore's hard-links) would ride into the committed
    epoch and let a later sweep delete it the moment it retires —
    silently breaking the retention contract."""
    import contextlib as _ctx

    from ariadne_dbt_spark.operators.epoch_store import _RETIRED_FILE

    with _ctx.suppress(OSError):
        os.remove(os.path.join(attempt, _RETIRED_FILE))


#: per-epoch schema sidecar, written inside each epoch's data dir at
#: commit time; the ``_`` prefix keeps parquet readers off it
_SCHEMA_FILE = "_schema.json"


def _save_schema(epoch_dir: str, schema) -> None:
    import contextlib as _ctx
    import json as _json

    with _ctx.suppress(OSError):
        with open(os.path.join(epoch_dir, _SCHEMA_FILE), "w") as f:
            _json.dump(schema.jsonValue(), f)


def _load_schema(epoch_dir: str):
    """The schema persisted at this epoch's commit, or None for epochs
    written before schema persistence existed (→ callers fall back to
    parquet inference + mergeSchema)."""
    import json as _json

    path = os.path.join(epoch_dir, _SCHEMA_FILE)
    if not os.path.exists(path):
        return None
    try:
        with open(path) as f:
            return StructType.fromJson(_json.load(f))
    except (OSError, ValueError, KeyError, TypeError):
        return None


#: per-epoch FILE-STATS MANIFEST (Iceberg's manifest / Delta's
#: add-file stats, for plain parquet): per file the row count and the
#: min/max bounds of every statable primitive column, captured ONCE at
#: commit time so later MERGEs prune their touched set with ZERO footer
#: IO — at 100 TB "open every live file's footer per merge" is one
#: round-trip per file per merge, the exact planning cost Iceberg's
#: manifests exist to amortize. Carried (hard-linked) files inherit
#: their stats from the previous epoch's manifest (O(metadata)), so
#: commit-time footer reads stay bounded by the REWRITE set.
_MANIFEST_FILE = "_files.json"


def _file_all_bounds(path: str):
    """(rows, {col: [min, max]}) for one parquet file from the FOOTER
    only. A column is included only when every row group has usable,
    comparable, JSON-representable min/max (strings decoded utf-8;
    temporal and binary-undecodable columns excluded — matching the
    conservative rules of :func:`_file_key_bounds`). Parquet's stat
    truncation keeps truncated maxima valid upper bounds, so the
    manifest stays conservative."""
    import datetime as _dt

    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = [md.schema.column(i).name for i in range(len(md.schema))]
    bounds: dict = {}
    dead: set = set()
    for r in range(md.num_row_groups):
        rg = md.row_group(r)
        for ci, name in enumerate(names):
            if name in dead or "." in name:
                continue  # nested leaves carry dotted paths — skip
            st = rg.column(ci).statistics
            if st is None or not st.has_min_max:
                dead.add(name)
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                except UnicodeDecodeError:
                    dead.add(name)
                    continue
            if isinstance(mn, (_dt.datetime, _dt.date)) or not isinstance(
                mn, (int, float, str, bool)
            ):
                dead.add(name)
                continue
            try:
                if name in bounds:
                    lo, hi = bounds[name]
                    bounds[name] = [min(lo, mn), max(hi, mx)]
                else:
                    bounds[name] = [mn, mx]
            except TypeError:
                dead.add(name)
    for name in dead:
        bounds.pop(name, None)
    return md.num_rows, bounds


def _save_manifest(epoch_dir: str, prev_live: str | None) -> None:
    """Write ``_files.json`` for a just-staged epoch dir. Fresh files
    get one footer read each (bounded by the rewrite set); files whose
    basename carries the ``carry-`` hard-link prefix inherit their
    entry from the PREVIOUS epoch's manifest when it has one — zero IO
    for the carried majority of a well-pruned merge. Best-effort: any
    failure leaves no manifest and readers fall back to footers."""
    import contextlib as _ctx
    import json as _json

    prev: dict = {}
    if prev_live is not None:
        m = _load_manifest(prev_live)
        if m:
            prev = m
    files: dict = {}
    # best-effort by contract: a stats failure (unreadable footer, odd
    # types) must never fail the COMMIT — the epoch just ships without
    # a manifest and merges fall back to footer reads
    with _ctx.suppress(Exception):
        for f in _walk_parquet(epoch_dir):
            rel = os.path.relpath(f, epoch_dir)
            base = os.path.basename(rel)
            ent = None
            if base.startswith("carry-"):
                orig = os.path.join(os.path.dirname(rel), base[len("carry-"):])
                ent = prev.get(orig)
            if ent is None:
                rows, bounds = _file_all_bounds(f)
                ent = {"rows": rows, "bounds": bounds}
            files[rel] = ent
        with open(os.path.join(epoch_dir, _MANIFEST_FILE), "w") as f:
            _json.dump({"version": 1, "files": files}, f)


def _load_manifest(epoch_dir: str) -> dict | None:
    """{relpath: {"rows": n, "bounds": {col: [min,max]}}} for a
    committed epoch, or None when absent/unreadable (pre-manifest
    epochs → callers read footers)."""
    import json as _json

    path = os.path.join(epoch_dir, _MANIFEST_FILE)
    if not os.path.exists(path):
        return None
    try:
        with open(path) as f:
            doc = _json.load(f)
        return doc["files"] if doc.get("version") == 1 else None
    except (OSError, ValueError, KeyError, TypeError):
        return None


def _counts_via_observe(spark: SparkSession) -> bool:
    """Whether DML report counts may ride the staged write's
    ``DataFrame.observe`` metrics. CollectMetrics is exactly-once per
    task only when no task runs twice successfully — speculative
    execution launches duplicate attempts whose metric updates can both
    land, silently overcounting the report. With ``spark.speculation``
    on, every DML path must fall back to its dedicated counting job
    (the pre-observe shape): correct counts beat the saved job."""
    try:
        return spark.conf.get("spark.speculation", "false").lower() != "true"
    except Exception:  # conf unreadable: assume the risky side
        return False


def _manifest_bounds_fn(live: str, manifest: dict, key: str):
    """A :func:`_prune_touched` ``bounds_fn`` backed by the committed
    manifest: bounds come from one already-loaded JSON dict instead of
    a footer read per file. A file the manifest missed (or a column it
    could not stat) falls back to the footer / conservative-touched
    path, so pruning correctness never depends on manifest coverage."""

    def bounds(f):
        ent = manifest.get(os.path.relpath(f, live))
        if ent is None:
            return _file_key_bounds(f, key)
        b = ent.get("bounds", {}).get(key)
        return None if b is None else (b[0], b[1])

    return bounds


#: per-table properties beside epoch.json (Delta's table properties);
#: today's one consumer is ``change_feed``
_PROPS_FILE = "_props.json"
#: the commit-op marker written inside every epoch dir by _cow_commit
_COMMIT_MARKER = "_commit.json"
#: an epoch's change-data-feed parquet dir (inside the epoch dir)
_CHANGES_NAME = "_changes"


def set_table_properties(table_dir: str, props: dict) -> None:
    """Persist table properties (Delta's ``TBLPROPERTIES``). Known key:
    ``{"change_feed": True}`` — see :func:`enable_change_feed`."""
    from ariadne_dbt_spark.operators.epoch_store import atomic_write_json

    os.makedirs(table_dir, exist_ok=True)
    atomic_write_json(os.path.join(table_dir, _PROPS_FILE), props)


def get_table_properties(table_dir: str) -> dict:
    import json as _json

    path = os.path.join(table_dir, _PROPS_FILE)
    if not os.path.exists(path):
        return {}
    try:
        with open(path) as f:
            return _json.load(f)
    except (OSError, ValueError):
        return {}


def enable_change_feed(table_dir: str) -> None:
    """Delta's ``delta.enableChangeDataFeed``: from the NEXT mutation
    on, every MERGE / DELETE / UPDATE commit also writes its exact
    change rows (pre/post images + ``_change_type``) into the new
    epoch's ``_changes/`` log — O(batch) extra write per commit, and
    :func:`table_changes_log` then reads churn-sized logs instead of
    diffing two full table versions. Epochs committed BEFORE enabling
    have no log (the log reader says so loudly)."""
    set_table_properties(table_dir, {**get_table_properties(table_dir), "change_feed": True})


def _change_feed_enabled(table_dir: str) -> bool:
    return bool(get_table_properties(table_dir).get("change_feed"))


def _save_commit_marker(epoch_dir: str, op: str) -> None:
    import contextlib as _ctx
    import json as _json

    with _ctx.suppress(OSError):
        with open(os.path.join(epoch_dir, _COMMIT_MARKER), "w") as f:
            _json.dump({"op": op}, f)


def _read_commit_marker(epoch_dir: str) -> str | None:
    import json as _json

    path = os.path.join(epoch_dir, _COMMIT_MARKER)
    if not os.path.exists(path):
        return None
    try:
        with open(path) as f:
            return _json.load(f).get("op")
    except (OSError, ValueError):
        return None


def table_changes_log(
    spark: SparkSession,
    table_dir: str,
    *,
    from_epoch: int,
    to_epoch: int | None = None,
) -> DataFrame:
    """The LOG-BACKED change-data-feed: exact change rows of every
    epoch in ``(from_epoch, to_epoch]``, read from the per-commit
    ``_changes/`` logs :func:`enable_change_feed` turns on — cost is
    O(churn in the range), never a diff of two full table versions
    (that is :func:`table_changes`, the audit path). Each row carries
    the table's columns plus ``_change_type`` (insert / delete /
    update_preimage / update_postimage — Delta's full CDF contract,
    pre-images included, which makes the feed algebraic for downstream
    incremental aggregation) and ``_commit_epoch``.

    Every epoch in the range must still be ON DISK (mutate with
    ``retention_sec`` covering your read cadence — the same rule Delta
    has for CDF vs VACUUM) and must either carry a log or be a
    row-preserving commit (``optimize``). A swept epoch raises
    ``FileNotFoundError``; a pre-change-feed or ``restore`` epoch
    raises ``ValueError`` naming the epoch — fall back to
    :func:`table_changes` version diffing for those ranges."""
    current = read_epoch(table_dir)
    to = current if to_epoch is None else to_epoch
    if to > current:
        raise FileNotFoundError(f"epoch {to} of {table_dir} is not committed")
    frames = []
    for ep in range(from_epoch + 1, to + 1):
        d = data_dir(table_dir, DATA_NAME, ep)
        if not os.path.isdir(d):
            raise FileNotFoundError(
                f"epoch {ep} of {table_dir} was vacuumed — its change log "
                f"is gone; keep retention_sec >= your CDF read cadence"
            )
        cdir = os.path.join(d, _CHANGES_NAME)
        if os.path.isdir(cdir):
            # read through the epoch's persisted schema + _change_type
            # (the exact shape _cow_commit wrote): schema inference
            # paid one footer-listing job PER EPOCH in the range —
            # driver metadata the commit already saved (round 11). The
            # log's part files are named one by one: Spark ignores a
            # path whose last segment starts with `_` and warns on it.
            parts = sorted(_walk_parquet(cdir))
            saved = _load_schema(d)
            if saved is not None:
                from pyspark.sql.types import StringType

                ch_schema = StructType(
                    list(saved.fields) + [StructField("_change_type", StringType())]
                )
                rd = spark.read.schema(ch_schema).parquet(*parts)
            else:
                rd = spark.read.parquet(*parts)
            frames.append(rd.withColumn("_commit_epoch", F.lit(ep).cast("int")))
            continue
        op = _read_commit_marker(d)
        if op == "optimize":
            continue  # row-preserving rewrite: empty change set
        raise ValueError(
            f"epoch {ep} of {table_dir} (op={op or 'unknown'}) has no "
            f"change log — it was committed before enable_change_feed, "
            f"or by an op the log does not cover (restore); use "
            f"table_changes() to diff those versions instead"
        )
    if not frames:
        schema = read_table(spark, table_dir).schema
        empty = local_frame(spark, [], schema)
        return empty.withColumn("_change_type", F.lit("")).withColumn(
            "_commit_epoch", F.lit(0).cast("int")
        ).limit(0)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def _read_epoch_dir(spark: SparkSession, path: str) -> DataFrame:
    """Read one committed epoch dir through its persisted schema when
    present — partition-column TYPES then come from the log, not Spark
    path inference, so a string partition value like ``'01'`` or
    ``'1e3'`` survives a round-trip instead of being silently re-typed
    (round-9 advice; Delta/Iceberg persist the schema the same way).
    Explicit-schema reads also null-fill carried files that predate a
    schema evolution, which is what ``mergeSchema`` bought on the
    inference path."""
    schema = _load_schema(path)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    return spark.read.option("mergeSchema", "true").parquet(path)


def _drop_empty_files(staged: str, *, keep_one: bool) -> None:
    """Remove the 0-row data files a write staged (Spark writes one for
    an empty result so the schema stays readable). They hold no key
    bounds, so every later merge would count them as touched. One stays
    when ``keep_one`` and it would be the epoch's only data file. The
    ``_changes/`` log is not a data dir and keeps its files."""
    import pyarrow.parquet as pq

    fresh = sorted(_walk_parquet(staged))
    empty = [f for f in fresh if pq.read_metadata(f).num_rows == 0]
    if keep_one and len(empty) == len(fresh):
        empty = empty[1:]
    for f in empty:
        os.remove(f)
        crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def _cow_commit(
    table_dir: str,
    epoch: int,
    live: str,
    merged: DataFrame | None,
    carried: list[str],
    pcols: list[str],
    retention_sec: float,
    op: str,
    changes: DataFrame | None = None,
) -> int:
    """The shared copy-on-write commit tail: stage the rewritten rows
    into an ATTEMPT-UNIQUE dir, then — under ``commit_lock``, after the
    epoch re-check — rename it to ``t_ep<epoch+1>`` and flip the
    pointer; sweep with retention. Returns the new epoch. ``merged``
    None stages no rows: the epoch is the ``carried`` files of ``live``
    under ``live``'s persisted schema (restore).

    Why attempt-unique staging (round-9 review): staging straight into
    ``t_ep<epoch+1>`` let a LOSING racer rmtree that path after the
    winner had already committed it — destroying live data before the
    loser's own re-check raised. Now each writer stages privately;
    ``t_ep<epoch+1>`` is only ever created inside the lock by the
    writer that passes the re-check (anything already there belongs to
    a CRASHED attempt — no committed pointer can reference it — and is
    removed under the same lock). A losing racer's attempt dir is
    cleaned up here on the spot; a crashed writer's is swept by later
    commits once it is stale."""
    import shutil as _sh
    import uuid as _uuid

    from ariadne_dbt_spark.operators.epoch_store import ConcurrentWriteError

    staged = data_dir(table_dir, DATA_NAME, epoch + 1)
    attempt = f"{staged}.attempt-{_uuid.uuid4().hex[:12]}"
    _gc_stale_attempts(table_dir)
    changes_tmp = f"{attempt}.changes" if changes is not None else None
    try:
        if merged is not None:
            writer = merged.write.mode("overwrite")
            if pcols:
                writer = writer.partitionBy(*pcols)
            if changes is None:
                writer.parquet(attempt)
            else:
                # the epoch's CHANGE LOG rides inside its own dir: the
                # rename below commits data + log atomically, and Spark's
                # `_` listing convention keeps it out of table reads.
                # The log and the data derive from the SAME persisted
                # row-action frame, so the two writes are independent jobs —
                # submit both at once and the log write
                # back-fills cores the data write's tail leaves idle,
                # instead of paying two sequential job latencies per CDF
                # commit. The log stages into a sibling attempt-unique dir
                # (never inside `attempt`: the data write's own overwrite
                # would race it) and renames in after both land; the
                # sibling carries `.attempt-` in its name so a crashed
                # writer's leftover is swept by _gc_stale_attempts. Both
                # jobs carry the caller's job group and description.
                from concurrent.futures import ThreadPoolExecutor

                from pyspark import inheritable_thread_target

                inherit = inheritable_thread_target(merged.sparkSession)
                with ThreadPoolExecutor(max_workers=2) as pool:
                    f_data = pool.submit(inherit(lambda: writer.parquet(attempt)))
                    f_log = pool.submit(inherit(
                        lambda: changes.write.mode("overwrite").parquet(changes_tmp)
                    ))
                    f_data.result()
                    f_log.result()
                os.rename(changes_tmp, os.path.join(attempt, _CHANGES_NAME))
            _drop_empty_files(attempt, keep_one=not carried)
        _carry_files(carried, live, attempt)
        _scrub_retired_stamp(attempt)
        schema = _load_schema(live) if merged is None else merged.schema
        if schema is not None:
            _save_schema(attempt, schema)
        _save_manifest(attempt, live)
        _save_commit_marker(attempt, op)

        with commit_lock(table_dir):
            now = read_epoch(table_dir)
            if now != epoch:
                raise ConcurrentWriteError(
                    f"table {table_dir} moved to epoch {now} during {op} "
                    f"(started at {epoch}); re-run against the new epoch"
                )
            if os.path.isdir(staged):
                # unreachable by a committed epoch (pointer ≤ epoch):
                # a crashed writer's leftover, safe to drop in the lock
                _sh.rmtree(staged)
            os.rename(attempt, staged)
            commit_epoch(table_dir, epoch + 1)
    except BaseException:
        _sh.rmtree(attempt, ignore_errors=True)
        if changes_tmp is not None:
            _sh.rmtree(changes_tmp, ignore_errors=True)
        raise
    sweep_stale_epochs(table_dir, [DATA_NAME], epoch + 1, retention_sec=retention_sec)
    return epoch + 1


def _touched_by_predicate(
    spark: SparkSession, live: str, files: list[str], pred
) -> tuple[list[str], list[str]]:
    """(touched, carried) for a row predicate, discovered by SCANNING:
    ``input_file_name()`` over the predicate-filtered table names
    exactly the files holding matching rows — and the scan itself is
    footer/partition-pruned by Catalyst, so discovery cost tracks the
    predicate's selectivity, not the table size. (Delta finds its
    rewrite set the same way.)"""
    from urllib.parse import unquote, urlparse

    df = _read_epoch_dir(spark, live)
    hit_uris = [
        r[0]
        for r in df.where(pred).select(F.input_file_name()).distinct().collect()
    ]
    hits = {os.path.abspath(unquote(urlparse(u).path)) for u in hit_uris}
    touched = [f for f in files if os.path.abspath(f) in hits]
    carried = [f for f in files if os.path.abspath(f) not in hits]
    return touched, carried


def _key_bounds_fn(live: str, pcols: list[str], key0: str, sample):
    """The :func:`_prune_touched` ``bounds_fn`` for ``key0``: a point
    bound from the path when ``key0`` is a hive partition column (its
    values never appear in footers; coerced to ``sample``'s python type,
    coercion failure → touched), else the committed manifest (one JSON
    read, zero footer IO — Iceberg's manifest economics), else None
    (footer reads)."""
    if key0 in pcols:

        def bounds(f):
            v = _coerce_partition_value(_path_key_value(f, live, key0), sample)
            return None if v is None else (v, v)

        return bounds
    manifest = _load_manifest(live)
    return None if manifest is None else _manifest_bounds_fn(live, manifest, key0)


def _read_files(
    spark: SparkSession, live: str, files: list[str], schema, pcols: list[str]
) -> DataFrame:
    """``files`` of the live epoch read through ``schema`` (an empty
    frame when there are none). basePath keeps the path-derived
    partition columns — without it an explicit file-list read silently
    null-fills them."""
    if not files:
        return local_frame(spark, [], schema)
    reader = spark.read.schema(schema)
    if pcols:
        reader = reader.option("basePath", live)
    return reader.parquet(*files)


def read_table_for_keys(
    spark: SparkSession, table_dir: str, key0: str, k0_vals
) -> DataFrame:
    """Read the live epoch PRUNED to the files whose ``key0`` stats may
    contain any of ``k0_vals`` — :func:`merge_table`'s footer/manifest
    prune exposed as a read. The contract is the prune's: every row
    whose ``key0`` is in ``k0_vals`` is returned (pruning is
    conservative — missing stats mark a file touched), but rows with
    OTHER keys from the same files ride along, so callers must join or
    filter. This is what makes a key-driven read-modify-write cycle
    (the incremental-view fold) O(touched files) instead of O(table):
    keep the table clustered on ``key0`` and the read tracks the keys,
    not the table size."""
    epoch = read_epoch(table_dir)
    live = data_dir(table_dir, DATA_NAME, epoch)
    if not os.path.isdir(live):
        raise FileNotFoundError(f"no table data at {live}")
    files = _walk_parquet(live)
    pcols = _partition_cols(live, files)
    src_keys = sorted({v for v in k0_vals if v is not None})
    sample = src_keys[0] if src_keys else None
    # an EMPTY key list prunes to the empty read (bisect on [] never
    # hits), with stats-less files still conservatively touched — it
    # must NOT degrade to src_keys=None, which means "range-only test"
    # and would full-scan the table for a zero-key caller
    touched, _carried = _prune_touched(
        files, key0, src_keys, sample, src_keys[-1] if src_keys else None,
        _key_bounds_fn(live, pcols, key0, sample),
    )
    schema = _load_schema(live)
    if schema is None:
        schema = _read_epoch_dir(spark, live).schema
    return _read_files(spark, live, touched, schema, pcols)


# ---------------------------------------------------------------------------
# The row-action plan every DML compiles to. A DML builds ONE frame over
# its rewrite set: the post-image columns, a ``_tag`` per row — ``k``
# keep, ``u`` update, ``d`` delete, ``i`` insert — and, for ``u`` rows,
# the pre-image struct ``_pre``. :func:`_commit_actions` derives the
# staged write, the report counts, the change log and the constraint
# check from that one frame (the shared-intermediate pattern of
# operator fusion: build once, let every consumer read it).
# ---------------------------------------------------------------------------

_TAG = "_tag"
_PRE = "_pre"


def _commit_actions(
    spark: SparkSession,
    table_dir: str,
    epoch: int,
    live: str,
    frame: DataFrame,
    carried: list[str],
    pcols: list[str],
    retention_sec: float,
    op: str,
    *,
    check: bool,
) -> tuple[int, dict]:
    """Commit a row-action frame; returns ``(new_epoch, counts)`` with
    counts ``{"u": updated, "d": deleted, "i": inserted}``.

    * staged write: the post-images of every row not tagged ``d``;
    * counts: one ``observe`` over the tags BEFORE the ``d`` rows drop
      out, riding the staged write (zero extra jobs) — or, with
      ``spark.speculation`` on (duplicate task attempts can double-land
      CollectMetrics updates, :func:`_counts_via_observe`), one
      aggregate job over the same expressions;
    * change log (change feed on): pre-images of ``u``/``d`` rows,
      post-images of ``u``/``i`` rows, one pass over the frame;
    * CHECK constraints (``check``) on the staged rows — the rewrite
      set only: carried files committed under them already.

    The frame is persisted for the commit: the constraint check, the
    count fallback and the two concurrent writes all read it, so the
    joins and broadcasts behind it run once. Persisting also keeps the
    metric node in the write's plan: over a cached relation the
    optimizer cannot fold the ``_tag != 'd'`` filter to false when every
    row is a delete (which would prune the CollectMetrics node and leave
    ``Observation.get`` waiting forever)."""
    from pyspark.sql import Observation

    cdf_on = _change_feed_enabled(table_dir)
    if not cdf_on and _PRE in frame.columns:
        frame = frame.drop(_PRE)
    cols = [c for c in frame.columns if c not in (_TAG, _PRE)]
    tag = F.col(_TAG)
    counts = [F.count(F.when(tag == t, True)).alias(t) for t in "udi"]
    frame = frame.persist()
    try:
        obs = Observation() if _counts_via_observe(spark) else None
        staged = (frame if obs is None else frame.observe(obs, *counts)).where(tag != "d")
        staged = staged.select(*cols)
        changes = None
        if cdf_on:
            post = F.struct(*cols)
            row_type = StructType(
                [StructField(c, frame.schema[c].dataType, True) for c in cols]
            )

            def image(row, change_type):
                return F.struct(row.cast(row_type).alias("r"), F.lit(change_type).alias("c"))

            images = F.when(tag == "d", F.array(image(post, "delete"))).otherwise(
                F.array(image(post, "insert"))
            )
            if _PRE in frame.columns:
                images = F.when(
                    tag == "u",
                    F.array(
                        image(F.col(_PRE), "update_preimage"),
                        image(post, "update_postimage"),
                    ),
                ).otherwise(images)
            changes = (
                frame.where(tag != "k")
                .select(F.explode(images).alias("e"))
                .select("e.r.*", F.col("e.c").alias("_change_type"))
            )
        if check:
            _check_constraints(staged, table_dir, scope=op)
        n = None if obs is not None else frame.agg(*counts).collect()[0].asDict()
        new_epoch = _cow_commit(
            table_dir, epoch, live, staged, carried, pcols, retention_sec, op, changes=changes
        )
        if n is None:
            # filled by the staged write (or the constraint agg, whichever
            # ran first — the same rows either way): no job of its own
            n = obs.get
    finally:
        frame.unpersist()
    return new_epoch, {t: int(n[t]) for t in "udi"}


def _fits_broadcast(spark: SparkSession, df: DataFrame, n_rows: int) -> bool:
    """Whether ``n_rows`` rows of ``df`` fit under Spark's own
    ``spark.sql.autoBroadcastJoinThreshold``, each row sized the way the
    planner sizes one without statistics: 8 bytes of row overhead plus
    the schema's default column widths."""
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return n_rows * (8 + df._jdf.schema().defaultSize()) <= limit


def merge_table(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    keys: list[str],
    *,
    when_matched: str | None = "update",
    when_not_matched: str | None = "insert",
    when_not_matched_by_source: str | None = None,
    when_matched_condition=None,
    source_delete_condition=None,
    merge_schema: bool = False,
    retention_sec: float = 0.0,
    prune_max_keys: int = MERGE_PRUNE_MAX_KEYS,
    source_key_stats: dict | None = None,
) -> dict:
    """Row-level MERGE INTO the managed table — Delta's upsert/delete
    primitive, as a copy-on-write epoch flip whose cost is
    **O(source + touched files)**, never O(table).

    ``when_matched``: ``"update"`` (source row replaces the matched
    target row), ``"delete"`` (matched target row is removed), or None
    (matched target rows are left untouched and the matching source
    rows are ignored). ``when_not_matched``: ``"insert"`` or None.

    ``when_not_matched_by_source="delete"`` (Delta's third clause): a
    target row whose key appears in NO source row is deleted — the
    full-snapshot-sync pattern (source = the complete new state; the
    merge becomes upsert + reap-the-vanished). This clause inherently
    disables the footer prune: EVERY target row must be checked against
    the source, so the whole table is rewritten — the same caveat
    Delta's documentation carries. Don't use it for incremental
    batches; that's what plain upsert + ``delete_keys`` are for.

    ``source_delete_condition`` (Delta's ``WHEN MATCHED AND cond THEN
    DELETE`` fused beside the update/insert clauses): a boolean
    expression over SOURCE columns. A delete-flagged source row deletes
    its matched target rows and never inserts; other source rows follow
    the normal update/insert clauses. One epoch flip where a separate
    upsert + ``delete_keys`` pays two — the incremental-view refresh
    shape (live groups upsert, dead groups delete). Composes only with
    plain ``when_matched="update"``.

    ``when_matched_condition`` (Delta's conditional clause): a boolean
    SQL expression (or Column) over the aliases ``s`` (source) and
    ``t`` (target), e.g. ``"s.ts >= t.ts"`` — the matched action
    applies only to pairs where it holds; pairs where it is false or
    NULL keep the target row untouched (and for ``"update"`` drop the
    source row). This is what makes an upsert MONOTONIC by an ordering
    column: replaying an old batch can never overwrite newer data, so
    a foreachBatch upsert stream becomes exactly-once by idempotence
    (see ``streaming/table_stream.py``). Unmatched-source inserts are
    unaffected by the condition.

    Why this scales to 100 TB while "read table, join, rewrite" does
    not: the table's live files are split by their parquet footer
    min/max on ``keys[0]`` against the source's distinct keys
    (:func:`_prune_touched`). A daily upsert whose keys land in
    recently-written files rewrites only those files; every other file
    is hard-linked into the new epoch unchanged (O(metadata), the moral
    equivalent of Delta re-listing an unchanged file in the new commit).
    Keep the table clustered on the merge key (``optimize_table
    cluster_by=keys``) and the touched set stays proportional to the
    source, not the table. Pruning is CONSERVATIVE by construction —
    missing/incomparable stats mark the file touched — so results never
    depend on footer quality, only cost does.

    The clauses compile to ONE row-action frame (:func:`_commit_actions`):
    the touched target rows left-join the source once and each row is
    tagged keep / update / delete from the clauses; the insert arm is
    the source anti-joined on the touched target keys. A carried file
    provably contains no source key, so every match lives in the
    touched set. The staged write, the change log and the report counts
    all derive from that frame — the counts are the tags, so a merge
    that deletes counts its deleted rows without a job of its own.

    Commit protocol is :func:`optimize_table`'s: staged rewrite into
    ``t_ep<k+1>`` (a crashed attempt's leftovers are removed on retry),
    pointer flip under ``commit_lock`` with an epoch re-check
    (concurrent writer → ``ConcurrentWriteError``), vacuum with
    ``retention_sec`` for cross-process readers — so MERGE, OPTIMIZE,
    and time travel share one linear version history.

    Source contract: columns must cover the target's (they are
    cast/reordered to the target schema) and ``keys`` must be unique in
    the source — two source rows for one key is ambiguous (which one
    wins?), so it raises, exactly like Delta's
    ``MultipleMatchesException``. A merge that writes no source value
    (no update, no insert clause — :func:`delete_keys` is one) needs
    only the key columns plus whatever ``when_matched_condition``
    reads. The TARGET may hold several rows for one key: like Delta,
    EVERY matched target row is acted on — an update rewrites each of
    the N rows with the source row's values (row count preserved,
    never collapsed to one), a delete removes all N.
    The source is persisted for the duration and unpersisted before
    returning.

    ``source_key_stats`` lets a caller that already holds the source's
    distinct keys driver-side (e.g. the incremental-view refresh, which
    collects its per-group delta rows to validate the fold anyway) skip
    this commit's own probe job: ``{"keys0": [...], "n_rows": n}`` with
    the probe's contract — keys0 is every distinct non-NULL ``keys[0]``
    value and ``keys`` are unique per source row.

    ``merge_schema=True`` (Delta's ``mergeSchema``) lets the source ADD
    columns: the table schema widens, touched files are rewritten with
    the new column, and CARRIED files stay hard-linked untouched —
    ``read_table`` reads with parquet ``mergeSchema`` so pre-evolution
    files null-fill. Add-column is therefore metadata-only for
    untouched data, like Delta's. Without the flag, extra source
    columns raise.

    Returns a report: epoch movement, files touched/carried, and
    rows_updated / rows_deleted / rows_inserted counts.

    Reference parity: none — the reference rebuilds wholesale
    (``src/ariadne_dbt/indexer.py:472-485``); §8 scale extension.
    """
    if when_matched not in ("update", "delete", None):
        raise ValueError(f"when_matched must be update|delete|None, got {when_matched!r}")
    if when_not_matched not in ("insert", None):
        raise ValueError(f"when_not_matched must be insert|None, got {when_not_matched!r}")
    if when_not_matched_by_source not in ("delete", None):
        raise ValueError(
            f"when_not_matched_by_source must be delete|None, got {when_not_matched_by_source!r}"
        )
    if when_matched is None and when_not_matched is None and when_not_matched_by_source is None:
        raise ValueError("merge with no clause at all is a no-op")
    if not keys:
        raise ValueError("merge needs at least one key column")
    if source_delete_condition is not None and (
        when_matched != "update"
        or when_matched_condition is not None
        or when_not_matched_by_source is not None
    ):
        raise ValueError(
            "source_delete_condition composes only with the plain "
            "when_matched='update' clause (no when_matched_condition / "
            "when_not_matched_by_source)"
        )

    epoch = read_epoch(table_dir)
    live = data_dir(table_dir, DATA_NAME, epoch)
    if not os.path.isdir(live):
        raise FileNotFoundError(f"no table data at {live}")
    files = _walk_parquet(live)
    target_schema = _read_epoch_dir(spark, live).schema
    writes_source = when_matched == "update" or when_not_matched == "insert"
    missing = [
        f.name
        for f in target_schema.fields
        if f.name not in source.columns and (writes_source or f.name in keys)
    ]
    if missing:
        raise ValueError(f"source is missing target columns: {missing}")
    target_names = {f.name for f in target_schema.fields}
    extra = [c for c in source.columns if c not in target_names]
    if extra and not merge_schema:
        raise ValueError(
            f"source carries columns the table lacks: {extra} — pass "
            f"merge_schema=True to evolve the table schema (metadata-"
            f"only: carried files are null-filled on read)"
        )
    sel = [
        F.col(f.name).cast(f.dataType).alias(f.name)
        for f in target_schema.fields
        if f.name in source.columns
    ]
    src = source.select(sel + [F.col(c) for c in extra]).persist()
    # the (possibly widened) schema this merge writes; reading touched
    # files through it null-fills columns they predate
    if extra:
        target_schema = StructType(
            target_schema.fields + [src.schema[c] for c in extra]
        )
    cols = target_schema.fieldNames()
    try:
        key0 = keys[0]
        # ONE bounded action for source stats + prune keys:
        # the per-key grouped counts LIMITed to the prune cap yield the
        # distinct keys, the uniqueness check, the row count and the key0
        # range together. Only a source beyond ``prune_max_keys`` pays a
        # second (stats-only) aggregate and skips per-key pruning. A
        # caller-supplied ``source_key_stats`` skips the probe;
        # its contract is the probe's, so only callers that derived the
        # list from the source itself may pass it.
        if source_key_stats is not None:
            n_src = int(source_key_stats["n_rows"])
            src_keys = sorted(set(source_key_stats["keys0"]))
        else:
            krows = (
                src.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("_c"))
                .limit(prune_max_keys + 1)
                .collect()
            )
            if len(krows) <= prune_max_keys:
                n_src, n_keys = sum(r["_c"] for r in krows), len(krows)
                src_keys = sorted({r[key0] for r in krows if r[key0] is not None})
            else:
                stats = src.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count_distinct(F.struct(*keys)).alias("k"),
                    F.min(key0).alias("lo"),
                    F.max(key0).alias("hi"),
                ).collect()[0]
                n_src, n_keys = stats["n"], stats["k"]
                src_keys, src_lo, src_hi = None, stats["lo"], stats["hi"]
            if n_keys != n_src:
                raise ValueError(
                    f"source keys are not unique: {n_src} rows, {n_keys} distinct "
                    f"{keys} — pre-aggregate the source (last-wins etc.) first"
                )
        if src_keys is not None:
            src_lo, src_hi = (src_keys[0], src_keys[-1]) if src_keys else (None, None)
        pcols = _partition_cols(live, files)
        if when_not_matched_by_source is not None:
            # every target row must be checked against the source —
            # pruning is structurally impossible for this clause
            touched, carried = list(files), []
        else:
            touched, carried = _prune_touched(
                files, key0, src_keys, src_lo, src_hi,
                _key_bounds_fn(live, pcols, key0, src_lo),
            )
        tdf = _read_files(spark, live, touched, target_schema, pcols)

        s = src
        if source_delete_condition is not None:
            sdc = source_delete_condition
            sdc = F.expr(sdc) if isinstance(sdc, str) else sdc
            s = s.withColumn("_sdel", F.coalesce(sdc, F.lit(False)))
        # deliberate join strategy: the target side can be
        # arbitrarily large, so the one full-width source join builds on
        # the source when the probe proved it small — by key count (the
        # incremental-batch contract) AND by estimated bytes against
        # Spark's own broadcast threshold. A key-only source (delete_keys)
        # is as narrow as the probe's own rows and always qualifies.
        small = src_keys is not None and (
            set(src.columns) <= set(keys) or _fits_broadcast(spark, s, n_src)
        )
        j = tdf.alias("t").join(
            (F.broadcast(s) if small else s).alias("s"),
            [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys],
            "left",
        )
        # the equi-join never matches a NULL key, so a non-NULL source
        # key marks a matched pair
        matched = F.col(f"s.{key0}").isNotNull()
        act = F.lit("k")
        if when_matched is not None:
            act = F.lit("u" if when_matched == "update" else "d")
            if when_matched_condition is not None:
                cond = when_matched_condition
                cond = F.expr(cond) if isinstance(cond, str) else cond
                act = F.when(F.coalesce(cond, F.lit(False)), act).otherwise("k")
        if source_delete_condition is not None:
            act = F.when(F.col("s._sdel"), "d").otherwise(act)
        tag = F.when(matched, act).otherwise(
            "d" if when_not_matched_by_source is not None else "k"
        )
        t_row = [F.col(f"t.{c}") for c in cols]
        if when_matched == "update":
            frame = j.select(
                *[F.when(tag == "u", F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
                  for c in cols],
                tag.alias(_TAG),
                F.when(tag == "u", F.struct(*t_row)).alias(_PRE),
            )
        else:
            frame = j.select(*t_row, tag.alias(_TAG))
        if when_not_matched == "insert":
            if source_delete_condition is not None:
                s = s.where(~F.col("_sdel"))
            ins = s.join(tdf.select(*keys), keys, "left_anti").select(*cols, F.lit("i").alias(_TAG))
            if _PRE in frame.columns:
                ins = ins.withColumn(_PRE, F.lit(None).cast(frame.schema[_PRE].dataType))
            frame = frame.unionByName(ins)
        new_epoch, n = _commit_actions(
            spark, table_dir, epoch, live, frame, carried, pcols, retention_sec,
            "merge", check=True,
        )
        return {
            "epoch": epoch,
            "new_epoch": new_epoch,
            "n_files": len(files),
            "n_files_touched": len(touched),
            "n_files_carried": len(carried),
            "rows_source": n_src,
            "rows_updated": n["u"],
            "rows_deleted": n["d"],
            "rows_inserted": n["i"],
            "schema_evolved": extra if merge_schema else [],
        }
    finally:
        src.unpersist()


def delete_keys(
    spark: SparkSession,
    table_dir: str,
    keys_df: DataFrame,
    keys: list[str],
    *,
    retention_sec: float = 0.0,
) -> dict:
    """Row-level DELETE by key — :func:`merge_table` with a
    delete-matched / ignore-unmatched source, so it inherits the footer
    prune (only files that can contain a doomed key are rewritten), the
    crash-safe flip, and the version history. The right-to-be-forgotten
    path for managed TABLES, complementing the serving indexes'
    ``forget_documents``."""
    return merge_table(
        spark,
        table_dir,
        # a delete-only merge writes no source value, so the key frame
        # goes in as it is. distinct(): a forget feed naturally repeats
        # ids, and delete-by-key is idempotent per key, so duplicates
        # should not trip merge's uniqueness refusal
        keys_df.select(*keys).distinct(),
        keys,
        when_matched="delete",
        when_not_matched=None,
        retention_sec=retention_sec,
    )


def delete_where(
    spark: SparkSession,
    table_dir: str,
    predicate,
    *,
    retention_sec: float = 0.0,
) -> dict:
    """DELETE FROM the managed table by row predicate (a Column or SQL
    string) — COW: the rewrite set is discovered by an actual
    predicate-filtered scan over ``input_file_name()``
    (:func:`_touched_by_predicate`), so Catalyst's footer and partition
    pruning bound the discovery cost by the predicate's selectivity;
    files with no matching row are hard-linked into the new epoch
    untouched. NULL predicate rows are kept (SQL semantics: only rows
    where the predicate IS TRUE are deleted)."""
    return _rewrite_where(spark, table_dir, predicate, None, retention_sec)


def update_where(
    spark: SparkSession,
    table_dir: str,
    set_exprs: dict,
    predicate,
    *,
    retention_sec: float = 0.0,
) -> dict:
    """UPDATE the managed table: ``set_exprs`` maps column name →
    Column/SQL-string expression, applied to rows where ``predicate``
    IS TRUE; all other rows (including NULL-predicate rows) keep their
    values. Same COW shape as :func:`delete_where` — only files with a
    matching row are rewritten; unknown SET columns raise (use
    ``merge_table(merge_schema=True)`` to add columns)."""
    if not set_exprs:
        raise ValueError("update_where needs at least one SET column")
    return _rewrite_where(spark, table_dir, predicate, set_exprs, retention_sec)


def _rewrite_where(
    spark: SparkSession, table_dir: str, predicate, set_exprs: dict | None, retention_sec: float
) -> dict:
    """The predicate DMLs' row-action frame: the touched rows tagged by
    the predicate (``d`` for a delete, ``u`` with the SET post-image for
    an update, ``k`` where it is false or NULL), committed through
    :func:`_commit_actions`."""
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    epoch = read_epoch(table_dir)
    live = data_dir(table_dir, DATA_NAME, epoch)
    if not os.path.isdir(live):
        raise FileNotFoundError(f"no table data at {live}")
    files = _walk_parquet(live)
    pcols = _partition_cols(live, files)
    touched, carried = _touched_by_predicate(spark, live, files, pred)
    tdf = _read_files(spark, live, touched, _read_epoch_dir(spark, live).schema, pcols)
    hit = F.coalesce(pred, F.lit(False))
    if set_exprs is None:
        frame = tdf.withColumn(_TAG, F.when(hit, "d").otherwise("k"))
    else:
        unknown = [c for c in set_exprs if c not in tdf.columns]
        if unknown:
            raise ValueError(f"SET columns not in the table: {unknown}")
        exprs = {c: F.expr(e) if isinstance(e, str) else e for c, e in set_exprs.items()}
        # one projection: the predicate and the SET expressions all see
        # the ORIGINAL values (post-SET rows may no longer match it)
        frame = tdf.select(
            *[
                F.when(hit, exprs[c]).otherwise(F.col(c)).alias(c) if c in exprs else F.col(c)
                for c in tdf.columns
            ],
            F.when(hit, "u").otherwise("k").alias(_TAG),
            F.when(hit, F.struct(*tdf.columns)).alias(_PRE),
        )
    op = "delete_where" if set_exprs is None else "update_where"
    # deletes only remove rows; updates can introduce violations
    new_epoch, n = _commit_actions(
        spark, table_dir, epoch, live, frame, carried, pcols, retention_sec,
        op, check=set_exprs is not None,
    )
    return {
        "epoch": epoch,
        "new_epoch": new_epoch,
        "n_files": len(files),
        "n_files_touched": len(touched),
        "n_files_carried": len(carried),
        "rows_deleted": n["d"],
        "rows_updated": n["u"],
    }


def clone_table(table_dir: str, dest_dir: str, *, epoch: int | None = None) -> dict:
    """Zero-copy SHALLOW CLONE (Delta's ``CLONE``): hard-link the
    chosen (default current) epoch's files into ``dest_dir`` as a fresh
    managed table at epoch 0 — O(metadata), no bytes moved. The clone
    then evolves independently: every mutation on either side is a
    whole-file COW rewrite into a NEW epoch dir, so linked bytes are
    never modified in place and divergence is automatic. The dev/test-
    against-prod snapshot pattern, without a second copy of the data."""
    src_epoch = read_epoch(table_dir) if epoch is None else epoch
    live = data_dir(table_dir, DATA_NAME, src_epoch)
    if epoch is not None and (epoch > read_epoch(table_dir) or not os.path.isdir(live)):
        raise FileNotFoundError(
            f"epoch {epoch} of {table_dir} is not a committed version on disk"
        )
    if not os.path.isdir(live):
        raise FileNotFoundError(f"no table data at {live}")
    if os.path.isdir(dest_dir) and (
        _walk_parquet(dest_dir) or read_epoch(dest_dir) != 0
    ):
        # a stale epoch pointer would make readers resolve t_ep<k>
        # while the clone links into t — refuse rather than produce an
        # unreadable "successful" clone
        raise ValueError(
            f"clone destination {dest_dir} already holds data or an epoch pointer"
        )
    dest_live = data_dir(dest_dir, DATA_NAME, 0)
    files = _walk_parquet(live)
    _carry_files(files, live, dest_live)
    sch = _load_schema(live)
    if sch is not None:
        _save_schema(dest_live, sch)
    _save_manifest(dest_live, live)
    # CLONE carries table metadata: CHECK constraints follow the data
    cons = get_constraints(table_dir)
    if cons:
        set_constraints(dest_dir, cons)
    return {
        "source": table_dir,
        "source_epoch": src_epoch,
        "dest": dest_dir,
        "n_files_linked": len(files),
    }


def restore_table(table_dir: str, epoch: int, *, retention_sec: float = 0.0) -> dict:
    """Delta's ``RESTORE``: make a RETAINED historical epoch the
    current version again — the undo for a bad merge/delete/optimize.
    History stays linear: the old epoch's files are hard-linked into a
    fresh ``t_ep<current+1>`` (O(metadata), nothing re-read) and the
    pointer flips forward under the same attempt-staged commit protocol
    every other mutation uses, so concurrent writers and crash-retries
    behave identically and the restored-FROM epoch remains time-travel
    readable under retention. Requires the target epoch to still be on
    disk (``table_history``); a swept epoch cannot be restored —
    retention is what makes restore possible, and :func:`vacuum_table`
    is what takes it away."""
    current = read_epoch(table_dir)
    src = data_dir(table_dir, DATA_NAME, epoch)
    if epoch > current or not os.path.isdir(src):
        raise FileNotFoundError(
            f"epoch {epoch} of {table_dir} is not a committed version on "
            f"disk; retained: {[h['epoch'] for h in table_history(table_dir)]}"
        )
    if epoch == current:
        return {"epoch": current, "new_epoch": current, "n_files_linked": 0}
    # every file of the restored epoch is carried (hard-linked) and it
    # keeps the schema it was committed under
    files = _walk_parquet(src)
    new_epoch = _cow_commit(table_dir, current, src, None, files, [], retention_sec, "restore")
    return {"epoch": current, "new_epoch": new_epoch, "n_files_linked": len(files)}


def vacuum_table(
    table_dir: str, *, retention_sec: float = 0.0, dry_run: bool = False
) -> dict:
    """Explicit vacuum: sweep retired epoch dirs older than
    ``retention_sec`` (by their retirement stamp) without performing
    any rewrite — the standalone form of the sweep every mutation
    already runs. Returns the retained history after the sweep.

    ``dry_run=True`` (Delta's ``VACUUM ... DRY RUN``): delete nothing;
    report instead, per retired epoch, whether THIS retention would
    remove it — the look-before-you-leap face of the destructive knob.
    Epochs not yet stamped would survive one more sweep regardless (the
    first sweep only starts their retention clock)."""
    import time as _time

    if dry_run:
        now = _time.time()
        report = []
        for h in table_history(table_dir):
            if h["is_current"]:
                continue
            ra = h.get("retired_at")
            would_delete = retention_sec <= 0 or (ra is not None and now - ra >= retention_sec)
            report.append(
                {
                    "epoch": h["epoch"],
                    "n_files": h["n_files"],
                    "total_bytes": h["total_bytes"],
                    "retired_at": ra,
                    "age_sec": None if ra is None else round(now - ra, 1),
                    "would_delete": bool(would_delete),
                }
            )
        return {
            "table_dir": table_dir,
            "dry_run": True,
            "retention_sec": retention_sec,
            "candidates": report,
            "history": table_history(table_dir),
        }
    sweep_stale_epochs(
        table_dir, [DATA_NAME], read_epoch(table_dir), retention_sec=retention_sec
    )
    return {"table_dir": table_dir, "history": table_history(table_dir)}


#: per-table CHECK constraints live here, beside epoch.json
_CONSTRAINTS_FILE = "constraints.json"


class ConstraintViolation(ValueError):
    """A write would commit rows failing a table CHECK constraint; the
    committed epoch is untouched."""


def set_constraints(table_dir: str, constraints: dict[str, str]) -> None:
    """Persist named CHECK constraints (name → boolean SQL expression
    over the row, e.g. ``{"price_pos": "price > 0"}``). Every
    subsequent ``write_table`` / ``merge_table`` / ``update_where``
    verifies the rows it is about to commit and raises
    ``ConstraintViolation`` (old epoch intact) on any failure — NULL
    evaluations count as violations, like Delta's CHECK. Pass ``{}`` to
    drop enforcement."""
    from ariadne_dbt_spark.operators.epoch_store import atomic_write_json

    os.makedirs(table_dir, exist_ok=True)
    atomic_write_json(os.path.join(table_dir, _CONSTRAINTS_FILE), constraints)


def get_constraints(table_dir: str) -> dict[str, str]:
    import json

    path = os.path.join(table_dir, _CONSTRAINTS_FILE)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _check_constraints(df: DataFrame, table_dir: str, *, scope: str) -> None:
    """One pass over the rows about to be committed: count failures of
    every constraint (NULL → failure) and raise naming the worst. Cost
    is bounded by the rewrite set (``scope`` says which), never the
    table."""
    cons = get_constraints(table_dir)
    if not cons:
        return
    counts = df.agg(
        *[
            F.sum(
                F.when(~F.coalesce(F.expr(expr), F.lit(False)), 1).otherwise(0)
            ).alias(name)
            for name, expr in cons.items()
        ]
    ).collect()[0]
    bad = {name: counts[name] for name in cons if (counts[name] or 0) > 0}
    if bad:
        raise ConstraintViolation(
            f"{scope} would commit rows violating CHECK constraints "
            f"{ {n: f'{c} rows' for n, c in bad.items()} } on {table_dir}; "
            f"epoch unchanged"
        )


def table_changes(
    spark: SparkSession,
    table_dir: str,
    keys: list[str],
    *,
    from_epoch: int,
    to_epoch: int | None = None,
    with_preimages: bool = False,
) -> DataFrame:
    """Change-data-feed between two RETAINED versions: per key, did the
    row appear (``insert``), disappear (``delete``), or change
    (``update_postimage``)? Emits the post-image columns (pre-image for
    deletes) plus ``_change_type`` — the downstream-sync contract
    Delta's CDF serves, derived here by diffing epochs that vacuum
    retention kept on disk, so it needs no per-write change log.

    ``with_preimages=True`` matches Delta's full CDF row contract: an
    updated key emits TWO rows — ``update_preimage`` (the old values)
    then ``update_postimage`` (the new) — which is what makes the feed
    ALGEBRAIC for downstream incremental aggregation: every change row
    carries a sign (+ for insert/update_postimage, − for delete/
    update_preimage) and any SUM/COUNT view folds the feed without
    consulting its base rows (see ``operators/incremental_view.py``).

    Unchanged rows are detected by a null-safe ``xxhash64`` over the
    non-key columns (a 64-bit fingerprint collision would suppress one
    update — negligible and disclosed). Cost is one shuffle join of the
    two versions: this is the AUDIT path between retained versions;
    high-frequency CDC should tail the per-merge reports instead."""
    from pyspark.sql import functions as F

    old = read_table(spark, table_dir, epoch=from_epoch)
    new = read_table(
        spark,
        table_dir,
        epoch=read_epoch(table_dir) if to_epoch is None else to_epoch,
    )
    value_cols = [c for c in new.columns if c not in keys]
    # schema evolution: a column added after from_epoch is missing from
    # the old read — null-pad it (pre-evolution rows carry NULL there,
    # which is also what the union read reports)
    for f in new.schema.fields:
        if f.name not in old.columns:
            old = old.withColumn(f.name, F.lit(None).cast(f.dataType))
    # keys-only table: no value fingerprint (only insert/delete possible)
    fp_cols = [
        F.coalesce(F.col(c).cast("string"), F.lit("\0null")) for c in value_cols
    ] or [F.lit("")]
    struct_cols = value_cols or keys[:1]
    fp = lambda df: df.select(  # noqa: E731
        *keys,
        F.xxhash64(*fp_cols).alias("_fp"),
        F.struct(*struct_cols).alias("_row"),
    )
    o, n = fp(old).alias("o"), fp(new).alias("n")
    j = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("o._fp").isNull(), F.lit("insert"))
        .when(F.col("n._fp").isNull(), F.lit("delete"))
        .when(F.col("o._fp") != F.col("n._fp"), F.lit("update_postimage"))
    )
    if with_preimages:
        # an update explodes to its (preimage, postimage) pair; the
        # explode stays on the join's partitioning — no extra shuffle
        pair = F.when(
            change == "update_postimage",
            F.array(
                F.struct(
                    F.lit("update_preimage").alias("_ct"),
                    F.col("o._row").alias("_r"),
                ),
                F.struct(
                    F.lit("update_postimage").alias("_ct"),
                    F.col("n._row").alias("_r"),
                ),
            ),
        ).otherwise(
            F.array(
                F.struct(
                    change.alias("_ct"),
                    F.coalesce(F.col("n._row"), F.col("o._row")).alias("_r"),
                )
            )
        )
        out = (
            j.where(change.isNotNull())
            .select(*keys, F.explode(pair).alias("_e"))
            .select(
                *keys,
                F.col("_e._ct").alias("_change_type"),
                F.col("_e._r").alias("_row"),
            )
        )
    else:
        image = F.coalesce(F.col("n._row"), F.col("o._row"))
        out = j.select(
            *keys, change.alias("_change_type"), image.alias("_row")
        ).where(F.col("_change_type").isNotNull())
    if not value_cols:
        return out.select(*keys, "_change_type")
    return out.select(*keys, "_change_type", "_row.*")
