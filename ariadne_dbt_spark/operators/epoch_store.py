"""The one log protocol of the persisted serving indexes (search/BM25,
shingle postings, IVF and IVF-PQ), plus the epoch primitives the
managed tables (``table_store``) share.

Each index is a set of append-only parquet logs under one directory:
its data logs (``postings``, ``vectors``, ``codes``, ...) and a
``tombstones`` log keyed like the data. Every row carries the ``gen``
of the write that appended it, and one small JSON meta file is the
commit point. The index modules build plans; everything below the plan
goes through this module:

* **Snapshot** (:func:`snapshot`): the meta and the epoch it names,
  read once; every other step works against one snapshot.
* **Live rows** (:func:`live_rows`): a data log at the snapshot's
  epoch, filtered to committed gens (``gen <= meta.gen`` minus the
  ``orphans`` list, so an attempt that crashed before its meta commit
  never serves, and a later commit cannot resurrect it), then the
  newest-wins tombstone rule: a row is live unless a committed
  tombstone for its key has a HIGHER gen. An upsert writes its
  tombstone and its new rows at the same gen, so the new rows win; a
  delete followed by a re-append serves the re-appended row. A legacy
  tombstone without a gen counts as newer than every row. The tombstone
  side is broadcast: it is bounded by churn since the last compaction.
* **Append commit** (:func:`append`): reserve a gen through the
  per-epoch ``_attempt.json`` marker BEFORE any data is written (a
  retry of a crashed attempt gets a fresh gen, never the orphan's);
  then, under :func:`commit_lock`, refuse if the epoch moved (burning
  the gen in the new epoch's marker), refuse if another writer
  committed since the snapshot (the gen CAS), fold the gen into the
  meta (:func:`advance_gen`) and write the meta atomically.
* **Tombstone delete** (:func:`tombstone`): a gen-tagged append to the
  ``tombstones`` log inside that same commit, so a delete is refused by
  a concurrent compaction exactly like an append, and a compaction is
  refused by a concurrent delete. Neither can undo the other.
* **Epoch flip** (:func:`flip`): a compaction or retrain stages a
  COMPLETE new epoch into ``<name>_ep<k+1>`` directories, then, under
  the lock and guarded by the same gen CAS and an epoch check, commits
  by one atomic file replace: the ``epoch.json`` pointer, or the meta
  itself for an index that keeps its epoch in the meta (the search
  index). A crash anywhere before the replace leaves readers on the old,
  fully consistent epoch. Retired epochs are swept afterwards, after an
  optional retention window for readers in other processes.

Epoch 0 maps to the flat legacy directory names. Metas written before
gen tagging (no ``gen`` key) keep every row live; round-6 search metas
with an explicit ``gens`` list read through :func:`gen_state`, and the
next commit rewrites them as ``gen`` + ``orphans``.

At 100 TB every step is O(metadata): the snapshot and the commit are
tiny JSON files, the orphan list is bounded by crashed attempts, and the
tombstone broadcast by churn since the last compaction.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from typing import NamedTuple

_EPOCH_FILE = "epoch.json"
_LOCK_FILE = "_commit.lock"

#: retirement stamp written INSIDE a retired epoch dir by the first
#: sweep that sees it; the ``_`` prefix makes parquet readers (and
#: ``_walk_parquet``) ignore it, so an in-flight reader's scan of the
#: retained dir is unaffected
_RETIRED_FILE = "_retired.json"


def _read_retired_at(path: str) -> float | None:
    """Retirement timestamp from a ``_retired.json`` stamp, or None when
    the stamp is absent/unreadable (→ caller re-stamps: the clock
    restarts, which only ever RETAINS LONGER — never deletes early)."""
    try:
        with open(path) as f:
            return float(json.load(f)["retired_at"])
    except (OSError, ValueError, KeyError, TypeError):
        return None

#: a lock older than this is presumed held by a crashed writer and is
#: stolen; the guarded window is pure metadata work (read-check one JSON
#: file + one os.replace — no Spark actions), so a LIVE holder finishes
#: in milliseconds and can never legitimately age this far
_LOCK_STALE_SEC = 60.0


def atomic_write(path: str, data: bytes) -> None:
    """Write ``data`` to a temp file and ``os.replace`` it in: a reader
    sees the old file or the new one, never a torn write."""
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def atomic_write_json(path: str, payload) -> None:
    atomic_write(path, json.dumps(payload, sort_keys=True).encode())


def read_epoch(index_dir: str) -> int:
    """Current committed epoch of an index (0 if no pointer file —
    which is every index built before compaction ever ran)."""
    path = os.path.join(index_dir, _EPOCH_FILE)
    if not os.path.exists(path):
        return 0
    with open(path) as f:
        return int(json.load(f)["epoch"])


def commit_epoch(index_dir: str, epoch: int) -> None:
    """THE commit point for a compaction: one atomic file replace."""
    atomic_write_json(os.path.join(index_dir, _EPOCH_FILE), {"epoch": int(epoch)})


def data_dir(index_dir: str, name: str, epoch: int | None = None) -> str:
    """Resolve a logical directory name through the epoch pointer.
    Epoch 0 keeps the legacy flat name so existing indexes read
    unchanged; epoch k>0 is suffixed."""
    if epoch is None:
        epoch = read_epoch(index_dir)
    suffix = "" if epoch == 0 else f"_ep{epoch}"
    return os.path.join(index_dir, name + suffix)


def clear_index(index_dir: str, names: list[str]) -> None:
    """Rebuild-replaces semantics for ``build_*``: remove EVERY epoch
    variant of the data dirs, all tombstones, staging leftovers, and the
    pointer/attempt files — so a rebuild can never inherit tombstones
    that would silently suppress re-indexed ids (round-5 advice #3)."""
    if not os.path.isdir(index_dir):
        return
    wanted = set(names) | {"tombstones"}
    for entry in os.listdir(index_dir):
        base = entry.split("_ep")[0]
        if (
            base in wanted
            or entry.startswith("_")  # staging/attempt leftovers
            or entry == _EPOCH_FILE
        ):
            full = os.path.join(index_dir, entry)
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            else:
                try:
                    os.remove(full)
                except OSError:
                    pass


def sweep_stale_epochs(
    index_dir: str,
    names: list[str],
    current: int,
    *,
    retention_sec: float = 0.0,
) -> None:
    """Best-effort GC of directories belonging to epochs other than
    ``current`` (plus staging dirs, plus attempt markers of retired
    epochs — a marker only guards gen reservation within ITS epoch, so
    once the pointer moves past it, it's dead bytes). Safe to crash
    mid-sweep: everything removed here is unreachable through the
    committed pointer.

    ``retention_sec`` is the VACUUM-retention knob (the same contract
    Delta/Iceberg expose): a retired epoch dir is kept for at least this
    long AFTER RETIREMENT, so a CONCURRENT READER IN ANOTHER PROCESS
    that resolved the old epoch at plan time can finish its scan — the
    pointer flip is atomic, but physical file deletion under a planned
    scan is not. Default 0.0 preserves single-process semantics (the
    in-process maintainers read before they sweep, so immediate GC is
    safe there); set it >= your longest query duration wherever more
    than one process serves the index.

    Retirement time is stamped EXPLICITLY (round-8 advice): the dir's
    own mtime marks its last data write, not the pointer flip — an
    epoch built hours before it's retired (churned only via tombstone
    deletes, which land in a different dir) would otherwise age out in
    the very sweep that retired it. The first sweep to encounter a
    retired dir writes a ``_retired.json`` stamp into it and KEEPS it;
    every compaction sweeps immediately after its pointer flip, so the
    stamp lands at retirement time, and later sweeps age from the stamp
    (an unreadable stamp is re-written — conservatively restarting the
    clock rather than deleting early)."""
    wanted = set(names) | {"tombstones"}
    keep = {data_dir(index_dir, n, current) for n in wanted}
    cur_attempt = "_attempt.json" if current == 0 else f"_attempt_ep{current}.json"
    now = time.time()
    for entry in os.listdir(index_dir):
        full = os.path.join(index_dir, entry)
        if ".attempt-" in entry:
            # a writer's PRIVATE staging dir (table_store._cow_commit) —
            # named t_ep<k+1>.attempt-<uuid>, so base-name matching would
            # mistake it for a retired epoch: with retention>0 the sweep
            # would stamp _retired.json INTO a live attempt (the stamp
            # then rides into the committed epoch and ages it out
            # early), and with retention 0 it would rmtree a live
            # writer's staging mid-write. Attempt dirs are GC'd only by
            # _cow_commit's own stale-attempt collector (round-9 advice).
            continue
        if not os.path.isdir(full):
            if (
                entry.startswith("_attempt")
                and entry.endswith(".json")
                and entry != cur_attempt
            ):
                try:
                    os.remove(full)
                except OSError:
                    pass
            continue
        if full in keep:
            continue
        base = entry.split("_ep")[0]
        if base in wanted or entry.startswith("_") and entry.endswith(".compact"):
            if retention_sec > 0 and base in wanted:
                stamp = os.path.join(full, _RETIRED_FILE)
                retired_at = _read_retired_at(stamp)
                if retired_at is None:
                    # first encounter since retirement: start the
                    # retention clock now (== the pointer flip — this
                    # sweep runs right after it) and keep the dir
                    with contextlib.suppress(OSError):
                        atomic_write_json(stamp, {"retired_at": now})
                    continue
                if now - retired_at < retention_sec:
                    continue  # retired epoch still inside retention
            shutil.rmtree(full, ignore_errors=True)


def gen_state(meta: dict) -> tuple[int, list[int]]:
    """(high-water committed gen, orphaned gens below it) from an
    index's meta. Pre-gen metas (no ``gen`` key) → (0, []); a round-6
    meta's explicit ``gens`` list becomes its max plus the gaps below
    it (the next :func:`advance_gen` rewrites it in this form)."""
    hi = int(meta.get("gen", 0))
    if "orphans" in meta:
        return hi, [int(g) for g in meta["orphans"]]
    if "gens" in meta:
        committed = {int(g) for g in meta["gens"]}
        hi = max(committed) if committed else hi
        return hi, sorted(set(range(hi + 1)) - committed)
    return hi, []


def apply_gen_filter(df, meta: dict):
    """Committed-gen visibility filter for gen-tagged index rows: keep
    ``gen <= high-water`` minus the orphan exclusions (gens reserved by
    attempts that crashed before their meta commit). No-op on legacy
    indexes whose data or meta predates gen tagging — their appends
    were unguarded, so every row is (optimistically) live."""
    if "gen" not in df.columns or "gen" not in meta:
        return df
    from pyspark.sql import functions as F

    hi, orphans = gen_state(meta)
    # NULL gen = rows written before gen tagging (a legacy index being
    # upgraded in place by its first guarded append) — committed by
    # definition, must stay live
    cond = F.col("gen").isNull() | (F.col("gen") <= hi)
    if orphans:
        cond = cond & (F.col("gen").isNull() | ~F.col("gen").isin(orphans))
    return df.where(cond)


def advance_gen(meta: dict, gen: int) -> dict:
    """Fold a newly committed gen into ``meta`` in place: it becomes the
    high water, and every gen skipped between the old high water and it
    was a reserved-but-never-committed attempt → permanent orphan."""
    hi, orphans = gen_state(meta)
    meta.pop("gens", None)
    meta["gen"] = int(gen)
    meta["orphans"] = sorted(set(orphans) | set(range(hi + 1, int(gen))))
    return meta


class ConcurrentWriteError(RuntimeError):
    """A second writer committed between this writer's meta read and its
    commit — last-writer-wins would silently drop the other commit's gen
    (and any stats deltas), so the commit is refused instead. Index
    maintenance is single-writer per index; this guard turns a violated
    assumption into a loud error."""


@contextlib.contextmanager
def commit_lock(index_dir: str, *, stale_sec: float = _LOCK_STALE_SEC):
    """Make the CAS commit window actually atomic (round-7 advice): the
    ``check_gen_unchanged`` → ``os.replace`` sequence is check-then-write
    across two file operations, so two racing writers could both pass
    the check and the second replace silently won. Holding an
    ``O_CREAT|O_EXCL`` lock file across that window turns the race into
    a loud ``ConcurrentWriteError`` on the second writer.

    Liveness: a writer that crashes INSIDE the window leaves the lock
    behind; since the guarded work is metadata-only (milliseconds), a
    lock older than ``stale_sec`` is provably abandoned and is stolen.
    The steal itself races benignly — losers land back on O_EXCL and
    raise.
    """
    path = os.path.join(index_dir, _LOCK_FILE)

    def acquire() -> int:
        return os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)

    try:
        fd = acquire()
    except FileExistsError:
        try:
            age = time.time() - os.path.getmtime(path)
        except OSError:  # holder released between our EXCL fail and stat
            age = -1.0
        if 0 <= age < stale_sec:
            raise ConcurrentWriteError(
                f"another writer holds the commit lock for {index_dir} "
                "(age {:.1f}s); serialize index maintenance jobs per index".format(age)
            )
        with contextlib.suppress(OSError):  # steal the abandoned lock
            os.remove(path)
        try:
            fd = acquire()
        except FileExistsError:
            raise ConcurrentWriteError(
                f"lost the lock-steal race for {index_dir}; "
                "serialize index maintenance jobs per index"
            ) from None
    try:
        with contextlib.suppress(OSError):
            os.write(fd, str(os.getpid()).encode())
        os.close(fd)
        yield
    finally:
        with contextlib.suppress(OSError):
            os.remove(path)


def _parquet_file_stats(path: str) -> tuple[int, int | None, int | None]:
    """(num_rows, gen_min, gen_max) for one parquet file, from the
    FOOTER only — no data pages are read. gen bounds are None when the
    file predates gen tagging (legacy → its rows are live by contract)
    or when stats are missing."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = [md.schema.column(i).name for i in range(len(md.schema))]
    if "gen" not in names:
        return md.num_rows, None, None
    gi = names.index("gen")
    lo: int | None = None
    hi: int | None = None
    for r in range(md.num_row_groups):
        st = md.row_group(r).column(gi).statistics
        if st is None or not st.has_min_max:
            return md.num_rows, None, None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return md.num_rows, lo, hi


def _walk_parquet(root: str) -> list[str]:
    """Data files under ``root``, with Spark's listing convention:
    files AND directories whose name starts with ``_`` or ``.`` are
    invisible (that is what lets sidecars like ``_changes/`` live
    inside an epoch dir without joining the table's data)."""
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out.extend(
            os.path.join(dirpath, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return out


def _parquet_rows_total(path: str) -> int:
    """Exact row count from parquet FOOTERS — driver metadata, no Spark
    job. Handles a single file or a directory dataset (the normal case
    at any real scale): per-file ``num_rows`` summed over the
    :func:`_walk_parquet` listing. Shared by the bm25 index build and
    the decontamination index (round 11 — each had grown its own copy)."""
    import pyarrow.parquet as pq

    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows
    return sum(
        pq.ParquetFile(f).metadata.num_rows for f in _walk_parquet(path)
    )


#: compaction-cadence defaults, measured on this repo's MOR layout (see
#: SCALE.md "Compaction cadence"): many small appended files dominate
#: scan planning long before dead rows dominate bytes, so the file-count
#: knob usually fires first on streaming maintainers
COMPACT_MAX_FILES = 64
COMPACT_DEAD_FRAC = 0.2


def maintenance_report(
    index_dir: str,
    names: str | tuple[str, ...],
    meta_file: str,
    *,
    max_files: int = COMPACT_MAX_FILES,
    dead_frac_threshold: float = COMPACT_DEAD_FRAC,
) -> dict:
    """Compaction-cadence signal for one gen-logged index — METADATA
    ONLY (parquet footers + the meta/tombstone files; no Spark job, no
    data pages): the measured answer to "should I compact now?" that the
    merge-on-read design otherwise leaves to guesswork.

    Signals and why they matter at 100 TB:

    * ``n_data_files`` — MOR read amplification: every query plans over
      every live file; thousands of O(batch) appends make scan PLANNING
      the bottleneck before data volume does.
    * ``dead_rows`` — rows whose footer gen-range lies entirely in
      orphaned/uncommitted gens: physically scanned, always filtered.
      (Files mixing live+dead gens count as live — the estimate is
      conservative.)
    * ``tombstone_rows`` — merge-on-read deletes: each one is a
      broadcast-join probe on every read until folded.
    * ``n_orphans`` — crashed-attempt exclusions carried in the meta;
      bounded by churn but folded to zero by compaction.

    ``should_compact`` fires when dead+tombstone rows exceed
    ``dead_frac_threshold`` of total rows, or the live directory exceeds
    ``max_files`` files; ``reasons`` lists which. Streaming maintainers
    call this after each applied batch and trigger the index's compact
    function when it fires.
    """
    snap = snapshot(index_dir, meta_file)
    epoch = snap.epoch
    hi, orphans = snap.state
    dead_gens = set(orphans)

    n_files = total_rows = dead_rows = 0
    for name in (names,) if isinstance(names, str) else names:
        ddir = data_dir(index_dir, name, epoch)
        if not os.path.isdir(ddir):
            continue
        for path in _walk_parquet(ddir):
            rows, glo, ghi = _parquet_file_stats(path)
            n_files += 1
            total_rows += rows
            if glo is not None and ghi is not None:
                # a file is provably dead when EVERY row's gen is
                # orphaned or above the committed high water
                if glo > hi or (glo == ghi and glo in dead_gens):
                    dead_rows += rows

    tomb_rows = 0
    # tombstones resolve STRICTLY through the epoch: at epoch 0
    # data_dir already IS the flat legacy name, and at epoch k>0 a
    # missing tombstones_ep<k> means the compactor folded them — zero
    # live tombstones. (A flat-dir fallback here would double-count a
    # RETAINED retired epoch's tombstones after a vacuum-retention
    # compaction; the retired dir exists only for in-flight readers.)
    tdir = data_dir(index_dir, "tombstones", epoch)
    if os.path.isdir(tdir):
        for path in _walk_parquet(tdir):
            tomb_rows += _parquet_file_stats(path)[0]

    dead_frac = (dead_rows + tomb_rows) / total_rows if total_rows else 0.0
    reasons = []
    if total_rows and dead_frac >= dead_frac_threshold:
        reasons.append(
            f"dead+tombstone rows {dead_rows + tomb_rows}/{total_rows} "
            f"({dead_frac:.1%}) >= {dead_frac_threshold:.0%}"
        )
    if n_files >= max_files:
        reasons.append(f"{n_files} live data files >= {max_files}")
    return {
        "epoch": epoch,
        "gen": hi,
        "n_orphans": len(orphans),
        "n_data_files": n_files,
        "total_rows": total_rows,
        "dead_rows": dead_rows,
        "tombstone_rows": tomb_rows,
        "dead_frac": round(dead_frac, 6),
        "should_compact": bool(reasons),
        "reasons": reasons,
    }


def _footer_schema(path: str):
    """The union of the data schemas of every parquet file under
    ``path``, resolved on the driver from the footers alone (pyarrow): a
    Spark-written file carries its exact schema in the footer's
    key-value metadata, any other converts from its Arrow schema. A
    field keeps its first-seen type and position; fields first seen in
    later files append. None when there is no data file."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType

    fields: dict = {}
    for f in sorted(_walk_parquet(path)):
        md = pq.read_metadata(f)
        spark_json = (md.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
        schema = (
            StructType.fromJson(json.loads(spark_json))
            if spark_json
            else from_arrow_schema(md.schema.to_arrow_schema())
        )
        for field in schema.fields:
            fields.setdefault(field.name, field)
    return StructType(list(fields.values())) if fields else None


def read_gen_data(spark, index_dir: str, name: str, epoch: int | None = None):
    """Read a gen-tagged data directory for serving through the union
    of its files' schemas (:func:`_footer_schema`): a
    legacy index upgraded in place mixes pre-gen parquet files with
    gen-tagged appends, and a schema taken from one pre-gen footer would
    make ``apply_gen_filter`` silently no-op ('gen' not in columns) and
    a crashed append's orphan rows visible nondeterministically. The
    union keeps ``gen`` whenever ANY file carries it. It is resolved on
    the driver — one footer read per file, bounded by append churn since
    the last compaction — so planning the read runs no Spark job. Hive
    partition columns still come from the paths."""
    path = data_dir(index_dir, name, epoch)
    schema = _footer_schema(path) if os.path.isdir(path) else None
    if schema is None:
        return spark.read.parquet(path)  # Spark's own error for no data
    return spark.read.schema(schema).parquet(path)


def check_gen_unchanged(live_meta: dict, expect: tuple[int, list[int]]) -> None:
    """CAS guard for gen-logged meta commits: raise ConcurrentWriteError
    when the live meta's (gen, orphans) no longer matches the snapshot
    taken when this writer read it."""
    if gen_state(live_meta) != (int(expect[0]), [int(g) for g in expect[1]]):
        raise ConcurrentWriteError(
            f"index meta changed underneath this writer "
            f"(expected gen state {expect}, found {gen_state(live_meta)}); "
            "serialize index maintenance jobs per index"
        )


def next_attempt_gen(index_dir: str, epoch: int, committed_gen: int) -> int:
    """Reserve a gen no prior attempt (committed OR crashed) in this
    epoch has used: read the per-epoch attempt marker, take
    max(marker, committed)+1, and persist the reservation atomically
    BEFORE any data is appended (round-5 advice #1)."""
    suffix = "" if epoch == 0 else f"_ep{epoch}"
    path = os.path.join(index_dir, f"_attempt{suffix}.json")
    last = int(committed_gen)
    if os.path.exists(path):
        with open(path) as f:
            last = max(last, int(json.load(f)["gen"]))
    gen = last + 1
    atomic_write_json(path, {"gen": gen})
    return gen


# ---------------------------------------------------------------------------
# The index log protocol: snapshot → live rows / append commit / tombstone
# delete / guarded epoch flip. dedup.py, search_index.py and similarity.py
# reach the primitives above only through these (tests/test_log_protocol.py).
# ---------------------------------------------------------------------------


def read_meta(index_dir: str, meta_file: str = "meta.json") -> dict:
    """An index's meta, or ``{}`` for an index that predates the file
    (the gen filter then keeps every row)."""
    path = os.path.join(index_dir, meta_file)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def write_meta(index_dir: str, meta_file: str, meta: dict) -> None:
    atomic_write_json(os.path.join(index_dir, meta_file), meta)


class Snapshot(NamedTuple):
    """One consistent read of an index: its meta (a working copy the
    caller may edit into the meta it commits), the epoch it serves, and
    the gen state the commit CAS expects. Inside :func:`append`, ``gen``
    is the reserved gen of the open attempt."""

    index_dir: str
    meta_file: str
    meta: dict
    epoch: int
    state: tuple[int, list[int]]
    gen: int | None = None


def snapshot(index_dir: str, meta_file: str = "meta.json") -> Snapshot:
    """Read the meta and the epoch it serves: the meta's own ``epoch``
    (the search index keeps it there), else the ``epoch.json`` pointer.
    The pointer is read before and after the meta and the pair re-read
    if it moved, so a snapshot never pairs an old epoch with the meta a
    finished flip wrote for the new one. (Between a flip's pointer write
    and its meta write it pairs the new epoch with the old meta: the new
    epoch's gens are all at or below the old high water, so the same
    rows serve, and a writer's commit CAS refuses once the meta moves.)"""
    while True:
        pointer = read_epoch(index_dir)
        meta = read_meta(index_dir, meta_file)
        if "epoch" in meta or read_epoch(index_dir) == pointer:
            break
    epoch = int(meta.get("epoch", pointer))
    return Snapshot(index_dir, meta_file, meta, epoch, gen_state(meta))


#: a legacy (gen-less) tombstone's effective gen: newer than every row
_NEWEST_GEN = (1 << 63) - 1


def live_rows(spark, snap: Snapshot, name: str, key: str, *, where=None):
    """The rows of data log ``name`` that ``snap`` serves, ``gen``
    column kept: the committed-gen filter, then ``where`` (a partition
    predicate such as ``cell IN (...)`` goes here, below the join, so
    the scan prunes), then the newest-wins tombstone rule — a row is
    live unless a committed tombstone for its key has a higher gen.

    ``key`` is the tombstone key as a DDL field (``"vec_id long"``).
    The tombstone log is read with that explicit schema: a log mixing
    legacy gen-less files with gen-tagged ones reads gen NULL for the
    former, with no schema-merge job. No tombstone log → no join."""
    from pyspark.sql import functions as F

    rows = apply_gen_filter(read_gen_data(spark, snap.index_dir, name, snap.epoch), snap.meta)
    if where is not None:
        rows = rows.where(where)
    tomb_dir = data_dir(snap.index_dir, "tombstones", snap.epoch)
    if not os.path.isdir(tomb_dir):
        return rows
    col = key.split()[0]
    tomb = apply_gen_filter(
        spark.read.schema(f"{key}, gen bigint").parquet(tomb_dir), snap.meta
    )
    newest = tomb.groupBy(col).agg(
        F.max(F.coalesce(F.col("gen"), F.lit(_NEWEST_GEN))).alias("_tmax")
    )
    # a row without a gen predates gen tagging: older than any tombstone
    row_gen = F.coalesce(F.col("gen"), F.lit(-1)) if "gen" in rows.columns else F.lit(-1)
    return (
        rows.join(F.broadcast(newest), col, "left")
        .where(F.col("_tmax").isNull() | (row_gen >= F.col("_tmax")))
        .drop("_tmax")
    )


@contextlib.contextmanager
def append(index_dir: str, meta_file: str, label: str):
    """One append attempt: snapshot, reserve a gen, yield the
    :class:`Snapshot` (``gen`` set) for the body to write its rows at
    ``gen`` into ``snap.epoch``'s logs and edit ``snap.meta``, then
    commit. The commit runs under :func:`commit_lock`: an epoch that
    moved (a compaction or retrain flipped mid-append and retired the
    dirs the rows went to) burns the gen in the new epoch's marker and
    refuses; a gen state that moved (another writer committed) refuses;
    otherwise the gen is folded into the meta and the meta replaced
    atomically. A body that raises commits nothing: its rows keep an
    uncommitted gen and never serve."""
    snap = snapshot(index_dir, meta_file)
    gen = next_attempt_gen(index_dir, snap.epoch, int(snap.meta.get("gen", 0)))
    txn = snap._replace(gen=gen)
    yield txn
    with commit_lock(index_dir):
        live = snapshot(index_dir, meta_file)
        if live.epoch != txn.epoch:
            next_attempt_gen(index_dir, live.epoch, gen)
            raise ConcurrentWriteError(
                f"{label} index {index_dir} was compacted (epoch moved past "
                f"{txn.epoch}) during this commit; retry against the new epoch"
            )
        check_gen_unchanged(live.meta, txn.state)
        write_meta(index_dir, meta_file, advance_gen(txn.meta, gen))


def tombstone(txn: Snapshot, keys) -> None:
    """Delete ``keys`` (a frame of the tombstone key column) inside an
    open :func:`append`: a gen-tagged append to the epoch's
    ``tombstones`` log, visible once that attempt commits."""
    from pyspark.sql import functions as F

    keys.withColumn("gen", F.lit(txn.gen).cast("bigint")).write.mode("append").parquet(
        data_dir(txn.index_dir, "tombstones", txn.epoch)
    )


def flip(
    snap: Snapshot,
    new_meta: dict | None,
    *,
    names: list[str],
    label: str,
    action: str,
    retention_sec: float = 0.0,
) -> None:
    """THE commit of a compaction or retrain that staged epoch
    ``snap.epoch + 1``: under the lock, refuse if another writer
    committed since ``snap`` (its rows are in the epoch this flip
    retires) or the epoch moved, then replace the epoch pointer — the
    meta itself when the index keeps its epoch there (``new_meta`` gets
    the new ``epoch``), else ``epoch.json`` followed by ``new_meta``
    (``None`` keeps the meta). Then sweep the retired epoch's ``names``
    and tombstones."""
    new_epoch = snap.epoch + 1
    with commit_lock(snap.index_dir):
        live = snapshot(snap.index_dir, snap.meta_file)
        check_gen_unchanged(live.meta, snap.state)
        if live.epoch != snap.epoch:
            raise ConcurrentWriteError(
                f"{label} index {snap.index_dir} epoch moved past {snap.epoch} "
                f"during {action}; re-run against the new epoch"
            )
        if "epoch" in live.meta:
            new_meta = dict(live.meta) if new_meta is None else new_meta
            new_meta["epoch"] = new_epoch
        else:
            commit_epoch(snap.index_dir, new_epoch)
        if new_meta is not None:
            write_meta(snap.index_dir, snap.meta_file, new_meta)
    sweep_stale_epochs(snap.index_dir, names, new_epoch, retention_sec=retention_sec)
