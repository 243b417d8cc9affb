"""Read Delta Lake tables WITHOUT the delta-spark jars: a pure-Python
transaction-log resolver + a plain Spark parquet read of the live files.

Why this exists: at 100 TB the lakehouse you must INGEST from is very
often someone else's Delta table. The data files are ordinary parquet;
all Delta adds is the `_delta_log/` commit log that says WHICH files
are live at each version. That resolution is pure metadata work —
read the last checkpoint (a parquet file of actions) plus the JSON
commits after it, replay add/remove actions keyed by path, and hand
the surviving file list to ``spark.read.parquet`` — so a Spark
cluster with no Delta runtime can still scan the table, with column
pruning / predicate pushdown / partition columns all intact.

Protocol surface (v1, deliberately conservative — refusals are loud):

* JSON commits ``_delta_log/<version>.json`` and single-file
  checkpoints ``<version>.checkpoint.parquet`` via ``_last_checkpoint``
  (multi-part checkpoints: refused).
* ``metaData`` gives the schema (Delta's schemaString IS Spark's
  StructType JSON) and partition columns; partition values come from
  the add-action ``partitionValues`` map, but files are read with
  ``basePath`` so Spark derives them from the hive-style paths the
  writers lay down.
* ``protocol`` with ``minReaderVersion > 1`` is refused UNLESS its
  ``readerFeatures`` are all in the supported set (deletion vectors /
  column mapping change file bytes' meaning — reading them naively
  returns WRONG rows, so they hard-fail rather than approximate).
* Time travel: ``version=`` replays the log only up to that commit.

Reference parity: none — §8 scale extension (interop source; the
reference reads only its own files).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession

from ariadne_dbt_spark.session import local_frame

__all__ = ["delta_snapshot", "read_delta", "delta_history", "write_delta", "export_table_to_delta", "import_delta_as_table", "delta_tail", "delta_checkpoint", "delta_log_cleanup"]

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")

#: reader features we can honor with a plain parquet scan. Anything
#: else (deletionVectors, columnMapping, v2Checkpoint, ...) changes how
#: file bytes map to rows and MUST refuse.
_SUPPORTED_READER_FEATURES = {"timestampNtz", "typeWidening", "variantType"}


def _log_dir(table_path: str) -> str:
    d = os.path.join(table_path, "_delta_log")
    if not os.path.isdir(d):
        raise FileNotFoundError(f"{table_path} has no _delta_log — not a Delta table")
    return d


def _list_commits(log: str) -> list[int]:
    out = []
    for entry in os.listdir(log):
        m = _COMMIT_RE.match(entry)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _read_last_checkpoint(log: str) -> dict | None:
    path = os.path.join(log, "_last_checkpoint")
    if not os.path.exists(path):
        return None
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None  # corrupt hint: fall back to replaying all JSON


def _checkpoint_actions(log: str, version: int) -> list[dict]:
    """Actions from a single-file classic checkpoint, via pyarrow (no
    Spark job: checkpoints are small metadata parquet)."""
    import pyarrow.parquet as pq

    path = os.path.join(log, f"{version:020d}.checkpoint.parquet")
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"_last_checkpoint names version {version} but "
            f"{os.path.basename(path)} is missing (multi-part checkpoints "
            f"are not supported by this reader)"
        )
    tbl = pq.read_table(path)
    cols = set(tbl.column_names)
    out = []
    for row in tbl.to_pylist():
        for kind in ("add", "remove", "metaData", "protocol"):
            if kind in cols and row.get(kind) is not None:
                out.append({kind: row[kind]})
    return out


def _commit_actions(log: str, version: int) -> list[dict]:
    path = os.path.join(log, f"{version:020d}.json")
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def delta_snapshot(table_path: str, *, version: int | None = None) -> dict:
    """Resolve the table state at ``version`` (default: latest): the
    live file list (relative paths + partitionValues + sizes), the
    schema JSON, partition columns, and the protocol — METADATA ONLY
    (checkpoint parquet + JSON lines; no Spark job, no data files
    opened). Raises on unsupported protocol features rather than
    misreading data."""
    log = _log_dir(table_path)
    commits = _list_commits(log)
    cp = _read_last_checkpoint(log)
    if not commits and not cp:
        raise FileNotFoundError(f"{log} holds no commit json files")
    # a fully cleaned-up log (checkpoint only, json removed) is valid:
    # the checkpoint IS the latest state until the next commit lands
    latest = max(commits[-1] if commits else -1, int(cp["version"]) if cp else -1)
    target = latest if version is None else int(version)
    if version is not None and target not in commits and not (
        cp and int(cp.get("version", -1)) == target
    ):
        # the commit may be subsumed by a checkpoint whose json was
        # cleaned up; only replayable versions are travel targets
        raise FileNotFoundError(
            f"version {target} of {table_path} is not replayable "
            f"(log holds {commits[0] if commits else '-'}..{latest})"
        )

    actions: list[dict] = []
    start = 0
    if cp and int(cp.get("version", -1)) <= target:
        if int(cp.get("parts", 1) or 1) != 1:
            raise ValueError(
                f"{table_path}: multi-part checkpoint (parts={cp['parts']}) "
                f"is not supported by this reader"
            )
        actions.extend(_checkpoint_actions(log, int(cp["version"])))
        start = int(cp["version"]) + 1
    if start == 0 and (not commits or commits[0] != 0):
        raise FileNotFoundError(
            f"{table_path}: log starts at commit "
            f"{commits[0] if commits else '-'} with no usable checkpoint "
            f"at or before version {target} — the log was cleaned up "
            f"past this version"
        )
    for v in commits:
        if start <= v <= target:
            actions.extend(_commit_actions(log, v))

    live: dict[str, dict] = {}
    meta = None
    protocol = None
    for a in actions:
        if "add" in a:
            add = a["add"]
            live[add["path"]] = add
        elif "remove" in a:
            live.pop(a["remove"]["path"], None)
        elif "metaData" in a:
            meta = a["metaData"]
        elif "protocol" in a:
            protocol = a["protocol"]

    if meta is None:
        raise ValueError(f"{table_path}: no metaData action found in the log")
    if protocol is not None:
        mrv = int(protocol.get("minReaderVersion", 1))
        feats = set(protocol.get("readerFeatures") or [])
        unsupported = feats - _SUPPORTED_READER_FEATURES
        if mrv > 1 and (mrv != 3 or unsupported):
            raise ValueError(
                f"{table_path}: Delta protocol minReaderVersion={mrv} "
                f"readerFeatures={sorted(feats)} — features "
                f"{sorted(unsupported) or '(implicit)'} change how file "
                f"bytes map to rows; refusing rather than misreading"
            )
    fmt = (meta.get("format") or {}).get("provider", "parquet")
    if fmt != "parquet":
        raise ValueError(f"{table_path}: format {fmt!r} not supported")

    return {
        "version": target,
        "schema_json": meta["schemaString"],
        "partition_columns": list(meta.get("partitionColumns") or []),
        "files": [
            {
                "path": p,
                "size": add.get("size"),
                "partitionValues": add.get("partitionValues") or {},
            }
            for p, add in sorted(live.items())
        ],
        "protocol": protocol or {"minReaderVersion": 1},
    }


def read_delta(
    spark: SparkSession, table_path: str, *, version: int | None = None
) -> DataFrame:
    """``spark.read.format("delta")`` without the jars: resolve the
    snapshot's live files through the transaction log, then read them
    as plain parquet with the LOG's schema (not footer inference) and
    ``basePath`` so hive-style partition columns survive. An empty
    snapshot returns an empty frame with the correct schema. Predicate
    pushdown, column pruning, and partition pruning are ordinary
    Catalyst behavior on the resulting scan."""
    from urllib.parse import unquote

    from pyspark.sql.types import StructType

    snap = delta_snapshot(table_path, version=version)
    schema = StructType.fromJson(json.loads(snap["schema_json"]))
    if not snap["files"]:
        return local_frame(spark, [], schema)
    paths = [
        os.path.join(table_path, unquote(f["path"])) for f in snap["files"]
    ]
    reader = spark.read.schema(schema)
    if snap["partition_columns"]:
        reader = reader.option("basePath", table_path)
    return reader.parquet(*paths)


def delta_history(table_path: str) -> list[dict]:
    """Commit metadata per replayable version, oldest first — the
    ``DESCRIBE HISTORY`` face: version, timestamp, operation (from
    ``commitInfo`` when the writer recorded one), and net file counts."""
    log = _log_dir(table_path)
    out = []
    for v in _list_commits(log):
        adds = removes = 0
        info: dict = {}
        for a in _commit_actions(log, v):
            if "add" in a:
                adds += 1
            elif "remove" in a:
                removes += 1
            elif "commitInfo" in a:
                info = a["commitInfo"]
        out.append(
            {
                "version": v,
                "timestamp": info.get("timestamp"),
                "operation": info.get("operation"),
                "n_added": adds,
                "n_removed": removes,
            }
        )
    return out


def write_delta(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    *,
    mode: str = "error",
    partition_by: list[str] | None = None,
) -> dict:
    """The write side of the interop: produce a Delta table OTHER
    engines (delta-spark, DuckDB delta, Trino, Polars) can read —
    again without the delta-spark runtime. Data lands as ordinary
    parquet part files; the commit is one JSON actions file created
    with ``O_CREAT|O_EXCL`` at the next version number, which is
    exactly Delta's put-if-absent commit primitive (on a filesystem
    with atomic create; two racing writers -> one loses loudly with
    ``FileExistsError``, never a corrupted log).

    ``mode``: ``"error"`` (default — refuse if the table exists),
    ``"overwrite"`` (logical overwrite: the new commit ADDS the new
    files and REMOVES every previously-live one, so old versions stay
    time-travel readable — Delta semantics, not an rmtree), or
    ``"append"``. Appends and overwrites validate the existing log's
    protocol the same way :func:`delta_snapshot` does, and inherit its
    schema rules: an append with a different column set refuses
    (schema evolution is a deliberate non-goal of v1).

    Stats minimalism: add actions carry path/partitionValues/size/
    modificationTime/dataChange — valid per protocol (stats are
    optional); engines that want data-skipping stats re-derive them
    from footers."""
    import glob
    import shutil
    import time
    import uuid

    existing = os.path.isdir(os.path.join(table_path, "_delta_log"))
    if mode not in ("error", "overwrite", "append"):
        raise ValueError(f"mode must be error|overwrite|append, got {mode!r}")
    if existing and mode == "error":
        raise FileExistsError(
            f"{table_path} is already a Delta table (mode='error'); "
            f"use mode='append' or mode='overwrite'"
        )

    prev_files: list[dict] = []
    version = 0
    if existing:
        snap = delta_snapshot(table_path)  # validates protocol support
        version = snap["version"] + 1
        prev_files = snap["files"]
        prev_cols = [
            f["name"] for f in json.loads(snap["schema_json"])["fields"]
        ]
        if sorted(prev_cols) != sorted(df.columns):
            raise ValueError(
                f"{mode} with a different column set ({sorted(df.columns)} "
                f"vs table {sorted(prev_cols)}): schema evolution is not "
                f"supported by this writer"
            )
        df = df.select(*prev_cols)  # stable column order across commits

    # stage the parquet write, then move the part files into the table
    # root under unique names (Delta data files are immutable and
    # name-unique; a crashed attempt leaves unreferenced files that no
    # commit names — garbage, never corruption)
    stage = os.path.join(table_path, f"_staging-{uuid.uuid4().hex[:12]}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage)
    adds = []
    now_ms = int(time.time() * 1000)
    try:
        for src in sorted(glob.glob(os.path.join(stage, "**", "*.parquet"), recursive=True)):
            rel_in_stage = os.path.relpath(src, stage)
            part_dirs = os.path.dirname(rel_in_stage)
            base = f"part-{uuid.uuid4().hex}.snappy.parquet"
            rel = os.path.join(part_dirs, base) if part_dirs else base
            dest = os.path.join(table_path, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.move(src, dest)
            pv = {}
            for seg in part_dirs.split(os.sep):
                if "=" in seg:
                    k, _, v = seg.partition("=")
                    from urllib.parse import unquote as _uq

                    pv[k] = _uq(v)
            adds.append(
                {
                    "add": {
                        # log paths are url-style relative paths
                        "path": rel.replace(os.sep, "/"),
                        "partitionValues": pv,
                        "size": os.path.getsize(dest),
                        "modificationTime": now_ms,
                        "dataChange": True,
                    }
                }
            )
    finally:
        shutil.rmtree(stage, ignore_errors=True)

    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "WRITE" if mode != "append" else "APPEND",
                "operationParameters": {"mode": mode.upper()},
            }
        }
    ]
    if version == 0:
        actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
        actions.append(
            {
                "metaData": {
                    "id": uuid.uuid4().hex,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": df.schema.json(),
                    "partitionColumns": list(partition_by or []),
                    "configuration": {},
                    "createdTime": now_ms,
                }
            }
        )
    if mode == "overwrite":
        actions.extend(
            {
                "remove": {
                    "path": f["path"],
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
            for f in prev_files
        )
    actions.extend(adds)

    log = os.path.join(table_path, "_delta_log")
    os.makedirs(log, exist_ok=True)
    commit_path = os.path.join(log, f"{version:020d}.json")
    # put-if-absent: Delta's commit protocol on an atomic-create FS
    fd = os.open(commit_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    with os.fdopen(fd, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    return {
        "table_path": table_path,
        "version": version,
        "n_files_added": len(adds),
        "n_files_removed": len(prev_files) if mode == "overwrite" else 0,
    }


def export_table_to_delta(spark: SparkSession, table_dir: str, delta_path: str) -> dict:
    """ZERO-COPY export of a managed table (operators/table_store.py)
    as a brand-new Delta table: hard-link the current epoch's parquet
    files into ``delta_path`` (O(metadata), no bytes moved — both COW
    designs keep data files immutable, so shared inodes can never
    diverge) and write commit 0 naming them. The managed table's
    persisted ``_schema.json`` becomes the Delta ``schemaString``
    (partition-column types survive); hive layouts export with their
    ``partitionValues``. The handoff path to every Delta-speaking
    engine, at the cost of a directory listing."""
    import shutil
    import time
    import uuid

    from ariadne_dbt_spark.operators.epoch_store import _walk_parquet
    from ariadne_dbt_spark.operators.table_store import (
        _load_schema,
        _partition_cols,
        _resolve,
    )

    if os.path.isdir(os.path.join(delta_path, "_delta_log")):
        raise FileExistsError(f"{delta_path} is already a Delta table")
    live = _resolve(table_dir)
    files = _walk_parquet(live)
    if not files:
        raise FileNotFoundError(f"no table data under {live}")
    pcols = _partition_cols(live, files)
    schema = _load_schema(live)
    if schema is None:
        schema = spark.read.option("mergeSchema", "true").parquet(live).schema

    from urllib.parse import unquote as _uq

    adds = []
    now_ms = int(time.time() * 1000)
    for src in sorted(files):
        rel_dirs = os.path.dirname(os.path.relpath(src, live))
        base = f"part-{uuid.uuid4().hex}.snappy.parquet"
        rel = os.path.join(rel_dirs, base) if rel_dirs else base
        dest = os.path.join(delta_path, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        try:
            os.link(src, dest)
        except OSError:
            shutil.copy2(src, dest)
        pv = {}
        for seg in rel_dirs.split(os.sep):
            if "=" in seg:
                k, _, v = seg.partition("=")
                pv[k] = _uq(v)
        adds.append(
            {
                "add": {
                    "path": rel.replace(os.sep, "/"),
                    "partitionValues": pv,
                    "size": os.path.getsize(dest),
                    "modificationTime": now_ms,
                    "dataChange": True,
                }
            }
        )

    actions = [
        {"commitInfo": {"timestamp": now_ms, "operation": "WRITE",
                        "operationParameters": {"mode": "ErrorIfExists"}}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": uuid.uuid4().hex,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema.json(),
                "partitionColumns": pcols,
                "configuration": {},
                "createdTime": now_ms,
            }
        },
        *adds,
    ]
    log = os.path.join(delta_path, "_delta_log")
    os.makedirs(log, exist_ok=True)
    fd = os.open(os.path.join(log, f"{0:020d}.json"), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    with os.fdopen(fd, "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    return {
        "table_dir": table_dir,
        "delta_path": delta_path,
        "n_files_linked": len(adds),
        "partition_columns": pcols,
    }


def import_delta_as_table(
    spark: SparkSession, delta_path: str, table_dir: str, *, version: int | None = None
) -> dict:
    """ZERO-COPY import of a Delta snapshot as a managed table: the
    snapshot's live files hard-link into the table's epoch-0 data dir
    (hive layout preserved from the log's partitionValues), the Delta
    schema persists as the managed ``_schema.json``, and a stats
    manifest is built — so the imported table immediately supports
    manifest-pruned MERGE, OPTIMIZE, constraints, its own time travel.
    Divergence is automatic: both sides rewrite whole files into NEW
    locations on every mutation, shared inodes stay immutable."""
    from pyspark.sql.types import StructType

    from ariadne_dbt_spark.operators.epoch_store import _walk_parquet, read_epoch
    from ariadne_dbt_spark.operators.table_store import (
        DATA_NAME,
        _save_manifest,
        _save_schema,
    )
    from ariadne_dbt_spark.operators.epoch_store import data_dir as _ddir

    snap = delta_snapshot(delta_path, version=version)
    if os.path.isdir(table_dir) and (
        _walk_parquet(table_dir) or read_epoch(table_dir) != 0
    ):
        raise ValueError(f"import destination {table_dir} already holds data")
    dest_live = _ddir(table_dir, DATA_NAME, 0)
    import shutil

    from urllib.parse import unquote as _uq

    n = 0
    for fent in snap["files"]:
        src = os.path.join(delta_path, _uq(fent["path"]))
        rel = _uq(fent["path"])
        dest = os.path.join(dest_live, rel)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        try:
            os.link(src, dest)
        except OSError:
            shutil.copy2(src, dest)
        n += 1
    os.makedirs(dest_live, exist_ok=True)
    schema = StructType.fromJson(json.loads(snap["schema_json"]))
    _save_schema(dest_live, schema)
    _save_manifest(dest_live, None)
    return {
        "delta_path": delta_path,
        "delta_version": snap["version"],
        "table_dir": table_dir,
        "n_files_linked": n,
    }


def delta_tail(
    spark: SparkSession,
    table_path: str,
    *,
    from_version: int,
    allow_non_append: bool = False,
) -> tuple[DataFrame | None, int]:
    """Incremental ingestion from someone else's Delta table: the rows
    ADDED by commits ``(from_version, latest]``, as one frame, plus the
    new cursor — the pull-based equivalent of Spark's Delta streaming
    source. Cost is O(new commits): only the new JSON actions are read
    and only the newly added files are scanned.

    Semantics guard: a commit in the range that REMOVES files is not
    append-only — its adds may be rewrites of survived rows (compaction)
    rather than new data, so it raises unless ``allow_non_append=True``
    (which then skips remove actions and treats every add as new —
    correct only if the producer never compacts, exactly the contract
    Delta's own streaming source enforces with ignoreChanges).

    Returns ``(None, latest)`` when there is nothing new."""
    from pyspark.sql.types import StructType

    log = _log_dir(table_path)
    commits = _list_commits(log)
    if not commits:
        raise FileNotFoundError(f"{log} holds no commit json files")
    latest = commits[-1]
    if from_version >= latest:
        return None, latest
    missing = [v for v in range(from_version + 1, latest + 1) if v not in commits]
    if missing:
        raise FileNotFoundError(
            f"{table_path}: commits {missing} were cleaned up — the tail "
            f"cursor is older than the retained log; re-sync from a full "
            f"snapshot (read_delta) instead"
        )
    snap = delta_snapshot(table_path)  # protocol + schema validation
    adds: list[str] = []
    for v in range(from_version + 1, latest + 1):
        for a in _commit_actions(log, v):
            if "remove" in a and not allow_non_append:
                raise ValueError(
                    f"{table_path}: commit {v} removes files — not an "
                    f"append-only range; pass allow_non_append=True only "
                    f"if the producer never compacts"
                )
            if "add" in a:
                adds.append(a["add"]["path"])
    schema = StructType.fromJson(json.loads(snap["schema_json"]))
    if not adds:
        return local_frame(spark, [], schema), latest
    from urllib.parse import unquote as _uq

    reader = spark.read.schema(schema)
    if snap["partition_columns"]:
        reader = reader.option("basePath", table_path)
    return reader.parquet(*[os.path.join(table_path, _uq(p)) for p in adds]), latest


def delta_checkpoint(table_path: str) -> dict:
    """Write a classic single-file checkpoint for the latest version +
    the ``_last_checkpoint`` hint — the log maintenance a long append
    chain needs: without it every reader replays EVERY JSON commit, and
    cleaned-up logs become unreadable. Pure pyarrow (no Spark job): the
    checkpoint is one parquet file of the snapshot's reconstituted
    protocol/metaData/add actions, each action kind a nullable struct
    column, exactly what :func:`_checkpoint_actions` (and per spec any
    Delta reader) consumes. Remove actions need not be retained — the
    checkpoint IS the collapsed state."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    log = _log_dir(table_path)
    snap = delta_snapshot(table_path)
    version = snap["version"]
    meta = None
    protocol = None
    # reconstitute the latest metaData/protocol from the replay
    for v in _list_commits(log):
        if v > version:
            break
        path = os.path.join(log, f"{v:020d}.json")
        if os.path.exists(path):
            for a in _commit_actions(log, v):
                if "metaData" in a:
                    meta = a["metaData"]
                elif "protocol" in a:
                    protocol = a["protocol"]
    cp = _read_last_checkpoint(log)
    if (meta is None or protocol is None) and cp:
        for a in _checkpoint_actions(log, int(cp["version"])):
            if meta is None and "metaData" in a:
                meta = a["metaData"]
            if protocol is None and "protocol" in a:
                protocol = a["protocol"]
    if meta is None:
        raise ValueError(f"{table_path}: no metaData to checkpoint")
    protocol = protocol or {"minReaderVersion": 1, "minWriterVersion": 2}

    # pyarrow infers struct schemas per column from non-null values;
    # empty dicts are unwritable empty structs, so drop falsy members
    # RECURSIVELY (metaData.format.options is the usual offender)
    def _clean(d):
        out = {}
        for k, v in d.items():
            if isinstance(v, dict):
                v = _clean(v)
            if v not in ({}, [], None):
                out[k] = v
        return out

    rows = [
        {"protocol": _clean(protocol), "metaData": None, "add": None},
        {"protocol": None, "metaData": _clean(meta), "add": None},
    ] + [
        {
            "protocol": None,
            "metaData": None,
            "add": _clean(
                {
                    "path": f["path"],
                    "partitionValues": f["partitionValues"] or None,
                    "size": f["size"],
                    "modificationTime": 0,
                    "dataChange": False,
                }
            ),
        }
        for f in snap["files"]
    ]
    out = os.path.join(log, f"{version:020d}.checkpoint.parquet")
    pq.write_table(pa.Table.from_pylist(rows), out)
    from ariadne_dbt_spark.operators.epoch_store import atomic_write_json

    atomic_write_json(
        os.path.join(log, "_last_checkpoint"),
        {"version": version, "size": len(rows)},
    )
    return {"table_path": table_path, "version": version, "n_actions": len(rows)}


def delta_log_cleanup(table_path: str, *, keep_versions: int = 0) -> dict:
    """Remove JSON commits at or before the checkpointed version (minus
    ``keep_versions`` most recent ones kept for history/tail readers) —
    the log-retention sweep that pairs with :func:`delta_checkpoint`.
    Refuses when no checkpoint exists: cleanup without one strands
    every reader."""
    log = _log_dir(table_path)
    cp = _read_last_checkpoint(log)
    if not cp:
        raise ValueError(
            f"{table_path}: no _last_checkpoint — run delta_checkpoint "
            f"before cleaning the log"
        )
    cut = int(cp["version"]) - int(keep_versions)
    removed = []
    for v in _list_commits(log):
        if v <= cut:
            try:
                os.remove(os.path.join(log, f"{v:020d}.json"))
                removed.append(v)
            except OSError:
                pass
    return {"table_path": table_path, "removed_versions": removed, "checkpoint": int(cp["version"])}
