"""Incrementally maintained aggregate materialized views over managed
tables, folded from the change-data-feed.

The 100 TB problem: a dashboard aggregate (revenue by region, events
per user-day) over a mutating fact table is either recomputed from
scratch per refresh — O(table) every time — or drifts stale. Delta's
answer is CDF-driven incremental ETL: read ONLY the change rows since
the last sync and fold them into the aggregate. This module is that
pattern as a first-class operator pair:

* :func:`build_agg_view` materializes ``SELECT group_by, aggs FROM
  table GROUP BY group_by`` into its own MANAGED table (so the view
  itself has epochs, time travel, OPTIMIZE, constraints — everything
  tables get) plus a ``_view.json`` sync cursor.
* :func:`refresh_agg_view` advances the view to the base table's
  current epoch by folding change rows: with the base table's change
  feed enabled (``enable_change_feed``) it reads the per-commit
  ``_changes/`` logs — **O(churn since last sync)**, never a table
  scan; otherwise it falls back to :func:`table_changes` version
  diffing (one join of two versions — the audit path).

Why pre-images matter: every change row carries a SIGN — ``insert`` /
``update_postimage`` add, ``delete`` / ``update_preimage`` subtract —
so any SUM/COUNT aggregate folds algebraically: the view's new value
is ``old + Σ sign·x`` per group, computed over changed rows only and
MERGEd into the view through the same footer/manifest-pruned COW path
every table write uses. Groups whose row count reaches zero are
deleted; brand-new groups insert. MIN/MAX are NOT incrementally
maintainable under deletes (the new extreme may live in unchanged
rows) and are refused — the same restriction every incremental-view
engine carries.

Crash safety: the sync cursor records the VIEW epoch it wrote; a
refresh that finds the view at a different epoch than its cursor
(crash between the view merge and the cursor write, or an external
mutation of the view) rebuilds from scratch rather than double-folding
a delta. Exactness: use DECIMAL/integer measures for bit-exact
incremental sums; float sums accumulate reassociation drift vs a
recompute (disclosed — same caveat as any incremental float fold).

Reference parity: none — §8 scale extension (the reference rebuilds
everything wholesale, ``src/ariadne_dbt/indexer.py:472-485``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ariadne_dbt_spark.operators.epoch_store import atomic_write_json, read_epoch
from ariadne_dbt_spark.operators.table_store import (
    merge_table,
    read_table,
    table_changes,
    table_changes_log,
    write_table,
)

__all__ = ["build_agg_view", "refresh_agg_view", "view_status", "read_view"]

_VIEW_META = "_view.json"
#: hidden per-group live-row count: how the fold knows a group died
_ROWS_COL = "_rows"

#: supported incremental aggregates; ("count", None) is COUNT(*).
#: ("avg", col) is DERIVED: stored as hidden sum+count pairs (both
#: incrementally maintainable) and divided at read time by read_view —
#: the standard incremental-view decomposition
_SUPPORTED = ("sum", "count", "avg")


def _storage_measures(measures: dict) -> tuple[dict, dict]:
    """(stored, derived): rewrite each ``avg`` measure into hidden
    ``sum``/``count`` storage columns (``<name>__sum``, ``<name>__cnt``)
    and record the division for :func:`read_view`."""
    stored: dict = {}
    derived: dict = {}
    for name, (op, col) in measures.items():
        if op == "avg":
            stored[f"{name}__sum"] = ("sum", col)
            stored[f"{name}__cnt"] = ("count", col)
            derived[name] = (f"{name}__sum", f"{name}__cnt")
        else:
            stored[name] = (op, col)
    return stored, derived


def read_view(spark: SparkSession, view_dir: str) -> DataFrame:
    """The view's USER-FACING frame: group keys + declared measures,
    with ``avg`` measures divided out of their hidden sum/count pair
    (NULL when the count is 0 — SQL AVG of nothing) and the internal
    row-count column hidden."""
    meta = _load_meta(view_dir)
    measures = {k: (op, col) for k, (op, col) in meta["measures"].items()}
    _stored, derived = _storage_measures(measures)
    df = read_table(spark, view_dir)
    cols = [F.col(c) for c in meta["group_by"]]
    for name in measures:
        if name in derived:
            s_col, c_col = derived[name]
            cols.append(
                F.when(
                    F.col(c_col) > 0,
                    F.col(s_col).cast("double") / F.col(c_col),
                ).alias(name)
            )
        else:
            cols.append(F.col(name))
    return df.select(*cols)


def _measure_exprs(measures: dict) -> list:
    """Aggregate expressions for the FULL build (group-by semantics:
    ``sum`` is ``COALESCE(SUM(x), 0)`` so an all-NULL group reads 0 —
    the value the incremental fold also converges to)."""
    out = []
    for name, (op, col) in measures.items():
        if op == "sum":
            out.append(F.coalesce(F.sum(col), F.lit(0)).alias(name))
        elif op == "count":
            out.append(
                (F.count(F.lit(1)) if col is None else F.count(col)).alias(name)
            )
    return out


def _validate(measures: dict) -> None:
    for name, spec in measures.items():
        if not (isinstance(spec, (tuple, list)) and len(spec) == 2):
            raise ValueError(f"measure {name!r} must be (op, column), got {spec!r}")
        op, col = spec
        if op not in _SUPPORTED:
            raise ValueError(
                f"measure {name!r}: {op!r} is not incrementally maintainable "
                f"(supported: {_SUPPORTED}; MIN/MAX need the unchanged rows "
                f"to re-derive an extreme after a delete — rebuild instead)"
            )
        if op in ("sum", "avg") and col is None:
            raise ValueError(f"measure {name!r}: {op} needs a source column")
        if op == "avg" and (name.endswith("__sum") or name.endswith("__cnt")):
            raise ValueError(f"measure {name!r}: reserved storage-name suffix")


def _meta_path(view_dir: str) -> str:
    return os.path.join(view_dir, _VIEW_META)


def _load_meta(view_dir: str) -> dict:
    with open(_meta_path(view_dir)) as f:
        return json.load(f)


def build_agg_view(
    spark: SparkSession,
    table_dir: str,
    view_dir: str,
    *,
    row_keys: list[str],
    group_by: list[str],
    measures: dict,
) -> dict:
    """Materialize the aggregate view (full computation) and persist
    its sync cursor. ``row_keys`` is the base table's row identity
    (what the diff-based CDF fallback keys on); ``measures`` maps
    output column → ``("sum", col)`` / ``("count", col)`` /
    ``("count", None)`` for COUNT(*). NULL group-key values are
    refused — the view is MERGE-maintained on ``group_by``, and SQL
    join semantics would silently never match a NULL group."""
    _validate(measures)
    base = read_table(spark, table_dir)
    # the NULL-group-key guard rides the aggregation pass itself
    # (round 11, guide §1): a dedicated `.count()` paid a SECOND full
    # base-table scan per build — at 100 TB that doubles the build's
    # IO. A CollectMetrics node under the groupBy counts NULL keys on
    # the same rows the aggregate reads; on violation the just-written
    # view dir is removed and the build raises exactly as before.
    # ONLY for a FRESH build: write_table overwrites the live epoch in
    # place, so a REBUILD over an existing view must refuse BEFORE
    # writing (the refusal's whole point is that the caller keeps the
    # stale-but-valid view) — it pays the old dedicated pre-check scan.
    from pyspark.sql import Observation

    null_key = (
        F.greatest(*[F.col(c).isNull() for c in group_by])
        if len(group_by) > 1
        else F.col(group_by[0]).isNull()
    )
    fresh = not os.path.isdir(view_dir)
    obs = None
    base_obs = base
    if fresh:
        obs = Observation()
        base_obs = base.observe(
            obs,
            F.coalesce(
                F.sum(F.when(null_key, 1).otherwise(0)), F.lit(0)
            ).alias("nulls"),
        )
    else:
        pre_nulls = base.where(null_key).count()
        if pre_nulls:
            raise ValueError(
                f"{pre_nulls} base rows carry NULL in {group_by}; NULL group "
                f"keys cannot be merge-maintained — filter or coalesce them first"
            )
    stored, _derived = _storage_measures(measures)
    view = base_obs.groupBy(*group_by).agg(
        *_measure_exprs(stored), F.count(F.lit(1)).alias(_ROWS_COL)
    )
    dest = write_table(spark, view, view_dir)
    # n_groups from the just-committed file-stats manifest (driver
    # metadata): a .count() here re-ran the whole base aggregation as a
    # second job per build (round 10)
    from ariadne_dbt_spark.operators.table_store import _load_manifest

    man = _load_manifest(dest)
    if man is not None and all(isinstance(e.get("rows"), int) for e in man.values()):
        n_groups = sum(e["rows"] for e in man.values())
    else:  # manifest is best-effort; fall back to the old job
        n_groups = view.count()
    if obs is None or n_groups == 0:
        # rebuild path (guard already ran pre-write), or empty base ⇒
        # empty view ⇒ no NULL keys — and the one case where the
        # optimizer folds a statically-empty plan down to nothing and
        # the CollectMetrics row never materializes, so obs.get must
        # not be consulted
        null_groups = 0
    else:
        null_groups = int(obs.get["nulls"] or 0)
    if null_groups:
        # fresh build only: discard the dir this call just created
        import shutil as _sh

        _sh.rmtree(view_dir, ignore_errors=True)
        raise ValueError(
            f"{null_groups} base rows carry NULL in {group_by}; NULL group "
            f"keys cannot be merge-maintained — filter or coalesce them first"
        )
    meta = {
        "table_dir": os.path.abspath(table_dir),
        "row_keys": list(row_keys),
        "group_by": list(group_by),
        "measures": {k: [op, col] for k, (op, col) in measures.items()},
        "synced_epoch": read_epoch(table_dir),
        "view_epoch": read_epoch(view_dir),
    }
    atomic_write_json(_meta_path(view_dir), meta)
    return {"view_dir": view_dir, **meta, "n_groups": n_groups}


def view_status(view_dir: str) -> dict:
    """Sync state without touching Spark: the cursor plus whether the
    base table has moved past it."""
    meta = _load_meta(view_dir)
    cur = read_epoch(meta["table_dir"])
    return {
        **meta,
        "base_epoch": cur,
        "stale": cur != meta["synced_epoch"],
        "view_moved_externally": read_epoch(view_dir) != meta["view_epoch"],
    }


def _delta_exprs(measures: dict, sign) -> list:
    """Signed fold of change rows → per-group measure deltas."""
    out = []
    for name, (op, col) in measures.items():
        if op == "sum":
            out.append(F.sum(sign * F.coalesce(F.col(col), F.lit(0))).alias(name))
        else:
            contrib = (
                F.lit(1) if col is None else F.when(F.col(col).isNotNull(), 1).otherwise(0)
            )
            out.append(F.sum(sign * contrib).alias(name))
    return out


def refresh_agg_view(
    spark: SparkSession,
    view_dir: str,
    *,
    retention_sec: float = 0.0,
    allow_rebuild: bool = True,
    auto_optimize: bool = True,
) -> dict:
    """Fold the base table's changes since the last sync into the view.

    Prefers the log-backed CDF (O(churn); requires ``enable_change_feed``
    on the base table and retention covering the sync gap), falling
    back to :func:`table_changes` version diffing when logs are absent,
    and to a FULL REBUILD when even the diff base epoch was vacuumed or
    the view moved without its cursor (crash mid-refresh) — never a
    silent double-fold. Cost of the fold itself: changed rows are
    grouped once (shuffle O(churn)), the affected groups join the view
    (merge-pruned on the clustered group key), and two epoch flips at
    most (upsert + dead-group delete)."""
    meta = _load_meta(view_dir)
    table_dir = meta["table_dir"]
    group_by = list(meta["group_by"])
    measures = {k: (op, col) for k, (op, col) in meta["measures"].items()}
    stored, _derived = _storage_measures(measures)
    synced, cur = int(meta["synced_epoch"]), read_epoch(table_dir)

    def rebuild(reason: str) -> dict:
        if not allow_rebuild:
            raise RuntimeError(f"view {view_dir} needs a rebuild ({reason})")
        rep = build_agg_view(
            spark,
            table_dir,
            view_dir,
            row_keys=meta["row_keys"],
            group_by=group_by,
            measures=measures,
        )
        return {"refreshed": True, "mode": "rebuild", "reason": reason, **rep}

    if read_epoch(view_dir) != int(meta["view_epoch"]):
        return rebuild("view epoch moved without its sync cursor")
    if cur == synced:
        return {"refreshed": False, "mode": "noop", "synced_epoch": synced}

    mode = "log"
    try:
        cdf = table_changes_log(spark, table_dir, from_epoch=synced, to_epoch=cur)
    except (ValueError, FileNotFoundError):
        mode = "diff"
        try:
            cdf = table_changes(
                spark,
                table_dir,
                meta["row_keys"],
                from_epoch=synced,
                to_epoch=cur,
                with_preimages=True,
            )
        except FileNotFoundError:
            return rebuild(f"epoch {synced} vacuumed before refresh")

    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    row_delta = F.sum(sign).alias(_ROWS_COL)
    deltas = cdf.groupBy(*group_by).agg(*_delta_exprs(stored, sign), row_delta)
    deltas = deltas.persist()
    try:
        from ariadne_dbt_spark.operators.table_store import (
            MERGE_PRUNE_MAX_KEYS,
            read_table_for_keys,
        )

        cap = MERGE_PRUNE_MAX_KEYS
        key0 = group_by[0]
        any_null = F.greatest(*[F.col(c).isNull() for c in group_by], F.lit(False))
        # ONE bounded collect of the delta group keys (round 11): the
        # fold touches only the churn's groups, so NULL group keys are
        # gated before any view IO and the view side of the fold is
        # read through the merge's own footer/manifest prune —
        # O(touched files), never the O(view) full scan the plain
        # read_table join paid. Keep the view OPTIMIZEd on the group
        # key (auto_optimize below does) and the fold tracks churn,
        # not view size. Past the cap, the old full-scan path runs
        # unchanged — the validity stats must see every group. The
        # prune reads only the leading key, so only it and one any-NULL
        # flag per group cross to the driver.
        dkeys = deltas.select(key0, any_null.alias("_null")).limit(cap + 1).collect()
        small = len(dkeys) <= cap
        if small and any(r["_null"] for r in dkeys):
            return rebuild("changed rows carry NULL group keys")
        if small:
            view = read_table_for_keys(spark, view_dir, key0, [r[key0] for r in dkeys])
        else:
            view = read_table(spark, view_dir)
        # deltas ⟕ view: affected groups only — pruned files on the
        # small path, manifest-read on the fallback, joined on the
        # (clustered) group key either way.
        d = deltas.alias("d")
        v = view.alias("v")
        joined = d.join(v, group_by, "left")
        folded = joined.select(
            *[F.col(f"d.{c}") for c in group_by],
            *[
                (F.coalesce(F.col(f"v.{name}"), F.lit(0)) + F.col(f"d.{name}"))
                .cast(dict(view.dtypes)[name])
                .alias(name)
                for name in stored
            ],
            (
                F.coalesce(F.col(f"v.{_ROWS_COL}"), F.lit(0)) + F.col(f"d.{_ROWS_COL}")
            ).alias(_ROWS_COL),
        ).persist()
        # Validate the fold and pre-compute the view merge's key probe
        # (round 11): on the small path the folded rows are the delta
        # groups joined against a handful of pruned files — collecting
        # (leading key, _rows) yields the negative-row / dead-group
        # checks in plain Python plus the exact distinct-key list the
        # merge would otherwise re-derive with its own probe job (one
        # folded row per group, so the row count is the group count).
        key_stats = None
        if small:
            head = folded.select(key0, _ROWS_COL).collect()
            n_null = 0  # gated on dkeys before any view IO
            n_bad = sum(1 for r in head if r[_ROWS_COL] < 0)
            n_dead = sum(1 for r in head if r[_ROWS_COL] == 0)
            key_stats = {
                "keys0": [r[key0] for r in head if r[key0] is not None],
                "n_rows": len(head),
            }
        else:
            stats = folded.agg(
                F.count(F.when(any_null, 1)).alias("nulls"),
                F.count(F.when(F.col(_ROWS_COL) < 0, 1)).alias("bad"),
                F.count(F.when(F.col(_ROWS_COL) == 0, 1)).alias("dead"),
            ).collect()[0]
            n_null, n_bad, n_dead = stats["nulls"], stats["bad"], stats["dead"]
        if n_null or n_bad:
            folded.unpersist()
            if n_null:
                return rebuild("changed rows carry NULL group keys")
            return rebuild(f"{n_bad} groups folded to negative row counts")

        # ONE fused merge (round 10): live groups upsert and dead
        # groups delete in the same epoch flip via
        # source_delete_condition — the old live-merge + delete_keys
        # pair paid two full commit cycles (probe + staged write each)
        # per refresh
        rep = merge_table(
            spark,
            view_dir,
            folded,
            group_by,
            source_delete_condition=F.col(_ROWS_COL) == 0,
            retention_sec=retention_sec,
            source_key_stats=key_stats,
        )
        folded.unpersist()
    finally:
        deltas.unpersist()

    if auto_optimize:
        # per-refresh merges fragment the view table; fold it when the
        # metadata-only signal fires, clustered on the group key so the
        # NEXT refresh's view merge stays manifest-pruned. The optimize
        # epoch lands BEFORE the cursor write below, so the cursor
        # always records the post-compaction view epoch.
        from ariadne_dbt_spark.operators.table_store import optimize_table, table_report

        if table_report(view_dir)["should_optimize"]:
            optimize_table(
                spark, view_dir, cluster_by=group_by, retention_sec=retention_sec
            )

    meta["synced_epoch"] = cur
    meta["view_epoch"] = read_epoch(view_dir)
    atomic_write_json(_meta_path(view_dir), meta)
    return {
        "refreshed": True,
        "mode": mode,
        "synced_epoch": cur,
        "groups_upserted": rep["rows_updated"] + rep["rows_inserted"],
        "groups_deleted": n_dead,
    }
