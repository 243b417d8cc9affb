"""Clause-matrix oracle for every managed-table DML
(operators/table_store.py merge_table / update_where / delete_where).

Every legal MERGE clause combination — ``when_matched`` update / delete /
None × ``when_not_matched`` insert / None × ``when_not_matched_by_source``
delete / None × ``when_matched_condition`` × ``source_delete_condition`` —
plus predicate UPDATE and DELETE, each run against a target that holds a
duplicated key. Each case checks three outputs against a Python oracle:

* the committed table rows;
* the report's ``rows_updated`` / ``rows_deleted`` / ``rows_inserted``;
* the change-data-feed rows ``table_changes_log`` reads for the commit.

Each case runs twice: once with the counts riding the staged write
(``DataFrame.observe``) and once with ``_counts_via_observe`` patched to
False (the ``spark.speculation`` path). Matched-delete plus by-source
delete tags every touched row for deletion; it must still return its
counts without waiting on a metric the optimizer pruned.
"""

from __future__ import annotations

import itertools
from collections import Counter

import pytest
from pyspark.sql import functions as F

from ariadne_dbt_spark.operators import table_store as ts
from ariadne_dbt_spark.session import local_frame

SCHEMA = "id long, grp string, v long"

#: key 2 is held twice; key 3's NULL value makes the matched condition NULL
TARGET = [
    (0, "t", 0),
    (1, "t", 10),
    (2, "t", 20),
    (2, "t", 25),
    (3, "t", None),
    (4, "t", 40),
    (5, "t", 50),
]
#: unique keys; negative v flags a source row for source_delete_condition
SOURCE = [
    (1, "s", 5),  # matched, condition false
    (2, "s", 22),  # matched twice: condition true on 20, false on 25
    (3, "s", 30),  # matched, condition NULL
    (4, "s", -1),  # matched, delete-flagged
    (10, "s", 100),  # not matched
    (11, "s", -5),  # not matched, delete-flagged
]
MATCHED_CONDITION = "s.v > t.v"


def _flagged(s):
    return s[2] is not None and s[2] < 0


def _merge_oracle(wm, wnm, bs, mc, sdc):
    """(rows, counts, changes) of one MERGE, row by row."""
    by_key = {s[0]: s for s in SOURCE}
    target_keys = {t[0] for t in TARGET}
    rows, changes = [], []
    counts = {"rows_updated": 0, "rows_deleted": 0, "rows_inserted": 0}
    for t in TARGET:
        s = by_key.get(t[0])
        if s is None:
            act = "d" if bs else "k"
        elif sdc and _flagged(s):
            act = "d"
        elif wm is None:
            act = "k"
        elif mc and not (s[2] is not None and t[2] is not None and s[2] > t[2]):
            act = "k"
        else:
            act = "u" if wm == "update" else "d"
        if act == "k":
            rows.append(t)
        elif act == "u":
            rows.append(s)
            changes += [(*t, "update_preimage"), (*s, "update_postimage")]
            counts["rows_updated"] += 1
        else:
            changes.append((*t, "delete"))
            counts["rows_deleted"] += 1
    for s in SOURCE:
        if wnm and s[0] not in target_keys and not (sdc and _flagged(s)):
            rows.append(s)
            changes.append((*s, "insert"))
            counts["rows_inserted"] += 1
    return rows, counts, changes


def _merge_cases():
    for wm, wnm, bs, mc in itertools.product(
        ("update", "delete", None), ("insert", None), ("delete", None), (False, True)
    ):
        if wm is None and wnm is None and bs is None:
            continue  # a merge with no clause is refused
        yield (wm, wnm, bs, mc, False)
    for wnm in ("insert", None):
        yield ("update", wnm, None, False, True)


MERGE_CASES = list(_merge_cases())


def _case_id(case):
    wm, wnm, bs, mc, sdc = case
    return (
        f"matched-{wm}-notmatched-{wnm}-bysource-{bs}"
        + ("-cond" if mc else "")
        + ("-srcdelete" if sdc else "")
    )


def _table(spark, tdir):
    ts.write_table(spark, local_frame(spark, TARGET, SCHEMA), tdir)
    ts.enable_change_feed(tdir)
    return ts.read_epoch(tdir)


def _check(spark, tdir, ep0, rep, rows, counts, changes):
    got_rows = [tuple(r) for r in ts.read_table(spark, tdir).select("id", "grp", "v").collect()]
    assert Counter(got_rows) == Counter(rows)
    assert {k: rep[k] for k in counts} == counts
    log = ts.table_changes_log(spark, tdir, from_epoch=ep0)
    got_changes = [
        tuple(r) for r in log.select("id", "grp", "v", "_change_type").collect()
    ]
    assert Counter(got_changes) == Counter(changes)
    assert ts.read_epoch(tdir) == ep0 + 1


def _both_count_paths(monkeypatch, run):
    run("observe")
    monkeypatch.setattr(ts, "_counts_via_observe", lambda _s: False)
    run("job")


@pytest.mark.parametrize("case", MERGE_CASES, ids=[_case_id(c) for c in MERGE_CASES])
def test_merge_clause_matrix_matches_oracle(spark, tmp_path, monkeypatch, case):
    wm, wnm, bs, mc, sdc = case
    rows, counts, changes = _merge_oracle(*case)

    def run(path):
        tdir = str(tmp_path / path)
        ep0 = _table(spark, tdir)
        rep = ts.merge_table(
            spark,
            tdir,
            local_frame(spark, SOURCE, SCHEMA),
            ["id"],
            when_matched=wm,
            when_not_matched=wnm,
            when_not_matched_by_source=bs,
            when_matched_condition=MATCHED_CONDITION if mc else None,
            source_delete_condition=F.col("v") < 0 if sdc else None,
            retention_sec=3600,
        )
        assert rep["rows_source"] == len(SOURCE)
        _check(spark, tdir, ep0, rep, rows, counts, changes)

    _both_count_paths(monkeypatch, run)


def _where_oracle(set_v, pred):
    rows, changes = [], []
    hits = 0
    for t in TARGET:
        if not pred(t):
            rows.append(t)
            continue
        hits += 1
        if set_v is None:
            changes.append((*t, "delete"))
        else:
            post = (t[0], t[1], set_v(t))
            rows.append(post)
            changes += [(*t, "update_preimage"), (*post, "update_postimage")]
    key = "rows_deleted" if set_v is None else "rows_updated"
    other = "rows_updated" if set_v is None else "rows_deleted"
    return rows, {key: hits, other: 0}, changes


#: (op, SQL predicate, python predicate): v > 20 is NULL on key 3 and
#: hits one row of the duplicated key 2, id = 2 hits both, v > 1000 none.
#: A literal TRUE tags every row ``d``: the optimizer could fold the
#: write's filter to false and prune the metric node the count rides on.
WHERE_CASES = [
    ("update", "v > 20", lambda t: t[2] is not None and t[2] > 20),
    ("delete", "v > 20", lambda t: t[2] is not None and t[2] > 20),
    ("update", "id = 2", lambda t: t[0] == 2),
    ("delete", "v > 1000", lambda t: False),
    ("delete", "true", lambda t: True),
]


@pytest.mark.parametrize(
    "op,sql,pred", WHERE_CASES, ids=[f"{c[0]}-{c[1]}" for c in WHERE_CASES]
)
def test_where_ops_match_oracle(spark, tmp_path, monkeypatch, op, sql, pred):
    set_v = (lambda t: t[2] + 1) if op == "update" else None
    rows, counts, changes = _where_oracle(set_v, pred)

    def run(path):
        tdir = str(tmp_path / path)
        ep0 = _table(spark, tdir)
        if op == "update":
            rep = ts.update_where(spark, tdir, {"v": "v + 1"}, sql, retention_sec=3600)
        else:
            rep = ts.delete_where(spark, tdir, sql, retention_sec=3600)
        _check(spark, tdir, ep0, rep, rows, counts, changes)

    _both_count_paths(monkeypatch, run)




#: functions that READ change rows rather than commit them: the log
#: reader and the version-diff audit path
_CHANGE_READERS = {"table_changes_log", "table_changes"}


def commit_tail_offenders(path: str) -> dict:
    """Top-level functions of ``path`` that call ``.observe(`` and that
    build ``_change_type`` rows outside the change readers."""
    import ast

    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    observe, change_rows = set(), set()
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "observe"
            ):
                observe.add(fn.name)
            if (
                isinstance(node, ast.Constant)
                and node.value == "_change_type"
                and fn.name not in _CHANGE_READERS
            ):
                change_rows.add(fn.name)
    return {"observe": sorted(observe), "change_rows": sorted(change_rows)}


def test_one_commit_tail_observes_and_builds_change_rows():
    """Every DML's counts and change log come from one commit tail: a
    second function that observes or builds ``_change_type`` rows is a
    second copy of the clause semantics, which drifts."""
    import os

    from conftest import REPO

    found = commit_tail_offenders(
        os.path.join(REPO, "ariadne_dbt_spark", "operators", "table_store.py")
    )
    assert len(found["observe"]) == 1, found
    assert found["change_rows"] == found["observe"], found


def _capture_staged_plans(monkeypatch):
    """Record the analyzed plan of every staged write ``_cow_commit``
    receives."""
    plans = []
    real = ts._cow_commit

    def spy(table_dir, epoch, live, merged, *a, **kw):
        plans.append(merged._jdf.queryExecution().analyzed().toString())
        return real(table_dir, epoch, live, merged, *a, **kw)

    monkeypatch.setattr(ts, "_cow_commit", spy)
    return plans


def test_source_broadcast_hint_is_gated_on_estimated_bytes(spark, tmp_path, monkeypatch):
    """The full-width source side of the merge join carries a broadcast
    hint only when the probe's row count times the schema's row width
    fits Spark's ``autoBroadcastJoinThreshold``: a wide source above it
    is left to the planner, a narrow one keeps the hint."""
    wide_cols = [f"c{i}" for i in range(40)]
    wide_schema = "id long, " + ", ".join(f"{c} string" for c in wide_cols)
    n = 200

    def merge(name, schema, row):
        tdir = str(tmp_path / name)
        ts.write_table(spark, local_frame(spark, [row(i) for i in range(n)], schema), tdir)
        src = local_frame(spark, [row(i) for i in range(0, n, 2)], schema)
        ts.merge_table(spark, tdir, src, ["id"])

    plans = _capture_staged_plans(monkeypatch)
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # 64 KB: 100 narrow rows (~24 B) fit, 100 wide rows (~800 B) do not
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024))
    try:
        merge("wide", wide_schema, lambda i: (i, *[f"v{i}"] * len(wide_cols)))
        merge("narrow", "id long, v long", lambda i: (i, i))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    wide, narrow = plans
    assert "strategy=broadcast" not in wide
    assert "strategy=broadcast" in narrow


def test_noop_dmls_stage_no_empty_data_files(spark, tmp_path):
    """A DML whose rewrite set is empty commits an epoch without adding
    a 0-row data file to the live set: such a file has no key bounds,
    so every later merge would count it as touched. The no-op epochs
    stay in the history and in the change feed."""
    tdir = str(tmp_path / "t")
    rows = [(i, "t", i) for i in range(400)]
    ts.write_table(spark, local_frame(spark, rows, SCHEMA).repartitionByRange(4, "id"), tdir)
    ts.enable_change_feed(tdir)
    ep0 = ts.read_epoch(tdir)
    n0 = ts.table_report(tdir)["n_files"]
    assert n0 == 4

    absent = local_frame(spark, [(10_000, "s", 1)], SCHEMA)
    ts.delete_keys(spark, tdir, absent.select("id"), ["id"], retention_sec=3600)
    assert ts.table_report(tdir)["n_files"] == n0
    rep = ts.delete_where(spark, tdir, "id > 5000", retention_sec=3600)
    assert rep["rows_deleted"] == 0
    assert ts.table_report(tdir)["n_files"] == n0
    rep = ts.merge_table(
        spark, tdir, absent, ["id"], when_not_matched=None, retention_sec=3600
    )
    assert rep["rows_updated"] == 0
    assert ts.table_report(tdir)["n_files"] == n0

    rep = ts.merge_table(
        spark, tdir, local_frame(spark, [(5, "s", 55)], SCHEMA), ["id"], retention_sec=3600
    )
    assert rep["n_files_touched"] == 1, rep
    assert ts.table_report(tdir)["n_files"] == n0
    assert [h["epoch"] for h in ts.table_history(tdir)] == list(range(ep0, ep0 + 5))
    log = ts.table_changes_log(spark, tdir, from_epoch=ep0)
    got = sorted((r["_commit_epoch"], r["id"], r["v"], r["_change_type"]) for r in log.collect())
    assert got == [(ep0 + 4, 5, 5, "update_preimage"), (ep0 + 4, 5, 55, "update_postimage")]
    want = sorted((i, 55 if i == 5 else i) for i in range(400))
    assert sorted((r["id"], r["v"]) for r in ts.read_table(spark, tdir).collect()) == want
