"""Column-level lineage extraction (SURVEY §1.1 column_lineage).

The reference RESERVES a column_lineage table but ships no populating
code in v0.1 (reference: schema.sql:151-163, README roadmap; sqlglot is
an optional extra). Here a lightweight SQL-projection parser populates
it for the common dbt shapes — plain projections, aliased renames,
expressions, aggregates — which covers the staging/mart idiom that
dominates real projects.

Transformation taxonomy matches the reserved schema: ``direct`` (same
name, bare column), ``renamed`` (bare column, new alias), ``aggregated``
(top-level aggregate function), ``derived`` (any other expression).

Parsing is regex-level by design: no SQL dependency, deterministic, and
honest about its limits (CTE-internal lineage attributes to the CTE
alias; unresolvable sources → null source_model_id). sqlglot slots in
behind the same DataFrame contract when available.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from ariadne_dbt_spark.session import local_frame

_AGG_FNS = ("sum", "count", "avg", "min", "max", "approx_count_distinct", "collect_list")

_REF = re.compile(r"\{\{\s*ref\(\s*['\"](\w+)['\"]\s*\)\s*\}\}")
_SOURCE = re.compile(r"\{\{\s*source\(\s*['\"](\w+)['\"]\s*,\s*['\"](\w+)['\"]\s*\)\s*\}\}")
_FROM_JOIN = re.compile(
    r"\b(?:from|join)\s+(\{\{[^}]+\}\}|[\w.]+)\s*(?:as\s+)?(\w+)?", re.I
)
_BARE_COL = re.compile(r"^(?:(\w+)\.)?(\w+)$")


def _split_top_level(s: str) -> list[str]:
    """Split a select list on commas not inside parens."""
    items, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            items.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        items.append("".join(cur).strip())
    return [i for i in items if i]


def _final_select(sql: str) -> str | None:
    """The projection list of the LAST top-level SELECT (after CTEs)."""
    depth = 0
    last_sel = None
    low = sql.lower()
    for m in re.finditer(r"\bselect\b|\(|\)", low):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            last_sel = m.start()
    if last_sel is None:
        return None
    rest = sql[last_sel + 6 :]
    mfrom = re.search(r"\bfrom\b", rest, re.I)
    # find the FROM at paren depth 0
    depth = 0
    for m in re.finditer(r"\bfrom\b|\(|\)", rest, re.I):
        tok = m.group(0).lower()
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            return rest[: m.start()]
    return rest if mfrom is None else rest[: mfrom.start()]


def _alias_map(sql: str) -> dict[str, str]:
    """table-alias → relation name; {{ ref('x') }} → model:x,
    {{ source('s','t') }} → source:s.t, bare names → cte/unknown."""
    out: dict[str, str] = {}
    for m in _FROM_JOIN.finditer(sql):
        target, alias = m.group(1), m.group(2)
        r = _REF.search(target)
        s = _SOURCE.search(target)
        if r:
            rel = f"model:{r.group(1)}"
        elif s:
            rel = f"source:{s.group(1)}.{s.group(2)}"
        elif target.startswith("{{"):
            rel = "unknown"
        else:
            rel = f"cte:{target}"
        if alias and alias.lower() not in ("on", "where", "group", "order", "left", "right",
                                           "inner", "outer", "cross", "using"):
            out[alias] = rel
        out.setdefault("", rel)  # first relation = default for unqualified cols
    return out


def extract_column_lineage(model_name: str, raw_sql: str) -> list[dict]:
    """Lineage rows for one model's final projection."""
    sel = _final_select(raw_sql)
    if sel is None:
        return []
    aliases = _alias_map(raw_sql)
    rows = []
    for item in _split_top_level(sel):
        item = item.strip()
        if item == "*":
            continue
        m = re.search(r"\s+as\s+(\w+)\s*$", item, re.I)
        if m:
            target_col, expr = m.group(1), item[: m.start()].strip()
        else:
            expr = item
            bare = _BARE_COL.match(expr)
            target_col = bare.group(2) if bare else expr
        bare = _BARE_COL.match(expr)
        low = expr.lower()
        if bare:
            prefix, src_col = bare.group(1) or "", bare.group(2)
            transformation = "direct" if src_col == target_col else "renamed"
            source_rel = aliases.get(prefix, aliases.get("", None))
        else:
            src_cols = sorted({
                c.group(2)
                for c in re.finditer(r"\b(\w+)\.(\w+)\b", expr)
            }) or sorted(set(re.findall(r"\b([a-z_]\w*)\b", low)) - set(_AGG_FNS))
            src_col = src_cols[0] if src_cols else None
            transformation = (
                "aggregated"
                if re.match(rf"^\s*(?:{'|'.join(_AGG_FNS)})\s*\(", low)
                else "derived"
            )
            prefixes = {c.group(1) for c in re.finditer(r"\b(\w+)\.(\w+)\b", expr)}
            source_rel = (
                aliases.get(next(iter(prefixes)), aliases.get("", None))
                if len(prefixes) == 1
                else aliases.get("", None)
            )
        rows.append({
            "target_model": model_name,
            "target_column": target_col,
            "source_relation": source_rel,
            "source_column": src_col,
            "transformation": transformation,
        })
    return rows


_LINEAGE_SCHEMA = (
    "target_model string, target_column string, source_relation string,"
    " source_column string, transformation string"
)
_LINEAGE_COLS = [
    "target_model",
    "target_column",
    "source_relation",
    "source_column",
    "transformation",
]


def build_column_lineage(spark: SparkSession, models: list[dict]) -> DataFrame:
    """Lineage DataFrame over parsed manifest model rows
    (``column_lineage`` table shape, FIXTURES.md §3)."""
    rows = []
    for m in models:
        rows.extend(extract_column_lineage(m["name"], m.get("raw_code") or ""))
    return local_frame(spark, rows, _LINEAGE_SCHEMA)


def column_lineage_df(
    models: DataFrame, *, name_col: str = "name", sql_col: str = "raw_code"
) -> DataFrame:
    """Distributed lineage extraction: the same parser applied per model
    inside Arrow-batched ``mapInPandas``. Parsing is per-row work with no
    cross-row state — the canonical scale-out shape for a pure-Python
    transform (at 10M managed models this is a map-only pass; the
    driver-side ``build_column_lineage`` remains for metadata-scale)."""
    import pandas as pd

    def parse(batches):
        for pdf in batches:
            rows: list[dict] = []
            for nm, sql in zip(pdf[name_col], pdf[sql_col]):
                rows.extend(extract_column_lineage(nm, sql or ""))
            yield pd.DataFrame(rows, columns=_LINEAGE_COLS)

    return models.select(name_col, sql_col).mapInPandas(parse, _LINEAGE_SCHEMA)
