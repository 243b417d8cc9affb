"""Context-capsule building blocks: the engine's primary query (SURVEY
§2.9, §3.2).

Reference behavior (src/ariadne_dbt/capsule.py:136-205): detect intent →
select pivots (explicit anchors first, hybrid-search fill) → multi-pivot
BFS at intent depths with min-distance union → related tests / macros /
sources / similar models / project patterns → assemble 3-tier contexts
under a greedy token budget with the reference's break-vs-skip asymmetry
(pivots/tests skip-and-continue, up/downstream break on first overflow —
capsule.py:345-363).

Token estimation is ``len(json.dumps(x)) // 4`` min 1 (capsule.py:48-56).
The capsule and discover list are assembled by the index's driver-local
snapshot (``LocalIndexCache.capsule`` / ``discover``,
operators/local_cache.py) from the pieces here: intent detection, token
estimation, the three tier renderers, the confidence heuristic and the
greedy budget fill. The budget bounds the output by construction.
"""

from __future__ import annotations

import json

from ariadne_dbt_spark.config import INTENT_LEXICONS


def detect_intent(task: str) -> str:
    """Keyword-hit argmax over the intent lexicons, deterministic
    tie-break by intent name, default 'explore'
    (reference: capsule.py:24-43)."""
    toks = set(task.lower().split())
    best, best_hits = "explore", 0
    for intent in sorted(INTENT_LEXICONS):
        hits = sum(1 for w in INTENT_LEXICONS[intent] if w in toks)
        if hits > best_hits:
            best, best_hits = intent, hits
    return best


def estimate_tokens(obj) -> int:
    """len(json.dumps(x)) // 4, min 1 (reference: capsule.py:48-56)."""
    return max(1, len(json.dumps(obj, default=str)) // 4)


# -- tiers (C4, reference: capsule.py:61-117)
def full_context(row, cols) -> dict:
    return {
        "unique_id": row["unique_id"],
        "name": row["name"],
        "layer": row["layer"],
        "materialization": row["materialization"],
        "description": row["description"],
        "sql": (row["compiled_code"] or row["raw_code"] or "")[:2000],
        "columns": [
            {
                "name": c["name"],
                "type": c["data_type"],
                "tests": list(c["test_types"]),
                "pk": bool(c["is_primary_key"]),
                "fk": bool(c["is_foreign_key"]),
            }
            for c in cols
        ],
        "depends_on": list(row["depends_on_nodes"] or []),
    }


def skeleton_context(row, cols, distance) -> dict:
    return {
        "unique_id": row["unique_id"],
        "name": row["name"],
        "layer": row["layer"],
        "distance": distance,
        "columns": [{"name": c["name"], "type": c["data_type"]} for c in cols],
    }


def minimal_context(row, cols, distance) -> dict:
    key_cols = [c["name"] for c in cols if c["is_primary_key"] or c["is_foreign_key"]][:5]
    return {
        "unique_id": row["unique_id"],
        "name": row["name"],
        "distance": distance,
        "column_count": len(cols),
        "key_columns": key_cols,
    }


def confidence(explicit: bool, scores: list[float]) -> str:
    """Reference heuristic (capsule.py:272-304): explicit anchors →
    high; clear score separation → high/medium; else low."""
    if explicit:
        return "high"
    if len(scores) >= 3 and scores[2] > 0 and scores[0] > 2 * scores[2]:
        return "high"
    if len(scores) >= 2 and scores[1] > 0 and scores[0] > 1.5 * scores[1]:
        return "medium"
    if 1 <= len(scores) <= 2 and scores[0] > 5.0:
        return "medium"
    return "low"


def greedy_fill(items: list[dict], alloc: int, *, break_on_overflow: bool) -> list[dict]:
    """Budget fill (C2/C3, reference: capsule.py:325-396): keep items in
    order while they fit ``alloc`` tokens; on the first overflow stop
    (``break_on_overflow``) or skip it and keep trying smaller items."""
    out, used = [], 0
    for it in items:
        cost = estimate_tokens(it)
        if used + cost <= alloc:
            out.append(it)
            used += cost
        elif break_on_overflow:
            break
    return out
