"""Engine configuration: intent vocabulary, traversal depths, ranking
weights, budget fractions.

Behavioral parameters mirror the reference's tuning so query results are
comparable (reference: src/ariadne_dbt/config.py:21-41 for
budget/pivots/depths, search.py:13-20 for the intent→layer boost matrix,
capsule.py:24-43 for intent lexicons); the wording of the lexicons is our
own.
"""

from __future__ import annotations

from dataclasses import dataclass, field

#: intent → (upstream_depth, downstream_depth) — reference: config.py:34-41
INTENT_DEPTHS: dict[str, tuple[int, int]] = {
    "debug": (2, 1),
    "add_feature": (1, 2),
    "refactor": (1, 3),
    "test": (0, 0),
    "document": (1, 1),
    "explore": (1, 1),
}

#: keyword lexicons for intent detection — hit-count argmax, default
#: "explore" (reference shape: capsule.py:24-43)
INTENT_LEXICONS: dict[str, tuple[str, ...]] = {
    "debug": ("debug", "fix", "error", "failing", "broken", "investigate", "wrong", "issue"),
    "add_feature": ("add", "create", "new", "implement", "build", "metric", "feature"),
    "refactor": ("refactor", "rename", "restructure", "cleanup", "consolidate", "migrate", "split"),
    "test": ("test", "tests", "coverage", "assert", "validate", "quality"),
    "document": ("document", "documentation", "describe", "docs", "readme", "explain"),
}

#: intent → per-layer score boost used by the hybrid re-ranker.
#: Values copied verbatim from the reference's INTENT_LAYER_WEIGHTS
#: (reference: search.py:13-20) so rank order matches: e.g. debug boosts
#: staging (where raw-data bugs live) over marts.
LAYER_BOOSTS: dict[str, dict[str, float]] = {
    "debug": {"staging": 0.10, "intermediate": 0.05, "marts": 0.0, "other": 0.0},
    "add_feature": {"staging": 0.0, "intermediate": 0.05, "marts": 0.10, "other": 0.0},
    "refactor": {"staging": 0.0, "intermediate": 0.10, "marts": 0.05, "other": 0.0},
    "test": {"staging": 0.05, "intermediate": 0.05, "marts": 0.05, "other": 0.0},
    "document": {"staging": 0.0, "intermediate": 0.0, "marts": 0.0, "other": 0.0},
    "explore": {"staging": 0.0, "intermediate": 0.0, "marts": 0.0, "other": 0.0},
}

#: hybrid score weights (reference: search.py:79-102)
HYBRID_WEIGHTS = {"bm25": 0.55, "centrality": 0.20, "layer": 0.10, "name": 0.15}

#: capsule budget fractions (reference: capsule.py:325-332)
BUDGET_FRACTIONS = {
    "pivot": 0.45,
    "upstream": 0.20,
    "downstream": 0.10,
    "tests_macros": 0.10,
    "patterns": 0.10,
    "session": 0.05,
}


@dataclass
class EngineConfig:
    token_budget: int = 10_000  # reference: config.py:21
    max_pivots: int = 3  # reference: config.py:32-33
    max_depth: int = 10  # reference clamps traversal depth
    discover_limit: int = 80  # reference: server.py:148
    search_limit_cap: int = 50  # reference: server.py clamps limits
    sql_index_chars: int = 2000  # reference: indexer.py:475-476
    # Porter-stem index AND query tokens (reference: FTS5
    # tokenize='porter ascii', schema.sql:209). Both sides always agree:
    # this one flag drives _build_postings, search_models, and
    # LocalIndexCache.bm25.
    stem_tokens: bool = True
    description_truncate: int = 200  # reference: server.py:389
    # manifests at or under this model count derive degrees/PK-FK/postings
    # driver-side (pure Python over the already-parsed rows) and ship them
    # to the JVM as LocalRelations (session.local_frame) — zero Spark jobs
    # on the build path. Larger
    # manifests route through the distributed DataFrame derivations
    # (identical semantics, parity-pinned in tests/test_indexer.py).
    local_build_max_models: int = 20_000
    intent_depths: dict[str, tuple[int, int]] = field(
        default_factory=lambda: dict(INTENT_DEPTHS)
    )

    def depths_for(self, intent: str) -> tuple[int, int]:
        return self.intent_depths.get(intent, (1, 1))
