"""Driver-local snapshot of the index: the serving implementation.

The index tables are metadata-scale (≤10k models — reference scale
envelope, README.md:13); the reference serves them from an in-process
SQLite. A Spark job per lookup costs 50-300ms of scheduling alone, so
the interactive tools — search, capsule, discover, lineage, impact and
the model-details lookups — are implemented once, here, in pure Python
over the held rows, and the ToolServer and the CLI answer from this
snapshot without a Spark job. Search keeps the DataFrame
``model_search.search_models`` semantics exactly (pinned by tests), as
lineage keeps ``lineage.get_lineage``'s and ``patterns`` keeps
``patterns.extract_patterns``'s; those DataFrame twins stay as the
batch path and as the references the tests compare against. The served
answers on the fixture project are pinned by
tests/fixtures/serving_golden.json.

Build cost: no JVM round trip on a driver-side index. ``from_rows``
takes the rows a driver-side ``AriadneIndex.build`` or ``refresh`` holds
(the refresh's postings/docstats are the old rows less the changed and
removed docs plus the re-tokenized ones). ``from_index`` (one collect per
table) covers everything else: a loaded index, the distributed build
path and an enriched one.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Iterable, Mapping

from ariadne_dbt_spark.config import BUDGET_FRACTIONS, HYBRID_WEIGHTS, LAYER_BOOSTS, EngineConfig
from ariadne_dbt_spark.functions.text import tokenize_query
from ariadne_dbt_spark.operators.capsule import (
    confidence,
    detect_intent,
    estimate_tokens,
    full_context,
    greedy_fill,
    minimal_context,
    skeleton_context,
)
from ariadne_dbt_spark.operators.search import B, DEFAULT_FIELD_WEIGHTS, K1, rounded_score

#: the index tables a snapshot holds besides postings/docstats
SNAPSHOT_TABLES = ("models", "columns", "tests", "macros", "sources", "exposures", "edges")


@dataclass
class LocalIndexCache:
    models: dict[str, dict] = field(default_factory=dict)
    columns: dict[str, list[dict]] = field(default_factory=dict)  # model_id → rows
    tests: dict[str, list[dict]] = field(default_factory=dict)  # model_id → rows
    macros: list[dict] = field(default_factory=list)
    sources: dict[str, dict] = field(default_factory=dict)
    exposures: dict[str, dict] = field(default_factory=dict)
    children: dict[str, list[str]] = field(default_factory=dict)
    parents: dict[str, list[str]] = field(default_factory=dict)
    # postings[field][term] → {unique_id: tf}; docstats[field][unique_id] → dl
    postings: dict[str, dict[str, dict[str, int]]] = field(default_factory=dict)
    docstats: dict[str, dict[str, int]] = field(default_factory=dict)
    #: the index's config: query stemming (queries must stem iff the
    #: postings were stemmed), the hit cap and the description cut
    config: EngineConfig = field(default_factory=EngineConfig)

    @classmethod
    def from_rows(cls, config: EngineConfig, tables: Mapping[str, Iterable]) -> "LocalIndexCache":
        """The snapshot over driver-side rows: ``tables`` maps each name
        in ``SNAPSHOT_TABLES`` to its rows as dicts keyed by column name
        (held, not copied), ``postings`` to ``(unique_id, field, term,
        tf)`` and ``docstats`` to ``(unique_id, field, dl)`` tuples."""
        c = cls(config=config)
        c.models = {m["unique_id"]: m for m in tables["models"]}
        for r in tables["columns"]:
            c.columns.setdefault(r["model_id"], []).append(r)
        for cols in c.columns.values():
            cols.sort(key=lambda x: x["name"])
        for r in tables["tests"]:
            c.tests.setdefault(r["model_id"], []).append(r)
        c.macros = list(tables["macros"])
        c.sources = {r["unique_id"]: r for r in tables["sources"]}
        c.exposures = {r["unique_id"]: r for r in tables["exposures"]}
        for r in tables["edges"]:
            c.children.setdefault(r["parent_id"], []).append(r["child_id"])
            c.parents.setdefault(r["child_id"], []).append(r["parent_id"])
        for uid, fld, term, tf in tables["postings"]:
            c.postings.setdefault(fld, {}).setdefault(term, {})[uid] = tf
        for uid, fld, dl in tables["docstats"]:
            c.docstats.setdefault(fld, {})[uid] = dl
        return c

    @classmethod
    def from_index(cls, index) -> "LocalIndexCache":
        """Collect every table of ``index`` and build the snapshot on it."""
        return cls.from_rows(index.config, {
            **{t: [r.asDict() for r in getattr(index, t).collect()] for t in SNAPSHOT_TABLES},
            "postings": index.postings.select("unique_id", "field", "term", "tf").collect(),
            "docstats": index.docstats.select("unique_id", "field", "dl").collect(),
        })

    # -- graph (pure-python BFS; same semantics as operators.graph.bfs) ------
    def bfs(self, starts: list[str], direction: str, max_depth: int,
            exclude_start: bool = True) -> list[tuple[str, int]]:
        adj = self.children if direction == "downstream" else self.parents
        max_depth = max(0, min(int(max_depth), 10))
        dist = {s: 0 for s in starts}
        frontier = list(dict.fromkeys(starts))
        for depth in range(1, max_depth + 1):
            nxt = []
            for node in frontier:
                for nb in adj.get(node, ()):
                    if nb not in dist:
                        dist[nb] = depth
                        nxt.append(nb)
            if not nxt:
                break
            frontier = nxt
        start_set = set(starts)
        return sorted(
            ((u, d) for u, d in dist.items() if not (exclude_start and u in start_set)),
            key=lambda t: (t[1], t[0]),
        )

    # -- search (same math as operators.search.bm25 + hybrid_rerank) ---------
    def bm25(self, query: str, *, field_weights: dict[str, float] | None = None) -> dict[str, float]:
        terms = set(tokenize_query(query, stem=self.config.stem_tokens))
        if not terms:
            return {}
        weights = field_weights or DEFAULT_FIELD_WEIGHTS
        n_docs = len(self.models)
        scores: dict[str, float] = {}
        for fld, term_map in self.postings.items():
            w = weights.get(fld, 1.0)
            stats = self.docstats.get(fld, {})
            avgdl = (sum(stats.values()) / len(stats)) if stats else 1.0
            for t in terms:
                docs = term_map.get(t)
                if not docs:
                    continue
                df = len(docs)
                idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                for uid, tf in docs.items():
                    dl = stats.get(uid, 0)
                    tf_norm = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
                    scores[uid] = scores.get(uid, 0.0) + idf * tf_norm * w
        return scores

    def bm25_candidates(self, query: str, n: int) -> list[tuple[str, float]]:
        """The top ``n`` ``(unique_id, bm25_score)`` hits, cut in
        search.bm25's order: the score rounded to 1e-9, then unique_id, so
        a tie whose sums differ in the last bits keeps the same members."""
        raw = self.bm25(query)
        return sorted(raw.items(), key=lambda kv: (-rounded_score(kv[1]), kv[0]))[:n]

    def search(
        self,
        query: str,
        *,
        intent: str = "explore",
        limit: int = 10,
        exclude_ids: list[str] | None = None,
        layer: str | None = None,
    ) -> list[dict]:
        # reference layer sequence (server.py:363-371): search with an
        # effective 2×limit, cut the ranked list there, THEN layer-filter
        limit = max(1, min(int(limit), self.config.search_limit_cap))
        eff_limit = 2 * limit if layer else limit
        candidates = self.bm25_candidates(query, 4 * eff_limit)
        if not candidates:  # T4: LIKE fallback, every match, constant score
            q = query.lower().strip()
            candidates = [
                (uid, 0.5)
                for uid, m in self.models.items()
                if q in (m["name"] or "").lower() or q in (m["description"] or "").lower()
            ]
        exclude = set(exclude_ids or ())
        candidates = [(u, s) for u, s in candidates if u not in exclude]
        if not candidates:
            return []
        vals = [s for _, s in candidates]
        mn, mx = min(vals), max(vals)
        boosts = LAYER_BOOSTS.get(intent, LAYER_BOOSTS["explore"])
        q = query.lower().strip()
        out = []
        for uid, s in candidates:
            m = self.models[uid]
            norm = 1.0 if mx == mn else (s - mn) / (mx - mn)
            # bonus VALUE 0.15, scaled again by the 0.15 weight (net
            # 0.0225) — pinned to operators.search.hybrid_rerank and the
            # reference (search.py:82-90)
            name_bonus = 0.15 if q and q in (m["name"] or "").lower() else 0.0
            score = (
                norm * HYBRID_WEIGHTS["bm25"]
                + (m["centrality"] or 0.0) * HYBRID_WEIGHTS["centrality"]
                + boosts.get(m["layer"], 0.0) * HYBRID_WEIGHTS["layer"]
                + name_bonus * HYBRID_WEIGHTS["name"]
            )
            out.append(
                {
                    "unique_id": uid,
                    "name": m["name"],
                    "layer": m["layer"],
                    "description": _cut(m["description"], self.config.description_truncate),
                    "centrality": m["centrality"],
                    "bm25_score": s,
                    "score": score,
                }
            )
        out.sort(key=lambda r: (-r["score"], r["unique_id"]))
        if layer:
            out = [r for r in out[:eff_limit] if r["layer"] == layer]
        return out[:limit]

    # -- lookups ---------------------------------------------------------------
    def by_name(self, name: str) -> list[str]:
        """The unique_ids of the models named ``name`` (case-insensitive,
        P4), in table order."""
        low = name.lower()
        return [uid for uid, m in self.models.items() if (m["name"] or "").lower() == low]

    def resolve_paths(self, paths: list[str]) -> list[str]:
        """P6: exact file-path OR basename(-'.sql') resolution; .yml/.yaml
        skipped; dedup preserving input order (reference: search.py:148-186)."""
        out, seen = [], set()
        for p in paths:
            if p.endswith((".yml", ".yaml")):
                continue
            stem = p.rsplit("/", 1)[-1]
            stem = (stem[:-4] if stem.endswith(".sql") else stem).lower()
            for uid, m in sorted(self.models.items()):
                if m["file_path"] == p or (m["name"] or "").lower() == stem:
                    if uid not in seen:
                        seen.add(uid)
                        out.append(uid)
        return out

    def columns_with_tests(self, model_id: str) -> list[dict]:
        """J2: the model's columns, name-ordered, each with the sorted test
        types on it."""
        tests_by_col: dict[str, set] = {}
        for t in self.tests.get(model_id, ()):
            if t["column_name"]:
                tests_by_col.setdefault(t["column_name"], set()).add(t["test_type"])
        return [
            {**c, "test_types": sorted(tests_by_col.get(c["name"], ()))}
            for c in self.columns.get(model_id, ())
        ]

    def macros_used(self, model_id: str) -> list[dict]:
        """J6: a macro is used iff its name appears in the model SQL."""
        m = self.models.get(model_id)
        if not m:
            return []
        sql = m["compiled_code"] or m["raw_code"] or ""
        return [
            {"macro_id": mac["unique_id"], "macro_name": mac["name"]}
            for mac in self.macros
            if mac["name"] and mac["name"] in sql
        ]

    def direct_sources(self, model_id: str) -> list[dict]:
        """J4: the model's direct upstream sources."""
        out = []
        for pid in self.parents.get(model_id, ()):
            s = self.sources.get(pid)
            if s:
                out.append(
                    {
                        "unique_id": s["unique_id"],
                        "name": s["name"],
                        "source_name": s["source_name"],
                        "schema_name": s["schema_name"],
                        "description": s["description"],
                    }
                )
        return sorted(out, key=lambda r: r["unique_id"])

    def coverage(self, model_id: str) -> dict:
        """A6: tested/total column ratio for one model."""
        total = len(self.columns.get(model_id, ()))
        tested = len({t["column_name"] for t in self.tests.get(model_id, ()) if t["column_name"]})
        pct = round(100.0 * tested / total, 1) if total else 0.0
        return {"total_columns": total, "tested_columns": tested, "coverage_pct": pct}

    def neighbor_names(self, model_id: str) -> tuple[list[str], list[str]]:
        """Sorted names of the models one hop upstream and downstream."""
        return tuple(
            sorted(self.models[u]["name"] for u in adj.get(model_id, ()) if u in self.models)
            for adj in (self.parents, self.children)
        )

    def _name_layer(self, uid: str) -> tuple[str | None, str | None]:
        """A node's name and layer; a source's layer is ``source``, an
        exposure's ``exposure``."""
        if uid in self.models:
            return self.models[uid]["name"], self.models[uid]["layer"]
        for nodes, layer in ((self.sources, "source"), (self.exposures, "exposure")):
            if uid in nodes:
                return nodes[uid]["name"], layer
        return None, None

    # -- serving surfaces ------------------------------------------------------
    def lineage(self, model_id: str, *, depth: int = 3, direction: str = "both") -> list[dict]:
        """``(unique_id, distance, relationship, name, layer, kind)`` rows
        sorted (relationship, distance, unique_id) — reference:
        server.py:240-307."""
        if direction not in ("both", "upstream", "downstream"):
            raise ValueError(f"direction must be both/upstream/downstream, got {direction!r}")
        out = []
        dirs = ("upstream", "downstream") if direction == "both" else (direction,)
        for rel in dirs:
            for uid, dist in self.bfs([model_id], rel, depth):
                name, layer = self._name_layer(uid)
                out.append({
                    "unique_id": uid,
                    "distance": dist,
                    "relationship": rel,
                    "name": name,
                    "layer": layer,
                    "kind": uid.split(".", 1)[0],
                })
        out.sort(key=lambda r: (r["relationship"], r["distance"], r["unique_id"]))
        return out

    def impact(self, model_id: str, *, depth: int = 5) -> dict:
        """Blast radius + risk heuristic (reference: graph.py:79-132):
        downstream BFS → split by kind → tests on any affected node →
        high if exposures>0 or (mart-hit and models>5); medium if
        models>3 or mart-hit; else low."""
        affected = [u for u, _ in self.bfs([model_id], "downstream", depth)]
        models = sorted(u for u in affected if u.split(".", 1)[0] == "model")
        exposures = sorted(u for u in affected if u.split(".", 1)[0] == "exposure")
        mart_hit = any(self._name_layer(u)[1] == "marts" for u in models)
        if exposures or (mart_hit and len(models) > 5):
            risk = "high"
        elif len(models) > 3 or mart_hit:
            risk = "medium"
        else:
            risk = "low"
        return {
            "node": model_id,
            "affected_models": models,
            "affected_exposures": exposures,
            "affected_tests": sorted(
                t["unique_id"] for u in affected for t in self.tests.get(u, ())
            ),
            "risk": risk,
        }

    def patterns(self) -> dict:
        """Pattern bundle — local twin of operators.patterns.extract_patterns
        (which ``get_project_patterns`` serves, once per index)."""
        from collections import Counter, defaultdict

        models = list(self.models.values())
        per_layer = Counter(m["layer"] for m in models)
        mats = defaultdict(Counter)
        for m in models:
            mats[m["layer"]][m["materialization"]] += 1
        materializations = {
            layer: min(c.most_common(), key=lambda kv: (-kv[1], kv[0]))[0]
            for layer, c in mats.items()
        }
        prefixes = defaultdict(Counter)
        for m in models:
            name = m["name"] or ""
            if "_" in name:
                prefixes[m["layer"]][name.split("_", 1)[0]] += 1
        naming = {
            layer: min(c.most_common(), key=lambda kv: (-kv[1], kv[0]))[0]
            for layer, c in prefixes.items() if c
        }
        # example per layer: argmax (column count, description length, name)
        best: dict[str, tuple] = {}
        for m in models:
            key = (
                len(self.columns.get(m["unique_id"], ())),
                len(m["description"] or ""),
            )
            cur = best.get(m["layer"])
            # deterministic: higher key wins, ties break on LOWER name
            if cur is None or (key, _neg_name(m["name"])) > (cur[0], _neg_name(cur[1])):
                best[m["layer"]] = (key, m["name"])
        examples = {layer: name for layer, (_k, name) in best.items()}
        coverage = {}
        per_layer_cols: dict[str, int] = Counter()
        per_layer_tested: dict[str, int] = Counter()
        for m in models:
            uid, layer = m["unique_id"], m["layer"]
            cols = self.columns.get(uid, ())
            per_layer_cols[layer] += len(cols)
            tested = {t["column_name"] for t in self.tests.get(uid, ()) if t["column_name"]}
            per_layer_tested[layer] += len({c["name"] for c in cols} & tested)
        for layer, total in per_layer_cols.items():
            coverage[layer] = round(100.0 * per_layer_tested[layer] / total, 1) if total else 0.0
        tags = Counter()
        for m in models:
            for t in m["tags"] or ():
                tags[t] += 1
        top_tags = [
            (t, n)
            for t, n in sorted(tags.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        ]
        n_tests = sum(len(v) for v in self.tests.values())
        best_tested = None
        cand = [
            (-len({t["test_type"] for t in ts}), -len(ts), mid)
            for mid, ts in self.tests.items() if ts
        ]
        if cand:
            nt, n, mid = min(cand)
            best_tested = {"model_id": mid, "test_types": -nt, "tests": -n}
        return {
            "best_tested": best_tested,
            "stats": {
                "models": len(models),
                "sources": len(self.sources),
                "tests": n_tests,
                "macros": len(self.macros),
                "exposures": len(self.exposures),
                "columns": sum(len(v) for v in self.columns.values()),
                "tested_columns": len({
                    (t["model_id"], t["column_name"])
                    for ts in self.tests.values() for t in ts if t["column_name"]
                }),
                "source_schemas": len({s["source_name"] for s in self.sources.values()}),
            },
            "models_per_layer": dict(per_layer),
            "materializations": materializations,
            "examples": examples,
            "naming": naming,
            "coverage": coverage,
            "top_tags": top_tags,
        }

    def select_pivots(
        self,
        task: str,
        intent: str,
        *,
        focus_model: str | None = None,
        entry_models: list[str] | None = None,
        entry_paths: list[str] | None = None,
        max_pivots: int,
    ) -> tuple[list[str], list[float], bool]:
        """Pivots (C5, reference: capsule.py:209-270): the models named by
        ``focus_model`` and ``entry_models`` and resolved from
        ``entry_paths``, then a hybrid-search fill up to ``max_pivots``.
        Returns the pivots, the fill search's scores (it asks for 2 more
        hits than it keeps) and whether any anchor resolved."""
        names = ([focus_model] if focus_model else []) + list(entry_models or [])
        anchors = [u for n in names for u in self.by_name(n)]
        anchors += self.resolve_paths(entry_paths or [])
        pivots = list(dict.fromkeys(anchors))[:max_pivots]
        scores: list[float] = []
        remaining = max_pivots - len(pivots)
        if remaining > 0:
            hits = self.search(task, intent=intent, limit=remaining + 2, exclude_ids=pivots)
            scores = [h["score"] for h in hits]
            pivots += [h["unique_id"] for h in hits[:remaining]]
        return pivots, scores, bool(anchors)

    def capsule(
        self,
        task: str,
        *,
        focus_model: str | None = None,
        entry_models: list[str] | None = None,
        entry_paths: list[str] | None = None,
        token_budget: int | None = None,
    ) -> dict:
        """Token-budgeted capsule (reference: capsule.py:136-205): the
        budget, pivot cap and intent depths come from the index config,
        ``token_budget`` overriding the configured budget."""
        cfg = self.config
        budget = token_budget or cfg.token_budget
        intent = detect_intent(task)
        up_depth, down_depth = cfg.depths_for(intent)
        pivots, scores, explicit = self.select_pivots(
            task, intent, focus_model=focus_model, entry_models=entry_models,
            entry_paths=entry_paths, max_pivots=cfg.max_pivots,
        )
        cap = {
            "task": task, "intent": intent, "confidence": confidence(explicit, scores),
            "pivots": [], "upstream": [], "downstream": [], "tests": [],
            "macros": [], "sources": [], "similar_models": [], "patterns": {},
            # session memory (reference models.py:184 reserves it and
            # always emits {}; the ToolServer fills it from its event log)
            "session_context": {},
            "token_estimate": 0, "token_budget": budget,
        }
        if not pivots:
            cap["patterns"] = self.patterns()
            cap["token_estimate"] = estimate_tokens(cap)
            return cap

        # multi-pivot BFS with min-distance union (G6/E2), models only
        up_ids, down_ids = (
            [(u, d) for u, d in self.bfs(pivots, direction, depth) if u.startswith("model.")]
            for direction, depth in (("upstream", up_depth), ("downstream", down_depth))
        )
        alloc = {k: int(budget * v) for k, v in BUDGET_FRACTIONS.items()}

        pivot_items = [
            full_context(self.models[p], self.columns_with_tests(p))
            for p in pivots if p in self.models
        ]
        cap["pivots"] = greedy_fill(pivot_items, alloc["pivot"], break_on_overflow=False)
        up_items = [
            skeleton_context(self.models[u], self.columns_with_tests(u), d)
            for u, d in up_ids if u in self.models
        ]
        cap["upstream"] = greedy_fill(up_items, alloc["upstream"], break_on_overflow=True)
        down_items = [
            minimal_context(self.models[u], self.columns_with_tests(u), d)
            for u, d in down_ids if u in self.models
        ]
        cap["downstream"] = greedy_fill(down_items, alloc["downstream"], break_on_overflow=True)

        # related context (tests J5, macros J6, sources J4) per pivot
        test_items, macro_items, source_items = [], [], []
        for p in pivots:
            test_items += [
                {"unique_id": t["unique_id"], "name": t["name"],
                 "test_type": t["test_type"], "column_name": t["column_name"]}
                for t in self.tests.get(p, ())
            ]
            macro_items += self.macros_used(p)
            source_items += self.direct_sources(p)
        half = alloc["tests_macros"] // 2  # tests capped at half (capsule.py:388)
        cap["tests"] = greedy_fill(test_items, half, break_on_overflow=False)
        cap["macros"] = greedy_fill(
            macro_items, alloc["tests_macros"] - half, break_on_overflow=False
        )
        cap["sources"] = list({s["unique_id"]: s for s in source_items}.values())  # first-seen (E3)
        # similar models: re-search excluding pivot∪up∪down, take 5 (C7)
        wanted = set(pivots) | {u for u, _ in up_ids} | {u for u, _ in down_ids}
        sim = self.search(task, intent=intent, limit=5, exclude_ids=list(wanted))
        cap["similar_models"] = [r["name"] for r in sim]
        pat = self.patterns()
        cap["patterns"] = pat if estimate_tokens(pat) <= alloc["patterns"] else {"stats": pat["stats"]}
        cap["token_estimate"] = estimate_tokens(cap)
        return cap

    def discover(
        self,
        task: str,
        *,
        focus_model: str | None = None,
        entry_models: list[str] | None = None,
        entry_paths: list[str] | None = None,
        limit: int = 40,
    ) -> list[dict]:
        """Names-only orientation list (C8, reference: capsule.py:432-501):
        pivots (cap 5, seeded by the capsule's anchors) + depth-4 DAG
        labels + search fill labeled ``search``, at most ``limit`` rows
        (capped by the config's ``discover_limit``), ~12 tokens/row."""
        limit = max(1, min(int(limit), self.config.discover_limit))
        intent = detect_intent(task)
        pivots, _, _ = self.select_pivots(
            task, intent, focus_model=focus_model, entry_models=entry_models,
            entry_paths=entry_paths, max_pivots=5,
        )
        out: list[dict] = []
        seen: set[str] = set()

        def add(uid: str, rel: str, dist: int):
            m = self.models.get(uid)
            if uid in seen or len(out) >= limit or m is None:
                return
            seen.add(uid)
            out.append(
                {
                    "unique_id": uid,
                    "name": m["name"],
                    "layer": m["layer"] or "other",
                    "file_path": m["file_path"] or "",
                    "relationship": rel,
                    "distance": dist,
                }
            )

        for p in pivots:
            add(p, "pivot", 0)
        for direction in ("upstream", "downstream"):
            if len(out) >= limit:
                break
            for uid, dist in self.bfs(pivots, direction, 4):
                if uid.startswith("model."):
                    add(uid, direction, dist)
        if len(out) < limit:
            for h in self.search(task, intent=intent, limit=limit - len(out), exclude_ids=list(seen)):
                add(h["unique_id"], "search", -1)
        return out


def _neg_name(name: str | None):
    """Sort helper: makes LOWER names win ties under max-comparison."""
    return tuple(-ord(ch) for ch in (name or ""))


def _cut(text: str | None, n: int) -> str | None:
    """``substring(text, 1, n)`` as Spark computes it: NULL stays NULL."""
    return None if text is None else text[:n]
