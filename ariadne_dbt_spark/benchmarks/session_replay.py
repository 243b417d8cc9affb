"""Session-replay benchmark: measure how much of an agent's exploratory
context-gathering one capsule call would have covered (reference:
benchmarks/session_analysis.py:104-381 — same parsing, classification,
phase split, focus detection, and overlap/savings metrics; the
reference replays private Claude Code transcripts, this port replays
committed synthetic session JSONL with the identical format).

Everything here is driver-side Python: a session transcript is KB-scale
and the comparison runs against the (collected) capsule result — there
is no data-parallel work to hand Spark.

Metrics per session:

* ``overlap_pct`` — |agent-explored ∩ capsule models| / |agent-explored|,
  restricted to models that exist in the index (reference:
  session_analysis.py:339-357)
* ``potential_savings`` — context-phase tool calls whose referenced
  models are all covered by the capsule (reference: :361-369)
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

#: tools that gather context vs modify files (session_analysis.py:42-55)
CONTEXT_TOOLS = {"Read", "Grep", "Glob", "Bash", "ToolSearch", "WebSearch", "WebFetch"}
IMPL_TOOLS = {"Edit", "Write"}
IMPL_BASH_PATTERNS = [
    re.compile(r"\bgit\s+(commit|push|add|checkout|merge|rebase|cherry-pick)\b"),
    re.compile(r"\bdbt\s+(run|build|test|seed|snapshot)\b"),
    re.compile(r"\bmkdir\b"),
    re.compile(r"\btouch\b"),
    re.compile(r"\brm\s"),
    re.compile(r"\bmv\s"),
    re.compile(r"\bcp\s"),
]

MODEL_PATH_RE = re.compile(
    r"models/.*?/([a-z_][a-z0-9_]*)\.(?:sql|yml|yaml)", re.IGNORECASE
)
REF_RE = re.compile(r"""ref\(\s*['"]([a-z_][a-z0-9_]*)['"]""", re.IGNORECASE)


@dataclass
class ToolCall:
    name: str
    input: dict
    is_context: bool
    models_referenced: list[str] = field(default_factory=list)


@dataclass
class SessionAnalysis:
    session_id: str
    task: str
    context_calls: list[ToolCall]
    impl_calls: list[ToolCall]
    models_explored: set[str]
    total_tool_calls: int


def _extract_models(tool_name: str, tool_input: dict) -> list[str]:
    vals: list[str] = []
    if tool_name == "Read":
        vals.append(tool_input.get("file_path", ""))
    elif tool_name == "Grep":
        vals += [tool_input.get(k, "") for k in ("path", "pattern", "glob")]
    elif tool_name == "Glob":
        vals += [tool_input.get(k, "") for k in ("path", "pattern")]
    elif tool_name == "Bash":
        vals.append(tool_input.get("command", ""))
    elif tool_name in IMPL_TOOLS:
        vals.append(tool_input.get("file_path", ""))
    models = set()
    for text in vals:
        if not text:
            continue
        models.update(MODEL_PATH_RE.findall(text))
        models.update(REF_RE.findall(text))
    return sorted(models)


def _is_context_bash(command: str) -> bool:
    return not any(p.search(command) for p in IMPL_BASH_PATTERNS)


def _initial_task(messages: list[dict]) -> str:
    for msg in messages:
        if msg.get("role") != "user":
            continue
        content = msg.get("content", "")
        if isinstance(content, str):
            text = content.strip()
        elif isinstance(content, list):
            texts = [
                b.get("text", "") if isinstance(b, dict) else str(b)
                for b in content
                if not (isinstance(b, dict) and b.get("type") == "tool_result")
            ]
            text = " ".join(texts).strip()
        else:
            continue
        if len(text) > 15:
            return text
    return ""


def detect_focus_model(task: str, index_model_names: set[str]) -> str | None:
    """Longest known model name mentioned in the task
    (session_analysis.py:192-214)."""
    norm = re.sub(r"[^a-z0-9_]", " ", task.lower())
    matches = [n for n in index_model_names if n.lower() in norm or n.lower() in task.lower()]
    return max(matches, key=len) if matches else None


def parse_session(filepath: str | Path) -> SessionAnalysis | None:
    """Parse one JSONL transcript (same format the reference consumes:
    one ``{"type": "user"|"assistant", "message": {...}}`` per line)."""
    filepath = Path(filepath)
    messages: list[dict] = []
    tool_calls: list[ToolCall] = []
    with filepath.open() as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            try:
                obj = json.loads(line)
            except json.JSONDecodeError:
                continue
            if obj.get("type") in ("user", "assistant"):
                msg = obj.get("message", {})
                if msg.get("role") and msg.get("content"):
                    messages.append(msg)
            if obj.get("type") == "assistant":
                for block in obj.get("message", {}).get("content", []) or []:
                    if not (isinstance(block, dict) and block.get("type") == "tool_use"):
                        continue
                    name = block.get("name", "")
                    inp = block.get("input", {}) or {}
                    if name in IMPL_TOOLS:
                        is_context = False
                    elif name == "Bash":
                        is_context = _is_context_bash(inp.get("command", ""))
                    elif name in CONTEXT_TOOLS:
                        is_context = True
                    else:
                        continue  # TaskCreate/Skill/... — not classified
                    tool_calls.append(
                        ToolCall(name, inp, is_context, _extract_models(name, inp))
                    )
    task = _initial_task(messages)
    if not task:
        return None
    # phase split: context-gathering ends at the first implementation call
    context_calls, impl_calls, first_impl = [], [], False
    for tc in tool_calls:
        if not tc.is_context:
            first_impl = True
            impl_calls.append(tc)
        elif first_impl:
            impl_calls.append(tc)
        else:
            context_calls.append(tc)
    explored: set[str] = set()
    for tc in tool_calls:
        explored.update(tc.models_referenced)
    return SessionAnalysis(
        session_id=filepath.stem,
        task=task,
        context_calls=context_calls,
        impl_calls=impl_calls,
        models_explored=explored,
        total_tool_calls=len(tool_calls),
    )


def capsule_model_names(capsule_dict: dict) -> set[str]:
    """All model names a capsule surfaces: pivots ∪ upstream ∪ downstream
    ∪ similar (session_analysis.py:336-346)."""
    names = {m["name"] for k in ("pivots", "upstream", "downstream") for m in capsule_dict.get(k, [])}
    names.update(capsule_dict.get("similar_models", []))
    return names


def compare_session(
    session: SessionAnalysis,
    capsule_dict: dict,
    index_model_names: set[str],
) -> dict:
    """Overlap + savings metrics for one session vs one capsule."""
    ariadne_models = capsule_model_names(capsule_dict) & index_model_names
    agent_models = session.models_explored & index_model_names
    overlap = agent_models & ariadne_models
    overlap_pct = 100.0 * len(overlap) / len(agent_models) if agent_models else 0.0
    savings = 0
    for tc in session.context_calls:
        tc_models = set(tc.models_referenced) & index_model_names
        if tc_models and tc_models <= ariadne_models:
            savings += 1
    return {
        "session_id": session.session_id,
        "task": session.task[:80],
        "agent_models": sorted(agent_models),
        "capsule_models": sorted(ariadne_models),
        "overlap_pct": round(overlap_pct, 1),
        "potential_savings": savings,
        "context_calls": len(session.context_calls),
    }


def early_models(session: SessionAnalysis, limit: int, index_model_names: set[str]) -> list[str]:
    """Models discovered in the first ``limit`` context calls — the
    entry_models feedback an agent could supply (reference:
    ab_entry_models.py:49-56)."""
    found: set[str] = set()
    for tc in session.context_calls[:limit]:
        found.update(m for m in tc.models_referenced if m in index_model_names)
    return sorted(found)


def _serving(index):
    """The replay target: the serving-path snapshot (LocalIndexCache).

    The reference harness replays transcripts against the serving process
    (session_analysis.py drives the MCP server's capsule path), not
    against raw index machinery — and a transcript is KB-scale driver
    data, so per-session Spark jobs would be pure overhead. Accepts an
    AriadneIndex (snapshots via .local()) or a LocalIndexCache directly;
    Spark/local capsule parity is pinned by tests/test_local_serving.py.
    """
    return index.local() if hasattr(index, "local") else index


def ab_entry_models(
    index, sessions_dir: str | Path, *, early_calls: int = 3, token_budget: int = 10000
) -> dict:
    """A/B: capsule(focus_model) vs capsule(entry_models=early discoveries)
    (reference: ab_entry_models.py — same two scenarios; B feeds back the
    models the agent found in its first N context calls)."""
    cache = _serving(index)
    names = {m["name"] for m in cache.models.values()}
    rows = []
    for path in sorted(Path(sessions_dir).glob("*.jsonl")):
        session = parse_session(path)
        if session is None:
            continue
        focus = detect_focus_model(session.task, names)
        entries = early_models(session, early_calls, names)
        cap_a = cache.capsule(session.task, focus_model=focus, token_budget=token_budget)
        cap_b = cache.capsule(
            session.task, entry_models=entries or None, token_budget=token_budget
        )
        a = compare_session(session, cap_a, names)
        b = compare_session(session, cap_b, names)
        rows.append(
            {
                "session_id": session.session_id,
                "entry_models": entries,
                "overlap_a": a["overlap_pct"],
                "overlap_b": b["overlap_pct"],
                "savings_a": a["potential_savings"],
                "savings_b": b["potential_savings"],
            }
        )
    n = len(rows)
    return {
        "sessions": n,
        "early_calls": early_calls,
        "avg_overlap_a": round(sum(r["overlap_a"] for r in rows) / n, 1) if n else 0.0,
        "avg_overlap_b": round(sum(r["overlap_b"] for r in rows) / n, 1) if n else 0.0,
        "per_session": rows,
    }


def ab_discover(
    index, sessions_dir: str | Path, *, early_calls: int = 3, token_budget: int = 10000
) -> dict:
    """A/B: capsule with early entry_models vs discover→pick→capsule
    (reference: ab_discover.py:84-140 — scenario B simulates the agent
    calling discover_models, picking the discovered names it actually
    needed (∩ explored), and feeding them back as entry_models; models
    the agent saw in the discovery list count as covered even when the
    capsule's budget drops them)."""
    cache = _serving(index)
    names = {m["name"] for m in cache.models.values()}
    max_pivots = cache.config.max_pivots
    rows = []
    for path in sorted(Path(sessions_dir).glob("*.jsonl")):
        session = parse_session(path)
        if session is None:
            continue
        agent_in_idx = session.models_explored & names
        if not agent_in_idx:
            continue
        focus = detect_focus_model(session.task, names)
        entries = early_models(session, early_calls, names)
        entry_a = sorted(set(entries) - {focus}) if focus else entries

        cap_a = cache.capsule(
            session.task, focus_model=focus, entry_models=entry_a or None,
            token_budget=token_budget,
        )
        models_a = capsule_model_names(cap_a) & names
        pct_a = 100.0 * len(agent_in_idx & models_a) / len(agent_in_idx)

        discovered = cache.discover(
            session.task, focus_model=focus, entry_models=entry_a or None, limit=40
        )
        discovered_names = {m["name"] for m in discovered}
        # ideal pick from discovery = discovered ∩ actually-explored
        picks = agent_in_idx & discovered_names
        entry_b = sorted((set(entry_a) | picks) - ({focus} if focus else set()))
        cap_b = cache.capsule(
            session.task, focus_model=focus,
            entry_models=entry_b[:max_pivots] or None, token_budget=token_budget,
        )
        models_b = (capsule_model_names(cap_b) & names) | discovered_names
        pct_b = 100.0 * len(agent_in_idx & models_b) / len(agent_in_idx)
        rows.append(
            {
                "session_id": session.session_id,
                "overlap_a": round(pct_a, 1),
                "overlap_b": round(pct_b, 1),
                "discovered": len(discovered_names),
                "picks": sorted(picks),
            }
        )
    n = len(rows)
    return {
        "sessions": n,
        "early_calls": early_calls,
        "avg_overlap_a": round(sum(r["overlap_a"] for r in rows) / n, 1) if n else 0.0,
        "avg_overlap_b": round(sum(r["overlap_b"] for r in rows) / n, 1) if n else 0.0,
        "per_session": rows,
    }


def diagnose_misses(
    index, sessions_dir: str | Path, *, max_depth: int = 8, token_budget: int = 10000
) -> dict:
    """For every model the agent explored but the capsule missed: was it
    DAG-reachable from the capsule's pivots, and at what minimum distance?
    (reference: diagnose_misses.py:48-61 — reachable misses indicate
    traversal-depth tuning, unreachable ones indicate search recall)."""
    cache = _serving(index)
    names = {m["name"] for m in cache.models.values()}
    uid_by_name = {m["name"]: uid for uid, m in cache.models.items()}
    out = []
    for path in sorted(Path(sessions_dir).glob("*.jsonl")):
        session = parse_session(path)
        if session is None:
            continue
        focus = detect_focus_model(session.task, names)
        capd = cache.capsule(session.task, focus_model=focus, token_budget=token_budget)
        covered = capsule_model_names(capd) & names
        missed = (session.models_explored & names) - covered
        pivot_ids = [p["unique_id"] for p in capd.get("pivots", [])]
        # one BFS per direction for ALL misses of this session (not one
        # per missed model — J7 anti-pattern)
        reach: dict[str, int] = {}
        if pivot_ids and missed:
            missed_uids = {uid_by_name[m] for m in missed}
            for direction in ("upstream", "downstream"):
                for uid, dist in cache.bfs(pivot_ids, direction, max_depth):
                    if uid in missed_uids and (uid not in reach or dist < reach[uid]):
                        reach[uid] = dist
        for name in sorted(missed):
            dist = reach.get(uid_by_name[name])
            out.append(
                {
                    "session_id": session.session_id,
                    "missed_model": name,
                    "min_dag_distance": dist,
                    "reachable": dist is not None,
                }
            )
    reachable = [r for r in out if r["reachable"]]
    return {
        "misses": len(out),
        "reachable_misses": len(reachable),
        "per_miss": out,
    }


def replay_sessions(index, sessions_dir: str | Path, *, token_budget: int = 10000) -> dict:
    """Replay every ``*.jsonl`` under ``sessions_dir`` against a capsule
    built from each session's task (focus model auto-detected from the
    task text, like the reference harness)."""
    cache = _serving(index)
    names = {m["name"] for m in cache.models.values()}
    per_session = []
    for path in sorted(Path(sessions_dir).glob("*.jsonl")):
        session = parse_session(path)
        if session is None:
            continue
        focus = detect_focus_model(session.task, names)
        cap = cache.capsule(session.task, focus_model=focus, token_budget=token_budget)
        row = compare_session(session, cap, names)
        row["focus_model"] = focus
        per_session.append(row)
    n = len(per_session)
    return {
        "sessions": n,
        "avg_overlap_pct": round(sum(r["overlap_pct"] for r in per_session) / n, 1) if n else 0.0,
        "total_potential_savings": sum(r["potential_savings"] for r in per_session),
        "total_context_calls": sum(r["context_calls"] for r in per_session),
        "per_session": per_session,
    }
