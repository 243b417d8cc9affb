"""Seeded input generators for the two workloads.

Every generator is a pure function of its seed (``random.Random(seed)``
only, no global RNG, no clock), so the same seed always yields the same
manifest, table rows and vectors. The program under test only
ever sees the generated inputs.
"""

from __future__ import annotations

import copy
import math
import random

WORDS = (
    "revenue orders customers payments sessions events products churn margin"
    " retention invoices shipments returns inventory suppliers campaigns clicks"
    " refunds subscriptions accounts ledger forecast"
).split()
LAYERS = (("staging", "stg"), ("intermediate", "int"), ("marts", "fct"))


# -- serve: a dbt manifest ---------------------------------------------------
def make_manifest(seed: int, n_models: int = 500, project: str = "shop") -> dict:
    """A 50/25/25 staging/intermediate/marts DAG of ``n_models`` models over
    one source per staging model, with seeded names, fan-in, columns and
    descriptions, and unique/not_null tests on every third mart."""
    rng = random.Random(seed)
    n_stg = n_models // 2
    n_int = n_models // 4
    counts = (n_stg, n_int, n_models - n_stg - n_int)
    nodes, sources, parent_map = {}, {}, {}
    ids: list[list[str]] = [[], [], []]
    for li, ((layer_dir, prefix), count) in enumerate(zip(LAYERS, counts)):
        for i in range(count):
            w1, w2, w3 = rng.sample(WORDS, 3)
            name = f"{prefix}_{w1}_{i}"
            if li == 0:
                suid = f"source.{project}.raw.tbl_{i}"
                sources[suid] = {
                    "unique_id": suid, "resource_type": "source", "name": f"tbl_{i}",
                    "source_name": "raw", "schema": "raw", "database": "dev",
                    "identifier": f"tbl_{i}", "loader": "parquet",
                    "description": f"raw {w1} table", "columns": {}, "meta": {},
                    "tags": [], "fqn": [project, "raw", f"tbl_{i}"],
                }
                deps = [suid]
            else:
                fan_in = rng.randint(1, 3)
                deps = sorted(set(rng.sample(ids[li - 1], fan_in)))
            uid = f"model.{project}.{name}"
            cols = {
                c: {"name": c, "data_type": t, "description": f"{c} column"}
                for c, t in (
                    (f"{w1}_id", "bigint"),
                    (f"{w2}_amount", "double"),
                    ("updated_at", "timestamp"),
                    ("status", "varchar"),
                )
            }
            nodes[uid] = {
                "unique_id": uid, "resource_type": "model", "name": name,
                "package_name": project, "database": "dev", "schema": "analytics",
                "alias": name, "path": f"{layer_dir}/{name}.sql",
                "original_file_path": f"models/{layer_dir}/{name}.sql",
                "fqn": [project, layer_dir, name],
                "raw_code": f"select {w1}_id, sum({w2}_amount) as total_{w2}"
                            f" from upstream group by 1 -- {name}",
                "language": "sql",
                "description": f"{layer_dir} model for {w1} {w3} analysis",
                "tags": [layer_dir, w1],
                "meta": {},
                "config": {"materialized": "table" if li == 2 else "view", "tags": [layer_dir]},
                "depends_on": {"nodes": deps, "macros": []},
                "refs": [{"name": d.split(".")[-1]} for d in deps if d.startswith("model.")],
                "sources": [["raw", d.split(".")[-1]] for d in deps if d.startswith("source.")],
                "columns": cols,
            }
            parent_map[uid] = deps
            ids[li].append(uid)
    for j, uid in enumerate(ids[2]):
        if j % 3:
            continue
        mname = uid.split(".")[-1]
        col = next(iter(nodes[uid]["columns"]))
        for ttype in ("unique", "not_null"):
            tuid = f"test.{project}.{ttype}_{mname}_id"
            nodes[tuid] = {
                "unique_id": tuid, "resource_type": "test", "name": f"{ttype}_{mname}_id",
                "package_name": project, "path": f"{ttype}_{mname}.sql",
                "original_file_path": "models/schema.yml", "fqn": [project],
                "raw_code": "", "language": "sql", "description": "", "tags": [],
                "meta": {}, "config": {"severity": "ERROR"},
                "depends_on": {"nodes": [uid], "macros": []}, "refs": [], "sources": [],
                "columns": {}, "column_name": col, "attached_node": uid,
                "test_metadata": {"name": ttype, "kwargs": {"column_name": col}},
            }
            parent_map[tuid] = [uid]
    child_map: dict[str, list[str]] = {}
    for child, parents in parent_map.items():
        for p in parents:
            child_map.setdefault(p, []).append(child)
    return {
        "metadata": {
            "project_name": project, "adapter_type": "spark",
            "dbt_version": "1.8.0", "generated_at": "2026-01-01T00:00:00Z",
        },
        "nodes": nodes, "sources": sources, "macros": {}, "exposures": {},
        "parent_map": parent_map, "child_map": child_map,
    }


def change_manifest(manifest: dict, seed: int, share: float = 0.1) -> tuple[dict, list[str]]:
    """A copy of ``manifest`` with ``share`` of its models' descriptions and
    SQL edited (the refresh's re-tokenize set). Returns (copy, changed ids)."""
    rng = random.Random(seed ^ 0x5EED)
    out = copy.deepcopy(manifest)
    models = sorted(u for u, n in out["nodes"].items() if n["resource_type"] == "model")
    changed = sorted(rng.sample(models, max(1, round(share * len(models)))))
    for uid in changed:
        node = out["nodes"][uid]
        w = rng.choice(WORDS)
        node["description"] += f" now also tracks {w} adjustments"
        node["raw_code"] += f" -- {w} adjusted"
    return out, changed


def serve_script(seed: int) -> dict:
    """The agent's fixed requests for one pass."""
    w1, w2 = random.Random(seed ^ 0xA6E47).sample(WORDS, 2)
    return {"query": f"{w1} {w2}"}


# -- store_churn: an orders-like table, upsert batches and vectors ----------
STATUSES = ("F", "O", "P")


def order_row(rng: random.Random, key: int) -> tuple:
    note = f"{rng.getrandbits(128):032x}"
    return (key, rng.randrange(1, 5000), rng.choice(STATUSES),
            round(rng.uniform(1.0, 5000.0), 2), note)


def make_orders(seed: int, n_rows: int) -> list[tuple]:
    """``(o_orderkey, o_custkey, o_status, price, note)`` on even keys
    ``2..2n``; odd keys stay free for inserts."""
    rng = random.Random(seed)
    return [order_row(rng, 2 * k) for k in range(1, n_rows + 1)]


def churn_batch(seed: int, cycle: int, n_rows: int, batch: int, local: bool) -> list[tuple]:
    """One upsert batch: about half updates of existing even keys, half
    inserts of odd keys. ``local`` keys come from one 1/32 slice of the key range,
    otherwise they are spread uniformly over it."""
    rng = random.Random(seed * 1_000_003 + cycle)
    top = 2 * n_rows
    if local:
        span = top // 32
        lo = rng.randrange(0, top - span)
        pool = range(lo + 1, lo + span)
    else:
        pool = range(1, top)
    keys = sorted(rng.sample(pool, batch))
    return [order_row(rng, k) for k in keys]


def make_vectors(seed: int, ids: range, dim: int) -> list[tuple[int, list[float]]]:
    rng = random.Random(seed)
    out = []
    for i in ids:
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        s = math.sqrt(sum(x * x for x in v))
        out.append((i, [x / s for x in v]))
    return out
