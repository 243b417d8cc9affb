"""BFS / lineage / impact semantics — parity with the reference's graph
tests (SURVEY §5): exact membership + distances, min-distance, no self
in traversal, risk heuristic."""

from __future__ import annotations

from pyspark.sql import functions as F

from ariadne_dbt_spark.operators.graph import DOWNSTREAM, UPSTREAM, bfs, neighbors
from ariadne_dbt_spark.operators.lineage import (
    get_lineage,
    high_centrality_models,
    source_dependencies,
)

FCT = "model.webshop.fct_orders"
STG_O = "model.webshop.stg_orders"
DIM = "model.webshop.dim_customers"


def test_bfs_downstream_membership(index):
    hits = {
        r.unique_id: r.distance
        for r in bfs(index.edges, [FCT], DOWNSTREAM, max_depth=3).collect()
    }
    assert hits[DIM] == 1
    assert hits["exposure.webshop.orders_dashboard"] == 1
    assert FCT not in hits  # start excluded


def test_bfs_upstream_distances(index):
    hits = {
        r.unique_id: r.distance
        for r in bfs(index.edges, [DIM], UPSTREAM, max_depth=10).collect()
    }
    assert hits[FCT] == 1
    assert hits["model.webshop.stg_customers"] == 1
    assert hits[STG_O] == 2
    # min-distance: raw.customers reachable at d=2 via stg_customers
    assert hits["source.webshop.raw.customers"] == 2
    assert hits["source.webshop.raw.orders"] == 3


def test_bfs_depth_clamp(index):
    d1 = bfs(index.edges, [DIM], UPSTREAM, max_depth=1).count()
    dall = bfs(index.edges, [DIM], UPSTREAM, max_depth=10).count()
    assert d1 == 2
    assert dall == 7


def test_neighbors(index):
    n = {(r.relationship, r.unique_id) for r in neighbors(index.edges, FCT).collect()}
    assert (UPSTREAM, STG_O) in n
    assert (DOWNSTREAM, DIM) in n


def test_lineage_enrichment(index):
    lin = get_lineage(index, FCT, depth=3, direction="both")
    rows = lin.collect()
    assert all(r.name is not None for r in rows)
    kinds = {r.kind for r in rows}
    assert kinds == {"model", "source", "exposure"}


def test_impact_analysis(index):
    imp = index.local().impact(STG_O, depth=5)
    assert FCT in imp["affected_models"]
    assert DIM in imp["affected_models"]
    assert "exposure.webshop.orders_dashboard" in imp["affected_exposures"]
    assert imp["risk"] == "high"  # exposure in blast radius
    # tests on affected models are picked up
    assert any("unique_fct_orders" in t for t in imp["affected_tests"])


def test_impact_low_risk(index):
    imp = index.local().impact(DIM, depth=5)
    assert imp["affected_models"] == []
    assert imp["risk"] == "high"  # still hits the dashboard exposure


def test_source_dependencies(index):
    src = {r.unique_id for r in source_dependencies(index, DIM).collect()}
    assert src == {
        "source.webshop.raw.orders",
        "source.webshop.raw.customers",
        "source.webshop.raw.payments",
    }


def test_high_centrality(index):
    top = high_centrality_models(index, limit=3).collect()
    assert top[0].name == "fct_orders"
    assert top[0].centrality == 1.0


# --- triangle counting (degree-ordered orientation) ----------------------


def test_triangle_counts_hand_graph(spark):
    """K4 plus a pendant: every K4 node sits in 3 triangles; the pendant
    edge adds degree but no closure."""
    from ariadne_dbt_spark.operators.graph import triangle_counts

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    # feed duplicates + reversed orientation: canonicalization must absorb both
    df = spark.createDataFrame(edges + [(2, 1), (3, 1)], "src long, dst long")
    out = {r["node"]: r for r in triangle_counts(df).collect()}
    assert set(out) == {1, 2, 3, 4}  # node 5 has degree 1 -> excluded
    for n in (1, 2, 3):
        assert out[n]["degree"] == 3 and out[n]["n_triangles"] == 3
        assert out[n]["clustering_millionths"] == 1_000_000
    assert out[4]["degree"] == 4 and out[4]["n_triangles"] == 3
    # 2*3e6 / (4*3) = 500000 exactly
    assert out[4]["clustering_millionths"] == 500_000


def test_triangle_counts_triangle_free(spark):
    from ariadne_dbt_spark.operators.graph import triangle_counts

    # C4 (square): degrees 2, zero triangles
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long")
    rows = triangle_counts(df).collect()
    assert len(rows) == 4
    assert all(r["n_triangles"] == 0 and r["clustering_millionths"] == 0 for r in rows)
