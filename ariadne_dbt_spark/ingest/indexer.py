"""Index construction: manifest rows → typed DataFrames → derived
computations (SURVEY §3.1 steps 3-5).

Refresh semantics are full snapshot replace, like the reference's
DELETE+reinsert per table (reference: src/ariadne_dbt/indexer.py:90-98,
326-472): ``save()`` overwrites every parquet table, ``AriadneIndex.build``
recomputes everything from the manifest. Derived computations:

* edges            — parent_map explode (G8)
* degrees          — per-model upstream/downstream counts (A1)
* centrality       — (up+down)/max(up+down), NULLIF-guarded (A2)
* PK/FK flags      — columns⋈tests: PK iff ≥2 distinct test types among
                     {unique, not_null}; FK iff any relationships test (J3)
* search postings  — 5 weighted fields, SQL truncated to 2000 chars (S6/T9)
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ariadne_dbt_spark import schemas
from ariadne_dbt_spark.config import EngineConfig
from ariadne_dbt_spark.ingest import manifest as mf
from ariadne_dbt_spark.functions.text import truncate_sql
from ariadne_dbt_spark.operators.search import build_postings
from ariadne_dbt_spark.session import local_frame, verified_frame, verify_rows


#: schemas of the two search tables (the parse tables' are in schemas.py),
#: built in Python: parsing a DDL string is a JVM round trip
POSTINGS_DDL = (
    T.StructType().add("unique_id", "string").add("field", "string")
    .add("term", "string").add("tf", "long")
)
DOCSTATS_DDL = T.StructType().add("unique_id", "string").add("field", "string").add("dl", "long")
#: a list of doc ids (the refresh's dropped docs, ``_build_postings``' subset)
IDS_SCHEMA = T.StructType().add("unique_id", "string")


def _derive_degrees_local(model_rows: list[dict], edge_rows: list[dict]) -> None:
    """Python twin of ``_compute_degrees`` for metadata-scale manifests:
    upstream = #edges where the model is the child, downstream = #edges
    where it is the parent, centrality = (up+down)/max over models."""
    up: dict[str, int] = {}
    down: dict[str, int] = {}
    for e in edge_rows:
        up[e["child_id"]] = up.get(e["child_id"], 0) + 1
        down[e["parent_id"]] = down.get(e["parent_id"], 0) + 1
    degs = [
        up.get(m["unique_id"], 0) + down.get(m["unique_id"], 0) for m in model_rows
    ]
    mx = max(degs, default=0)
    for m, d in zip(model_rows, degs):
        m["upstream_count"] = up.get(m["unique_id"], 0)
        m["downstream_count"] = down.get(m["unique_id"], 0)
        m["centrality"] = (d / mx) if mx > 0 else 0.0


def _derive_pk_fk_local(column_rows: list[dict], test_rows: list[dict]) -> None:
    """Python twin of ``_compute_pk_fk``: PK iff ≥2 distinct test types
    among {unique, not_null} on the column; FK iff any relationships
    test."""
    pk_types: dict[tuple[str, str], set[str]] = {}
    fk: set[tuple[str, str]] = set()
    for t in test_rows:
        col = t.get("column_name") or ""
        if not col:
            continue
        key = (t["model_id"], col)
        if t["test_type"] in ("unique", "not_null"):
            pk_types.setdefault(key, set()).add(t["test_type"])
        elif t["test_type"] == "relationships":
            fk.add(key)
    for c in column_rows:
        key = (c["model_id"], c["name"])
        c["is_primary_key"] = len(pk_types.get(key, ())) >= 2
        c["is_foreign_key"] = key in fk


def _doc_signature(m: dict, col_names: list[str], config: EngineConfig) -> str:
    """Content hash of EXACTLY the fields that feed a model's search doc
    (the five posting fields, SQL pre-truncated) — two models with equal
    signatures produce identical posting rows, so the incremental refresh
    may reuse them. Column names are SORTED: postings are a bag of terms
    (tf/dl are order-insensitive), and a saved/loaded index does not
    preserve column row order, so an order-sensitive hash would flag
    spurious deltas after every save/load round-trip."""
    import hashlib
    import json

    sql_src = m.get("compiled_code") or m.get("raw_code") or ""
    payload = json.dumps(
        [
            m.get("name") or "",
            m.get("description") or "",
            " ".join(sorted(col_names)),
            sql_src[: config.sql_index_chars],
            " ".join(m.get("tags") or ()),
        ],
        ensure_ascii=False,
    )
    return hashlib.md5(payload.encode()).hexdigest()


def _doc_signatures(
    model_rows: Iterable[dict], column_rows: Iterable[dict], config: EngineConfig
) -> dict[str, str]:
    """``_doc_signature`` of every model, keyed by unique_id."""
    cols_by_model: dict[str, list[str]] = {}
    for c in column_rows:
        cols_by_model.setdefault(c["model_id"], []).append(c["name"])
    return {
        m["unique_id"]: _doc_signature(m, cols_by_model.get(m["unique_id"], []), config)
        for m in model_rows
    }


#: schema of each table parsed from the manifest
PARSE_SCHEMAS = {
    "models": schemas.MODELS,
    "columns": schemas.COLUMNS,
    "sources": schemas.SOURCES,
    "source_columns": schemas.SOURCE_COLUMNS,
    "tests": schemas.TESTS,
    "macros": schemas.MACROS,
    "exposures": schemas.EXPOSURES,
    "edges": schemas.EDGES,
    "index_metadata": schemas.METADATA,
}


def _parse_tables(man: dict) -> dict[str, list[dict]]:
    """The rows of every table in ``PARSE_SCHEMAS``."""
    src_rows, src_col_rows = mf.parse_sources(man)
    return {
        "models": mf.parse_models(man),
        "columns": mf.parse_columns(man),
        "sources": src_rows,
        "source_columns": src_col_rows,
        "tests": mf.parse_tests(man),
        "macros": mf.parse_macros(man),
        "exposures": mf.parse_exposures(man),
        "edges": mf.parse_edges(man),
        "index_metadata": mf.parse_metadata(man),
    }


def _build_postings_local(
    model_rows: list[dict], column_rows: list[dict], config: EngineConfig
) -> tuple[list[tuple], list[tuple]]:
    """Python twin of ``_build_postings``: identical five fields, the
    same tokenizer/stemmer as the distributed path (``tokenize_query``
    is the pinned driver-side twin of ``functions.text.tokenize``)."""
    from collections import Counter

    from ariadne_dbt_spark.functions.text import tokenize_query

    col_names: dict[str, list[str]] = {}
    for c in column_rows:
        col_names.setdefault(c["model_id"], []).append(c["name"])
    postings: list[tuple] = []
    docstats: list[tuple] = []
    for m in model_rows:
        uid = m["unique_id"]
        sql_src = m.get("compiled_code") or m.get("raw_code") or ""
        fields = {
            "name": m.get("name") or "",
            "description": m.get("description") or "",
            "column_names": " ".join(col_names.get(uid, ())),
            "sql_text": sql_src[: config.sql_index_chars],
            "tags": " ".join(m.get("tags") or ()),
        }
        for fname, text in fields.items():
            toks = tokenize_query(text, stem=config.stem_tokens)
            if not toks:
                continue
            tf = Counter(toks)
            postings.extend((uid, fname, term, n) for term, n in tf.items())
            docstats.append((uid, fname, len(toks)))
    return postings, docstats


#: schema of every index table
SCHEMAS = {**PARSE_SCHEMAS, "postings": POSTINGS_DDL, "docstats": DOCSTATS_DDL}
TABLES = tuple(SCHEMAS)


def _verified(rows: dict[str, list]) -> dict[str, list]:
    """``rows`` after checking each table's rows against its schema, with
    the verifier ``local_frame`` applies: a malformed row fails here, not
    when a frame is first read."""
    for t, r in rows.items():
        verify_rows(r, SCHEMAS[t])
    return rows


class _Table:
    """An index table attribute. An index over driver rows (``_rows``,
    verified when they were made) makes the table's frame when it is
    first read and keeps it; an assigned DataFrame is returned as it is."""

    def __set_name__(self, owner, name: str) -> None:
        self.name = name

    def __get__(self, idx, owner=None) -> DataFrame:
        if idx is None:
            raise AttributeError(self.name)  # no default: a required field
        df = idx.__dict__.get(self.name)
        if df is None:
            df = verified_frame(idx.spark, idx._rows[self.name], SCHEMAS[self.name])
            idx.__dict__[self.name] = df
        return df

    def __set__(self, idx, df: DataFrame | None) -> None:
        idx.__dict__[self.name] = df


@dataclass
class AriadneIndex:
    """The engine index: one DataFrame per table (they are small — ≤10k
    models — while surface-B data scales). A driver-side build or refresh
    holds each table as driver rows (``_rows``), which serve the snapshot
    (``local``) and become the table's JVM ``LocalRelation`` on its first
    DataFrame read; the distributed, enriched and loaded paths hold the
    frames themselves, checkpointed where their plans are deep."""

    spark: SparkSession
    models: DataFrame = _Table()
    columns: DataFrame = _Table()
    sources: DataFrame = _Table()
    source_columns: DataFrame = _Table()
    tests: DataFrame = _Table()
    macros: DataFrame = _Table()
    exposures: DataFrame = _Table()
    edges: DataFrame = _Table()
    index_metadata: DataFrame = _Table()
    postings: DataFrame = _Table()
    docstats: DataFrame = _Table()
    config: EngineConfig = field(default_factory=EngineConfig)
    #: row count of ``models`` (BM25's corpus size): the parsed row count
    #: at build/refresh, counted once on first use otherwise
    n_models: int | None = None

    # -- construction ------------------------------------------------------
    @classmethod
    def build(
        cls,
        spark: SparkSession,
        manifest_path: str,
        *,
        catalog_path: str | None = None,
        run_results_path: str | None = None,
        config: EngineConfig | None = None,
    ) -> "AriadneIndex":
        config = config or EngineConfig()
        rows = _parse_tables(mf.load_manifest(manifest_path))
        model_rows = rows["models"]

        local_build = len(model_rows) <= config.local_build_max_models
        if local_build:
            # metadata-scale manifest: derive degrees/PK-FK/postings in
            # pure Python over the parsed rows — the index holds them as
            # driver rows, each table becomes a JVM LocalRelation
            # (local_frame) on first use, and the build runs zero Spark
            # jobs. The distributed derivations below handle larger
            # manifests with identical semantics (parity pinned in
            # tests/test_indexer.py).
            _derive_degrees_local(model_rows, rows["edges"])
            _derive_pk_fk_local(rows["columns"], rows["tests"])
            rows["postings"], rows["docstats"] = _build_postings_local(
                model_rows, rows["columns"], config
            )
            idx = cls._of_rows(spark, config, _verified(rows))
            if catalog_path:
                idx.enrich_from_catalog(catalog_path)
            if run_results_path:
                idx.enrich_from_run_results(run_results_path)
            return idx
        # distributed path: the index tables are bigger, but shuffles on
        # them are still metadata-scale; a small partition count keeps
        # task scheduling off the critical path (surface-B data queries
        # are untouched — this is scoped to the build and restored after)
        rows["postings"] = rows["docstats"] = []
        idx = cls._of_rows(spark, config, _verified(rows))
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            idx._drop_rows()
            idx._compute_degrees()
            idx._compute_pk_fk()
            idx._build_postings()
            if catalog_path:
                idx.enrich_from_catalog(catalog_path)
            if run_results_path:
                idx.enrich_from_run_results(run_results_path)
            # only the DERIVED tables carry deep plans worth truncating;
            # the parse tables are LocalRelations — skipping
            # their checkpoint saves one Spark job each (postings is
            # checkpointed inside _build_postings; docstats is a shallow
            # agg over the checkpointed postings, no job needed)
            idx.cache(tables=("models", "columns", "tests"))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        return idx

    _local = None
    #: table name → driver rows of every table in ``TABLES`` (parse tables
    #: as dicts, postings/docstats as tuples) on a driver-side index
    _rows = None
    _patterns = None
    #: delta of the last ``refresh()``: {"changed": n, "reused": n, "removed": n}
    last_refresh_stats: dict | None = None

    @classmethod
    def _of_rows(cls, spark: SparkSession, config: EngineConfig, rows: dict) -> "AriadneIndex":
        """The index over ``rows`` (held, not copied, already verified by
        the caller): no frame is made until a table is first read."""
        idx = cls(spark=spark, **dict.fromkeys(TABLES), config=config,
                  n_models=len(rows["models"]))
        idx._rows = rows
        return idx

    def _drop_rows(self) -> None:
        """Make every table's frame now and forget the rows and the
        snapshot, before a frame is replaced (enrichment, the
        distributed derivations) and they go stale."""
        for t in TABLES:
            getattr(self, t)
        self._rows = self._local = None

    def _search_rows(self) -> tuple[list, list]:
        """Postings and docstats rows: held, else collected."""
        if self._rows is not None:
            return self._rows["postings"], self._rows["docstats"]
        return tuple(
            [tuple(r) for r in getattr(self, t).select(*SCHEMAS[t].names).collect()]
            for t in ("postings", "docstats")
        )

    def doc_signatures(self) -> dict[str, str]:
        """Per-model search-doc content hashes for the CURRENT index
        state (what the existing postings encode), computed from the
        snapshot's rows when the index holds one; otherwise a
        metadata-scale collect of models and columns."""
        if self._local is not None or self._rows is not None:
            snap = self.local()
            return _doc_signatures(
                snap.models.values(),
                (c for cols in snap.columns.values() for c in cols),
                self.config,
            )
        return _doc_signatures(
            [
                r.asDict()
                for r in self.models.select(
                    "unique_id", "name", "description", "compiled_code", "raw_code", "tags"
                ).collect()
            ],
            self.columns.select("model_id", "name").collect(),
            self.config,
        )

    def manifest_delta(self, manifest_path: str) -> dict:
        """Doc-level diff of a new manifest against THIS index's state:
        ``{"changed": [...], "added": [...], "removed": [...]}`` by
        unique_id (the same signatures ``refresh`` uses to decide what
        to re-tokenize). Parse-only — no index is built."""
        man = mf.load_manifest(manifest_path)
        new_sigs = _doc_signatures(mf.parse_models(man), mf.parse_columns(man), self.config)
        old_sigs = self.doc_signatures()
        return {
            "changed": sorted(
                u for u, s in new_sigs.items() if u in old_sigs and old_sigs[u] != s
            ),
            "added": sorted(set(new_sigs) - set(old_sigs)),
            "removed": sorted(set(old_sigs) - set(new_sigs)),
        }

    def refresh(
        self,
        manifest_path: str,
        *,
        catalog_path: str | None = None,
        run_results_path: str | None = None,
    ) -> "AriadneIndex":
        """Incremental hash-delta reindex (the reference's README roadmap
        defers this to v1.0; its v0.1 ships only full snapshot replace,
        reference: indexer.py:90-98). Returns a NEW index; ``self`` is
        untouched (snapshot semantics, like the serving cache).

        What is incremental: posting/docstat rows — the only per-model
        derived artifact whose rebuild cost is real (tokenize + Porter
        stem). Models whose doc signature (``_doc_signature``) is
        unchanged keep their existing rows via a broadcast anti-join on
        the (typically small) changed∪removed id set + union — at cluster
        scale that is one map-side join over the old postings, no
        re-tokenization. Parse tables are always replaced (parsing the
        manifest is the unavoidable driver cost), and degrees/centrality/
        PK-FK always recompute: they are global aggregates an edge change
        anywhere can shift, and they cost a handful of metadata-scale
        shuffles.

        A driver-side refresh does that anti-join and union on driver
        rows, held like a build's (``_rows``), and builds its serving
        snapshot (``local``) from them: no py4j call, one flat
        LocalRelation per table on first DataFrame use, and no reference
        to the old index. An enriched refresh makes its frames at once
        and leaves the snapshot to a collect on first use.

        Equality with a from-scratch ``build()`` on the new manifest is
        pinned by tests/test_incremental.py (modify / add / remove /
        no-op cases); the refreshed snapshot's equality with a collected
        one by tests/test_served_snapshot.py."""
        spark, config = self.spark, self.config
        rows = _parse_tables(mf.load_manifest(manifest_path))
        model_rows, column_rows = rows["models"], rows["columns"]
        local_build = len(model_rows) <= config.local_build_max_models

        new_sigs = _doc_signatures(model_rows, column_rows, config)
        old_sigs = self.doc_signatures()
        changed = {u for u, s in new_sigs.items() if old_sigs.get(u) != s}
        removed = set(old_sigs) - set(new_sigs)
        reused = set(new_sigs) - changed
        # rows to drop from the old postings: changed docs (stale) and
        # removed docs (gone); reused docs pass through untouched
        dropped = changed | removed

        if local_build:
            _derive_degrees_local(model_rows, rows["edges"])
            _derive_pk_fk_local(column_rows, rows["tests"])
            rows["postings"], rows["docstats"] = _build_postings_local(
                [m for m in model_rows if m["unique_id"] in changed],
                [c for c in column_rows if c["model_id"] in changed],
                config,
            )
            _verified(rows)  # the kept rows passed when they were made
            for t, old in zip(("postings", "docstats"), self._search_rows()):
                rows[t] = [r for r in old if r[0] not in dropped] + rows[t]
            idx = AriadneIndex._of_rows(spark, config, rows)
            if not (catalog_path or run_results_path):
                idx.local()  # the served search after a refresh reads it
        else:
            drop_df = local_frame(spark, [(u,) for u in sorted(dropped)], IDS_SCHEMA)
            kept_postings = self.postings.join(F.broadcast(drop_df), "unique_id", "left_anti")
            kept_docstats = self.docstats.join(F.broadcast(drop_df), "unique_id", "left_anti")
            idx = AriadneIndex._of_rows(
                spark, config, _verified({**rows, "postings": [], "docstats": []})
            )
            idx._drop_rows()
            idx.postings, idx.docstats = kept_postings, kept_docstats
            old_parts = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", "4")
            try:
                idx._compute_degrees()
                idx._compute_pk_fk()
                if changed:
                    idx._build_postings(only_ids=sorted(changed))
                    # _build_postings replaced postings/docstats with the
                    # changed-docs-only build; merge the reused rows back
                    idx.postings = kept_postings.unionByName(
                        idx.postings
                    ).localCheckpoint(eager=True)
                    idx.docstats = kept_docstats.unionByName(idx.docstats)
                idx.cache(tables=("models", "columns", "tests"))
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        if catalog_path:
            idx.enrich_from_catalog(catalog_path)
        if run_results_path:
            idx.enrich_from_run_results(run_results_path)
        idx.last_refresh_stats = {
            "changed": len(changed),
            "reused": len(reused),
            "removed": len(removed),
        }
        return idx

    def model_count(self) -> int:
        """Row count of ``models``, without a Spark job once known."""
        if self.n_models is None:
            self.n_models = self.models.count()
        return self.n_models

    def local(self):
        """Driver-local snapshot for latency-critical serving, built once
        per index: from the rows of a driver-side build, else by
        collecting the tables (see operators/local_cache.py)."""
        if self._local is None:
            from ariadne_dbt_spark.operators.local_cache import LocalIndexCache

            if self._rows is not None:
                self._local = LocalIndexCache.from_rows(self.config, self._rows)
            else:
                self._local = LocalIndexCache.from_index(self)
        return self._local

    def patterns(self) -> dict:
        """Pattern bundle, computed once per index build (the underlying
        tables are immutable between rebuilds)."""
        if self._patterns is None:
            from ariadne_dbt_spark.operators.patterns import extract_patterns

            self._patterns = extract_patterns(self)
        return self._patterns

    def cache(self, tables: tuple[str, ...] = TABLES) -> None:
        # localCheckpoint (not just cache) truncates the logical plan of the
        # derived tables — downstream queries compose many joins on top, and
        # an uncut lineage blows Python's recursion limit during plan
        # conversion. The tables are small (≤10k models) so materializing
        # them eagerly is the right trade at any scale. Tables whose plan
        # is already a leaf (LocalRelation / fresh scan) can be skipped
        # via the `tables` selector.
        for t in tables:
            setattr(self, t, getattr(self, t).localCheckpoint(eager=True))

    # -- derived computations ----------------------------------------------
    def _compute_degrees(self) -> None:
        """A1 + A2: degree counts and normalized centrality per model."""
        up = self.edges.groupBy(F.col("child_id").alias("unique_id")).agg(
            F.count(F.lit(1)).cast("int").alias("_up")
        )
        down = self.edges.groupBy(F.col("parent_id").alias("unique_id")).agg(
            F.count(F.lit(1)).cast("int").alias("_down")
        )
        m = (
            self.models.drop("upstream_count", "downstream_count", "centrality")
            .join(up, "unique_id", "left")
            .join(down, "unique_id", "left")
            .withColumn("upstream_count", F.coalesce("_up", F.lit(0)))
            .withColumn("downstream_count", F.coalesce("_down", F.lit(0)))
            .drop("_up", "_down")
            .withColumn("_deg", F.col("upstream_count") + F.col("downstream_count"))
        )
        mx = m.agg(F.max("_deg").alias("_mx"))
        self.models = (
            m.crossJoin(F.broadcast(mx))
            .withColumn(
                "centrality",
                F.when(F.col("_mx") > 0, F.col("_deg").cast("double") / F.col("_mx"))
                .otherwise(F.lit(0.0)),
            )
            .drop("_deg", "_mx")
        )

    def _compute_pk_fk(self) -> None:
        """J3: PK iff a column carries ≥2 distinct test types among
        {unique, not_null}; FK iff any relationships test."""
        t = self.tests.where(F.col("column_name") != "")
        pk = (
            t.where(F.col("test_type").isin("unique", "not_null"))
            .groupBy("model_id", "column_name")
            .agg(F.countDistinct("test_type").alias("n"))
            .where(F.col("n") >= 2)
            .select("model_id", "column_name", F.lit(True).alias("_pk"))
        )
        fk = (
            t.where(F.col("test_type") == "relationships")
            .select("model_id", "column_name")
            .distinct()
            .withColumn("_fk", F.lit(True))
        )
        self.columns = self._pk_fk_join(pk, fk)

    def _pk_fk_join(self, pk: DataFrame, fk: DataFrame) -> DataFrame:
        cols = self.columns.drop("is_primary_key", "is_foreign_key")
        pk2 = pk.withColumnRenamed("model_id", "_m").withColumnRenamed("column_name", "_c")
        fk2 = fk.withColumnRenamed("model_id", "_m").withColumnRenamed("column_name", "_c")
        out = (
            cols.join(
                F.broadcast(pk2), (cols.model_id == pk2._m) & (cols.name == pk2._c), "left"
            )
            .drop("_m", "_c")
            .withColumn("is_primary_key", F.coalesce("_pk", F.lit(False)))
            .drop("_pk")
        )
        out = (
            out.join(F.broadcast(fk2), (out.model_id == fk2._m) & (out.name == fk2._c), "left")
            .drop("_m", "_c")
            .withColumn("is_foreign_key", F.coalesce("_fk", F.lit(False)))
            .drop("_fk")
        )
        return out

    def _build_postings(self, only_ids: list[str] | None = None) -> None:
        """S6/T9: one search doc per model — name, description, column
        names (space-joined), SQL truncated to 2000 chars, tags.
        Tokens are Porter-stemmed when ``config.stem_tokens`` (default,
        matching FTS5 ``tokenize='porter ascii'``); the query side stems
        through the same flag so index and query always agree.
        ``only_ids`` restricts the build to those docs (incremental
        refresh — the caller merges the reused rows back)."""
        models = self.models
        if only_ids is not None:
            ids_df = local_frame(self.spark, [(u,) for u in only_ids], IDS_SCHEMA)
            models = models.join(F.broadcast(ids_df), "unique_id", "left_semi")
        col_names = self.columns.groupBy(F.col("model_id").alias("unique_id")).agg(
            F.concat_ws(" ", F.collect_list("name")).alias("column_names")
        )
        docs = (
            models.select(
                "unique_id",
                F.col("name"),
                F.col("description"),
                truncate_sql(
                    F.coalesce(
                        F.nullif(F.col("compiled_code"), F.lit("")), F.col("raw_code")
                    ),
                    self.config.sql_index_chars,
                ).alias("sql_text"),
                F.concat_ws(" ", F.col("tags")).alias("tags_text"),
            )
            .join(col_names, "unique_id", "left")
            .withColumn("column_names", F.coalesce("column_names", F.lit("")))
            # metadata-scale corpus (≤10k docs): 32 near-empty partitions
            # would each pay Arrow + Python-worker setup for the stem UDF;
            # a handful keeps that overhead off the build's critical path
            .coalesce(4)
        )
        postings, _ = build_postings(
            docs,
            "unique_id",
            {
                "name": "name",
                "description": "description",
                "column_names": "column_names",
                "sql_text": "sql_text",
                "tags": "tags_text",
            },
            stem=self.config.stem_tokens,
        )
        # materialize the postings once (single corpus pass); docstats is
        # then a shallow rollup of the checkpointed postings — the second
        # tokenize pass the old per-field build paid is gone
        self.postings = postings.localCheckpoint(eager=True)
        self.docstats = self.postings.groupBy("unique_id", "field").agg(
            F.sum("tf").alias("dl")
        )

    # -- enrichment ----------------------------------------------------------
    def enrich_from_catalog(self, catalog_path: str) -> None:
        """S2: join catalog stats (row_count/bytes/last_modified) into
        models and column data_types (case-insensitive) into columns."""
        import json

        self._drop_rows()

        with open(catalog_path) as f:
            cat = json.load(f)
        stat_rows, col_rows = [], []
        for uid, node in (cat.get("nodes") or {}).items():
            stats = node.get("stats") or {}

            def stat(name):
                v = (stats.get(name) or {}).get("value")
                try:
                    return int(float(v)) if v is not None else None
                except (TypeError, ValueError):
                    return None

            stat_rows.append({
                "unique_id": uid,
                "_row_count": stat("num_rows") or stat("row_count"),
                "_bytes": stat("num_bytes") or stat("bytes"),
                "_last_modified": (node.get("metadata") or {}).get("last_modified")
                or (stats.get("last_modified") or {}).get("value"),
            })
            for cname, c in (node.get("columns") or {}).items():
                col_rows.append({
                    "unique_id": uid,
                    "_col_lower": str(c.get("name") or cname).lower(),
                    "_data_type": str(c.get("type") or ""),
                })
        if stat_rows:
            sdf = local_frame(
                self.spark,
                stat_rows,
                "unique_id string, _row_count long, _bytes long, _last_modified string",
            )
            self.models = (
                self.models.drop("row_count", "bytes", "last_modified")
                .join(F.broadcast(sdf), "unique_id", "left")
                .withColumnRenamed("_row_count", "row_count")
                .withColumnRenamed("_bytes", "bytes")
                .withColumnRenamed("_last_modified", "last_modified")
            )
        if col_rows:
            cdf = local_frame(
                self.spark, col_rows, "unique_id string, _col_lower string, _data_type string"
            )
            cols = self.columns
            self.columns = (
                cols.join(
                    F.broadcast(cdf),
                    (cols.model_id == cdf.unique_id)
                    & (F.lower(cols.name) == cdf._col_lower),
                    "left",
                )
                .withColumn(
                    "data_type",
                    F.coalesce(F.nullif("_data_type", F.lit("")), F.col("data_type")),
                )
                .drop("unique_id", "_col_lower", "_data_type")
            )

    def enrich_from_run_results(self, path: str) -> None:
        """S3: test status + Σ(timing deltas) + failures, tests only."""
        import json
        from datetime import datetime

        self._drop_rows()

        with open(path) as f:
            rr = json.load(f)
        rows = []
        for r in rr.get("results") or []:
            uid = r.get("unique_id") or ""
            if not uid.startswith("test."):
                continue
            total = 0.0
            for t in r.get("timing") or []:
                try:
                    t0 = datetime.fromisoformat(str(t["started_at"]).replace("Z", "+00:00"))
                    t1 = datetime.fromisoformat(str(t["completed_at"]).replace("Z", "+00:00"))
                    total += (t1 - t0).total_seconds()
                except (KeyError, ValueError):
                    continue
            failures = r.get("failures")
            rows.append({
                "unique_id": uid,
                "_status": str(r.get("status") or ""),
                "_exec": total,
                "_failures": int(failures) if failures is not None else None,
            })
        if not rows:
            return
        rdf = local_frame(
            self.spark, rows, "unique_id string, _status string, _exec double, _failures int"
        )
        self.tests = (
            self.tests.drop("last_status", "last_execution_time", "last_failures")
            .join(F.broadcast(rdf), "unique_id", "left")
            .withColumnRenamed("_status", "last_status")
            .withColumnRenamed("_exec", "last_execution_time")
            .withColumnRenamed("_failures", "last_failures")
        )

    # -- persistence (S5: full-refresh overwrite) ----------------------------
    def save(self, out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        for t in TABLES:
            getattr(self, t).write.mode("overwrite").parquet(os.path.join(out_dir, t))

    @classmethod
    def load(cls, spark: SparkSession, out_dir: str, config: EngineConfig | None = None):
        kw = {t: spark.read.parquet(os.path.join(out_dir, t)) for t in TABLES}
        idx = cls(spark=spark, config=config or EngineConfig(), **kw)
        idx.cache()
        idx.n_models = idx.models.count()
        return idx
