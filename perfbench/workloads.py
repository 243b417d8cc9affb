"""The workloads: ``serve`` and ``store_churn``.

Each workload generates its inputs from the seed (``prepare``), builds
its state from them (``build``, which the run repeats and times), warms
the paths it times with one full pass (``warmup``), then runs identical
passes (``run_pass``). Every call into the program is one op: it is
timed, wrapped in a span named ``<module>.<function>``, and checked; an
exception or a failed check counts the op as failed and the run goes on.
A pass's time is the sum of its ops' times, so the benchmark's own
bookkeeping and checks never count against the program.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from decimal import Decimal

from perfbench import gen

#: serve: models in the manifest. The pass (Serve.requests) leaves out the
#: other tools: they cost 1-38 s per call on the served path, and one run
#: must fit the run budget (README.md, "Left out, and why")
SERVE_MODELS = 500
#: store_churn: table rows, files it is written as, rows per upsert batch,
#: vectors in the IVF index and per append
CHURN_ROWS = 120_000
CHURN_FILES = 16
CHURN_BATCH = 2000
CHURN_DELETES = 100
CHURN_VECTORS = 3000
CHURN_DIM = 16
CHURN_APPEND = 400
CHURN_QUERIES = 2
#: bytes of one submitted order row: two longs, a status byte, an 8-byte
#: decimal and a 32-char note
ROW_BYTES = 8 + 8 + 1 + 8 + 32
#: commits keep retired epochs (and their change logs) this long, so the
#: view refresh can always read the log since its last sync
RETENTION_S = 3600.0


class Op:
    """Outcome accounting shared by every workload."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.last_span = None
        #: seconds per op name, every call
        self.times: dict[str, list[float]] = {}

    def setup_call(self, name: str, fn):
        """A set-up call into the program: counted and spanned like an op,
        but an exception ends the run, since nothing can run without the
        state it builds."""
        self.attempted += 1
        try:
            with self.tracer.span(name, op=True) as sp:
                return fn()
        except Exception:
            self.failed += 1
            raise
        finally:
            self.times.setdefault(name, []).append(sp.wall)

    def run(self, name: str, fn, check=None):
        """Time ``fn()`` in a span; ``check(result)`` returns an error string
        or None. Returns (result or None, seconds)."""
        self.attempted += 1
        result, err, dt = None, None, 0.0
        try:
            with self.tracer.span(name, op=True) as sp:
                self.last_span = sp
                t0 = time.perf_counter()
                try:
                    result = fn()
                finally:
                    dt = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - counted, reported, run goes on
            err = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        self.times.setdefault(name, []).append(dt)
        if err is None and check is not None:
            try:
                err = check(result)
            except Exception as e:  # noqa: BLE001
                err = f"check raised {type(e).__name__}: {e}"
        if err is not None:
            self.failed += 1
            self.errors.append(f"{name}: {err}"[:800])
            result = None
        return result, dt


def _write_json(path: str, obj) -> str:
    with open(path, "w") as f:
        json.dump(obj, f)
    return path


# -- serve ------------------------------------------------------------------
class Serve:
    """One simulated agent (closed loop) on ``ToolServer.handle``."""

    def __init__(self, spark, tracer, ops: Op, seed: int, work: str):
        self.spark, self.tracer, self.ops, self.seed, self.work = spark, tracer, ops, seed, work
        #: the post-refresh hits, pinned by the warm-up pass against the twin
        self.expected: list[tuple] | None = None

    def prepare(self) -> None:
        m = gen.make_manifest(self.seed, SERVE_MODELS)
        m2, self.changed = gen.change_manifest(m, self.seed)
        self.path_a = _write_json(os.path.join(self.work, "manifest.json"), m)
        self.path_b = _write_json(os.path.join(self.work, "manifest_changed.json"), m2)
        self.script = gen.serve_script(self.seed)

    def build(self, rep: int) -> None:
        from ariadne_dbt_spark.ingest.indexer import AriadneIndex

        self.index = self.ops.setup_call(
            "indexer.build", lambda: AriadneIndex.build(self.spark, self.path_a))

    def requests(self) -> list[tuple[str, dict]]:
        """One pass: refresh to the edited manifest, then search."""
        return [
            ("indexer.refresh", {"tool": "refresh_index",
                                 "args": {"manifest_path": self.path_b}}),
            ("server.search_models_after_refresh",
             {"tool": "search_models", "args": {"query": self.script["query"]}}),
        ]

    def warmup(self) -> None:
        """One full pass. Its first calls compile their plans and start the
        Python UDF workers, which a user pays once per server process."""
        self.run_pass()

    @staticmethod
    def _view(hits: list[dict]) -> list[tuple]:
        return [(h["unique_id"], round(h["score"], 9)) for h in hits]

    def _checker(self, req: dict, srv):
        def check(resp):
            if resp.get("status") != "ok":
                return f"status {resp.get('status')}: {resp.get('error') or resp.get('result')}"
            result = resp["result"]
            if req["tool"] == "refresh_index":
                if result["delta"]["changed"] != len(self.changed):
                    return f"refresh changed {result['delta']} != {len(self.changed)} edited"
                return None
            got = self._view(result["results"])
            if self.expected is None:
                # the first pass: the driver-local cache of the refreshed
                # index (the LocalIndexCache twin) must give the same hits;
                # later passes must repeat the first, checked or not
                self.expected = got
                with self.tracer.span("bench.check"):
                    want = self._view(srv.index.local().search(self.script["query"], limit=10))
                if len(got) != 10 or not _same_ranking(got, want):
                    return (f"differs from the LocalIndexCache twin: served {got!r:.300}"
                            f" twin {want!r:.300}")
                return None
            if not _same_ranking(got, self.expected):
                return f"differs from the first pass: {got!r:.200}"
            return None
        return check

    def run_pass(self) -> float:
        from ariadne_dbt_spark.server import ToolServer

        srv = ToolServer(self.index)  # every pass starts from the built index
        total = 0.0
        for name, req in self.requests():
            _, dt = self.ops.run(name, lambda req=req: srv.handle(req), self._checker(req, srv))
            total += dt
        return total

    def finish(self) -> None:
        pass


def _same_ranking(a: list, b: list) -> bool:
    """Equal hit lists of (id, score rounded to 1e-9). The two paths sum
    BM25 terms in different orders, so equal scores can differ in the last
    bit and exact ties come back in either order: ties are compared as
    sets, and at the cut-off only their count must agree."""
    if [s for _, s in a] != [s for _, s in b]:
        return False
    last = a[-1][1] if a else None

    def inner(xs):
        return sorted(x for x in xs if x[1] != last)

    return inner(a) == inner(b)


# -- store_churn ----------------------------------------------------------------
class StoreChurn:
    """Writes beside reads on a CDF-enabled table, its aggregate view and a
    persisted IVF index. One pass is one churn cycle: a key-local upsert, a
    spread upsert, a range UPDATE, a key DELETE, the view refresh and a
    read-back, an IVF append, delete and queries, then OPTIMIZE (which
    restores the key clustering the spread upsert scattered)."""

    def __init__(self, spark, tracer, ops: Op, seed: int, work: str):
        self.spark, self.tracer, self.ops, self.seed, self.work = spark, tracer, ops, seed, work
        self.cycle = 0
        self.touched: list[float] = []
        self.deleted_vecs: set[int] = set()
        self.submitted_bytes = 0
        self.written_bytes = 0
        self.inodes: set[int] = set()

    def prepare(self) -> None:
        rows = gen.make_orders(self.seed, CHURN_ROWS)
        # the expected table, maintained in Python beside the store
        self.model = {r[0]: (r[1], r[2], Decimal(str(r[3])), r[4]) for r in rows}
        self.rows_pdf = self._pandas(rows)
        self.vec_rows = dict(gen.make_vectors(self.seed, range(1, CHURN_VECTORS + 1), CHURN_DIM))
        self.next_vec = CHURN_VECTORS + 1

    def build(self, rep: int) -> None:
        """Write the table, its view and the IVF index under a fresh
        directory; the last build is the one the passes use."""
        import shutil

        from ariadne_dbt_spark.operators.incremental_view import build_agg_view
        from ariadne_dbt_spark.operators.similarity import ivf_build_index
        from ariadne_dbt_spark.operators.table_store import enable_change_feed, write_table

        if rep:
            shutil.rmtree(os.path.dirname(self.tdir), ignore_errors=True)
        base = os.path.join(self.work, f"stores{rep}")
        self.tdir = os.path.join(base, "orders")
        self.vdir = os.path.join(base, "orders_by_status")
        self.idir = os.path.join(base, "ivf")

        def write():
            df = self._frame(self.rows_pdf).repartitionByRange(CHURN_FILES, "o_orderkey")
            write_table(self.spark, df, self.tdir)
            enable_change_feed(self.tdir)

        self.ops.setup_call("table_store.write_table", write)
        self.ops.setup_call("incremental_view.build_agg_view", lambda: build_agg_view(
            self.spark, self.tdir, self.vdir, row_keys=["o_orderkey"], group_by=["o_status"],
            measures={"total_price": ("sum", "price"), "n_orders": ("count", None)}))
        self.ops.setup_call("similarity.ivf_build_index", lambda: ivf_build_index(
            self._vec_frame(self.vec_rows.items()), self.idir, n_centroids=8, iters=1))
        self.inodes.clear()
        self.new_bytes()

    # frames go through pandas + Arrow: no Python worker pickles the rows
    @staticmethod
    def _pandas(rows):
        import pandas as pd

        return pd.DataFrame(
            [(k, c, s, Decimal(str(p)), n) for k, c, s, p, n in rows],
            columns=["o_orderkey", "o_custkey", "o_status", "price", "note"],
        )

    def _frame(self, pdf):
        return self.spark.createDataFrame(
            pdf,
            "o_orderkey long, o_custkey long, o_status string, price decimal(18,2), note string",
        )

    def _key_frame(self, keys):
        import pandas as pd

        return self.spark.createDataFrame(pd.DataFrame({"o_orderkey": keys}), "o_orderkey long")

    def _vec_frame(self, items):
        import pandas as pd

        pdf = pd.DataFrame(list(items), columns=["vec_id", "embedding"])
        return self.spark.createDataFrame(pdf, "vec_id long, embedding array<double>")

    def new_bytes(self) -> int:
        """Bytes of files under the store dirs not seen before (hard-linked
        carried files share an inode, so they count once)."""
        total = 0
        for d in (self.tdir, self.vdir, self.idir):
            for root, _dirs, files in os.walk(d):
                for fn in files:
                    try:
                        st = os.stat(os.path.join(root, fn))
                    except OSError:
                        continue
                    if st.st_ino not in self.inodes:
                        self.inodes.add(st.st_ino)
                        total += st.st_size
        return total

    def expected_view(self) -> dict:
        out: dict[str, list] = {}
        for _c, s, p, _n in self.model.values():
            acc = out.setdefault(s, [Decimal("0.00"), 0])
            acc[0] += p
            acc[1] += 1
        return {s: (str(v[0]), v[1]) for s, v in out.items()}

    def warmup(self) -> None:
        """One full churn cycle, checked like every other."""
        self.run_pass()

    def _store_op(self, name, fn, check=None):
        """An op on the stores; its span records the bytes it wrote."""
        self.new_bytes()  # absorb anything written outside the op
        res, dt = self.ops.run(name, fn, check)
        written = self.new_bytes()
        self.ops.last_span.attrs["bytes_written"] = written
        self.written_bytes += written
        return res, dt

    def merge(self, local: bool) -> float:
        from ariadne_dbt_spark.operators.table_store import merge_table

        batch = gen.churn_batch(self.seed, 2 * self.cycle + local, CHURN_ROWS, CHURN_BATCH, local)
        n_upd = sum(r[0] in self.model for r in batch)
        src = self._frame(self._pandas(batch))

        def check(rep):
            if (rep["rows_updated"], rep["rows_inserted"]) != (n_upd, len(batch) - n_upd):
                return f"merge counts {rep['rows_updated']}/{rep['rows_inserted']}"
            if local:
                self.touched.append(rep["n_files_touched"] / max(1, rep["n_files"]))
            return None

        _, dt = self._store_op(
            "table_store.merge_table",
            lambda: merge_table(self.spark, self.tdir, src, ["o_orderkey"],
                                retention_sec=RETENTION_S),
            check)
        for r in batch:
            self.model[r[0]] = (r[1], r[2], Decimal(str(r[3])), r[4])
        self.submitted_bytes += len(batch) * ROW_BYTES
        return dt

    def run_pass(self) -> float:
        import random

        from ariadne_dbt_spark.operators.incremental_view import read_view, refresh_agg_view
        from ariadne_dbt_spark.operators.similarity import ivf_append, ivf_delete
        from ariadne_dbt_spark.operators.table_store import (
            delete_keys,
            optimize_table,
            update_where,
        )

        spark = self.spark
        rng = random.Random(self.seed * 7919 + self.cycle)
        total = self.merge(local=True) + self.merge(local=False)

        # a range UPDATE and a key DELETE, each on one 1/64 slice of the keys
        span = 2 * CHURN_ROWS // 64
        lo = rng.randrange(0, 2 * CHURN_ROWS - span)
        hit = [k for k in self.model if lo <= k <= lo + span]
        _, dt = self._store_op(
            "table_store.update_where",
            lambda: update_where(spark, self.tdir,
                                 {"price": "CAST(price + 1 AS DECIMAL(18,2))"},
                                 f"o_orderkey BETWEEN {lo} AND {lo + span}",
                                 retention_sec=RETENTION_S),
            lambda rep: None if rep["rows_updated"] == len(hit)
            else f"updated {rep['rows_updated']} != {len(hit)}")
        total += dt
        for key in hit:
            cu, s, p, n = self.model[key]
            self.model[key] = (cu, s, p + 1, n)

        lo = rng.randrange(0, 2 * CHURN_ROWS - span)
        doomed = sorted(key for key in self.model if lo <= key <= lo + span)[:CHURN_DELETES]
        kdf = self._key_frame(doomed)
        _, dt = self._store_op(
            "table_store.delete_keys",
            lambda: delete_keys(spark, self.tdir, kdf, ["o_orderkey"],
                                retention_sec=RETENTION_S),
            lambda rep: None if rep["rows_deleted"] == len(doomed)
            else f"deleted {rep['rows_deleted']} != {len(doomed)}")
        total += dt
        for key in doomed:
            self.model.pop(key, None)
        self.submitted_bytes += 8 * len(doomed)

        # fold the changes into the view, read it back
        _, dt = self._store_op(
            "incremental_view.refresh_agg_view",
            lambda: refresh_agg_view(spark, self.vdir, retention_sec=RETENTION_S),
            lambda rep: None if rep.get("mode") == "log"
            else f"refresh mode {rep.get('mode')}: {rep.get('reason')}")
        total += dt
        want = self.expected_view()

        def check_view(rows):
            got = {r["o_status"]: (str(r["total_price"]), int(r["n_orders"])) for r in rows}
            return None if got == want else f"view {got} != {want}"

        _, dt = self.ops.run("incremental_view.read_view",
                             lambda: read_view(spark, self.vdir).collect(), check_view)
        total += dt

        # IVF: append a batch, delete a few live ids, query with stored vectors
        new = gen.make_vectors(self.seed * 31 + self.cycle,
                               range(self.next_vec, self.next_vec + CHURN_APPEND), CHURN_DIM)
        self.next_vec += CHURN_APPEND
        vdf = self._vec_frame(new)
        _, dt = self._store_op("similarity.ivf_append", lambda: ivf_append(vdf, self.idir))
        total += dt
        self.vec_rows.update(new)
        self.submitted_bytes += len(new) * 8 * (CHURN_DIM + 1)
        gone = rng.sample(sorted(self.vec_rows), 20)
        _, dt = self._store_op("similarity.ivf_delete", lambda: ivf_delete(spark, self.idir, gone))
        total += dt
        for g in gone:
            self.vec_rows.pop(g)
            self.deleted_vecs.add(g)
        self.submitted_bytes += 8 * len(gone)
        total += self.queries(rng)

        _, dt = self._store_op(
            "table_store.optimize_table",
            lambda: optimize_table(spark, self.tdir, target_file_mb=1,
                                   cluster_by=["o_orderkey"], retention_sec=RETENTION_S))
        total += dt
        self.cycle += 1
        return total

    def queries(self, rng) -> float:
        from ariadne_dbt_spark.operators.similarity import ivf_query_index

        total = 0.0
        for qid in rng.sample(sorted(self.vec_rows), CHURN_QUERIES):
            def check(rows, qid=qid):
                ids = [r["vec_id"] for r in rows]
                if not ids or ids[0] != qid:
                    return f"query {qid} returned {ids[:3]} first"
                bad = set(ids) & self.deleted_vecs
                return f"deleted ids returned: {sorted(bad)}" if bad else None

            _, dt = self.ops.run(
                "similarity.ivf_query_index",
                lambda qid=qid: ivf_query_index(self.spark, self.idir, self.vec_rows[qid],
                                                k=10).collect(), check)
            total += dt
        return total

    def finish(self) -> None:
        """Compact the IVF tombstones, then check the final state: the view
        against a from-scratch GROUP BY, and queries after compaction."""
        import random

        from pyspark.sql import functions as F

        from ariadne_dbt_spark.operators.incremental_view import read_view
        from ariadne_dbt_spark.operators.similarity import ivf_compact
        from ariadne_dbt_spark.operators.table_store import read_table

        self._store_op("similarity.ivf_compact", lambda: ivf_compact(self.spark, self.idir))

        def check_scratch(_):
            with self.tracer.span("bench.check"):
                scratch = {
                    r["o_status"]: (str(r["s"]), r["n"])
                    for r in read_table(self.spark, self.tdir).groupBy("o_status").agg(
                        F.sum("price").alias("s"), F.count(F.lit(1)).alias("n")).collect()
                }
                view = {r["o_status"]: (str(r["total_price"]), int(r["n_orders"]))
                        for r in read_view(self.spark, self.vdir).collect()}
            if scratch != view or scratch != self.expected_view():
                return f"view {view} != GROUP BY {scratch}"
            return None

        self.ops.run("bench.final_view", lambda: None, check_scratch)
        self.queries(random.Random(self.seed))
