"""The benchmark's workloads.

Each workload writes its seeded inputs, derives its expected outputs
without the engine, and runs one step at a time, returning whether the
step's outputs were correct. `Recorder` times every call into the
engine and, in a traced run, attributes it to layers.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

import duckdb
import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gdal_spark import plans
from gdal_spark import queries as Q
from gdal_spark.geo import mercator
from gdal_spark.operators import pip_join
from gdal_spark.raster import tilewriter
from gdal_spark.sources import admin, pages

from . import inputs

#: tile zoom of the geotag rollup
ROLLUP_ZOOM = 12


class Recorder:
    """Wall time of every operation, tagged with the step it ran in; in a
    traced run (`wrappers` set) also its per-layer counters from Spark
    and from the wrapped engine calls, and the time the tracing itself
    spent inside the operation."""

    def __init__(self):
        self.ops: list[dict] = []
        self.step = 0
        self.counters = None
        self.wrappers = None

    def run(self, kind: str, fn, rows: int = 0):
        """Call `fn` and record it as one operation; an operation that
        raises is recorded too, with its wall time up to the raise and
        `failed` set."""
        traced = self.wrappers is not None
        op = {"kind": kind, "wall_s": 0.0, "rows": rows, "step": self.step,
              "failed": True}
        self.ops.append(op)
        if traced:
            op["layers"] = {}
            mark = self.counters.mark()
            busy = self.counters.busy_s
        t0 = time.perf_counter()
        try:
            out = fn()
            op["failed"] = False
            return out
        finally:
            op["wall_s"] = time.perf_counter() - t0
            if traced:
                in_op = self.counters.busy_s - busy
                op["layers"].update(self.counters.since(mark, op["wall_s"]))
                op["layers"].update(self.wrappers.take())
                op["layers"]["trace.overhead_s"] = in_op


def _points(spark, path: str):
    """Page points derived at query time, un-persisted, as entry() does."""
    return (spark.read.parquet(path)
            .withColumn("lon", pages.lon_col(F.col("doc_id")))
            .withColumn("lat", pages.lat_col(F.col("doc_id"))))


class Geotag:
    """Step: pages joined to the 24 admin polygons on the broadcast path,
    rolled up per (poly, z12 tile), summarised per polygon."""

    primary = "pass"

    def __init__(self, seed: int, n_pages: int, n_files: int):
        self.seed, self.n_pages, self.n_files = seed, n_pages, n_files
        self.path = None
        self.expected = None

    def write_inputs(self, data_dir: str) -> None:
        self.path = os.path.join(data_dir, "pages.parquet")
        inputs.write_pages(self.path, self.seed, self.n_pages, self.n_files)

    def expect(self, corrupt: bool) -> None:
        ids = inputs.page_ids(self.seed, self.n_pages)
        self.expected = inputs.geotag_expected(ids, ROLLUP_ZOOM)
        if corrupt:
            first = min(self.expected)
            n_tiles, n, key_sum = self.expected[first]
            self.expected[first] = (n_tiles, n + 1, key_sum)

    def _pass(self, spark):
        pts = _points(spark, self.path).select("doc_id", "url", "lon", "lat")
        joined = pip_join.pip_join_broadcast(pts, admin.admin_df(spark), how="inner")
        tiled = (joined
                 .withColumn("tile_x", mercator.tile_x_col(F.col("lon"), ROLLUP_ZOOM))
                 .withColumn("tile_y", mercator.tile_y_col(F.col("lat"), ROLLUP_ZOOM)))
        rollup = tiled.groupBy("poly_id", "tile_x", "tile_y").agg(
            F.count(F.lit(1)).alias("n"))
        return rollup.groupBy("poly_id").agg(
            F.count(F.lit(1)).alias("n_tiles"), F.sum("n").alias("n_pages"),
            F.sum(F.col("tile_x") * (1 << ROLLUP_ZOOM) + F.col("tile_y"))
            .alias("key_sum")).collect()

    def warm(self, spark) -> None:
        """Nothing: a pass is measured as a batch job pays for it, cold."""

    def step(self, spark, rec: Recorder) -> bool:
        rows = rec.run("pass", lambda: self._pass(spark), rows=self.n_pages)
        got = {r.poly_id: (r.n_tiles, r.n_pages, r.key_sum) for r in rows}
        return got == self.expected


class TilePyramid:
    """Step: a density pyramid written through lineage checkpoints to a
    fresh directory; twice, one seeded committed bucket per zoom lost
    and the resume; then the lineage audit. Two resumes per step halve
    the noise of resume_s, the recovery cost the paper's checkpointing
    exists for."""

    primary = "build"

    def __init__(self, seed: int, n_points: int, base_zoom: int,
                 min_zoom: int, n_buckets: int, n_files: int):
        self.seed, self.n_points, self.n_files = seed, n_points, n_files
        self.base_zoom, self.min_zoom, self.n_buckets = base_zoom, min_zoom, n_buckets
        self.rng = np.random.default_rng(seed)
        self.path = self.out_root = None

    def write_inputs(self, data_dir: str) -> None:
        self.path = os.path.join(data_dir, "pages.parquet")
        self.out_root = os.path.join(data_dir, "pyramids")
        inputs.write_pages(self.path, self.seed, self.n_points, self.n_files)

    def expect(self, corrupt: bool) -> None:
        ids = inputs.page_ids(self.seed, self.n_points)
        self.base_tiles = inputs.occupied_tiles(ids, self.base_zoom)
        self.total = self.n_points + (1 if corrupt else 0)

    def _zooms(self):
        return range(self.base_zoom, self.min_zoom - 1, -1)

    def _write(self, spark, out: str) -> dict:
        pts = _points(spark, self.path).select("lon", "lat")
        return tilewriter.write_pyramid(pts, out, self.base_zoom, self.min_zoom,
                                        n_buckets=self.n_buckets)

    def _manifests(self, out: str) -> dict:
        """{zoom: {bucket: (n_rows, content_hash)}} read from disk."""
        found = {}
        for z in self._zooms():
            t = pq.read_table(os.path.join(out, f"z{z}", "_manifest")).to_pydict()
            found[z] = dict(zip(t["bucket"], zip(t["n_rows"], t["content_hash"])))
        return found

    def _lose_buckets(self, out: str, manifests: dict) -> None:
        """Delete one seeded committed bucket per zoom, its data and its
        manifest row, as if the run had stopped before committing it."""
        for z, committed in manifests.items():
            b = int(self.rng.choice(sorted(committed)))
            shutil.rmtree(os.path.join(out, f"z{z}", f"bucket={b}"))
            mdir = os.path.join(out, f"z{z}", "_manifest")
            table = pq.read_table(mdir)
            table = table.filter([x != b for x in table.column("bucket").to_pylist()])
            shutil.rmtree(mdir)
            os.makedirs(mdir)
            pq.write_table(table, os.path.join(mdir, "part-00000.parquet"))

    def _base_total(self, out: str) -> float:
        """Sum of every base-zoom pixel, read from the written files."""
        px = pq.read_table(os.path.join(out, f"z{self.base_zoom}"), columns=["px"])
        return pc.sum(pc.list_flatten(px.column("px"))).as_py()

    def warm(self, spark) -> None:
        """Nothing: a build is measured as a batch job pays for it, cold."""

    def step(self, spark, rec: Recorder) -> bool:
        out = os.path.join(self.out_root, f"step{rec.step}")
        try:
            built = rec.run("build", lambda: self._write(spark, out), rows=self.n_points)
            before = self._manifests(out)
            rec.ops[-1]["tiles"] = sum(n for m in before.values() for n, _h in m.values())
            ok = all(built[z] == {"written": len(before[z]), "skipped": 0}
                     for z in self._zooms())
            for _ in range(2):
                self._lose_buckets(out, before)
                resumed = rec.run("resume", lambda: self._write(spark, out))
                ok &= all(resumed[z] == {"written": 1, "skipped": len(before[z]) - 1}
                          for z in self._zooms())
            audit = rec.run("verify", lambda: tilewriter.verify_pyramid(
                spark, out, self.base_zoom, self.min_zoom).collect())
            return (ok and all(r.ok for r in audit)
                    and self._manifests(out) == before
                    and sum(n for n, _h in before[self.base_zoom].values()) == self.base_tiles
                    and self._base_total(out) == self.total)
        finally:
            shutil.rmtree(out, ignore_errors=True)


#: registry queries of the mix, each checked against its DuckDB oracle
MIX_QUERIES = ["geo_pip_join_broadcast", "geo_pip_join_shuffle", "geo_knn_ring",
               "ogr_summary_record", "tpch_q1_pricing_summary"]
#: the mix's one query through the OGR-SQL planner (plans.execute_sql)
PLANS_QUERY = "plans_lang_summary"
PLANS_SQL = ("SELECT lang, count(*) AS n_pages, min(doc_id) AS min_doc,"
             " max(doc_id) AS max_doc FROM pages GROUP BY lang")
_LINEITEM_QUERIES = {"ogr_summary_record", "tpch_q1_pricing_summary"}


class SqlMix:
    """Closed loop, one client. Set-up runs every query once; a step is
    one round of the queries in a seeded order (a seeded permutation of
    all of them), each checked against its oracle and timed on its own."""

    primary = "query"

    def __init__(self, seed: int, n_docs: int, n_hot: int, n_lineitem: int):
        self.seed, self.n_docs, self.n_hot = seed, n_docs, n_hot
        self.n_lineitem = n_lineitem
        self.rng = np.random.default_rng(seed)
        self.names = MIX_QUERIES + [PLANS_QUERY]
        self.data_dir = None

    def write_inputs(self, data_dir: str) -> None:
        self.data_dir = data_dir
        inputs.write_documents(os.path.join(data_dir, "documents.parquet"),
                               self.seed, self.n_docs, self.n_hot)
        inputs.write_lineitem(os.path.join(data_dir, "lineitem.parquet"),
                              self.seed, self.n_lineitem)

    def expect(self, corrupt: bool) -> None:
        con = duckdb.connect()
        try:
            for t in ("documents", "lineitem"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{self.data_dir}/{t}.parquet/*.parquet')")
            con.execute("CREATE VIEW pages AS SELECT * FROM documents")
            self.expected = {}
            for name in self.names:
                res = con.execute(PLANS_SQL if name == PLANS_QUERY else Q.ORACLES[name])
                cols = [d[0] for d in res.description]
                self.expected[name] = inputs.canonical_rows(cols, res.fetchall())
        finally:
            con.close()
        if corrupt:
            rows = self.expected[self.names[0]]
            rows[0] = rows[0][:-1] + ("corrupted",)

    def _query(self, spark, name: str):
        if name == PLANS_QUERY:
            docs = spark.read.parquet(os.path.join(self.data_dir, "documents.parquet"))
            df = plans.execute_sql(spark, PLANS_SQL, {"pages": docs})
        else:
            df = Q.QUERIES[name](spark, self.data_dir)
        return df.columns, df.collect()

    def warm(self, spark) -> None:
        """Run every query once, unchecked, so that the first-run costs
        (code generation, JIT, first use of each engine path) fall in
        set-up and every measured query runs warm. A query that fails
        here fails again, and is counted, in the measured step."""
        for name in self.names:
            try:
                self._query(spark, name)
            except Exception:
                traceback.print_exc()

    def step(self, spark, rec: Recorder) -> bool:
        ok = True
        for k in self.rng.permutation(len(self.names)):
            name = self.names[k]
            rows = (self.n_lineitem if name in _LINEITEM_QUERIES
                    else self.n_docs + self.n_hot)
            cols, got = rec.run("query", lambda: self._query(spark, name), rows=rows)
            rec.ops[-1]["query"] = name
            ok &= inputs.canonical_rows(cols, got) == self.expected[name]
        return ok


#: workload name -> {size: factory(seed, cores)}
WORKLOADS = {
    "geotag_broadcast": {
        "full": lambda seed, n: Geotag(seed, 400_000, n_files=n),
        "tiny": lambda seed, n: Geotag(seed, 20_000, n_files=n),
    },
    "tile_pyramid": {
        "full": lambda seed, n: TilePyramid(seed, 50_000, base_zoom=2, min_zoom=1,
                                            n_buckets=4, n_files=n),
        "tiny": lambda seed, n: TilePyramid(seed, 5_000, base_zoom=1, min_zoom=0,
                                            n_buckets=2, n_files=n),
    },
    "spatial_sql_mix": {
        "full": lambda seed, n: SqlMix(seed, 2_000, 600, 60_000),
        "tiny": lambda seed, n: SqlMix(seed, 300, 100, 5_000),
    },
}
