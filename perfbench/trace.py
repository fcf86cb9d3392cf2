"""Layer attribution for the traced run, measured from outside the engine.

Three sources, none of which edits `gdal_spark/`:

- `SparkCounters` reads Spark's own counters with the UI disabled: the
  SQL plan graph and metric values of every execution (AQE query
  stages included) from the SQL status store, and per-stage task
  totals and task-time quantiles from the core status store.
- `Wrappers` replaces public engine functions at their module
  attribute (the engine calls them through the module, so its own
  calls are seen too) and times each call.
- The workloads time their own calls into the engine.

SQL metric values come from the status store as Spark formats them for
display, so sizes carry 0.1-unit and times 0.1 s (or 1 ms) resolution.
"""

from __future__ import annotations

import functools
import re
import time
from collections import defaultdict

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")

_ROWS = "number of output rows"
_TO_PY = "data sent to Python workers"
_PYTHON_NODE_HINTS = ("Pandas", "Python", "Arrow")
_PYTHON_METRICS = {_ROWS, _TO_PY, "data returned from Python workers",
                   "time to run Python workers", "time to start Python workers",
                   "time to initialize Python workers"}


def parse_metric(text: str, metric_type: str) -> float:
    """Total of one SQL metric as the status store formats it: a plain
    sum ("1,234"), or a size/time whose total leads the second line
    ("total (min, med, max ...)\\n3.2 MiB (...)")."""
    if metric_type == "average":
        return 0.0
    line = text.split("\n", 1)[-1]
    m = _VALUE.match(line.strip())
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class SparkCounters:
    """Counters of the executions, jobs and stages that ran between
    `mark()` and `since(mark)`, read from one SparkContext's stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._core = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._gw = sc._gateway
        self._seq = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        #: wall time spent reading counters: the tracing's own cost
        self.busy_s = 0.0

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def _stages(self):
        """Stage data, newest first."""
        empty = self._gw.new_array(self._gw.jvm.double, 0)
        return self._seq(self._core.stageList(None, False, False, empty, None))

    def _jobs(self):
        """Job data, newest first."""
        return self._seq(self._core.jobsList(None))

    def mark(self) -> tuple[int, int, int]:
        """(executions so far, newest stage id, newest job id)."""
        t0 = time.perf_counter()
        self._drain()
        stages, jobs = self._stages(), self._jobs()
        mark = (self._sql.executionsCount(),
                stages[0].stageId() if len(stages) else -1,
                jobs[0].jobId() if len(jobs) else -1)
        self.busy_s += time.perf_counter() - t0
        return mark

    def since(self, mark: tuple[int, int, int], wall_s: float,
              plans: bool = True) -> dict:
        """Raw per-layer counters of everything after `mark`; `wall_s`
        is the caller's wall time over the same span. `plans=False`
        skips the SQL plan metrics and reads stage data only."""
        t0 = time.perf_counter()
        self._drain()
        c: dict[str, float] = defaultdict(float)
        if plans:
            for e in self._seq(self._sql.executionsList(mark[0], 1 << 30)):
                self._add_plan(c, e.executionId())
        spans = []
        heaviest = None
        for s in self._stages():
            if s.stageId() <= mark[1]:
                break
            if s.status().toString() != "COMPLETE":
                continue
            c["query.stages"] += 1
            c["query.tasks"] += s.numCompleteTasks()
            c["executor.run_s"] += s.executorRunTime() / 1e3
            c["jvm.gc_s"] += s.jvmGcTime() / 1e3
            c["shuffle.write_bytes"] += s.shuffleWriteBytes()
            c["shuffle.write_s"] += s.shuffleWriteTime() / 1e9
            c["shuffle.read_bytes"] += s.shuffleReadBytes()
            c["shuffle.records"] += s.shuffleWriteRecords()
            c["spill.bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            c["output.bytes"] += s.outputBytes()
            if s.submissionTime().isDefined() and s.completionTime().isDefined():
                spans.append((s.submissionTime().get().getTime() / 1e3,
                              s.completionTime().get().getTime() / 1e3))
            if heaviest is None or s.executorRunTime() > heaviest.executorRunTime():
                heaviest = s
        for j in self._jobs():
            if j.jobId() <= mark[2]:
                break
            c["query.jobs"] += 1
        c["task.skew"] = self._skew(heaviest) if heaviest is not None else 0.0
        c["query.driver_s"] = max(0.0, wall_s - _covered(spans))
        self.busy_s += time.perf_counter() - t0
        return dict(c)

    def _skew(self, stage) -> float:
        """max / p50 task executor time of one stage."""
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = self._core.taskSummary(stage.stageId(), stage.attemptId(), q)
        if not summary.isDefined():
            return 0.0
        run = summary.get().executorRunTime()
        return run.apply(1) / max(run.apply(0), 1.0)

    def _add_plan(self, c: dict, execution_id: int) -> None:
        graph = self._sql.planGraph(execution_id)
        raw = self._sql.executionMetrics(execution_id)
        nodes = {n.id(): n for n in self._seq(graph.allNodes())}
        names = {i: n.name() for i, n in nodes.items()}
        children = defaultdict(list)
        for edge in self._seq(graph.edges()):
            children[edge.toId()].append(edge.fromId())

        def metrics(node_id: int, wanted: set[str]) -> dict[str, float]:
            out = {}
            for m in self._seq(nodes[node_id].metrics()):
                name = m.name()
                if name in wanted:
                    v = raw.get(m.accumulatorId())
                    if v.isDefined():
                        out[name] = parse_metric(v.get(), m.metricType())
            return out

        def reads_files(node_id: int) -> bool:
            return (names[node_id].startswith("Scan parquet")
                    or any(reads_files(k) for k in children[node_id]))

        def rows_out(node_id: int) -> float:
            # nodes without a row counter (Project, ...) pass rows through
            got = metrics(node_id, {_ROWS})
            if _ROWS in got:
                return got[_ROWS]
            return sum(rows_out(k) for k in children[node_id])

        for node_id, name in names.items():
            if name.startswith("Scan "):
                m = metrics(node_id, {_ROWS, "size of files read"})
                c["scan.rows"] += m.get(_ROWS, 0.0)
                c["scan.bytes"] += m.get("size of files read", 0.0)
            elif name.startswith("WholeStageCodegen"):
                c["jvm.pipeline_s"] += metrics(node_id, {"duration"}).get("duration", 0.0)
            elif any(h in name for h in _PYTHON_NODE_HINTS):
                m = metrics(node_id, _PYTHON_METRICS)
                if _TO_PY not in m:
                    continue
                rows_in = sum(rows_out(k) for k in children[node_id])
                run_s = m.get("time to run Python workers", 0.0)
                c["arrow.rows_to_python"] += rows_in
                c["arrow.bytes_to_python"] += m[_TO_PY]
                c["arrow.bytes_from_python"] += m.get(
                    "data returned from Python workers", 0.0)
                c["python.udf_s"] += run_s
                c["python.boot_s"] += m.get("time to start Python workers", 0.0)
                c["python.init_s"] += m.get("time to initialize Python workers", 0.0)
                if name == "MapInPandas" and reads_files(node_id):
                    # a point test over scanned pages; the polygon-cell
                    # explode reads the driver-built polygon table
                    c["mapinpandas.rows_in"] += rows_in
                    c["mapinpandas.rows_out"] += m.get(_ROWS, 0.0)
                elif name.startswith("FlatMapGroupsInPandas"):
                    c["raster.udf_s"] += run_s

    def cached_bytes(self) -> int:
        """Bytes of cached RDD blocks, in memory and on disk, right now."""
        t0 = time.perf_counter()
        out = sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo())
        self.busy_s += time.perf_counter() - t0
        return out


def _covered(spans: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Wrappers:
    """Times calls into public engine functions by replacing them at
    their module attribute for the life of the context. Nested calls
    of the same function (pip_join_broadcast recurses) count once."""

    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.c: dict[str, float] = defaultdict(float)
        self._saved = []
        self._depth = defaultdict(int)
        self._poly_cells = None

    def take(self) -> dict[str, float]:
        out, self.c = dict(self.c), defaultdict(float)
        return out

    def _patch(self, module, name: str, metric: str, after=None) -> None:
        fn = getattr(module, name)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            self._depth[metric] += 1
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                self._depth[metric] -= 1
            if self._depth[metric] == 0:
                self.c[metric] += time.perf_counter() - t0
                if after is not None:
                    after(out)
            return out

        self._saved.append((module, name, fn))
        setattr(module, name, timed)

    def __enter__(self) -> "Wrappers":
        from gdal_spark import checkpoint, plans
        from gdal_spark.operators import knn, pip_join
        from gdal_spark.raster import density, pyramid

        self._patch(pip_join, "pip_join_broadcast", "pip_join.call_s")
        self._patch(pip_join, "hot_cells", "hot_cells.call_s",
                    after=lambda salt: self.c.__setitem__(
                        "hot_cells.salted_cells",
                        self.c["hot_cells.salted_cells"] + len(salt)))
        self._patch(pip_join, "explode_polys_to_cells", "explode.call_s",
                    after=self._count_poly_cells)
        self._patch(density, "density_tiles", "density.call_s")
        self._patch(pyramid, "overview_level", "pyramid.call_s")
        self._patch(knn, "knn_join", "knn.call_s")
        self._patch(plans, "execute_sql", "plans.execute_sql_s")
        self._patch_run_stage(checkpoint)
        return self

    def _count_poly_cells(self, df) -> None:
        # the polygon fixture is fixed, so one cover is kept and counted
        # after the measured window (poly_cells_per_call)
        if self._poly_cells is None:
            self._poly_cells = df
        self.c["explode.calls"] += 1

    def poly_cells_per_call(self) -> int:
        return 0 if self._poly_cells is None else self._poly_cells.count()

    def _patch_run_stage(self, checkpoint) -> None:
        fn = checkpoint.run_stage

        @functools.wraps(fn)
        def run_stage(*args, **kwargs):
            mark = self.counters.mark()
            t0 = time.perf_counter()
            stats = fn(*args, **kwargs)
            wall = time.perf_counter() - t0
            done = self.counters.since(mark, wall, plans=False)
            self.c["checkpoint.run_stage_s"] += wall
            self.c["checkpoint.buckets_written"] += stats["written"]
            self.c["checkpoint.buckets_skipped"] += stats["skipped"]
            self.c["checkpoint.bytes_written"] += done.get("output.bytes", 0.0)
            self.c["cache.bytes"] = max(self.c["cache.bytes"],
                                        self.counters.cached_bytes())
            return stats

        self._saved.append((checkpoint, "run_stage", fn))
        checkpoint.run_stage = run_stage

    def __exit__(self, *exc) -> None:
        for module, name, fn in reversed(self._saved):
            setattr(module, name, fn)
        self._saved.clear()
