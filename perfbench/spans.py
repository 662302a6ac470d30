"""Span tracer for the benchmark's traced runs.

Nothing in the engine changes: the tracer replaces module and class
attributes at run time with wrappers that record a span around each
call, and it reads Spark's in-process status store
(``sc._jsc.sc().statusStore()``, available with ``spark.ui.enabled``
off) and the JVM's ``CodegenMetrics`` counters when each top-level
span ends.

Jobs are attributed to the top-level span (an *op*) whose time window
holds their submission time. The benchmark is a closed loop with one
client, so at most one op is open at a time; job groups are not used
because the engine's ``_concurrent_branches`` pool threads do not
inherit them. The store keeps only the last 1,000 jobs and stages, so
it is read at every op's exit.
"""

from __future__ import annotations

import importlib
import sys
import threading
import time
from contextlib import contextmanager

PKG = "image_indexing_and_retrival_with_qdrant_spark"

# (module, attribute or Class.method, layer name). The layer name is
# the module path below the package, which is what per-layer metric
# names start with.
TARGETS = [
    ("catalog", "create_collection", "catalog"),
    ("catalog", "Collection.upsert", "catalog"),
    ("catalog", "Collection.search", "catalog"),
    ("catalog", "Collection.search_batch", "catalog"),
    ("routing", "route_for_recall", "routing"),
    ("filters", "as_predicate", "filters"),
    ("functions.localframe", "local_literal_df", "functions.localframe"),
    ("operators.knn", "dense_knn", "operators.knn"),
    ("operators.knn", "dense_knn_batch", "operators.knn"),
    ("operators.maxsim", "maxsim_knn", "operators.maxsim"),
    ("operators.maxsim", "maxsim_knn_batch", "operators.maxsim"),
    ("operators.hnsw", "hnsw_layout", "operators.hnsw"),
    ("operators.hnsw", "hnsw_layout_insert", "operators.hnsw"),
    ("operators.hnsw", "hnsw_layout_search", "operators.hnsw"),
    ("operators.hnsw", "hnsw_layout_search_batch", "operators.hnsw"),
    ("operators.ann", "kmeans_np", "operators.ann"),
    ("operators.ann", "assign_centroids", "operators.ann"),
    ("operators.sq", "sq_train", "operators.sq"),
    ("operators.sq", "sq_encode", "operators.sq"),
    ("operators.sq", "sq_search", "operators.sq"),
    ("operators.topk", "global_topk", "operators.topk"),
    ("operators.topk", "grouped_topk", "operators.topk"),
    ("sources.embedder", "PandasHashEmbedder.embed", "sources.embedder"),
    ("sources.ingest", "build_points", "sources.ingest"),
]

# catalog entry points whose ops carry Spark job numbers
CATALOG_OPS = ("create_collection", "upsert", "search", "search_batch")
SPARK_FIELDS = ("jobs", "tasks", "job_union_s", "driver_gap_s",
                "executor_cpu_s", "input_bytes", "shuffle_bytes",
                "output_bytes", "codegen_compiles")


def span_name(layer: str, attr: str) -> str:
    return f"{layer}.{attr.rsplit('.', 1)[-1]}"


def all_span_names() -> list[str]:
    return [span_name(layer, attr) for _, attr, layer in TARGETS]


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs",
                 "children")

    def __init__(self, sid: int, name: str, parent: int | None,
                 start: float):
        self.id = sid
        self.name = name
        self.parent = parent
        self.start = start
        self.end = None
        self.attrs: dict = {}
        self.children: list[int] = []

    def as_dict(self, t0: float) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "start": round(self.start - t0, 6),
                "end": round(self.end - t0, 6), **self.attrs}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SparkStatus:
    """Reads finished jobs and stages of one SparkContext by id."""

    def __init__(self, spark):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._jvm = spark._jvm
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        self._next_job = 0
        self._seen_stages: set[int] = set()
        self._compiles = self.compiles()

    def compiles(self) -> int:
        cm = self._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(cm.METRIC_COMPILATION_TIME().getCount())

    def compile_mean_s(self) -> float:
        cm = self._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return cm.METRIC_COMPILATION_TIME().getSnapshot().getMean() / 1e3

    def new_jobs(self, now: float) -> tuple[list[dict], int]:
        """Jobs submitted since the last call, and the codegen compiles
        counted since then."""
        jobs = []
        while True:
            try:
                j = self._store.job(self._next_job)
            except Exception:  # py4j NoSuchElementException: no such job yet
                break
            self._next_job += 1
            sub = j.submissionTime()
            done = j.completionTime()
            job = {"job": int(j.jobId()),
                   "start": sub.get().getTime() / 1e3 if sub.isDefined() else now,
                   "end": done.get().getTime() / 1e3 if done.isDefined() else now,
                   "status": j.status().toString(),
                   "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
                   "gc_s": 0.0, "input_bytes": 0, "shuffle_read_bytes": 0,
                   "shuffle_write_bytes": 0, "output_bytes": 0}
            for sid in self._conv.asJava(j.stageIds()):
                sid = int(sid)
                if sid in self._seen_stages:
                    continue  # a reused shuffle stage belongs to its first job
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # stage evicted or never attempted
                    continue
                if st.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                self._seen_stages.add(sid)
                job["tasks"] += int(st.numTasks())
                job["executor_run_s"] += st.executorRunTime() / 1e3
                job["executor_cpu_s"] += st.executorCpuTime() / 1e9
                job["gc_s"] += st.jvmGcTime() / 1e3
                job["input_bytes"] += int(st.inputBytes())
                job["shuffle_read_bytes"] += int(st.shuffleReadBytes())
                job["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
                job["output_bytes"] += int(st.outputBytes())
            jobs.append(job)
        c = self.compiles()
        delta, self._compiles = c - self._compiles, c
        return jobs, delta


class Tracer:
    """Records spans in memory; ``op()`` opens a top-level span."""

    def __init__(self):
        self.spans: list[Span] = []
        self.jobs: list[dict] = []
        self.t0 = time.time()
        self.status: SparkStatus | None = None
        self.overhead_s = 0.0  # time spent in status-store reads
        self._local = threading.local()
        self._root: Span | None = None
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str) -> Span:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            # a span in an engine pool thread hangs off the open op
            parent = self._root
        with self._lock:
            s = Span(len(self.spans), name,
                     None if parent is None else parent.id, time.time())
            self.spans.append(s)
            if parent is not None:
                parent.children.append(s.id)
        stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.time()
        self._stack().pop()

    @contextmanager
    def op(self, name: str, **attrs):
        """A top-level span: one benchmark step, including the
        materialisation of any lazy result. Spark jobs submitted while
        it is open are attributed to it."""
        if self._root is not None or self._stack():
            raise RuntimeError(f"op {name!r} opened inside another op")
        s = self._open(name)
        s.attrs.update(attrs)
        self._root = s
        try:
            yield s
        finally:
            self._close(s)
            self._root = None
            self._read_status(s)

    def set_spark(self, spark) -> None:
        """Bind to a (new) SparkContext; job ids restart at 0."""
        self.status = SparkStatus(spark)

    def _read_status(self, root: Span) -> None:
        if self.status is None:
            return
        t = time.perf_counter()
        jobs, compiles = self.status.new_jobs(root.end)
        for j in jobs:
            j["op"] = root.id if j["start"] >= root.start - 0.05 else None
            self.jobs.append(j)
        mine = [j for j in jobs if j["op"] == root.id]
        union = _union([(max(j["start"], root.start), min(j["end"], root.end))
                        for j in mine if j["end"] > j["start"]])
        root.attrs.update(
            jobs=len(mine), tasks=sum(j["tasks"] for j in mine),
            job_union_s=union,
            driver_gap_s=max(root.end - root.start - union, 0.0),
            executor_cpu_s=sum(j["executor_cpu_s"] for j in mine),
            input_bytes=sum(j["input_bytes"] for j in mine),
            shuffle_bytes=sum(j["shuffle_read_bytes"]
                              + j["shuffle_write_bytes"] for j in mine),
            output_bytes=sum(j["output_bytes"] for j in mine),
            codegen_compiles=compiles)
        self.overhead_s += time.perf_counter() - t

    # -- patching ------------------------------------------------------
    def wrap(self, name: str, fn, count_rows: bool = False):
        tracer = self

        def traced(*args, **kwargs):
            s = tracer._open(name)
            if count_rows:
                rows = args[1] if len(args) > 1 else kwargs.get("rows", ())
                s.attrs["rows"] = len(rows)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(s)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        traced.__doc__ = getattr(fn, "__doc__", None)
        return traced

    def install(self) -> None:
        """Wrap every function in TARGETS. A module-level function is
        replaced in every loaded engine module that bound it at import
        (``catalog`` imports ``as_predicate`` and ``local_literal_df``
        by name); lazily imported operators read the patched module
        attribute at call time."""
        mods = {m: importlib.import_module(f"{PKG}.{m}")
                for m in {t[0] for t in TARGETS}}
        for mod_name, attr, layer in TARGETS:
            name = span_name(layer, attr)
            mod = mods[mod_name]
            if "." in attr:
                cls_name, meth = attr.split(".")
                owner = getattr(mod, cls_name)
                orig = owner.__dict__[meth]
                setattr(owner, meth, self.wrap(name, orig))
                continue
            orig = getattr(mod, attr)
            w = self.wrap(name, orig,
                          count_rows=(attr == "local_literal_df"))
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "").startswith(PKG)
                        and getattr(m, attr, None) is orig):
                    setattr(m, attr, w)

    # -- results -------------------------------------------------------
    def self_time(self, s: Span) -> float:
        kids = [(self.spans[c].start, self.spans[c].end) for c in s.children
                if self.spans[c].end is not None]
        return max((s.end - s.start) - _union(kids), 0.0)

    def first_catalog_call(self, root: Span) -> str | None:
        for c in root.children:
            name = self.spans[c].name
            if name.startswith("catalog."):
                return name.split(".", 1)[1]
        return None

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer numbers over every closed span and op."""
        out: dict[str, float] = {}
        for n in all_span_names():
            out[f"{n}.calls"] = 0
            out[f"{n}.self_s"] = 0.0
        for f in CATALOG_OPS:
            for k in SPARK_FIELDS:
                out[f"catalog.{f}.{k}"] = 0
        out["functions.localframe.local_literal_df.rows"] = 0
        for s in self.spans:
            if s.end is None:
                continue
            if s.parent is None:
                f = self.first_catalog_call(s)
                if f in CATALOG_OPS:
                    for k in SPARK_FIELDS:
                        out[f"catalog.{f}.{k}"] += s.attrs.get(k, 0)
                continue
            if f"{s.name}.calls" in out:
                out[f"{s.name}.calls"] += 1
                out[f"{s.name}.self_s"] += self.self_time(s)
                if "rows" in s.attrs:
                    out[f"{s.name}.rows"] += s.attrs["rows"]
        return out

    def spark_totals(self, phase: str) -> dict[str, float]:
        """Spark numbers summed over the ops of one phase."""
        ops = [s for s in self.spans if s.parent is None and s.end
               and s.attrs.get("phase") == phase]
        wall = sum(s.end - s.start for s in ops)
        union = sum(s.attrs.get("job_union_s", 0.0) for s in ops)
        ids = {s.id for s in ops}
        j = [x for x in self.jobs if x["op"] in ids]
        return {
            "spark.jobs": len(j),
            "spark.tasks": sum(x["tasks"] for x in j),
            "spark.executor_run_s": sum(x["executor_run_s"] for x in j),
            "spark.executor_cpu_s": sum(x["executor_cpu_s"] for x in j),
            "spark.gc_s": sum(x["gc_s"] for x in j),
            "spark.input_bytes": sum(x["input_bytes"] for x in j),
            "spark.shuffle_read_bytes": sum(x["shuffle_read_bytes"] for x in j),
            "spark.shuffle_write_bytes": sum(x["shuffle_write_bytes"]
                                             for x in j),
            "spark.output_bytes": sum(x["output_bytes"] for x in j),
            "spark.codegen_compiles": sum(s.attrs.get("codegen_compiles", 0)
                                          for s in ops),
            "spark.job_union_s": union,
            "spark.driver_gap_s": max(wall - union, 0.0),
            "spark.op_wall_s": wall,
        }

    def tree(self) -> dict:
        """The span tree as JSON-ready lists; Spark jobs are leaves
        under the op they were attributed to."""
        spans = [s.as_dict(self.t0) for s in self.spans if s.end is not None]
        jobs = [{**j, "start": round(j["start"] - self.t0, 6),
                 "end": round(j["end"] - self.t0, 6)} for j in self.jobs]
        return {"t0_epoch_s": self.t0, "spans": spans, "jobs": jobs}
