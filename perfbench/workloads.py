"""The benchmark's workloads: seeded inputs, set-up, the measured
closed loop and the correctness checks.

Every input is generated here from the run's seed; the engine only
receives the generated rows and query vectors. Ground truth (exact
top-10 by cosine or MaxSim, content-hash ids, hash embeddings) is
computed in numpy from the same generated data, never by the engine.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

K = 10
DIM = 128
TENANTS = 50
# the reported tail percentile of per-call latency (see README.md)
TAIL_PCT = 90

# "full" is what BENCHMARK.json runs; "tiny" is the smoke test's size
SIZES = {
    "full": dict(dense_n=600, dense_threshold=300, k_centroids=8,
                 mv_pages=100, mv_pages_batch=600, page_tokens=16,
                 query_tokens=8, batch=16, rescore=60, bulk=1000, small=50,
                 min_appends=2, ingest_threshold=500),
    "tiny": dict(dense_n=240, dense_threshold=100, k_centroids=4,
                 mv_pages=40, mv_pages_batch=60, page_tokens=4,
                 query_tokens=2, batch=4, rescore=20, bulk=240, small=10,
                 min_appends=1, ingest_threshold=100),
}
HNSW = {"m": 8, "ef_construct": 64}
# user bytes of one ingested document: float32 vector, sha256 hex id, tenant
DOC_BYTES = 4 * DIM + 64 + 4


class OpFailed(Exception):
    """A result of the wrong shape or order, or a read-your-write miss."""


def unit_rows(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def hash_embedding(text: str, dim: int = DIM) -> np.ndarray:
    """The stub embedding the engine's hash embedders compute: dim i
    is md5(text:i)[0:15] as an integer, mod 2000001, minus 10^6,
    over 10^6."""
    out = np.empty(dim)
    for i in range(dim):
        h = int(hashlib.md5(f"{text}:{i}".encode()).hexdigest()[:15], 16)
        out[i] = (h % 2_000_001 - 1_000_000) / 1_000_000.0
    return out


def topk_ids(scores: np.ndarray, ids: list[str], k: int = K) -> list[str]:
    # score descending, id ascending on ties (the engine's order)
    order = sorted(range(len(ids)), key=lambda i: (-scores[i], ids[i]))
    return [ids[i] for i in order[:k]]


def maxsim(pages: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Sum over query tokens of the best dot product with a page token;
    ``pages`` is (P, T, D) and ``q`` (Tq, D), both unit rows."""
    return np.einsum("qd,ptd->pqt", q, pages).max(axis=2).sum(axis=1)


def check_hits(rows: list, k: int, truth_scores: dict[str, float]) -> list[str]:
    """Shape and order checks on one query's result; returns the ids.
    ``truth_scores`` maps every id the query may return (the filtered
    ids, for a filtered query) to its exact score; a returned score
    must match it to the engine's 6-digit rounding."""
    k = min(k, len(truth_scores))
    if len(rows) != k:
        raise OpFailed(f"{len(rows)} rows, expected {k}")
    ids = [r["id"] for r in rows]
    scores = [r["score"] for r in rows]
    if len(set(ids)) != len(ids):
        raise OpFailed("duplicate ids in result")
    for i, s in zip(ids, scores):
        if i not in truth_scores:
            raise OpFailed(f"id {i!r} is not in the collection or the filter")
        if abs(s - truth_scores[i]) > 2e-6 * max(1.0, abs(s)):
            raise OpFailed(f"score {s} for {i!r}, exact {truth_scores[i]}")
    if any(a < b for a, b in zip(scores, scores[1:])):
        raise OpFailed("scores not in descending order")
    return ids


def recall(got: list[str], truth: list[str]) -> float:
    return len(set(got) & set(truth)) / len(truth)


def dir_usage(path: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


# -- generated data ----------------------------------------------------
@dataclass
class DenseData:
    ids: list[str]
    x: np.ndarray          # unit rows, what a cosine collection stores
    raw: np.ndarray
    tenant: np.ndarray
    centers: np.ndarray

    @classmethod
    def make(cls, rng: np.random.Generator, n: int) -> "DenseData":
        centers = rng.normal(size=(16, DIM))
        raw = centers[rng.integers(0, 16, n)] + 0.35 * rng.normal(size=(n, DIM))
        return cls([f"d{i:06d}" for i in range(n)], unit_rows(raw), raw,
                   rng.integers(0, TENANTS, n), centers)

    def query(self, rng: np.random.Generator) -> np.ndarray:
        c = self.centers[rng.integers(0, len(self.centers))]
        return c + 0.35 * rng.normal(size=DIM)

    def rows(self) -> list:
        return [(i, v.tolist(), int(t))
                for i, v, t in zip(self.ids, self.raw, self.tenant)]

    def user_bytes(self) -> int:
        # float32 vector components, id characters, a 4-byte tenant
        return sum(4 * DIM + len(i) + 4 for i in self.ids)


@dataclass
class MultiData:
    ids: list[str]
    pages: np.ndarray      # (P, T, D) unit rows
    raw: np.ndarray

    @classmethod
    def make(cls, rng: np.random.Generator, n: int, tokens: int) -> "MultiData":
        # ColPali-shaped pages: tokens scattered around a page topic,
        # topics around a few themes, so pooled routing is meaningful
        themes = rng.normal(size=(8, DIM))
        topic = themes[rng.integers(0, 8, n)] + 0.6 * rng.normal(size=(n, DIM))
        raw = topic[:, None, :] + 0.8 * rng.normal(size=(n, tokens, DIM))
        return cls([f"m{i:06d}" for i in range(n)], unit_rows(raw), raw)

    def query(self, rng: np.random.Generator, q_tokens: int) -> np.ndarray:
        p = rng.integers(0, len(self.ids))
        picks = rng.choice(self.raw.shape[1], q_tokens, replace=False)
        return self.raw[p, picks] + 0.5 * rng.normal(size=(q_tokens, DIM))

    def rows(self) -> list:
        # nested token vectors, the shape a late-interaction model emits
        return [(i, p.tolist()) for i, p in zip(self.ids, self.raw)]

    def user_bytes(self) -> int:
        return sum(4 * DIM * self.raw.shape[1] + len(i) + 4 for i in self.ids)


def make_corpus(rng: random.Random, n: int, start: int) -> list[tuple[str, int]]:
    """Unique seeded texts with a tenant; the serial keeps texts (and
    so content-hash ids) distinct."""
    words = [f"w{rng.randrange(100_000):05d}" for _ in range(400)]
    return [(" ".join(rng.choice(words) for _ in range(12)) + f" #{start + i}",
             rng.randrange(TENANTS)) for i in range(n)]


# -- run bookkeeping ---------------------------------------------------
@dataclass
class Outcome:
    session_s: float = 0.0
    build_s: float = 0.0
    latencies: list[float] = field(default_factory=list)
    call_kinds: list[str] = field(default_factory=list)
    recalls: list[float] = field(default_factory=list)
    items: int = 0
    items_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    space: tuple[int, int] = (0, 0)
    user_bytes: int = 0
    written_bytes: int = 0
    extra: dict = field(default_factory=dict)


class Runner:
    """Runs one workload in one process: the timed session start and
    cold build of the workload's collections, then the closed measured
    loop."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 work_dir: str, start_session, tracer=None,
                 size: str = "full", corrupt_truth: bool = False):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work_dir = work_dir
        self.start_session = start_session
        self.tracer = tracer
        self.p = SIZES[size]
        self.corrupt_truth = corrupt_truth
        self.spark = None
        self.out = Outcome()

    # -- timing helpers ---------------------------------------------
    def _op(self, name: str, phase: str):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.op(name, phase=phase)

    def attempt(self, name: str, fn, latencies: list | None = None,
                phase: str = "measure"):
        """One closed-loop call: time it, count it, and count it failed
        on any exception (a check raises OpFailed)."""
        self.out.attempted += 1
        t = time.perf_counter()
        try:
            with self._op(name, phase):
                result = fn()
            dt = time.perf_counter() - t
        except Exception as e:  # any failure of the call counts as failed
            self.out.failed += 1
            self.out.failures.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return None
        if latencies is not None:
            latencies.append(dt)
        return result

    def run(self) -> Outcome:
        getattr(self, "run_" + self.workload.replace("-", "_"))()
        return self.out

    def start(self) -> None:
        """Start the Spark session, timed: the first part of setup_s."""
        t = time.perf_counter()
        self.spark = self.start_session()
        if self.tracer is not None:
            self.tracer.set_spark(self.spark)
        self.out.session_s = time.perf_counter() - t

    def timed_build(self, build, name: str):
        """Build the workload's collections in a fresh root, timed. The
        build is the session's first work, so it also starts the Python
        workers and compiles the first code, as set-up does in a fresh
        process."""
        t = time.perf_counter()
        built = build(os.path.join(self.work_dir, name))
        self.out.build_s = time.perf_counter() - t
        return built

    def closed_loop(self, prefix: str, kinds: list[str], rng, make_call,
                    record) -> None:
        """One untimed warm-up block, then whole blocks until
        ``seconds`` have passed; a block calls each kind once, in a
        seeded order. The first call of a kind in a session runs
        cold, up to twice as slow as the next. ``make_call(kind)``
        returns the checked call and its ground truth; ``record(result,
        truth)`` keeps the recall of a timed call. Every call, warm-up
        included, is checked and counted."""
        for kind in rng.permutation(kinds):
            call, _ = make_call(kind)
            self.attempt(f"{prefix}.{kind}", call, phase="warmup")
        order: list[str] = []
        t_end = time.perf_counter() + self.seconds
        # whole blocks only: every kind is called equally often
        while order or time.perf_counter() < t_end:
            if not order:
                order = list(rng.permutation(kinds))
            kind = order.pop()
            call, truth = make_call(kind)
            got = self.attempt(f"{prefix}.{kind}", call, self.out.latencies)
            if got is not None:
                self.out.call_kinds.append(kind)
                record(got, truth)

    def upsert_frame(self, coll, rows: list, ddl: str, phase: str,
                     nbytes: int) -> None:
        with self._op("upsert", phase):
            coll.upsert(self.spark, self.spark.createDataFrame(rows, ddl))
        self.out.written_bytes += nbytes

    # -- search collections -----------------------------------------
    def search_setups(self, mv_pages: int):
        """Generate both corpora, start the session and build the dense
        and multivector collections; returns the data and the
        collections."""
        from image_indexing_and_retrival_with_qdrant_spark.catalog import (
            create_collection)

        rng = np.random.default_rng(self.seed)
        dense = DenseData.make(rng, self.p["dense_n"])
        multi = MultiData.make(rng, mv_pages, self.p["page_tokens"])
        dense_rows, multi_rows = dense.rows(), multi.rows()

        def build(root):
            with self._op("create_collection", "setup"):
                dc = create_collection(
                    root, "dense", dim=DIM, metric="cosine",
                    indexing_threshold=self.p["dense_threshold"],
                    k_centroids=self.p["k_centroids"], hnsw_config=HNSW)
            self.upsert_frame(dc, dense_rows,
                              "id string, embedding array<double>, tenant int",
                              "setup", dense.user_bytes())
            with self._op("create_collection", "setup"):
                mc = create_collection(root, "pages", dim=DIM, multivector=True)
            self.upsert_frame(mc, multi_rows,
                              "id string, embedding array<array<double>>",
                              "setup", multi.user_bytes())
            return root, dc, mc

        self.start()
        root, dc, mc = self.timed_build(build, "search")
        self.out.space = dir_usage(root)
        self.out.user_bytes = dense.user_bytes() + multi.user_bytes()
        return dense, multi, dc, mc

    def _dense_truth(self, dense: DenseData, q: np.ndarray, mask=None):
        s = dense.x @ unit_rows(q)
        if self.corrupt_truth:
            s = -s
        idx = range(len(dense.ids)) if mask is None else np.flatnonzero(mask)
        scores = {dense.ids[i]: float(s[i]) for i in idx}
        ids = list(scores)
        return scores, topk_ids(np.array([scores[i] for i in ids]), ids)

    def _mv_truth(self, multi: MultiData, q: np.ndarray):
        s = maxsim(multi.pages, unit_rows(q))
        if self.corrupt_truth:
            s = -s
        return dict(zip(multi.ids, map(float, s))), topk_ids(s, multi.ids)

    def run_search_single(self) -> None:
        from image_indexing_and_retrival_with_qdrant_spark.filters import (
            FieldCondition)

        dense, multi, dc, mc = self.search_setups(self.p["mv_pages"])
        rng = np.random.default_rng(self.seed + 1)
        kinds = ["dense", "dense_selective", "dense_broad",
                 "dense_recall90", "multivector"]
        spark = self.spark

        def make_call(kind):
            if kind == "multivector":
                q = multi.query(rng, self.p["query_tokens"])
                scores, truth = self._mv_truth(multi, q)

                def call():
                    rows = mc.search(spark, q.tolist(), k=K).collect()
                    return check_hits(rows, K, scores)
                return call, truth
            q = dense.query(rng)
            kw, mask = {}, None
            if kind == "dense_selective":
                t = int(rng.integers(0, TENANTS))
                kw["query_filter"] = FieldCondition(key="tenant", match=t)
                mask = dense.tenant == t
            elif kind == "dense_broad":
                kw["query_filter"] = FieldCondition(
                    key="tenant", range={"lt": 40})
                mask = dense.tenant < 40
            elif kind == "dense_recall90":
                kw["recall_target"] = 0.9
            scores, truth = self._dense_truth(dense, q, mask)

            def call():
                rows = dc.search(spark, q.tolist(), k=K, **kw).collect()
                return check_hits(rows, K, scores)
            return call, truth

        self.closed_loop("search", kinds, rng, make_call,
                         lambda got, truth: self.out.recalls.append(
                             recall(got, truth)))
        lat = self.out.latencies
        self.out.items = len(lat)
        self.out.items_s = sum(lat)

    def run_search_batch(self) -> None:
        dense, multi, dc, mc = self.search_setups(self.p["mv_pages_batch"])
        rng = np.random.default_rng(self.seed + 2)
        kinds = ["dense", "multivector_exact", "multivector_rescore"]
        b = self.p["batch"]
        spark = self.spark

        def make_call(kind):
            if kind == "dense":
                qs = [dense.query(rng) for _ in range(b)]
                truths = [self._dense_truth(dense, q) for q in qs]
                coll, kw = dc, {}
            else:
                qs = [multi.query(rng, self.p["query_tokens"]) for _ in range(b)]
                truths = [self._mv_truth(multi, q) for q in qs]
                coll = mc
                kw = ({"rescore": self.p["rescore"]}
                      if kind == "multivector_rescore" else {})

            def call():
                rows = coll.search_batch(spark, [q.tolist() for q in qs],
                                         k=K, **kw).collect()
                per_q: dict[int, list] = {}
                for r in rows:
                    per_q.setdefault(r["query_idx"], []).append(r)
                if sorted(per_q) != list(range(len(qs))):
                    raise OpFailed(f"query_idx set {sorted(per_q)}")
                if [r["query_idx"] for r in rows] != sorted(
                        r["query_idx"] for r in rows):
                    raise OpFailed("rows not grouped by query_idx")
                return [check_hits(per_q[i], K, truths[i][0])
                        for i in range(len(qs))]
            return call, truths

        self.closed_loop("search_batch", kinds, rng, make_call,
                         lambda got, truths: self.out.recalls.extend(
                             recall(g, t[1]) for g, t in zip(got, truths)))
        lat = self.out.latencies
        self.out.items = b * len(lat)
        self.out.items_s = sum(lat)

    # -- ingest ------------------------------------------------------
    def run_ingest(self) -> None:
        from pyspark.sql import functions as F

        from image_indexing_and_retrival_with_qdrant_spark.catalog import (
            create_collection)
        from image_indexing_and_retrival_with_qdrant_spark.sources.embedder import (
            PandasHashEmbedder)
        from image_indexing_and_retrival_with_qdrant_spark.sources.ingest import (
            build_points)

        p = self.p
        rnd = random.Random(self.seed)
        bulk = make_corpus(rnd, p["bulk"], 0)
        embedder = PandasHashEmbedder(dim=DIM)
        ids: list[str] = []
        vecs: list[np.ndarray] = []

        def write(coll, docs: list[tuple[str, int]]):
            spark = self.spark
            df = spark.createDataFrame(docs, "text string, tenant int")
            points = build_points(embedder.embed(df), id_key=F.col("text"),
                                  payload={"tenant": F.col("tenant")})
            coll.upsert(spark, points)
            self.out.written_bytes += DOC_BYTES * len(docs)
            return True

        def remember(docs):
            for text, _ in docs:
                ids.append(hashlib.sha256(text.encode()).hexdigest())
                vecs.append(unit_rows(hash_embedding(text)))
            self.out.user_bytes += DOC_BYTES * len(docs)

        def build(root):
            # create the collection and bulk-load it past its indexing
            # threshold, which builds the IVF, SQ and HNSW layouts
            with self._op("create_collection", "setup"):
                coll = create_collection(
                    root, "docs", dim=DIM, metric="cosine",
                    indexing_threshold=p["ingest_threshold"],
                    k_centroids=p["k_centroids"], quantization="sq",
                    hnsw_config=HNSW)
            t = time.perf_counter()
            with self._op("upsert", "setup"):
                write(coll, bulk)
            self.out.extra["bulk_points_per_s"] = (
                len(bulk) / (time.perf_counter() - t))
            return coll

        self.start()
        coll = self.timed_build(build, "docs")
        spark = self.spark
        remember(bulk)
        serial = len(bulk)
        search_lat: list[float] = []
        cycles = 0
        t0 = time.perf_counter()
        t_end = t0 + self.seconds
        while cycles < p["min_appends"] or time.perf_counter() < t_end:
            cycles += 1
            docs = make_corpus(rnd, p["small"], serial)
            serial += len(docs)
            remember(docs)
            if self.attempt("ingest.upsert", lambda: write(coll, docs),
                            self.out.latencies) is None:
                continue
            # read-your-write: a just-written point must rank first
            j = len(ids) - 1 - int(rnd.randrange(len(docs)))
            x = np.array(vecs)
            s = x @ vecs[j]
            if self.corrupt_truth:
                s = -s
            scores = dict(zip(ids, map(float, s)))
            truth = topk_ids(s, ids)

            def ryw(j=j, scores=scores):
                rows = coll.search(spark, vecs[j].tolist(), k=K).collect()
                got = check_hits(rows, K, scores)
                if got[0] != ids[j]:
                    raise OpFailed(f"read-your-write miss: {got[0]} "
                                   f"ranked first, wrote {ids[j]}")
                return got
            got = self.attempt("ingest.search", ryw, search_lat)
            if got is not None:
                self.out.recalls.append(recall(got, truth))
        # throughput of the whole append-and-verify loop
        self.out.items = p["small"] * len(self.out.latencies)
        self.out.items_s = time.perf_counter() - t0
        self.out.space = dir_usage(os.path.join(self.work_dir, "docs"))
        self.out.extra["search_p50_s"] = (statistics.median(search_lat)
                                          if search_lat else None)


def percentile(xs: list[float], pct: float) -> float:
    return float(np.percentile(np.array(xs), pct))
