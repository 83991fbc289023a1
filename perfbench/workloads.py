"""The benchmark's workloads: one closed-loop client each.

Every workload drives the engine only through its public surface: the
HTTP server (``http_server.serve``) in the untraced pass, and the same
``api.VectorSearchEngine`` calls in the traced pass, where job groups must
be set in the calling thread. A workload yields *ops*; each op is run by
``run_http`` (untraced) or ``run_traced`` and returns an :class:`OpResult`.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import threading
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from ydb_vector_search_simple_api_spark import api, http_server
from ydb_vector_search_simple_api_spark.config import SearchConfig
from ydb_vector_search_simple_api_spark.operators import bq as bq_mod
from ydb_vector_search_simple_api_spark.operators import graphann as gann_mod
from ydb_vector_search_simple_api_spark.operators import index as ivf_mod
from ydb_vector_search_simple_api_spark.operators import opq as opq_mod
from ydb_vector_search_simple_api_spark.operators import sq as sq_mod
from ydb_vector_search_simple_api_spark.operators import tombstones
from ydb_vector_search_simple_api_spark.operators import tree as tree_mod
from ydb_vector_search_simple_api_spark.sources.store import load_embeddings

import data as D

K = 10
SHAPES = ("exact", "ivf", "tree", "bq", "sq", "opq", "graph")
#: search width per ANN shape: clusters read (ivf), leaves (tree),
#: rerank shortlist (bq/sq/opq) or beam (graph)
WIDTHS = {"ivf": 4, "tree": 4, "bq": 100, "sq": 100, "opq": 100, "graph": 32}
IVF_CELLS = 16


@dataclass
class Op:
    kind: str  # "read", "upsert", "delete" or "compact"
    shape: str = "exact"
    body: dict | None = None  # read: the POST /search body
    check: object = None  # read: callable(results) -> (ok, recall)
    rows: int = 0  # write ops: rows touched
    arg: object = None  # upsert: batch number; ingest read: self-query id
    phase: str = ""  # ingest reads: "pre_compact" / "post_compact"
    exact: bool = False  # read: the answer is the exact top-k by construction
    repeat: bool = False  # read: the engine has answered this query before
    round: int = 0  # position in the timed sequence, for the drift ratio


@dataclass
class OpResult:
    op: Op
    wall_s: float
    ok: bool
    server_s: float | None = None  # search_time_ms / 1e3 from the body
    recall: float | None = None
    req: str | None = None  # traced pass: request id


@dataclass
class Ctx:
    spark: object
    data_dir: str
    work: str
    corpus: D.Corpus
    seed: int
    setup: dict = field(default_factory=dict)  # setup.* timings


class Server:
    """``http_server.serve`` on a free port, on a background thread."""

    def __init__(self, engine: api.VectorSearchEngine) -> None:
        self.httpd = http_server.serve(engine, port=0)
        self.url = f"http://127.0.0.1:{self.httpd.server_address[1]}"
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    def post(self, path: str, body: dict) -> tuple[dict | None, float]:
        raw = json.dumps(body).encode()
        req = urllib.request.Request(
            self.url + path, data=raw, headers={"Content-Type": "application/json"}
        )
        t0 = time.perf_counter()
        try:
            with urllib.request.urlopen(req, timeout=120) as resp:
                payload = json.loads(resp.read())
        except urllib.error.HTTPError:
            payload = None
        return payload, time.perf_counter() - t0

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join(timeout=30)


# ------------------------------------------------------------ checks


def _rows_ok(corpus: D.Corpus, results: list[dict]) -> bool:
    """Metadata of every row is the document's, order is (score desc, id)."""
    for r in results:
        i = r["id"]
        if r["vendor"] != corpus.langs[i] or r["title"] != corpus.sources[i]:
            return False
    keys = [(-r["score"], r["id"]) for r in results]
    return keys == sorted(keys) and len({r["id"] for r in results}) == len(results)


def exact_check(corpus, truth: D.Truth, q, vendor: str | None):
    """Exact (optionally vendor-filtered) top-k must equal brute force."""
    mask = None if vendor is None else corpus.langs[truth.ids] == vendor

    def check(results):
        ids = [r["id"] for r in results]
        ok = _rows_ok(corpus, results) and truth.matches(q, ids, K, mask)
        if vendor is not None:
            ok = ok and all(r["vendor"] == vendor for r in results)
        return ok, 1.0 if ok else truth.recall(q, ids, K)

    return check


def ann_check(corpus, truth: D.Truth, q, must_top: int | None = None, banned=frozenset()):
    """ANN results: k rows, each score the true cosine of its id (exact
    rerank), recall against brute force; optional rank-1 and deleted-id
    conditions for the ingest workload."""

    def check(results):
        ids = [r["id"] for r in results]
        ok = len(results) == K and _rows_ok(corpus, results)
        if ok:
            pos = {int(i): j for j, i in enumerate(truth.ids)}
            s = truth.scores(q)
            ok = all(
                r["id"] in pos and abs(s[pos[r["id"]]] - r["score"]) <= 1e-9
                for r in results
            )
        if must_top is not None:
            ok = ok and bool(ids) and ids[0] == must_top
        ok = ok and not (set(ids) & banned)
        return ok, truth.recall(q, ids, K)

    return check


# ------------------------------------------------------------ workloads


class ServeWorkload:
    """Closed-loop ``POST /search`` over one or more engines."""

    name = ""
    #: True: the timed pass is a fixed op sequence, not a time window
    op_bounded = False

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.truth = D.Truth(np.arange(D.N_VECS), ctx.corpus.vecs32)
        self.engines = self.build_engines()
        self.servers = {s: Server(e) for s, e in self.engines.items()}

    def build_engines(self) -> dict[str, api.VectorSearchEngine]:
        raise NotImplementedError

    def warmup_ops(self) -> list[list[Op]]:
        raise NotImplementedError

    def timed_ops(self):
        """Rounds (lists of ops), seeded; the traced pass replays the
        prefix the untraced pass ran. A timed window ends only between
        rounds, so every shape in a round is sampled equally."""
        raise NotImplementedError

    def prepare_pass(self) -> None:
        pass

    def run_http(self, op: Op) -> OpResult:
        payload, wall = self.servers[op.shape].post("/search", op.body)
        if payload is None:
            return OpResult(op, wall, False)
        ok, recall = op.check(payload["results"])
        return OpResult(op, wall, ok, payload["search_time_ms"] / 1e3, recall)

    def run_traced(self, op: Op, tracer, req: str) -> OpResult:
        engine = self.engines[op.shape]
        b = op.body
        t0 = time.perf_counter()
        with tracer.span(req, "request"), tracer.job_group(req):
            with tracer.span(req, "api.search_df", "request"):
                df = engine.search_df(
                    b["embedding"], b["k"], b.get("filter"),
                    b.get("index_tree_search_top_size"),
                )
            with tracer.span(req, "api.collect", "request"):
                rows = df.collect()
            results = [r.asDict() for r in rows]
        wall = time.perf_counter() - t0
        tracer.record_phases(req, df)
        ok, recall = op.check(results)
        return OpResult(op, wall, ok, None, recall, req)

    def extra_metrics(self, results: list[OpResult]) -> dict:
        return {}

    def missing(self, results: list[OpResult]) -> list[str]:
        """Request kinds the timed pass must contain but does not; each
        one counts as a failed check."""
        return []

    def close(self) -> None:
        for s in self.servers.values():
            s.close()


class Serve(ServeWorkload):
    """Seven engines: the default one (exact, no index) and one per ANN
    shape. A round sends 12 requests: six to the exact engine, each
    followed by one to a different ANN engine, so half the requests are
    exact and half ANN whatever the number of rounds.

    Exact queries are all distinct; the first exact request of every
    round carries a ``vendor`` filter, which takes the semi-join path. In
    every round two ANN engines, rotating, get a query they answered
    earlier in the run (warm-up included), chosen uniformly; the other
    four get fresh queries. So exactly 1/3 of ANN requests repeat."""

    name = "serve"
    #: 48 requests: past the steep part of the JIT drift; a longer
    #: warm-up does not fit the run-time budget
    n_warmup_rounds = 4
    repeats_per_round = 2

    def build_engines(self):
        ctx, spark = self.ctx, self.ctx.spark
        embs = load_embeddings(spark, ctx.data_dir).select(
            F.col("vec_id").alias("id"), "embedding"
        )
        builders = {
            "ivf": lambda p: ivf_mod.build_ivf_index(spark, embs, p, n_clusters=IVF_CELLS),
            "tree": lambda p: tree_mod.build_kmeans_tree(spark, embs, p, n_l1=4, fanout=4),
            "bq": lambda p: bq_mod.build_bq_index(spark, embs, p),
            "sq": lambda p: sq_mod.build_sq_index(spark, embs, p),
            "opq": lambda p: opq_mod.build_opq_index(
                spark, embs, p, m=8, nbits=8, normalize=True
            ),
            "graph": lambda p: gann_mod.build_knn_graph(spark, embs, p, m=8),
        }
        engines = {"exact": api.VectorSearchEngine(spark, ctx.data_dir)}
        cfg = SearchConfig(index_enabled=True)

        def timed_build(shape):
            t0 = time.perf_counter()
            index = builders[shape](os.path.join(ctx.work, "index", shape))
            ctx.setup[f"setup.index_build.{shape}_s"] = time.perf_counter() - t0
            return index

        # concurrent builds leave the set-up time to a warm-up long enough
        # to get past the JIT drift
        with ThreadPoolExecutor(len(builders)) as pool:
            indexes = dict(zip(builders, pool.map(timed_build, builders)))
        for shape, index in indexes.items():
            engines[shape] = api.VectorSearchEngine(spark, ctx.data_dir, config=cfg, index=index)
        # warm-up rounds are fixed up front: the timed sequence repeats
        # their queries, in both passes
        self.warm_history = {s: [] for s in SHAPES[1:]}
        gen = self._rounds(np.random.default_rng([ctx.seed, 2]), self.warm_history, False)
        self.warm_rounds = [next(gen) for _ in range(self.n_warmup_rounds)]
        return engines

    def _rounds(self, rng, history: dict[str, list], repeats: bool):
        """Rounds of ops; fresh ANN queries are appended to ``history``,
        per engine, and repeats are drawn from it."""
        corpus, truth, ann = self.ctx.corpus, self.truth, SHAPES[1:]
        r = 0
        while True:
            again = set()
            if repeats:
                first = self.repeats_per_round * r
                again = {ann[(first + j) % len(ann)] for j in range(self.repeats_per_round)}
            ops = []
            for e, s in enumerate(ann):
                q = corpus.perturbed_query(rng)
                body = {"embedding": q, "k": K}
                vendor = None
                if e == 0:
                    vendor = str(D.LANGS[rng.integers(len(D.LANGS))])
                    body["filter"] = {"vendor": vendor}
                check = exact_check(corpus, truth, q, vendor)
                ops.append(Op("read", "exact", body, check, exact=True, round=r))
                if s in again:
                    q = history[s][int(rng.integers(len(history[s])))]
                else:
                    q = corpus.perturbed_query(rng)
                    history[s].append(q)
                body = {"embedding": q, "k": K, "index_tree_search_top_size": WIDTHS[s]}
                check = ann_check(corpus, truth, q)
                ops.append(Op("read", s, body, check, repeat=s in again, round=r))
            yield ops
            r += 1

    def warmup_ops(self):
        return self.warm_rounds

    def timed_ops(self):
        history = {s: list(qs) for s, qs in self.warm_history.items()}
        return self._rounds(np.random.default_rng([self.ctx.seed, 1]), history, True)

    def missing(self, results):
        kinds = {
            "filtered exact request": lambda op: op.body.get("filter") is not None,
            "repeated ANN request": lambda op: op.repeat,
        }
        kinds.update({f"{s} request": (lambda op, s=s: op.shape == s) for s in SHAPES})
        return [name for name, has in kinds.items() if not any(has(r.op) for r in results)]


class IngestIvf(ServeWorkload):
    """Writes beside reads on a fresh IVF index: upsert vectors for
    documents 2000..4999 in fixed batches, tombstone a few ids every
    other batch, compact once, and read after every batch. Half the
    reads are ANN (width 4, the first a self-query of the batch), half
    probe every cell, so their answer must be the exact top-k of the
    live set. Bounded by operation count, so every pass ends in the same
    index state."""

    name = "ingest_ivf"
    op_bounded = True
    batch_rows = 750
    #: reads after each timed batch, half ANN: a run's ANN and exact
    #: medians each rest on 24 reads, 8 per index state
    reads_per_batch = 16
    warmup_reads = 8
    delete_after = (1, 3)
    compact_after = 2
    n_deletes = 5

    def build_engines(self):
        ctx, spark = self.ctx, self.ctx.spark
        embs = load_embeddings(spark, ctx.data_dir).select(
            F.col("vec_id").alias("id"), "embedding"
        )
        t0 = time.perf_counter()
        self.pristine = ivf_mod.build_ivf_index(
            spark, embs, os.path.join(ctx.work, "index", "ivf_pristine"), n_clusters=IVF_CELLS
        )
        ctx.setup["setup.index_build.ivf_s"] = time.perf_counter() - t0
        rng = np.random.default_rng([ctx.seed, 3])
        n_new = D.N_DOCS - D.N_VECS
        self.new_ids = np.arange(D.N_VECS, D.N_DOCS)
        self.new_vecs = ctx.corpus.new_vectors(n_new, rng)
        self.n_batches = n_new // self.batch_rows
        self.passes = 0
        self.engine = api.VectorSearchEngine(
            spark, ctx.data_dir, config=SearchConfig(index_enabled=True)
        )
        return {"ivf": self.engine}

    def prepare_pass(self) -> None:
        """Fresh copy of the just-built index: each pass starts from the
        same state and ends in the same state."""
        self.passes += 1
        self.root = os.path.join(self.ctx.work, f"ingest{self.passes}")
        gen0 = os.path.join(self.root, "gen0")
        shutil.copytree(self.pristine.path, gen0)
        tombstones.set_serving_generation(self.root, gen0)
        self.engine.index = dataclasses.replace(self.pristine, path=gen0)
        self.live = {int(i): v for i, v in enumerate(self.ctx.corpus.vecs32)}
        self.deleted: set[int] = set()
        self.rng = np.random.default_rng([self.ctx.seed, 5])
        self._reset_truth()

    def _reset_truth(self) -> None:
        ids = np.fromiter(self.live.keys(), dtype=np.int64)
        self.truth = D.Truth(ids, np.stack([self.live[int(i)] for i in ids]))

    def _batch(self, b: int):
        sl = slice(b * self.batch_rows, (b + 1) * self.batch_rows)
        return self.new_ids[sl], self.new_vecs[sl]

    def _reads(self, b: int, self_id: int, phase: str, n: int) -> list[Op]:
        """A self-query of ``self_id``, then perturbed queries, alternately
        exact (every cell) and ANN. The query and its check are bound when
        the read runs (:meth:`bind`), so truth is the live set at that
        moment."""
        return [
            Op("read", "ivf", arg=self_id if j == 0 else None, phase=phase,
               exact=j % 2 == 1, round=b)
            for j in range(n)
        ]

    def bind(self, op: Op) -> None:
        if op.arg is not None:
            q = [float(x) for x in self.live[op.arg]]
        else:
            q = D.perturb(self.live[int(self.rng.choice(self.truth.ids))], self.rng)
        width = IVF_CELLS if op.exact else WIDTHS["ivf"]
        op.body = {"embedding": q, "k": K, "index_tree_search_top_size": width}
        if op.exact:
            op.check = exact_check(self.ctx.corpus, self.truth, q, None)
        else:
            op.check = ann_check(
                self.ctx.corpus, self.truth, q, must_top=op.arg, banned=set(self.deleted)
            )

    def warmup_ops(self):
        # the first ivf_upsert costs several times a steady one
        ids, _ = self._batch(0)
        ops = [Op("upsert", rows=len(ids), arg=0)]
        return [ops + self._reads(0, int(ids[-1]), "warmup", self.warmup_reads)]

    def timed_ops(self):
        phase = "pre_compact"
        for b in range(1, self.n_batches):
            ids, _ = self._batch(b)
            ops = [Op("upsert", rows=len(ids), arg=b)]
            if b in self.delete_after:
                ops.append(Op("delete", rows=self.n_deletes))
            if b == self.compact_after:
                ops.append(Op("compact"))
                phase = "post_compact"
            yield ops + self._reads(b, int(ids[0]), phase, self.reads_per_batch)

    # -- write ops: same calls in both passes; spans only when traced
    def _write(self, op: Op, tracer=None, req=None) -> bool:
        spark, engine = self.ctx.spark, self.engine

        def span(name):
            return tracer.span(req, name, "request") if tracer else nullcontext()

        if op.kind == "upsert":
            ids, vecs = self._batch(op.arg)
            df = spark.createDataFrame(
                [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)],
                "id long, embedding array<float>",
            )
            with span("index.upsert"):
                stats = ivf_mod.ivf_upsert(spark, engine.index, df)
            for i, v in zip(ids, vecs):
                self.live[int(i)] = v
            self.last_batch = op.arg
            self._reset_truth()
            return stats["n_appended"] == len(ids)
        if op.kind == "delete":
            # never the batch just upserted: its self-query comes next
            fresh = set(int(i) for i in self._batch(self.last_batch)[0])
            pool = np.array([i for i in self.truth.ids if int(i) not in fresh])
            victims = [int(i) for i in self.rng.choice(pool, self.n_deletes, replace=False)]
            with span("tombstones.delete"):
                n = tombstones.delete_ids(spark, engine.index.path, victims)
            for i in victims:
                del self.live[i]
            self.deleted.update(victims)
            self._reset_truth()
            return n == len(victims)
        # compact into a new generation, then flip the serving pointer
        gen1 = os.path.join(self.root, "gen1")
        with span("index.compact"):
            new = ivf_mod.ivf_compact(spark, engine.index, gen1)
            tombstones.set_serving_generation(self.root, gen1)
        engine.index = new
        return tombstones.current_generation(self.root) == gen1

    def run_http(self, op: Op) -> OpResult:
        if op.kind != "read":
            t0 = time.perf_counter()
            ok = self._write(op)
            return OpResult(op, time.perf_counter() - t0, ok)
        self.bind(op)
        return super().run_http(op)

    def run_traced(self, op: Op, tracer, req: str) -> OpResult:
        if op.kind != "read":
            t0 = time.perf_counter()
            with tracer.span(req, "request"), tracer.job_group(req):
                ok = self._write(op, tracer, req)
            return OpResult(op, time.perf_counter() - t0, ok, req=req)
        self.bind(op)
        return super().run_traced(op, tracer, req)

    def extra_metrics(self, results):
        writes = [r for r in results if r.op.kind != "read"]
        rows = sum(r.op.rows for r in writes if r.op.kind == "upsert")
        path = self.engine.index.path
        files, nbytes = 0, 0
        for dirpath, _, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, n))
        user_bytes = len(self.live) * D.DIM * 4
        out = {
            "ingest.rows_per_s": rows / max(sum(r.wall_s for r in writes), 1e-9),
            "index.files_end": files,
            "index.bytes_per_user_byte": nbytes / user_bytes,
        }
        for kind, key in (("upsert", "index.upsert_p50_s"), ("delete", "tombstones.delete_p50_s"),
                          ("compact", "index.compact_s")):
            walls = [r.wall_s for r in writes if r.op.kind == kind]
            out[key] = float(np.median(walls)) if walls else 0.0
        for phase in ("pre_compact", "post_compact"):
            walls = [r.wall_s for r in results if r.op.phase == phase]
            out[f"ingest.read_p50_s.{phase}"] = float(np.median(walls)) if walls else 0.0
        return out


WORKLOADS = {w.name: w for w in (Serve, IngestIvf)}
