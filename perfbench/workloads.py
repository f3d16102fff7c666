"""The workloads: one closed-loop client each, driving the engine's
public operator functions with generated inputs.

* ``ingest`` -- the write path.  Each operation is one micro-batch of
  the message log through ``ingest_pipeline`` (suppress, chunk, embed
  with the default ``HashEmbedder`` at 768 dims) appended as parquet
  through ``operators.sink``.  The vector layers do no work here.
* ``serve`` -- routed RAG retrieval over a fixed clustered corpus whose
  IVF index is built in set-up.  Each operation is one query: route to
  2 cells (``ann.route_query_cells``), join the stored assignment from
  the ``ivf_index`` seam, scan the candidates' vectors and re-rank them
  exactly with ``topk.cosine_topk``.  Embedding, chunking and the sink
  do no work here.

Operation ``i`` always gets the same inputs for a given seed, and the
inputs of set-up warm-ups, burn-in and timed operations come from
disjoint index ranges, so every run of a seed times the same inputs
whatever the engine's speed.

The engine's modules are imported inside the methods, so that a
directory without the engine fails at the package check in ``run.py``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import checks, gen

# Sizes: on a 4-core box an ingest batch takes 0.75-1 s and a serve
# query 1.1-1.7 s.
INGEST_BATCH_MSGS = 500
INGEST_DIM = 768  # the reference's embedding width (nomic-embed-text)
SERVE_VECTORS = 8000
VECTOR_DIM = 64
CLUSTERS = 64
CLUSTER_SPREAD = 0.35
QUERY_NOISE = 0.1
TOP_K = 10
N_CELLS = 2
SAMPLED_EMBEDDINGS = 4
# the tail is the 11th-largest latency: the median at 21 samples, p60 at 25
TAIL_OPS = 25
# operation index ranges: timed operations count from 0, burn-in from
# BURN_IN_OFFSET, set-up warm-ups from WARM_OFFSET
BURN_IN_OFFSET = 500_000
WARM_OFFSET = 1_000_000


@dataclass
class OpResult:
    """One operation: its latency, the items it completed, its check
    failures and, for a query, its recall@10."""

    latency: float
    items: int
    failures: list[str] = field(default_factory=list)
    recall: float | None = None


class Workload:
    """Generated inputs live under ``work``; the engine only reads files
    written there.  ``setup`` runs once per set-up repetition on a fresh
    session and ends warm (one checked warm-up operation).  A run times
    at least ``min_ops`` operations."""

    min_ops = 1

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.counts: dict[str, float] = {}
        self.setups = 0

    def count(self, name: str, value) -> None:
        if value is not None:
            self.counts[name] = self.counts.get(name, 0) + value

    def generate(self) -> None:
        """Write the inputs every set-up shares (before any timing)."""

    def setup(self, spark) -> OpResult:
        """Load inputs, build what the operations need, then run and
        return one warm-up operation."""
        raise NotImplementedError

    def op(self, spark, i: int) -> OpResult:
        raise NotImplementedError

    def layer_counts(self, n_ops: int, spans) -> dict[str, float]:
        """Count metrics from the traced operations."""
        return {}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


class Ingest(Workload):
    table = "perfbench_embeddings"
    min_ops = TAIL_OPS

    def setup(self, spark):
        from signal_messenger_vector_database_spark.operators.embed import HashEmbedder
        from signal_messenger_vector_database_spark.operators.sink import (
            ensure_embeddings_table,
        )

        self.embedder = HashEmbedder(INGEST_DIM)
        self.location = os.path.join(self.work, f"sink-{self.setups}")
        ensure_embeddings_table(spark, self.table, self.location)
        self.setups += 1
        return self.op(spark, WARM_OFFSET + self.setups)

    def _files(self) -> set[str]:
        out = set()
        for d, _, fs in os.walk(self.location):
            out.update(os.path.join(d, f) for f in fs if f.endswith(".parquet"))
        return out

    def op(self, spark, i):
        from signal_messenger_vector_database_spark.operators import (
            ingest_pipeline as ip,
        )
        from signal_messenger_vector_database_spark.operators.sink import (
            append_embeddings,
        )
        from signal_messenger_vector_database_spark.schemas import MESSAGE_LOG_SCHEMA

        path = os.path.join(self.work, f"batch-{i}.parquet")
        truth = gen.message_batch(self.seed, i, INGEST_BATCH_MSGS, path)
        before = self._files()
        tr = self.tr
        t0 = time.perf_counter()
        with tr.request(f"batch-{i}"):
            with tr.span("io"):
                df, n = tr.materialize(spark.read.schema(MESSAGE_LOG_SCHEMA).parquet(path))
                self.count("read", n)
            with tr.patch(ip, "filter_control_messages", "suppression",
                          lambda n: self.count("kept", n)), \
                 tr.patch(ip, "chunk_text", "chunking",
                          lambda n: self.count("chunks", n)), \
                 tr.patch(ip, "with_embeddings", "embed",
                          lambda n: self.count("embedded", n)):
                out = ip.ingest_pipeline(df, embedding_dim=INGEST_DIM)
            with tr.span("sink"):
                append_embeddings(out, self.table)
        latency = time.perf_counter() - t0
        new = sorted(self._files() - before)
        if tr.enabled:
            self.count("sink_bytes", sum(os.path.getsize(f) for f in new))
            self.count("msgs", truth["n_msgs"])
        res = OpResult(latency, truth["n_msgs"], self._check(truth, new))
        os.remove(path)
        return res

    def _check(self, truth, files):
        if not files:
            return ["the batch appended no files"]
        t = pa.concat_tables(pq.read_table(f, columns=["body", "embedding"]) for f in files)
        bodies = t.column("body").to_pylist()
        dims = pc.list_value_length(t.column("embedding")).to_pylist()
        picks = set(np.linspace(0, len(bodies) - 1, SAMPLED_EMBEDDINGS).astype(int).tolist())
        first_long = next((j for j, b in enumerate(bodies) if checks.LONG_TAG.match(b)), None)
        if first_long is not None:
            picks.add(first_long)
        sample = [
            (bodies[j], np.asarray(t.column("embedding")[j].as_py(), dtype=np.float32))
            for j in sorted(picks)
        ]
        return checks.check_ingest(
            truth, bodies, dims, INGEST_DIM, sample, self.embedder.embed_batch
        )

    def layer_counts(self, n_ops, spans):
        c = self.counts
        return {
            "suppression.kept_ratio": _ratio(c.get("kept", 0), c.get("read", 0)),
            "chunking.chunks_per_msg": _ratio(c.get("chunks", 0), c.get("kept", 0)),
            "embed.rows": _ratio(c.get("embedded", 0), n_ops),
            "sink.bytes_per_msg": _ratio(c.get("sink_bytes", 0), c.get("msgs", 0)),
        }


class Serve(Workload):
    # no minimum: TAIL_OPS queries would take 30-40 s, more than a full
    # benchmark round can spend per run, so serve reports no tail (its
    # latency_tail_s is the median)

    def generate(self):
        """Write the corpus: ``SERVE_VECTORS`` clustered vectors with ids
        0..n-1; also fix the index geometry for a corpus of that size."""
        from signal_messenger_vector_database_spark.operators.ann import (
            hier_super_count,
            scaled_cluster_count,
        )

        self.dir = os.path.join(self.work, "corpus")
        self.centres = gen.cluster_centres(self.seed, CLUSTERS, VECTOR_DIM)
        self.vecs = gen.clustered_vectors(
            self.seed, 0, self.centres, SERVE_VECTORS, CLUSTER_SPREAD
        )
        gen.write_vectors(np.arange(SERVE_VECTORS, dtype=np.int64), self.vecs, self.dir)
        self.k = scaled_cluster_count(SERVE_VECTORS)
        self.n_super = hier_super_count(self.k)
        self.token = f"{self.dir}/embeddings|{SERVE_VECTORS}"

    def setup(self, spark):
        """Load the corpus and build its IVF assignment through the
        ``ivf_index`` seam; the count runs the (lazy) build here."""
        from signal_messenger_vector_database_spark.io.sources import load_table
        from signal_messenger_vector_database_spark.operators.ann import ivf_seed_centroids

        with self.tr.span("io"):
            self.emb = load_table(spark, self.dir, "embeddings")
            self.seeds = ivf_seed_centroids(self.emb, self.k)
        with self.tr.span("ivf_index"):
            self.assignment = self._seam(spark)
            self.assignment.count()
        self.setups += 1
        return self.op(spark, WARM_OFFSET + self.setups)

    def _seam(self, spark):
        from signal_messenger_vector_database_spark.operators.ivf_index import (
            shared_hier_assignment,
        )

        return shared_hier_assignment(spark, self.emb, self.token, self.k, self.n_super)

    def op(self, spark, i):
        near = self.vecs[gen.pick(self.seed, 0, i, len(self.vecs))]
        qv = gen.query_vector(self.seed, i, near, QUERY_NOISE)
        with self.tr.request(f"query-{i}"):
            t0 = time.perf_counter()
            res = self._route_and_rank(spark, qv)
            latency = time.perf_counter() - t0
        failures = checks.check_topk(
            res, qv, lambda j: self.vecs[j] if 0 <= j < len(self.vecs) else None, TOP_K
        )
        exact = checks.exact_topk(qv, np.arange(len(self.vecs)), self.vecs, TOP_K)
        rec = checks.recall([j for j, _ in res], exact)
        return OpResult(latency, 1, failures, rec)

    def _route_and_rank(self, spark, qv):
        """One routed top-k query; returns [(id, sim)]."""
        from pyspark.sql import functions as F

        from signal_messenger_vector_database_spark.operators.ann import route_query_cells
        from signal_messenger_vector_database_spark.operators.topk import cosine_topk

        tr = self.tr
        q = spark.createDataFrame([(qv.tolist(),)], "qv array<double>")
        with tr.span("ann"):
            qcells, n = tr.materialize(
                route_query_cells(q, self.seeds, self.n_super, n_cells=N_CELLS)
            )
            self.count("cells", n)
        with tr.span("ivf_index"):
            # the seam is asked for the index on every query; a memo hit
            # hands back the very frame the previous call returned
            got = self._seam(spark)
            if tr.enabled:
                self.count("seam_calls", 1)
                self.count("memo_hits", int(got is self.assignment))
            self.assignment = got
            cand, n = tr.materialize(got.join(F.broadcast(qcells), "cid").select("vec_id"))
            self.count("candidates", n)
        with tr.span("io"):
            rows, n = tr.materialize(self.emb.join(cand, "vec_id"))
            self.count("scored", n)
        with tr.span("topk"):
            top = cosine_topk(rows, qv.tolist(), k=TOP_K).collect()
        return [(r.vec_id, r.sim) for r in top]

    def layer_counts(self, n_ops, spans):
        from .trace import input_records

        c = self.counts
        return {
            "ann.cells_probed": _ratio(c.get("cells", 0), n_ops),
            "ivf_index.candidates_per_query": _ratio(c.get("candidates", 0), n_ops),
            "topk.useful_ratio": _ratio(TOP_K * n_ops, c.get("scored", 0)),
            "io.rows_scanned_per_query": _ratio(input_records(spans, "io"), n_ops),
            "ivf_index.memo_hit_ratio": _ratio(c.get("memo_hits", 0), c.get("seam_calls", 0)),
        }


WORKLOADS = {"ingest": Ingest, "serve": Serve}
