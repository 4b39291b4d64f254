"""The benchmark's workloads and their parts. A part has its inputs, one
timed job, its reference answer and gate, and a traced decomposition of
the same job; a workload's job runs its parts in order.

Each workload drives the engine only through its public entry points:
``registry.queries()`` keys, ``tables``, the operator modules' public
functions and ``plans.gemm_knn``. A job starts with
``tables.invalidate_caches`` so no job times another job's memo hits.
Engine modules are imported inside the functions, so that a run's set-up
time includes importing them.
"""

from __future__ import annotations

import contextlib
import math
import os
from dataclasses import dataclass

import numpy as np

import gen
from spans import Tracer, materialize, plan_metrics


@dataclass
class Inputs:
    dir: str
    n: int
    seed: int
    scratch: str


def _inputs(root: str, seed: int, n: int, **tables) -> Inputs:
    """Write ``tables`` under ``<root>/data``; ``root`` is the run's scratch."""
    return Inputs(gen.write_dir(os.path.join(root, "data"), tables), n, seed, root)


@contextlib.contextmanager
def _patched(module, name, wrapper):
    """Route ``module.name`` through ``wrapper(original)`` while tracing."""
    original = getattr(module, name)
    setattr(module, name, wrapper(original))
    try:
        yield
    finally:
        setattr(module, name, original)


def _canon(pdf):
    from knn_with_mapreduce_cuda_spark import oracle

    return sorted(pdf.columns), oracle.canonical_rows(pdf)


class RegistryWorkload:
    """Collects registry keys and gates them against the DuckDB oracle."""

    keys: tuple[str, ...] = ()

    def reference(self, inp: Inputs) -> dict:
        from knn_with_mapreduce_cuda_spark import oracle, registry

        con = oracle.duck_connection(inp.dir)
        try:
            sql = registry.oracle_sql(inp.dir)
            return {k: _canon(con.execute(sql[k]).fetchdf()) for k in self.keys}
        finally:
            con.close()

    def snapshot(self, inp: Inputs, out):
        return out

    def check(self, inp: Inputs, ref: dict, out: dict) -> list[str]:
        """Keys whose rows differ from the oracle's; empty when correct."""
        return [k for k in self.keys if k not in out or _canon(out[k]) != ref[k]]

    def _collect(self, spark, inp: Inputs, keys) -> dict:
        from knn_with_mapreduce_cuda_spark import registry

        q = registry.queries()
        return {k: q[k](spark, inp.dir).toPandas() for k in keys}


class KnnEval(RegistryWorkload):
    """Evaluate a kNN classifier and its neighbour graph: the test-split
    top-k and the self-join memo builds (BNLJ fold, window top-k) shared by
    the vote, accuracy, confusion, regression and graph keys."""

    name = "knn-eval"
    n, dim, labels = 1_500, 64, 10
    test_topk_keys = ("knn_classify", "knn_accuracy", "knn_confusion", "knn_regress")
    self_join_keys = ("knn_join", "knn_mutual", "graph_knn_hubness")
    keys = test_topk_keys + self_join_keys + ("graph_pagerank",)

    def inputs(self, root: str, seed: int) -> Inputs:
        emb = gen.embeddings(self.n, self.dim, self.labels, seed)
        return _inputs(root, seed, self.n, embeddings=emb)

    def work(self, inp: Inputs) -> int:
        """Exact-answer pairs: the %5 test split against all others, plus
        every point against all others for the self-join."""
        n_test = len(range(0, inp.n, 5))
        return (n_test + inp.n) * (inp.n - 1)

    def job(self, spark, inp: Inputs) -> dict:
        from knn_with_mapreduce_cuda_spark import tables

        tables.invalidate_caches(inp.dir)
        return self._collect(spark, inp, self.keys)

    def traced_job(self, spark, inp: Inputs, tr: Tracer, job: str) -> tuple[dict, dict]:
        from knn_with_mapreduce_cuda_spark import tables
        from knn_with_mapreduce_cuda_spark.operators import knn

        tables.invalidate_caches(inp.dir)
        with tr.span("tables.scan", job) as scan:
            scan.counts.update(materialize(tables.embeddings(spark, inp.dir)))
        with tr.span("knn.test_topk", job) as topk:
            knn.knn_test_topk(spark, inp.dir)
        with tr.span("knn.self_join", job) as selfj:
            knn.knn_self_join(spark, inp.dir)
        with tr.span("knn.consumers", job) as cons:
            out = self._collect(spark, inp, self.test_topk_keys + self.self_join_keys)
        with tr.span("iterative.pagerank", job) as pr:
            out.update(self._collect(spark, inp, ("graph_pagerank",)))
        fold_s = topk.seconds + selfj.seconds
        layers = {
            "knn.test_topk_s": (topk.seconds, "s"),
            "knn.self_join_s": (selfj.seconds, "s"),
            "knn.fold_pairs_per_s": (self.work(inp) / fold_s, "pairs/s"),
            "knn.consumers_s": (cons.seconds, "s"),
            "iterative.pagerank_s": (pr.seconds, "s"),
        }
        return out, layers


class KnnJoin:
    """All-vs-all kNN join through the chunked GEMM kernel, in query blocks
    that each write to a parquet sink."""

    name = "knn-join"
    n, dim, labels, k, blocks = 10_000, 64, 10, 10, 4
    #: queries whose neighbours the gate recomputes by brute force.
    sample = 200

    def inputs(self, root: str, seed: int) -> Inputs:
        emb = gen.embeddings(self.n, self.dim, self.labels, seed)
        return _inputs(root, seed, self.n, embeddings=emb)

    def work(self, inp: Inputs) -> int:
        return inp.n * (inp.n - 1)

    def _sink(self, inp: Inputs) -> str:
        return os.path.join(inp.scratch, "sink")

    def _run(self, spark, inp: Inputs):
        from pyspark.sql.functions import col

        from knn_with_mapreduce_cuda_spark import tables
        from knn_with_mapreduce_cuda_spark.plans import gemm_knn

        tables.invalidate_caches(inp.dir)
        e = tables.embeddings(spark, inp.dir)
        q = e.select(col("vec_id").alias("qid"), col("emb").alias("qemb"))
        t = e.select(col("vec_id").alias("tid"), col("emb").alias("temb"))
        return gemm_knn.knn_topk_gemm_chunked(
            q, t, self.k,
            query_block_rows=math.ceil(inp.n / self.blocks),
            sink_path=self._sink(inp),
        )

    def job(self, spark, inp: Inputs):
        self._run(spark, inp)

    def snapshot(self, inp: Inputs, out):
        import pyarrow.parquet as pq

        return pq.read_table(self._sink(inp), columns=["qid", "tid", "rnk", "dist"])

    def reference(self, inp: Inputs) -> dict:
        """Brute-force f64 neighbours of a seeded sample of query ids."""
        import pyarrow.parquet as pq

        emb = pq.read_table(os.path.join(inp.dir, "embeddings.parquet"))
        ids = emb.column("vec_id").to_numpy()
        mat = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        rng = np.random.default_rng([inp.seed, 3])
        ref = {}
        for qi in rng.choice(len(ids), size=self.sample, replace=False):
            diff = mat - mat[qi]
            d2 = (diff * diff).sum(axis=1)
            d2[qi] = np.inf
            top = np.lexsort((ids, d2))[: self.k]
            ref[int(ids[qi])] = (ids[top], np.sqrt(d2[top]))
        return ref

    def check(self, inp: Inputs, ref: dict, out) -> list[str]:
        bad = []
        if out.num_rows != inp.n * self.k:
            bad.append(f"sink has {out.num_rows} rows, want {inp.n * self.k}")
        qid = out.column("qid").to_numpy()
        sel = np.isin(qid, list(ref))
        rows = {c: out.column(c).to_numpy()[sel] for c in ("qid", "tid", "rnk", "dist")}
        order = np.lexsort((rows["rnk"], rows["qid"]))
        rows = {c: v[order] for c, v in rows.items()}
        for q, (tids, dists) in ref.items():
            m = rows["qid"] == q
            ok = (
                m.sum() == self.k
                and np.array_equal(rows["rnk"][m], np.arange(1, self.k + 1))
                and np.array_equal(rows["tid"][m], tids)
                and np.allclose(rows["dist"][m], dists, rtol=1e-12, atol=0.0)
            )
            if not ok:
                bad.append(f"qid {q}")
        return bad

    def traced_job(self, spark, inp: Inputs, tr: Tracer, job: str) -> tuple[None, dict]:
        """The chunked job, with each block's ``knn_topk_gemm`` call (query
        collect and broadcast) and its result's materialization as spans; the
        chunked span's self time is the chunking overhead (train persist,
        block selection, sink writes)."""
        from knn_with_mapreduce_cuda_spark import tables
        from knn_with_mapreduce_cuda_spark.plans import gemm_knn

        def traced(original):
            def call(*args, **kwargs):
                with tr.span("gemm.prepare", job):
                    r = original(*args, **kwargs)
                with tr.span("gemm.kernel", job) as sp:
                    ck = r.localCheckpoint(eager=True)
                sp.counts.update(plan_metrics(r))
                return ck
            return call

        with tr.span("tables.scan", job) as scan:
            scan.counts.update(materialize(tables.embeddings(spark, inp.dir)))
        with _patched(gemm_knn, "knn_topk_gemm", traced):
            with tr.span("gemm.chunked", job) as chunked:
                self._run(spark, inp)
        spans = [s for s in tr.spans if s.job == job]
        prepare = sum(s.seconds for s in spans if s.name == "gemm.prepare")
        kern = sum(s.seconds for s in spans if s.name == "gemm.kernel")
        sink_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(self._sink(inp)) for f in fs if f.endswith(".parquet")
        )
        layers = {
            "gemm.prepare_s": (prepare, "s"),
            "gemm.kernel_s": (kern, "s"),
            "gemm.chunk_overhead_s": (chunked.seconds - prepare - kern, "s"),
            "gemm.sink_bytes": (sink_bytes, "bytes"),
            "gemm.pairs_per_s": (self.work(inp) / kern, "pairs/s"),
        }
        return None, layers


class Dedup(RegistryWorkload):
    """Near-duplicate document dedup: MinHash signatures, the band-bucket
    self-join and connected components. No vector math."""

    name = "dedup"
    n, vocab, dup_frac = 20_000, 3_000, 0.2
    keys = ("llm_dedup_apply",)

    def inputs(self, root: str, seed: int) -> Inputs:
        docs = gen.documents(self.n, self.vocab, self.dup_frac, seed)
        return _inputs(root, seed, self.n, documents=docs)

    def work(self, inp: Inputs) -> int:
        return inp.n

    def job(self, spark, inp: Inputs) -> dict:
        from knn_with_mapreduce_cuda_spark import tables

        tables.invalidate_caches(inp.dir)
        return self._collect(spark, inp, self.keys)

    def traced_job(self, spark, inp: Inputs, tr: Tracer, job: str) -> tuple[dict, dict]:
        """The key, with the MinHash signatures and the near-dup pairs each
        materialized once inside their own span, so the next layer builds on
        them instead of recomputing them, and ``connected_components`` as a
        span of its own."""
        from knn_with_mapreduce_cuda_spark import tables
        from knn_with_mapreduce_cuda_spark.operators import iterative, llm

        pairs_plan = {}

        def checkpointed(span_name, keep=None):
            def wrap(original):
                def call(*args, **kwargs):
                    with tr.span(span_name, job):
                        df = original(*args, **kwargs)
                        ck = df.localCheckpoint(eager=True)
                    if keep is not None:
                        keep.update(plan_metrics(df))
                    return ck
                return call
            return wrap

        def spanned(original):
            def call(*args, **kwargs):
                with tr.span("iterative.components", job):
                    return original(*args, **kwargs)
            return call

        tables.invalidate_caches(inp.dir)
        with tr.span("tables.scan", job) as scan:
            scan.counts.update(materialize(tables.table(spark, inp.dir, "documents")))
        with (
            _patched(llm, "minhash_signatures", checkpointed("llm.signatures")),
            _patched(llm, "near_dup_pairs", checkpointed("llm.near_dup_pairs", pairs_plan)),
            _patched(iterative, "connected_components", spanned),
        ):
            out = self._collect(spark, inp, self.keys)
        tr.resolve()
        spans = {s.name: i for i, s in enumerate(tr.spans) if s.job == job}
        comp = tr.spans[spans["iterative.components"]]
        layers = {
            "llm.signatures_s": (tr.spans[spans["llm.signatures"]].seconds, "s"),
            "llm.near_dup_pairs_s": (tr.self_seconds(spans["llm.near_dup_pairs"]), "s"),
            "llm.pair_yield": (pairs_plan["rows"] / pairs_plan["join_rows"], "ratio"),
            "iterative.components_s": (comp.seconds, "s"),
            "iterative.components_jobs": (comp.counts["jobs"], "count"),
        }
        return out, layers


#: each workload's job runs its parts in order, each on its own input.
WORKLOADS = {"knn": (KnnEval(), KnnJoin()), "dedup": (Dedup(),)}
