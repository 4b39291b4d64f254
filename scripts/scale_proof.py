#!/usr/bin/env python
"""Scale-proof harness (VERDICT r01 "Next round" #3 and #5).

Round 1 left three bench rows slower than the DuckDB baseline at sf0.1
(rel_agg_hash, rel_join_broadcast_q3, str_window_session) with the
*argument* that the gap is fixed per-job overhead (~0.3–0.9 s of
scheduler/codegen) over tens-of-ms of actual work, so it amortizes at
scale. This script replaces the argument with a measurement:

1. Amplify the sf0.1 fixtures 10× (spark.range replica cross-join with
   key shifting — deterministic, no new fixture generation) into a
   scratch dir with the same table layout.
2. Run the three weak queries AND their DuckDB twins (4 threads, as
   BASELINE.md) at 1× and 10×; report the ratio at both scales.
3. Stress the chunked GEMM path far beyond fixture size (500k train ×
   32k queries, 64-dim ⇒ 4 query blocks — the n_blocks>1 loop that no
   fixture SF reaches) and assert the persisted-train plan shape.
4. Stress near_dup_pairs with a pathological boilerplate bucket (the
   10× amplification clones every document 10×, so every LSH bucket
   explodes 100× in candidate pairs) with and without max_bucket_size.

Output: one JSON document on stdout; prose lands in SCALE.md §9.
Scratch lives under the validated uid-owned scratch root (env-overridable).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from knn_with_mapreduce_cuda_spark import tables
from knn_with_mapreduce_cuda_spark.operators import relational, streaming_batch
from knn_with_mapreduce_cuda_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _scale_scratch(env: str, leaf: str) -> str:
    """Scratch dir for amplified tables / proof sinks: env override, else
    under the VALIDATED uid-owned scratch root (ADVICE r08: fixed /tmp
    defaults were pre-creatable/injectable by other local users — the
    same trust class the index scratch eliminated in r05)."""
    override = os.environ.get(env)
    if override:
        return override
    from knn_with_mapreduce_cuda_spark.operators.llm import _scratch_root

    return os.path.join(_scratch_root(), leaf)


SCRATCH = _scale_scratch("SCALE_SCRATCH", "scale10x")
FACTOR = int(os.environ.get("SCALE_FACTOR", "10"))


#: part files per amplified table. The round-2 amplification wrote ONE
#: ~90 MB part per table (the fixture arrives in one partition), which
#: Spark reads as ONE scan task — the 30× q3 probe+agg ran on a single
#: core while the DuckDB twin parallelized over row groups on 4 threads.
#: A real lake table at this size arrives in many splits; 32 parts makes
#: the scratch layout representative of that (and of what
#: maxPartitionBytes would do to a larger file). Writes are
#: range-partitioned + sorted on each table's natural key so the
#: amplified layout keeps the clustering the source fixture has (TPC-H
#: facts arrive ordered by orderkey; event logs by time) — round-robin
#: splitting would destroy the map-side aggregation collapse both
#: engines legitimately get from real lake layouts.
PARTS = int(os.environ.get("SCALE_PARTS", "32"))


def _write(df, key: str, path: str) -> None:
    (
        df.repartitionByRange(PARTS, col(key))
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(path)
    )


def amplify(spark) -> None:
    """Write FACTOR× copies of the tables the weak queries touch, keys
    shifted so join cardinalities scale linearly (not quadratically)."""
    tables.invalidate_caches(SCRATCH)  # SCRATCH may have been read in-session
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    rep = spark.range(FACTOR).select(col("id").alias("_r"))

    li = tables.table(spark, SF_DIR, "lineitem").crossJoin(rep)
    li = li.withColumn("l_orderkey", col("l_orderkey") * FACTOR + col("_r")).drop("_r")
    _write(li, "l_orderkey", f"{SCRATCH}/lineitem.parquet")

    o = tables.table(spark, SF_DIR, "orders").crossJoin(rep)
    o = (
        o.withColumn("o_orderkey", col("o_orderkey") * FACTOR + col("_r"))
        .withColumn("o_custkey", col("o_custkey") * FACTOR + col("_r"))
        .drop("_r")
    )
    _write(o, "o_orderkey", f"{SCRATCH}/orders.parquet")

    c = tables.table(spark, SF_DIR, "customer").crossJoin(rep)
    c = c.withColumn("c_custkey", col("c_custkey") * FACTOR + col("_r")).drop("_r")
    _write(c, "c_custkey", f"{SCRATCH}/customer.parquet")

    # events: amplify users (per-user session shape preserved, 10× users);
    # ts written as bigint nanos so tables.table takes its bigint path.
    ev = tables.table(spark, SF_DIR, "events").crossJoin(rep)
    ev = (
        ev.withColumn("event_id", col("event_id") * FACTOR + col("_r"))
        .withColumn("user_id", col("user_id") * FACTOR + col("_r"))
        .select("event_id", col("ts_ns").alias("ts"), "user_id", "event_type", "value")
    )
    _write(ev, "ts", f"{SCRATCH}/events.parquet")

    d = tables.table(spark, SF_DIR, "documents").crossJoin(rep)
    d = d.withColumn("doc_id", col("doc_id") * FACTOR + col("_r")).drop("_r")
    _write(d, "doc_id", f"{SCRATCH}/documents.parquet")


def amplify_bucketed(spark) -> None:
    """Additionally write lineitem/orders as BUCKETED tables (32 buckets
    on the orderkey, sorted, one file per bucket) — the co-located
    layout a production lake keeps for repeated fact⋈fact joins, and the
    engine's documented 100 TB answer for Q3-class queries (SCALE.md
    §2): the orderkey join becomes a zero-shuffle sort-merge and the
    orderkey aggregation inherits the partitioning, so the whole query
    holds ONE exchange (the broadcast of filtered customer keys).
    Measured 1.74× faster than the reduce-first broadcast form at 30×."""
    li = tables.table(spark, SCRATCH, "lineitem")
    o = tables.table(spark, SCRATCH, "orders")
    spark.sql(f"DROP TABLE IF EXISTS scale_li_b{FACTOR}")
    spark.sql(f"DROP TABLE IF EXISTS scale_ord_b{FACTOR}")
    (
        li.repartition(PARTS, col("l_orderkey"))
        .write.mode("overwrite")
        .bucketBy(PARTS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", f"{SCRATCH}/lineitem_bucketed")
        .saveAsTable(f"scale_li_b{FACTOR}")
    )
    (
        o.repartition(PARTS, col("o_orderkey"))
        .write.mode("overwrite")
        .bucketBy(PARTS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{SCRATCH}/orders_bucketed")
        .saveAsTable(f"scale_ord_b{FACTOR}")
    )


def q3_bucketed(spark, sf_dir) -> "F.DataFrame":
    """Q3 over the bucketed layout: broadcast only the filtered customer
    keys; orders⋈lineitem merge-joins bucket-to-bucket with no exchange
    and the per-orderkey aggregation runs in the same pipeline."""
    lib = spark.table(f"scale_li_b{FACTOR}")
    ob = spark.table(f"scale_ord_b{FACTOR}")
    cust = tables.table(spark, sf_dir, "customer")
    ckeys = cust.filter(col("c_mktsegment") == "BUILDING").select("c_custkey")
    bo = ob.join(
        F.broadcast(ckeys), col("o_custkey") == col("c_custkey"), "left_semi"
    ).select("o_orderkey")
    return (
        lib.join(bo, col("l_orderkey") == col("o_orderkey"), "left_semi")
        .groupBy(col("l_orderkey").alias("o_orderkey"))
        .agg(F.sum(col("l_extendedprice") * (1 - col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


SPARK_QUERIES = {
    "rel_agg_hash": relational._q_agg_hash,
    "rel_join_broadcast_q3": None,  # bound to bench.q3_shape in main()
    "str_window_session": streaming_batch._q_window_session,
}

# DuckDB twins, written against the amplified schema (events.ts = bigint
# nanos there; the fixture dir's events.ts is TIMESTAMP(NANOS) — the
# epoch branch below adapts). 4 threads to match BASELINE.md.
_EV_BIGINT = (
    "ev AS (SELECT event_id, user_id, event_type, value, ts // 1000 AS ts_us FROM events)"
)
_EV_TS = (
    "ev AS (SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us FROM events)"
)


def duck_sql(key: str, bigint_ts: bool) -> str:
    ev = _EV_BIGINT if bigint_ts else _EV_TS
    if key == "rel_agg_hash":
        return (
            "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty, "
            "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS a, "
            "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS b, "
            "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS c, "
            "round(avg(l_quantity), 4) AS d, round(avg(l_extendedprice), 4) AS e, "
            "round(avg(l_discount), 4) AS f, count(*) AS g "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus"
        )
    if key == "rel_join_broadcast_q3":
        return (
            "SELECT o_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment = 'BUILDING' "
            "GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10"
        )
    if key == "str_window_session":
        return (
            f"WITH {ev}, o AS (SELECT user_id, ts_us, value, "
            "CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) "
            "> 1800000000 THEN 1 ELSE 0 END AS brk FROM ev), "
            "s AS (SELECT user_id, ts_us, value, sum(brk) OVER (PARTITION BY user_id "
            "ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS sid FROM o) "
            "SELECT user_id, CAST(min(ts_us) AS BIGINT) AS start_us, count(*) AS n_events, "
            "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
            "FROM s GROUP BY user_id, sid"
        )
    raise KeyError(key)


def timed_runs(n, fn) -> list[float]:
    runs = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        runs.append(round(time.perf_counter() - t0, 3))
    return runs


def best_of(n, fn):
    return min(timed_runs(n, fn))


def _row(s_runs: list[float], d_runs: list[float]) -> dict:
    """One comparison row with full measurement provenance (VERDICT r03
    #4: a best-of-n on a shared host is not evidence without the run
    spread and the load average)."""
    s, d = min(s_runs), min(d_runs)
    return {
        "spark_s": s,
        "duckdb_s": d,
        "ratio": round(s / d, 2) if d > 0 else None,
        "spark_runs": s_runs,
        "duckdb_runs": d_runs,
        "load1": round(os.getloadavg()[0], 1),
    }


def time_weak_queries(spark) -> dict:
    out = {}
    scales = (("1x", SF_DIR, False), (f"{FACTOR}x", SCRATCH, True))
    for scale, sf_dir, bigint_ts in scales:
        con = duckdb.connect()
        con.execute("SET threads=4")
        for t in ("lineitem", "orders", "customer", "events"):
            p = f"{sf_dir}/{t}.parquet"
            if os.path.isdir(p):  # Spark writes a directory of parts
                p = f"{p}/*.parquet"
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for key, fn in SPARK_QUERIES.items():
            # q3 is the one contested gate row — best-of-5 (VERDICT r03 #4)
            n = 5 if key == "rel_join_broadcast_q3" else 3
            out[f"{key}@{scale}"] = _row(
                timed_runs(n, lambda: fn(spark, sf_dir).count()),
                timed_runs(n, lambda: con.execute(duck_sql(key, bigint_ts)).fetchall()),
            )
        if sf_dir == SCRATCH:
            # co-located bucketed layout — the engine's documented lake
            # layout for repeated orderkey joins; DuckDB twin unchanged
            # (same rows, its preferred range-sorted files).
            out[f"rel_join_broadcast_q3_bucketed@{scale}"] = _row(
                timed_runs(5, lambda: q3_bucketed(spark, sf_dir).count()),
                timed_runs(
                    5,
                    lambda: con.execute(
                        duck_sql("rel_join_broadcast_q3", bigint_ts)
                    ).fetchall(),
                ),
            )
        con.close()
    return out


def gemm_chunked_stress(spark) -> dict:
    import knn_with_mapreduce_cuda_spark.plans.gemm_knn as G

    dim, n_train, n_q, block = 64, 500_000, 32_768, 8_192
    deriv = F.transform(
        F.sequence(lit(0), lit(dim - 1)),
        lambda j: F.sin((col("id") + 1) * (j + 1) * 0.001),
    )
    t = (
        spark.range(n_train, numPartitions=32)
        .select(col("id").alias("tid"), deriv.alias("temb"))
    )
    q = spark.range(n_q).select(col("id").alias("qid"), deriv.alias("qemb"))

    # Block ledger (VERDICT r07 #6): the MEASURED run itself records how
    # many per-block kernel calls ran and that broadcast create/destroy
    # strictly alternated (≤1 query broadcast resident at any instant) —
    # the same contract tests/test_plans.py pins at smoke scale, here
    # observed at 500k×32k.
    ledger: list[dict] = []
    events: list[str] = []
    real = G.knn_topk_gemm

    def tracked(*args, **kwargs):
        out = kwargs.get("broadcast_out")
        tb = time.perf_counter()
        res = real(*args, **kwargs)
        ledger.append(
            {"block": len(ledger), "build_s": round(time.perf_counter() - tb, 3)}
        )
        for h in out or []:
            if id(h) not in {id(x) for x in tracked._seen}:
                tracked._seen.append(h)
                events.append("create")
                orig = h.destroy

                def destroy(_orig=orig):
                    events.append("destroy")
                    return _orig()

                h.destroy = destroy
        return res

    tracked._seen = []

    t0 = time.perf_counter()
    # n_queries hint: the probe set is a spark.range derivation (no file
    # scan to read footers from); real probe sets come off parquet and
    # size their blocks from metadata without any job.
    G.knn_topk_gemm = tracked
    try:
        res = G.knn_topk_gemm_chunked(
            q, t, k=10, query_block_rows=block, n_queries=n_q,
            # fixed leaf under the validated scratch root, overwritten
            # per run (ADVICE r08: was an injectable fixed /tmp path)
            sink_path=_scale_scratch("SCALE_SCRATCH_GEMM", "scale_gemm_sink"),
        )
        n = res.count()
    finally:
        G.knn_topk_gemm = real
    wall = round(time.perf_counter() - t0, 3)
    alive, max_alive, alternates = 0, 0, True
    for e in events:
        alive += 1 if e == "create" else -1
        max_alive = max(max_alive, alive)
        alternates &= 0 <= alive <= 1
    return {
        "n_train": n_train,
        "n_queries": n_q,
        "dim": dim,
        "n_blocks": -(-n_q // block),
        "blocks_observed": len(ledger),
        "block_ledger": ledger,
        "broadcasts_created": events.count("create"),
        "broadcasts_destroyed": events.count("destroy"),
        "max_broadcasts_resident": max_alive,
        "residency_alternates": alternates and alive == 0,
        "result_rows": n,
        "wall_s": wall,
        # residency contract (1 broadcast alive, train persisted once,
        # per-block flush) is also asserted in tests/test_plans.py
        "streaming_blocks": True,
    }


def minhash_bucket_guard(spark) -> dict:
    from knn_with_mapreduce_cuda_spark.operators.llm import near_dup_pairs

    out = {}
    t0 = time.perf_counter()
    n_uncapped = near_dup_pairs(spark, SCRATCH, max_bucket_size=None).count()
    out["uncapped"] = {"pairs": n_uncapped, "wall_s": round(time.perf_counter() - t0, 3)}
    t0 = time.perf_counter()
    n_capped = near_dup_pairs(spark, SCRATCH, max_bucket_size=64).count()
    out["capped_64"] = {"pairs": n_capped, "wall_s": round(time.perf_counter() - t0, 3)}
    return out


#: ANN stress scratch: sf0.1 embeddings (2000 x 64-dim) amplified
#: EMB_FACTOR x with id offsets and a deterministic full-dimension
#: perturbation per (vector, replica, dim) — an integer LCG-style mix,
#: no RNG. First-dim-only nudges were tried and rejected: they produce
#: 100-way near-clone ties, the pathological worst case for any sketch
#: (all sign bits equal, sub-quantization-error separations), which
#: measures the fixture, not the methods.
SCRATCH_ANN = _scale_scratch("SCALE_SCRATCH_ANN", "scale_ann")
EMB_FACTOR = int(os.environ.get("EMB_FACTOR", "100"))
ANN_QMOD = int(os.environ.get("ANN_QMOD", "5000"))


def amplify_embeddings(spark, factor: int = EMB_FACTOR) -> int:
    tables.invalidate_caches(SCRATCH_ANN)
    shutil.rmtree(SCRATCH_ANN, ignore_errors=True)
    os.makedirs(SCRATCH_ANN)
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = e.count()
    rep = spark.range(factor).select(col("id").alias("_r"))
    def perturb(x, i):
        mix = F.pmod(
            col("vec_id") * lit(2654435761)
            + col("_r") * lit(40503)
            + i.cast("long") * lit(69427),
            lit(1000),
        )
        return (x + (mix / lit(1000.0) - lit(0.5)) * lit(0.6)).cast("float")

    amp = e.crossJoin(rep).select(
        (col("vec_id") + col("_r") * n).alias("vec_id"),
        F.transform("embedding", perturb).alias("embedding"),
        "label",
    )
    _write(amp, "vec_id", f"{SCRATCH_ANN}/embeddings.parquet")
    return n * factor


def graph_stress(spark) -> dict:
    """Graph-family 100× proof (VERDICT r05 #3): run the graded
    linkpred / triangles / pagerank operators on a mutual-kNN graph
    over the amplified embedding corpus at 10× and 100×, with the edge
    list built by the declared 100 TB construction path — the chunked
    GEMM top-k (knn.py:17: at scale the GEMM plan replaces the pair
    BNLJ; the graph operators consume the edge list through
    knn_self_join's materialized-index seam, which the stress seeds
    exactly as a production session would after an index build).

    Recorded per operator: wall, output rows, load1, the number of
    Exchange SinglePartition nodes in the physical plan (expected only
    as the final ≤k_rows scalar/top-n collect step — a single-task
    FOLD would show up here on a big relation), and the 100×/10× wall
    ratio against the 10× work ratio (edges scale linearly in nodes at
    fixed k, so candidate/triangle/contribution volume is ~10×; a
    quadratic stage or a fold would blow the ratio out)."""
    from knn_with_mapreduce_cuda_spark.operators import analytics
    from knn_with_mapreduce_cuda_spark.operators import iterative
    from knn_with_mapreduce_cuda_spark.operators import knn as knnmod
    from knn_with_mapreduce_cuda_spark.plans.gemm_knn import knn_topk_gemm_chunked

    def load():
        return round(os.getloadavg()[0], 1)

    ops = {
        "graph_linkpred_jaccard": analytics._q_linkpred,
        "graph_triangles": knnmod._q_triangles,
        "graph_pagerank": iterative._q_pagerank,
    }
    out: dict = {"k_join": knnmod.K_JOIN}
    for factor in (10, 100):
        n_total = amplify_embeddings(spark, factor)
        e = tables.embeddings(spark, SCRATCH_ANN)
        q = e.select(col("vec_id").alias("qid"), col("emb").alias("qemb"))
        t = e.select(col("vec_id").alias("tid"), col("emb").alias("temb"))
        t0 = time.perf_counter()
        edges = knn_topk_gemm_chunked(
            q, t, k=knnmod.K_JOIN, n_queries=n_total,
            sink_path=f"{SCRATCH_ANN}/gemm_edges.parquet",
        ).select(
            "qid", "tid", col("rnk").cast("long").alias("rnk"),
            F.round("dist", 4).alias("dist"),
        )
        n_edges = edges.count()
        build = round(time.perf_counter() - t0, 3)
        # seed the self-join memo: graded operators now consume the
        # GEMM-built edge list through their normal code path
        knnmod._KNN_MEMO.put(
            spark, (SCRATCH_ANN.rstrip("/"), "knn_self_join", knnmod.K_JOIN), edges
        )
        fx: dict = {
            "n_vectors": n_total,
            "edge_build": {"wall_s": build, "edges": n_edges, "load1": load()},
        }
        for name, fn in ops.items():
            df = fn(spark, SCRATCH_ANN)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rs, rows = [], -1
            for _ in range(2):  # 2 runs: first pays JIT/scan warmup
                t0 = time.perf_counter()
                rows = df.count()
                rs.append(round(time.perf_counter() - t0, 3))
            fx[name] = {
                "wall_s": min(rs),
                "runs": rs,
                "rows": rows,
                "load1": load(),
                # SinglePartition exchanges in these plans carry only
                # scalar aggregates (triangle total: 1 row; pagerank's
                # per-iteration node-count: 1 row) — never an edge- or
                # candidate-sized relation; top-n is TakeOrdered.
                "single_partition_exchanges": plan.count("Exchange SinglePartition"),
                "has_takeordered": "TakeOrderedAndProject" in plan,
            }
        out[f"factor_{factor}"] = fx
    for name in ops:
        w10 = out["factor_10"][name]["wall_s"]
        w100 = out["factor_100"][name]["wall_s"]
        out.setdefault("wall_ratio_100x_over_10x", {})[name] = (
            round(w100 / w10, 2) if w10 > 0 else None
        )
    return out


def ann_stress(spark) -> dict:
    """Time the ANN tier against the exact GEMM baseline on the
    amplified corpus; report wall + recall@3 for each method, with the
    1-minute load average alongside every timing (VERDICT r03 #4:
    timings on a contended host are meaningless without it).

    PQ additionally reports the build/query split: training + encode
    materialize the stored code table ONCE (the FAISS index-build
    phase; at 100 TB the code table is the stored representation), and
    the per-query cost is the LUT + ADC scan over 8-byte codes + exact
    rerank — the number that competes with the exact scan."""
    from knn_with_mapreduce_cuda_spark.operators import llm
    from knn_with_mapreduce_cuda_spark.plans.gemm_knn import knn_topk_gemm
    from pyspark.sql import Window

    def load():
        return round(os.getloadavg()[0], 1)

    n_total = amplify_embeddings(spark)
    e = tables.embeddings(spark, SCRATCH_ANN)
    q = e.filter(col("vec_id") % ANN_QMOD == 0).select(
        col("vec_id").alias("qid"), col("emb").alias("qemb")
    )
    t = e.select(col("vec_id").alias("tid"), col("emb").alias("temb"))
    out = {"n_vectors": n_total, "n_queries": q.count(), "qmod": ANN_QMOD}
    t0 = time.perf_counter()
    exact = {(r.qid, r.tid) for r in knn_topk_gemm(q, t, k=3).collect()}
    out["exact_gemm"] = {
        "wall_s": round(time.perf_counter() - t0, 3),
        "rows": len(exact),
        "load1": load(),
    }
    for name, fn in [
        ("hamming", llm._q_simsearch_hamming),
        ("pq", llm._q_simsearch_pq),
        ("ivfpq", llm._q_simsearch_ivfpq),
    ]:
        t0 = time.perf_counter()
        got = {(r.qid, r.tid) for r in fn(spark, SCRATCH_ANN, qmod=ANN_QMOD).collect()}
        out[name] = {
            "wall_s": round(time.perf_counter() - t0, 3),
            "rows": len(got),
            "recall_at_3": round(len(got & exact) / max(len(exact), 1), 4),
            "load1": load(),
        }

    # PQ build/query split: materialize the code table (index build),
    # then time the query path alone against the stored codes.
    code_dir = f"{SCRATCH_ANN}/pq_codes.parquet"
    t0 = time.perf_counter()
    model = llm._pq_fit(spark, SCRATCH_ANN)
    enc, offs = llm._pq_encode(spark, llm._pq_iv(e), model)
    enc.write.mode("overwrite").parquet(code_dir)
    build_s = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    codes = spark.read.parquet(code_dir)
    lut = llm._pq_lut_df(spark, llm._pq_iv(e), model, ANN_QMOD)
    # BNLJ fan-out rule (ADVICE r04): repartition the streamed code
    # table so the ADC scan parallelizes, as the graded query path does.
    fanout = spark.sparkContext.defaultParallelism
    scan = (
        codes.repartition(fanout, col("tid"))
        .join(F.broadcast(lut), col("qid") != col("tid"))
        .withColumn("adc_q", llm._pq_adc_col(offs))
    )
    wc = Window.partitionBy("qid").orderBy("adc_q", "tid")
    short = scan.withColumn("crn", F.row_number().over(wc)).filter(
        col("crn") <= llm.PQ_CAND
    )
    got = {
        (r.qid, r.tid)
        for r in llm._pq_rerank(e, short, ANN_QMOD, llm.PQ_TOPK).collect()
    }
    out["pq_split"] = {
        "build_s": build_s,
        "query_s": round(time.perf_counter() - t0, 3),
        "rows": len(got),
        "recall_at_3": round(len(got & exact) / max(len(exact), 1), 4),
        "load1": load(),
    }
    return out


SCRATCH_SKETCH = _scale_scratch("SCALE_SCRATCH_SKETCH", "scale_sketch")
DOC_FACTOR = int(os.environ.get("DOC_FACTOR", "60"))


def amplify_documents(spark, factor: int | None = None) -> int:
    """factor× (default DOC_FACTOR×) copies of documents with shifted
    doc_ids and a per-replica marker token appended, so the vocabulary
    grows with the corpus (Heaps-ish) instead of 60-way exact clones."""
    factor = DOC_FACTOR if factor is None else factor
    tables.invalidate_caches(SCRATCH_SKETCH)
    shutil.rmtree(SCRATCH_SKETCH, ignore_errors=True)
    os.makedirs(SCRATCH_SKETCH)
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = d.count()
    rep = spark.range(factor).select(col("id").alias("_r"))
    tail = F.concat(lit(" rep"), col("_r").cast("string"))
    amp = d.crossJoin(rep).select(
        (col("doc_id") + col("_r") * n).alias("doc_id"),
        F.concat(col("text"), tail).alias("text"),
        "lang",
        "source",
        (col("n_chars") + F.length(tail)).alias("n_chars"),
    )
    _write(amp, "doc_id", f"{SCRATCH_SKETCH}/documents.parquet")
    return n * factor


def sketch_stress(spark) -> dict:
    """Round 5 (VERDICT r04 #2): exercise the CMS and bloom at a corpus
    where the capped/shuffle regimes BIND — the fixture scales only
    ever see the broadcast regime, so this is the only place the 100 TB
    join path actually runs. Checks, per sketch: the width/regime the
    driver-side rule picks, the physical join in the live plan, the
    correctness invariants (est>=exact / no false negatives), the
    error actually measured vs the bound, and the wall."""
    from knn_with_mapreduce_cuda_spark.operators import llm

    def load():
        return round(os.getloadavg()[0], 1)

    def plan_of(df) -> str:
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )

    n_docs = amplify_documents(spark)
    out = {"n_docs": n_docs, "doc_factor": DOC_FACTOR}

    # --- CMS at the cap ---
    w = llm._cms_width(n_docs)
    assert w == llm.CMS_W_CAP, (w, n_docs)
    assert not llm._cms_use_broadcast(w)
    df = llm._q_heavy_hitters_cms(spark, SCRATCH_SKETCH)
    plan = plan_of(df)
    cells_shuffle_join = ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    t0 = time.perf_counter()
    rows = df.collect()
    cms_wall = round(time.perf_counter() - t0, 3)
    l1 = (
        llm._tokens(spark, SCRATCH_SKETCH)
        .select(F.explode("ts").alias("t"))
        .count()
    )
    overcounts = [r.est_c - r.exact_c for r in rows]
    out["cms"] = {
        "width": w,
        "capped": True,
        "cells_join_is_shuffle": cells_shuffle_join,
        "wall_s": cms_wall,
        "rows": len(rows),
        "est_ge_exact": all(r.est_c >= r.exact_c for r in rows),
        "l1_tokens": l1,
        "mean_overcount": round(sum(overcounts) / len(overcounts), 1),
        "bound_l1_over_w": round(l1 / w, 1),
        "max_overcount_vs_top20_count": round(
            max(overcounts) / min(r.exact_c for r in rows), 6
        ),
        "load1": load(),
    }
    assert out["cms"]["est_ge_exact"]
    assert cells_shuffle_join, "capped CMS grid must not broadcast"

    # --- bloom past the broadcast bound ---
    assert not llm._bloom_use_broadcast(n_docs)
    bdf = llm._q_dedup_bloom(spark, SCRATCH_SKETCH)
    bplan = plan_of(bdf)
    bloom_shuffle_semi = "BroadcastHashJoin LeftSemi" not in bplan
    t0 = time.perf_counter()
    verdicts = bdf.collect()
    bloom_wall = round(time.perf_counter() - t0, 3)
    fn = sum(1 for r in verdicts if r.exact_dup == 1 and r.bloom_hit == 0)
    probes = [r for r in verdicts if r.exact_dup == 0]
    fp = sum(r.bloom_hit for r in probes)
    import math

    bound = (1 - math.exp(-0.5 / llm.BLOOM_M_PER_ROW)) ** llm.BLOOM_K
    out["bloom"] = {
        "m": llm.BLOOM_M_PER_ROW * n_docs,
        "probe_join_is_shuffle": bloom_shuffle_semi,
        "wall_s": bloom_wall,
        "verdicts": len(verdicts),
        "false_negatives": fn,
        "fp_rate": round(fp / max(len(probes), 1), 6),
        "fp_bound_theory": round(bound, 6),
        "load1": load(),
    }
    assert fn == 0, "bloom must never miss a member"
    assert bloom_shuffle_semi, "over-bound bloom must not broadcast"
    return out


def text_stress(spark) -> dict:
    """Text-analysis family at amplified corpus scale (round 6): the
    last LLM-pipeline tier without a dedicated scale proof (ANN r04/r05,
    sketches r05, graph r06). Runs the graded tokenize / ngram / tfidf /
    bm25 / lang-id / quality / gopher-repetition / pack-sequences
    operators on the amplified documents table at 10× and 60×
    (50k / 300k docs — the 60× corpus is the same size the sketch tier
    was proven at), timing FULL materialization through a noop sink
    (count() would let Catalyst prune the expression columns on the
    per-doc operators) and recording, per op:

    - wall (best of 2; first run pays scan/JIT warmup), rows, load1;
    - Exchange SinglePartition count in the executed plan — expected
      only as 1-row scalar aggregates (tfidf/bm25's corpus-size /
      avgdl), NEVER a token- or doc-sized relation;
    - for pack_sequences: the plan must carry the grouped prefix scan's
      slice-id repartition (the per-lang window fold this round removed
      would show up here as a windowspecdefinition partitioned by lang
      alone);
    - the 60×/10× wall ratio: token volume scales linearly with docs,
      so a super-linear ratio (quadratic stage, fold) blows it out.
    """
    from knn_with_mapreduce_cuda_spark.operators import llm
    from knn_with_mapreduce_cuda_spark.plans import prefix as prefix_mod

    def load():
        return round(os.getloadavg()[0], 1)

    ops = {
        "llm_text_tokenize": llm._q_text_tokenize,
        "llm_text_ngram": llm._q_text_ngram,
        "llm_text_tfidf": llm._q_text_tfidf,
        "llm_search_bm25": llm._q_search_bm25,
        "llm_lang_id": llm._q_lang_id,
        "llm_quality_score": llm._q_quality_score,
        "llm_gopher_repetition": llm._q_gopher_repetition,
        "llm_pack_sequences": llm._q_pack_sequences,
    }
    out: dict = {}
    for factor in (10, 60):
        n_docs = amplify_documents(spark, factor)
        fx: dict = {"n_docs": n_docs}
        for name, fn in ops.items():
            df = fn(spark, SCRATCH_SKETCH)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rs = []
            for _ in range(2):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                rs.append(round(time.perf_counter() - t0, 3))
            rec = {
                "wall_s": min(rs),
                "runs": rs,
                "rows": df.count(),
                "load1": load(),
                "single_partition_exchanges": plan.count(
                    "Exchange SinglePartition"
                ),
            }
            if name == "llm_pack_sequences":
                rec["grouped_scan_in_plan"] = prefix_mod._PID in plan
                rec["per_lang_window_fold"] = any(
                    "lang" in m and prefix_mod._PID not in m
                    for m in _window_specs(plan)
                )
            fx[name] = rec
        out[f"factor_{factor}"] = fx
    for name in ops:
        w10 = out["factor_10"][name]["wall_s"]
        w60 = out["factor_60"][name]["wall_s"]
        out.setdefault("wall_ratio_60x_over_10x", {})[name] = (
            round(w60 / w10, 2) if w10 > 0 else None
        )
    return out


def multimodal_stress(spark) -> dict:
    """Multimodal (binary-payload) family at amplified corpus scale
    (round 6): the Arrow/mapInPandas plumbing is the part a real codec
    would slot into, so the stress proves the BATCH path — payloads
    stream through ArrowEvalPython/MapInPandas in bounded Arrow batches
    (10k rows/batch default), never a per-row Python UDF and never a
    collected relation. Walls over full noop-sink materialization at
    10× and 60× (50k / 300k docs), SinglePartition exchanges audited
    (expected 0: the ops are map-only or broadcast-joined)."""
    from knn_with_mapreduce_cuda_spark.operators import llm

    def load():
        return round(os.getloadavg()[0], 1)

    ops = {
        "llm_multimodal_features": llm._q_multimodal_features,
        "llm_multimodal_framesample": llm._q_multimodal_framesample,
        "llm_multimodal_resize": llm._q_multimodal_resize,
        "llm_multimodal_join": llm._q_multimodal_join,
    }
    out: dict = {}
    for factor in (10, 60):
        n_docs = amplify_documents(spark, factor)
        # doc-aligned amplified embeddings: replica r shifts vec_id by
        # r * n_docs_base, the same shift amplify_documents applies to
        # doc_id — so the docs⋈embeddings match count grows with the
        # factor instead of pinning at the base corpus.
        e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        n_docs_base = n_docs // factor
        rep = spark.range(factor).select(col("id").alias("_r"))
        amp_e = e.crossJoin(rep).select(
            (col("vec_id") + col("_r") * n_docs_base).alias("vec_id"),
            "embedding",
            "label",
        )
        _write(amp_e, "vec_id", f"{SCRATCH_SKETCH}/embeddings.parquet")
        tables.invalidate_caches(SCRATCH_SKETCH)
        fx: dict = {"n_docs": n_docs}
        for name, fn in ops.items():
            df = fn(spark, SCRATCH_SKETCH)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rs = []
            for _ in range(2):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                rs.append(round(time.perf_counter() - t0, 3))
            fx[name] = {
                "wall_s": min(rs),
                "runs": rs,
                "rows": df.count(),
                "load1": load(),
                "arrow_batched": ("MapInPandas" in plan)
                or ("ArrowEvalPython" in plan),
                "single_partition_exchanges": plan.count(
                    "Exchange SinglePartition"
                ),
                "python_row_udf": "BatchEvalPython" in plan,
            }
        out[f"factor_{factor}"] = fx
    for name in ops:
        w10 = out["factor_10"][name]["wall_s"]
        w60 = out["factor_60"][name]["wall_s"]
        out.setdefault("wall_ratio_60x_over_10x", {})[name] = (
            round(w60 / w10, 2) if w10 > 0 else None
        )
    return out


def udf_ladder_stress(spark) -> dict:
    """Measure the UDF cost ladder (SCALE.md §8) in THIS container
    instead of citing literature ratios: the same conditional-affine
    computation over 5 M rows as (a) a row `@udf`, (b) an Arrow
    `@pandas_udf`, (c) a built-in Catalyst expression. Walls over full
    noop-sink materialization, best of 2 (first run pays Python worker
    startup / codegen). Row-vs-pandas is the '10-100×' claim; pandas-vs-
    builtin is the 'stay JVM-side' claim."""
    from pyspark.sql.types import DoubleType

    n = 5_000_000
    d = spark.range(n).select(((col("id") % 997).cast("double")).alias("x"))

    @F.udf(DoubleType())
    def f_row(x):
        return x * 0.5 + 1.0 if x > 100.0 else x

    @F.pandas_udf(DoubleType())
    def f_vec(x: pd.Series) -> pd.Series:
        return (x * 0.5 + 1.0).where(x > 100.0, x)

    builtin = F.when(col("x") > 100.0, col("x") * 0.5 + 1.0).otherwise(col("x"))

    out: dict = {
        "rows": n,
        # record the row-UDF serialization regime in force (unset =
        # Spark 4.1 default: pickled rows, no Arrow optimization)
        "python_udf_arrow_enabled": spark.conf.get(
            "spark.sql.execution.pythonUDF.arrow.enabled", None
        ),
    }

    def timed(name, c):
        df = d.select(c.alias("y"))
        rs = []
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            rs.append(round(time.perf_counter() - t0, 3))
        out[name] = {
            "wall_s": min(rs),
            "runs": rs,
            "mrows_per_s": round(n / 1e6 / min(rs), 1),
            "load1": round(os.getloadavg()[0], 1),
        }

    timed("row_udf", f_row("x"))
    timed("pandas_udf", f_vec("x"))
    timed("builtin", builtin)
    out["row_over_pandas"] = round(
        out["row_udf"]["wall_s"] / out["pandas_udf"]["wall_s"], 1
    )
    out["pandas_over_builtin"] = round(
        out["pandas_udf"]["wall_s"] / out["builtin"]["wall_s"], 1
    )
    out["row_over_builtin"] = round(
        out["row_udf"]["wall_s"] / out["builtin"]["wall_s"], 1
    )
    return out


def _window_specs(plan: str) -> list[str]:
    import re

    return [m.group(1) for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan)]


def main() -> None:
    from bench import q3_shape  # the graded bench shape (r11: aggregate-first)

    SPARK_QUERIES["rel_join_broadcast_q3"] = q3_shape
    spark = get_spark("scale-proof")
    spark.sparkContext.setLogLevel("ERROR")
    if os.environ.get("SCALE_ANN"):
        print(json.dumps({"ann_stress": ann_stress(spark)}, indent=2))
        return
    if os.environ.get("SCALE_SKETCH"):
        print(json.dumps({"sketch_stress": sketch_stress(spark)}, indent=2))
        return
    if os.environ.get("SCALE_GRAPH"):
        print(json.dumps({"graph_stress": graph_stress(spark)}, indent=2))
        return
    if os.environ.get("SCALE_TEXT"):
        print(json.dumps({"text_stress": text_stress(spark)}, indent=2))
        return
    if os.environ.get("SCALE_MM"):
        print(json.dumps({"multimodal_stress": multimodal_stress(spark)}, indent=2))
        return
    if os.environ.get("SCALE_UDF"):
        print(json.dumps({"udf_ladder": udf_ladder_stress(spark)}, indent=2))
        return
    if os.environ.get("SCALE_GEMM"):
        print(json.dumps({"gemm_chunked": gemm_chunked_stress(spark)}, indent=2))
        return
    t0 = time.perf_counter()
    amplify(spark)
    amplify_bucketed(spark)
    result = {
        "factor": FACTOR,
        "amplify_s": round(time.perf_counter() - t0, 3),
        "weak_queries": time_weak_queries(spark),
    }
    # the GEMM / LSH stress sections are factor-independent; skip them
    # when sweeping amplification factors for the weak-query gate.
    if not os.environ.get("SCALE_ONLY_WEAK"):
        result["gemm_chunked"] = gemm_chunked_stress(spark)
        result["minhash_bucket_guard"] = minhash_bucket_guard(spark)
    print(json.dumps(result, indent=2))


if __name__ == "__main__":
    main()
