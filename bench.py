#!/usr/bin/env python
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line. Compare against BASELINE.md (DuckDB 1.0.0, 4 threads, sf0.1):

    rel_agg_hash 58 ms | rel_join_broadcast 44 ms | knn_classify
    (2000x2000, k=10) 9,107 ms | str_window_session 12 ms

The kNN rows run the GEMM mapInPandas strategy (plans/gemm_knn.py) — the
row where Spark beats the baseline by an order of magnitude; the small
relational queries pay Spark's per-job overhead, which is why the suite
metric is total seconds (matching how the baseline table is read).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Window, functions as F
from pyspark.sql.functions import col

from knn_with_mapreduce_cuda_spark import tables
from knn_with_mapreduce_cuda_spark.operators import knn, relational, streaming_batch
from knn_with_mapreduce_cuda_spark.plans.gemm_knn import cosine_topk_gemm, knn_topk_gemm
from knn_with_mapreduce_cuda_spark.session import get_spark


def q3_shape(spark, sf_dir):
    """Q3 star join over flat files, AGGREGATE-FIRST + shuffle-semi
    (the r11 form — VERDICT r10 #2, A/B'd in scripts/q3_aggfirst_r11.py
    and scripts/q3_aggfirst_100x_r11.py, losers recorded there):

    - lineitem aggregates revenue by l_orderkey FIRST: the map-side
      partial aggregate collapses ~4 lines/order BEFORE the exchange,
      so the one hash(l_orderkey) shuffle carries skinny partial
      groups, not raw rows (plan shows partial_sum below the Exchange;
      pinned in tests/test_plans.py);
    - orders reduces against a broadcast of the BUILDING customer KEYS
      (bounded: the dimension side, left semi so the hashed relation
      carries keys only);
    - the aggregated side then semi-joins the reduced orderkeys as a
      SHUFFLE_HASH join that CONSUMES the aggregation's partitioning —
      still exactly one hash exchange per fact side, none between the
      aggregate and the join.

    Trade vs the r09 reduce-first form (semi-filter raw lineitem, then
    aggregate): aggregate-first computes revenue for every orderkey
    (~5× the BUILDING-qualifying set) but shuffles partial aggregates
    instead of raw rows. Measured BOTH scales, same session, answers
    asserted identical: sf0.1 median 0.494 vs 0.616; 100× (60 M
    lineitem rows) 2.42 s vs 3.65 s — 1.68× vs 2.53× against the
    4-thread DuckDB twin. The shrink wins wherever lines-per-order > 1;
    on a filter so selective that qualifying orders are rare, the
    reduce-first form (kept in the A/B script) is the fallback.

    The bucketed-layout twin (q3_bucketed) remains the engine's
    documented 100 TB lake layout for recurring orderkey joins — zero
    fact-side exchanges."""
    cust = tables.table(spark, sf_dir, "customer")
    orders = tables.table(spark, sf_dir, "orders")
    li = tables.table(spark, sf_dir, "lineitem")
    bo = orders.join(
        F.broadcast(
            cust.filter(col("c_mktsegment") == "BUILDING").select("c_custkey")
        ),
        col("o_custkey") == col("c_custkey"),
        "left_semi",
    ).select("o_orderkey")
    rev = li.groupBy(col("l_orderkey").alias("o_orderkey")).agg(
        F.sum(col("l_extendedprice") * (1 - col("l_discount"))).alias("revenue")
    )
    return (
        rev.join(bo.hint("SHUFFLE_HASH"), "o_orderkey", "left_semi")
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def knn_classify_gemm(spark, sf_dir):
    e = tables.embeddings(spark, sf_dir)
    q = knn.split_test(e)
    t = knn.train_all(e)
    top = knn_topk_gemm(q.select("qid", "qemb"), t.select("tid", "temb"), 10)
    # Broadcast the label dims explicitly: without the hint Catalyst
    # broadcasts the TOPK side (statistics after the window filter look
    # tiny), which re-runs the GEMM subtree as a broadcast-build job and
    # discards the topk's hash(qid) partitioning — costing two extra
    # exchanges in the vote. Hinted, the n_q*k candidates stay streamed,
    # the vote's agg+window reuse hash(qid), and the whole classify tail
    # holds ONE exchange (measured 1.16 -> 0.90 s at sf0.1; SCALE.md
    # 9a). At 100 TB the dims stay broadcastable per query block while
    # the candidate relation never concentrates on one node.
    labeled = top.join(F.broadcast(t.select("tid", "tlabel")), "tid").join(
        F.broadcast(q.select("qid", "qlabel")), "qid"
    )
    return knn.majority_vote(labeled)


def knn_classify_full_gemm(spark, sf_dir):
    """All-vectors classify — the BASELINE.md knn_classify shape (ALL
    2000×2000 pairs at sf0.1, self excluded, k=10, vote). The headline
    knn_classify row keeps its r01 shape (the %5 test split, 400
    queries) for artifact continuity; this EXTRA row exists so the
    same-session `spark_matching_subtotal` compares identical pair
    counts with the DuckDB probe, tested value-equal at the smoke SF in
    tests/test_bench_probes.py."""
    e = tables.embeddings(spark, sf_dir)
    t = knn.train_all(e)
    q = e.select(
        col("vec_id").alias("qid"),
        col("emb").alias("qemb"),
        col("label").alias("qlabel"),
    )
    top = knn_topk_gemm(q.select("qid", "qemb"), t.select("tid", "temb"), 10)
    # Broadcast the label dims explicitly: without the hint Catalyst
    # broadcasts the TOPK side (statistics after the window filter look
    # tiny), which re-runs the GEMM subtree as a broadcast-build job and
    # discards the topk's hash(qid) partitioning — costing two extra
    # exchanges in the vote. Hinted, the n_q*k candidates stay streamed,
    # the vote's agg+window reuse hash(qid), and the whole classify tail
    # holds ONE exchange (measured 1.16 -> 0.90 s at sf0.1; SCALE.md
    # 9a). At 100 TB the dims stay broadcastable per query block while
    # the candidate relation never concentrates on one node.
    labeled = top.join(F.broadcast(t.select("tid", "tlabel")), "tid").join(
        F.broadcast(q.select("qid", "qlabel")), "qid"
    )
    return knn.majority_vote(labeled)


def knn_join_full_gemm(spark, sf_dir):
    e = tables.embeddings(spark, sf_dir)
    q = e.select(col("vec_id").alias("qid"), col("emb").alias("qemb"))
    t = e.select(col("vec_id").alias("tid"), col("emb").alias("temb"))
    return knn_topk_gemm(q, t, 10)


def simsearch_full_gemm(spark, sf_dir):
    e = tables.embeddings(spark, sf_dir)
    q = e.select(col("vec_id").alias("qid"), col("emb").alias("qemb"))
    t = e.select(col("vec_id").alias("tid"), col("emb").alias("temb"))
    return cosine_topk_gemm(q, t, 10)


def tpch_q5(spark, sf_dir):
    from knn_with_mapreduce_cuda_spark.operators import tpch

    return tpch._q5(spark, sf_dir)


def minhash_dedup(spark, sf_dir):
    from knn_with_mapreduce_cuda_spark.operators import llm

    return llm._q_dedup_near_minhash(spark, sf_dir)


BUCKETS = 32


def _bench_scratch() -> str:
    """Bench scratch (bucketed tables + chunked sink) under the
    VALIDATED uid-owned 0o700 scratch root — ADVICE r08: the old fixed
    /tmp/spark_graft_bench_bucketed was the same multi-user /tmp trust
    class the index scratch eliminated in r05 (another local user could
    pre-create it or inject parquet between block writes and the final
    read-back). Resolved lazily: _scratch_root() creates/validates on
    first touch."""
    from knn_with_mapreduce_cuda_spark.operators.llm import _scratch_root

    return os.path.join(_scratch_root(), "bench_bucketed")


def setup_bucketed(spark, sf_dir) -> None:
    """One-time (per bench run, untimed — index-build class, like the
    warm-up scan): write lineitem/orders as bucketed+sorted tables on
    the orderkey — the engine's documented 100 TB lake layout for
    Q3-class fact⋈fact queries (SCALE.md §2/§9c). The timed query then
    holds ONE exchange (the broadcast of filtered customer keys):
    orders⋈lineitem merge-joins bucket-to-bucket and the per-orderkey
    aggregation inherits the partitioning."""
    li = tables.table(spark, sf_dir, "lineitem")
    o = tables.table(spark, sf_dir, "orders")
    for t in ("bench_li_b", "bench_ord_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    (
        li.repartition(BUCKETS, col("l_orderkey"))
        .write.mode("overwrite")
        .bucketBy(BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", f"{_bench_scratch()}/lineitem")
        .saveAsTable("bench_li_b")
    )
    (
        o.repartition(BUCKETS, col("o_orderkey"))
        .write.mode("overwrite")
        .bucketBy(BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", f"{_bench_scratch()}/orders")
        .saveAsTable("bench_ord_b")
    )


def q3_bucketed(spark, sf_dir):
    """Q3 over the bucketed layout (cf. q3_shape, the flat-layout twin;
    VERDICT r03 #4: the bucketed margin belongs in the bench artifact of
    record, not only in one-off scale_proof runs)."""
    lib = spark.table("bench_li_b")
    ob = spark.table("bench_ord_b")
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


def naive_bayes(spark, sf_dir):
    from knn_with_mapreduce_cuda_spark.operators import llm

    return llm._q_naive_bayes(spark, sf_dir)


def simsearch_pq_stored(spark, sf_dir):
    """PQ search over the stored index (build untimed in main(), like
    the bucketed-layout setup — index-build-class work)."""
    from knn_with_mapreduce_cuda_spark.operators import llm

    return llm._q_simsearch_pq_stored(spark, sf_dir)


#: blocks the chunked bench row splits the probe set into — ≥4 so the
#: outer loop (block select → GEMM → flush → broadcast destroy) is
#: genuinely exercised, not collapsed to the single-block fast path.
CHUNKED_BLOCKS = 4


def knn_join_chunked(spark, sf_dir):
    """knn_join via the CHUNKED GEMM entry (plans/gemm_knn.py:
    knn_topk_gemm_chunked) forced to CHUNKED_BLOCKS query blocks —
    VERDICT r07 #6: the bounded-broadcast-residency design the 100 TB
    claim rests on was never in the bench artifact; this row times the
    full outer loop (per-block broadcast build, GEMM, parquet flush,
    broadcast destroy, final sink scan). Values are pinned identical to
    the single-block row in tests/test_bench_probes.py."""
    from knn_with_mapreduce_cuda_spark.plans.gemm_knn import (
        _rows_upper_bound,
        knn_topk_gemm_chunked,
    )

    e = tables.embeddings(spark, sf_dir)
    q = e.select(col("vec_id").alias("qid"), col("emb").alias("qemb"))
    t = e.select(col("vec_id").alias("tid"), col("emb").alias("temb"))
    n = _rows_upper_bound(q)
    if n is None:
        n = q.count()
    return knn_topk_gemm_chunked(
        q, t, 10,
        query_block_rows=max(1, -(-n // CHUNKED_BLOCKS)),
        n_queries=n,
        # fixed sink UNDER THE VALIDATED SCRATCH ROOT, block 0
        # overwrites: a per-call mkdtemp would leak one parquet dir per
        # timed run (review r08), and a fixed /tmp path was injectable
        # by other local users (ADVICE r08).
        sink_path=f"{_bench_scratch()}_chunked_sink",
    )


def q3_shape_floor(spark, sf_dir):
    """Structurally identical no-op twin of q3_shape — same operator
    chain (partial/final groupBy, broadcast-semi reduce, SHUFFLE_HASH
    semi consuming the agg partitioning, takeOrdered) over near-zero
    synthetic data, so its wall time is the pure scheduling/shuffle-
    machinery floor of the SHAPE on this host (VERDICT r09 #2b: "a
    recorded decomposition proving the residual is irreducible
    scheduling floor"). The sf0.1 fact sides are ~40 ms of actual work
    for DuckDB; whatever this twin costs is what Spark's job/stage/task
    machinery charges any plan of this shape regardless of data size —
    the honest subtrahend for the floor-adjusted ratio. Mirrors the
    r11 aggregate-first plan."""
    o = spark.range(0, 64, 1, 8).select(
        col("id").alias("o_orderkey"), (col("id") % 10).alias("o_custkey")
    )
    c = spark.range(0, 5).select(col("id").alias("c_custkey"))
    li = spark.range(0, 256, 1, 8).select(
        (col("id") % 64).alias("l_orderkey"),
        F.lit(1.0).alias("l_extendedprice"),
        F.lit(0.1).alias("l_discount"),
    )
    bo = o.join(
        F.broadcast(c), col("o_custkey") == col("c_custkey"), "left_semi"
    ).select("o_orderkey")
    rev = li.groupBy(col("l_orderkey").alias("o_orderkey")).agg(
        F.sum(col("l_extendedprice") * (1 - col("l_discount"))).alias("revenue")
    )
    return (
        rev.join(bo.hint("SHUFFLE_HASH"), "o_orderkey", "left_semi")
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def agg_shape_floor(spark, sf_dir):
    """Structurally identical no-op twin of the rel_agg_hash row
    (filter → 2-key groupBy → 8 aggregates → sort) over near-zero
    synthetic data — the scheduling/shuffle floor of the Q1 shape, same
    rationale as q3_shape_floor (VERDICT r09 #2: rel_agg_hash is the
    other floor-dominated matching row; its DuckDB twin runs below
    Spark's job floor, so only a shape-adjusted ratio separates plan
    cost from machinery cost)."""
    df = spark.range(0, 256, 1, 8).select(
        (col("id") % 3).alias("l_returnflag"),
        (col("id") % 2).alias("l_linestatus"),
        (col("id") % 50).alias("l_quantity"),
        F.lit(1.0).alias("l_extendedprice"),
        F.lit(0.05).alias("l_discount"),
        F.lit(0.02).alias("l_tax"),
        col("id").alias("l_shipdate"),
    )
    return (
        df.filter(col("l_shipdate") <= 10_000)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base"),
            F.sum(col("l_extendedprice") * (1 - col("l_discount"))).alias("sum_disc"),
            F.sum(
                col("l_extendedprice") * (1 - col("l_discount")) * (1 + col("l_tax"))
            ).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


#: no-op structural twins measured after the suite (VERDICT r09 #2b):
#: row wall-time minus its shape floor is the data-dependent plan cost,
#: the honest numerator for a ratio against a sub-100 ms DuckDB twin.
SHAPE_FLOORS = {
    "rel_join_broadcast_q3": q3_shape_floor,
    "rel_agg_hash": agg_shape_floor,
}


def _jvm_counters(spark) -> dict:
    """Best-effort JVM health counters for the regated matching block
    (r12 forensics: one final-bench run read knn 20.2/15.9/11.9 s with
    CPU ~= wall — one thread's worth of real burn — while even the
    near-zero-data shape floors read 3.4-4.3 s, i.e. the JVM itself was
    degraded, not the plan). Recording JIT compilation time, GC
    time/count, class load/unload and code-cache occupancy per sample
    puts the diagnosis IN the artifact whenever the bistable state
    recurs: a code-cache near its max with jit_ms exploding is the
    compile/flush/interpret spiral; loaded/unloaded churn is codegen
    regeneration; none of them moving points off-JVM (host). Detail
    JSON only — the summary line is unchanged."""
    try:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        gcs = mf.getGarbageCollectorMXBeans()
        n = t = 0
        for i in range(gcs.size()):
            b = gcs.get(i)
            n += max(b.getCollectionCount(), 0)
            t += max(b.getCollectionTime(), 0)
        cl = mf.getClassLoadingMXBean()
        cc_used = 0
        cc_max: int | None = 0
        pools = mf.getMemoryPoolMXBeans()
        for i in range(pools.size()):
            p = pools.get(i)
            if "CodeHeap" in p.getName() or "Code Cache" in p.getName():
                u = p.getUsage()
                cc_used += u.getUsed()
                # getMax() is -1 for a segment with no defined max: the
                # total is then unknown (null), not smaller or negative
                m = u.getMax()
                cc_max = None if cc_max is None or m < 0 else cc_max + m
        return {
            "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
            "gc_n": n,
            "gc_ms": t,
            "loaded": cl.getTotalLoadedClassCount(),
            "unloaded": cl.getUnloadedClassCount(),
            "cc_used_mb": round(cc_used / (1 << 20), 1),
            "cc_max_mb": None if cc_max is None else round(cc_max / (1 << 20), 1),
        }
    except Exception:
        return {}


def _jvm_delta(j0: dict, j1: dict) -> dict | None:
    """One sample's JVM diag entry from the ``_jvm_counters`` reads before
    and after it: cumulative counters differenced, code-cache gauges as
    read after. None (the sample's slot kept, marked unknown) when either
    read failed — an empty baseline would record the absolute cumulative
    counters as this sample's deltas."""
    if not j0 or not j1:
        return None
    return {
        k: j1[k] - j0[k] for k in ("jit_ms", "gc_ms", "gc_n", "loaded", "unloaded")
    } | {"cc_used_mb": j1["cc_used_mb"], "cc_max_mb": j1["cc_max_mb"]}


def _tree_cpu_seconds() -> float:
    """CPU seconds (utime+stime) of this process and every live
    descendant — the driver python, the Spark JVM, and the pyspark
    daemon/worker children that run Pandas-UDF stages. Read from
    /proc/*/stat in one pass (VERDICT r09 #2a: a per-row CPU companion
    makes ambient host load separable from plan cost without
    re-running — wall time inflates under contention, the tree's CPU
    time barely moves). Best-effort: a worker that exits between two
    reads drops its CPU from the later one, so deltas are clamped ≥ 0
    where consumed."""
    import glob as _glob

    me = os.getpid()
    clk = os.sysconf("SC_CLK_TCK")
    procs: dict[int, tuple[int, float]] = {}
    for path in _glob.glob("/proc/[0-9]*/stat"):
        try:
            raw = open(path).read()
        except OSError:
            continue  # process exited mid-scan
        head, _, tail = raw.rpartition(")")
        fields = tail.split()
        # fields[0] is state (field 3); utime/stime are fields 14/15
        pid = int(head.split("(", 1)[0])
        ppid = int(fields[1])
        cpu = (int(fields[11]) + int(fields[12])) / clk
        procs[pid] = (ppid, cpu)
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack = 0.0, [me]
    while stack:
        pid = stack.pop()
        if pid in procs:
            total += procs[pid][1]
            stack.extend(kids.get(pid, []))
    return total


#: Per-row session confs applied around a row's timed runs and restored
#: after (VERDICT r09 #2b) — the toy-scale end of the same two knobs
#: cluster_confs() pins for 100 TB (128m splits, 3×-cores shuffle
#: partitions), here sized to 10 MB files instead. Measured A/B, both
#: in scripts/ (q3_floor_r10.json, q3_splits_r10.json):
#:
#: - flat Q3: shuffle cap 8 (median 0.546 → 0.437; ~200 sub-ms tasks
#:   on a 38 ms problem otherwise; AQE parallelismFirst=false measured
#:   WORSE, 0.564 — local[32] coalesce planning costs what it saves)
#:   PLUS 1m input splits (0.44 → 0.39 same-session): lineitem.parquet
#:   at sf0.1 is 10.8 MB = ONE 128 MB split, so the scan and the
#:   map-side shuffle write of 600 k rows ran on one core while 31 sat
#:   idle (DuckDB scans with 4 threads).
#: - rel_agg_hash: 1m splits only (same-session A/B: uncapped 0.341 →
#:   split1m 0.214; adding the shuffle cap measured WORSE, 0.243 — the
#:   Q1 shuffle carries 6 groups and never needed capping).
#:
#: Task count and split size sized to the data, not a plan change
#: (plan pins unchanged, tests/test_plans.py).
ROW_CONFS: dict[str, dict[str, str]] = {
    "rel_join_broadcast_q3": {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.files.maxPartitionBytes": "1m",
    },
    "rel_agg_hash": {"spark.sql.files.maxPartitionBytes": "1m"},
}


BENCH_QUERIES = {
    "rel_agg_hash": lambda s, d: relational._q_agg_hash(s, d),
    "rel_join_broadcast_q3": q3_shape,
    "rel_join_broadcast_q3_bucketed": q3_bucketed,
    "tpch_q5_star_join": tpch_q5,
    "knn_classify": knn_classify_gemm,
    "knn_classify_full": knn_classify_full_gemm,
    "knn_join_2000x2000": knn_join_full_gemm,
    "simsearch_cosine_topk": simsearch_full_gemm,
    "minhash_dedup_5k_docs": minhash_dedup,
    "naive_bayes_langid": naive_bayes,
    "simsearch_pq_stored": simsearch_pq_stored,
    "knn_join_chunked_4blocks": knn_join_chunked,
    "str_window_session": streaming_batch._q_window_session,
}

#: the bucketed layout row measures the documented 100 TB lake layout,
#: not the flat-scan baseline the suite total is compared against —
#: keep it out of the headline sum so totals stay comparable across
#: rounds (r01-r03 artifacts predate it).
EXTRA_QUERIES = {
    "rel_join_broadcast_q3_bucketed",
    "simsearch_pq_stored",
    "knn_classify_full",
    "knn_join_chunked_4blocks",
}


#: Idle gate (VERDICT r04 #1 — BENCH_r04 ran at external load1 7.7-12.8
#: and regressed 43%, which round-5 reproduction pinned entirely on
#: host contention: the same code on a quiet host measured suite 6.14 s
#: and naive_bayes 1.14 s). The suite REFUSES to start measuring until
#: the 1-minute load average drops below IDLE_LOAD1, up to IDLE_TIMEOUT
#: seconds. The gate is checked BEFORE the suite because the bench's
#: own 32-thread bursts raise load1 to ~3.5 even on a fully idle box
#: (measured: start 0.55 → per-row post ~3.1-3.6) — so per-row fields
#: record load BEFORE each query block (external + decaying self-load)
#: and the pre-suite gate value is the clean host-quietness signal.
IDLE_LOAD1 = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_LOAD1", "2.0"))
IDLE_TIMEOUT = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_TIMEOUT", "900"))
#: mid-suite retry bar: self-load alone never pushes pre-row load1 past
#: ~3.5 (measured above), so a pre-row reading beyond IDLE_LOAD1 + 2.5
#: means external contention arrived mid-suite — re-gate and re-run the row.
SELF_LOAD_ALLOWANCE = 2.5


#: Same-session DuckDB twin of the four BASELINE.md suite rows
#: (VERDICT r05 #5: the static table was measured once in round 0 —
#: re-measuring in the SAME gated bench session makes the comparison
#: same-host, same-day, with the probe text pinned here so it stays
#: reproducible). The probes reproduce each row's documented shape
#: (BASELINE.md: Q1-shape agg, Q3 join+group+top10, brute-force
#: 2000×2000 kNN with list_distance + per-query row_number + vote,
#: lag/gap sessionize). NOTE: a well-formed kNN probe measures ~0.9 s
#: on the SAME DuckDB 1.0.0 — the static 9,107 ms row is not
#: reproducible and was a probe-formulation artifact of the round-0
#: measurement; the same-session fields below are therefore the
#: comparison of record going forward, with the static total kept for
#: continuity with earlier rounds' artifacts.
DUCK_PROBES = {
    "rel_agg_hash": (
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
        "sum(l_extendedprice) AS sum_base, "
        "sum(l_extendedprice*(1-l_discount)) AS sum_disc, "
        "sum(l_extendedprice*(1-l_discount)*(1+l_tax)) AS sum_charge, "
        "avg(l_quantity) AS avg_qty, avg(l_extendedprice) AS avg_price, "
        "avg(l_discount) AS avg_disc, count(*) AS n "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    ),
    "rel_join_broadcast": (
        "SELECT o_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey WHERE c_mktsegment = 'BUILDING' "
        "GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10"
    ),
    "knn_classify": (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label "
        "FROM embeddings), "
        "d AS (SELECT q.vec_id AS qid, q.label AS qlabel, t.vec_id AS tid, "
        "t.label AS tlabel, list_distance(q.emb, t.emb) AS dist "
        "FROM e q JOIN e t ON q.vec_id <> t.vec_id), "
        "k AS (SELECT * FROM d QUALIFY row_number() OVER "
        "(PARTITION BY qid ORDER BY dist, tid) <= 10), "
        "v AS (SELECT qid, qlabel, tlabel, count(*) AS c FROM k "
        "GROUP BY qid, qlabel, tlabel) "
        "SELECT qid, qlabel, tlabel AS pred FROM v QUALIFY row_number() OVER "
        "(PARTITION BY qid ORDER BY c DESC, tlabel) = 1"
    ),
    "str_window_session": (
        "WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu, event_id, "
        "CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS "
        "TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id)) "
        "> 1800000000 THEN 1 ELSE 0 END AS brk FROM events), "
        "s AS (SELECT user_id, tsu, sum(brk) OVER (PARTITION BY user_id "
        "ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM o) "
        "SELECT user_id, sid, min(tsu) AS start_ts, count(*) AS n_events "
        "FROM s GROUP BY user_id, sid"
    ),
}

#: spark bench rows that match the four baseline rows, for the
#: apples-to-apples same-session subtotal.
DUCK_MATCHING_SPARK = {
    "rel_agg_hash": "rel_agg_hash",
    "rel_join_broadcast": "rel_join_broadcast_q3",
    # NOT the headline knn_classify row: that one classifies only the
    # %5 test split (400 queries at sf0.1), while the BASELINE row and
    # its probe above run ALL 2000×2000 pairs — knn_classify_full is
    # the identical-work Spark twin (tests/test_bench_probes.py pins
    # each probe value-equivalent to its matching Spark row).
    "knn_classify": "knn_classify_full",
    "str_window_session": "str_window_session",
}


#: per-probe contention bar for the DuckDB block: it runs after a
#: _wait_for_idle gate, DuckDB is 4-thread and each probe sub-second, so
#: its own load1 contribution is ~0.1-0.3 — a reading past IDLE_LOAD1+1
#: means external contention, not self-load (VERDICT r08 #1a: the
#: 1.894→2.178 headline swing was 15% DuckDB-probe variance the old
#: ungated best-of-3 couldn't reject).
DUCK_LOAD_ALLOWANCE = 1.0
#: probe runs: 1 warm-up + DUCK_WARM_RUNS warm samples; the artifact
#: publishes best AND median-of-warm (VERDICT r08 #1b: best-of on one
#: side only amplifies the other side's variance into the ratio).
DUCK_WARM_RUNS = 4


def duckdb_twin_suite(
    sf_dir: str, deadline: float
) -> tuple[dict[str, float], dict[str, float], dict]:
    """Per-probe-gated DuckDB timings for the pinned BASELINE probes,
    measured in this same bench session (after the Spark rows, so the
    4-thread DuckDB bursts never contend with a timed Spark query).
    Each probe runs 1 warm-up + DUCK_WARM_RUNS warm samples; a probe
    whose pre- or post-load1 crossed the bar is re-gated and re-run
    once. Returns (best, median_of_warm, provenance-detail)."""
    import statistics

    from knn_with_mapreduce_cuda_spark.oracle import duck_connection

    con = duck_connection(sf_dir)
    con.execute("PRAGMA threads=4")  # BASELINE.md's config
    bar = IDLE_LOAD1 + DUCK_LOAD_ALLOWANCE
    best: dict[str, float] = {}
    med: dict[str, float] = {}
    detail: dict = {"runs": {}, "load1_pre": {}, "load1_post": {}, "regated": []}

    def _probe(sql: str) -> tuple[list[float], list[float]]:
        import resource

        rs, cs = [], []
        for _ in range(1 + DUCK_WARM_RUNS):
            r0 = resource.getrusage(resource.RUSAGE_SELF)
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            rs.append(round(time.perf_counter() - t0, 3))
            r1 = resource.getrusage(resource.RUSAGE_SELF)
            # DuckDB runs in-process: the rusage delta IS the probe's
            # CPU — the same companion statistic the Spark rows carry
            # (r09 #2a), so both sides of the ratio are decomposable.
            cs.append(
                round(r1.ru_utime - r0.ru_utime + r1.ru_stime - r0.ru_stime, 3)
            )
        return rs, cs

    detail["cpu_runs"] = {}
    for key, sql in DUCK_PROBES.items():
        pre = round(os.getloadavg()[0], 2)
        if pre >= bar and time.time() < deadline:
            detail["regated"].append(key)
            pre, _, _ = _wait_for_idle(deadline)
        rs, cs = _probe(sql)
        post = round(os.getloadavg()[0], 2)
        if post >= bar and time.time() < deadline:
            # contention arrived DURING the probe: re-gate, re-run once
            detail["regated"].append(key)
            pre, _, _ = _wait_for_idle(deadline)
            rs, cs = _probe(sql)
            post = round(os.getloadavg()[0], 2)
        best[key] = min(rs)
        med[key] = round(statistics.median(rs[1:]), 3)
        detail["runs"][key] = rs
        detail["cpu_runs"][key] = cs
        detail["load1_pre"][key] = pre
        detail["load1_post"][key] = post
    return best, med, detail


#: hard budget for the FINAL printed line. The driver records only the
#: last 2000 chars of bench stdout; BENCH_r06's one fat line outgrew
#: that tail and the artifact of record parsed as null (VERDICT r06
#: #1). The summary stays ~700 chars today; the margin below absorbs
#: suite growth, and past it per-query detail is dropped before any
#: headline field (everything dropped is still in BENCH_DETAIL.json
#: and the preceding detail line).
SUMMARY_LINE_BUDGET = 1500


def compact_line(summary: dict) -> str:
    """Shrink the final JSON line under SUMMARY_LINE_BUDGET. VERDICT r11
    #1 (the round's one contract breach): the old ladder dropped the
    per-query 'queries' map FIRST, so when the r11 matching-block fields
    fattened the line past the budget the driver lost the one map it
    compares round-over-round (PERF_r11 n_common=0) while per-row detail
    maps survived. The ladder now drops per-row detail maps first and the
    'queries' map LAST before the truncated core:

        warm_medians → matching_cpu_medians → matching_ratios →
        matching_medians → shape_floor_s → shape_floor_adjusted_ratios →
        non-matching queries → whole queries map → truncated core

    ADVICE r07 #1: each fallback RE-CHECKS the budget, and an overflow
    past the last fallback emits the guaranteed-small core rather than
    silently reprinting the over-budget line (the BENCH_r06
    null-artifact failure mode). Dropped detail stays in
    BENCH_DETAIL.json and the preceding detail line."""
    line = json.dumps(summary)
    for per_row in (
        "warm_medians",
        "matching_cpu_medians",
        "matching_ratios",
        "matching_medians",
        "shape_floor_s",
        "shape_floor_adjusted_ratios",
    ):
        # per-row detail maps — droppable before ANY cross-round field;
        # all of them live in BENCH_DETAIL.json and the detail line.
        if len(line) > SUMMARY_LINE_BUDGET and summary.get(per_row):
            summary = dict(summary)
            summary[per_row] = {}
            line = json.dumps(summary)
    if len(line) > SUMMARY_LINE_BUDGET and "queries" in summary:
        summary = dict(summary)
        summary["queries"] = {
            k: v
            for k, v in summary["queries"].items()
            if k in DUCK_MATCHING_SPARK.values()
        }
        line = json.dumps(summary)
    if len(line) > SUMMARY_LINE_BUDGET and "queries" in summary:
        summary = dict(summary)
        del summary["queries"]
        line = json.dumps(summary)
    if len(line) > SUMMARY_LINE_BUDGET:
        # Last resort (review r08: an `assert` here is stripped under
        # `python -O` — reintroducing the BENCH_r06 silent-overflow —
        # and under plain python it would discard the whole suite's
        # result after minutes of measurement). NEVER lose the
        # artifact: emit the guaranteed-small core the driver greps
        # for, flagged truncated; everything else is in
        # BENCH_DETAIL.json and the detail line.
        core = {k: summary[k] for k in ("metric", "value", "unit", "sf") if k in summary}
        core["truncated"] = True
        line = json.dumps(core)
    return line


def _wait_for_idle(deadline: float) -> tuple[float, float, bool]:
    """Block until load1 < IDLE_LOAD1 or the deadline passes. Returns
    (final load1, seconds waited, gate met)."""
    t0 = time.time()
    load = os.getloadavg()[0]
    while load >= IDLE_LOAD1 and time.time() < deadline:
        time.sleep(5)
        load = os.getloadavg()[0]
    return round(load, 2), round(time.time() - t0, 1), load < IDLE_LOAD1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    deadline = time.time() + IDLE_TIMEOUT
    gate_load, gate_wait, gate_met = _wait_for_idle(deadline)
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM/scan paths once so per-query timings measure the
    # query — EVERY table the suite reads, not just lineitem: a cold
    # parquet page cache charged kNN/doc rows' first runs up to ~3 s
    # of pure IO noise (r08 measurement), which best-of-N absorbs but
    # the spread/regate machinery then mis-reads as contention.
    for t in ("lineitem", "orders", "customer", "nation", "region",
              "supplier", "events", "documents"):
        tables.table(spark, sf_dir, t).count()
    tables.embeddings(spark, sf_dir).count()
    setup_bucketed(spark, sf_dir)  # untimed: index-build-class setup
    from knn_with_mapreduce_cuda_spark.operators import llm

    llm._pq_store(spark, sf_dir)  # untimed: PQ index build (stored-index row)

    # Empty-job floor (VERDICT r07 #3): Spark's per-job scheduling
    # overhead at this local[N] config, measured as a count() over a
    # 1-row cached frame (best-of-3, same gated session). The sub-100 ms
    # relational rows are floor-dominated — their same-session ratios
    # vs DuckDB are published raw AND floor-adjusted so a real plan
    # regression can't hide under "that's just the job floor".
    floor_df = spark.range(1).cache()
    floor_df.count()  # materialize the cache before timing
    floor_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        floor_df.count()
        floor_runs.append(round(time.perf_counter() - t0, 4))
    job_floor = min(floor_runs)
    floor_df.unpersist()

    # measurement provenance (VERDICT r03 #4/#6): every run of every
    # query is recorded, with the 1-minute load average alongside —
    # a best-of-n without the run spread and the host state is not a
    # reproducible claim on a shared machine.
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    cpu_runs: dict[str, list[float]] = {}  # process-tree CPU per run
    shape_floor_runs: dict[str, list[float]] = {}  # no-op twins (r09 #2b)
    contended: dict[str, list[float]] = {}  # pre-regate runs, provenance
    loads_pre: dict[str, float] = {}
    loads: dict[str, float] = {}
    retried: list[str] = []

    def run_block(
        fn, base: int = 3, gc_each: bool = False, diag: list | None = None
    ) -> list[float]:
        """``base`` timed runs; a 4th when the WARM runs (2..n — run 1 carries
        per-query codegen/warm-up and always dominates the raw spread)
        disagree by >20% (VERDICT r06 #5: three rows moved >10% under
        load1_pre 2.4-4.1 in r06; the extra run gives best-of more
        samples exactly when contention is visible in the data), and a
        5th when the 4th still leaves the warm spread >20% (VERDICT r07
        #4: knn_join_2000x2000 held 0.73 spread after its 4th run — the
        median over 4 warm samples is then the robust statistic,
        reported as warm_median alongside best-of-N). Each run also
        records the process-tree CPU delta (VERDICT r09 #2a) — returned
        alongside so ambient-load inflation is separable per run."""
        rs: list[float] = []
        cs: list[float] = []

        def _one() -> None:
            if gc_each:
                # matching block only (r11): the r10 forensics pinned
                # multi-second stalls WITH matching process-tree CPU on
                # accumulated JVM heap churn; the single pre-block
                # System.gc() still let 5 of 8 warm samples spike in one
                # r11 validation run (BENCH_DETAIL matching_regated_runs
                # [5.46, 1.34, 5.48, 1.70, 5.29, 5.88, 6.50, 1.16]).
                # Collecting BEFORE each timed sample moves leftover
                # suite housekeeping out of the timed region — the
                # DuckDB side has no GC, so this is the symmetric
                # steady-state comparison, not a discount.
                try:
                    spark.sparkContext._jvm.System.gc()
                except Exception:
                    pass
            j0 = _jvm_counters(spark) if diag is not None else {}
            c0 = _tree_cpu_seconds()
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            rs.append(round(time.perf_counter() - t0, 3))
            cs.append(round(max(_tree_cpu_seconds() - c0, 0.0), 3))
            if diag is not None:
                diag.append(_jvm_delta(j0, _jvm_counters(spark)))

        for _ in range(base):
            _one()

        def _spread() -> float:
            warm = rs[1:]
            return (max(warm) - min(warm)) / min(warm) if min(warm) > 0 else 0.0

        extra = 0
        while _spread() > 0.2 and extra < 2:
            _one()
            extra += 1
        return rs, cs

    bar = IDLE_LOAD1 + SELF_LOAD_ALLOWANCE

    def _row_confs(name: str):
        """Apply ROW_CONFS for this row; return a restore callback."""
        saved = {}
        for k, v in ROW_CONFS.get(name, {}).items():
            saved[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)

        def restore() -> None:
            for k, old in saved.items():
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)

        return restore

    for name, fn in BENCH_QUERIES.items():
        pre = round(os.getloadavg()[0], 1)
        if pre >= bar and time.time() < deadline:
            # external contention arrived mid-suite: re-gate, then rerun
            retried.append(name)
            pre, _, _ = _wait_for_idle(deadline)
            pre = round(pre, 1)
        restore = _row_confs(name)
        try:
            rs, cs = run_block(fn)
            post = round(os.getloadavg()[0], 1)
            if post >= bar and time.time() < deadline:
                # VERDICT r08 #1a: contention that arrives DURING a row
                # passed the old pre-gate unseen (r08's 5.2/4.1 post-spikes
                # on bucketed-Q3/pq_stored) — a post-reading past the bar
                # re-gates and re-runs the row ONCE; the contended runs stay
                # in the detail artifact as provenance.
                retried.append(name)
                contended[name] = rs
                pre, _, _ = _wait_for_idle(deadline)
                pre = round(pre, 1)
                rs, cs = run_block(fn)
                post = round(os.getloadavg()[0], 1)
        finally:
            restore()
        timings[name] = min(rs)
        runs[name] = rs
        cpu_runs[name] = cs
        loads_pre[name] = pre
        loads[name] = post

        # Shape floor (VERDICT r09 #2b): the no-op structural twin of a
        # floor-dominated row, timed IMMEDIATELY AFTER its row under the
        # same ROW_CONFS — adjacency is load-bearing: a twin measured at
        # suite end sees different ambient/self-load than its mid-suite
        # row and the floor subtraction stops meaning anything (measured:
        # the Q3 twin read 0.49 s mid-suite vs 0.21 s at suite end on
        # identical code). Twin warm-median is the scheduling machinery
        # cost of the SHAPE; row minus twin is data-dependent plan cost.
        if name in SHAPE_FLOORS:
            restore = _row_confs(name)
            try:
                shape_floor_runs[name], _ = run_block(SHAPE_FLOORS[name])
            finally:
                restore()

    total = round(
        sum(v for k, v in timings.items() if k not in EXTRA_QUERIES), 3
    )

    # Re-gated matching block (VERDICT r10 #3): the four BASELINE-
    # matching Spark rows are RE-MEASURED after the suite behind their
    # own idle gate, adjacent shape-floor twins included. The driver's
    # BENCH_r10 ran its Spark rows at load1 2.0-3.9 — the suite's own
    # decaying self-load after a gate met at 1.94 — while its DuckDB
    # probes ran post-gate at their best-ever times, so the strict
    # headline compared unequal conditions (its 2.196 was the gate's
    # blind spot, not the code's). This block gives both sides the same
    # post-gate footing; the in-suite timings remain the suite total
    # and stay in the detail as matching_in_suite_medians.
    # JVM housekeeping first: by this point the session has run the
    # whole suite plus two index builds, and accumulated heap churn
    # shows up as multi-second GC stalls WITH matching tree-CPU (the
    # first matching-block validation run read knn_classify_full
    # [8.79, 2.5, 0.691, 0.764, 6.457] with cpu [9.84, ..., 6.85] —
    # process-burned CPU, not ambient wall-stall). An explicit GC and
    # a deeper sample count (1 + 5 warm, median of 5) keep one or two
    # residual stalls out of the median.
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
    match_pre, _, _ = _wait_for_idle(deadline)
    match_runs: dict[str, list[float]] = {}
    match_cpu: dict[str, list[float]] = {}
    match_jvm: dict[str, list[dict | None]] = {}
    for sk in DUCK_MATCHING_SPARK.values():
        pre = round(os.getloadavg()[0], 1)
        if pre >= bar and time.time() < deadline:
            retried.append(f"match:{sk}")
            pre, _, _ = _wait_for_idle(deadline)
        restore = _row_confs(sk)
        jdiag: list[dict | None] = []
        try:
            rs, cs = run_block(BENCH_QUERIES[sk], base=6, gc_each=True, diag=jdiag)
            post = round(os.getloadavg()[0], 1)
            if post >= bar and time.time() < deadline:
                retried.append(f"match:{sk}")
                contended[f"match:{sk}"] = rs
                _wait_for_idle(deadline)
                jdiag = []
                rs, cs = run_block(
                    BENCH_QUERIES[sk], base=6, gc_each=True, diag=jdiag
                )
            if sk in SHAPE_FLOORS:
                # adjacency is load-bearing (r10 measurement, above):
                # the twin used for the strict headline's floor
                # adjustment is re-timed right here, same confs, same
                # gate; the in-suite twin stays as provenance.
                shape_floor_runs[f"suite:{sk}"] = shape_floor_runs.get(sk, [])
                shape_floor_runs[sk], _ = run_block(SHAPE_FLOORS[sk])
        finally:
            restore()
        match_runs[sk] = rs
        match_cpu[sk] = cs
        match_jvm[sk] = jdiag

    # gate again before the DuckDB block: the Spark suite's own decaying
    # load1 (~3+ right after the last row) would otherwise trip every
    # probe's contention bar or, worse, sit invisibly under it.
    duck_pre, _, _ = _wait_for_idle(deadline)
    duck, duck_med, duck_detail = duckdb_twin_suite(sf_dir, deadline)
    duck_total = round(sum(duck.values()), 3)
    duck_med_total = round(sum(duck_med.values()), 3)
    matching = round(
        sum(timings[s] for s in DUCK_MATCHING_SPARK.values() if s in timings), 3
    )
    # Warm-run spread per row (runs 2..n; run 1 is the codegen warm-up):
    # the reproducibility signal VERDICT r06 #5 asked the artifact to carry.
    spreads = {
        k: round((max(rs[1:]) - min(rs[1:])) / min(rs[1:]), 3)
        for k, rs in runs.items()
        if len(rs) > 1 and min(rs[1:]) > 0
    }
    # Warm medians for rows whose spread stayed >20% after the extra
    # runs (VERDICT r07 #4): best-of-N on a contended row is optimistic;
    # the median is the robust companion statistic of record.
    import statistics

    warm_medians = {
        k: round(statistics.median(runs[k][1:]), 3)
        for k, sp in spreads.items()
        if sp > 0.2
    }
    # Both-side warm medians for the matching rows (VERDICT r08 #1b):
    # the headline strict ratio is now median-of-warm vs median-of-warm
    # — best-of-N on one side and plain timing on the other amplified a
    # 15% DuckDB-side swing into the r08 1.894→2.178 headline move.
    # matching_medians = {duck_key: [spark_median_warm, duck_median_warm]}
    # strict-headline medians come from the RE-GATED matching block
    # (VERDICT r10 #3); in-suite runs are the fallback only if the
    # block was skipped (deadline exhausted before it could gate).
    m_src = {
        sk: match_runs.get(sk) or runs.get(sk)
        for sk in DUCK_MATCHING_SPARK.values()
    }
    spark_med = {
        sk: round(statistics.median(rs[1:]), 3)
        for sk, rs in m_src.items()
        if rs and len(rs) > 1
    }
    matching_medians = {
        dk: [spark_med.get(sk), duck_med.get(dk)]
        for dk, sk in DUCK_MATCHING_SPARK.items()
        if sk in spark_med and dk in duck_med
    }
    matching_med_total = round(sum(spark_med.values()), 3)
    # Per-row honesty (VERDICT r07 #3): raw and floor-adjusted ratios of
    # each matching Spark row vs its same-session DuckDB twin — both
    # sides' warm medians since r09 (symmetric statistic). The aggregate
    # matching ratio is dominated by the kNN row; these expose each
    # relational row individually.
    # a DuckDB twin that rounds to 0.000 yields null ratios rather than
    # silently dropping the row (review r08: the dropped row would be
    # exactly the one where Spark-vs-DuckDB looks worst).
    matching_ratios = {
        dk: (
            [
                round(spark_med[sk] / duck_med[dk], 2),
                round(max(spark_med[sk] - job_floor, 0.0) / duck_med[dk], 2),
            ]
            if duck_med.get(dk)
            else [None, None]
        )
        for dk, sk in DUCK_MATCHING_SPARK.items()
        if sk in spark_med and dk in duck_med
    }

    # Detail record: full provenance (every run, host load before/after
    # each row, per-probe DuckDB timings). Printed FIRST and mirrored to
    # a side file — the driver keeps only the last ~2000 chars of
    # stdout, which is why BENCH_r06's single fat line lost its head and
    # parsed as null (VERDICT r06 #1). The LAST printed line below is
    # the compact machine-readable summary, kept well under that tail.
    # Process-tree CPU medians over warm runs (VERDICT r09 #2a): wall
    # inflates under ambient load, tree CPU barely moves — together a
    # reader separates contention from plan cost without a re-run.
    cpu_medians = {
        k: round(statistics.median(cs[1:]), 3)
        for k, cs in cpu_runs.items()
        if len(cs) > 1
    }
    shape_floors = {
        k: round(statistics.median(rs[1:]), 3)
        for k, rs in shape_floor_runs.items()
        if len(rs) > 1
    }
    # row warm-median minus its shape floor, over the DuckDB twin's
    # warm median — the decomposed plan-cost ratio for each
    # floor-dominated row.
    _row_to_duck = {sk: dk for dk, sk in DUCK_MATCHING_SPARK.items()}
    shape_adjusted = {
        k: round(max(spark_med[k] - fl, 0.0) / duck_med[_row_to_duck[k]], 2)
        for k, fl in shape_floors.items()
        if k in spark_med and duck_med.get(_row_to_duck.get(k))
    }

    detail = {
        "metric": "suite_seconds_detail",
        "runs": runs,
        "cpu_runs": cpu_runs,  # process-tree CPU per run (r09 #2a)
        "cpu_medians": cpu_medians,
        "shape_floor_runs": shape_floor_runs,  # no-op structural twins (r09 #2b)
        "contended_runs": contended,  # pre-regate samples, provenance
        "warm_spread": spreads,
        "warm_medians": warm_medians,
        "extra_run": sorted(k for k, rs in runs.items() if len(rs) > 3),
        "job_floor_s": job_floor,
        "job_floor_runs": floor_runs,
        "matching_ratios": matching_ratios,
        "matching_medians": matching_medians,
        "load1_pre": loads_pre,
        "load1": loads,
        # re-gated matching block (VERDICT r10 #3): the strict-headline
        # samples, measured post-suite behind their own gate
        "matching_regated_runs": match_runs,
        "matching_regated_cpu_runs": match_cpu,
        "matching_regated_jvm": match_jvm,
        "matching_block_load1_pre": match_pre,
        "matching_in_suite_medians": {
            sk: round(statistics.median(runs[sk][1:]), 3)
            for sk in DUCK_MATCHING_SPARK.values()
            if sk in runs and len(runs[sk]) > 1
        },
        "duckdb_queries": duck,
        "duckdb_medians": duck_med,
        "duckdb_detail": duck_detail,
        "duckdb_load1_pre": duck_pre,
        "regated": retried,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass  # read-only checkout: the printed line still carries it
    print(json.dumps(detail))

    summary = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "duckdb_suite_seconds": duck_total,
        "baseline_static_seconds": 9.221,  # BASELINE.md, round 0
        "spark_matching_subtotal": matching,
        # the strict same-session framing of record — BOTH-side warm
        # medians since r09 (VERDICT r08 #1b); the old asymmetric
        # best-of framing is kept alongside for cross-round continuity.
        "matching_vs_duckdb_same_session": (
            round(matching_med_total / duck_med_total, 3)
            if duck_med_total
            else None
        ),
        "matching_stat": "median_warm_both_sides_regated",
        "matching_vs_duckdb_bestof": (
            round(matching / duck_total, 3) if duck_total else None
        ),
        "spark_matching_median_subtotal": matching_med_total,
        "duckdb_median_subtotal": duck_med_total,
        "job_floor_s": job_floor,
        # scheduling cost of each floor-dominated row's SHAPE (no-op
        # structural twins, r09 #2b) and the rows' ratios after
        # subtracting it — the decomposition of record for the rows
        # whose DuckDB twins run below Spark's job floor.
        "shape_floor_s": shape_floors,
        "shape_floor_adjusted_ratios": shape_adjusted,
        # warm-median process-tree CPU for the four matching rows (r09
        # #2a), from the re-gated block when it ran: the contention-
        # insensitive companion to the wall ratios.
        "matching_cpu_medians": {
            sk: (
                round(statistics.median(match_cpu[sk][1:]), 3)
                if len(match_cpu.get(sk, [])) > 1
                else cpu_medians.get(sk)
            )
            for sk in DUCK_MATCHING_SPARK.values()
        },
        "matching_ratios": matching_ratios,  # [raw, floor-adjusted] per row
        "matching_medians": matching_medians,  # [spark, duck] per row
        "max_warm_spread": max(spreads.values()) if spreads else None,
        "warm_medians": warm_medians,  # rows left >20% after extra runs
        "idle_gate": {
            "threshold": IDLE_LOAD1,
            "load1_at_gate": gate_load,
            "waited_s": gate_wait,
            "met": gate_met,
            "regated": len(retried),
        },
    }
    print(compact_line(summary))


if __name__ == "__main__":
    main()
