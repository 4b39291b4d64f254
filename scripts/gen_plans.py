#!/usr/bin/env python
"""Regenerate PLANS.md — live physical-plan evidence for SCALE.md claims.

Run from the repo root: python scripts/gen_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from knn_with_mapreduce_cuda_spark import tables
from knn_with_mapreduce_cuda_spark.operators import knn, relational
from knn_with_mapreduce_cuda_spark.plans.gemm_knn import knn_topk_gemm
from knn_with_mapreduce_cuda_spark.session import get_spark

SF = "/root/testdata/sf0.001"

HEADER = """# PLANS — physical-plan evidence for the SCALE.md claims

Auto-generated from live `.explain()` output at sf0.001 (regenerate:
`python scripts/gen_plans.py`). Each section pairs a scale claim with the
plan fragment that proves Catalyst actually delivers it; the same
assertions run as tests in `tests/test_plans.py`.
"""


def main() -> None:
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")

    def plan(df, mode="formatted"):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        )

    sections = []

    def add(title, claim, df, grep):
        lines = [l for l in plan(df).splitlines() if any(g in l for g in grep)]
        sections.append(f"## {title}\n\n{claim}\n\n```\n" + "\n".join(lines) + "\n```\n")

    li = (
        tables.table(spark, SF, "lineitem")
        .filter(F.col("l_quantity") < 10)
        .select("l_orderkey", "l_quantity")
    )
    add(
        "Parquet pushdown + pruning (rel_scan_project_filter)",
        "The filter reaches the scan (`PushedFilters`) and only the two "
        "projected columns are read (`ReadSchema`):",
        li,
        ["PushedFilters", "ReadSchema"],
    )
    add(
        "Partial aggregation — the Combiner (rel_agg_hash)",
        "HashAggregate appears twice around the Exchange: map-side partial, "
        "reduce-side final. One row per (partition × group) crosses the wire:",
        relational._q_agg_hash(spark, SF),
        ["HashAggregate", "Exchange", "Scan parquet"],
    )
    add(
        "Broadcast hash join for dimensions (rel_join_broadcast)",
        "The dimension side broadcasts; the fact side never shuffles for the join:",
        relational._q_join_broadcast(spark, SF),
        ["BroadcastHashJoin", "BroadcastExchange", "Exchange hash"],
    )
    e = tables.embeddings(spark, SF)
    top = knn.topk(
        knn.with_distance(knn.all_pairs(knn.split_test(e), knn.train_all(e))), 10
    )
    add(
        "Window group-limit pushdown (knn_topk)",
        "`row_number() <= k` becomes a partial WindowGroupLimit BEFORE the "
        "exchange — Catalyst derives the reference's bounded-TreeMap Combiner; "
        "the query side is broadcast (BroadcastNestedLoopJoin = DistributedCache):",
        top,
        ["WindowGroupLimit", "BroadcastNestedLoopJoin", "Exchange hash"],
    )
    q = e.selectExpr("vec_id as qid", "emb as qemb")
    t = e.selectExpr("vec_id as tid", "emb as temb")
    add(
        "GEMM physical strategy (plans/gemm_knn.py)",
        "The custom stage: ArrowEvalPython/mapInArrow over train partitions "
        "emits only per-partition top-k candidates; one window merges them. "
        "No cross-product Exchange exists in the plan:",
        knn_topk_gemm(q, t, 10),
        ["MapInArrow", "WindowGroupLimit", "Window", "Exchange"],
    )

    import bench

    add(
        "Classify tail: dims broadcast, candidates streamed (round 7)",
        "The vote tail after the GEMM topk holds exactly ONE hash(qid) "
        "exchange. Un-hinted, Catalyst chose the topk relation as the label "
        "joins' broadcast build side (its post-window statistics look tiny), "
        "which re-ran the whole GEMM subtree as a broadcast build and "
        "re-shuffled the vote twice. With the label dims hinted "
        "(`F.broadcast`, bench.py / cli.py), the n_q×k candidate relation "
        "streams, and both the vote's HashAggregate and its rank window reuse "
        "the topk exchange's hash(qid) clustering (subset-clustering "
        "satisfaction). Measured 1.20 s → 0.80 s best-of-4 at sf0.1 "
        "(exchanges 3 → 1); pinned by "
        "tests/test_plans.py::test_gemm_classify_tail_single_exchange:",
        bench.knn_classify_full_gemm(spark, SF),
        ["MapInArrow", "BroadcastHashJoin", "HashAggregate", "Window",
         "Exchange"],
    )

    from knn_with_mapreduce_cuda_spark.operators import llm

    add(
        "Model broadcast in scoring joins (ml_naive_bayes)",
        "The trained model (token counts) joins the test stream as a "
        "BroadcastHashJoin — scoring is map-side; only the tiny model moves:",
        llm._q_naive_bayes(spark, SF),
        ["BroadcastHashJoin", "BroadcastExchange"],
    )
    add(
        "One shuffle for rollup+join+window (ts_resample_locf)",
        "The hourly rollup, spine join, and carry-forward window all reuse "
        "the single user_id exchange:",
        __import__(
            "knn_with_mapreduce_cuda_spark.operators.streaming_batch",
            fromlist=["streaming_batch"],
        )._q_resample_locf(spark, SF),
        ["Exchange", "Window", "HashAggregate"],
    )
    add(
        "Centroid classifier: model broadcast, no pairwise shuffle (knn_centroid)",
        "The c-row centroid table broadcasts to every executor; "
        "classification is a map-only nested-loop against 10 rows:",
        knn._q_centroid(spark, SF),
        ["BroadcastNestedLoopJoin", "BroadcastExchange"],
    )

    from knn_with_mapreduce_cuda_spark.operators import analytics

    add(
        "Bloom prefilter broadcasts bitmasks, not keys (rel_join_bloom_prefilter)",
        "Each per-seed (word, bitmask) table — 1024 rows regardless of dim "
        "size — joins as a BroadcastHashJoin; the fact side sheds rows "
        "before its join shuffle:",
        analytics._q_bloom_prefilter(spark, SF),
        ["BroadcastHashJoin", "BroadcastExchange", "Exchange hash"],
    )
    add(
        "Dedup-then-rekey for gaps-and-islands (ts_gaps_islands)",
        "Map-side dedup shrinks the first shuffle to distinct (user, day) "
        "pairs; the window and island aggregate share the second (user-only) "
        "partitioning — no third exchange:",
        analytics._q_gaps_islands(spark, SF),
        ["Exchange", "HashAggregate", "Window"],
    )

    import bench

    add(
        "Aggregate-first Q3, shuffle-semi form (bench q3_shape, r11)",
        "lineitem aggregates revenue by l_orderkey FIRST — the partial "
        "HashAggregate sits BELOW its Exchange, so the one "
        "hash(l_orderkey) shuffle carries map-side-combined partial "
        "groups, not raw rows; orders LEFT-SEMI "
        "broadcast(filtered customer keys) — the bounded dim side is "
        "the ONLY broadcast; the SHUFFLE_HASH semi join then CONSUMES "
        "the aggregation's partitioning (one hash Exchange per fact "
        "side, none between agg and join). Supersedes the r09 "
        "reduce-first form — A/B'd at sf0.1 AND 100×, losers recorded "
        "(SCALE.md §9h r11 supersession; the co-located bucketed "
        "layout in §9c removes even these exchanges for recurring "
        "joins):",
        bench.q3_shape(spark, SF),
        [
            "BroadcastHashJoin",
            "ShuffledHashJoin",
            "LeftSemi",
            "BroadcastExchange",
            "Exchange hash",
            "HashAggregate",
        ],
    )
    add(
        "MinHash band self-join shares one exchange (llm_dedup_near_minhash)",
        "Signatures are a pure map stage (array_min over the shingle "
        "array — zero shuffles); the explicit repartition on (band, bsig) "
        "gives both self-join branches the same canonical Exchange, so the "
        "md5 pipeline is evaluated once (the two static-plan branches below "
        "are canonically identical; AQE's ReuseExchange collapses them at "
        "runtime — measured 2.54 s → 1.87 s on the sf0.1 bench row):",
        llm.near_dup_pairs(spark, SF),
        ["Exchange", "SortMergeJoin", "Generate", "Scan parquet"],
    )

    add(
        "Hamming search: query-broadcast sketch scan (llm_simsearch_hamming)",
        "The corpus sketch is the scanned big side, the query sketches "
        "broadcast into it, and the per-query candidate cut runs "
        "partition-local (WindowGroupLimit) before the single exchange — "
        "the shuffle carries ~|Q| x HAM_CAND rows, never the corpus:",
        llm._q_simsearch_hamming(spark, SF),
        ["WindowGroupLimit", "BroadcastExchange", "Exchange hash", "Window"],
    )
    add(
        "PQ/ADC: flat-LUT scan over codes, partition-local shortlist cut "
        "(llm_simsearch_pq)",
        "The trained-codebook ADC ranking broadcasts the per-query flat "
        "lookup tables into a single pass over the 8-byte code relation "
        "(one Arrow encode stage, no join blow-up), cuts the shortlist "
        "partition-locally (WindowGroupLimit) so the shuffle carries "
        "~|Q| x PQ_CAND rows, and reranks only the shortlist against the "
        "raw floats — queries never cross-join the corpus floats:",
        llm._q_simsearch_pq(spark, SF),
        ["WindowGroupLimit", "BroadcastExchange", "MapInArrow"],
    )
    add(
        "Stored-index PQ: fanned-out ADC scan over persisted codes "
        "(llm_simsearch_pq_stored)",
        "The build-once/query-many shape (round 5): the query reads the "
        "persisted 8-byte code table, hash-repartitions it (BNLJ fan-out "
        "rule) before the broadcast-LUT join, cuts the shortlist "
        "partition-locally, and reranks only |Q| x PQ_CAND rows — no "
        "re-fit, no Arrow encode stage in the query plan:",
        llm._q_simsearch_pq_stored(spark, SF),
        ["WindowGroupLimit", "BroadcastExchange", "Exchange hash"],
    )
    add(
        "Count-min sketch: bounded grid shuffle (llm_heavy_hitters_cms)",
        "The sketch aggregation partial-aggregates map-side and shuffles "
        "depth x width cells (width error-target-capped at 2^20 since "
        "round 5 — constant-size past the cap), the estimate lookup "
        "broadcast-hints that grid only below the cell bound (shuffle "
        "join past it), and the top-k report is TakeOrderedAndProject — "
        "the wire cost is the sketch, never the vocabulary:",
        llm._q_heavy_hitters_cms(spark, SF),
        ["HashAggregate", "BroadcastExchange", "TakeOrderedAndProject"],
    )
    add(
        "A-ES weighted sample: partition-local top-N (rel_sample_weighted)",
        "The ln(u)/w score is map-side and Catalyst rewrites the global "
        "rank-limit into TakeOrderedAndProject — per-partition bounded "
        "heaps merged once, the textbook distributed top-N; the Window "
        "only re-derives rnk over the N survivors:",
        relational._q_sample_weighted(spark, SF),
        ["TakeOrderedAndProject", "Window", "Scan parquet"],
    )
    add(
        "Two-phase prefix scan: keyed window + broadcast offsets "
        "(ml_roc_curve)",
        "Round 4 replaced every corpus-sized `Window.orderBy()` "
        "(single-partition by construction) with `plans/prefix.py`: the "
        "window is KEYED by the literal-boundary slice id (per-slice "
        "parallel sort — no `Exchange SinglePartition` anywhere near the "
        "sweep) and the slice offsets arrive as a broadcast of <= parts "
        "rows; the only single-partition exchange left is the 1-row "
        "grand-total aggregate. tests/test_global_windows.py pins 21 "
        "converted keys at zero partition-less Windows:",
        analytics._q_roc_curve(spark, SF),
        ["Window", "Exchange", "BroadcastExchange", "HashAggregate"],
    )
    add(
        "Exact pair joins: streamed-side fan-out (all_pairs family)",
        "BroadcastNestedLoopJoin parallelism is the streamed side's "
        "partition count — nothing else — so a one-file relation would run "
        "the whole quadratic distance fold in ONE task. The streamed side "
        "is hash-repartitioned to the session default parallelism first "
        "(the O(n) shuffle against the O(n^2 d) fold; knn_self_join "
        "53 s -> 4.3 s at sf0.1, plan-pinned by "
        "test_knn_pairs_streamed_side_fans_out). The distance, radius and "
        "cross-validation keys run this pair space; the two kNN memos "
        "(knn_test_topk, knn_self_join) run the GEMM kernel instead:",
        knn.all_pairs(knn.split_test(e), knn.train_all(e)),
        ["BroadcastNestedLoopJoin", "hashpartitioning(tid", "REPARTITION"],
    )

    from knn_with_mapreduce_cuda_spark.operators import llm

    add(
        "Grouped two-phase prefix scan (llm_pack_sequences)",
        "The per-language cumsum carries NO window partitioned by lang "
        "alone (a per-group single-task fold): the plan hash-partitions "
        "on the slice id `_prefix_pid` (a pure function of doc_id with "
        "literal quantile boundaries), windows within (slice, lang), and "
        "broadcast-joins the per-(slice, lang) offsets back "
        "(SCALE.md §9i/§9j; round-6 rewrite, bit-identical values):",
        llm._q_pack_sequences(spark, SF),
        ["hashpartitioning(_prefix_pid", "Window", "BroadcastExchange"],
    )

    add(
        "Closed-form window percentiles (rel_window_percentiles)",
        "percent_rank/cume_dist over ~5 priorities reduce to closed "
        "forms over the grouped scan's row number; the only remaining "
        "window is the rank-3 probe, which compiles to WindowGroupLimit "
        "(map-side partial top-3), and the stats ride 5-row broadcasts:",
        relational._q_window_percentiles(spark, SF),
        ["hashpartitioning(_prefix_pid", "WindowGroupLimit", "BroadcastExchange"],
    )

    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write(HEADER + "\n" + "\n".join(sections))
    print(f"PLANS.md written: {len(sections)} sections")


if __name__ == "__main__":
    main()
