"""bench.py DUCK_PROBES ↔ Spark matching-row equivalence.

The same-session DuckDB twin (VERDICT r05 #5) re-measures the four
BASELINE.md rows with probe SQL pinned in bench.DUCK_PROBES, and
compares their total against `spark_matching_subtotal` — the sum of the
Spark bench rows named in bench.DUCK_MATCHING_SPARK. That ratio is only
honest if each probe computes the SAME work as its matching Spark row,
so this module pins them value-equivalent at the smoke SF:

- identical group/row membership everywhere (exact),
- aggregates equal up to the representational differences the two
  sides deliberately have (the Spark rows pin money to cents /
  round averages to 4 dp for hash grading; the probes reproduce
  BASELINE.md's raw-float shapes) — bounded by per-row rounding,
  never a loose "looks close" tolerance.

If a probe's text drifts from its Spark row's semantics (or vice
versa), these tests fail before the bench artifact can publish a
skewed same-session ratio.
"""

from __future__ import annotations

import math

import pytest

import bench
from knn_with_mapreduce_cuda_spark.oracle import duck_connection
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_SMOKE)
    con.execute("PRAGMA threads=4")
    yield con
    con.close()


def _spark_row(spark, duck_key: str):
    fn = bench.BENCH_QUERIES[bench.DUCK_MATCHING_SPARK[duck_key]]
    return fn(spark, SF_SMOKE).toPandas()


def test_matching_map_targets_exist():
    for duck_key, spark_key in bench.DUCK_MATCHING_SPARK.items():
        assert duck_key in bench.DUCK_PROBES
        assert spark_key in bench.BENCH_QUERIES


def test_summary_line_fits_driver_stdout_tail():
    """The driver keeps only the last 2000 chars of bench stdout;
    BENCH_r06 lost its JSON head to that tail and parsed as null. Pin
    the final printed line under bench.SUMMARY_LINE_BUDGET (<2000 with
    margin) for a summary built over the FULL current suite, and pin
    that the budget-overflow fallback keeps every headline field."""
    timings = {k: 9999.999 for k in bench.BENCH_QUERIES}
    summary = {
        "metric": "suite_seconds",
        "value": 9999.999,
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "duckdb_suite_seconds": 9999.999,
        "baseline_static_seconds": 9.221,
        "spark_matching_subtotal": 9999.999,
        "matching_vs_duckdb_same_session": 99.999,
        "matching_stat": "median_warm_both_sides_regated",
        "matching_vs_duckdb_bestof": 99.999,
        "spark_matching_median_subtotal": 9999.999,
        "duckdb_median_subtotal": 9999.999,
        "job_floor_s": 9.9999,
        "shape_floor_s": {k: 9999.999 for k in bench.SHAPE_FLOORS},
        "shape_floor_adjusted_ratios": {k: 99.99 for k in bench.SHAPE_FLOORS},
        "matching_cpu_medians": {
            k: 9999.999 for k in bench.DUCK_MATCHING_SPARK.values()
        },
        "matching_ratios": {k: [99.99, 99.99] for k in bench.DUCK_MATCHING_SPARK},
        "matching_medians": {
            k: [9999.999, 9999.999] for k in bench.DUCK_MATCHING_SPARK
        },
        "max_warm_spread": 9.999,
        "warm_medians": {k: 9999.999 for k in bench.BENCH_QUERIES},
        "idle_gate": {
            "threshold": 2.0,
            "load1_at_gate": 99.99,
            "waited_s": 999.9,
            "met": False,
            "regated": 2 * len(bench.BENCH_QUERIES),
        },
    }
    line = bench.compact_line(summary)
    assert len(line) <= bench.SUMMARY_LINE_BUDGET
    parsed = __import__("json").loads(line)
    assert parsed["value"] == 9999.999
    # VERDICT r11 #1/#8 (the round-11 contract breach): at full-suite
    # summary size — every field populated with worst-case-width values
    # — the 'queries' map must survive the ladder INTACT; per-row
    # detail maps are what give way. BENCH_r11's printed line lost
    # 'queries' (PERF_r11 n_common=0) because the old ladder dropped it
    # first.
    assert set(parsed["queries"]) == set(bench.BENCH_QUERIES)
    # overflow path: blow the queries dict up past the budget and check
    # the fallback still parses, fits, and keeps the headline fields.
    summary["queries"] = {f"padded_query_name_{i:04d}": 9999.999 for i in range(80)}
    line = bench.compact_line(summary)
    assert len(line) <= bench.SUMMARY_LINE_BUDGET
    parsed = __import__("json").loads(line)
    for field in (
        "value",
        "duckdb_suite_seconds",
        "spark_matching_subtotal",
        "matching_vs_duckdb_same_session",
        "idle_gate",
    ):
        assert field in parsed
    # ADVICE r07 #1: when even the matching-only queries dict blows the
    # budget, 'queries' is dropped ENTIRELY and the line re-checked —
    # never printed over-budget (the BENCH_r06 null-artifact mode).
    summary["queries"] = {
        k: 9999.999 for k in bench.DUCK_MATCHING_SPARK.values()
    }
    # headline fields alone exceed the budget -> the guaranteed-small
    # core is emitted, flagged truncated, NEVER an over-budget line or
    # a raise (review r08: an assert here is stripped under -O and
    # would discard the whole suite's result under plain python).
    summary["padding_for_overflow"] = "x" * bench.SUMMARY_LINE_BUDGET
    line = bench.compact_line(summary)
    assert len(line) <= bench.SUMMARY_LINE_BUDGET
    parsed = __import__("json").loads(line)
    assert parsed["truncated"] is True
    assert parsed["value"] == 9999.999
    assert parsed["metric"] == "suite_seconds"
    del summary["padding_for_overflow"]
    # VERDICT r11 #1: the per-row detail maps drop BEFORE the queries
    # map — pad so that dropping every detail map is enough; 'queries'
    # must survive untouched while the detail maps empty in ladder
    # order.
    summary["queries"] = {k: 9999.999 for k in bench.BENCH_QUERIES}
    # emptied maps still serialize as '"key": {}' — size the pad against
    # the summary with every detail map EMPTIED, as the ladder leaves it
    summary["matching_overflow_pad"] = "x" * (
        bench.SUMMARY_LINE_BUDGET
        - len(
            __import__("json").dumps(
                {
                    k: (
                        {}
                        if k
                        in (
                            "warm_medians",
                            "matching_cpu_medians",
                            "matching_ratios",
                            "matching_medians",
                            "shape_floor_s",
                            "shape_floor_adjusted_ratios",
                        )
                        else v
                    )
                    for k, v in summary.items()
                }
            )
        )
        - 60
    )
    line = bench.compact_line(summary)
    assert len(line) <= bench.SUMMARY_LINE_BUDGET
    parsed = __import__("json").loads(line)
    assert parsed.get("truncated") is not True
    # the cross-round contract map survives; detail maps gave way
    assert set(parsed["queries"]) == set(bench.BENCH_QUERIES)
    assert parsed["warm_medians"] == {}
    assert parsed["matching_cpu_medians"] == {}
    assert parsed["spark_matching_subtotal"] == 9999.999
    assert parsed["matching_vs_duckdb_same_session"] == 99.999
    # headline fits but the FULL queries map doesn't -> the ladder falls
    # back to matching-only queries; headline fields survive. Size the
    # pad so the emptied-maps summary WITHOUT queries sits 200 chars
    # under budget: 13 full rows (~420 chars) overflow, the 4
    # matching-only rows (~150 chars) fit.
    del summary["matching_overflow_pad"]
    emptied = {
        k: (
            {}
            if k
            in (
                "warm_medians",
                "matching_cpu_medians",
                "matching_ratios",
                "matching_medians",
                "shape_floor_s",
                "shape_floor_adjusted_ratios",
            )
            else v
        )
        for k, v in summary.items()
        if k != "queries"
    }
    summary["matching_overflow_pad"] = "x" * (
        bench.SUMMARY_LINE_BUDGET
        - len(__import__("json").dumps(emptied))
        - 200
        - 30  # the pad key's own JSON overhead
    )
    line = bench.compact_line(summary)
    assert len(line) <= bench.SUMMARY_LINE_BUDGET
    parsed = __import__("json").loads(line)
    assert parsed.get("truncated") is not True
    assert set(parsed["queries"]) == set(bench.DUCK_MATCHING_SPARK.values())
    assert parsed["value"] == 9999.999


def test_summary_line_realistic_keeps_full_queries_map():
    """VERDICT r11 #8: parse compact_line's output at REALISTIC summary
    size (values shaped like the r11 driver artifact, not 9999.999
    padding) and assert the full 13-row queries map survives — the
    exact regression that made round 11 grade regressed."""
    import json as _json

    q = {k: round(0.3 + i * 0.17, 3) for i, k in enumerate(bench.BENCH_QUERIES)}
    summary = {
        "metric": "suite_seconds",
        "value": 6.923,
        "unit": "sec",
        "queries": q,
        "sf": 0.1,
        "duckdb_suite_seconds": 1.53,
        "baseline_static_seconds": 9.221,
        "spark_matching_subtotal": 2.441,
        "matching_vs_duckdb_same_session": 6.821,
        "matching_stat": "median_warm_both_sides_regated",
        "matching_vs_duckdb_bestof": 1.595,
        "spark_matching_median_subtotal": 12.141,
        "duckdb_median_subtotal": 1.78,
        "job_floor_s": 0.1873,
        "shape_floor_s": {
            "rel_agg_hash": 0.295,
            "rel_join_broadcast_q3": 0.317,
            "suite:rel_agg_hash": 0.304,
            "suite:rel_join_broadcast_q3": 0.394,
        },
        "shape_floor_adjusted_ratios": {
            "rel_agg_hash": 0.7,
            "rel_join_broadcast_q3": 3.04,
        },
        "matching_cpu_medians": {
            k: 10.234 for k in bench.DUCK_MATCHING_SPARK.values()
        },
        "matching_ratios": {k: [3.87, 1.86] for k in bench.DUCK_MATCHING_SPARK},
        "matching_medians": {
            k: [9.968, 1.248] for k in bench.DUCK_MATCHING_SPARK
        },
        "max_warm_spread": 1.519,
        "warm_medians": {k: 2.016 for k in list(bench.BENCH_QUERIES)[:6]},
        "idle_gate": {
            "threshold": 2.0,
            "load1_at_gate": 1.96,
            "waited_s": 85.0,
            "met": True,
            "regated": 1,
        },
    }
    line = bench.compact_line(summary)
    assert len(line) <= bench.SUMMARY_LINE_BUDGET
    parsed = _json.loads(line)
    assert parsed["queries"] == q  # all 13 rows, values intact
    assert parsed["value"] == 6.923
    assert parsed["matching_vs_duckdb_same_session"] == 6.821
    assert parsed["shape_floor_adjusted_ratios"]


def test_rel_agg_hash_probe_matches_spark_row(spark, duck):
    d = duck.execute(bench.DUCK_PROBES["rel_agg_hash"]).fetchdf()
    s = _spark_row(spark, "rel_agg_hash").rename(
        columns={c: f"s_{c}" for c in ("sum_qty", "avg_qty", "avg_price", "avg_disc")}
    )
    assert len(d) == len(s)
    m = d.merge(s, on=["l_returnflag", "l_linestatus"], how="outer", indicator=True)
    assert (m["_merge"] == "both").all()
    for _, r in m.iterrows():
        assert int(r["n"]) == int(r["count_order"])
        # probe sums raw doubles; the Spark row pins money columns to
        # per-row-rounded cents — error bound 0.005 per contributing row
        # plus float-sum association slack.
        row_cents_slack = 0.005 * r["n"] + 1e-6 * abs(r["sum_base"])
        assert abs(r["sum_base"] - r["sum_base_cents"] / 100) <= row_cents_slack
        assert abs(r["sum_disc"] - r["sum_disc_cents"] / 100) <= row_cents_slack
        assert abs(r["sum_charge"] - r["sum_charge_cents"] / 100) <= row_cents_slack
        # qty/avg columns: the Spark row rounds to 4 dp, the probe doesn't.
        assert abs(r["sum_qty"] - r["s_sum_qty"]) <= 1e-3
        for c in ("avg_qty", "avg_price", "avg_disc"):
            assert abs(r[c] - r[f"s_{c}"]) <= 5e-5 + 1e-9 * abs(r[c])


def test_rel_join_broadcast_probe_matches_spark_row(spark, duck):
    d = duck.execute(bench.DUCK_PROBES["rel_join_broadcast"]).fetchdf()
    s = _spark_row(spark, "rel_join_broadcast")
    assert len(d) == len(s) == 10
    # top-10 membership and per-key revenue agree; comparing as sets
    # keeps the pin robust to last-ulp ordering of distinct revenues.
    assert set(d["o_orderkey"]) == set(s["o_orderkey"])
    dm = dict(zip(d["o_orderkey"], d["revenue"]))
    sm = dict(zip(s["o_orderkey"], s["revenue"]))
    for k, dv in dm.items():
        assert math.isclose(dv, sm[k], rel_tol=1e-9, abs_tol=1e-6)


def test_knn_classify_probe_matches_spark_row(spark, duck):
    d = duck.execute(bench.DUCK_PROBES["knn_classify"]).fetchdf()
    s = _spark_row(spark, "knn_classify")
    assert len(d) == len(s)  # every vector classified (all-pairs shape)
    dm = {int(r.qid): (r.qlabel, r.pred) for r in d.itertuples()}
    sm = {int(r.qid): (r.true_label, r.pred_label) for r in s.itertuples()}
    assert dm == sm


def test_str_window_session_probe_matches_spark_row(spark, duck):
    # wrap the pinned probe text (unchanged) to get an engine-computed
    # epoch so the comparison never depends on pandas datetime dtypes.
    d = duck.execute(
        "SELECT user_id, epoch_us(start_ts) AS start_us, n_events FROM ("
        + bench.DUCK_PROBES["str_window_session"]
        + ")"
    ).fetchdf()
    s = _spark_row(spark, "str_window_session")
    ds = {(int(r.user_id), int(r.start_us), int(r.n_events)) for r in d.itertuples()}
    ss = {(int(r.user_id), int(r.start_us), int(r.n_events)) for r in s.itertuples()}
    assert ds == ss


def test_chunked_bench_row_matches_single_block(spark):
    """VERDICT r07 #6: the knn_join_chunked_4blocks bench row must
    genuinely take the CHUNKED path (≥ bench.CHUNKED_BLOCKS blocks —
    never the n_blocks==1 fast-path collapse) and return exactly the
    single-block row's values, at every SF (block size derives from the
    probe count, so 4 blocks hold at smoke and at sf0.1 alike)."""
    import knn_with_mapreduce_cuda_spark.plans.gemm_knn as G

    whole = bench.knn_join_full_gemm(spark, SF_SMOKE).collect()

    calls: list[dict] = []
    real = G.knn_topk_gemm_chunked

    def tracked(q, t, k, **kwargs):
        calls.append(dict(kwargs))
        return real(q, t, k, **kwargs)

    G.knn_topk_gemm_chunked = tracked
    try:
        chunked = bench.knn_join_chunked(spark, SF_SMOKE).collect()
    finally:
        G.knn_topk_gemm_chunked = real

    assert len(calls) == 1
    n = calls[0]["n_queries"]
    block_rows = calls[0]["query_block_rows"]
    n_blocks = -(-n // block_rows)
    assert n_blocks >= bench.CHUNKED_BLOCKS, (n, block_rows, n_blocks)
    key = lambda rows: sorted((r.qid, r.tid, r.rnk) for r in rows)
    assert key(whole) == key(chunked)


def _fake_jvm_spark(pool_maxes):
    """A stand-in session whose JVM exposes code-cache pools with the given
    getMax() values (1 MiB used each) and zeroed other counters."""
    from types import SimpleNamespace as NS

    def jlist(items):
        return NS(size=lambda: len(items), get=lambda i: items[i])

    pools = [
        NS(
            getName=lambda i=i: f"CodeHeap 'seg{i}'",
            getUsage=lambda m=m: NS(getUsed=lambda: 1 << 20, getMax=lambda: m),
        )
        for i, m in enumerate(pool_maxes)
    ]
    mf = NS(
        getGarbageCollectorMXBeans=lambda: jlist([]),
        getClassLoadingMXBean=lambda: NS(
            getTotalLoadedClassCount=lambda: 0, getUnloadedClassCount=lambda: 0
        ),
        getMemoryPoolMXBeans=lambda: jlist(pools),
        getCompilationMXBean=lambda: NS(getTotalCompilationTime=lambda: 0),
    )
    jvm = NS(java=NS(lang=NS(management=NS(ManagementFactory=mf))))
    return NS(sparkContext=NS(_jvm=jvm))


def test_jvm_counters_code_cache_max_null_when_a_pool_is_undefined():
    """ADVICE: MemoryUsage.getMax() is -1 for a pool with no defined max;
    summing it skewed cc_max_mb (negative for small caches). Any -1 pool
    makes the total unknown (null); defined pools still sum."""
    got = bench._jvm_counters(_fake_jvm_spark([8 << 20, -1, 4 << 20]))
    assert got["cc_max_mb"] is None
    assert got["cc_used_mb"] == 3.0
    assert bench._jvm_counters(_fake_jvm_spark([8 << 20, 4 << 20]))["cc_max_mb"] == 12.0


def test_jvm_delta_marks_sample_when_a_read_failed():
    """ADVICE: a failed pre-sample read ({}) used to default the baseline
    to 0, recording absolute cumulative counters as the sample's deltas.
    The sample's slot is kept but marked unknown (None)."""
    j0 = {"jit_ms": 100, "gc_ms": 5, "gc_n": 2, "loaded": 900, "unloaded": 1,
          "cc_used_mb": 10.0, "cc_max_mb": 240.0}
    j1 = {"jit_ms": 130, "gc_ms": 9, "gc_n": 3, "loaded": 950, "unloaded": 1,
          "cc_used_mb": 11.5, "cc_max_mb": None}
    assert bench._jvm_delta({}, j1) is None
    assert bench._jvm_delta(j0, {}) is None
    assert bench._jvm_delta(j0, j1) == {
        "jit_ms": 30, "gc_ms": 4, "gc_n": 1, "loaded": 50, "unloaded": 0,
        "cc_used_mb": 11.5, "cc_max_mb": None,
    }
