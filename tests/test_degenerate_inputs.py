"""Degenerate-input robustness net (round-9 review sweep).

Spark 4 runs with ANSI mode ON by default, so expression edge cases that
DuckDB absorbs as NULL (x/0.0) CRASH a Spark job instead — and fixture
data never exercises them, which is exactly the latent class the r08
review hunted in llm.py. The r09 sweep ran ALL 368 registry queries over
a deliberately degenerate fixture (single-token and empty documents, a
zero-norm embedding, identical embeddings, a constant single-user event
series, a missing event type) and found five crashers:

- llm_bigram_crossentropy — sequence(1, size-1) DESCENDS for 1-token
  docs → element_at(ts, 0) → INVALID_ARRAY_INDEX;
- llm_dedup_embed / llm_simsearch_topk — cosine() divided by a zero
  norm product → DIVIDE_BY_ZERO;
- rel_stat_crosstab — crosstab only materializes OBSERVED value
  columns → UNRESOLVED_COLUMN for an absent event type;
- ts_rle_sax (via _q_sax_symbols) — constant series → sd 0 →
  DIVIDE_BY_ZERO.

All five are fixed NULL-consistently with DuckDB (try_divide / size
guards / present-column checks); this module pins the whole class:
every registry query must RUN on the degenerate fixture, and the fixed
keys must also value-match the shipped oracle SQL on it. The former
list_cosine_similarity exception is CLOSED (VERDICT r09 #4): those two
oracles now use the explicit inner-product formula with NULLIF, so the
twins agree on every input including zero-norm vectors.

Round 10 added the UNICODE dimension (scripts/unicode_sweep_r10.py —
all 368 keys over CJK/emoji/RTL/combining-mark/NBSP text): two new
crashers found and fixed (llm_mix_budget ANSI CAST('' AS BIGINT) →
try_cast weight-1 convention; llm_heaps_law zero-x-variance OLS →
try_divide NULL beta, with the same guard applied proactively to
ml_spearman_rho and graph_assortativity), and ZERO unicode twin
mismatches across the 75 documents-reading oracles. Pinned below by
the unicode_sf fixture.
"""

from __future__ import annotations

import pytest

#: the five keys the r09 sweep caught crashing, plus near neighbors of
#: each crash class — all must both RUN and twin-match on this fixture.
TWIN_MATCH_KEYS = [
    "llm_bigram_crossentropy",
    "llm_dedup_embed",
    "rel_stat_crosstab",
    "ts_rle_sax",
    "ts_sax_symbols",
    "llm_semdedup",
    # formerly RUN-ONLY (their oracles used list_cosine_similarity,
    # which returns -1.0 on a zero-norm vector where the engine's
    # try_divide yields NULL). VERDICT r09 #4 closed the divergence:
    # both oracles now carry the explicit inner-product formula with
    # NULLIF, so engine and oracle agree on EVERY input and the keys
    # graduate to full twin-matching.
    "llm_simsearch_topk",
    "knn_dist_cosine",
]


@pytest.fixture(scope="module")
def degenerate_sf(tmp_path_factory):
    import duckdb

    out = tmp_path_factory.mktemp("degenerate_sf")
    con = duckdb.connect()

    def w(name, sql):
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")

    w("region", "SELECT CAST(0 AS INTEGER) r_regionkey, 'AFRICA' r_name")
    w(
        "nation",
        "SELECT CAST(0 AS INTEGER) n_nationkey, 'ALGERIA' n_name, "
        "CAST(0 AS INTEGER) n_regionkey",
    )
    w(
        "customer",
        "SELECT CAST(1 AS BIGINT) c_custkey, 'Customer#1' c_name, "
        "CAST(0 AS INTEGER) c_nationkey, CAST(100.0 AS DOUBLE) c_acctbal, "
        "'BUILDING' c_mktsegment",
    )
    w(
        "supplier",
        "SELECT CAST(1 AS BIGINT) s_suppkey, 'Supplier#1' s_name, "
        "CAST(0 AS INTEGER) s_nationkey, CAST(100.0 AS DOUBLE) s_acctbal",
    )
    w(
        "part",
        "SELECT CAST(1 AS BIGINT) p_partkey, 'green part' p_name, "
        "'Brand#1' p_brand, 'TYPE A' p_type, CAST(1 AS INTEGER) p_size, "
        "CAST(10.0 AS DOUBLE) p_retailprice",
    )
    w(
        "orders",
        "SELECT CAST(1 AS BIGINT) o_orderkey, CAST(1 AS BIGINT) o_custkey, "
        "'O' o_orderstatus, CAST(10.0 AS DOUBLE) o_totalprice, "
        "TIMESTAMP '1995-01-01 00:00:00' o_orderdate, '1-URGENT' o_orderpriority",
    )
    w(
        "lineitem",
        "SELECT CAST(1 AS BIGINT) l_orderkey, CAST(1 AS BIGINT) l_partkey, "
        "CAST(1 AS BIGINT) l_suppkey, CAST(1 AS INTEGER) l_linenumber, "
        "CAST(1.0 AS DOUBLE) l_quantity, CAST(10.0 AS DOUBLE) l_extendedprice, "
        "CAST(0.0 AS DOUBLE) l_discount, CAST(0.0 AS DOUBLE) l_tax, "
        "'N' l_returnflag, 'O' l_linestatus, TIMESTAMP '1995-02-01 00:00:00' l_shipdate",
    )
    # single user, CONSTANT value (zero variance), two events at the
    # same instant — the degenerate stream
    w(
        "events",
        "SELECT * FROM (VALUES "
        "(CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 10:00:00', CAST(1 AS BIGINT), "
        "'view', CAST(5.0 AS DOUBLE), '{}'), "
        "(CAST(2 AS BIGINT), TIMESTAMP '2024-01-01 10:00:00', CAST(1 AS BIGINT), "
        "'view', CAST(5.0 AS DOUBLE), '{}'), "
        "(CAST(3 AS BIGINT), TIMESTAMP '2024-01-01 10:05:00', CAST(1 AS BIGINT), "
        "'purchase', CAST(5.0 AS DOUBLE), '{}')"
        ") t(event_id, ts, user_id, event_type, value, props)",
    )
    # empty text, single-token, and two-token-constant docs
    w(
        "documents",
        "SELECT * FROM (VALUES "
        "(CAST(0 AS BIGINT), '', 'en', 's', CAST(0 AS BIGINT)), "
        "(CAST(1 AS BIGINT), 'a', 'en', 's', CAST(1 AS BIGINT)), "
        "(CAST(10 AS BIGINT), 'a a', 'en', 's', CAST(3 AS BIGINT))"
        ") t(doc_id, text, lang, source, n_chars)",
    )
    # a zero-norm vector (undefined cosine), three identical unit-ish
    # vectors; ids hit the %5 test split, the %50 query sample, and one
    # fixed IVF centroid id (7)
    con.execute("CREATE TABLE emb (vec_id BIGINT, embedding FLOAT[], label INTEGER)")
    for vid, v in ((0, [0.0] * 64), (5, [1.0] * 64), (7, [1.0] * 64), (50, [1.0] * 64)):
        con.execute("INSERT INTO emb VALUES (?, ?, ?)", [vid, v, 1])
    con.execute(f"COPY (SELECT * FROM emb) TO '{out}/embeddings.parquet' (FORMAT PARQUET)")
    con.close()
    return str(out)


def test_former_crashers_run_and_match_oracle(spark, degenerate_sf):
    import duckdb

    from knn_with_mapreduce_cuda_spark import registry
    from knn_with_mapreduce_cuda_spark.oracle import duck_connection

    qs = registry.queries()
    oracles = registry.oracle_sql(degenerate_sf)
    con = duck_connection(degenerate_sf)
    try:
        for key in TWIN_MATCH_KEYS:
            got = sorted(map(tuple, qs[key](spark, degenerate_sf).collect()), key=repr)
            want = sorted(map(tuple, con.execute(oracles[key]).fetchall()), key=repr)
            assert len(got) == len(want), (key, got, want)
            for g, w in zip(got, want):
                assert repr(g) == repr(w) or g == pytest.approx(w, abs=1e-4), (
                    key,
                    g,
                    w,
                )
    finally:
        con.close()




def test_cosine_null_on_zero_norm(spark):
    """The engine's cosine convention on a zero-norm vector is NULL
    (undefined), matching DuckDB's x/0.0 → NULL for the explicit
    formula — never an ANSI DIVIDE_BY_ZERO crash."""
    from pyspark.sql import functions as F

    from knn_with_mapreduce_cuda_spark.functions.vector import cosine

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0]), ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    ).select(cosine("a", "b").alias("cos"))
    rows = sorted(df.collect(), key=repr)
    vals = [r["cos"] for r in rows]
    assert None in vals and 1.0 in vals


@pytest.fixture(scope="module")
def empty_slice_sf(tmp_path_factory):
    """A fixture where DERIVED slices go empty while every table has
    rows: no purchase events, no BUILDING customers, no doc_id %10==0
    test docs, no vec_id %5/%50 query-split members, and NO vectors
    carrying a fixed IVF centroid id — so centroid assignment, query
    probes, and the stored cell-partitioned index are all ZERO-ROW."""
    import duckdb

    out = tmp_path_factory.mktemp("empty_slice_sf")
    con = duckdb.connect()

    def w(name, sql):
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")

    w("region", "SELECT CAST(0 AS INTEGER) r_regionkey, 'AFRICA' r_name")
    w(
        "nation",
        "SELECT CAST(0 AS INTEGER) n_nationkey, 'ALGERIA' n_name, "
        "CAST(0 AS INTEGER) n_regionkey",
    )
    w(
        "customer",
        "SELECT CAST(1 AS BIGINT) c_custkey, 'Customer#1' c_name, "
        "CAST(0 AS INTEGER) c_nationkey, CAST(100.0 AS DOUBLE) c_acctbal, "
        "'MACHINERY' c_mktsegment",
    )
    w(
        "supplier",
        "SELECT CAST(1 AS BIGINT) s_suppkey, 'Supplier#1' s_name, "
        "CAST(0 AS INTEGER) s_nationkey, CAST(100.0 AS DOUBLE) s_acctbal",
    )
    w(
        "part",
        "SELECT CAST(1 AS BIGINT) p_partkey, 'part x' p_name, 'Brand#1' p_brand, "
        "'TYPE A' p_type, CAST(1 AS INTEGER) p_size, CAST(10.0 AS DOUBLE) p_retailprice",
    )
    w(
        "orders",
        "SELECT CAST(1 AS BIGINT) o_orderkey, CAST(1 AS BIGINT) o_custkey, "
        "'O' o_orderstatus, CAST(10.0 AS DOUBLE) o_totalprice, "
        "TIMESTAMP '1995-01-01 00:00:00' o_orderdate, '1-URGENT' o_orderpriority",
    )
    w(
        "lineitem",
        "SELECT CAST(1 AS BIGINT) l_orderkey, CAST(1 AS BIGINT) l_partkey, "
        "CAST(1 AS BIGINT) l_suppkey, CAST(1 AS INTEGER) l_linenumber, "
        "CAST(1.0 AS DOUBLE) l_quantity, CAST(10.0 AS DOUBLE) l_extendedprice, "
        "CAST(0.0 AS DOUBLE) l_discount, CAST(0.0 AS DOUBLE) l_tax, "
        "'N' l_returnflag, 'O' l_linestatus, TIMESTAMP '1995-02-01 00:00:00' l_shipdate",
    )
    w(
        "events",
        "SELECT * FROM (VALUES (CAST(1 AS BIGINT), "
        "TIMESTAMP '2024-01-01 10:00:00', CAST(1 AS BIGINT), 'view', "
        "CAST(5.0 AS DOUBLE), '{}')) t(event_id, ts, user_id, event_type, value, props)",
    )
    w(
        "documents",
        "SELECT * FROM (VALUES (CAST(1 AS BIGINT), "
        "'hello world foo bar baz qux', 'en', 's', CAST(27 AS BIGINT))"
        ") t(doc_id, text, lang, source, n_chars)",
    )
    con.execute("CREATE TABLE emb (vec_id BIGINT, embedding FLOAT[], label INTEGER)")
    for vid in (1, 2, 3):
        con.execute("INSERT INTO emb VALUES (?, ?, ?)", [vid, [float(vid)] * 64, vid % 2])
    con.execute(
        f"COPY (SELECT * FROM emb) TO '{out}/embeddings.parquet' (FORMAT PARQUET)"
    )
    con.close()
    return str(out)


def test_zero_row_stored_index_reads_back_empty(spark, empty_slice_sf):
    """r09 empty-slice sweep: a cell-partitioned index built from an
    EMPTY centroid assignment writes only _SUCCESS — schema inference
    on read-back crashed (UNABLE_TO_INFER_SCHEMA). The code layout is
    a model constant, so _stored_codes_df now reads with an explicit
    schema and a zero-row index is an empty relation, never a crash."""
    from knn_with_mapreduce_cuda_spark import registry

    qs = registry.queries()
    for key in ("llm_simsearch_ivfpq_stored", "llm_simsearch_pq_stored"):
        assert qs[key](spark, empty_slice_sf).count() == 0


@pytest.fixture(scope="module")
def nulls_sf(tmp_path_factory):
    """NULL-injection fixture: every nullable column carries a NULL in
    at least one row — null document text/lang, null event value/type,
    null customer/part attributes, a NULL embedding ARRAY and a null
    label. All realistic lake artifacts; none appear in the driver
    fixtures."""
    import duckdb

    out = tmp_path_factory.mktemp("nulls_sf")
    con = duckdb.connect()

    def w(name, sql):
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")

    w("region", "SELECT CAST(0 AS INTEGER) r_regionkey, 'AFRICA' r_name")
    w(
        "nation",
        "SELECT CAST(0 AS INTEGER) n_nationkey, 'ALGERIA' n_name, "
        "CAST(0 AS INTEGER) n_regionkey",
    )
    w(
        "customer",
        "SELECT * FROM (VALUES "
        "(CAST(1 AS BIGINT), 'Customer#1', CAST(0 AS INTEGER), CAST(100.0 AS DOUBLE), 'BUILDING'), "
        "(CAST(2 AS BIGINT), NULL, CAST(0 AS INTEGER), NULL, NULL)"
        ") t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)",
    )
    w(
        "supplier",
        "SELECT CAST(1 AS BIGINT) s_suppkey, 'Supplier#1' s_name, "
        "CAST(0 AS INTEGER) s_nationkey, CAST(100.0 AS DOUBLE) s_acctbal",
    )
    w(
        "part",
        "SELECT * FROM (VALUES "
        "(CAST(1 AS BIGINT), 'part x', 'Brand#1', 'TYPE A', CAST(1 AS INTEGER), CAST(10.0 AS DOUBLE)), "
        "(CAST(2 AS BIGINT), NULL, NULL, NULL, NULL, NULL)"
        ") t(p_partkey, p_name, p_brand, p_type, p_size, p_retailprice)",
    )
    w(
        "orders",
        "SELECT * FROM (VALUES "
        "(CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'O', CAST(10.0 AS DOUBLE), "
        "TIMESTAMP '1995-01-01 00:00:00', '1-URGENT'), "
        "(CAST(2 AS BIGINT), CAST(2 AS BIGINT), NULL, NULL, NULL, NULL)"
        ") t(o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)",
    )
    w(
        "lineitem",
        "SELECT * FROM (VALUES "
        "(CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS INTEGER), "
        "CAST(1.0 AS DOUBLE), CAST(10.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), "
        "'N', 'O', TIMESTAMP '1995-02-01 00:00:00'), "
        "(CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS INTEGER), "
        "NULL, NULL, NULL, NULL, NULL, NULL, NULL)"
        ") t(l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
        "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate)",
    )
    w(
        "events",
        "SELECT * FROM (VALUES "
        "(CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 10:00:00', CAST(1 AS BIGINT), 'view', CAST(5.0 AS DOUBLE), '{}'), "
        "(CAST(2 AS BIGINT), TIMESTAMP '2024-01-01 10:05:00', CAST(1 AS BIGINT), 'purchase', NULL, NULL), "
        "(CAST(3 AS BIGINT), TIMESTAMP '2024-01-01 10:06:00', CAST(2 AS BIGINT), NULL, CAST(1.0 AS DOUBLE), '{}')"
        ") t(event_id, ts, user_id, event_type, value, props)",
    )
    w(
        "documents",
        "SELECT * FROM (VALUES "
        "(CAST(1 AS BIGINT), 'hello world foo bar', 'en', 's', CAST(19 AS BIGINT)), "
        "(CAST(2 AS BIGINT), NULL, NULL, NULL, NULL), "
        "(CAST(10 AS BIGINT), 'alpha beta gamma delta', 'fr', 's', CAST(22 AS BIGINT))"
        ") t(doc_id, text, lang, source, n_chars)",
    )
    con.execute("CREATE TABLE emb (vec_id BIGINT, embedding FLOAT[], label INTEGER)")
    con.execute("INSERT INTO emb VALUES (0, ?, 0)", [[1.0] * 64])
    con.execute("INSERT INTO emb VALUES (5, ?, 1)", [[0.5] * 64])
    con.execute("INSERT INTO emb VALUES (7, ?, NULL)", [[0.25] * 64])
    con.execute("INSERT INTO emb VALUES (50, NULL, 1)")
    con.execute(f"COPY (SELECT * FROM emb) TO '{out}/embeddings.parquet' (FORMAT PARQUET)")
    con.close()
    return str(out)


#: the 12 keys the r09 null-injection sweep caught crashing — the null
#: payload class (NoneType decode in the multimodal kernels), the null
#: vector class (ragged np.stack in the GEMM/PQ Arrow kernels, MLlib
#: fit on a null token array), and the null label/vector class (the
#: reference line format silently shifting fields via concat_ws).
NULL_SWEEP_FORMER_CRASHERS = [
    "llm_multimodal_features",
    "llm_multimodal_framesample",
    "llm_multimodal_resize",
    "llm_dedup_minhash_mllib",
    "llm_simsearch_gemm",
    "llm_simsearch_pq",
    "llm_simsearch_ivfpq",
    "udf_map_arrow",
    "src_knn_text_roundtrip",
    "src_python_datasource",
]


def test_null_injection_former_crashers_run(spark, nulls_sf):
    """r09 null-injection sweep: all 368 keys now run the nulls fixture
    crash-free; this pins the 12 former crashers (the two stored-index
    variants are covered by their self-contained twins here — building
    per-test scratch indexes would couple this module to the scratch
    root)."""
    from knn_with_mapreduce_cuda_spark import registry

    qs = registry.queries()
    for key in NULL_SWEEP_FORMER_CRASHERS:
        qs[key](spark, nulls_sf).count()  # must not raise


def test_null_text_multimodal_matches_oracle(spark, nulls_sf):
    """The NULL-payload conventions are twin-consistent: features emits
    the row with NULL metadata (ascii(left(NULL,1)) propagation),
    framesample/resize emit no frames/row (the oracle's length(NULL)
    spine), and the text-format roundtrips exclude unrepresentable
    rows on BOTH sides."""
    from knn_with_mapreduce_cuda_spark import registry
    from knn_with_mapreduce_cuda_spark.oracle import duck_connection

    qs = registry.queries()
    oracles = registry.oracle_sql(nulls_sf)
    con = duck_connection(nulls_sf)
    try:
        for key in (
            "llm_multimodal_features",
            "llm_multimodal_framesample",
            "llm_multimodal_resize",
            "src_knn_text_roundtrip",
        ):
            got = sorted(map(tuple, qs[key](spark, nulls_sf).collect()), key=repr)
            want = sorted(map(tuple, con.execute(oracles[key]).fetchall()), key=repr)
            assert len(got) == len(want), (key, got, want)
            for g, w in zip(got, want):
                assert repr(g) == repr(w) or g == pytest.approx(w, abs=1e-4), (
                    key,
                    g,
                    w,
                )
    finally:
        con.close()


def test_knn_memos_rank_null_vectors_like_expression_path(spark, nulls_sf):
    """README corrupt-data contract 1–2 through the kNN memos. The GEMM
    kernel behind them excludes NULL vectors; the memos restore those
    pairs as NULL-dist candidates, so the poisoned query (vec_id 50, in
    the %5 test split) keeps its smallest-tid candidates with NULL dist
    and the poisoned train vector ranks after every finite one — both
    memos equal the BNLJ expression reference row for row, dist bit for
    bit."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    from knn_with_mapreduce_cuda_spark import tables
    from knn_with_mapreduce_cuda_spark.operators import knn

    e = tables.embeddings(spark, nulls_sf)
    cols = ("qid", "tid", "rnk", "dist", "qlabel", "tlabel")

    def rows(df, cols=cols):
        out = [
            tuple(v.hex() if isinstance(v, float) else v for v in r)
            for r in df.select(*cols).collect()
        ]
        return sorted(out, key=lambda r: (r[0], r[2]))

    def reference(q, k):
        return knn.topk(knn.with_distance(knn.all_pairs(q, knn.train_all(e))), k)

    got = rows(knn.knn_test_topk(spark, nulls_sf, knn.K_DEFAULT))
    assert got == rows(reference(knn.split_test(e), knn.K_DEFAULT))
    assert any(r[0] == 50 and r[3] is None for r in got)  # poisoned query
    assert any(r[0] != 50 and r[1] == 50 and r[3] is None for r in got)  # poisoned train

    everyone = e.select(
        col("vec_id").alias("qid"), col("emb").alias("qemb"), col("label").alias("qlabel")
    )
    want = reference(everyone, knn.K_JOIN).select(
        "qid", "tid", col("rnk").cast("long").alias("rnk"), F.round("dist", 4).alias("dist")
    )
    edge_cols = ("qid", "tid", "rnk", "dist")
    assert rows(knn.knn_self_join(spark, nulls_sf, knn.K_JOIN), edge_cols) == rows(
        want, edge_cols
    )


def test_bench_rows_run_on_degenerate_fixture(spark, degenerate_sf, tmp_path, monkeypatch):
    """VERDICT r09 #7: the r09 sweeps covered all 368 graded queries but
    the bench probes build their own frames and were never swept — yet
    they gate every round's artifact. Every bench row must RUN on the
    degenerate fixture (zero-norm embedding, single-char docs, 1-row
    tables), including the rows with index-build-class setup (bucketed
    layout, stored PQ index, chunked sink), which here exercise their
    COLD build paths on degenerate data too. Scratch is redirected to
    tmp_path so the sweep can never collide with (or poison) a real
    bench run's bucketed tables or chunked sink."""
    import bench
    from knn_with_mapreduce_cuda_spark.operators import llm

    monkeypatch.setattr(bench, "_bench_scratch", lambda: str(tmp_path / "bench"))
    bench.setup_bucketed(spark, degenerate_sf)
    llm._pq_store(spark, degenerate_sf)
    try:
        for name, fn in bench.BENCH_QUERIES.items():
            assert fn(spark, degenerate_sf).count() >= 0, name
        # the decomposition twins are data-free but part of the
        # artifact pipeline — they must run wherever the suite runs
        for floor_fn in bench.SHAPE_FLOORS.values():
            assert floor_fn(spark, degenerate_sf).count() >= 0
    finally:
        for t in ("bench_li_b", "bench_ord_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


@pytest.fixture(scope="module")
def unicode_sf(tmp_path_factory):
    """Unicode-degenerate text fixture (round-10 sweep,
    scripts/unicode_sweep_r10.py): CJK without spaces, ZWJ emoji
    sequences, combining diacritics, RTL Arabic with tashkeel, NBSP/tab
    whitespace, supplementary-plane chars, mixed scripts — plus a
    1-char source name and a corpus entirely below the first Heaps
    checkpoint. The sweep ran all 368 keys on it and found two ANSI
    crashers (llm_mix_budget: CAST('' AS BIGINT); llm_heaps_law:
    zero x-variance OLS divide) and ZERO unicode twin mismatches
    across the 75 documents-reading oracles — Spark and DuckDB agree
    on UTF-8 length/substring/split semantics for every case above."""
    import duckdb

    out = tmp_path_factory.mktemp("unicode_sf")
    con = duckdb.connect()

    def w(name, sql):
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")

    w("region", "SELECT CAST(0 AS INTEGER) r_regionkey, 'AFRICA' r_name")
    w(
        "nation",
        "SELECT CAST(0 AS INTEGER) n_nationkey, 'ALGERIA' n_name, "
        "CAST(0 AS INTEGER) n_regionkey",
    )
    w(
        "customer",
        "SELECT CAST(1 AS BIGINT) c_custkey, 'Customer#1' c_name, "
        "CAST(0 AS INTEGER) c_nationkey, CAST(100.0 AS DOUBLE) c_acctbal, "
        "'BUILDING' c_mktsegment",
    )
    w(
        "orders",
        "SELECT CAST(1 AS BIGINT) o_orderkey, CAST(1 AS BIGINT) o_custkey, "
        "'O' o_orderstatus, CAST(10.0 AS DOUBLE) o_totalprice, "
        "TIMESTAMP '1995-01-01 00:00:00' o_orderdate, '1-URGENT' o_orderpriority",
    )
    w(
        "supplier",
        "SELECT CAST(1 AS BIGINT) s_suppkey, 'Supplier#1' s_name, "
        "CAST(0 AS INTEGER) s_nationkey, CAST(100.0 AS DOUBLE) s_acctbal",
    )
    w(
        "part",
        "SELECT CAST(1 AS BIGINT) p_partkey, 'green part' p_name, "
        "'Brand#1' p_brand, 'TYPE A' p_type, CAST(1 AS INTEGER) p_size, "
        "CAST(10.0 AS DOUBLE) p_retailprice",
    )
    w(
        "lineitem",
        "SELECT CAST(1 AS BIGINT) l_orderkey, CAST(1 AS BIGINT) l_partkey, "
        "CAST(1 AS BIGINT) l_suppkey, CAST(1 AS INTEGER) l_linenumber, "
        "CAST(1.0 AS DOUBLE) l_quantity, CAST(10.0 AS DOUBLE) l_extendedprice, "
        "CAST(0.0 AS DOUBLE) l_discount, CAST(0.0 AS DOUBLE) l_tax, "
        "'N' l_returnflag, 'O' l_linestatus, TIMESTAMP '1995-02-01 00:00:00' l_shipdate",
    )
    w(
        "events",
        "SELECT * FROM (VALUES "
        "(CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 10:00:00', CAST(1 AS BIGINT), "
        "'view', CAST(5.0 AS DOUBLE), '{}'), "
        "(CAST(2 AS BIGINT), TIMESTAMP '2024-01-01 10:20:00', CAST(1 AS BIGINT), "
        "'purchase', CAST(7.0 AS DOUBLE), '{}')"
        ") t(event_id, ts, user_id, event_type, value, props)",
    )
    con.execute("CREATE TABLE emb (vec_id BIGINT, embedding FLOAT[], label INTEGER)")
    for vid in (0, 5, 7, 50):
        con.execute(
            "INSERT INTO emb VALUES (?, ?, ?)", [vid, [float(vid % 3 + 1)] * 64, 1]
        )
    con.execute(
        f"COPY (SELECT * FROM emb) TO '{out}/embeddings.parquet' (FORMAT PARQUET)"
    )
    docs = [
        (0, "日本語のテキストです。分かち書きなし"),
        (1, "café café CAFÉ"),
        (2, "\U0001f469‍\U0001f4bb works \U0001f44d\U0001f3fd ok \U0001f680"),
        (3, "مَرحَبًا بِالعَالَم"),
        (4, "tab\tsep nbsp sep line\nbreak"),
        (5, "\U00010348 gothic \U0001d11e clef"),
        (6, "latin中文mix Ж Ω א"),
        (7, "aaa 中中中"),
        (10, "The quick brown fox jumps over the lazy dog. " * 3),
    ]
    con.execute(
        "CREATE TABLE docs (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    for did, text in docs:
        con.execute(
            "INSERT INTO docs VALUES (?, ?, 'xx', 's', ?)", [did, text, len(text)]
        )
    con.execute(
        f"COPY (SELECT * FROM docs) TO '{out}/documents.parquet' (FORMAT PARQUET)"
    )
    con.close()
    return str(out)


#: the two r10 unicode-sweep crashers (now fixed NULL/weight-1
#: consistently with DuckDB) plus representative members of the
#: twin-matched unicode surface — all must RUN and value-match the
#: shipped oracle on the unicode fixture.
UNICODE_TWIN_KEYS = [
    "llm_mix_budget",
    "llm_heaps_law",
    "llm_text_tokenize",
    "llm_text_ngram",
    "llm_text_stats",
    "llm_token_count",
    "llm_lang_id",
    "llm_fingerprint",
    "llm_dedup_hash",
]


def test_unicode_keys_run_and_match_oracle(spark, unicode_sf):
    from knn_with_mapreduce_cuda_spark import registry
    from knn_with_mapreduce_cuda_spark.oracle import duck_connection

    qs = registry.queries()
    oracles = registry.oracle_sql(unicode_sf)
    con = duck_connection(unicode_sf)
    try:
        for key in UNICODE_TWIN_KEYS:
            got = sorted(map(tuple, qs[key](spark, unicode_sf).collect()), key=repr)
            want = sorted(map(tuple, con.execute(oracles[key]).fetchall()), key=repr)
            assert len(got) == len(want), (key, got, want)
            for g, w in zip(got, want):
                assert repr(g) == repr(w) or g == pytest.approx(w, abs=1e-4), (
                    key,
                    g,
                    w,
                )
    finally:
        con.close()


def test_zero_variance_ols_null_convention(spark):
    """The OLS/correlation idiom (heaps_law, spearman, assortativity)
    yields NULL on zero variance — matching DuckDB's x/0 → NULL —
    never an ANSI DIVIDE_BY_ZERO crash (r10 unicode sweep finding,
    fixed across the idiom class)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 3)], "xq long, yq long"
    ).agg(
        F.count("*").alias("m"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
    )
    row = df.select(
        F.expr(
            "round(try_divide(CAST(m * sxy - sx * sy AS DOUBLE), "
            "m * sxx - sx * sx), 4)"
        ).alias("beta")
    ).collect()[0]
    assert row["beta"] is None


@pytest.fixture(scope="module")
def magnitude_sf(tmp_path_factory):
    """The FULL non-finite fixture (scripts/nonfinite_sweep_r10.py):
    the r10 closed classes (NULL/NaN/Inf embedding components, NaN/Inf
    event values) PLUS the magnitude classes closed in r11 — a DBL_MAX
    l_extendedprice (any double SUM over it is +Inf; its cents overflow
    int64 on both engines) and an f32-max 3e38 embedding component
    (finite, but 3e44 micros can never quantize into int64)."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from scripts.nonfinite_sweep_r10 import build_fixture

    out = str(tmp_path_factory.mktemp("magnitude_sf"))
    build_fixture(out)
    return out


#: representative keys of each r11 magnitude-convention class — all
#: must RUN and value-match the shipped oracle on the full fixture
#: (the whole 368-key surface is swept by scripts/nonfinite_sweep_r10.py,
#: which must exit 0; this pin keeps the convention's core visible in
#: the fast suite):
#: - cents/TRY_CAST money quantization: rel_agg_hash, tpch_q1,
#:   rel_agg_stats (quantizable-domain row filter), ml_linreg_normal
#:   (q_floor + row filter);
#: - q_floor/q_ceil int64-domain guard: rel_fn_math (Spark floor/ceil
#:   of DOUBLE silently SATURATE at ±2^63 — try_cast after the fact is
#:   a no-op; only the shared abs(x) < 9.2e18 guard is twin-exact);
#: - per-row-quantize-then-aggregate order: rel_column_profile;
#: - PQ quantizable-domain vector exclusion: llm_simsearch_pq;
#: - NULL-sketch convention: llm_simsearch_hamming;
#: - running-balance COALESCE(…, 0) convention: ts_drawdown,
#:   ts_max_drawdown;
#: - materialized clean corpus before MLlib LSH: llm_ann_lsh;
#: - nullable-boolean canonicalization (oracle.canonical_rows):
#:   rel_fn_higher_order2.
MAGNITUDE_TWIN_KEYS = [
    "rel_agg_hash",
    "tpch_q1",
    "rel_agg_stats",
    "ml_linreg_normal",
    "rel_fn_math",
    "rel_column_profile",
    "llm_simsearch_pq",
    "llm_simsearch_hamming",
    "ts_drawdown",
    "ts_max_drawdown",
    "llm_ann_lsh",
    "rel_fn_higher_order2",
    "ml_lof",
    "ml_pca_power",
]


def test_magnitude_keys_run_and_match_oracle(spark, magnitude_sf):
    """r11 magnitude conventions, value-matched end to end through the
    DRIVER-STRICT comparator (oracle.compare — same machinery as the
    grading driver), not a hand-rolled repr compare."""
    from knn_with_mapreduce_cuda_spark import registry
    from knn_with_mapreduce_cuda_spark.oracle import compare, duck_connection

    qs = registry.queries()
    oracles = registry.oracle_sql(magnitude_sf)
    con = duck_connection(magnitude_sf)
    try:
        for key in MAGNITUDE_TWIN_KEYS:
            res = compare(key, qs[key](spark, magnitude_sf), oracles[key], con)
            assert res.ok, (key, res.detail)
    finally:
        con.close()


def test_quantization_try_cast_convention(spark):
    """The r11 magnitude convention at the expression level, both
    engines: cents(DBL_MAX) is NULL (not CAST_OVERFLOW), q_floor/q_ceil
    are NULL outside the int64 domain (not the silent ±2^63 saturation
    Spark's bare floor/ceil produce), and all are identity in-range."""
    import duckdb

    from pyspark.sql import functions as F
    from knn_with_mapreduce_cuda_spark.operators.relational import (
        _CENTS,
        cents,
        q_ceil,
        q_floor,
    )

    df = spark.createDataFrame(
        [(1.7e308,), (float("inf"),), (float("nan"),), (12.345,), (-3.0,)],
        "x double",
    )
    rows = df.select(
        cents(F.col("x")).alias("c"),
        q_floor(F.col("x")).alias("f"),
        q_ceil(F.col("x")).alias("g"),
    ).collect()
    got = [(r["c"], r["f"], r["g"]) for r in rows]
    assert got == [
        (None, None, None),
        (None, None, None),
        (None, None, None),
        (1235, 12, 13),
        (-300, -3, -3),
    ]
    con = duckdb.connect()
    duck = con.execute(
        "SELECT "
        + _CENTS.format(x="x")
        + ", CASE WHEN abs(x) < 9.2e18 THEN TRY_CAST(floor(x) AS BIGINT) END, "
        "CASE WHEN abs(x) < 9.2e18 THEN TRY_CAST(ceil(x) AS BIGINT) END "
        "FROM (VALUES (1.7e308), (CAST('inf' AS DOUBLE)), "
        "(CAST('nan' AS DOUBLE)), (12.345), (-3.0)) t(x)"
    ).fetchall()
    assert [tuple(r) for r in duck] == got
    con.close()


@pytest.fixture(scope="module")
def temporal_sf(tmp_path_factory):
    """Bounded-span temporal-degenerate fixture
    (scripts/temporal_sweep_r11.py): TIMESTAMP_NS events carrying
    negative-epoch values (-1 ns, -1 s + 1 ns, -13340 s), epoch zero,
    and sub-µs precision, plus far dates in orders (pre-Gregorian-
    reform 1500, the 1582 reform gap, 9999-12-31) and lineitem
    (1900/2500)."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from scripts.temporal_sweep_r11 import build_fixture

    out = str(tmp_path_factory.mktemp("temporal_sf"))
    build_fixture(out)
    return out


#: r11 temporal conventions, each with the divergence it pins:
#: - str_window_sliding: the oracle's window grid uses the FLOOR-mod
#:   idiom, not DuckDB `//` (integer // truncates toward zero, landing
#:   a pre-1970 event's base one slide high — a window starting after
#:   the event);
#: - rel_fn_date / rel_fn_date2: computed dates past 9999-12-31 render
#:   '+10000-…' in Spark vs '10000-…' in DuckDB strftime — the ISO
#:   expanded-year '+' is stripped;
#: - ml_ttest_welch / ml_dist_concentration / llm_embed_outliers /
#:   ts_runs_test: single-event groups (n-1 = 0), duplicate vectors
#:   (min dist 0), and one-sided run sequences (zero variance) are
#:   NULL via try_divide, matching DuckDB x/0;
#: - llm_simsearch_ivfpq_stored: a corpus matching no IVF centroid
#:   writes an EMPTY index — the schema-only sentinel part keeps the
#:   oracle's hive glob readable (zero rows on both engines);
#: - str_window_tumbling / str_window_session: date_trunc / gap logic
#:   are calendar-floor on both engines already (regression guard).
TEMPORAL_TWIN_KEYS = [
    "str_window_sliding",
    "str_window_tumbling",
    "str_window_session",
    "rel_fn_date",
    "rel_fn_date2",
    "ml_ttest_welch",
    "ml_dist_concentration",
    "llm_embed_outliers",
    "ts_runs_test",
    "llm_simsearch_ivfpq_stored",
    "rel_join_asof",
    "str_dedup_watermark",
]


def test_temporal_keys_run_and_match_oracle(spark, temporal_sf):
    """r11 temporal conventions, value-matched end to end through the
    driver-strict comparator."""
    from knn_with_mapreduce_cuda_spark import registry
    from knn_with_mapreduce_cuda_spark.oracle import compare, duck_connection

    qs = registry.queries()
    oracles = registry.oracle_sql(temporal_sf)
    con = duck_connection(temporal_sf)
    try:
        for key in TEMPORAL_TWIN_KEYS:
            res = compare(key, qs[key](spark, temporal_sf), oracles[key], con)
            assert res.ok, (key, res.detail)
    finally:
        con.close()
