"""Property-based kNN invariants (SURVEY.md §5.4) over small synthetic
vector sets — hypothesis drives the data, Spark computes, NumPy checks."""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from knn_with_mapreduce_cuda_spark.functions.vector import METRICS
from knn_with_mapreduce_cuda_spark.operators import knn
from pyspark.sql import functions as F


def _vec_sets(dim=4, max_n=8):
    finite = st.floats(-10, 10, allow_nan=False, width=32)
    vec = st.lists(finite, min_size=dim, max_size=dim)
    return st.lists(vec, min_size=2, max_size=max_n)


def _df(spark, vecs):
    rows = [(i, [float(x) for x in v], i % 3) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, emb array<double>, label int")


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(vecs=_vec_sets())
def test_distance_symmetry_and_self_zero(spark, vecs):
    e = _df(spark, vecs)
    a = e.select(F.col("vec_id").alias("qid"), F.col("emb").alias("qemb"))
    b = e.select(F.col("vec_id").alias("tid"), F.col("emb").alias("temb"))
    pairs = a.crossJoin(b).withColumn("dist", METRICS["euclidean"]("qemb", "temb"))
    pdf = pairs.toPandas()
    d = {(r.qid, r.tid): r.dist for r in pdf.itertuples()}
    for (i, j), v in d.items():
        assert abs(v - d[(j, i)]) < 1e-9
        if i == j:
            assert v == 0.0


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(vecs=_vec_sets(), k1=st.integers(1, 3), k2=st.integers(4, 6))
def test_topk_monotone_in_k(spark, vecs, k1, k2):
    e = _df(spark, vecs)
    q = e.select(F.col("vec_id").alias("qid"), F.col("emb").alias("qemb"), F.col("label").alias("qlabel"))
    pairs = knn.with_distance(knn.all_pairs(q, knn.train_all(e)))
    small = knn.topk(pairs, k1).select("qid", "tid").toPandas()
    big = knn.topk(pairs, k2).select("qid", "tid").toPandas()
    s = set(map(tuple, small.itertuples(index=False)))
    b = set(map(tuple, big.itertuples(index=False)))
    assert s <= b


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(vecs=_vec_sets(dim=4, max_n=6))
def test_topk_matches_numpy_argsort(spark, vecs):
    e = _df(spark, vecs)
    q = e.select(F.col("vec_id").alias("qid"), F.col("emb").alias("qemb"), F.col("label").alias("qlabel"))
    got = (
        knn.topk(knn.with_distance(knn.all_pairs(q, knn.train_all(e))), 2)
        .select("qid", "tid", "rnk")
        .toPandas()
    )
    mat = np.array(vecs, dtype=float)
    for qi in range(len(vecs)):
        d = np.sqrt(((mat - mat[qi]) ** 2).sum(axis=1))
        order = sorted((float(d[j]), j) for j in range(len(vecs)) if j != qi)[:2]
        expected = [j for _, j in order]
        mine = got[got.qid == qi].sort_values("rnk")["tid"].tolist()
        assert mine == expected


def test_cosine_equiv_l2_on_unit_vectors(spark):
    rng = np.random.default_rng(42)
    vecs = rng.normal(size=(6, 8))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    e = _df(spark, vecs.tolist())
    a = e.select(F.col("vec_id").alias("qid"), F.col("emb").alias("qemb"))
    b = e.select(F.col("vec_id").alias("tid"), F.col("emb").alias("temb"))
    pairs = (
        a.crossJoin(b)
        .filter("qid < tid")
        .withColumn("l2", METRICS["euclidean"]("qemb", "temb"))
        .withColumn("cos", METRICS["cosine"]("qemb", "temb"))
        .toPandas()
    )
    # on unit vectors: ||a-b||^2 = 2(1 - cos)
    assert np.allclose(pairs["l2"] ** 2, 2 * (1 - pairs["cos"]), atol=1e-9)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(vecs=_vec_sets(dim=4, max_n=6))
def test_metric_inequality_chain(spark, vecs):
    # chebyshev <= euclidean <= manhattan, pointwise, for every pair
    e = _df(spark, vecs)
    a = e.select(F.col("vec_id").alias("qid"), F.col("emb").alias("qemb"))
    b = e.select(F.col("vec_id").alias("tid"), F.col("emb").alias("temb"))
    pdf = (
        a.crossJoin(b)
        .withColumn("che", METRICS["chebyshev"]("qemb", "temb"))
        .withColumn("euc", METRICS["euclidean"]("qemb", "temb"))
        .withColumn("man", METRICS["manhattan"]("qemb", "temb"))
        .toPandas()
    )
    assert (pdf.che <= pdf.euc + 1e-9).all()
    assert (pdf.euc <= pdf.man + 1e-9).all()


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(vecs=_vec_sets(dim=4, max_n=6))
def test_minkowski_between_chebyshev_and_manhattan(spark, vecs):
    # L∞ <= L3 <= L1 pointwise; hamming is integer-valued, symmetric, <= dim
    e = _df(spark, vecs)
    a = e.select(F.col("vec_id").alias("qid"), F.col("emb").alias("qemb"))
    b = e.select(F.col("vec_id").alias("tid"), F.col("emb").alias("temb"))
    pdf = (
        a.crossJoin(b)
        .withColumn("che", METRICS["chebyshev"]("qemb", "temb"))
        .withColumn("mink", METRICS["minkowski3"]("qemb", "temb"))
        .withColumn("man", METRICS["manhattan"]("qemb", "temb"))
        .withColumn("ham", METRICS["hamming"]("qemb", "temb"))
        .toPandas()
    )
    assert (pdf.che <= pdf.mink + 1e-9).all()
    assert (pdf.mink <= pdf.man + 1e-9).all()
    assert ((pdf.ham >= 0) & (pdf.ham <= 4)).all()
    assert (pdf.ham == pdf.ham.round()).all()


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=st.lists(st.integers(0, 3), min_size=1, max_size=12),
    small=st.lists(st.tuples(st.integers(0, 3), st.integers(-5, 5)), min_size=1, max_size=4),
)
def test_salted_join_equals_plain_join(spark, keys, small):
    from knn_with_mapreduce_cuda_spark.operators.relational import salted_join

    big = spark.createDataFrame([(k, i) for i, k in enumerate(keys)], "k int, payload int")
    sm = spark.createDataFrame(list(set(small)), "k int, v int")
    plain = sorted(map(tuple, big.join(sm, "k").select("k", "payload", "v").collect()))
    salted = sorted(map(tuple, salted_join(big, sm, "k").select("k", "payload", "v").collect()))
    assert plain == salted


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.integers(min_value=1, max_value=120), min_size=1, max_size=8))
def test_chunk_window_tiling_covers_every_token_once_per_window(spark, doc_lens):
    """Property: for any doc lengths, the chunk tiling (SIZE=32,
    STRIDE=24) starts at 0,24,48,…; the last window starts within SIZE
    tokens of the end; every token belongs to ≥1 window; window token
    counts are exact."""
    from knn_with_mapreduce_cuda_spark.operators.llm import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        _q_chunk_windows,
    )
    from knn_with_mapreduce_cuda_spark.operators import llm as llm_mod
    from unittest import mock

    rows = [(i, " ".join(f"t{j}" for j in range(n)), "en", "src", n)
            for i, n in enumerate(doc_lens)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    with mock.patch.object(llm_mod, "_tokens_wide",
                           lambda s, d: df.withColumn("ts", F.split("text", " "))):
        got = _q_chunk_windows(spark, "ignored").collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(doc_lens):
        ws = sorted(by_doc[i], key=lambda r: r.chunk_id)
        starts = [r.start_tok - 1 for r in ws]
        assert starts == list(range(0, starts[-1] + 1, CHUNK_STRIDE))
        assert starts[-1] < max(n, 1)  # last window starts inside the doc
        assert n - starts[-1] <= CHUNK_SIZE  # and reaches the end
        for r in ws:
            assert r.n_tok_chunk == min(CHUNK_SIZE, n - (r.start_tok - 1))


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),          # group (few, skewable)
            st.integers(-1000, 1000),   # order key (ties across groups ok)
            st.one_of(st.none(), st.integers(-50, 50)),  # summed value
        ),
        min_size=1,
        max_size=60,
    ),
    parts=st.integers(1, 9),
)
def test_grouped_prefix_scan_matches_window_property(spark, rows, parts):
    """attach_running_grouped ≡ Window.partitionBy(group) for ANY group
    skew, order-key ties (broken by a unique id), null values, and
    slice count — the hypothesis twin of the parametrized cases."""
    from pyspark.sql import Window
    from pyspark.sql.functions import coalesce, col, lit
    from pyspark.sql import functions as F

    from knn_with_mapreduce_cuda_spark.plans import prefix

    data = [(g, o, i, v) for i, (g, o, v) in enumerate(rows)]
    d = spark.createDataFrame(data, "g long, o long, tie long, v long").repartition(3)
    got = prefix.attach_running_grouped(
        d, ["g"], ["o", "tie"], sums={"v": "cs"}, sums_excl={"v": "cse"}, parts=parts
    )
    w = Window.partitionBy("g").orderBy("o", "tie")
    want = d.withColumn(
        "cs", coalesce(F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)), lit(0))
    ).withColumn(
        "cse", coalesce(F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0))
    )
    cols = ["g", "o", "tie", "v", "cs", "cse"]
    assert sorted(map(tuple, got.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )


@given(
    st.text(
        alphabet=st.sampled_from(list("abE'\"\\-/*$|\n ()1;")),
        max_size=60,
    )
)
@settings(max_examples=300, deadline=None)
def test_code_segments_lexing_is_lossless(sql):
    """The oracle lexer must be a pure PARTITION of its input: whatever
    quote/comment/escape state it infers, concatenating the segments
    reproduces the input byte-for-byte (so a mis-lexed statement can
    degrade only into wrong code/literal CLASSIFICATION, never into
    dropped or duplicated SQL), and no segment is empty."""
    from knn_with_mapreduce_cuda_spark.oracle import _code_segments

    segs = _code_segments(sql)
    assert "".join(t for _, t in segs) == sql
    assert all(t for _, t in segs)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.data())
def test_gemm_fold_bit_identical_to_sq_euclidean(spark, data):
    """The GEMM kernel's f64 rerank/fallback fold (``sq_dist_fold``) equals
    the Catalyst ``sq_euclidean`` expression bit for bit — dims 1–128,
    magnitudes up to 1e150, and every row paired with itself (a
    duplicate) and with its 1-ulp neighbour (a near tie)."""
    from knn_with_mapreduce_cuda_spark.plans.gemm_knn import sq_dist_fold

    dim = data.draw(st.integers(1, 128), label="dim")
    n = data.draw(st.integers(1, 4), label="n")
    mag = st.floats(-1e150, 1e150, allow_nan=False, allow_infinity=False)
    rows = st.lists(st.lists(mag, min_size=dim, max_size=dim), min_size=n, max_size=n)
    a = np.array(data.draw(rows, label="a"))
    b = np.array(data.draw(rows, label="b"))
    q = np.vstack([a, a, a])
    t = np.vstack([b, a, np.nextafter(a, np.inf)])
    df = spark.createDataFrame(
        [(i, q[i].tolist(), t[i].tolist()) for i in range(len(q))],
        "i int, a array<double>, b array<double>",
    )
    got = df.select("i", METRICS["sqeuclidean"]("a", "b").alias("d")).orderBy("i").collect()
    want = sq_dist_fold(q.T, t.T)
    assert [r.d.hex() for r in got] == [float(x).hex() for x in want]


@settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.data())
def test_smallest_cols_selects_partition_multiset(data):
    """The GEMM kernel's two-stage top-kk selection (``_smallest_cols``)
    keeps ``np.partition``'s kk smallest values of every f32 score row as
    a multiset (NaN last), holds the kk-th smallest at position kk-1 and
    leaves out nothing below it — over NaN entries and all-NaN groups,
    ±inf, integer-valued mass ties, widths that are not a multiple of
    the group size, and widths below the two-stage threshold."""
    from knn_with_mapreduce_cuda_spark.plans.gemm_knn import GROUP_COLS, _smallest_cols

    kk = data.draw(st.integers(1, 6), label="kk")
    two_stage = 4 * kk * GROUP_COLS
    n = data.draw(
        st.one_of(st.integers(kk, two_stage - 1), st.integers(two_stage, 2 * two_stage)),
        label="n",
    )
    rows = data.draw(st.integers(1, 4), label="rows")
    spread = data.draw(st.sampled_from([1, 3, 1_000_000]), label="spread")
    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1), label="seed"))
    scores = rng.integers(-spread, spread + 1, size=(rows, n)).astype(np.float32)
    for value in (np.nan, np.inf, -np.inf):
        frac = data.draw(st.sampled_from([0.0, 0.01, 0.3]), label=f"{value} frac")
        scores[rng.random(scores.shape) < frac] = value
    groups = n // GROUP_COLS
    for g in data.draw(st.lists(st.integers(0, max(groups - 1, 0)), max_size=8), label="nan groups"):
        scores[:, g : groups * GROUP_COLS : max(groups, 1)] = np.nan

    cols = _smallest_cols(scores, kk)
    assert cols.shape == (rows, kk)
    for row, sel in zip(scores, cols):
        assert len(set(sel.tolist())) == kk
        ordered = np.sort(row)  # NaN last, as np.partition orders them
        np.testing.assert_array_equal(np.sort(row[sel]), np.sort(np.partition(row, kk - 1)[:kk]))
        kth = ordered[kk - 1]
        np.testing.assert_array_equal(row[sel[kk - 1]], kth)
        rest = np.delete(row, sel)
        if np.isnan(kth):
            assert np.isnan(rest).all()
        else:
            assert (np.isnan(rest) | (rest >= kth)).all()
