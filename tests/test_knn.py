"""kNN correctness against the NumPy serial oracle — the reference's
"serial baseline diff" test strategy reborn (SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest

from knn_with_mapreduce_cuda_spark import tables
from knn_with_mapreduce_cuda_spark.operators import knn
from knn_with_mapreduce_cuda_spark.plans.gemm_knn import knn_topk_gemm
from tests.conftest import SF_SMOKE

K = 10


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = tables.embeddings(spark, SF_SMOKE).toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["emb"].to_numpy())
    labels = pdf["label"].to_numpy()
    return ids, mat, labels


def numpy_topk(ids, mat, k=K):
    """Serial brute-force: for each query (id%5==0) the k nearest others."""
    out = {}
    qmask = ids % 5 == 0
    for qi in np.where(qmask)[0]:
        d = np.sqrt(((mat - mat[qi]) ** 2).sum(axis=1))
        order = sorted((float(d[j]), int(ids[j])) for j in range(len(ids)) if j != qi)
        out[int(ids[qi])] = [tid for _, tid in order[:k]]
    return out


def test_topk_matches_numpy(spark, corpus):
    ids, mat, labels = corpus
    expected = numpy_topk(ids, mat)
    e = tables.embeddings(spark, SF_SMOKE)
    got = (
        knn.topk(knn.with_distance(knn.all_pairs(knn.split_test(e), knn.train_all(e))), K)
        .select("qid", "tid", "rnk")
        .toPandas()
    )
    for qid, grp in got.groupby("qid"):
        tids = grp.sort_values("rnk")["tid"].tolist()
        assert tids == expected[qid], f"qid {qid}"


def test_gemm_equals_expression_path(spark):
    e = tables.embeddings(spark, SF_SMOKE)
    q = knn.split_test(e).select("qid", "qemb")
    t = knn.train_all(e).select("tid", "temb")
    gemm = knn_topk_gemm(q, t, K).select("qid", "tid", "rnk").toPandas()
    expr = (
        knn.topk(knn.with_distance(knn.all_pairs(knn.split_test(e), knn.train_all(e))), K)
        .select("qid", "tid", "rnk")
        .toPandas()
    )
    key = lambda df: sorted(map(tuple, df.itertuples(index=False)))
    assert key(gemm) == key(expr)


def test_classify_majority_vote(spark, corpus):
    ids, mat, labels = corpus
    label_of = dict(zip(ids.tolist(), labels.tolist()))
    expected_topk = numpy_topk(ids, mat)
    pred = knn.classify(spark, SF_SMOKE, K).toPandas().set_index("qid")
    for qid, tids in expected_topk.items():
        votes = {}
        for tid in tids:
            votes[label_of[tid]] = votes.get(label_of[tid], 0) + 1
        best = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        assert pred.loc[qid, "pred_label"] == best
        assert pred.loc[qid, "true_label"] == label_of[qid]


def _by_rank(pdf):
    return pdf.sort_values(["qid", "rnk"]).reset_index(drop=True)


def _assert_bits_equal(got, want, cols):
    """Row-for-row equality; float columns compared on their bit patterns
    (NaN stands for a NULL distance, and NaN == NaN bitwise here)."""
    assert len(got) == len(want)
    for c in cols:
        g, w = got[c].to_numpy(), want[c].to_numpy()
        if w.dtype.kind == "f":
            assert np.array_equal(g.astype(np.float64).view("u8"), w.view("u8")), c
        else:
            assert np.array_equal(g, w), c


def _expression_reference(e, q, k):
    """The pair-space twin both memos must equal: BNLJ → zip_with fold →
    (dist, tid) window."""
    return _by_rank(
        knn.topk(knn.with_distance(knn.all_pairs(q, knn.train_all(e))), k)
        .select("qid", "tid", "rnk", "dist", "qlabel", "tlabel")
        .toPandas()
    )


def test_knn_memos_bit_identical_to_expression_path(spark):
    """Both kNN memos come from one GEMM kernel pass whose f64 left-fold
    distances equal the expression path's bit for bit: ids, ranks and the
    UNROUNDED dist of knn_test_topk and of the shared self-kNN pass match
    the all_pairs → with_distance → topk reference exactly, and
    knn_self_join is that reference rounded."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import col

    tables.invalidate_caches(SF_SMOKE)
    e = tables.embeddings(spark, SF_SMOKE)
    cols = ["qid", "tid", "rnk", "dist", "qlabel", "tlabel"]

    want = _expression_reference(e, knn.split_test(e), K)
    got = _by_rank(knn.knn_test_topk(spark, SF_SMOKE, K).toPandas())
    _assert_bits_equal(got, want, cols)

    everyone = e.select(
        col("vec_id").alias("qid"), col("emb").alias("qemb"), col("label").alias("qlabel")
    )
    want = _expression_reference(e, everyone, K)
    got = _by_rank(knn._self_knn(spark, SF_SMOKE, K).toPandas())
    _assert_bits_equal(got, want, cols)

    want = (
        spark.createDataFrame(want[want.rnk <= knn.K_JOIN][["qid", "tid", "rnk", "dist"]])
        .select("qid", "tid", col("rnk").cast("long"), F.round("dist", 4).alias("dist"))
        .toPandas()
    )
    got = _by_rank(knn.knn_self_join(spark, SF_SMOKE, knn.K_JOIN).toPandas())
    _assert_bits_equal(got, _by_rank(want), ["qid", "tid", "rnk", "dist"])


def test_self_join_after_test_topk_runs_no_second_kernel(spark):
    """knn_test_topk builds the one self-kNN pass; knn_self_join in the
    same session is a filter over its checkpoint — constructing it runs
    no job, and its plan holds no MapInArrow kernel stage (nor a BNLJ)."""
    tables.invalidate_caches(SF_SMOKE)
    knn.knn_test_topk(spark, SF_SMOKE, K)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    edges = knn.knn_self_join(spark, SF_SMOKE, knn.K_JOIN)
    assert len(tracker.getJobIdsForGroup(None) or []) == before
    edges.collect()
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan and "NestedLoopJoin" not in plan, plan
