"""T1 — kNN core operators (SURVEY.md §2.T1), the reference's own surface.

Parity map (reference repo class, SURVEY.md §3.1 — checkout empty, §0):
- ``Mapper.setup`` loading the test set from DistributedCache → the
  broadcast query side (``all_pairs``; the GEMM kernel's query block).
- ``Mapper.map`` distance loop / CUDA tiled kernel → the GEMM kernel
  (``plans/gemm_knn.py``) behind both kNN memos; ``with_distance``
  (Catalyst ``zip_with``/``aggregate``, functions/vector.py — the same
  distances bit for bit) for the pair-space keys and as the memos' twin.
- ``Combiner``/``Reducer`` bounded top-k + majority vote →
  ``topk`` (window ``row_number``; Spark ≥3.5 pushes a partial
  WindowGroupLimit before the shuffle — the Combiner, for free) and
  ``majority_vote``.

Scale design (SURVEY.md §4): the probe/query side is broadcast (never
shuffled); the train side streams partition-local; top-k is pruned
map-side before the exchange. The cross product is never materialized
— it exists only inside the join stage or the kernel's tiles.

Oracle conventions (SURVEY.md §7.2): round(4) every float, tie-break every
window on a unique id, cast arrays to double, alias both sides alike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.functions import col, lit

from .. import tables
from ..functions.vector import METRICS, l2_norm
from ..plans.gemm_knn import knn_candidates_gemm

K_DEFAULT = 10
K_JOIN = 5


# ---------------------------------------------------------------- operators


def split_test(e: DataFrame) -> DataFrame:
    """Deterministic test split (vec_id % 5 == 0) — oracle-reproducible,
    unlike randomSplit (SURVEY.md §2.T1 knn_split)."""
    return e.filter(col("vec_id") % 5 == 0).select(
        col("vec_id").alias("qid"), col("emb").alias("qemb"), col("label").alias("qlabel")
    )


def train_all(e: DataFrame) -> DataFrame:
    return e.select(
        col("vec_id").alias("tid"), col("emb").alias("temb"), col("label").alias("tlabel")
    )


def all_pairs(q: DataFrame, t: DataFrame) -> DataFrame:
    """Candidate pairs, self excluded. The small query side is broadcast —
    the DistributedCache / pinned-device-memory analog. Physically a
    BroadcastNestedLoopJoin streaming the (big) train side.

    The streamed side is hash-repartitioned to the session default
    parallelism first: BNLJ task count equals the streamed side's
    partition count, and the O(|t|·|q|·d) distance work each streamed
    row fans out into dwarfs the O(|t|) one-round shuffle at any scale
    where an exact pair join is feasible at all. Without it a
    single-file fixture runs the whole quadratic fold in ONE task
    (measured 53 s → 4.3 s at sf0.1 on local[32])."""
    fanout = t.sparkSession.sparkContext.defaultParallelism
    return t.repartition(fanout, col("tid")).join(
        F.broadcast(q), col("qid") != col("tid")
    )


def with_distance(pairs: DataFrame, metric: str = "euclidean") -> DataFrame:
    return pairs.withColumn("dist", METRICS[metric]("qemb", "temb"))


def topk(pairs_with_dist: DataFrame, k: int = K_DEFAULT) -> DataFrame:
    """Per-query k smallest distances; ties broken on tid (total order).
    InferWindowGroupLimit prunes to k per partition before the shuffle —
    the MapReduce Combiner, supplied by Catalyst."""
    w = Window.partitionBy("qid").orderBy(F.asc_nulls_last("dist"), "tid")
    return pairs_with_dist.withColumn("rnk", F.row_number().over(w)).filter(col("rnk") <= k)


def majority_vote(topk_df: DataFrame) -> DataFrame:
    """Mode of neighbor labels; ties → smallest label (Reducer tail)."""
    votes = topk_df.groupBy("qid", "qlabel", "tlabel").agg(F.count("*").alias("votes"))
    w = Window.partitionBy("qid").orderBy(F.desc("votes"), "tlabel")
    return (
        votes.withColumn("vr", F.row_number().over(w))
        .filter(col("vr") == 1)
        .select(
            "qid",
            col("tlabel").alias("pred_label"),
            col("qlabel").alias("true_label"),
            (col("tlabel") == col("qlabel")).cast("int").alias("correct"),
            "votes",
        )
    )


_KNN_MEMO = tables.SessionMemo()


def _memo(spark: SparkSession, key: tuple, build) -> DataFrame:
    hit = _KNN_MEMO.get(spark, key)
    if hit is None:
        hit = build()
        _KNN_MEMO.put(spark, key, hit)
    return hit


def _self_knn(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Memoized exact self-kNN of every point (its k nearest others on
    (dist, tid), labels joined back): the ONE kernel pass both kNN memos
    filter; the n·k-row result is checkpointed, never the pair space.
    The kernel excludes NULL (poisoned) vectors; their pairs come back as
    NULL-dist candidates before the window, so a NULL query keeps its
    smallest-tid candidates and a NULL train vector ranks after every
    finite one, as on the expression path (README corrupt-data contract
    1–2). Both restore joins broadcast the NULL ids, empty on clean data."""

    def build():
        e = tables.embeddings(spark, sf_dir)
        q = e.select(col("vec_id").alias("qid"), col("emb").alias("qemb"))
        t = e.select(col("vec_id").alias("tid"), col("emb").alias("temb"))
        nulls = e.filter(col("emb").isNull())
        null_q = F.broadcast(nulls.select(col("vec_id").alias("qid")))
        null_t = F.broadcast(nulls.select(col("vec_id").alias("tid")))
        null_pairs = (
            null_q.join(t.select("tid"), col("qid") != col("tid"))
            .unionByName(
                q.filter(col("qemb").isNotNull())
                .select("qid")
                .join(null_t, col("qid") != col("tid"))
            )
            .select("qid", "tid", lit(None).cast("double").alias("dist"))
        )
        cand = knn_candidates_gemm(q, t, k).unionByName(null_pairs)
        lbl = e.select("vec_id", "label")
        return (
            topk(cand, k)
            .join(lbl.select(col("vec_id").alias("qid"), col("label").alias("qlabel")), "qid")
            .join(lbl.select(col("vec_id").alias("tid"), col("label").alias("tlabel")), "tid")
            .select("qid", "tid", "rnk", "dist", "qlabel", "tlabel")
            .localCheckpoint(eager=True)
        )

    return _memo(spark, (sf_dir.rstrip("/"), "self_knn", k), build)


def knn_test_topk(spark: SparkSession, sf_dir: str, k: int = K_DEFAULT) -> DataFrame:
    """Memoized exact test-split top-k, the evaluation ground truth of
    seventeen graded keys: ``topk(_pairs(spark, sf_dir), k)`` — the
    ``vec_id % 5 == 0`` queries against every other point, i.e. the
    self-kNN pass filtered to them. Columns: qid, tid, rnk, dist
    (unrounded), qlabel, tlabel."""
    return _memo(
        spark,
        (sf_dir.rstrip("/"), "test_topk", k),
        lambda: _self_knn(spark, sf_dir, max(k, K_DEFAULT)).filter(
            (col("qid") % 5 == 0) & (col("rnk") <= k)
        ),
    )


def classify(spark: SparkSession, sf_dir: str, k: int = K_DEFAULT) -> DataFrame:
    """Full kNN classification pipeline — the flagship (SURVEY.md §7.3 P1)."""
    return majority_vote(knn_test_topk(spark, sf_dir, k))


def weighted_vote(topk_df: DataFrame) -> DataFrame:
    """Distance-weighted vote (the standard kNN variant beside majority).

    Weights are integerized — ``floor(10000 / (round(dist,4) + 1))`` — so
    per-label weight sums are exact integers: order-independent under any
    partitioning (the cents convention applied to votes, SCALE.md §3).
    """
    weighted = topk_df.withColumn(
        "w", F.floor(10000.0 / (F.round("dist", 4) + 1.0)).try_cast("long")
    )
    votes = weighted.groupBy("qid", "qlabel", "tlabel").agg(F.sum("w").alias("wsum"))
    w = Window.partitionBy("qid").orderBy(F.desc("wsum"), "tlabel")
    return (
        votes.withColumn("vr", F.row_number().over(w))
        .filter(col("vr") == 1)
        .select(
            "qid",
            col("tlabel").alias("pred_label"),
            col("qlabel").alias("true_label"),
            (col("tlabel") == col("qlabel")).cast("int").alias("correct"),
            "wsum",
        )
    )


K_SWEEP = [1, 3, 5, 10]


def k_sweep_accuracy(spark: SparkSession, sf_dir: str, ks: list[int] | None = None) -> DataFrame:
    """Hyperparameter sweep: accuracy at several k from ONE top-k pass.

    The candidate top-max(k) set is computed once; each k reuses it via a
    rank filter — k values add no extra distance work or shuffles.
    """
    ks = ks or K_SWEEP
    top = knn_test_topk(spark, sf_dir, max(ks))
    kdf = top.sparkSession.createDataFrame([(k,) for k in ks], "k int")
    votes = (
        top.join(F.broadcast(kdf), col("rnk") <= col("k"))
        .groupBy("k", "qid", "qlabel", "tlabel")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("k", "qid").orderBy(F.desc("votes"), "tlabel")
    pred = votes.withColumn("vr", F.row_number().over(w)).filter(col("vr") == 1)
    return (
        pred.groupBy("k")
        .agg(
            F.round(F.avg((col("tlabel") == col("qlabel")).cast("double")), 4).alias("accuracy"),
            F.count("*").alias("n_test"),
        )
        .select(col("k").cast("long").alias("k"), "accuracy", "n_test")
    )


def knn_self_join(spark: SparkSession, sf_dir: str, k: int = K_JOIN) -> DataFrame:
    """kNN self-join: every point's k nearest as (qid, tid, rnk, dist
    rounded to 4) (SURVEY.md [P:Zhang12]) — the kNN graph a dozen
    graph/ML operators consume, a memoized filter over the self-kNN pass
    (no kernel run of its own after ``knn_test_topk``)."""
    return _memo(
        spark,
        (sf_dir.rstrip("/"), "knn_self_join", k),
        lambda: _self_knn(spark, sf_dir, max(k, K_DEFAULT))
        .filter(col("rnk") <= k)
        .select(
            "qid", "tid", col("rnk").cast("long").alias("rnk"),
            F.round("dist", 4).alias("dist"),
        ),
    )


# ------------------------------------------------------------------ queries


def _q_scan(spark, sf_dir):
    e = tables.embeddings(spark, sf_dir)
    return e.select(
        "vec_id",
        "label",
        F.size("emb").cast("long").alias("dim"),
        F.round(l2_norm("emb"), 4).alias("norm"),
    )


def _q_normalize_minmax(spark, sf_dir):
    """Per-dimension min-max scaling. The per-pos stats come from a
    map-side ``groupBy("pos")`` aggregate (≤ dim rows) broadcast-joined
    back — not ``min/max over Window.partitionBy("pos")``, whose
    unordered window folds every vector of a dimension through ONE task
    (parallelism capped at dim = 64 regardless of corpus size).
    min/max are order-insensitive, so values are identical."""
    e = tables.embeddings(spark, sf_dir)
    ex = e.select("vec_id", F.posexplode("emb").alias("pos", "val"))
    stats = ex.groupBy("pos").agg(
        F.min("val").alias("_mn"), F.max("val").alias("_mx")
    )
    return ex.join(F.broadcast(stats), "pos").select(
        "vec_id",
        col("pos").cast("long").alias("pos"),
        # try_divide: a CONSTANT dimension has zero range — NULL scaled
        # value, matching DuckDB's x/0 (r10 non-finite sweep; reachable
        # the moment poisoning shrinks a fixture to identical vectors).
        F.round(
            F.try_divide(col("val") - col("_mn"), col("_mx") - col("_mn")), 4
        ).alias("scaled"),
    )


def _q_normalize_zscore(spark, sf_dir):
    """Per-dimension z-score, same scale shape as minmax above: per-pos
    mean/stddev via the map-side partial aggregate (tree-merged — the
    same merge path DuckDB's grouped avg/stddev runs) broadcast-joined
    back, never an unordered per-pos window fold.

    Documented half-tie exposure (ADVICE r06 #5; same class as
    quality_score): unlike min/max, avg/stddev_pop are NOT
    order-insensitive in floating point — partial-merge order can move
    the statistic by an ulp, and an ulp flips ``round(x, 4)`` only when
    the true quotient sits within ~1e-12 of a .5e-4 boundary (odds
    ~1e-8 per cell; hash-verified bit-identical to the window form and
    to DuckDB at 3 SFs and under the 5-cpu/7-partition shake). Accepted
    as-is: quantizing val to integers would change the operator's
    semantics, and the oracle runs the same float merge."""
    e = tables.embeddings(spark, sf_dir)
    ex = e.select("vec_id", F.posexplode("emb").alias("pos", "val"))
    stats = ex.groupBy("pos").agg(
        F.avg("val").alias("_mu"), F.stddev_pop("val").alias("_sd")
    )
    return ex.join(F.broadcast(stats), "pos").select(
        "vec_id",
        col("pos").cast("long").alias("pos"),
        # + 0.0 normalizes IEEE -0.0 (round of a tiny negative) to +0.0 so
        # the value-hash is engine-independent; same term in the oracle SQL.
        # try_divide: a zero-variance dimension yields NULL, like DuckDB
        (F.round(F.try_divide(col("val") - col("_mu"), col("_sd")), 4) + 0.0).alias(
            "scaled"
        ),
    )


def _q_normalize_unit(spark, sf_dir):
    """L2 unit normalization — the preprocessing kNN-with-cosine assumes
    (fixture vectors are already unit-norm, so scaled ≈ val — the query
    still exercises the norm-divide path)."""
    e = tables.embeddings(spark, sf_dir)
    n = e.select("vec_id", "emb", l2_norm("emb").alias("nrm"))
    ex = n.select("vec_id", F.posexplode("emb").alias("pos", "val"), "nrm")
    return ex.select(
        "vec_id",
        col("pos").cast("long").alias("pos"),
        # try_divide: a zero-norm vector yields NULL, like DuckDB
        (F.round(F.try_divide(col("val"), col("nrm")), 4) + 0.0).alias("scaled"),
    )


def _q_split(spark, sf_dir):
    e = tables.embeddings(spark, sf_dir)
    return e.select(
        "vec_id",
        "label",
        F.when(col("vec_id") % 5 == 0, F.lit("test")).otherwise(F.lit("train")).alias("split"),
    )


def _pairs(spark, sf_dir, metric="euclidean"):
    e = tables.embeddings(spark, sf_dir)
    return with_distance(all_pairs(split_test(e), train_all(e)), metric)


def _q_allpairs(spark, sf_dir):
    e = tables.embeddings(spark, sf_dir)
    return all_pairs(split_test(e), train_all(e)).select("qid", "tid")


def _q_dist(metric, signed=False):
    def q(spark, sf_dir):
        d = F.round("dist", 4)
        if signed:  # cosine/dot can round to -0.0 — normalize to +0.0
            d = d + 0.0
        return _pairs(spark, sf_dir, metric).select("qid", "tid", d.alias("dist"))

    return q


def _q_topk(spark, sf_dir):
    return knn_test_topk(spark, sf_dir, K_DEFAULT).select(
        "qid", "tid", col("rnk").cast("long").alias("rnk"), F.round("dist", 4).alias("dist")
    )


def _q_classify(spark, sf_dir):
    return classify(spark, sf_dir, K_DEFAULT)


def _q_regress(spark, sf_dir):
    t = knn_test_topk(spark, sf_dir, K_DEFAULT)
    return t.groupBy("qid").agg(
        F.round(F.avg(col("tlabel").cast("double")), 4).alias("pred_value")
    )


def _q_join(spark, sf_dir):
    return knn_self_join(spark, sf_dir, K_JOIN)


def _q_accuracy(spark, sf_dir):
    pred = classify(spark, sf_dir, K_DEFAULT)
    return pred.agg(
        F.round(F.avg(col("correct").cast("double")), 4).alias("accuracy"),
        F.count("*").alias("n"),
    )


def _q_confusion(spark, sf_dir):
    pred = classify(spark, sf_dir, K_DEFAULT)
    return pred.groupBy("true_label", "pred_label").agg(F.count("*").alias("cnt"))


def _q_mutual(spark, sf_dir):
    """Mutual-kNN graph: undirected edges (a, b) where each is in the
    other's top-K_JOIN — the symmetric neighbor graph density-based
    clustering and dedup build on. One kNN self-join, self-joined on the
    reversed key pair; at scale the second join is equi on (qid, tid) —
    shuffle-partitioned, never quadratic."""
    edges = knn_self_join(spark, sf_dir, K_JOIN).select("qid", "tid")
    rev = edges.select(col("tid").alias("qid"), col("qid").alias("tid"))
    return (
        edges.join(rev, ["qid", "tid"])
        .filter(col("qid") < col("tid"))
        .select(col("qid").alias("a"), col("tid").alias("b"))
    )


def _q_hubness(spark, sf_dir):
    """kNN-graph hubness diagnostic: the indegree distribution of the
    directed kNN graph (how many points' top-k each point appears in).
    Heavy-tailed indegree = "hub" points that dominate neighbor lists —
    the standard high-dimensional kNN pathology check. One groupBy on tid
    + a left join to keep zero-indegree (anti-hub) nodes."""
    e = tables.embeddings(spark, sf_dir)
    nodes = e.select("vec_id")
    indeg = (
        knn_self_join(spark, sf_dir, K_JOIN)
        .groupBy(col("tid").alias("vec_id"))
        .agg(F.count("*").alias("indeg"))
    )
    full = nodes.join(indeg, "vec_id", "left").select(
        F.coalesce("indeg", F.lit(0)).alias("indeg")
    )
    return full.groupBy("indeg").agg(F.count("*").alias("n_nodes"))


RADIUS_EPS = 1.40


def _q_radius(spark, sf_dir):
    """ε-range search (fixed-radius neighbors) — the dual of top-k: all
    neighbors within RADIUS_EPS, plus the per-query hit count. Same pair
    join as knn_topk; the predicate prunes before the exchange, so at
    100 TB the shuffle carries only in-radius pairs (for small ε, a tiny
    fraction of the cross product)."""
    hits = _pairs(spark, sf_dir, "euclidean").filter(col("dist") < RADIUS_EPS)
    return hits.select(
        "qid",
        "tid",
        F.round("dist", 4).alias("dist"),
        F.count("*").over(Window.partitionBy("qid")).alias("n_in_radius"),
    )


def _q_crossval(spark, sf_dir):
    """5-fold cross-validated kNN accuracy from ONE pair join: fold =
    vec_id % 5; every pair where the two folds differ feeds the fold of
    its query point, so all five train/test splits share a single
    distance computation (the multi-query amortization trick — 5× the
    evaluation, 1× the join). Per-fold accuracy + the mean-of-folds row."""
    e = tables.embeddings(spark, sf_dir)
    q = e.select(
        col("vec_id").alias("qid"),
        (col("vec_id") % 5).alias("fold"),
        col("emb").alias("qemb"),
        col("label").alias("qlabel"),
    )
    t = e.select(
        col("vec_id").alias("tid"),
        (col("vec_id") % 5).alias("tfold"),
        col("emb").alias("temb"),
        col("label").alias("tlabel"),
    )
    # the all_pairs BNLJ fan-out rule: repartition the streamed side so
    # the 4/5-dense pair fold runs on every core, not one file partition
    fanout = spark.sparkContext.defaultParallelism
    # r12 (guide §2.3, scripts/crossval_ab_r12.py): d(q,t) = d(t,q)
    # bit-identically in IEEE doubles ((x-y)² vs (y-x)², same zip_with
    # index order, same left fold), yet the ordered pair space evaluated
    # the euclidean fold twice per unordered pair. Fold only qid < tid
    # pairs — HALF the n²·4/5 array folds — then mirror each row inline
    # with explode(array(fwd, rev)): the ranking window receives the
    # identical row multiset (A/B equality-asserted; 1.69 → 1.18 s warm).
    pairs = t.repartition(fanout, col("tid")).join(
        F.broadcast(q), (col("fold") != col("tfold")) & (col("qid") < col("tid"))
    )
    half = pairs.withColumn("dist", METRICS["euclidean"]("qemb", "temb"))
    d = half.select(
        F.explode(
            F.array(
                F.struct(
                    col("fold"), col("qid"), col("qlabel"), col("tid"), col("tlabel")
                ),
                F.struct(
                    col("tfold").alias("fold"),
                    col("tid").alias("qid"),
                    col("tlabel").alias("qlabel"),
                    col("qid").alias("tid"),
                    col("qlabel").alias("tlabel"),
                ),
            )
        ).alias("p"),
        "dist",
    ).select("p.*", "dist")
    w = Window.partitionBy("fold", "qid").orderBy(F.asc_nulls_last("dist"), "tid")
    top = d.withColumn("rnk", F.row_number().over(w)).filter(col("rnk") <= K_DEFAULT)
    votes = top.groupBy("fold", "qid", "qlabel", "tlabel").agg(
        F.count("*").alias("votes")
    )
    wv = Window.partitionBy("fold", "qid").orderBy(F.desc("votes"), "tlabel")
    pred = votes.withColumn("vr", F.row_number().over(wv)).filter(col("vr") == 1)
    return pred.groupBy("fold").agg(
        F.round(F.avg((col("tlabel") == col("qlabel")).cast("double")), 4).alias(
            "accuracy"
        ),
        F.count("*").alias("n_test"),
    )


def _q_predict_proba(spark, sf_dir):
    """Per-class vote shares (predict_proba): the full k-vote
    distribution per query, not just the argmax — what a downstream
    calibration/ensembling stage consumes. Shares are votes/k, exact
    rationals rounded once."""
    t = knn_test_topk(spark, sf_dir, K_DEFAULT)
    votes = t.groupBy("qid", "tlabel").agg(F.count("*").alias("votes"))
    return votes.select(
        "qid",
        col("tlabel").alias("label"),
        "votes",
        F.round(col("votes") / K_DEFAULT, 4).alias("share"),
    )


def _q_kth_dist(spark, sf_dir):
    """k-th-neighbor distance per point — the classic non-parametric
    density estimate (small k-dist = dense region) and the LOF building
    block. One row per point: distance to its K_DEFAULT-th neighbor."""
    base = knn_self_join(spark, sf_dir, K_DEFAULT)
    return base.filter(col("rnk") == K_DEFAULT).select(
        "qid", col("dist").alias("kdist")
    )


LOF_SCALE = 1_000_000


def _q_lof(spark, sf_dir):
    """Local Outlier Factor — the standard kNN-based outlier score, fully
    declarative: top-k self-join → per-point k-distance → reachability
    distances → local reachability density → LOF ratio. LOF(q) ≈ 1 means
    q sits at its neighbors' density; ≫ 1 flags outliers.

    Determinism (the cents convention, twice): reach-distances and then
    LRDs are quantized to integers BEFORE their averages, so both
    k-element sums are exact under any partitioning/engine. Scale: three
    joins, all equi on point id — shuffle-partitioned, edges O(n·k),
    never quadratic past the initial top-k (which the GEMM path serves at
    real scale)."""
    base = knn_self_join(spark, sf_dir, K_DEFAULT).select("qid", "tid", "dist")
    kdist = base.groupBy("qid").agg(F.max("dist").alias("kd"))
    # reach_q(t) = max(d(q,t), kdist(t)), integer-quantized
    reach = (
        base.join(kdist.select(col("qid").alias("tid"), col("kd").alias("t_kd")), "tid")
        .select(
            "qid",
            "tid",
            # try_cast (r11 magnitude convention): a reach distance from
            # an f32-max component overflows the 1e6 quantization on
            # both engines — NULL drops it from the k-sum like the
            # TRY_CAST oracle twin.
            F.round(F.greatest(col("dist"), col("t_kd")) * LOF_SCALE, 0)
            .try_cast("long")
            .alias("reach_q"),
        )
    )
    lrd = reach.groupBy("qid").agg(
        F.floor(lit(K_DEFAULT * LOF_SCALE * LOF_SCALE).cast("long") / F.sum("reach_q"))
        .cast("long")
        .alias("lrd_q")
    )
    ratio = (
        base.select("qid", "tid")
        .join(lrd.select(col("qid").alias("tid"), col("lrd_q").alias("t_lrd")), "tid")
        .join(lrd, "qid")
    )
    return ratio.groupBy("qid").agg(
        F.round(
            F.try_divide(F.sum("t_lrd"), lit(K_DEFAULT) * F.max("lrd_q")),
            4,
        ).alias("lof")
    )


def _q_silhouette(spark, sf_dir):
    """Centroid-based silhouette score per point (the simplified
    silhouette MLlib's ClusteringEvaluator also uses): a = distance to
    own-label centroid, b = nearest other-label centroid,
    s = (b−a)/max(a,b). Clustering-quality metric over the label
    partition; centroids rounded to 6dp on both engines so the min/argmin
    are decided on identical doubles. Map-only after a 10-row centroid
    broadcast."""
    e = tables.embeddings(spark, sf_dir)
    cent = (
        e.select("label", F.posexplode("emb").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            col("label").alias("clabel"),
            F.transform("pm", lambda s: s["m"]).alias("cemb"),
        )
    )
    d = e.crossJoin(F.broadcast(cent)).withColumn(
        "dist", METRICS["euclidean"]("emb", "cemb")
    )
    agg = d.groupBy("vec_id", "label").agg(
        F.min(F.when(col("clabel") == col("label"), col("dist"))).alias("a"),
        F.min(F.when(col("clabel") != col("label"), col("dist"))).alias("b"),
    )
    return agg.select(
        "vec_id",
        "label",
        F.round("a", 4).alias("a"),
        F.round("b", 4).alias("b"),
        # +0.0: §7.2 negative-zero normalization (b−a can round to -0.0
        # on one engine only; hit at sf0.1)
        (F.round((col("b") - col("a")) / F.greatest("a", "b"), 4) + 0.0).alias("sil"),
    )


def _q_precision_recall(spark, sf_dir):
    """Per-class precision / recall / F1 from the kNN confusion counts —
    the evaluation-report operator. TP/FP/FN are exact integer counts
    (one groupBy each over the prediction table); ratios are computed
    once from those exact counts and rounded. Classes the model never
    predicts get precision 0 (guarded division)."""
    pred = classify(spark, sf_dir, K_DEFAULT)
    classes = pred.select(col("true_label").alias("cls")).distinct()
    tp = pred.filter(col("pred_label") == col("true_label")).groupBy(
        col("true_label").alias("cls")
    ).agg(F.count("*").alias("tp"))
    actual = pred.groupBy(col("true_label").alias("cls")).agg(
        F.count("*").alias("n_actual")
    )
    predicted = pred.groupBy(col("pred_label").alias("cls")).agg(
        F.count("*").alias("n_pred")
    )
    m = (
        classes.join(tp, "cls", "left")
        .join(actual, "cls", "left")
        .join(predicted, "cls", "left")
        .select(
            "cls",
            F.coalesce("tp", lit(0)).alias("tp"),
            F.coalesce("n_actual", lit(0)).alias("n_actual"),
            F.coalesce("n_pred", lit(0)).alias("n_pred"),
        )
    )
    prec = F.when(col("n_pred") > 0, col("tp") / col("n_pred")).otherwise(lit(0.0))
    rec = F.when(col("n_actual") > 0, col("tp") / col("n_actual")).otherwise(lit(0.0))
    return m.select(
        "cls",
        "tp",
        "n_actual",
        "n_pred",
        F.round(prec, 4).alias("precision"),
        F.round(rec, 4).alias("recall"),
        F.round(
            F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(lit(0.0)), 4
        ).alias("f1"),
    )


def _q_triangles(spark, sf_dir):
    """Triangle count over the mutual-kNN graph — the clustering-
    coefficient numerator. Edges are ordered (a < b), so each triangle
    (a<b<c) is found exactly once by the standard two-join pattern; with
    ordered edges the join fan-out is bounded by the forward-degree, not
    the full degree. Output: total triangles + per-node participation
    top-20 (deterministic tie-break)."""
    edges = _q_mutual(spark, sf_dir)  # (a, b), a < b
    e1 = edges.select(col("a").alias("x"), col("b").alias("y"))
    e2 = edges.select(col("a").alias("y"), col("b").alias("z"))
    e3 = edges.select(col("a").alias("x2"), col("b").alias("z2"))
    tris = (
        e1.join(e2, "y")
        .join(e3, (col("x") == col("x2")) & (col("z") == col("z2")))
        .select("x", "y", "z")
    )
    per_node = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_tris"))
    )
    total = tris.agg(F.count("*").alias("t")).select(
        lit(-1).cast("long").alias("node"), col("t").alias("n_tris")
    )
    # top-20 via orderBy+limit (TakeOrderedAndProject, bounded heaps)
    # instead of a node-relation-sized single-partition rank window.
    top = per_node.orderBy(F.desc("n_tris"), "node").limit(20).select(
        "node", "n_tris"
    )
    return total.unionByName(top)


AUC_CLASS = 0


def _q_auc_ovr(spark, sf_dir):
    """One-vs-rest ROC AUC (class 0 vs rest) via the Mann-Whitney rank
    statistic with tie correction — no threshold sweep needed:
    AUC = (ΣR₊ − n₊(n₊+1)/2) / (n₊·n₋), midranks for ties. The score is
    the class-0 vote count in the top-k (an integer 0..k), so midranks
    are exact half-integers and every sum is exact in doubles —
    deterministic across engines. One window over the 11-level score
    distribution; everything else is counts."""
    t = knn_test_topk(spark, sf_dir, K_DEFAULT)
    scores = t.groupBy("qid", "qlabel").agg(
        F.sum((col("tlabel") == AUC_CLASS).cast("long")).alias("s")
    )
    dist = scores.groupBy("s").agg(F.count("*").alias("cnt"))
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    midrank = dist.select(
        "s",
        "cnt",
        (F.coalesce(F.sum("cnt").over(w), lit(0)) + (col("cnt") + 1) / 2.0).alias("mr"),
    )
    j = scores.join(F.broadcast(midrank.select("s", "mr")), "s")
    agg = j.agg(
        F.sum(F.when(col("qlabel") == AUC_CLASS, col("mr"))).alias("r_pos"),
        F.sum((col("qlabel") == AUC_CLASS).cast("long")).alias("n_pos"),
        F.sum((col("qlabel") != AUC_CLASS).cast("long")).alias("n_neg"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            (col("r_pos") - col("n_pos") * (col("n_pos") + 1) / 2.0)
            / (col("n_pos") * col("n_neg")),
            4,
        ).alias("auc"),
    )


QUANT_LEVELS = 255


def _q_embed_quantize(spark, sf_dir):
    """Int8 scalar quantization of the embedding column — the vector
    compression step ANN systems apply before indexing (4× smaller than
    float32, 8× than double). Per-dimension min/max bounds come from one
    aggregate (64-row broadcast); each component maps to 0..255; the
    graded output carries the exact integer code checksum plus the max
    reconstruction error. Map-only after the bounds broadcast."""
    e = tables.embeddings(spark, sf_dir)
    ex = e.select("vec_id", F.posexplode("emb").alias("pos", "x"))
    bounds = ex.groupBy("pos").agg(
        F.round(F.min("x"), 6).alias("lo"), F.round(F.max("x"), 6).alias("hi")
    )
    q = ex.join(F.broadcast(bounds), "pos").select(
        "vec_id",
        "x",
        "lo",
        "hi",
        # try_divide: a constant dimension has hi == lo — NULL code,
        # matching DuckDB x/0 (r10 non-finite sweep)
        F.round(
            F.try_divide((col("x") - col("lo")) * QUANT_LEVELS, col("hi") - col("lo")),
            0,
        )
        .cast("long")
        .alias("code"),
    )
    deq = q.withColumn(
        "err",
        F.abs(col("code") * (col("hi") - col("lo")) / QUANT_LEVELS + col("lo") - col("x")),
    )
    return deq.groupBy("vec_id").agg(
        F.sum("code").alias("code_sum"),
        F.round(F.max("err"), 6).alias("max_err"),
    )


PIVOT_ID = 1


def _q_radius_pivot(spark, sf_dir):
    """Pivot-pruned radius search — same semantics as knn_radius, proven
    by grading against the SAME oracle. Physical strategy: precompute
    every point's distance to one fixed pivot; the triangle inequality
    |d(q,p) − d(t,p)| ≤ d(q,t) lets the join predicate discard any pair
    whose pivot-distance gap already exceeds ε BEFORE the 64-dim exact
    distance runs — the metric-space pruning trick (AESA/LAESA family).
    On this unit-norm fixture all pivot distances cluster near √2 so the
    prune is weak; on clustered real data it removes most of the cross
    product. Cost: one broadcast of a single row + one extra double per
    side."""
    e = tables.embeddings(spark, sf_dir)
    # agg-first pivot, not filter+crossJoin: with a missing or poisoned
    # pivot row the old crossJoin went EMPTY and the operator silently
    # returned zero hits (r10 non-finite sweep) — pruning is an
    # OPTIMIZATION and must degrade to "no pruning", never to "no
    # results". first() always yields one row (pemb NULL when absent),
    # a NULL pivot distance disables the triangle-inequality test for
    # that pair, and the exact dist < eps filter downstream keeps
    # semantics identical.
    pivot = e.filter(col("vec_id") == PIVOT_ID).agg(
        F.first("emb").alias("pemb")
    )
    withp = e.crossJoin(F.broadcast(pivot)).select(
        "vec_id", "emb", METRICS["euclidean"]("emb", "pemb").alias("dp")
    )
    q = withp.filter(col("vec_id") % 5 == 0).select(
        col("vec_id").alias("qid"), col("emb").alias("qemb"), col("dp").alias("qdp")
    )
    t = withp.select(
        col("vec_id").alias("tid"), col("emb").alias("temb"), col("dp").alias("tdp")
    )
    # the all_pairs BNLJ fan-out rule: stream the repartitioned side
    fanout = spark.sparkContext.defaultParallelism
    cand = t.repartition(fanout, col("tid")).join(
        F.broadcast(q),
        (col("qid") != col("tid"))
        & (
            (F.abs(col("qdp") - col("tdp")) < RADIUS_EPS)
            | col("qdp").isNull()
            | col("tdp").isNull()
        ),
    )
    hits = cand.withColumn("dist", METRICS["euclidean"]("qemb", "temb")).filter(
        col("dist") < RADIUS_EPS
    )
    return hits.select(
        "qid",
        "tid",
        F.round("dist", 4).alias("dist"),
        F.count("*").over(Window.partitionBy("qid")).alias("n_in_radius"),
    )


def _q_centroid(spark, sf_dir):
    """Nearest-centroid (Rocchio) classifier — the O(n·c) companion to
    O(n²) kNN: per-label mean vectors from the train split, each test
    point assigned to its closest centroid. Centroid build is one
    posexplode + groupBy (map-side partial agg over 64·c cells); classify
    is a broadcast of c centroid rows — no pairwise shuffle at all, the
    100 TB-friendly classifier. Centroid components are rounded to 6dp on
    both engines so the argmin is decided on identical doubles."""
    e = tables.embeddings(spark, sf_dir)
    train = e.filter(col("vec_id") % 5 != 0)
    cent = (
        train.select("label", F.posexplode("emb").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            col("label").alias("clabel"),
            F.transform("pm", lambda s: s["m"]).alias("cemb"),
        )
    )
    test = e.filter(col("vec_id") % 5 == 0).select(
        col("vec_id").alias("qid"), col("emb").alias("qemb"), col("label").alias("qlabel")
    )
    scored = test.crossJoin(F.broadcast(cent)).withColumn(
        "dist", METRICS["euclidean"]("qemb", "cemb")
    )
    w = Window.partitionBy("qid").orderBy(F.asc_nulls_last("dist"), "clabel")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(col("rn") == 1)
        .select(
            "qid",
            col("clabel").alias("pred_label"),
            col("qlabel").alias("true_label"),
            (col("clabel") == col("qlabel")).cast("int").alias("correct"),
        )
    )


def _q_dist_seuclidean(spark, sf_dir):
    """Standardized (variance-weighted) Euclidean top-5 — the diagonal-
    Mahalanobis metric: per-dimension population variances learned from
    the train split, each squared difference divided by its dimension's
    variance. The variance vector is a 1-row broadcast (64 doubles,
    rounded to 6dp so both engines weight with identical doubles) — the
    metric-learning slot with zero extra shuffle over plain kNN.
    Variances are clamped to ≥1e-12 on both engines so a constant
    dimension cannot yield d/0 = Inf/NaN with engine-specific NaN
    ordering (ADVICE r01; latent — the fixture has no constant dims)."""
    e = tables.embeddings(spark, sf_dir)
    var_arr = (
        e.filter(col("vec_id") % 5 != 0)
        .select(F.posexplode("emb").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.greatest(F.round(F.var_pop("x"), 6), F.lit(1e-12)).alias("v"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select(F.transform("pv", lambda s: s["v"]).alias("varr"))
    )
    pairs = all_pairs(split_test(e), train_all(e)).crossJoin(F.broadcast(var_arr))
    sq = F.zip_with("qemb", "temb", lambda a, b: (a - b) * (a - b))
    wsum = F.aggregate(
        F.zip_with(sq, col("varr"), lambda d, v: d / v),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    d = pairs.withColumn("dist", F.round(F.sqrt(wsum), 4))
    w = Window.partitionBy("qid").orderBy(F.asc_nulls_last("dist"), "tid")
    return (
        d.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(col("rnk") <= K_JOIN)
        .select("qid", "tid", "rnk", "dist")
    )


QUERIES = {
    "knn_scan": _q_scan,
    "knn_normalize_minmax": _q_normalize_minmax,
    "knn_normalize_zscore": _q_normalize_zscore,
    "knn_normalize_unit": _q_normalize_unit,
    "knn_split": _q_split,
    "knn_allpairs": _q_allpairs,
    "knn_dist_euclidean": _q_dist("euclidean"),
    "knn_dist_sqeuclidean": _q_dist("sqeuclidean"),
    "knn_dist_manhattan": _q_dist("manhattan"),
    "knn_dist_chebyshev": _q_dist("chebyshev"),
    "knn_dist_minkowski": _q_dist("minkowski3"),
    "knn_dist_hamming": _q_dist("hamming"),
    "knn_dist_cosine": _q_dist("cosine", signed=True),
    "knn_dist_dot": _q_dist("dot", signed=True),
    "knn_dist_seuclidean": _q_dist_seuclidean,
    "knn_topk": _q_topk,
    "knn_classify": _q_classify,
    "knn_regress": _q_regress,
    "knn_join": _q_join,
    "knn_accuracy": _q_accuracy,
    "knn_confusion": _q_confusion,
    "knn_classify_weighted": lambda spark, sf_dir: weighted_vote(
        knn_test_topk(spark, sf_dir, K_DEFAULT)
    ),
    "knn_k_sweep": k_sweep_accuracy,
    "knn_radius": _q_radius,
    "knn_radius_pivot": _q_radius_pivot,
    "knn_centroid": _q_centroid,
    "knn_mutual": _q_mutual,
    "graph_knn_hubness": _q_hubness,
    "knn_crossval": _q_crossval,
    "knn_predict_proba": _q_predict_proba,
    "knn_kth_dist": _q_kth_dist,
    "ml_lof": _q_lof,
    "ml_silhouette": _q_silhouette,
    "ml_precision_recall": _q_precision_recall,
    "llm_embed_quantize": _q_embed_quantize,
    "ml_auc_ovr": _q_auc_ovr,
    "graph_triangles": _q_triangles,
}


# ------------------------------------------------------------------- oracle

# A vector with a NULL component is POISONED to a NULL vector: the
# engine's fold-based metrics propagate a NULL element to a NULL
# distance for every pair touching it, DuckDB's list_distance ERRORS on
# NULL elements (killing the whole oracle) while its list_aggregate
# fold SKIPS them (silently wrong) — nullifying the vector up front
# makes every downstream distance NULL on both engines and every
# SQL aggregate over dist skip it identically (r10 non-finite sweep,
# scripts/nonfinite_sweep_r10.py). Identity on any fully-non-NULL
# vector, so graded outputs are unchanged (golden digests pin this).
_EMB = (
    "emb AS (SELECT vec_id, CASE WHEN len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) > 0 "
    "THEN NULL ELSE CAST(embedding AS DOUBLE[]) END AS emb, label FROM embeddings)"
)

_PAIRS = (
    "pairs AS (SELECT q.vec_id AS qid, q.label AS qlabel, t.vec_id AS tid, t.label AS tlabel, "
    "list_distance(q.emb, t.emb) AS dist "
    "FROM emb q, emb t WHERE q.vec_id % 5 = 0 AND t.vec_id <> q.vec_id)"
)

_TOPK = (
    "ranked AS (SELECT pairs.*, row_number() OVER (PARTITION BY qid ORDER BY dist, tid) AS rnk "
    "FROM pairs), topk AS (SELECT * FROM ranked WHERE rnk <= 10)"
)

_PRED = (
    "votes AS (SELECT qid, qlabel, tlabel, count(*) AS votes FROM topk "
    "GROUP BY qid, qlabel, tlabel), "
    "pred AS (SELECT qid, qlabel, tlabel, votes, "
    "row_number() OVER (PARTITION BY qid ORDER BY votes DESC, tlabel) AS vr FROM votes)"
)

_CLASSIFY_SELECT = (
    "SELECT qid, tlabel AS pred_label, qlabel AS true_label, "
    "CAST(tlabel = qlabel AS INTEGER) AS correct, votes FROM pred WHERE vr = 1"
)

# WHERE emb IS NOT NULL: per-component analyses EXCLUDE poisoned
# vectors — the engine side explodes with posexplode, which emits zero
# rows for a NULL array, so the oracle must drop them too or the row
# counts diverge the moment a corrupt vector exists (r10 non-finite
# sweep). Identity when no vector is poisoned.
_EX = (
    "ex AS (SELECT vec_id, i AS pos, emb[CAST(i + 1 AS INTEGER)] AS val "
    "FROM emb, range(64) t(i) WHERE emb IS NOT NULL)"
)

ORACLE = {
    "knn_scan": (
        f"WITH {_EMB} SELECT vec_id, label, CAST(len(emb) AS BIGINT) AS dim, "
        "round(sqrt(list_inner_product(emb, emb)), 4) AS norm FROM emb"
    ),
    "knn_normalize_minmax": (
        f"WITH {_EMB}, {_EX} "
        "SELECT vec_id, pos, round((val - min(val) OVER (PARTITION BY pos)) / "
        "(max(val) OVER (PARTITION BY pos) - min(val) OVER (PARTITION BY pos)), 4) AS scaled "
        "FROM ex"
    ),
    "knn_normalize_zscore": (
        f"WITH {_EMB}, {_EX} "
        "SELECT vec_id, pos, round((val - avg(val) OVER (PARTITION BY pos)) / "
        "stddev_pop(val) OVER (PARTITION BY pos), 4) + 0.0 AS scaled FROM ex"
    ),
    "knn_normalize_unit": (
        f"WITH {_EMB}, {_EX} "
        "SELECT ex.vec_id, ex.pos, "
        "round(ex.val / sqrt(list_inner_product(e.emb, e.emb)), 4) + 0.0 AS scaled "
        "FROM ex JOIN emb e ON ex.vec_id = e.vec_id"
    ),
    "knn_split": (
        "SELECT vec_id, label, CASE WHEN vec_id % 5 = 0 THEN 'test' ELSE 'train' END AS split "
        "FROM embeddings"
    ),
    "knn_allpairs": f"WITH {_EMB}, {_PAIRS} SELECT qid, tid FROM pairs",
    "knn_dist_euclidean": (
        f"WITH {_EMB}, {_PAIRS} SELECT qid, tid, round(dist, 4) AS dist FROM pairs"
    ),
    "knn_dist_sqeuclidean": (
        f"WITH {_EMB} SELECT q.vec_id AS qid, t.vec_id AS tid, "
        "round(list_aggregate(list_transform(list_zip(q.emb, t.emb), "
        "p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum'), 4) AS dist "
        "FROM emb q, emb t WHERE q.vec_id % 5 = 0 AND t.vec_id <> q.vec_id"
    ),
    "knn_dist_manhattan": (
        f"WITH {_EMB} SELECT q.vec_id AS qid, t.vec_id AS tid, "
        "round(list_aggregate(list_transform(list_zip(q.emb, t.emb), "
        "p -> abs(p[1] - p[2])), 'sum'), 4) AS dist "
        "FROM emb q, emb t WHERE q.vec_id % 5 = 0 AND t.vec_id <> q.vec_id"
    ),
    "knn_dist_chebyshev": (
        f"WITH {_EMB} SELECT q.vec_id AS qid, t.vec_id AS tid, "
        "round(list_aggregate(list_transform(list_zip(q.emb, t.emb), "
        "p -> abs(p[1] - p[2])), 'max'), 4) AS dist "
        "FROM emb q, emb t WHERE q.vec_id % 5 = 0 AND t.vec_id <> q.vec_id"
    ),
    "knn_dist_seuclidean": (
        f"WITH {_EMB}, "
        "tr AS (SELECT * FROM emb WHERE vec_id % 5 <> 0), "
        "vr AS (SELECT i, greatest(round(var_pop(emb[CAST(i + 1 AS INT)]), 6), 1e-12) "
        "AS vm FROM tr, range(64) t(i) GROUP BY i), "
        "va AS (SELECT list(vm ORDER BY i) AS varr FROM vr), "
        "p AS (SELECT q.vec_id AS qid, t.vec_id AS tid, "
        "round(sqrt(list_aggregate(list_transform(list_zip(q.emb, t.emb, varr), "
        "x -> (x[1] - x[2]) * (x[1] - x[2]) / x[3]), 'sum')), 4) AS dist "
        "FROM emb q, emb t, va WHERE q.vec_id % 5 = 0 AND t.vec_id <> q.vec_id), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, tid) "
        "AS rnk FROM p) "
        "SELECT qid, tid, rnk, dist FROM r WHERE rnk <= 5"
    ),
    "knn_dist_minkowski": (
        f"WITH {_EMB} SELECT q.vec_id AS qid, t.vec_id AS tid, "
        "round(pow(list_aggregate(list_transform(list_zip(q.emb, t.emb), "
        "p -> pow(abs(p[1] - p[2]), 3.0)), 'sum'), 1.0 / 3.0), 4) AS dist "
        "FROM emb q, emb t WHERE q.vec_id % 5 = 0 AND t.vec_id <> q.vec_id"
    ),
    "knn_dist_hamming": (
        # NULL-vector guard: DuckDB's list_zip(NULL, x) zips to a list
        # of NULL-firsted structs (not a NULL list), so the sign CASE
        # would count every element as agreement (0.0) for a poisoned
        # pair where the engine's fold yields NULL (r10 non-finite
        # sweep). The arithmetic folds don't need this — their NULL
        # element arithmetic nulls the sum naturally.
        f"WITH {_EMB} SELECT q.vec_id AS qid, t.vec_id AS tid, "
        "CASE WHEN q.emb IS NULL OR t.emb IS NULL THEN NULL ELSE "
        "round(list_aggregate(list_transform(list_zip(q.emb, t.emb), "
        "p -> CASE WHEN (p[1] >= 0) <> (p[2] >= 0) THEN 1.0 ELSE 0.0 END), 'sum'), 4) "
        "END AS dist "
        "FROM emb q, emb t WHERE q.vec_id % 5 = 0 AND t.vec_id <> q.vec_id"
    ),
    "knn_dist_cosine": (
        # explicit formula + NULLIF, NOT list_cosine_similarity: the
        # builtin returns -1.0 on a zero-norm vector where the engine's
        # try_divide yields NULL — this form agrees with the engine on
        # EVERY input, degenerate fixtures included (VERDICT r09 #4).
        f"WITH {_EMB} SELECT q.vec_id AS qid, t.vec_id AS tid, "
        "round(list_inner_product(q.emb, t.emb) / "
        "NULLIF(sqrt(list_inner_product(q.emb, q.emb)) * "
        "sqrt(list_inner_product(t.emb, t.emb)), 0), 4) + 0.0 AS dist "
        "FROM emb q, emb t WHERE q.vec_id % 5 = 0 AND t.vec_id <> q.vec_id"
    ),
    "knn_dist_dot": (
        f"WITH {_EMB} SELECT q.vec_id AS qid, t.vec_id AS tid, "
        "round(list_inner_product(q.emb, t.emb), 4) + 0.0 AS dist "
        "FROM emb q, emb t WHERE q.vec_id % 5 = 0 AND t.vec_id <> q.vec_id"
    ),
    "knn_topk": (
        f"WITH {_EMB}, {_PAIRS}, {_TOPK} "
        "SELECT qid, tid, rnk, round(dist, 4) AS dist FROM topk"
    ),
    "knn_classify": f"WITH {_EMB}, {_PAIRS}, {_TOPK}, {_PRED} {_CLASSIFY_SELECT}",
    "knn_regress": (
        f"WITH {_EMB}, {_PAIRS}, {_TOPK} "
        "SELECT qid, round(avg(CAST(tlabel AS DOUBLE)), 4) AS pred_value FROM topk GROUP BY qid"
    ),
    "knn_join": (
        f"WITH {_EMB}, "
        "pairs AS (SELECT q.vec_id AS qid, t.vec_id AS tid, list_distance(q.emb, t.emb) AS dist "
        "FROM emb q, emb t WHERE t.vec_id <> q.vec_id), "
        "ranked AS (SELECT pairs.*, row_number() OVER (PARTITION BY qid ORDER BY dist, tid) "
        "AS rnk FROM pairs) "
        f"SELECT qid, tid, rnk, round(dist, 4) AS dist FROM ranked WHERE rnk <= {K_JOIN}"
    ),
    "knn_accuracy": (
        f"WITH {_EMB}, {_PAIRS}, {_TOPK}, {_PRED} "
        "SELECT round(avg(CAST(CAST(tlabel = qlabel AS INTEGER) AS DOUBLE)), 4) AS accuracy, "
        "count(*) AS n FROM pred WHERE vr = 1"
    ),
    "knn_confusion": (
        f"WITH {_EMB}, {_PAIRS}, {_TOPK}, {_PRED} "
        "SELECT qlabel AS true_label, tlabel AS pred_label, count(*) AS cnt FROM pred "
        "WHERE vr = 1 GROUP BY qlabel, tlabel"
    ),
    "knn_classify_weighted": (
        f"WITH {_EMB}, {_PAIRS}, {_TOPK}, "
        "wv AS (SELECT qid, qlabel, tlabel, "
        "TRY_CAST(floor(10000.0 / (round(dist, 4) + 1.0)) AS BIGINT) AS w FROM topk), "
        "votes AS (SELECT qid, qlabel, tlabel, CAST(sum(w) AS BIGINT) AS wsum FROM wv "
        "GROUP BY qid, qlabel, tlabel), "
        "pred AS (SELECT qid, qlabel, tlabel, wsum, "
        "row_number() OVER (PARTITION BY qid ORDER BY wsum DESC, tlabel) AS vr FROM votes) "
        "SELECT qid, tlabel AS pred_label, qlabel AS true_label, "
        "CAST(tlabel = qlabel AS INTEGER) AS correct, wsum FROM pred WHERE vr = 1"
    ),
    "knn_k_sweep": (
        f"WITH {_EMB}, {_PAIRS}, {_TOPK}, "
        "ks AS (SELECT unnest([1, 3, 5, 10]) AS k), "
        "votes AS (SELECT k, qid, qlabel, tlabel, count(*) AS votes "
        "FROM topk JOIN ks ON rnk <= k GROUP BY k, qid, qlabel, tlabel), "
        "pred AS (SELECT k, qid, qlabel, tlabel, votes, "
        "row_number() OVER (PARTITION BY k, qid ORDER BY votes DESC, tlabel) AS vr FROM votes) "
        "SELECT CAST(k AS BIGINT) AS k, "
        "round(avg(CAST(CAST(tlabel = qlabel AS INTEGER) AS DOUBLE)), 4) AS accuracy, "
        "count(*) AS n_test FROM pred WHERE vr = 1 GROUP BY k"
    ),
    "knn_radius": (
        f"WITH {_EMB}, {_PAIRS} "
        "SELECT qid, tid, round(dist, 4) AS dist, "
        "count(*) OVER (PARTITION BY qid) AS n_in_radius "
        f"FROM pairs WHERE dist < {RADIUS_EPS}"
    ),
    # same oracle as knn_radius: the pivot prune must not change results
    "knn_radius_pivot": (
        f"WITH {_EMB}, {_PAIRS} "
        "SELECT qid, tid, round(dist, 4) AS dist, "
        "count(*) OVER (PARTITION BY qid) AS n_in_radius "
        f"FROM pairs WHERE dist < {RADIUS_EPS}"
    ),
    "knn_centroid": (
        f"WITH {_EMB}, "
        "tr AS (SELECT * FROM emb WHERE vec_id % 5 <> 0), "
        "cent AS (SELECT label AS clabel, i, "
        "round(avg(emb[CAST(i + 1 AS INT)]), 6) AS m "
        "FROM tr, range(64) t(i) GROUP BY clabel, i), "
        "test AS (SELECT vec_id AS qid, emb, label AS qlabel FROM emb "
        "WHERE vec_id % 5 = 0), "
        "d AS (SELECT qid, qlabel, clabel, "
        "sum(pow(emb[CAST(i + 1 AS INT)] - m, 2)) AS sq "
        "FROM test, cent GROUP BY qid, qlabel, clabel), "
        "r AS (SELECT qid, clabel, qlabel, "
        "row_number() OVER (PARTITION BY qid ORDER BY sq, clabel) AS rn FROM d) "
        "SELECT qid, clabel AS pred_label, qlabel AS true_label, "
        "CAST(qlabel = clabel AS INTEGER) AS correct FROM r WHERE rn = 1"
    ),
    "knn_mutual": (
        f"WITH {_EMB}, "
        "pairs AS (SELECT q.vec_id AS qid, t.vec_id AS tid, "
        "list_distance(q.emb, t.emb) AS dist "
        "FROM emb q, emb t WHERE t.vec_id <> q.vec_id), "
        "ranked AS (SELECT pairs.*, row_number() OVER "
        "(PARTITION BY qid ORDER BY dist, tid) AS rnk FROM pairs), "
        f"e AS (SELECT qid, tid FROM ranked WHERE rnk <= {K_JOIN}) "
        "SELECT a.qid AS a, a.tid AS b FROM e a JOIN e b "
        "ON a.qid = b.tid AND a.tid = b.qid WHERE a.qid < a.tid"
    ),
    "knn_crossval": (
        f"WITH {_EMB}, "
        "cvp AS (SELECT q.vec_id AS qid, q.vec_id % 5 AS fold, q.label AS qlabel, "
        "t.vec_id AS tid, t.label AS tlabel, list_distance(q.emb, t.emb) AS dist "
        "FROM emb q, emb t WHERE q.vec_id % 5 <> t.vec_id % 5), "
        "ranked AS (SELECT cvp.*, row_number() OVER "
        "(PARTITION BY fold, qid ORDER BY dist, tid) AS rnk FROM cvp), "
        f"topk AS (SELECT * FROM ranked WHERE rnk <= {K_DEFAULT}), "
        "votes AS (SELECT fold, qid, qlabel, tlabel, count(*) AS votes "
        "FROM topk GROUP BY fold, qid, qlabel, tlabel), "
        "pred AS (SELECT fold, qid, qlabel, tlabel, row_number() OVER "
        "(PARTITION BY fold, qid ORDER BY votes DESC, tlabel) AS vr FROM votes) "
        "SELECT CAST(fold AS BIGINT) AS fold, "
        "round(avg(CAST(CAST(tlabel = qlabel AS INTEGER) AS DOUBLE)), 4) AS accuracy, "
        "count(*) AS n_test FROM pred WHERE vr = 1 GROUP BY fold"
    ),
    "knn_predict_proba": (
        f"WITH {_EMB}, {_PAIRS}, {_TOPK}, "
        "votes AS (SELECT qid, tlabel, count(*) AS votes FROM topk "
        "GROUP BY qid, tlabel) "
        "SELECT qid, tlabel AS label, votes, "
        f"round(votes / {K_DEFAULT}, 4) AS share FROM votes"
    ),
    "knn_kth_dist": (
        f"WITH {_EMB}, "
        "pairs AS (SELECT q.vec_id AS qid, t.vec_id AS tid, "
        "list_distance(q.emb, t.emb) AS dist "
        "FROM emb q, emb t WHERE t.vec_id <> q.vec_id), "
        "ranked AS (SELECT pairs.*, row_number() OVER "
        "(PARTITION BY qid ORDER BY dist, tid) AS rnk FROM pairs) "
        f"SELECT qid, round(dist, 4) AS kdist FROM ranked WHERE rnk = {K_DEFAULT}"
    ),
    "ml_lof": (
        f"WITH {_EMB}, "
        "pairs AS (SELECT q.vec_id AS qid, t.vec_id AS tid, "
        "list_distance(q.emb, t.emb) AS dist "
        "FROM emb q, emb t WHERE t.vec_id <> q.vec_id), "
        "ranked AS (SELECT pairs.*, row_number() OVER "
        "(PARTITION BY qid ORDER BY dist, tid) AS rnk FROM pairs), "
        f"base AS (SELECT qid, tid, round(dist, 4) AS dist FROM ranked "
        f"WHERE rnk <= {K_DEFAULT}), "
        "kd AS (SELECT qid, max(dist) AS kd FROM base GROUP BY qid), "
        "reach AS (SELECT b.qid, b.tid, "
        f"TRY_CAST(round(greatest(b.dist, k.kd) * {LOF_SCALE}, 0) AS BIGINT) AS reach_q "
        "FROM base b JOIN kd k ON k.qid = b.tid), "
        f"lrd AS (SELECT qid, TRY_CAST(floor({K_DEFAULT} * {LOF_SCALE}::BIGINT * "
        f"{LOF_SCALE} / sum(reach_q)) AS BIGINT) AS lrd_q FROM reach GROUP BY qid) "
        "SELECT b.qid, round(sum(lt.lrd_q) / "
        f"({K_DEFAULT} * max(lq.lrd_q)), 4) AS lof "
        "FROM base b JOIN lrd lt ON lt.qid = b.tid JOIN lrd lq ON lq.qid = b.qid "
        "GROUP BY b.qid"
    ),
    "ml_precision_recall": (
        f"WITH {_EMB}, {_PAIRS}, {_TOPK}, {_PRED}, "
        "p AS (SELECT qid, tlabel AS pred_label, qlabel AS true_label "
        "FROM pred WHERE vr = 1), "
        "classes AS (SELECT DISTINCT true_label AS cls FROM p), "
        "tp AS (SELECT true_label AS cls, count(*) AS tp FROM p "
        "WHERE pred_label = true_label GROUP BY 1), "
        "act AS (SELECT true_label AS cls, count(*) AS n_actual FROM p GROUP BY 1), "
        "prd AS (SELECT pred_label AS cls, count(*) AS n_pred FROM p GROUP BY 1), "
        "m AS (SELECT c.cls, CAST(coalesce(tp.tp, 0) AS BIGINT) AS tp, "
        "CAST(coalesce(act.n_actual, 0) AS BIGINT) AS n_actual, "
        "CAST(coalesce(prd.n_pred, 0) AS BIGINT) AS n_pred "
        "FROM classes c LEFT JOIN tp ON tp.cls = c.cls "
        "LEFT JOIN act ON act.cls = c.cls LEFT JOIN prd ON prd.cls = c.cls) "
        "SELECT cls, tp, n_actual, n_pred, "
        "round(CASE WHEN n_pred > 0 THEN tp / n_pred ELSE 0.0 END, 4) AS precision, "
        "round(CASE WHEN n_actual > 0 THEN tp / n_actual ELSE 0.0 END, 4) AS recall, "
        "round(CASE WHEN (CASE WHEN n_pred > 0 THEN tp / n_pred ELSE 0.0 END) "
        "+ (CASE WHEN n_actual > 0 THEN tp / n_actual ELSE 0.0 END) > 0 "
        "THEN 2 * (CASE WHEN n_pred > 0 THEN tp / n_pred ELSE 0.0 END) "
        "* (CASE WHEN n_actual > 0 THEN tp / n_actual ELSE 0.0 END) "
        "/ ((CASE WHEN n_pred > 0 THEN tp / n_pred ELSE 0.0 END) "
        "+ (CASE WHEN n_actual > 0 THEN tp / n_actual ELSE 0.0 END)) "
        "ELSE 0.0 END, 4) AS f1 FROM m"
    ),
    "graph_triangles": (
        f"WITH {_EMB}, "
        "pairs AS (SELECT q.vec_id AS qid, t.vec_id AS tid, "
        "list_distance(q.emb, t.emb) AS dist "
        "FROM emb q, emb t WHERE t.vec_id <> q.vec_id), "
        "ranked AS (SELECT pairs.*, row_number() OVER "
        "(PARTITION BY qid ORDER BY dist, tid) AS rnk FROM pairs), "
        f"e0 AS (SELECT qid, tid FROM ranked WHERE rnk <= {K_JOIN}), "
        "mut AS (SELECT a.qid AS a, a.tid AS b FROM e0 a JOIN e0 b "
        "ON a.qid = b.tid AND a.tid = b.qid WHERE a.qid < a.tid), "
        "tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z "
        "FROM mut e1 JOIN mut e2 ON e2.a = e1.b "
        "JOIN mut e3 ON e3.a = e1.a AND e3.b = e2.b), "
        "pern AS (SELECT node, count(*) AS n_tris FROM ("
        "SELECT x AS node FROM tri UNION ALL SELECT y FROM tri "
        "UNION ALL SELECT z FROM tri) GROUP BY node), "
        "tot AS (SELECT CAST(-1 AS BIGINT) AS node, count(*) AS n_tris FROM tri), "
        "top AS (SELECT node, n_tris FROM (SELECT node, n_tris, row_number() "
        "OVER (ORDER BY n_tris DESC, node) AS rn FROM pern) WHERE rn <= 20) "
        "SELECT node, n_tris FROM tot UNION ALL SELECT node, n_tris FROM top"
    ),
    "ml_auc_ovr": (
        f"WITH {_EMB}, {_PAIRS}, {_TOPK}, "
        "scores AS (SELECT qid, qlabel, "
        f"CAST(sum(CASE WHEN tlabel = {AUC_CLASS} THEN 1 ELSE 0 END) AS BIGINT) AS s "
        "FROM topk GROUP BY qid, qlabel), "
        "dist AS (SELECT s, count(*) AS cnt FROM scores GROUP BY s), "
        "mr AS (SELECT s, coalesce(sum(cnt) OVER (ORDER BY s "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
        "+ (cnt + 1) / 2.0 AS mr FROM dist), "
        "j AS (SELECT scores.qid, scores.qlabel, mr.mr FROM scores "
        "JOIN mr ON mr.s = scores.s), "
        "agg AS (SELECT "
        f"sum(CASE WHEN qlabel = {AUC_CLASS} THEN mr END) AS r_pos, "
        f"CAST(sum(CASE WHEN qlabel = {AUC_CLASS} THEN 1 ELSE 0 END) AS BIGINT) AS n_pos, "
        f"CAST(sum(CASE WHEN qlabel <> {AUC_CLASS} THEN 1 ELSE 0 END) AS BIGINT) AS n_neg "
        "FROM j) "
        "SELECT n_pos, n_neg, "
        "round((r_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 4) AS auc "
        "FROM agg"
    ),
    "llm_embed_quantize": (
        # emb IS NOT NULL: poisoned vectors leave per-component
        # quantization like the engine's posexplode (r10 sweep)
        f"WITH {_EMB}, "
        "ex AS (SELECT vec_id, i AS pos, emb[CAST(i + 1 AS INT)] AS x "
        "FROM emb, range(64) t(i) WHERE emb IS NOT NULL), "
        "b AS (SELECT pos, round(min(x), 6) AS lo, round(max(x), 6) AS hi "
        "FROM ex GROUP BY pos), "
        "q AS (SELECT vec_id, x, lo, hi, "
        f"TRY_CAST(round((x - lo) * {QUANT_LEVELS} / (hi - lo), 0) AS BIGINT) AS code "
        "FROM ex JOIN b ON b.pos = ex.pos) "
        "SELECT vec_id, CAST(sum(code) AS BIGINT) AS code_sum, "
        f"round(max(abs(code * (hi - lo) / {QUANT_LEVELS} + lo - x)), 6) AS max_err "
        "FROM q GROUP BY vec_id"
    ),
    "ml_silhouette": (
        f"WITH {_EMB}, "
        "cent AS (SELECT label AS clabel, i, "
        "round(avg(emb[CAST(i + 1 AS INT)]), 6) AS m "
        "FROM emb, range(64) t(i) GROUP BY clabel, i), "
        "d AS (SELECT e.vec_id, e.label, c.clabel, "
        "sqrt(sum(pow(e.emb[CAST(c.i + 1 AS INT)] - c.m, 2))) AS dist "
        "FROM emb e, cent c GROUP BY e.vec_id, e.label, c.clabel), "
        "ab AS (SELECT vec_id, label, "
        "min(CASE WHEN clabel = label THEN dist END) AS a, "
        "min(CASE WHEN clabel <> label THEN dist END) AS b "
        "FROM d GROUP BY vec_id, label) "
        "SELECT vec_id, label, round(a, 4) AS a, round(b, 4) AS b, "
        "round((b - a) / greatest(a, b), 4) + 0.0 AS sil FROM ab"
    ),
    "graph_knn_hubness": (
        f"WITH {_EMB}, "
        "pairs AS (SELECT q.vec_id AS qid, t.vec_id AS tid, "
        "list_distance(q.emb, t.emb) AS dist "
        "FROM emb q, emb t WHERE t.vec_id <> q.vec_id), "
        "ranked AS (SELECT pairs.*, row_number() OVER "
        "(PARTITION BY qid ORDER BY dist, tid) AS rnk FROM pairs), "
        f"e AS (SELECT qid, tid FROM ranked WHERE rnk <= {K_JOIN}), "
        "ind AS (SELECT tid AS vec_id, count(*) AS indeg FROM e GROUP BY tid), "
        "alln AS (SELECT coalesce(ind.indeg, 0) AS indeg FROM emb "
        "LEFT JOIN ind ON ind.vec_id = emb.vec_id) "
        "SELECT CAST(indeg AS BIGINT) AS indeg, count(*) AS n_nodes "
        "FROM alln GROUP BY indeg"
    ),
}
