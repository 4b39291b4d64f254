"""Blockwise GEMM kNN — the engine's exact kNN kernel
(SURVEY.md §4: "tiled/blocked distance computation", the CUDA-kernel slot).

The reference's CUDA half computes a tiled query×train distance matrix in
shared memory [P:Garcia08]; the Spark-native equivalent is a
``mapInArrow`` stage over *train* partitions:

- The (small) query block is collected once and broadcast to every
  executor — the DistributedCache / pinned-device-memory analog.
- Each partition selects candidates with one f32 GEMM per tile,
  ``||q-t||² = ||q||² + ||t||² - 2·q@tᵀ`` [P:Li19-GDS], then recomputes
  their distances as the f64 left fold of ``sq_dist_fold`` — bit-identical
  to the Catalyst expression path, so ranks and tie-breaks cannot move.
- Per-partition top-k is the MapReduce Combiner: only ``n_queries × k``
  candidate rows per partition cross the shuffle. It is selected by
  ``_smallest_cols`` in two exact stages — the minima of strided column
  groups first, then only the columns of the kk best groups — over
  query tiles sized by a fixed score budget (``TILE_SCORES``), so the
  kernel's scratch does not grow with the query block.
- A final window ``row_number() <= k`` merges partition-local candidates.

It serves both graded kNN memos (operators.knn, one all-points pass),
the bench and the chunked kNN join. The query side must fit in executor
memory (``knn_topk_gemm_chunked`` loops over bounded query blocks).
Swap ``np`` for CuPy to run the identical GEMM on GPU.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import col

try:  # optional GPU backend — the literal CUDA slot. Same GEMM, CuPy
    # array module; top-k selection stays on the host so results are
    # bit-identical to the NumPy path (parity test in tests/test_plans.py).
    import cupy as _cp

    _HAS_CUPY = _cp.cuda.runtime.getDeviceCount() > 0
except Exception:  # no cupy wheel / no visible device
    _cp = None
    _HAS_CUPY = False


#: rows per GEMM block below which fan-out costs more than it buys
#: (task scheduling + Python worker spin-up vs a sub-ms BLAS call).
BLOCK_ROWS = 65_536

#: scores per kernel tile (8 MiB of f32): a tile holds
#: ``max(1, TILE_SCORES // batch_rows)`` query rows, so the score matrix
#: and the selection's index arrays stay the same size whatever the query
#: block and Arrow batch sizes are. A fixed 2,048-row tile over a
#: 10,000-row batch held 82 MB of scores plus a 164 MB int64 argpartition
#: result: a 2,500-query × 10,000-row × 64-dim block peaked at 267 MiB
#: (tracemalloc) and took 0.78 s on one Xeon thread, 0.44 s of it in the
#: full-width argpartition. With this budget and ``_smallest_cols`` the
#: same block peaks at 29 MiB and takes 0.23 s.
TILE_SCORES = 1 << 21

#: columns per selection group in ``_smallest_cols``: each row's
#: n // GROUP_COLS group minima are ranked before any column is.
GROUP_COLS = 16


def gemm_backend() -> str:
    """'cupy' when a CUDA device is visible, else 'numpy'."""
    return "cupy" if _HAS_CUPY else "numpy"


def _pair_scores(qmat: np.ndarray, tmat: np.ndarray, use_cupy: bool) -> np.ndarray:
    """q @ tᵀ on the requested backend; always returns a host ndarray.
    The flag is resolved driver-side and captured in the task closure so
    the whole job runs one backend (workers re-import this module, so a
    module-global flip would not propagate). The NumPy train operand is
    pre-transposed C-contiguous: OpenBLAS dgemm runs ~3× faster on it
    than on the ``tmat.T`` view (1.08 s vs 3.03 s, 8192×64 @ 64×10000)."""
    if use_cupy and _cp is not None:
        return _cp.asnumpy(_cp.asarray(qmat) @ _cp.asarray(tmat).T)
    return qmat @ np.ascontiguousarray(tmat.T)


def _ensure_parallel(train_df: DataFrame, min_partitions: int | None) -> DataFrame:
    """Optional explicit fan-out hint for the GEMM stage. When None the
    input layout is trusted (parquet arrives split by maxPartitionBytes,
    AQE coalesces shuffles) — probing it cost a job per call (VERDICT r01)."""
    if min_partitions and min_partitions > 1:
        return train_df.repartition(min_partitions)
    return train_df


#: extra candidates fetched per partition in float32 selection mode —
#: the exact f64 rerank then keeps the true top-k. Where f32 noise could
#: still hide a neighbor (>OVERFETCH candidates tied or f32-
#: indistinguishable at the k-th boundary), the kernel detects it after
#: the rerank and redoes those query rows fully in f64 (ADVICE r02), so
#: the emitted top-k is exact for every input.
OVERFETCH = 16

#: relative tolerance of the f32 boundary-tie detection: the f32
#: assembly's absolute error is ≲ dim·eps32·2·(‖q‖²+‖t‖²) ≈ 1.5e-5·scale
#: at dim=64 (~6× margin), scaled by dim/64 past that (review r08). A
#: false positive only costs an exact f64 recompute of that query row.
F32_TIE_RTOL = 1e-4

#: summed squared norms past which ‖q‖²+‖t‖²−2q·t may overflow f32
#: (max ≈ 3.4e38, e.g. an f32-max embedding component).
F32_SAFE_SCALE = 1e37


def _f32_tie_tol(dim: int, scale: float) -> float:
    """Absolute tolerance of an f32 dist²/score over squared norms summing
    to ``scale``, plus a floor for squares that underflow f32; infinite
    (every row redone in f64) when the f32 values may have overflowed."""
    if not scale < F32_SAFE_SCALE:
        return np.inf
    return F32_TIE_RTOL * max(1.0, dim / 64.0) * scale + dim * 2.0**-140


def sq_dist_fold(q_dims, t_dims):
    """Σ_j (q[j]-t[j])² as a LEFT fold from 0.0 over j = 0..d-1 — the order
    of ``functions.vector.sq_euclidean``'s ``aggregate(zip_with(...))``,
    so the result is bit-identical to it (numpy's sum/einsum add pairwise).
    Arguments yield one array or scalar per dimension (e.g. ``mat.T``)."""
    acc = 0.0
    for qj, tj in zip(q_dims, t_dims):
        dj = qj - tj
        acc = acc + dj * dj
    return acc


def _safe_norm(mat):
    """Row L2 norms with zeros mapped to 1 — an all-zero embedding then
    normalizes to the zero vector (cosine 0 against everything, ranked
    by the tid tie-break) instead of a NaN row that the isfinite filter
    silently DROPS from the output (review r08: the euclidean twin
    returns rows for the same input, so the contracts diverged)."""
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return n


def _smallest_cols(scores, kk):
    """Columns of the kk smallest entries of each row of ``scores`` (NaN
    last), the kk-th smallest at position kk-1 — the contract of
    ``np.argpartition(scores, kk - 1, axis=1)[:, :kk]``, which the
    boundary-tie guards read. Two exact stages instead of one full-width
    partition: column j belongs to strided group j mod G (G = n //
    GROUP_COLS); the kk groups with the smallest NaN-ignoring minima are
    chosen, and only their kk·GROUP_COLS columns plus the n - G·GROUP_COLS
    tail columns are partitioned. Exact: with τ the largest chosen group
    minimum, every entry below τ lies in a chosen group, and each chosen
    group holds one entry ≤ τ, so the kk smallest values are the same
    multiset (ties may pick other columns, as argpartition's already may).
    ``fmin``, not ``min``: a NaN must not hide its group's finite entries."""
    rows, n = scores.shape
    groups = n // GROUP_COLS
    if groups < 4 * kk:
        return np.argpartition(scores, kk - 1, axis=1)[:, :kk]
    head = groups * GROUP_COLS
    gmin = np.fmin.reduce(scores[:, :head].reshape(rows, GROUP_COLS, groups), axis=1)
    best = np.argpartition(gmin, kk - 1, axis=1)[:, :kk]
    cols = (best[:, None, :] + groups * np.arange(GROUP_COLS)[:, None]).reshape(rows, -1)
    if head < n:
        tail = np.broadcast_to(np.arange(head, n), (rows, n - head))
        cols = np.concatenate([cols, tail], axis=1)
    part = np.argpartition(np.take_along_axis(scores, cols, axis=1), kk - 1, axis=1)
    return np.take_along_axis(cols, part[:, :kk], axis=1)


def _self_cells(tids, qids, qrow):
    """(query row, train column) of every self pair in a batch — O(n_t)
    sparse cells instead of an (n_q, n_t) boolean compare."""
    cols = np.nonzero(np.isin(tids, qids))[0]
    rows = np.array([qrow[int(t)] for t in tids[cols]], dtype=np.int64)
    return rows, cols


def _mask_self(scores, cells, s, e, fill):
    """Set the self-pair cells of query rows s..e-1 in their score tile."""
    rows, cols = cells
    m = (rows >= s) & (rows < e)
    scores[rows[m] - s, cols[m]] = fill


def _knn_block(batches, qids, qmat, k, exclude_self, use_f32, use_cupy):
    """The per-partition body of ``knn_candidates_gemm``: yields the
    (qid, tid, dist) candidates of queries ``qids``/``qmat`` against each
    Arrow batch of (tid, temb[, __gemm_tnorm]) train rows. Needs no
    Spark, so its working set can be measured on plain Arrow batches."""
    import pyarrow as pa

    gmat = qmat.astype(np.float32) if use_f32 else qmat
    qnorm = (gmat * gmat).sum(axis=1)
    q_dims = np.ascontiguousarray(qmat.T)
    # depends only on the broadcast qids — build once, not per
    # Arrow batch (review r08: a 100k-query block over 10k-row
    # batches rebuilt this dict 100x per partition)
    qrow = {int(q): i for i, q in enumerate(qids)} if exclude_self else None
    for batch in batches:
        if batch.num_rows == 0:
            continue
        tids = batch.column("tid").to_numpy()
        # zero-copy: flatten the fixed-width list column and reshape —
        # no per-row Python objects (the np.stack path is ~10× slower)
        tmat = (
            batch.column("temb")
            .flatten()
            .to_numpy(zero_copy_only=False)
            .reshape(len(tids), -1)
        )
        tsel = tmat.astype(np.float32) if use_f32 else tmat
        if not use_cupy:
            # one pre-transposed copy per batch, shared by all tiles
            # (this OpenBLAS runs ~3× faster on the C-contiguous
            # transposed operand than on the .T view)
            tsel_t = np.ascontiguousarray(tsel.T)
        t_dims = np.ascontiguousarray(tmat.T) if use_f32 else None  # for the fold
        if not use_f32 and "__gemm_tnorm" in batch.schema.names:
            # precomputed once in the cached train relation
            # (knn_topk_gemm_chunked) — not per block. The dunder
            # name is collision-proof (review r08: a caller's
            # unrelated column literally named tnorm used to be
            # trusted as ‖t‖² and produced garbage distances).
            tnorm = batch.column("__gemm_tnorm").to_numpy()
        else:
            tnorm = (tsel * tsel).sum(axis=1)
        if exclude_self:
            cells = _self_cells(tids, qids, qrow)
        kk = min(k + (OVERFETCH if use_f32 else 0), len(tids))
        # Tile over queries: the (tile, n_t) score tile is the working
        # set, held at TILE_SCORES whatever the block and batch sizes.
        tile = max(1, TILE_SCORES // len(tids))
        for s in range(0, len(qids), tile):
            e = min(s + tile, len(qids))
            if use_cupy:
                d2 = _pair_scores(gmat[s:e], tsel, use_cupy)
            else:
                d2 = gmat[s:e] @ tsel_t
            # assembled in-place on the GEMM output: no temporaries
            d2 *= -2.0
            d2 += qnorm[s:e, None]
            d2 += tnorm[None, :]
            if exclude_self:
                _mask_self(d2, cells, s, e, np.inf)
            if use_f32:
                idx = _smallest_cols(d2, kk)
                # exact f64 rerank of the selected candidates only:
                # O(tile·kk·dim) vs the O(tile·n_t·dim) GEMM
                d2k = sq_dist_fold(q_dims[:, s:e, None], (c[idx] for c in t_dims))
                if exclude_self:
                    d2k[qids[s:e, None] == tids[idx]] = np.inf
                if kk < len(tids):
                    # Boundary-tie guard (ADVICE r02): excluded points
                    # have f32 dist² ≥ the kk-th f32 value. Unless a
                    # row's k-th exact dist² is below it by more than
                    # the f32 tolerance (never true for a NaN bound
                    # or an overflowed norm), an excluded point could
                    # be a neighbor or smaller-tid tie: redo the row
                    # with an exact fold scan + tid-stable selection.
                    rows = np.arange(idx.shape[0])
                    bound32 = d2[rows, idx[:, kk - 1]].astype(np.float64)
                    kth64 = np.partition(d2k, min(k, kk) - 1, axis=1)[
                        :, min(k, kk) - 1
                    ]
                    tol = _f32_tie_tol(
                        tmat.shape[1], float(qnorm[s:e].max()) + float(tnorm.max())
                    )
                    for r in np.nonzero(~(kth64 < bound32 - tol))[0]:
                        dd = sq_dist_fold(q_dims[:, s + r], t_dims)
                        if exclude_self:
                            dd[tids == qids[s + r]] = np.inf
                        exact_sel = np.lexsort((tids, dd))[:kk]
                        idx[r] = exact_sel
                        d2k[r] = dd[exact_sel]
            else:
                if kk < len(tids):
                    # f64 boundary-tie guard: argpartition splits
                    # EXACT ties at the k-th boundary arbitrarily,
                    # which can drop the smaller-tid tie the contract
                    # requires (same flaw ADVICE r02 flagged for the
                    # f32 path, present whenever min(excluded) ==
                    # max(selected)). Both pivots come from the ONE
                    # argpartition this branch runs; affected rows
                    # redo a tid-stable lexsort over the computed row.
                    part = np.argpartition(d2, (kk - 1, kk), axis=1)
                    idx = part[:, :kk]
                    rows = np.arange(idx.shape[0])
                    bound = d2[rows, part[:, kk - 1]]
                    min_excl = d2[rows, part[:, kk]]
                    for r in np.nonzero(min_excl <= bound)[0]:
                        idx[r] = np.lexsort((tids, d2[r]))[:kk]
                else:
                    idx = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
                d2k = np.take_along_axis(d2, idx, axis=1)
                # sqrt-of-negative guard for the GEMM decomposition's
                # catastrophic cancellation on near-zero distances
                np.maximum(d2k, 0.0, out=d2k)
            rows_q = np.repeat(qids[s:e], kk)
            rows_t = tids[idx.ravel()]
            rows_d = np.sqrt(d2k.ravel())
            # self pairs go by id: an overflowed +inf dist still ranks
            keep = ~np.isnan(rows_d)
            if exclude_self:
                keep &= rows_q != rows_t
            yield pa.RecordBatch.from_pydict(
                {"qid": rows_q[keep], "tid": rows_t[keep], "dist": rows_d[keep]}
            )


def knn_topk_gemm(
    queries_df: DataFrame, train_df: DataFrame, k: int = 10, *args, **kwargs
) -> DataFrame:
    """Exact top-k neighbors of each query among train, GEMM-accelerated:
    ``knn_candidates_gemm`` (same arguments) under the final window.
    Returns (qid, tid, rnk, dist) with rnk 1..k, ties broken on tid —
    same contract as operators.knn.topk."""
    local = knn_candidates_gemm(queries_df, train_df, k, *args, **kwargs)
    w = Window.partitionBy("qid").orderBy(F.asc_nulls_last("dist"), "tid")
    return (
        local.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(col("rnk") <= k)
        .select("qid", "tid", "rnk", "dist")
    )


def knn_candidates_gemm(
    queries_df: DataFrame,
    train_df: DataFrame,
    k: int = 10,
    exclude_self: bool = True,
    min_partitions: int | None = None,
    backend: str | None = None,
    precision: str = "float32",
    broadcast_out: list | None = None,
) -> DataFrame:
    """Per-train-partition top-k candidates (qid, tid, dist) of each query
    — a superset of its true top-k; the caller's (dist, tid) window picks
    the final k. queries_df: (qid long, qemb array<double>); train_df:
    (tid long, temb array<double>).

    backend: 'cupy' | 'numpy' | None (auto: CuPy when a device exists).
    precision: 'float32' (default) selects k+OVERFETCH candidates with an
    f32 GEMM — what the CUDA kernels this slot models do — recomputes
    their distances with ``sq_dist_fold`` and redoes in f64 any query row
    whose k-th distance is not provably below the f32 selection boundary,
    so distances, ranks and tid tie-breaks equal the expression path's on
    every input. precision='float64' keeps the GEMM *decomposition*
    ‖q‖²+‖t‖²−2q·t end to end: its cancellation error (≲ dim·eps64·2·scale,
    clamped at 0) can reorder near-duplicates (review r08), so the f32
    path is the exact one despite the name (and sgemm runs ~16× faster
    than dgemm here under 32-way concurrency, SCALE.md §9).
    broadcast_out: when a list is passed, the query Broadcast handle is
    appended so a chunked caller can destroy it once the block's result
    is materialized (bounded residency, VERDICT r02 #3).
    """
    spark = queries_df.sparkSession
    use_cupy = (backend or gemm_backend()) == "cupy"
    use_f32 = precision == "float32" and not use_cupy
    # NULL vectors cannot enter the GEMM (np.stack over a ragged batch
    # crashes the job — r09 null-injection sweep), so both sides exclude
    # them; callers that rank NULL distances (the operators.knn memos)
    # restore them as NULL-dist candidates. The QUERY side filters in
    # pandas AFTER the one permitted collect — a Filter atop a caller's
    # limit() would add a construction job (test_gemm_no_eager_jobs_on_construction).
    train_df = train_df.filter(F.col("temb").isNotNull())
    train_df = _ensure_parallel(train_df, min_partitions)
    qpdf = queries_df.toPandas()
    qpdf = qpdf[qpdf["qemb"].notna()]
    if len(qpdf) == 0:
        # an empty probe set (e.g. a chunked block whose metadata-derived
        # count over-stated a filtered relation) must not reach np.stack
        return spark.createDataFrame([], "qid long, tid long, dist double")
    qids = qpdf["qid"].to_numpy()
    qmat = np.stack(qpdf["qemb"].to_numpy())
    q_bc = spark.sparkContext.broadcast((qids, qmat))
    if broadcast_out is not None:
        broadcast_out.append(q_bc)

    def block_knn(batches):
        b_qids, b_qmat = q_bc.value
        yield from _knn_block(
            batches, b_qids, b_qmat, k, exclude_self, use_f32, use_cupy
        )

    return train_df.mapInArrow(block_knn, "qid long, tid long, dist double")


def _rows_upper_bound(df: DataFrame) -> int | None:
    """Row-count upper bound from parquet footer metadata of the
    relation's input files — driver-side file reads, NO Spark job
    (VERDICT r02 #3: the previous eager ``count()`` at plan-construction
    time). Filters/limits only shrink the real count, which only makes
    blocks smaller than requested — safe. Returns None (caller falls
    back to one counted job) when the relation has no file scan or its
    plan contains row-multiplying operators (join/generate/expand/union),
    where footer rows could *under*-state the block size."""
    from .. import tables

    plan = df._jdf.queryExecution().analyzed().toString()
    # Python map nodes can emit MORE rows than their input too (review
    # r08): an under-stated count would over-pack blocks and break the
    # broadcast-residency bound this function feeds.
    if any(tok in plan for tok in (
        "Join", "Generate", "Expand", "Union",
        "MapInArrow", "MapInPandas", "MapPartitions",
        "FlatMapGroupsIn", "FlatMapCoGroupsIn",
    )):
        return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        path = tables.local_file(uri)
        if path is None or not path.endswith((".parquet", ".parq")):
            return None
        total += tables.parquet_rows(path)
    return total


def knn_topk_gemm_chunked(
    queries_df: DataFrame,
    train_df: DataFrame,
    k: int = 10,
    exclude_self: bool = True,
    query_block_rows: int = 100_000,
    min_partitions: int | None = None,
    backend: str | None = None,
    precision: str = "float32",
    n_queries: int | None = None,
    sink_path: str | None = None,
) -> DataFrame:
    """Outer loop over bounded query blocks (SCALE.md §5) for probe sets
    too large to broadcast whole.

    Each query's top-k is independent of every other query, so the
    per-block results together are the exact global answer — the
    [P:Maillo17] kNN-IS job layout. Blocks are selected by
    ``xxhash64(qid) mod n_blocks`` (deterministic, no shuffle: the
    predicate is pushed into the query scan; the hash decorrelates block
    membership from arithmetic qid patterns — a probe set filtered to
    ``qid % 50 == 0`` would land entirely in one ``qid % n`` block,
    breaking the residency bound).

    Residency is bounded in code, not just in prose (VERDICT r02 #3):

    - ``n_blocks`` comes from the caller hint ``n_queries`` or from
      parquet footer metadata (``_rows_upper_bound``, no job); only a
      relation with no file scan pays one ``count()`` job.
    - Blocks run **streaming**: each block's result is flushed to
      ``sink_path`` (parquet, a scratch dir by default) and its query
      broadcast destroyed before the next block's broadcast is built —
      exactly one ``query_block_rows × dim`` broadcast is resident at
      any time (asserted in tests/test_plans.py).
    - Inside a task the kernel's scratch is one ``TILE_SCORES`` score
      tile plus its selection, whatever ``query_block_rows`` and the
      Arrow batch rows are, so the query broadcast is the only part of
      a worker's working set that grows with the block (pinned in
      tests/test_plans.py).
    - The train side is projected once — plus a ``__gemm_tnorm`` column only
      when the selected kernel actually reads it (the f64/CuPy branch;
      ADVICE r02) — and **persisted**, so the train scan happens once
      regardless of n_blocks, then unpersisted before returning.

    Returns the sink relation (lazy parquet scan over all blocks).
    """
    import tempfile

    spark = queries_df.sparkSession
    n = n_queries if n_queries is not None else _rows_upper_bound(queries_df)
    if n is None:
        n = queries_df.count()
    n_blocks = max(1, -(-n // query_block_rows))
    if n_blocks == 1 and sink_path is None:
        # single in-memory block — but ONLY when the caller didn't ask
        # for a sink: bypassing an explicit sink_path would leave any
        # previous run's rows there stale while returning fresh ones
        # in memory (review r08).
        return knn_topk_gemm(
            queries_df, train_df, k, exclude_self, min_partitions,
            backend=backend, precision=precision,
        )
    use_f32 = precision == "float32" and (backend or gemm_backend()) != "cupy"
    # project to exactly the kernel columns BEFORE the persist: the
    # docstring always promised this, and without it every extra train
    # column was cached and shipped through Arrow to all n_blocks block
    # jobs (review r08).
    aug = _ensure_parallel(train_df.select("tid", "temb"), min_partitions)
    if not use_f32:
        # precomputed norms are only read by the f64/CuPy kernel branch;
        # the f32 path recomputes them on the cast f32 matrix.
        aug = aug.withColumn(
            "__gemm_tnorm",
            F.aggregate("temb", F.lit(0.0), lambda acc, x: acc + x * x),
        )
    train_aug = aug.persist()
    sink = sink_path or tempfile.mkdtemp(prefix="gemm_chunked_")
    try:
        for b in range(n_blocks):
            qb = queries_df.filter(F.pmod(F.xxhash64(col("qid")), n_blocks) == b)
            handles: list = []
            r = knn_topk_gemm(
                qb, train_aug, k, exclude_self, min_partitions=None,
                backend=backend, precision=precision, broadcast_out=handles,
            )
            r.write.mode("overwrite" if b == 0 else "append").parquet(sink)
            for h in handles:  # block result is on disk — free its broadcast
                h.destroy()
    finally:
        train_aug.unpersist()
    return spark.read.parquet(sink)


def cosine_topk_gemm(
    queries_df: DataFrame,
    train_df: DataFrame,
    k: int = 10,
    exclude_self: bool = True,
    min_partitions: int | None = None,
    backend: str | None = None,
    precision: str = "float32",
) -> DataFrame:
    """Top-k by cosine similarity (descending) — the similarity-search
    twin of knn_topk_gemm: scores for a whole partition come from one
    ``q @ tᵀ`` GEMM over norm-scaled matrices. Returns (qid, tid, rnk,
    cos), ties broken on tid. precision='float32' (default) selects
    k+OVERFETCH candidates with an sgemm, then recomputes their cosines
    exactly in f64 — same contract as knn_topk_gemm's fast path."""
    import pyarrow as pa

    spark = queries_df.sparkSession
    use_cupy = (backend or gemm_backend()) == "cupy"
    use_f32 = precision == "float32" and not use_cupy
    # null-vector exclusion — see knn_topk_gemm (r09 null sweep; query
    # side filters in pandas to keep construction at one job)
    train_df = train_df.filter(F.col("temb").isNotNull())
    train_df = _ensure_parallel(train_df, min_partitions)
    qpdf = queries_df.toPandas()
    qpdf = qpdf[qpdf["qemb"].notna()]
    if len(qpdf) == 0:  # see knn_topk_gemm — empty probe set
        return spark.createDataFrame(
            [], "qid long, tid long, rnk long, cos double"
        )
    qids = qpdf["qid"].to_numpy()
    qmat = np.stack(qpdf["qemb"].to_numpy())
    qmat = qmat / _safe_norm(qmat)
    q_bc = spark.sparkContext.broadcast((qids, qmat))

    def block_sim(batches):
        b_qids, b_qmat = q_bc.value
        gmat = b_qmat.astype(np.float32) if use_f32 else b_qmat
        qrow = {int(q): i for i, q in enumerate(b_qids)} if exclude_self else None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            tids = batch.column("tid").to_numpy()
            tmat = (
                batch.column("temb")
                .flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(len(tids), -1)
            )
            tmat = tmat / _safe_norm(tmat)
            tsel = tmat.astype(np.float32) if use_f32 else tmat
            if not use_cupy:
                tsel_t = np.ascontiguousarray(tsel.T)
            if exclude_self:
                cells = _self_cells(tids, b_qids, qrow)
            kk = min(k + (OVERFETCH if use_f32 else 0), len(tids))
            # query tiling — see _knn_block / TILE_SCORES
            tile = max(1, TILE_SCORES // len(tids))
            for s in range(0, len(b_qids), tile):
                e = min(s + tile, len(b_qids))
                if use_cupy:
                    cos = _pair_scores(gmat[s:e], tsel, use_cupy)
                else:
                    cos = gmat[s:e] @ tsel_t
                if exclude_self:
                    _mask_self(cos, cells, s, e, -np.inf)
                if use_f32:
                    idx = _smallest_cols(-cos, kk)
                    # exact f64 cosine for the candidates only (unit-norm
                    # f64 rows → plain dot), self-pairs re-masked
                    cosk = np.einsum("qd,qkd->qk", b_qmat[s:e], tmat[idx])
                    if exclude_self:
                        cosk[b_qids[s:e, None] == tids[idx]] = -np.inf
                    if kk < len(tids):
                        # boundary-tie guard, similarity-descending twin
                        # of the knn_topk_gemm guard (ADVICE r02): unit
                        # vectors ⇒ unit scale.
                        rows = np.arange(idx.shape[0])
                        bound32 = cos[rows, idx[:, kk - 1]].astype(np.float64)
                        kth64 = -np.partition(-cosk, min(k, kk) - 1, axis=1)[
                            :, min(k, kk) - 1
                        ]
                        ctol = _f32_tie_tol(tmat.shape[1], 1.0)
                        for r in np.nonzero(kth64 <= bound32 + ctol)[0]:
                            dd = tmat @ b_qmat[s + r]
                            if exclude_self:
                                dd[tids == b_qids[s + r]] = -np.inf
                            exact_sel = np.lexsort((tids, -dd))[:kk]
                            idx[r] = exact_sel
                            cosk[r] = dd[exact_sel]
                else:
                    if kk < len(tids):
                        # f64 boundary-tie guard (descending twin) — see
                        # knn_topk_gemm: exact ties at the k-th rank must
                        # resolve to the smaller tid, not argpartition's
                        # arbitrary split. One argpartition, two pivots.
                        part = np.argpartition(-cos, (kk - 1, kk), axis=1)
                        idx = part[:, :kk]
                        rows = np.arange(idx.shape[0])
                        bound = cos[rows, part[:, kk - 1]]
                        max_excl = cos[rows, part[:, kk]]
                        for r in np.nonzero(max_excl >= bound)[0]:
                            idx[r] = np.lexsort((tids, -cos[r]))[:kk]
                    else:
                        idx = np.argpartition(-cos, kk - 1, axis=1)[:, :kk]
                    cosk = np.take_along_axis(cos, idx, axis=1)
                rows_q = np.repeat(b_qids[s:e], kk)
                rows_t = tids[idx.ravel()]
                rows_c = cosk.ravel()
                keep = np.isfinite(rows_c)
                yield pa.RecordBatch.from_pydict(
                    {"qid": rows_q[keep], "tid": rows_t[keep], "cos": rows_c[keep]}
                )

    local = train_df.mapInArrow(block_sim, "qid long, tid long, cos double")
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "tid")
    return (
        local.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(col("rnk") <= k)
        .select("qid", "tid", "rnk", "cos")
    )
