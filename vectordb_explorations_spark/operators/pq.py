"""Product quantization (PQ): compress vectors to per-subspace code ids and
search with asymmetric distance computation (ADC) + exact refine.

Not in the reference (HNSW is its only index, hnsw.cc:94-285) — PQ is the
standard memory-side companion at scale: 64 float32 dims (256 B) become
``m`` one-byte codes, so a 100 TB embedding corpus's index fits in a few
hundred GB and the ADC scan is table lookups, not float math.

Scale shape: codebooks are tiny ((m, k, dsub) ≈ KBs) and train on a driver
sample (standard practice — quality depends on distribution, not corpus
size); encoding is an Arrow-batched GEMM per partition; search ships the
query batch in the UDF closure and keeps a local top-k per task before
the global merge, like the other ANN paths; the exact refine re-scores a
driver-bounded candidate set. Recall-gated against the exact path, never
hash-matched (SURVEY §0).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from vectordb_explorations_spark.operators import ann as ANN
from vectordb_explorations_spark.operators.ann import (_probe_map,
                                                       collect_query_arrays)
from vectordb_explorations_spark.sources import substrate


# ---- corpus-adaptive exact-refine shortlist ----
# The 1M probe caught PQ's fixed refine_factor in the same decay family
# as the LSH bucket_cap and the BQ cascade shortlist: rf*k exact-refine
# candidates are a CONSTANT count, so their corpus fraction shrinks as N
# grows and code collisions push true neighbors past the cutoff —
# measured PQ 0.958@200k(rf=30) -> 0.812@1M(rf=30) -> 0.957@1M(rf=100);
# IVF-PQ 0.878@1M(rf=10) -> 0.961@1M(rf=50). Candidate-fraction math:
# hold rf*k/N at the 200k-calibrated anchor. refine_factor='auto'
# resolves from the code-table size; a fixed rf below the fraction
# warns loudly instead of silently degrading (the LSH/BQ pattern).
PQ_REFINE_FRACTION = 300 / 200_000     # rf=30 * k=10 at the 200k anchor
IVFPQ_REFINE_FRACTION = 100 / 200_000  # rf=10 * k=10 (within probed lists)


def adaptive_refine_factor(n: int, k: int, fraction: float,
                           floor: int = 10) -> int:
    """refine_factor holding rf*k/N at the calibrated fraction."""
    return max(floor, int(np.ceil(fraction * n / max(1, k))))


# Corpus sizes memoized per code-table DataFrame object: the steady-state
# serving pattern calls search repeatedly on ONE cached index table, and a
# count() job per call is a job-scheduling round-trip in the hot path
# (measured: ann_pq_refined_batch100 0.843 -> 0.995 s). Weak keys so a
# dropped index frees its entry.
import weakref

_CORPUS_N_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def invalidate_corpus_n(codes_df: DataFrame | None = None) -> None:
    """Drop the memoized corpus count for ``codes_df`` (or ALL entries
    when called with no argument). The memo is per-DataFrame-lifetime
    by design (job-free steady-state serving), and the engine's own
    append helpers clear it automatically. Note the deeper contract: a
    parquet-backed DataFrame SNAPSHOTS its file listing at creation, so
    a long-lived object over a growing path reports the old N (and old
    rows!) even after invalidation — growing-path serving must re-read
    the path per probe (the ``*_probe_partitioned`` helpers do, and
    resolve N from the sidecar) or pass ``corpus_n=``. This hook covers
    sources whose listing CAN refresh under one object (catalog tables
    after REFRESH TABLE, in-memory unions rebound to the same name)."""
    if codes_df is None:
        _CORPUS_N_CACHE.clear()
    else:
        _CORPUS_N_CACHE.pop(codes_df, None)


def _corpus_rows(codes_df: DataFrame, replication: int) -> int:
    """Corpus row count of a code table, ONE count per DataFrame lifetime.

    STALENESS CONTRACT: the memo lives as long as the DataFrame object —
    which is also exactly how long the object's FILE LISTING lives (a
    parquet DataFrame snapshots its file index at creation), so the memo
    can only disagree with what its DataFrame would count for sources
    whose listing refreshes in place (catalog tables after REFRESH
    TABLE). Growing-path serving must re-read the path per probe (the
    ``*_probe_partitioned`` helpers do) or pass ``corpus_n=``; appends
    made through the engine's own helpers (``*_append_partitioned``)
    clear this cache themselves, and :func:`invalidate_corpus_n` does it
    manually.

    ``replication`` is the known per-vector row multiplicity (IVF-family
    code tables carry assign_n rows per vector — counting raw rows would
    double N, resolving 'auto' to twice the calibrated shortlist and
    firing the fixed-rf warning spuriously)."""
    n = _CORPUS_N_CACHE.get(codes_df)
    if n is None:
        n = codes_df.count() // max(1, int(replication))
        _CORPUS_N_CACHE[codes_df] = n
    return n


def _resolve_refine_factor(refine_factor, codes_df: DataFrame, k: int,
                           fraction: float, family: str,
                           corpus_n: int | None = None,
                           replication: int = 1) -> int:
    """Resolve ``refine_factor`` ('auto' or fixed int) against the corpus
    size. ``corpus_n`` — when the caller carries it as index metadata —
    makes resolution job-free; otherwise one memoized count per code
    table (never one per search call)."""
    import warnings
    n = corpus_n if corpus_n is not None else _corpus_rows(
        codes_df, replication)
    if refine_factor == "auto":
        return adaptive_refine_factor(n, k, fraction)
    rf = int(refine_factor)
    if rf * k < fraction * n:
        warnings.warn(
            f"{family} refine_factor={rf} gives {rf * k} exact-refine "
            f"candidates = {rf * k / n:.3%} of the corpus (N={n:,}) — "
            f"below the calibrated {fraction:.3%}; recall decays with N "
            f"at a fixed shortlist (PQ measured 0.958->0.812 from 200k "
            f"to 1M). Pass refine_factor='auto' (resolves to "
            f"{adaptive_refine_factor(n, k, fraction)}) or accept "
            f"degraded recall.", RuntimeWarning, stacklevel=3)
    return rf


def _kmeans_1d(data: np.ndarray, k: int, seed: int, iters: int = 20) -> np.ndarray:
    """Tiny deterministic Lloyd's k-means for one subspace: (n, dsub) → (k, dsub).
    k-means++-style seeding from a seeded RNG; empty clusters respawn on the
    farthest point so all k codes stay live."""
    rng = np.random.RandomState(seed)
    cents = data[rng.choice(len(data), size=1)]
    # incremental k-means++: track the running min-distance to the chosen
    # set; each new centroid costs one (n, d) pass instead of re-scoring
    # against every centroid so far.
    d2 = ((data - cents[0]) ** 2).sum(-1)
    while len(cents) < k:
        p = d2 / d2.sum() if d2.sum() > 0 else None
        nxt = data[rng.choice(len(data), p=p)]
        cents = np.vstack([cents, nxt])
        d2 = np.minimum(d2, ((data - nxt) ** 2).sum(-1))
    for _ in range(iters):
        # argmin ||x-c||² = argmin(-2xc + ||c||²) — GEMM, no (n,k,d) temp
        assign = np.argmin(
            -2.0 * data @ cents.T + (cents ** 2).sum(-1), axis=1)
        # vectorized centroid update: per-cluster boolean masks cost
        # O(k·n) passes (a measured bench hot spot at m=16, k=64);
        # scatter-add + bincount is two passes total
        counts = np.bincount(assign, minlength=k)
        sums = np.zeros_like(cents)
        np.add.at(sums, assign, data)
        live = counts > 0
        cents[live] = sums[live] / counts[live, None]
        if not live.all():
            far = np.argmax(((data - cents[assign]) ** 2).sum(-1))
            cents[~live] = data[far]
    return cents


def pq_train(vectors: DataFrame, m_subspaces: int = 8, k_codes: int = 32,
             seed: int = 42, sample_n: int = 4096,
             vec_col: str = "embedding",
             id_col: str = "vec_id") -> np.ndarray:
    """Train per-subspace codebooks on a bounded driver-side sample.
    Returns (m, k, dsub) float64.

    The fit sample is xxhash64(id)-ordered before the limit: an unordered
    LIMIT is partition-layout-dependent, which made codebooks (and bench
    recalls) non-reproducible across runs; hash order is
    deterministic AND unbiased (an id-prefix sample correlates with the
    data when ids encode e.g. labels). orderBy+limit plans as
    TakeOrderedAndProject — no global sort materializes."""
    sample = [r[0] for r in
              vectors.select(id_col, vec_col)
              .orderBy(F.xxhash64(F.col(id_col)), id_col)
              .limit(sample_n).select(vec_col).collect()]
    mat = np.asarray(sample, dtype=np.float64)
    dim = mat.shape[1]
    assert dim % m_subspaces == 0, (dim, m_subspaces)
    dsub = dim // m_subspaces
    return np.stack([
        _kmeans_1d(mat[:, s * dsub:(s + 1) * dsub], k_codes, seed + s)
        for s in range(m_subspaces)])


def pq_encode(vectors: DataFrame, codebooks: np.ndarray,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Encode every vector to its m nearest-code ids (Arrow-batched argmin
    GEMM per subspace). Output is (id, codes ARRAY<INT>) — the narrow
    representation that replaces the vectors in the scan."""
    import pandas as pd

    m, k, dsub = codebooks.shape
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ])

    def enc(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            codes = np.empty((len(mat), m), dtype=np.int32)
            for s in range(m):
                sub = mat[:, s * dsub:(s + 1) * dsub]
                # ||x - c||² argmin via -2xc + ||c||² (||x||² constant in argmin)
                d = -2.0 * sub @ codebooks[s].T + (codebooks[s] ** 2).sum(-1)
                codes[:, s] = np.argmin(d, axis=1)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "codes": list(codes.tolist())})

    return vectors.select(id_col, vec_col).mapInPandas(enc, schema=schema)


def _exact_refine(cand, qids, qmat: np.ndarray,
                  refine_with: DataFrame, k: int, dim: int,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  qid_col: str = "query_id") -> DataFrame:
    """Shared exact-refine tail for every compressed-index search (PQ,
    IVF-PQ, SQ8, IVF-SQ8, BQ): re-score the bounded candidate set
    ``cand`` (qid, id) — a Spark frame, collected here, or a pandas frame
    already on the driver; at most Q·k·refine_factor rows by
    construction — against the original vectors, and re-rank.

    One ``mapInPandas`` pass over ``refine_with`` does the re-score: the
    candidate id -> queries map and the query matrix ride the closure,
    each task keeps its per-query top-k, and Spark's ``round(x, 6)`` is
    applied before the collect. The driver takes the final top-k by
    (rounded distance, id) and returns a local frame (see
    ``ann.local_result``). The distance is ``l2_distance_sql``'s: the
    squared differences summed dimension by dimension in index order,
    then the square root, so results are bit-identical to the SQL form
    (pinned by tests/test_pq.py)."""
    import pandas as pd

    from vectordb_explorations_spark.operators.ann import (
        coalesce_to_split_size, local_result, rank_pool)

    qids = np.asarray(qids, dtype=np.int64)
    if isinstance(cand, DataFrame):
        cand = cand.toPandas()
    qpos = pd.Series(np.arange(len(qids)), index=qids)
    pairs = pd.DataFrame({  # candidate id -> positions of its queries
        "id": cand[id_col].to_numpy(np.int64),
        "qi": qpos.loc[cand[qid_col].to_numpy(np.int64)].to_numpy()})
    wanted = pairs["id"].unique()
    schema = T.StructType([
        T.StructField(qid_col, T.LongType()),
        T.StructField(id_col, T.LongType()),
        T.StructField("dist", T.DoubleType()),
    ])

    def rescore(batches):
        outs = []
        for pdf in batches:
            ids = pdf[id_col].to_numpy(np.int64)
            rows = np.flatnonzero(np.isin(ids, wanted))
            if not len(rows):
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()[rows]).astype(np.float64)
            hit = pd.DataFrame({"id": ids[rows], "row": np.arange(len(rows))}
                               ).merge(pairs, on="id")
            qi = hit["qi"].to_numpy()
            diff = vecs[hit["row"].to_numpy()] - qmat[qi]
            acc = diff[:, 0] * diff[:, 0]
            for j in range(1, dim):
                acc = acc + diff[:, j] * diff[:, j]
            outs.append(pd.DataFrame({qid_col: qids[qi],
                                      id_col: hit["id"].to_numpy(),
                                      "dist": np.sqrt(acc)}))
        if not outs:
            return
        out = pd.concat(outs).sort_values([qid_col, "dist", id_col])
        # Per-query top-k, kept tie-safe for the rounded ranking: a row
        # more than 2e-6 past the k-th distance rounds strictly past it.
        pos = out.groupby(qid_col).cumcount()
        kth = out["dist"].where(pos == k - 1).groupby(
            out[qid_col]).transform("max")
        yield out[kth.isna() | (out["dist"] <= kth + 2e-6)]

    scored = (coalesce_to_split_size(refine_with.select(id_col, vec_col))
              .mapInPandas(rescore, schema=schema)
              .select(qid_col, id_col, F.round("dist", 6).alias("dist")))
    top = rank_pool(scored.toPandas(), "dist", k, qid_col, id_col)
    return local_result(refine_with.sparkSession, top, "dist", qid_col,
                        id_col)


def pq_search(codes_df: DataFrame, codebooks: np.ndarray, queries: DataFrame,
              k: int, refine_with: DataFrame | None = None,
              refine_factor: int | str = 5,
              id_col: str = "vec_id", vec_col: str = "embedding",
              qid_col: str = "query_id", qvec_col: str = "query_vec",
              corpus_n: int | None = None) -> DataFrame:
    """ADC search: per query, the (m, k) lookup table of exact
    query-subvector→code distances rides the UDF closure; scoring a
    vector is m table lookups. Each partition keeps a per-query top-n
    pool (n = k, or k·refine_factor with ``refine_with``) and a window
    merge ranks the pools.

    Without ``refine_with`` the result is that lazy Spark frame. With it
    (the original vectors), the merge's top n per query — at most
    Q·k·refine_factor rows — go to ``_exact_refine``, which collects
    them, re-scores them exactly in one pass over ``refine_with`` and
    returns a local frame: the standard ADC-then-refine pipeline.
    ``refine_factor='auto'`` holds the candidate fraction rf*k/N at the
    200k-calibrated anchor (the 1M probe measured the fixed-rf decay:
    0.958 -> 0.812 at rf=30); a fixed rf below the fraction warns (see
    adaptive_refine_factor).
    """
    import pandas as pd

    if refine_with is not None:
        refine_factor = _resolve_refine_factor(
            refine_factor, codes_df, k, PQ_REFINE_FRACTION, "pq",
            corpus_n=corpus_n)
    m, kc, dsub = codebooks.shape
    qids, qmat = collect_query_arrays(queries, qid_col, qvec_col, m * dsub)
    # (Q, m, kc) squared-distance LUTs
    luts = np.stack([
        ((qmat[:, s * dsub:(s + 1) * dsub][:, None, :]
          - codebooks[s][None, :, :]) ** 2).sum(-1)
        for s in range(m)], axis=1)

    n_local = k * refine_factor if refine_with is not None else k
    schema = T.StructType([
        T.StructField(qid_col, T.LongType()),
        T.StructField(id_col, T.LongType()),
        T.StructField("adc_dist", T.DoubleType()),
    ])

    def score(batches):
        # Accumulate per-BATCH top-n_local and emit one per-PARTITION
        # top-n_local at close: emitting per batch multiplied the window
        # prefilter's shuffle input by the batch count (10x at sf0.1 with
        # 10k-row Arrow batches).
        acc_i, acc_d = [], []  # per-batch (top, ids) candidate pools
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.asarray(list(pdf["codes"]), dtype=np.int64)  # (N, m)
            ids = pdf[id_col].to_numpy()
            # (Q, N): sum over subspaces of LUT[q, s, codes[n, s]]
            d2 = np.zeros((len(qids), len(codes)))
            for s in range(m):
                d2 += luts[:, s, :][:, codes[:, s]]
            top = min(n_local, len(codes))
            part = np.argpartition(d2, top - 1, axis=1)[:, :top]  # (Q, top)
            acc_i.append(ids[part])
            acc_d.append(np.take_along_axis(d2, part, axis=1))
        if not acc_i:
            return
        ii = np.concatenate(acc_i, axis=1)  # (Q, sum_tops)
        dd = np.concatenate(acc_d, axis=1)
        top = min(n_local, ii.shape[1])
        part = np.argpartition(dd, top - 1, axis=1)[:, :top]
        sel_i = np.take_along_axis(ii, part, axis=1)
        sel_d = np.sqrt(np.take_along_axis(dd, part, axis=1))
        yield pd.DataFrame({
            qid_col: np.repeat(qids, top),
            id_col: sel_i.ravel(),
            "adc_dist": sel_d.ravel(),
        })

    local = codes_df.mapInPandas(score, schema=schema)
    if refine_with is None:
        w = Window.partitionBy(qid_col).orderBy(
            F.col("adc_dist").asc(), F.col(id_col).asc())
        return (local.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select(qid_col, id_col,
                        F.round("adc_dist", 6).alias("dist"), "rank"))
    wloc = Window.partitionBy(qid_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc())
    cand = (local.withColumn("r", F.row_number().over(wloc))
            .where(F.col("r") <= k * refine_factor)
            .select(qid_col, id_col))
    return _exact_refine(cand, qids, qmat, refine_with, k, m * dsub,
                         id_col, vec_col, qid_col)


# ---------------- IVF-PQ composite (route coarse, ADC-scan residuals) ---

def ivfpq_build(vectors: DataFrame, num_centroids: int = 16,
                m_subspaces: int = 16, k_codes: int = 64, seed: int = 42,
                sample_n: int = 4096,
                id_col: str = "vec_id", vec_col: str = "embedding"):
    """IVF-PQ: the serving-index composite — a coarse k-means router over
    PQ-compressed RESIDUALS (vec - its list centroid), one shared codebook
    set across lists (standard FAISS IVFPQ layout). At 100 TB this is the
    shape that actually serves: a probe touches nprobe lists' codes (a
    bounded fraction of a 64-byte-per-vector index), never the corpus.

    Build: ivf_build's driver-sample coarse fit + distributed GEMM
    assignment; residual codebooks train on a bounded hash-ordered driver
    sample of residuals; encode is one Arrow pass over the assigned rows.
    Returns (codes_df(vec_id, list_id, codes), centroids, codebooks)."""
    from vectordb_explorations_spark.operators.ann import ivf_build

    assigned, centroids = ivf_build(vectors, num_centroids, seed=seed,
                                    vec_col=vec_col, id_col=id_col)
    # residual fit sample: draw hash-ordered RAW vectors (plans as
    # TakeOrderedAndProject on the narrow scan) and assign the sample
    # driver-side against the already-fitted centroids — sampling from
    # `assigned` instead would execute the full-corpus assignment pass
    # just to keep 4096 rows (measured as most of the build's wall time;
    # at 100 TB it is a whole extra corpus pass). Both replicas of each
    # sampled vector contribute a residual, matching ivf_build's
    # assign_n=2 replication in the encoded population (capped at the
    # centroid count, as ivf_assign caps it).
    an = max(1, min(ANN.IVF_ASSIGN_N, len(centroids)))
    svecs = (vectors.orderBy(F.xxhash64(F.col(id_col)), id_col)
             .limit(max(1, sample_n // an)).select(vec_col).collect())
    smat = np.asarray([r[0] for r in svecs], dtype=np.float64)
    d_s = -2.0 * smat @ centroids.T + (centroids ** 2).sum(-1)
    near = np.argsort(d_s, axis=1)[:, :an]  # nearest-first, as ivf_assign
    resid = np.concatenate([smat - centroids[near[:, j]]
                            for j in range(an)])
    dim = resid.shape[1]
    assert dim % m_subspaces == 0, (dim, m_subspaces)
    dsub = dim // m_subspaces
    codebooks = np.stack([
        _kmeans_1d(resid[:, s * dsub:(s + 1) * dsub], k_codes, seed + s)
        for s in range(m_subspaces)])

    codes_df = _ivfpq_encode(assigned, centroids, codebooks,
                             id_col, vec_col)
    return codes_df, centroids, codebooks


def _ivfpq_encode(assigned: DataFrame, centroids: np.ndarray,
                  codebooks: np.ndarray,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """One Arrow pass: residual (vec - list centroid) -> per-subspace
    argmin codes. Shared by the full build AND incremental append, so
    appended codes are bit-identical to what a rebuild with the same
    centroids/codebooks would produce."""
    import pandas as pd

    dsub = codebooks.shape[2]
    bc_cent = assigned.sparkSession.sparkContext.broadcast(centroids)
    bc_books = assigned.sparkSession.sparkContext.broadcast(codebooks)
    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("list_id", T.IntegerType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ])

    def enc(batches):
        C, B = bc_cent.value, bc_books.value
        m = B.shape[0]
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            L = pdf["list_id"].to_numpy(dtype=np.int64)
            R = X - C[L]
            codes = np.empty((len(R), m), dtype=np.int32)
            for s in range(m):
                sub = R[:, s * dsub:(s + 1) * dsub]
                d = -2.0 * sub @ B[s].T + (B[s] ** 2).sum(-1)
                codes[:, s] = np.argmin(d, axis=1)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "list_id": pdf["list_id"],
                                "codes": list(codes.tolist())})

    return (assigned.select(id_col, vec_col, "list_id")
            .mapInPandas(enc, schema=schema))


def _residual_luts(rq: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """ADC lookup tables for a block of residual queries: (nq, dim) ->
    (nq, m, kc) squared subvector-to-code distances. Each entry reduces
    the same dsub-long contiguous row as the one-query form
    ``((r[sub][None, :] - codebooks[s]) ** 2).sum(-1)``, so the tables are
    bit-equal to it (pinned by tests/test_ivfpq.py)."""
    m, kc, dsub = codebooks.shape
    return np.stack([
        ((rq[:, None, s * dsub:(s + 1) * dsub] - codebooks[s][None]) ** 2)
        .sum(-1) for s in range(m)], axis=1)


def ivfpq_search(codes_df: DataFrame, centroids: np.ndarray,
                 codebooks: np.ndarray, queries: DataFrame, k: int,
                 nprobe: int = 8, refine_with: DataFrame | None = None,
                 refine_factor: int | str = 10,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 qid_col: str = "query_id",
                 qvec_col: str = "query_vec",
                 corpus_n: int | None = None) -> DataFrame:
    """Probe the nprobe nearest lists per query and ADC-score their
    residual codes; returns a local frame (qid, id, dist, rank).

    Probe selection is ``ann._probe_map``; scan pruning, per-task pools,
    the driver merge (replicas keep their minimum distance, since
    assign_n puts a vector in two lists with different residual
    estimates) and the optional exact refine of the top k·refine_factor
    are ``ann.probe_and_merge``'s. The scorer builds a list's (nq, m, kc)
    residual LUTs when its task first meets the list and scores the
    list's codes once per probing query; without ``refine_with`` the ADC
    distance is served.

    ``refine_factor='auto'`` / the fixed-rf warning follow pq_search's
    corpus-adaptive policy (1M probe: 0.878 at rf=10 -> 0.961 at the
    resolved rf=50)."""
    if refine_with is not None:
        refine_factor = _resolve_refine_factor(
            refine_factor, codes_df, k, IVFPQ_REFINE_FRACTION, "ivfpq",
            corpus_n=corpus_n, replication=ANN.IVF_ASSIGN_N)
    m, kc, dsub = codebooks.shape
    qids, qmat = collect_query_arrays(queries, qid_col, qvec_col, m * dsub)
    marange = np.arange(m)
    luts = {}

    def score(li, rows, qis):
        c = np.asarray(list(rows["codes"]), dtype=np.int64)  # (N, m)
        sids = rows[id_col].to_numpy(np.int64)
        if li not in luts:
            luts[li] = _residual_luts(qmat[qis] - centroids[li], codebooks)
        # d2[q, n] = sum_s LUT[q, s, c[n, s]]. Chunk the query axis so
        # the (nq, n, m) gather temp stays bounded even when every query
        # probes the same hot list.
        for q0 in range(0, len(qis), 32):
            d2 = luts[li][q0:q0 + 32][:, marange[None, :], c].sum(-1)
            dist = np.sqrt(np.maximum(d2, 0.0))
            for row, qi in enumerate(qis[q0:q0 + 32]):
                yield qi, sids, dist[row]

    return ANN.probe_and_merge(
        codes_df.select("list_id", id_col, "codes"), "list_id",
        _probe_map(centroids, qmat, nprobe), score, qids, qmat, k,
        refine_with, refine_factor, id_col, vec_col, qid_col)


# ---- partitioned serving for the compressed composite ----
# At 100 TB this is the configuration you'd serve: a probe-pruned file
# listing over 16-byte codes instead of 256-byte vectors, so the scan
# that survives is nprobe/C of the INDEX bytes, already 16x smaller
# than the corpus.

def ivfpq_persist_partitioned(codes_df: DataFrame, path: str,
                              id_col: str = "vec_id") -> None:
    """Persist IVF-PQ codes hive-partitioned by list_id: each inverted
    list of m-byte codes is its own directory, so a probe's literal
    ``list_id IN (...)`` prunes unprobed lists at the FILE LISTING.
    The sidecar (``ann.persist_lists``) counts vectors (distinct ids —
    the replication-corrected N), so a probe resolves its refine policy
    and reads the layout without a job."""
    ANN.persist_lists(codes_df.select(id_col, "codes", "list_id"), path,
                      rows=codes_df.select(id_col).distinct().count())


def ivfpq_append_partitioned(path: str, centroids: np.ndarray,
                             codebooks: np.ndarray,
                             new_vectors: DataFrame,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> None:
    """Incremental IVF-PQ maintenance: assign + encode ONLY the new batch
    against the FROZEN coarse centroids and residual codebooks, append
    into the hive layout (hive append is partition-local — new files land
    only in the list directories the batch touches), and advance the
    sidecar corpus count so ``refine_factor='auto'`` keeps resolving
    against the true N without a count job. O(batch) in ONE source pass
    (the sidecar increment is an observed metric on the write job), never
    a rebuild; appended codes are bit-identical to a rebuild's because
    build and append share ``_ivfpq_encode``. Codebook/centroid drift is
    handled by periodic re-train + full rewrite (the standard IVF
    maintenance split, same as ivf_append_partitioned); sidecar, id and
    replay contract in ``ann.append_lists``."""
    ANN.append_lists(
        path, "ivfpq_append_partitioned", centroids, new_vectors,
        lambda a: _ivfpq_encode(a, centroids, codebooks, id_col, vec_col)
        .select(id_col, "codes", "list_id"),
        count_vectors=True, id_col=id_col, vec_col=vec_col)


def ivfpq_probe_partitioned(spark, path: str, centroids: np.ndarray,
                            codebooks: np.ndarray, queries: DataFrame,
                            k: int, nprobe: int = 8,
                            refine_with: DataFrame | None = None,
                            refine_factor: int | str = 10,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            qid_col: str = "query_id",
                            qvec_col: str = "query_vec") -> DataFrame:
    """Serve IVF-PQ from the hive layout: ``ivfpq_search`` over the
    unpruned layout, returning its local frame (qid, id, dist, rank);
    the probed-list filter partition-prunes it (``ann.probe_and_merge``),
    so unprobed list directories are never read. The layout's schema and
    the refine policy's N come from its sidecar: no schema or count
    job."""
    meta = substrate.read_meta(spark, path, "ivfpq_probe_partitioned")
    return ivfpq_search(substrate.read_face(spark, path, meta), centroids,
                        codebooks, queries, k,
                        nprobe=nprobe, refine_with=refine_with,
                        refine_factor=refine_factor,
                        id_col=id_col, vec_col=vec_col,
                        qid_col=qid_col, qvec_col=qvec_col,
                        corpus_n=int(meta["rows"]))
