"""Approximate nearest-neighbor search — the Spark-native re-expression of
the reference's HNSW index (hnsw.cc:94-285).

The reference serves online point inserts into a single in-process graph;
Spark is batch, so the design is **bulk build + partition-routed search**
(SURVEY §7 M3, BASELINE.json "DataFrame bulk indexing"):

1. ``random_hyperplane_lsh`` — signed projections onto deterministic
   hyperplanes → bucket id. Build is a narrow map (no shuffle); search
   probes only matching buckets (the relational analog of HNSW's layer
   descent: both prune the search space before scoring).
2. ``ivf_*`` — k-means coarse quantizer (MLlib), nprobe-limited search.
3. ``hnsw_*`` (operators/hnsw.py) — faithful per-partition graphs.

ANN results are stochastic-by-construction in the reference (seeded random
levels, hnsw.cc:140-145); here the accelerators are deterministic given the
seed, but they are still *approximate* — validated by recall@k against the
exact path (operators/knn.py), never by value hash (SURVEY §0, §5).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from vectordb_explorations_spark.schemas import EMBEDDING_DIM
from vectordb_explorations_spark.sources import substrate


# ---------------- scale-adaptive candidate policy ----------------
#
# The 200k/1M probes (SCALE_NOTES) measured WHY a fixed bucket_cap decays
# recall: hot-bucket refinement bounds candidates per probe at ~cap, so
# the inspected corpus FRACTION shrinks as N grows — 0.93 at fixture
# scale, 0.86 at 200k, 0.796 at 1M, all at cap=1024. Candidate-fraction
# math: a query probing a hot bucket inspects ~nprobe_sub*cap rows of it;
# holding the fraction nprobe_sub*cap/N constant holds the geometry the
# calibration measured. The anchor is the 100k operating point — cap
# 1024 ≈ 1% of N at recall 0.93, the fraction the 1M validation row in
# SCALE_NOTES was measured AT (auto cap 10240 -> recall 0.988 with the
# 2-bit probe ring). At 200k the same fixed cap is 0.5% of N and recall
# has already decayed to 0.86 — that is the decay curve, not the
# calibration point, so a fixed cap=1024 at 200k correctly warns and
# 'auto' correctly resolves to 2048 there.
LSH_DEFAULT_BUCKET_CAP = 1024
LSH_CAP_FRACTION = 1024 / 100_000  # ≈1% — cap/N at the 100k anchor
# Past this corpus size, 1-bit multiprobe leaves recall on the table even
# at the fraction-held cap: the 1M calibration measured 0.889 at
# cap='auto'/mpb=1 (cap saturates — doubling it bought +0.004) vs 0.988
# at mpb=2 for ~2x search cost. The misses are neighbors ≥2 hash bits
# away in every table, which no cap can recover — only probing recovers
# them (Lv et al. multiprobe).
LSH_MULTIPROBE_THRESHOLD = 500_000
# Past this corpus size LSH's candidate-pair EXCHANGE, not its probe
# count, is the serving bottleneck (10M measured: ring 188 s / ranked-24
# 127 s per batch-100 vs IVF 9.1 s, SQ8 3.7 s — SCALE_NOTES); serving
# without an explicit probe_budget warns and points at the partitioned
# IVF families.
LSH_EXCHANGE_WARN_N = 5_000_000


def adaptive_bucket_cap(n: int, floor: int = LSH_DEFAULT_BUCKET_CAP,
                        fraction: float = LSH_CAP_FRACTION) -> int:
    """Corpus-size-aware bucket cap: never below the calibrated floor,
    growing linearly with N past floor/fraction rows so the inspected
    candidate fraction stays at the recall-validated operating point."""
    return max(int(floor), int(np.ceil(n * fraction)))


def adaptive_multiprobe_bits(n: int) -> int:
    """Corpus-size-aware multiprobe depth: 1-bit flips suffice below
    LSH_MULTIPROBE_THRESHOLD (calibrated 0.87-0.93 recall); past it the
    2-bit ring is what holds recall ≥0.9 (1M: 0.889 → 0.988)."""
    return 2 if n >= LSH_MULTIPROBE_THRESHOLD else 1


def _warn_recall_risk(cap: int, n: int) -> None:
    import warnings
    if n > 0 and cap < n * LSH_CAP_FRACTION:
        warnings.warn(
            f"lsh bucket_cap={cap} is {cap / n:.2%} of the corpus "
            f"(N={n:,}) — below the calibrated {LSH_CAP_FRACTION:.2%} "
            f"candidate fraction; recall decays with N at a fixed cap "
            f"(measured 0.93→0.80 from 100k→1M in SCALE_NOTES). Pass "
            f"bucket_cap='auto' (resolves to "
            f"{adaptive_bucket_cap(n)}) or accept degraded recall.",
            RuntimeWarning, stacklevel=3)


# Serving contract: every search kernel collects the QUERY batch to the
# driver (the probe map / query matrix ride the UDF closure — KB-to-MB
# for real serving batches of 10^2-10^5). Nothing in the plan bounds a
# caller passing a corpus-sized "batch", so the collect itself must: past
# the cap the closure broadcast and the O(Q x dim) driver matrix stop
# being serving-shaped. Chunk the queries and union the results, or use
# the distributed knn_join / knn_join_blockwise for corpus x corpus
# scoring.
QUERY_BATCH_CAP = 100_000


def collect_query_batch(queries: DataFrame, qid_col: str, qvec_col: str,
                        cap: int = QUERY_BATCH_CAP) -> list:
    """Driver-side query-batch collect, capped (LIMIT cap+1 bounds the
    transfer BEFORE the overflow check, so an oversized frame can never
    flood the driver).

    Contract: a public serve call evaluates its query frame through this
    function exactly ONCE. The caller's frame may be arbitrarily costly to
    re-read (a Python-RDD frame runs Python-worker tasks per read), so
    routing, probe selection, scoring and exact refine all work from the
    collected batch, never from the frame."""
    rows = queries.select(qid_col, qvec_col).limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"query batch exceeds the driver-resident serving cap "
            f"({cap:,} rows): search kernels ship the batch in the UDF "
            f"closure, which is serving-shaped, not corpus-shaped — "
            f"chunk the queries and union results, or use knn_join for "
            f"corpus-scale scoring (knn_join_blockwise also routes its "
            f"query side through this cap)")
    return rows


def collect_query_arrays(queries: DataFrame, qid_col: str, qvec_col: str,
                         dim: int | None = None
                         ) -> tuple[np.ndarray, np.ndarray]:
    """:func:`collect_query_batch` as arrays: int64 ids (Q,) and the
    float64 query matrix (Q, dim). An empty batch gives a (0, dim) matrix
    ((0, 0) when ``dim`` is None), so the search kernels keep their 2-D
    shapes and serve an empty frame; pass the index's ``dim`` wherever a
    kernel multiplies the whole matrix."""
    rows = collect_query_batch(queries, qid_col, qvec_col)
    qmat = (np.asarray([r[1] for r in rows], dtype=np.float64) if rows
            else np.empty((0, dim or 0)))
    return np.asarray([int(r[0]) for r in rows], dtype=np.int64), qmat


def coalesce_to_split_size(df: DataFrame) -> DataFrame:
    """``df`` in ``max(1, ceil(size estimate / split))`` tasks, where
    ``split`` is Spark's own file-split size for a scan of that many
    bytes: ``min(maxPartitionBytes, max(openCostInBytes, estimate /
    default parallelism))``. A Python-worker task pays a fixed start-up
    cost, so a scan under one open cost (4 MB) runs as one task, while a
    larger one spreads over the cores as Spark's splits would."""
    est = int(df._jdf.queryExecution().optimizedPlan().stats()
              .sizeInBytes())
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    split = min(conf.filesMaxPartitionBytes(), max(
        conf.filesOpenCostInBytes(),
        est // df.sparkSession.sparkContext.defaultParallelism))
    return df.coalesce(min(max(1, -(-est // split)), 2 ** 31 - 1))


def rank_pool(pool, dist_col: str, n: int, qid_col: str, id_col: str):
    """Per query, the ``n`` best rows of a collected candidate pool:
    replicas of one (query, id) pair keep their minimum distance, rows
    order by (distance, id), and ``rank`` numbers them from 1."""
    top = (pool.sort_values([qid_col, dist_col, id_col])
           .drop_duplicates([qid_col, id_col])
           .groupby(qid_col, sort=False).head(n))
    return top.assign(rank=top.groupby(qid_col, sort=False).cumcount() + 1)


def local_result(spark, top, dist_col: str, qid_col: str,
                 id_col: str) -> DataFrame:
    """A ranked pool as the served frame ``(qid, id, dist, rank)``: a local
    relation, so collecting it runs no Spark job. ``dist`` goes through
    Spark's own ``round(x, 6)`` (folded into the local relation on the
    driver); rounding an already-rounded distance leaves it unchanged."""
    import pandas as pd

    pdf = pd.DataFrame({qid_col: top[qid_col].to_numpy(np.int64),
                        id_col: top[id_col].to_numpy(np.int64),
                        "dist": top[dist_col].to_numpy(np.float64),
                        "rank": top["rank"].to_numpy(np.int32)})
    return (spark.createDataFrame(
                pdf, f"`{qid_col}` long, `{id_col}` long, dist double, "
                     f"rank int")
            .select(qid_col, id_col, F.round("dist", 6).alias("dist"),
                    "rank"))


def _probe_map(centroids: np.ndarray, qmat: np.ndarray,
               nprobe: int) -> dict[int, np.ndarray]:
    """IVF-family probe selection: list id -> indices (ascending) of the
    queries whose ``nprobe`` nearest centroids include it, ties broken by
    list id. A NumPy distance over driver-resident centroids, blocked on
    the query axis so its one (block, C, dim) buffer stays near 32 MB
    whatever the batch size; each block squares its differences in place
    and sums them as the unblocked ``((q - c) ** 2).sum(-1)`` does, so
    the map does not depend on the block size."""
    n_lists, dim = centroids.shape
    nn = min(nprobe, n_lists)
    block = max(1, min(len(qmat), (1 << 22) // max(1, n_lists * dim)))
    buf = np.empty((block, n_lists, dim))
    by_list: dict[int, list[int]] = {}
    for q0 in range(0, len(qmat), block):
        cd = buf[:len(qmat) - q0]
        np.subtract(qmat[q0:q0 + block, None, :], centroids[None, :, :],
                    out=cd)
        cdist = np.multiply(cd, cd, out=cd).sum(-1)  # (block, C)
        for qi, row in enumerate(cdist, q0):
            for li in np.lexsort((np.arange(n_lists), row))[:nn]:
                by_list.setdefault(int(li), []).append(qi)
    return {li: np.asarray(v, dtype=np.int64) for li, v in by_list.items()}


def probe_and_merge(scan: DataFrame, group_col: str,
                    probes: dict[int, np.ndarray] | None, score,
                    qids: np.ndarray, qmat: np.ndarray, k: int,
                    refine_with: DataFrame | None = None,
                    refine_factor: int = 1, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    qid_col: str = "query_id") -> DataFrame:
    """The serve kernel of IVF-flat, IVF-SQ8, IVF-PQ and HNSW: score the
    collected query batch (``qids``, ``qmat``) against the groups of
    ``scan`` (inverted lists or graph shards) and return the served local
    frame ``(qid, id, dist, rank)``.

    ``probes`` maps each probed group id to the ascending indices of the
    queries that probe it (``_probe_map``). Its keys prune the scan as a
    literal ``group_col IN (...)`` filter, which partition-prunes a hive
    layout, and the pruned scan is coalesced to Spark's split size
    (``coalesce_to_split_size``), so a probed set under 4 MB runs as one
    Python task and a larger one keeps a task per core. ``probes=None``
    sends every query to every group: the scan is neither pruned nor
    coalesced and keeps its partitions, since its work grows with the
    group count.

    ``score(group, rows, qis)`` is the search's own arithmetic: given one
    group's rows of an Arrow batch and the indices of its probing queries
    it yields ``(qi, ids, dists)`` per query. When the scan carries
    ``id_col`` the rows hold one row per distinct id, so an id repeated
    by a replayed append cannot take two of a query's slots. Each task
    keeps the ``n`` best rows per (group, query) and then per query
    (``rank_pool``; ``n`` is ``k``, or ``k·refine_factor`` with
    ``refine_with``), so the one Spark job returns at most tasks·Q·n
    pool rows to the driver. There ``rank_pool`` merges them: the
    replicas of a vector that ``IVF_ASSIGN_N`` put in several groups
    keep their minimum distance, and rows order by (distance, id).
    Without ``refine_with`` the top k are served through
    ``local_result``; with it the top n per query are re-scored exactly
    by ``pq._exact_refine``."""
    import pandas as pd

    n = k * refine_factor if refine_with is not None else k
    if probes is not None:
        scan = coalesce_to_split_size(
            scan.where(F.col(group_col).isin(sorted(probes))))
    every = np.arange(len(qids))
    schema = T.StructType([
        T.StructField(qid_col, T.LongType()),
        T.StructField(id_col, T.LongType()),
        T.StructField("dist", T.DoubleType()),
    ])

    def task(batches):
        accs = []
        for pdf in batches:
            groups = pdf[group_col].to_numpy(np.int64)
            ids = (pdf[id_col].to_numpy(np.int64) if id_col in pdf
                   else None)
            for g in np.unique(groups):
                sel = np.flatnonzero(groups == g)
                if ids is not None:
                    sel = sel[np.unique(ids[sel], return_index=True)[1]]
                qis = every if probes is None else probes.get(int(g), [])
                if not len(qis):
                    continue
                for qi, gids, dist in score(int(g), pdf.iloc[sel], qis):
                    top = np.lexsort((gids, dist))[:n]
                    accs.append((qids[qi], gids[top], dist[top]))
        if accs:
            yield rank_pool(pd.DataFrame({
                qid_col: np.concatenate(
                    [np.full(len(i), q, dtype=np.int64) for q, i, _ in accs]),
                id_col: np.concatenate([i for _, i, _ in accs]),
                "dist": np.concatenate([d for _, _, d in accs]),
            }), "dist", n, qid_col, id_col).drop(columns="rank")

    top = rank_pool(scan.mapInPandas(task, schema=schema).toPandas(),
                    "dist", n, qid_col, id_col)
    if refine_with is None:
        return local_result(scan.sparkSession, top, "dist", qid_col, id_col)
    from vectordb_explorations_spark.operators.pq import _exact_refine
    return _exact_refine(top, qids, qmat, refine_with, k, qmat.shape[1],
                         id_col, vec_col, qid_col)


def _hyperplanes(num_tables: int, num_planes: int, dim: int, seed: int) -> np.ndarray:
    """(num_tables, num_planes, dim) deterministic Gaussian hyperplanes."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((num_tables, num_planes, dim))


def _buckets_np(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(N, T) bucket ids: bit b of table t set iff dot(vec, plane_tb) >= 0.
    One GEMM per call — the whole signature family in a single Arrow batch."""
    t, p, d = planes.shape
    proj = mat @ planes.reshape(t * p, d).T  # (N, T*P)
    bits = (proj >= 0).astype(np.int64).reshape(-1, t, p)
    weights = (1 << np.arange(p, dtype=np.int64))
    return (bits * weights).sum(axis=2)  # (N, T)


def random_hyperplane_lsh(vectors: DataFrame, num_tables: int = 8,
                          num_planes: int = 6, seed: int = 42,
                          dim: int = EMBEDDING_DIM,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Build the narrow LSH index: one (id, table_id, bucket) row per table.

    Scale shape: the index is id+two-ints wide regardless of vector dim —
    at 100 TB the vectors stay in place and only this slim index shuffles.
    Bucket computation is an Arrow-batched NumPy GEMM (a native expression
    tree for T×P×D multiply-adds would exceed codegen limits).
    Persist bucketed by (table_id, bucket) for partition-pruned probes."""
    import pandas as pd

    planes = _hyperplanes(num_tables, num_planes, dim, seed)
    out_schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("table_id", T.IntegerType()),
        T.StructField("bucket", T.IntegerType()),
    ])

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            bk = _buckets_np(mat, planes)  # (N, T)
            n, t = bk.shape
            yield pd.DataFrame({
                id_col: np.repeat(pdf[id_col].to_numpy(), t),
                "table_id": np.tile(np.arange(t, dtype=np.int32), n),
                "bucket": bk.ravel().astype(np.int32),
            })

    return vectors.select(id_col, vec_col).mapInPandas(assign, schema=out_schema)


def lsh_refine_hot_buckets(index: DataFrame, vectors: DataFrame,
                           bucket_cap: int | str = LSH_DEFAULT_BUCKET_CAP,
                           seed: int = 42,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           materialize: bool = False
                           ) -> tuple[DataFrame, DataFrame]:
    """Split oversized LSH buckets with an in-bucket coarse quantizer.

    ``bucket_cap='auto'`` resolves the cap from the corpus size measured
    on the same CACHED histogram the hot-bucket scan reads (one stats
    row + the hot rows — driver transfer bounded by hot buckets, never
    the key space): cap = max(floor, N * LSH_CAP_FRACTION), holding the
    inspected candidate fraction — and therefore recall — constant as N
    grows (the 1M probe measured the decay of a fixed cap). A fixed int
    cap below the calibrated fraction emits a loud RuntimeWarning
    instead of silently degrading.

    ``materialize=True`` returns the refined index already cached and
    counted, overlapping the no-hot-buckets result's materialization with
    the bucket histogram job (two small jobs whose fixed overhead
    otherwise serializes — the LSH build's wall-time floor at fixture
    scale). Opt-in because auto-caching the full index is the CALLER's
    memory decision at 100 TB; the default stays lazy.

    On clustered corpora hyperplane signs are dominated by the cluster
    offset, so whole clusters land in one (table, bucket) and the candidate
    set degenerates to a large corpus fraction (SCALE_NOTES measured
    ~60% at 200k). Extra *hyperplanes* can't fix that — the
    offset dominates their signs too — so hot buckets are refined with a
    small seeded k-means (k = ceil(size/cap)) fit on the bucket's own
    members: data-adaptive sub-buckets that split the cluster where random
    projections cannot. Queries probing a hot bucket rank its sub-centroids
    and descend into only the nearest few, bounding candidates per probe at
    ~cap instead of the full bucket.

    Returns ``(refined_index, sub_centroids)``:
    - refined_index: DataFrame (vec_id, table_id, bucket, sub) — cold
      buckets keep sub=0;
    - sub_centroids: a LIST of Rows (table_id, bucket, sub, centroid) —
      bounded by construction at total_hot_members / cap rows, so it is
      collected here rather than returned lazily: a lazy DF re-ran the
      whole k-means stage once per downstream action (profiled),
      and search-side collect cost one Spark job per query batch.

    Scale shape: one narrow agg for sizes, one join that moves only HOT
    members' vectors (each at most num_tables times), per-bucket k-means
    inside applyInPandas (a hot bucket's vectors fit one task: cap*k rows).
    Deterministic: members sorted by id, k-means++ seeded by
    (seed, table_id, bucket), fixed iteration count.
    """
    import pandas as pd

    spark = index.sparkSession
    # Id-partitioned (see the hot-path return below) so a cached refined
    # index feeds lsh_search's per-vector groupBy shuffle-free.
    fast = index.withColumn("sub", F.lit(0)).repartition(F.col(id_col))
    executor = fast_future = None
    if materialize:
        # Speculatively materialize the no-hot-buckets result CONCURRENTLY
        # with the histogram job: the branch needs the histogram's values,
        # but the fast path's PLAN doesn't, and no-hot is the common case.
        # Two overlapped 2-stage jobs beat one fused 3-stage job here
        # (A/B-measured ~0.5s vs ~0.9s at sf0.1 — the fused job serializes
        # its repartition and agg shuffles; concurrent jobs hide each
        # other's fixed overhead). On clustered corpora the wasted count
        # is one narrow cached scan — noise next to the k-means stage that
        # path pays anyway.
        from concurrent.futures import ThreadPoolExecutor
        fast = fast.cache()
        executor = ThreadPoolExecutor(1)
        fast_future = executor.submit(fast.count)
    # The driver must see (a) the corpus size — to resolve 'auto' /
    # price the fixed-cap recall-risk check — and (b) the HOT bucket
    # list. Collecting the full histogram for both would be driver
    # transfer bounded only by min(2^num_planes, N) * num_tables rows —
    # O(N * num_tables) once the plane count outgrows the corpus.
    # With a FIXED cap the stats ride the hot-row collect itself via an
    # Observation (one job, no cache — a cache + stats-agg + collect
    # triple cost ~0.6-1.8 s of extra cold stages/codegen at sf0.1); only
    # 'auto' pays a stats job first, because the cap the filter needs IS
    # the thing being resolved, and there the cached histogram keeps it
    # at one computation for both jobs. Observation forbids distinct
    # aggregates, so the table count rides as a bit mask (table ids are
    # small ints — bounded by the 64-bit word far above any real table
    # count) and popcounts driver-side; this stays correct on a FILTERED
    # index (e.g. a caller passing only some tables), where max+1 would
    # over-divide.
    hist = (index.groupBy("table_id", "bucket")
            .agg(F.count("*").alias("sz")))
    tmask_expr = F.bit_or(
        F.expr("shiftleft(CAST(1 AS BIGINT), table_id)")).alias("tmask")
    if bucket_cap == "auto":
        hist = hist.cache()
        stats = hist.agg(
            F.sum("sz").alias("rows"),
            F.countDistinct("table_id").alias("tables")).collect()[0]
        n_tables = int(stats["tables"] or 1)
        n_corpus = int(stats["rows"] or 0) // max(1, n_tables)
        bucket_cap = adaptive_bucket_cap(n_corpus)
        hot_rows = hist.where(F.col("sz") > F.lit(int(bucket_cap))).collect()
        hist.unpersist()
    else:
        from pyspark.sql import Observation
        bucket_cap = int(bucket_cap)
        obs = Observation()
        hot_rows = (hist.observe(obs, F.sum("sz").alias("rows"), tmask_expr,
                                 F.max("table_id").alias("tmax"))
                    .where(F.col("sz") > F.lit(bucket_cap)).collect())
        if int(obs.get.get("tmax") or 0) >= 64:
            # shiftleft wraps mod 64 — the popcount would undercount
            # tables and inflate n_corpus. Fall back to the exact
            # countDistinct stats job (rare: >=64 hash tables).
            n_tables = int(hist.agg(
                F.countDistinct("table_id")).collect()[0][0] or 1)
        else:
            n_tables = bin(int(obs.get.get("tmask") or 0)).count("1") or 1
        n_corpus = int(obs.get.get("rows") or 0) // n_tables
        _warn_recall_risk(bucket_cap, n_corpus)
    if fast_future is not None:
        fast_future.result()
        executor.shutdown()
    if not hot_rows:
        # nothing to refine (near-uniform corpus): skip the anti-join and
        # the applyInPandas stage entirely — the common fast path
        return fast, []
    if materialize:
        fast.unpersist()
    hot = spark.createDataFrame(
        [(int(r["table_id"]), int(r["bucket"])) for r in hot_rows],
        "table_id int, bucket int")
    cold = (index.join(F.broadcast(hot), ["table_id", "bucket"], "left_anti")
            .withColumn("sub", F.lit(0)))
    members = (index.join(F.broadcast(hot), ["table_id", "bucket"])
               .join(vectors.select(id_col, vec_col), id_col))

    out_schema = T.StructType([
        T.StructField("table_id", T.IntegerType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField(id_col, T.LongType()),     # NULL on centroid rows
        T.StructField("sub", T.IntegerType()),
        T.StructField("centroid", T.ArrayType(T.DoubleType())),  # NULL on members
    ])

    def split(key, pdf):
        t, b = int(key[0]), int(key[1])
        pdf = pdf.sort_values(id_col)  # group input order is not deterministic
        X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
        n = len(X)
        kk = min(int(np.ceil(n / bucket_cap)), 256)
        rng = np.random.RandomState((seed * 1_000_003 + t * 4099 + b) % (2**31))
        # k-means++ init, fixed 8 Lloyd iterations (GEMM distances — an
        # (n, k, d) broadcast temporary would be GBs for a hot bucket)
        cents = [X[int(rng.randint(n))]]
        d2 = ((X - cents[0]) ** 2).sum(1)
        for _ in range(kk - 1):
            probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
            cents.append(X[int(rng.choice(n, p=probs))])
            d2 = np.minimum(d2, ((X - cents[-1]) ** 2).sum(1))
        C = np.asarray(cents)
        xn = (X * X).sum(1)[:, None]
        for _ in range(8):
            d = xn - 2.0 * (X @ C.T) + (C * C).sum(1)[None, :]
            assign = d.argmin(1)
            for j in range(kk):
                sel = assign == j
                if sel.any():
                    C[j] = X[sel].mean(0)
        mem = pd.DataFrame({
            "table_id": t, "bucket": b,
            id_col: pdf[id_col].to_numpy(),
            "sub": assign.astype(np.int32),
            "centroid": None,
        })
        cen = pd.DataFrame({
            "table_id": t, "bucket": b,
            id_col: None,
            "sub": np.arange(kk, dtype=np.int32),
            "centroid": [list(map(float, c)) for c in C],
        })
        return pd.concat([mem, cen], ignore_index=True)

    # cache the combined output: members and centroids both derive from
    # the same applyInPandas stage, and without the cache each downstream
    # action would re-run every in-bucket k-means fit
    refined = members.groupBy("table_id", "bucket").applyInPandas(
        split, schema=out_schema).cache()
    hot_members = (refined.where(F.col(id_col).isNotNull())
                   .select(id_col, "table_id", "bucket", "sub"))
    cent_rows = (refined.where(F.col(id_col).isNull())
                 .select("table_id", "bucket", "sub", "centroid").collect())
    # Hash-partition the refined index on the vector id at BUILD time (a
    # one-time shuffle of narrow rows): lsh_search's candidates-per-vector
    # groupBy clusters on id, so a cached id-partitioned index satisfies
    # that distribution and the search-side exchange is elided — the
    # partitioning moves from every probe batch into the index build.
    out = (cold.select(id_col, "table_id", "bucket", "sub")
           .unionByName(hot_members)
           .repartition(F.col(id_col)))
    if materialize:
        out = out.cache()
        out.count()
    return out, cent_rows


def lsh_search(vectors: DataFrame, queries: DataFrame, k: int,
               num_tables: int = 8, num_planes: int = 6, seed: int = 42,
               dim: int = EMBEDDING_DIM,
               id_col: str = "vec_id", vec_col: str = "embedding",
               qid_col: str = "query_id", qvec_col: str = "query_vec",
               multiprobe_bits: int | str = 1,
               index: DataFrame | None = None,
               bucket_cap: int | str | None = LSH_DEFAULT_BUCKET_CAP,
               nprobe_sub: int = 2,
               refined: tuple[DataFrame, "DataFrame | list"] | None = None,
               corpus_n: int | None = None,
               probe_budget: int | None = None) -> DataFrame:
    """Multi-table multiprobe LSH ANN search with hot-bucket refinement.

    Candidates = vectors sharing a bucket with the query in ANY table
    (queries additionally probe all buckets within ``multiprobe_bits`` bit
    flips). Buckets larger than ``bucket_cap`` are refined by
    ``lsh_refine_hot_buckets``; a query entering a hot bucket descends into
    only its ``nprobe_sub`` nearest sub-buckets, so per-probe candidates are
    ~bucket_cap even when the corpus is clustered (pass ``bucket_cap=None``
    to disable and probe raw buckets; pass ``'auto'`` to scale the cap
    with corpus size and hold the recall-calibrated candidate fraction —
    a fixed cap below that fraction warns, see adaptive_bucket_cap). Only candidate ids shuffle; full
    vectors are joined back just for the surviving candidate set, then
    exact-scored and top-k'd.

    ``refined`` takes a prebuilt ``lsh_refine_hot_buckets`` result (the
    refinement is an index-build artifact — pass it so repeated searches
    don't re-fit the sub-quantizers). The centroid half is the builder's
    pre-collected row list (a DataFrame is also accepted and collected) —
    rows make a repeated-search loop cost zero extra Spark jobs per call.

    ``probe_budget`` switches from the exhaustive bit-flip RING to
    query-directed RANKED probing (Lv et al., VLDB'07): perturbations are
    scored by their boundary distance (|projection| of each flipped
    plane — a bit is likeliest wrong when the query sits near that
    hyperplane), and only the ``probe_budget`` best-ranked buckets per
    (query, table) are probed out of the <=2-bit family. A budget >=
    1 + P + C(P,2) probes the whole family and equals the mpb=2 ring bit
    for bit (pytest-pinned); smaller budgets buy a near-proportional
    candidate reduction because the dropped probes are exactly the ones
    least likely to hold neighbors. ``multiprobe_bits`` is ignored when
    a budget is set.
    """
    if index is None:
        index = random_hyperplane_lsh(vectors, num_tables, num_planes, seed,
                                      dim, id_col, vec_col)
    planes = _hyperplanes(num_tables, num_planes, dim, seed)
    qrows = collect_query_batch(queries, qid_col, qvec_col)
    qids = [int(r[0]) for r in qrows]
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    # one GEMM yields both the base buckets and (for ranked probing) the
    # per-plane boundary distances; the bucket formula is _buckets_np's,
    # so qb is bit-identical to the build side's bucketing
    tt, pp, dd = planes.shape
    qproj = (qmat @ planes.reshape(tt * pp, dd).T).reshape(-1, tt, pp)
    qbits = (qproj >= 0).astype(np.int64)
    qb = (qbits * (1 << np.arange(pp, dtype=np.int64))).sum(axis=2)  # (Q, T)
    spark = vectors.sparkSession
    if multiprobe_bits == "auto":
        # The probe depth that holds recall is a function of corpus size
        # (policy block above). ``corpus_n`` (build-time metadata the
        # caller already holds) makes the resolution job-free; the count
        # fallback is paid only by callers that never measured N.
        multiprobe_bits = adaptive_multiprobe_bits(
            corpus_n if corpus_n is not None else vectors.count())
    if (corpus_n is not None and corpus_n >= LSH_EXCHANGE_WARN_N
            and probe_budget is None):
        import warnings
        warnings.warn(
            f"LSH serving at N={corpus_n:,}: the candidate-pair exchange "
            f"dominates past ~{LSH_EXCHANGE_WARN_N:,} rows (10M measured: "
            f"ring 188 s/batch100 vs IVF 9 s, SQ8 3.7 s — SCALE_NOTES). "
            f"Pass probe_budget~=24 (ranked probing, ~recall-0.02) "
            f"or serve a partition-pruned IVF/IVF-PQ layout instead.",
            RuntimeWarning, stacklevel=2)

    sub_meta: dict = {}
    if bucket_cap is not None:
        if refined is None:
            refined = lsh_refine_hot_buckets(
                index, vectors, bucket_cap, seed, id_col, vec_col)
        index, sub_centroids = refined
        cent_rows = (sub_centroids.collect()
                     if isinstance(sub_centroids, DataFrame)
                     else list(sub_centroids or []))
        for r in cent_rows:
            key = (int(r["table_id"]), int(r["bucket"]))
            sub_meta.setdefault(key, {})[int(r["sub"])] = np.asarray(
                r["centroid"], dtype=np.float64)
        sub_meta = {key: np.asarray([v[j] for j in sorted(v)])
                    for key, v in sub_meta.items()}
    # No hot buckets → every sub is 0 and the sub machinery is pure
    # overhead; probe and join on the raw (table, bucket) keys instead.
    use_subs = bool(sub_meta)

    def probe_subs(qi: int, t: int, bucket: int) -> list[int]:
        cents = sub_meta.get((t, bucket))
        if cents is None:
            return [0]
        d = ((cents - qmat[qi]) ** 2).sum(1)
        order = np.lexsort((np.arange(len(d)), d))[:nprobe_sub]
        return [int(j) for j in order]

    # Ranked probing: enumerate the <=2-bit flip-mask family once, score
    # each mask per (query, table) as the sum of flipped planes'
    # boundary distances, keep the budget best (base mask scores 0 —
    # always first). Deterministic: float scores from a deterministic
    # GEMM, mask value as the tie-break.
    flip_masks = None
    if probe_budget is not None:
        flip_masks = np.asarray(
            [0] + [1 << b for b in range(num_planes)]
            + [(1 << b1) | (1 << b2) for b1 in range(num_planes)
               for b2 in range(b1 + 1, num_planes)], dtype=np.int64)
        mask_bits = ((flip_masks[:, None]
                      >> np.arange(num_planes)[None, :]) & 1)  # (M, P)

    # Dedupe driver-side (a set over the tiny probe list) instead of a
    # Spark .distinct(): the probe set is O(Q·T·planes·subs) rows, and the
    # distinct cost a full extra shuffle + stage per search call.
    probe_rows = set()
    for qi, qid in enumerate(qids):
        for t in range(qb.shape[1]):
            base = int(qb[qi, t])
            if flip_masks is not None:
                scores = mask_bits @ np.abs(qproj[qi, t])  # (M,)
                order = np.lexsort((flip_masks, scores))[:probe_budget]
                cands = [base ^ int(flip_masks[m]) for m in order]
            else:
                cands = [base]
                if multiprobe_bits >= 1:
                    cands.extend(base ^ (1 << b) for b in range(num_planes))
                if multiprobe_bits >= 2:
                    # 2-bit flips: C(P,2) extra probes per table. Most land
                    # in cold buckets, so candidates grow far slower than
                    # probes — the classic multiprobe trade (Lv et al.,
                    # VLDB'07).
                    cands.extend(base ^ (1 << b1) ^ (1 << b2)
                                 for b1 in range(num_planes)
                                 for b2 in range(b1 + 1, num_planes))
            for bk in cands:
                if use_subs:
                    for sub in probe_subs(qi, t, bk):
                        probe_rows.add((qid, t, bk, sub))
                else:
                    probe_rows.add((qid, t, bk))
    sub_field = ", sub int" if use_subs else ""
    probes = spark.createDataFrame(
        sorted(probe_rows),
        f"{qid_col} long, table_id int, bucket int{sub_field}")
    join_keys = ["table_id", "bucket"] + (["sub"] if use_subs else [])
    cand = index.join(F.broadcast(probes), join_keys).select(qid_col, id_col)
    # Scoring shape: group candidates per vector FIRST — (vec_id, [qids])
    # is ~num_candidate_vectors rows instead of num_(query,vector)_pairs,
    # so the join against the vector table shuffles each candidate vector
    # once, not once per probing query. collect_set both dedupes the
    # (query, vector) pairs AND groups them in ONE keyed shuffle with
    # map-side partials (a separate .distinct() before the groupBy cost a
    # second full shuffle of the pair set). The Arrow stage scores every
    # (vector, probing-query) pair via NumPy against the broadcast query
    # matrix and emits only per-batch top-k per query; the global window
    # then ranks <= batches*Q*k narrow rows.
    import pandas as pd

    cand_by_vec = cand.groupBy(id_col).agg(F.collect_set(qid_col).alias("qids"))
    joined = cand_by_vec.join(vectors.select(id_col, vec_col), id_col)
    qindex = {qid: i for i, qid in enumerate(qids)}
    out_schema = T.StructType([
        T.StructField(qid_col, T.LongType()),
        T.StructField(id_col, T.LongType()),
        T.StructField("dist", T.DoubleType()),
    ])

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            # vectorized ragged expansion (a Python per-pair loop here costs
            # more than the distance math itself)
            lens = np.fromiter((len(x) for x in pdf["qids"]), dtype=np.int64,
                               count=len(pdf))
            ri = np.repeat(np.arange(len(pdf), dtype=np.int64), lens)
            flat_q = np.concatenate([np.asarray(x, dtype=np.int64)
                                     for x in pdf["qids"]]) if lens.sum() else \
                np.empty(0, dtype=np.int64)
            qi = pd.Series(flat_q).map(qindex).to_numpy(dtype=np.int64)
            d = mat[ri] - qmat[qi]
            dist = np.sqrt(np.einsum("ij,ij->i", d, d))
            flat = pd.DataFrame({qid_col: np.asarray(qids, dtype=np.int64)[qi],
                                 id_col: ids[ri], "dist": dist})
            # per-batch local top-k per query bounds the shuffle
            flat = (flat.sort_values([qid_col, "dist", id_col])
                    .groupby(qid_col, sort=False).head(k))
            yield flat

    local = joined.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy(qid_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (local.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(qid_col, id_col, F.round("dist", 6).alias("dist"), "rank"))


# ---------------- IVF (inverted-file / coarse k-means) ----------------

# Boundary replication of every IVF-family build and of the kmeans HNSW
# build. ivfpq_build samples its residual-fit population at this same
# replication so the fitted residuals match the encoded population — a
# drift between the two would silently skew the codebooks with no error.
# Each persisted layout stamps the value it was built with
# (``build.assign_n`` in its sidecar), and its maintenance reads it from
# there, so changing this constant cannot mis-route an older layout.
IVF_ASSIGN_N = 2


def ivf_build(vectors: DataFrame, num_centroids: int = 16, seed: int = 42,
              vec_col: str = "embedding",
              max_iter: int = 10,
              fit_sample: int = 50_000,
              id_col: str = "vec_id") -> tuple[DataFrame, np.ndarray]:
    """IVF coarse quantizer: seeded k-means centroids, each vector assigned
    to its ``IVF_ASSIGN_N`` nearest centroids' lists. Returns
    (assigned_df, centroids).

    Scale: the fit runs DRIVER-SIDE on a bounded sample (centroid quality
    depends on the distribution, not the corpus size — fitting on 100 TB
    would iterate the whole corpus max_iter times; an MLlib fit on the
    same bounded sample still costs ~2 Spark jobs per Lloyd iteration,
    which profiling measured as most of the build wall time).
    ASSIGNMENT is the distributed half: one Arrow-batched GEMM pass over
    the full table. Persist the assignment bucketed by list_id for pruned
    probes.

    ``IVF_ASSIGN_N=2`` is spill-style replication: boundary vectors (whose
    true neighbors straddle two cells) land in both lists, which measured
    +0.15-0.2 recall@10 at fixed nprobe on the fixture corpus for a 2x
    index footprint — the classic IVF replication trade. Search must
    dedupe candidates (``probe_and_merge`` does).
    """
    import pandas as pd

    from vectordb_explorations_spark.operators.pq import _kmeans_1d

    # Hash-ordered fit sample: an unordered LIMIT is partition-layout-
    # dependent, so centroids would differ run to run;
    # ordering by xxhash64(id) is deterministic AND unbiased (an id-prefix
    # sample correlates with the data when ids encode e.g. labels), and
    # orderBy+limit plans as TakeOrderedAndProject — no global sort.
    sample = [r[0] for r in
              vectors.orderBy(F.xxhash64(F.col(id_col)), id_col)
              .limit(fit_sample).select(vec_col).collect()]
    mat = np.asarray(sample, dtype=np.float64)
    # best-of-3 restarts by inertia: a single k-means++ init lands in a
    # worse local minimum than MLlib's k-means|| often enough to cost
    # measurable recall; restarts on the driver sample are microseconds
    # next to one Spark job
    best, best_inertia = None, np.inf
    for r in range(3):
        cand = _kmeans_1d(mat, num_centroids, seed + 7919 * r, iters=max_iter)
        d2 = (-2.0 * mat @ cand.T + (cand ** 2).sum(-1)).min(axis=1) \
            + (mat * mat).sum(-1)
        inertia = float(d2.sum())
        if inertia < best_inertia:
            best, best_inertia = cand, inertia
    centroids = best

    assigned = ivf_assign(vectors, centroids, assign_n=IVF_ASSIGN_N,
                          vec_col=vec_col)
    return assigned, centroids


def ivf_assign(vectors: DataFrame, centroids: np.ndarray,
               assign_n: int = 2,
               vec_col: str = "embedding") -> DataFrame:
    """The distributed half of ivf_build, standalone: assign every row to
    its ``assign_n`` nearest FROZEN centroids — one Arrow-batched GEMM
    pass, no fit. This is the primitive incremental maintenance reuses:
    a new ingest batch is assigned against the index's existing
    centroids, so appends never re-train or re-assign the corpus."""
    out_fields = [T.StructField(f.name, f.dataType, f.nullable)
                  for f in vectors.schema.fields]
    out_schema = T.StructType(out_fields + [T.StructField("list_id",
                                                          T.IntegerType())])
    cnorm = (centroids ** 2).sum(-1)
    bc = vectors.sparkSession.sparkContext.broadcast(centroids)
    an = max(1, min(assign_n, centroids.shape[0]))

    def assign(batches):
        C = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            # argmin ||x-c||² = argmin(-2xc + ||c||²) — GEMM, no (n,k,d) temp
            d = -2.0 * X @ C.T + cnorm
            # kind='stable' so exactly-equal distances break toward the
            # SMALLER centroid index — the (dist, seed_id) tie-break the
            # join-path twin documents; the default introsort gives no
            # such guarantee on equal keys.
            near = np.argsort(d, axis=1, kind="stable")[:, :an]  # (n, an)
            out = pdf.loc[pdf.index.repeat(an)].copy()
            out["list_id"] = near.reshape(-1).astype(np.int32)
            yield out

    return vectors.mapInPandas(assign, schema=out_schema)


def ivf_search(assigned: DataFrame, centroids: np.ndarray, queries: DataFrame,
               k: int, nprobe: int = 8,
               id_col: str = "vec_id", vec_col: str = "embedding",
               qid_col: str = "query_id", qvec_col: str = "query_vec") -> DataFrame:
    """Probe the ``nprobe`` nearest centroid lists per query and score
    their vectors exactly; returns a local frame (qid, id, dist, rank).
    Equivalent role to HNSW's upper-layer routing (hnsw.cc:150-156):
    coarse structure prunes, fine search scores. Probe selection is
    ``_probe_map`` over the driver-resident centroids; scan pruning,
    per-task top-k, the merge of the assign_n replicas (exact distances,
    so they tie) and the served frame are ``probe_and_merge``'s.

    When to use which (10M in-memory measurement, SCALE_NOTES): on a
    CACHED corpus the blockwise exact GEMM is competitive past what
    intuition suggests (10M x batch-100: exact 4.0 s vs IVF 9.1 s —
    sequential cache-friendly FLOPs beat list-gather overhead), so this
    in-memory path earns its keep on recall-tolerant latency, not
    throughput. Where IVF wins — and the reason this family exists — is
    the PERSISTED hive layout (ivf_probe_partitioned): there the probe
    reads ~nprobe/C of the corpus BYTES off storage, and bytes-scanned,
    not FLOPs, is the 100 TB bottleneck.
    """
    qids, qmat = collect_query_arrays(queries, qid_col, qvec_col,
                                      centroids.shape[1])

    def score(li, rows, qis):
        sub = np.asarray(list(rows[vec_col]), dtype=np.float64)
        sids = rows[id_col].to_numpy(np.int64)
        for qi in qis:
            d = sub - qmat[qi]
            yield qi, sids, np.sqrt(np.einsum("ij,ij->i", d, d))

    return probe_and_merge(
        assigned.select("list_id", id_col, vec_col), "list_id",
        _probe_map(centroids, qmat, nprobe), score, qids, qmat, k,
        id_col=id_col, qid_col=qid_col)


def lsh_bucket_skew(index: DataFrame, bucket_cap: int = 1024) -> float:
    """Fraction of index rows in buckets larger than ``bucket_cap`` — the
    routing statistic for ``ann_search``. One narrow two-level agg."""
    sizes = index.groupBy("table_id", "bucket").agg(F.count("*").alias("sz"))
    row = sizes.agg(
        F.sum("sz").alias("total"),
        F.sum(F.when(F.col("sz") > bucket_cap, F.col("sz"))
              .otherwise(F.lit(0))).alias("hot")).collect()[0]
    return (row["hot"] or 0) / max(row["total"], 1)


def ann_search(vectors: DataFrame, queries: DataFrame, k: int,
               method: str = "auto",
               num_tables: int = 8, num_planes: int = 6, seed: int = 42,
               dim: int = EMBEDDING_DIM,
               bucket_cap: int | str = LSH_DEFAULT_BUCKET_CAP,
               hot_frac_threshold: float = 0.2,
               num_centroids: int = 64, nprobe: int = 8,
               id_col: str = "vec_id", vec_col: str = "embedding",
               qid_col: str = "query_id",
               qvec_col: str = "query_vec") -> DataFrame:
    """Routed ANN entry point — picks the index family from measured data
    shape, because the two have opposite failure modes:

    - **hyperplane LSH** wins on near-uniform corpora (tiny candidate sets,
      build is a narrow map), but on clustered corpora whole clusters share
      hyperplane signs and buckets degenerate. Hot-bucket refinement
      (``lsh_refine_hot_buckets``) bounds the damage (SCALE_NOTES measured
      candidates at ~60% of a 200k clustered corpus unbounded; ~25% with
      refinement at recall 0.86) but cannot make LSH *good* there;
    - **IVF** fits centroids to the data, so clusters are exactly what it
      partitions well; on the same 200k corpus it holds recall 0.9 probing
      <15% of the corpus.

    ``method='auto'`` builds the (cheap, narrow) LSH index, measures
    ``lsh_bucket_skew`` — the fraction of index rows in over-cap buckets —
    and routes to IVF when it exceeds ``hot_frac_threshold``, else serves
    refined LSH. The decision statistic is one narrow agg over (table_id,
    bucket) counts: no vectors move. LSH serves near-uniform corpora;
    IVF is the routed default elsewhere.
    """
    if method not in ("auto", "lsh", "ivf"):
        raise ValueError(f"unknown ANN method {method!r}")
    index = None
    if method in ("auto", "lsh"):
        index = random_hyperplane_lsh(vectors, num_tables, num_planes, seed,
                                      dim, id_col, vec_col)
    if method == "auto":
        skew_cap = (bucket_cap if isinstance(bucket_cap, int)
                    else LSH_DEFAULT_BUCKET_CAP)
        skew = lsh_bucket_skew(index, skew_cap)
        method = "ivf" if skew > hot_frac_threshold else "lsh"
    if method == "ivf":
        assigned, centroids = ivf_build(vectors, num_centroids, seed, vec_col,
                                        id_col=id_col)
        return ivf_search(assigned, centroids, queries, k, nprobe,
                          id_col, vec_col, qid_col, qvec_col)
    return lsh_search(vectors, queries, k, num_tables, num_planes, seed, dim,
                      id_col, vec_col, qid_col, qvec_col,
                      index=index, bucket_cap=bucket_cap)


# ---------------- recall harness ----------------

def recall_at_k(approx: DataFrame, exact: DataFrame, k: int,
                qid_col: str = "query_id", id_col: str = "vec_id") -> float:
    """recall@k = |approx ∩ exact| / |exact| per query, averaged. The gate
    for every ANN path (SURVEY §5: never hash-match a stochastic search)."""
    a = approx.where(F.col("rank") <= k).select(qid_col, id_col)
    e = exact.where(F.col("rank") <= k).select(qid_col, id_col)
    hits = a.join(e, [qid_col, id_col], "inner").groupBy(qid_col).count()
    denom = e.groupBy(qid_col).count().withColumnRenamed("count", "total")
    per_q = (denom.join(hits, qid_col, "left")
             .select((F.coalesce(F.col("count"), F.lit(0)) / F.col("total")).alias("r")))
    row = per_q.agg(F.avg("r").alias("recall")).collect()[0]
    return float(row["recall"])


def lsh_persist_bucketed(index: DataFrame, table_name: str, path: str,
                         num_buckets: int = 64) -> None:
    """Persist the LSH index hash-bucketed on the `bucket` column (SURVEY
    §7 M6): probe queries then read only the file buckets their target
    bucket ids hash into — at 100 TB the probe touches a constant fraction
    of the index instead of scanning it.

    Lifecycle note: a bucketBy table has no hive partitions, so the
    bounded-touch erasure the partitioned faces support
    (ivf/hnsw/minhash/perceptual/maxsim `*_delete_*`) does not apply —
    deleting rows here means rewriting the table. Deletion-heavy
    serving should use the hive-partitioned IVF layout instead; this
    face trades erasure granularity for shuffle-free co-located
    probes."""
    (index.write.mode("overwrite")
     .bucketBy(num_buckets, "bucket").sortBy("bucket")
     .option("path", path).saveAsTable(table_name))


def lsh_probe_bucketed(spark, table_name: str,
                       probes: list[tuple[int, int]]) -> DataFrame:
    """Read only the index buckets matching the probe list. Requires
    autoBucketedScan=false so the scan keeps the bucketed layout (otherwise
    Spark 4 rewrites joinless bucketed scans as plain scans and the
    SelectedBucketsCount pruning is lost). The bucket-id IN filter does the
    pruning; the exact (table_id, bucket) pair filter tightens on top.

    The conf is toggled only while the returned DataFrame's physical plan
    is forced (QueryExecution is memoized per Dataset, so later actions
    reuse the bucket-pruned plan), then restored — no session-wide side
    effect."""
    conf_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(conf_key, "true")
    spark.conf.set(conf_key, "false")
    try:
        bucket_ids = sorted({b for _, b in probes})
        pair_cond = F.struct("table_id", "bucket").isin(
            [F.struct(F.lit(t), F.lit(b)) for t, b in probes])
        df = (spark.table(table_name)
              .where(F.col("bucket").isin(bucket_ids))
              .where(pair_cond))
        df._jdf.queryExecution().executedPlan()  # plan now, under the toggle
        return df
    finally:
        spark.conf.set(conf_key, prev)


def _write_lists(df: DataFrame, path: str, persist: bool) -> int:
    """Hive-append ``df`` (its columns plus list_id) under ``path`` by
    list_id and return the rows written, an observed metric of the write
    job. A persist writes into the base ``substrate.begin_persist``
    emptied, one file per list directory (``sinks.repartition_for_hive``);
    an append adds files only to the lists its rows touch, on the v1
    committer (``sinks.V1_COMMITTER``)."""
    from pyspark.sql import Observation

    from vectordb_explorations_spark.sources.sinks import (
        V1_COMMITTER, repartition_for_hive)

    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    if persist:
        df = repartition_for_hive(df, "list_id")
    (df.write.mode("append").options(**({} if persist else V1_COMMITTER))
     .partitionBy("list_id").parquet(path))
    return int(obs.get.get("rows") or 0)


def persist_lists(df: DataFrame, path: str, rows: int | None = None) -> None:
    """Persist an IVF-family layout (IVF-flat, IVF-PQ, IVF-SQ8) under the
    substrate sidecar (``sources/substrate.py``): ``building``, the list
    directories, then the ``ready`` stamp with ``build.assign_n`` (the
    ``IVF_ASSIGN_N`` every IVF build replicates with), the read-back
    schema and ``rows``: the rows written, unless the caller counts
    vectors."""
    spark = df.sparkSession
    substrate.begin_persist(spark, path)
    written = _write_lists(df, path, persist=True)
    substrate.stamp(spark, path, {"assign_n": IVF_ASSIGN_N},
                    written if rows is None else rows, {"": 1})


def append_lists(path: str, op: str, centroids: np.ndarray,
                 new_vectors: DataFrame, encode, count_vectors: bool,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> None:
    """The append shared by the IVF-family layouts: assign ONLY the new
    batch to its ``build.assign_n`` nearest FROZEN centroids (the stamp's
    value, through the build's own ``ivf_assign``), ``encode`` the
    assigned rows into the layout's columns plus list_id, and hive-append
    them between a ``building`` marker and the ``ready`` stamp. ``rows``
    advances by the rows written, or by the vectors written when
    ``count_vectors`` (``ivf_assign`` emits exactly assign_n rows per
    vector), so the batch is read once. A path holding no layout yet
    starts one (``substrate.read_append_meta``).

    Contract: batch ids are new to the layout and unique within the
    batch. A crash after the write leaves ``building``; replaying the
    append writes the batch again and counts ``rows`` from the marker's
    pre-append value, and the repeated rows do not change what is served
    (``probe_and_merge`` scores one row per id)."""
    from vectordb_explorations_spark.operators.pq import invalidate_corpus_n

    spark = new_vectors.sparkSession
    meta = substrate.read_append_meta(spark, path, op,
                                      {"assign_n": IVF_ASSIGN_N})
    an = max(1, min(int(meta["build"]["assign_n"]), centroids.shape[0]))
    assigned = ivf_assign(new_vectors.select(id_col, vec_col), centroids,
                          assign_n=an, vec_col=vec_col)
    substrate.write_building(spark, path, meta, op)
    written = _write_lists(encode(assigned), path, persist=False)
    substrate.write_ready(spark, path, {
        **meta, "rows": meta["rows"] + written // (an if count_vectors else 1),
        "schemas": (meta["schemas"]
                    or substrate.face_schemas(spark, path, {"": 1}))})
    # the layout grew: a memoized count over an older frame of it is stale
    invalidate_corpus_n()


def ivf_persist_partitioned(assigned: DataFrame, path: str,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> None:
    """Persist the IVF assignment hive-partitioned by list_id — the
    serving layout: each inverted list is its own directory, so a probe's
    ``list_id IN (...)`` filter prunes unprobed lists at the FILE LISTING
    (PartitionFilters in the scan), before any byte is read. At 100 TB
    the per-probe I/O is nprobe/num_centroids of the index regardless of
    corpus size. The sidecar (``persist_lists``) counts index rows, one
    per (vector, list) replica."""
    persist_lists(assigned.select(id_col, vec_col, "list_id"), path)


def ivf_append_partitioned(path: str, centroids: np.ndarray,
                           new_vectors: DataFrame,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> None:
    """Incremental IVF maintenance: assign ONLY the new batch against the
    index's FROZEN centroids and append into the hive layout — a daily
    ingest costs O(batch), never a rebuild, and the new files land only
    in the list directories the batch touches (hive append is
    partition-local). Assignments are bit-identical to what a full
    rebuild with the same centroids would produce (ivf_assign is the
    same code path), so probes over the appended layout equal
    ivf_search over the logical union — pinned by tests/test_ann.py.
    Centroid drift is handled by periodic re-train + full rewrite (the
    standard IVF maintenance split). Sidecar and replay contract in
    ``append_lists``."""
    append_lists(path, "ivf_append_partitioned", centroids, new_vectors,
                 lambda a: a.select(id_col, vec_col, "list_id"),
                 count_vectors=False, id_col=id_col, vec_col=vec_col)


def ivf_delete_partitioned(spark, path: str,
                           delete_ids: "list[int] | DataFrame",
                           centroids: np.ndarray | None = None,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           delete_vectors: DataFrame | None = None) -> int:
    """Delete vectors by id from the persisted IVF layout, rewriting
    ONLY the list directories that contain them — the missing third of
    the index lifecycle (persist / append / probe / DELETE; GDPR
    erasure and recrawl-replacement both need it). Returns the number
    of index rows removed (assign_n replicas of one id count once
    each).

    Locating the victims: with ``delete_vectors`` (an (id, vector)
    frame) their lists come from routing against the FROZEN centroids
    exactly as the build/append did (``ivf_assign`` with the stamped
    ``build.assign_n``, so ALL replicas are found): O(batch), zero
    index reads. With ids only, ONE narrow scan of (vec_id, list_id)
    locates them — column pruning means the embedding bytes are never
    read, so even this path reads a few percent of the index's
    footprint.

    Rewrite discipline: the touched lists' SURVIVOR rows are
    localCheckpointed (bounded: nprobe-like fraction of the index;
    Spark refuses to overwrite a path it is still reading from), then
    written with ``partitionOverwriteMode=dynamic`` so untouched list
    directories keep their exact bytes (pinned by tests). A list whose
    rows are ALL deleted would be invisible to a dynamic overwrite
    (no partition in the output -> old files survive), so emptied
    list directories are removed explicitly
    (``substrate.remove_dirs``). The writes run between a ``building``
    marker and the ``ready`` stamp, whose ``rows`` is recounted from
    the rewritten layout, so replaying an interrupted delete finishes
    it."""
    op = "ivf_delete_partitioned"
    meta = substrate.read_meta(spark, path, op, replay=True)
    idx = substrate.read_face(spark, path, meta)
    if delete_vectors is not None:
        if centroids is None:
            raise ValueError("delete_vectors routing needs the index's "
                             "frozen centroids")
        routed = ivf_assign(delete_vectors, centroids,
                            assign_n=int(meta["build"]["assign_n"]),
                            vec_col=vec_col)
        touched = sorted({int(r["list_id"]) for r in
                          routed.select("list_id").distinct().collect()})
        ids = sorted({r[0] for r in
                      delete_vectors.select(id_col).distinct().collect()})
    else:
        if isinstance(delete_ids, DataFrame):
            ids = sorted({r[0] for r in
                          delete_ids.select(id_col).distinct().collect()})
        else:
            ids = sorted(set(int(i) for i in delete_ids))
        touched = sorted({int(r["list_id"]) for r in
                          idx.where(F.col(id_col).isin(ids))
                          .select("list_id").distinct().collect()}
                         ) if ids else []
    if not touched and meta["state"] == "ready":
        return 0
    substrate.write_building(spark, path, meta, op)
    n_removed = 0
    if touched:
        touched_rows = idx.where(F.col("list_id").isin(touched))
        n_removed = touched_rows.where(F.col(id_col).isin(ids)).count()
        survivors = (touched_rows.where(~F.col(id_col).isin(ids))
                     .select(id_col, vec_col, "list_id")
                     .localCheckpoint())
        kept_lists = {int(r["list_id"]) for r in
                      survivors.select("list_id").distinct().collect()}
        if kept_lists:
            # no repartition("list_id"): a single inverted list can be
            # GBs at real scale, and collapsing it to one writer task is
            # the inverse of the build-time many-tiny-dirs fix; survivors
            # keep the pruned read's parallelism
            # (sinks.delete_rows_partitioned documents the same trade)
            from vectordb_explorations_spark.sources.sinks import (
                V1_COMMITTER)
            (survivors
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .options(**V1_COMMITTER)
             .partitionBy("list_id").parquet(path))
        substrate.remove_dirs(spark, path, [
            f"list_id={li}" for li in sorted(set(touched) - kept_lists)])
    substrate.write_ready(spark, path, {
        **meta, "rows": substrate.read_face(spark, path, meta).count()})
    return n_removed


def ivf_probe_partitioned(spark, path: str, centroids: np.ndarray,
                          queries: DataFrame, k: int, nprobe: int = 8,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          qid_col: str = "query_id",
                          qvec_col: str = "query_vec") -> DataFrame:
    """Serve from the partitioned index: ``ivf_search`` over the unpruned
    hive layout, read with the schema its sidecar stamps (no
    schema-discovery job); the probed-list filter partition-prunes it
    (``probe_and_merge``), so unprobed list directories are never read."""
    meta = substrate.read_meta(spark, path, "ivf_probe_partitioned")
    return ivf_search(substrate.read_face(spark, path, meta), centroids,
                      queries, k, nprobe=nprobe, id_col=id_col,
                      vec_col=vec_col, qid_col=qid_col, qvec_col=qvec_col)
