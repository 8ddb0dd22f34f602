"""Scalar quantization (SQ8): compress each vector dimension to one uint8
code against per-dimension global min/max, search on dequantized codes, and
refine the top candidates exactly.

Not in the reference (HNSW is its only index, hnsw.cc:94-285) — SQ8 is the
simplest member of the compressed-index family and the usual first step
before PQ: 64 float32 dims (256 B) become 64 bytes with NO training beyond
a one-pass min/max, reconstruction error bounded by scale/2 per dimension,
and the codes stay directly usable for distance math (dequantize + GEMM).

Scale shape: the "codebook" is 2 arrays of ``dim`` doubles computed by ONE
map-side-combinable aggregation over the corpus (no driver sample, no
training iterations — exact global extents in a single scan); encoding is a
pure codegen projection (transform over the array, no Python); search
mirrors the PQ path — per-partition Arrow GEMM local top-k, merge, then
the shared driver-bounded exact refine. Recall-gated against the exact
path, and the quantization transform itself is deterministic, so the
per-dimension error audit IS hash-checked against DuckDB (unlike the
trained families).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from vectordb_explorations_spark.functions.rounding import r6, round6
from vectordb_explorations_spark.operators import ann as ANN
from vectordb_explorations_spark.operators.ann import (
    _probe_map, collect_query_arrays)
from vectordb_explorations_spark.sources import substrate

SQ_LEVELS = 255  # codes 0..255


def sq_train(vectors: DataFrame, dim: int,
             vec_col: str = "embedding") -> tuple[np.ndarray, np.ndarray]:
    """Exact per-dimension (min, max) over the corpus in ONE combinable
    aggregation: posexplode fans out to (pos, value) and the grouped
    min/max reduces to ``dim`` rows per partition map-side before the
    shuffle (a 2*dim-column single-row agg compiles a giant codegen
    expression instead — measurably slower at fixture scale for the same
    scan). Unlike the k-means families there is no sample and no seed:
    the quantizer is a pure function of the corpus extents."""
    rows = (vectors.select(F.posexplode(vec_col).alias("pos", "v"))
            .groupBy("pos")
            .agg(F.min(F.col("v").cast("double")).alias("mn"),
                 F.max(F.col("v").cast("double")).alias("mx"))
            .collect())
    assert len(rows) == dim, (len(rows), dim)
    mins = np.empty(dim, dtype=np.float64)
    maxs = np.empty(dim, dtype=np.float64)
    for r in rows:
        mins[r["pos"]] = r["mn"]
        maxs[r["pos"]] = r["mx"]
    return mins, maxs


def _scales(mins: np.ndarray, maxs: np.ndarray) -> np.ndarray:
    span = maxs - mins
    # degenerate (constant) dimensions quantize to code 0 with scale 0
    return np.where(span > 0, span / SQ_LEVELS, 0.0)


def sq_encode(vectors: DataFrame, mins: np.ndarray, maxs: np.ndarray,
              id_col: str = "vec_id", vec_col: str = "embedding",
              keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Quantize to ARRAY<INT> codes entirely JVM-side: two zip_with passes
    against literal min/scale arrays — whole-stage codegen, no Python in
    the encode path (the PQ encoder needs an argmin GEMM; SQ8 does not).
    zip_with references each literal array once per row; the
    transform-with-index formulation re-evaluated the 64-literal
    CreateArray per ELEMENT and compiled 2x slower cold.
    code = clip(floor((v - min)/scale + 0.5), 0, 255) — the binary
    half-up round both engines compute identically."""
    scales = _scales(mins, maxs)
    mins_lit = F.array(*[F.lit(float(v)) for v in mins])
    scales_lit = F.array(*[F.lit(float(v)) for v in scales])
    delta = F.zip_with(F.col(vec_col), mins_lit,
                       lambda x, mn: x.cast("double") - mn)
    codes = F.zip_with(
        delta, scales_lit,
        lambda d, sc: (F.when(sc > 0,
                              F.least(F.lit(SQ_LEVELS).cast("long"),
                                      F.greatest(F.lit(0).cast("long"),
                                                 F.floor(d / sc + F.lit(0.5)))))
                       .otherwise(F.lit(0).cast("long")).cast("int")))
    return vectors.select(id_col, *keep_cols, codes.alias("codes"))


def sq_search(codes_df: DataFrame, mins: np.ndarray, maxs: np.ndarray,
              queries: DataFrame, k: int,
              refine_with: DataFrame | None = None, refine_factor: int = 5,
              id_col: str = "vec_id", vec_col: str = "embedding",
              qid_col: str = "query_id", qvec_col: str = "query_vec") -> DataFrame:
    """Approximate search on the dequantized codes: per partition, Arrow
    batches dequantize (codes * scale + min) and score all queries in one
    GEMM, keeping a per-partition top-n pool; a window merge ranks
    globally. Without ``refine_with`` the result is that lazy frame; with
    it the top k*refine_factor candidates per query (at most
    Q·k·refine_factor rows) are collected and re-scored exactly by
    ``pq._exact_refine``, which returns a local frame (same shape as
    pq_search)."""
    import pandas as pd

    scales = _scales(mins, maxs)
    qids, qmat = collect_query_arrays(queries, qid_col, qvec_col, len(mins))
    qsq = (qmat ** 2).sum(-1)  # (Q,)

    n_local = k * refine_factor if refine_with is not None else k
    schema = T.StructType([
        T.StructField(qid_col, T.LongType()),
        T.StructField(id_col, T.LongType()),
        T.StructField("sq_dist", T.DoubleType()),
    ])

    def score(batches):
        acc_i, acc_d = [], []
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.asarray(list(pdf["codes"]), dtype=np.float64)  # (N, dim)
            deq = codes * scales + mins
            ids = pdf[id_col].to_numpy()
            # (Q, N) squared distances via ||q||^2 - 2 q.deq + ||deq||^2
            d2 = qsq[:, None] - 2.0 * qmat @ deq.T + (deq ** 2).sum(-1)
            top = min(n_local, d2.shape[1])
            part = np.argpartition(d2, top - 1, axis=1)[:, :top]
            acc_i.append(ids[part])
            acc_d.append(np.take_along_axis(d2, part, axis=1))
        if not acc_i:
            return
        ii = np.concatenate(acc_i, axis=1)
        dd = np.concatenate(acc_d, axis=1)
        top = min(n_local, ii.shape[1])
        part = np.argpartition(dd, top - 1, axis=1)[:, :top]
        sel_i = np.take_along_axis(ii, part, axis=1)
        sel_d = np.sqrt(np.maximum(np.take_along_axis(dd, part, axis=1), 0.0))
        yield pd.DataFrame({
            qid_col: np.repeat(qids, top),
            id_col: sel_i.ravel(),
            "sq_dist": sel_d.ravel(),
        })

    local = codes_df.mapInPandas(score, schema=schema)
    if refine_with is None:
        w = Window.partitionBy(qid_col).orderBy(
            F.col("sq_dist").asc(), F.col(id_col).asc())
        return (local.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select(qid_col, id_col,
                        F.round("sq_dist", 6).alias("dist"), "rank"))
    wloc = Window.partitionBy(qid_col).orderBy(
        F.col("sq_dist").asc(), F.col(id_col).asc())
    cand = (local.withColumn("r", F.row_number().over(wloc))
            .where(F.col("r") <= k * refine_factor)
            .select(qid_col, id_col))
    from vectordb_explorations_spark.operators.pq import _exact_refine
    return _exact_refine(cand, qids, qmat, refine_with, k, qmat.shape[1],
                         id_col, vec_col, qid_col)


def sq_quantization_audit(vectors: DataFrame,
                          vec_col: str = "embedding") -> DataFrame:
    """Declared (hash-checked) per-dimension quantization audit: extents,
    scale, mean code, and mean absolute reconstruction error — the
    deterministic face of the SQ8 family (recall is gated in pytest; this
    transform has no randomness so it IS oracle-comparable).

    Scale shape: one explode (fan-out = dim), then a single hash exchange
    on dim_id shared by the extent window and the final aggregation (AQE
    reuses the partitioning); everything is codegen — no Python, no
    driver pass, no second corpus scan."""
    e = vectors.select(F.posexplode(vec_col).alias("pos", "v0"))
    e = e.select((F.col("pos") + 1).alias("dim_id"),
                 F.col("v0").cast("double").alias("v"))
    w = Window.partitionBy("dim_id")
    dmin = F.min("v").over(w)
    dmax = F.max("v").over(w)
    sc = (dmax - dmin) / F.lit(float(SQ_LEVELS))
    code = F.least(F.lit(SQ_LEVELS).cast("long"),
                   F.greatest(F.lit(0).cast("long"),
                              F.floor((F.col("v") - dmin) / sc + F.lit(0.5))))
    code = F.when(dmax > dmin, code).otherwise(F.lit(0).cast("long"))
    err = F.abs(dmin + code.cast("double") * sc - F.col("v"))
    c = e.select("dim_id", "v", dmin.alias("dmin"), dmax.alias("dmax"),
                 sc.alias("sc"), code.alias("code"), err.alias("err"))
    return (c.groupBy("dim_id")
            .agg(round6(F.min("v")).alias("d_min"),
                 round6(F.max("v")).alias("d_max"),
                 round6(F.first("sc")).alias("scale"),
                 round6(F.avg("code")).alias("avg_code"),
                 round6(F.avg("err")).alias("avg_abs_err"))
            .orderBy("dim_id"))


def sq_quantization_audit_oracle() -> str:
    return f"""
WITH e AS (
  SELECT generate_subscripts(embedding, 1) AS dim_id,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
), s AS (
  SELECT dim_id, v,
         min(v) OVER (PARTITION BY dim_id) AS dmin,
         max(v) OVER (PARTITION BY dim_id) AS dmax
  FROM e
), c AS (
  SELECT dim_id, v, dmin, dmax,
         (dmax - dmin) / {SQ_LEVELS}.0 AS sc,
         CASE WHEN dmax > dmin
              THEN least({SQ_LEVELS}, greatest(0,
                   CAST(floor((v - dmin) / ((dmax - dmin) / {SQ_LEVELS}.0)
                              + 0.5) AS BIGINT)))
              ELSE 0 END AS code
  FROM s
)
SELECT CAST(dim_id AS INT) AS dim_id,
       {r6('min(v)')} AS d_min,
       {r6('max(v)')} AS d_max,
       {r6('any_value(sc)')} AS scale,
       {r6('avg(code)')} AS avg_code,
       {r6('avg(abs(dmin + code * sc - v))')} AS avg_abs_err
FROM c GROUP BY dim_id ORDER BY dim_id
"""

# ---- IVF-SQ8: coarse k-means routing over scalar-quantized lists ----
# The remaining cell of the routing x quantization matrix (IVF-PQ exists,
# pq.py:276; flat SQ8 exists above): FAISS's IVF<n>,SQ8 composite. Same
# decay family as every fixed-shortlist search, so refine_factor='auto'
# reuses pq.py's corpus-adaptive policy with IVF-PQ's within-probed-lists
# anchor (rf=10 * k=10 at the 200k calibration corpus).
IVFSQ_REFINE_FRACTION = 100 / 200_000


def ivfsq_build(vectors: DataFrame, num_centroids: int = 16, seed: int = 42,
                dim: int = 64, id_col: str = "vec_id",
                vec_col: str = "embedding"
                ) -> tuple[DataFrame, np.ndarray, np.ndarray, np.ndarray]:
    """IVF routing over SQ8 codes: k-means cells prune which lists a query
    scans (like HNSW's upper layers route the walk, hnsw.cc:150-156), and
    within a probed list the scan reads 1-byte codes, not float vectors.
    Returns (codes_df[id, list_id, codes], centroids, mins, maxs).

    Unlike IVF-PQ there is no residual encoding: SQ8's per-dimension
    extents are GLOBAL (one combinable min/max agg over the raw table —
    computing them from the assignment would scan the assign_n-replicated
    rows for the same answer), so the quantizer is shared across lists and
    a vector replicated into two lists stores the same codes. Build =
    ivf_build's sampled k-means + distributed GEMM assignment, one extents
    agg, one codegen encode projection — no extra corpus pass vs IVF.
    """
    from vectordb_explorations_spark.operators.ann import ivf_build

    assigned, centroids = ivf_build(vectors, num_centroids=num_centroids,
                                    seed=seed, vec_col=vec_col,
                                    id_col=id_col)
    mins, maxs = sq_train(vectors, dim, vec_col)
    codes = sq_encode(assigned, mins, maxs, id_col=id_col, vec_col=vec_col,
                      keep_cols=("list_id",))
    return codes, centroids, mins, maxs


def ivfsq_search(codes_df: DataFrame, centroids: np.ndarray,
                 mins: np.ndarray, maxs: np.ndarray,
                 queries: DataFrame, k: int, nprobe: int = 8,
                 refine_with: DataFrame | None = None,
                 refine_factor: int | str = 10,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 qid_col: str = "query_id",
                 qvec_col: str = "query_vec",
                 corpus_n: int | None = None) -> DataFrame:
    """Probe the ``nprobe`` nearest centroid lists and score their
    DEQUANTIZED codes; returns a local frame (qid, id, dist, rank). The
    twin of ``pq.ivfpq_search``: probe selection is ``ann._probe_map``,
    and scan pruning, per-task pools, the driver merge and the optional
    exact refine of the top k·refine_factor are ``ann.probe_and_merge``'s
    (SQ codes are vector-level, so the assign_n replicas of a vector tie
    exactly). ``refine_factor='auto'`` holds rf*k at
    IVFSQ_REFINE_FRACTION of the corpus; a fixed rf below the fraction
    warns (the shared decay policy).
    """
    from vectordb_explorations_spark.operators.pq import (
        _resolve_refine_factor)

    if refine_with is not None:
        refine_factor = _resolve_refine_factor(
            refine_factor, codes_df, k, IVFSQ_REFINE_FRACTION, "ivfsq",
            corpus_n=corpus_n, replication=ANN.IVF_ASSIGN_N)

    scales = _scales(mins, maxs)
    qids, qmat = collect_query_arrays(queries, qid_col, qvec_col, len(mins))
    qsq = (qmat ** 2).sum(-1)

    def score(li, rows, qis):
        deq = np.asarray(list(rows["codes"]), dtype=np.float64) * scales + mins
        rsq = (deq ** 2).sum(-1)
        sids = rows[id_col].to_numpy(np.int64)
        for qi in qis:
            # einsum row-dot against a stride-0 query view
            q = np.broadcast_to(qmat[qi], deq.shape)
            d2 = qsq[qi] - 2.0 * np.einsum("ij,ij->i", q, deq) + rsq
            yield qi, sids, np.sqrt(np.maximum(d2, 0.0))

    return ANN.probe_and_merge(
        codes_df.select("list_id", id_col, "codes"), "list_id",
        _probe_map(centroids, qmat, nprobe), score, qids, qmat, k,
        refine_with, refine_factor, id_col, vec_col, qid_col)


def ivfsq_persist_partitioned(codes_df: DataFrame, path: str,
                              id_col: str = "vec_id") -> None:
    """Persist IVF-SQ8 codes hive-partitioned by list_id — the 1-byte
    twin of ivfpq_persist_partitioned: probe pruning happens at the file
    listing, and what survives is nprobe/C of a table already 32x
    narrower than the vectors. Sidecar corpus metadata makes serving's
    refine-policy resolution job-free."""
    from vectordb_explorations_spark.operators.pq import (
        ivfpq_persist_partitioned)
    ivfpq_persist_partitioned(codes_df, path, id_col)


def ivfsq_append_partitioned(path: str, centroids: np.ndarray,
                             mins: np.ndarray, maxs: np.ndarray,
                             new_vectors: DataFrame,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> None:
    """Incremental IVF-SQ8 maintenance: assign + quantize ONLY the new
    batch against the FROZEN centroids and global extents, append into
    the hive layout (partition-local writes), and advance the sidecar
    corpus count so ``refine_factor='auto'`` stays job-free and true to
    N. O(batch) in ONE source pass (the sidecar increment is an observed
    metric on the write job); codes are bit-identical to a rebuild's
    (sq_encode is extent-deterministic and shared). Extent drift (a new
    batch outside the trained min/max clips to the range edge) is the
    documented SQ8 trade — re-train + rewrite when the quantization
    audit says so; sidecar, id and replay contract in
    ``ann.append_lists``."""
    ANN.append_lists(
        path, "ivfsq_append_partitioned", centroids, new_vectors,
        lambda a: sq_encode(a, mins, maxs, id_col=id_col, vec_col=vec_col,
                            keep_cols=("list_id",))
        .select(id_col, "codes", "list_id"),
        count_vectors=True, id_col=id_col, vec_col=vec_col)


def ivfsq_probe_partitioned(spark, path: str, centroids: np.ndarray,
                            mins: np.ndarray, maxs: np.ndarray,
                            queries: DataFrame, k: int, nprobe: int = 8,
                            refine_with: DataFrame | None = None,
                            refine_factor: int | str = 10,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            qid_col: str = "query_id",
                            qvec_col: str = "query_vec") -> DataFrame:
    """Serve IVF-SQ8 from the hive layout: ``ivfsq_search`` over the
    unpruned layout, returning its local frame (qid, id, dist, rank);
    the probed-list filter partition-prunes it (``ann.probe_and_merge``).
    The layout's schema and the refine policy's N come from its
    sidecar."""
    meta = substrate.read_meta(spark, path, "ivfsq_probe_partitioned")
    return ivfsq_search(substrate.read_face(spark, path, meta), centroids,
                        mins, maxs, queries, k,
                        nprobe=nprobe, refine_with=refine_with,
                        refine_factor=refine_factor,
                        id_col=id_col, vec_col=vec_col,
                        qid_col=qid_col, qvec_col=qvec_col,
                        corpus_n=int(meta["rows"]))
