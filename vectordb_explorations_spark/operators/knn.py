"""Exact k-nearest-neighbor search — the deterministic query surface that the
reference's `FindNearest` (hnsw.cc:276-285) approximates.

Two physical strategies, same logical semantics (L2 distance in double,
ascending, ties broken by id):

1. ``knn_exact`` / ``knn_join`` — native expressions. Single query plans as
   `TakeOrderedAndProject` (the heap top-k at hnsw.cc:266-271, distributed:
   per-partition partial top-k, driver merge — no full sort, no full shuffle).
   Batch plans as broadcast-join + window ranking.
2. ``knn_join_blockwise`` — Arrow/NumPy block scoring via ``mapInPandas``:
   each input partition is scored against the broadcast query matrix with one
   float64 GEMM-style op and reduced to a LOCAL top-k before any shuffle, so
   shuffle volume is O(num_queries · k · partitions), not O(rows). This is the
   100 TB path: no crossJoin row explosion ever materializes.

At cluster scale both strategies broadcast the (small) query set; the big
side streams. Skew is irrelevant (no join key).
"""

from __future__ import annotations

from typing import Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectordb_explorations_spark.operators.ann import collect_query_arrays
from vectordb_explorations_spark.functions.rounding import round6
from vectordb_explorations_spark.functions.vectors import (
    array_lit_sql, l2_distance, l2_distance_sql)


def _dist(vec_col: str, qvec_col: str, dim: int | None):
    """Unrolled codegen distance as one parsed SQL string when the dim is
    statically known (a Column-built 64-term tree costs thousands of py4j
    round-trips per query CONSTRUCTION — measured to dominate the batch
    rows' wall time); the interpreted fold otherwise. Bit-identical
    (functions/vectors.py SQL twins)."""
    if dim is not None:
        return F.expr(l2_distance_sql(vec_col, qvec_col, dim))
    return l2_distance(F.col(vec_col), F.col(qvec_col))


def knn_exact(vectors: DataFrame, query_vec: Sequence[float], k: int,
              id_col: str = "vec_id", vec_col: str = "embedding",
              round_dp: int | None = 6) -> DataFrame:
    """Top-k rows nearest to one literal query vector.

    Deterministic replacement for `FindNearest` (hnsw.cc:276-285): brute
    force is the ideal answer the HNSW graph approximates. ORDER BY
    (dist, id) makes ties stable for the hash oracle.
    """
    # the literal's length is the dim — unrolled codegen distance,
    # rendered as ONE SQL string (a Column-built 64-term tree costs
    # thousands of py4j round-trips per query construction; the parsed
    # tree is bit-identical — functions/vectors.py SQL twins)
    dist = F.expr(l2_distance_sql(
        vec_col, array_lit_sql(query_vec), len(query_vec)))
    # Order by the RAW distance (id tie-break) and round only in the final
    # projection — rounding before the top-k can flip boundary selections
    # against the oracle, which also orders raw (same hazard knn_cosine
    # documents; flagged by round-1 ADVICE).
    out = (vectors
           .select(F.col(id_col), dist.alias("dist"))
           .orderBy(F.col("dist").asc(), F.col(id_col).asc())
           .limit(k))
    if round_dp is not None:
        out = out.select(F.col(id_col), F.round("dist", round_dp).alias("dist"))
    return out


def knn_join(vectors: DataFrame, queries: DataFrame, k: int,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "query_id", qvec_col: str = "query_vec",
             round_dp: int | None = 6,
             dim: int | None = None) -> DataFrame:
    """Batch k-NN: per query in ``queries``, its k nearest vectors.

    Physical shape: broadcast the query set, score (codegen), then
    `Window.partitionBy(query_id).orderBy(dist, id)` + row_number ≤ k —
    the per-query analog of the heap pop at hnsw.cc:266-271. Pass ``dim``
    when it is statically known to unroll the distance into whole-stage
    codegen (3x on the scoring stage vs the interpreted fold)."""
    scored = (vectors.crossJoin(F.broadcast(queries))
              .withColumn("dist", _dist(vec_col, qvec_col, dim)))
    w = Window.partitionBy(qid_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    out = (scored
           .withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= k))
    dist = F.round(F.col("dist"), round_dp) if round_dp is not None else F.col("dist")
    return out.select(
        F.col(qid_col), F.col(id_col), dist.alias("dist"), F.col("rank"))


def knn_join_blockwise(vectors: DataFrame, queries: DataFrame, k: int,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       qid_col: str = "query_id", qvec_col: str = "query_vec",
                       round_dp: int | None = 6) -> DataFrame:
    """Scale-path batch k-NN: NumPy block scoring + local top-k per partition,
    then a global top-k merge. Output is identical to ``knn_join``.

    ``mapInPandas`` receives Arrow batches of the vector table; each batch is
    scored against the collected query matrix via (a-b)² = |a|² - 2a·b + |b|²
    in float64, and only the per-batch top-k per query survives to the
    shuffle. The final window ranks ≤ batches·k rows per query, not N.
    """
    import numpy as np

    qids, qmat = collect_query_arrays(queries, qid_col, qvec_col)  # (Q, D)

    out_schema = T.StructType([
        T.StructField(qid_col, T.LongType()),
        T.StructField(id_col, T.LongType()),
        T.StructField("dist", T.DoubleType()),
    ])

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_sq = (qmat * qmat).sum(axis=1)  # (Q,)
        for pdf in batches:
            if pdf.empty or not len(qids):
                continue
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)  # (N, D)
            ids = pdf[id_col].to_numpy()
            n_sq = (mat * mat).sum(axis=1)  # (N,)
            # (Q, N) squared distances; clamp tiny negatives from cancellation.
            d2 = q_sq[:, None] + n_sq[None, :] - 2.0 * (qmat @ mat.T)
            np.maximum(d2, 0.0, out=d2)
            kk = min(k, mat.shape[0])
            part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]  # (Q, kk)
            rows = {
                qid_col: np.repeat(qids, kk),
                id_col: ids[part].ravel(),
                "dist": np.sqrt(d2[np.arange(len(qids))[:, None], part]).ravel(),
            }
            yield pd.DataFrame(rows)

    local_topk = vectors.select(id_col, vec_col).mapInPandas(score, schema=out_schema)
    w = Window.partitionBy(qid_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    out = (local_topk
           .withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= k))
    dist = F.round(F.col("dist"), round_dp) if round_dp is not None else F.col("dist")
    return out.select(F.col(qid_col), F.col(id_col), dist.alias("dist"), F.col("rank"))


def knn_join_filtered(vectors: DataFrame, queries: DataFrame, k: int,
                      filter_col: str = "label",
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      qid_col: str = "query_id", qvec_col: str = "query_vec",
                      round_dp: int | None = 6,
                      dim: int | None = None) -> DataFrame:
    """Filtered (faceted) k-NN: each query carries a metadata value in
    ``filter_col`` and only vectors matching it are scored — the
    pre-filtered search every vector store exposes (search within a
    tenant / language / category).

    Physical shape: the facet becomes the JOIN KEY of the broadcast query
    join, so non-matching vectors are dropped BEFORE the distance
    evaluates (and with a partition/bucket layout on the facet, before
    they are even read — the same pruning the bucketed-probe serving path
    demonstrates). Selectivity, not corpus size, bounds the scored set."""
    scored = (vectors.join(F.broadcast(queries), on=filter_col)
              .withColumn("dist", _dist(vec_col, qvec_col, dim)))
    w = Window.partitionBy(qid_col).orderBy(F.col("dist").asc(),
                                            F.col(id_col).asc())
    out = (scored.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= k))
    dist = (F.round(F.col("dist"), round_dp) if round_dp is not None
            else F.col("dist"))
    return out.select(F.col(qid_col), F.col(filter_col), F.col(id_col),
                      dist.alias("dist"), F.col("rank"))


def knn_filtered_partitioned(spark, path: str, queries: DataFrame, k: int,
                             filter_col: str = "label",
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             qid_col: str = "query_id",
                             qvec_col: str = "query_vec",
                             round_dp: int | None = 6,
                             dim: int | None = None) -> DataFrame:
    """Filtered k-NN against a facet-partitioned layout — the file-level
    proof of knn_join_filtered's docstring promise: with the corpus
    hive-partitioned by ``filter_col``, vectors of non-queried facets are
    never READ, not merely never scored. The query batch's distinct facet
    values (bounded by the batch size) become a literal isin filter that
    prunes at the file listing (PartitionFilters — pinned by
    tests/test_knn.py); the standard broadcast facet-join then restricts
    each query to ITS facet within the pruned frame. Same
    union-then-per-query pattern as ivf/hnsw partitioned probes."""
    facets = [r[0] for r in queries.select(filter_col).distinct().collect()]
    pruned = spark.read.parquet(path).where(F.col(filter_col).isin(facets))
    return knn_join_filtered(pruned, queries, k, filter_col=filter_col,
                             id_col=id_col, vec_col=vec_col,
                             qid_col=qid_col, qvec_col=qvec_col,
                             round_dp=round_dp, dim=dim)


def range_search(vectors: DataFrame, queries: DataFrame, radius: float,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 qid_col: str = "query_id", qvec_col: str = "query_vec",
                 round_dp: int | None = 6,
                 dim: int | None = None) -> DataFrame:
    """Radius (range) search: ALL vectors within L2 ``radius`` of each
    query — FAISS's range_search, the set-valued sibling of top-k. The
    result size is data-dependent (that is the point: 'everything this
    close', not 'the k closest').

    Physical shape: broadcast queries, codegen distance, a plain filter —
    no window, no global ordering exchange; at scale the output streams
    straight to the sink. The boundary compare runs on the RAW double
    (both engines fold identically), rounding only in the projection."""
    scored = (vectors.crossJoin(F.broadcast(queries))
              .withColumn("dist", _dist(vec_col, qvec_col, dim)))
    out = scored.where(F.col("dist") <= F.lit(float(radius)))
    dist = (F.round(F.col("dist"), round_dp) if round_dp is not None
            else F.col("dist"))
    return out.select(F.col(qid_col), F.col(id_col), dist.alias("dist"))


def sample_queries(vectors: DataFrame, num: int,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Deterministic query workload: the first ``num`` vectors by id."""
    return (vectors
            .orderBy(F.col(id_col).asc())
            .limit(num)
            .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")))


def search_after(vectors: DataFrame, query_vec: Sequence[float], k: int,
                 cursor: tuple[float, int],
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 round_dp: int | None = 6) -> DataFrame:
    """Cursor-paginated exact search (Elasticsearch's ``search_after``):
    the next ``k`` results strictly AFTER ``cursor = (dist, id)`` in the
    (dist asc, id asc) total order. The pagination idiom for deep result
    sets — a rank-window OFFSET re-ranks everything above the page on
    every request, while the cursor filter lets each page cost one scan +
    one top-k, independent of page depth.

    The cursor comparison runs on the RAW double (both engines compute
    the identical distance tree, so `==` on the boundary behaves
    identically); rounding only in the projection.

    Codegen shape (round 9): the cursor predicate is a lexicographic
    STRUCT comparison ``(dist, id) > (cd, cid)`` — semantically identical
    to ``dist > cd OR (dist == cd AND id > cid)`` but it binds the
    unrolled ``dim``-term distance tree ONCE in the predicate. The OR
    form referenced ``dist`` twice; Catalyst's filter pushdown +
    CollapseProject substituted the full tree into each reference and
    the single generated ``processNext()`` blew janino's hard 64 KB
    method limit ("Code grows beyond 64 KB"), silently dropping the
    whole stage to interpreted row-at-a-time eval — an interpreted
    full-corpus scan at cluster scale. With the struct form the stage
    compiles (two tree copies total: pushed filter + sort projection);
    tests/test_plans.py's codegen tripwire pins this class shut."""
    dist = F.expr(l2_distance_sql(
        vec_col, array_lit_sql(query_vec), len(query_vec)))
    cd, cid = float(cursor[0]), int(cursor[1])
    scored = vectors.select(F.col(id_col), dist.alias("dist"))
    after = scored.where(
        F.struct(F.col("dist").alias("d"),
                 F.col(id_col).cast("long").alias("i"))
        > F.struct(F.lit(cd).alias("d"),
                   F.lit(cid).cast("long").alias("i")))
    out = (after.orderBy(F.col("dist").asc(), F.col(id_col).asc())
           .limit(k))
    if round_dp is not None:
        out = out.select(F.col(id_col),
                         F.round("dist", round_dp).alias("dist"))
    return out


def knn_classify(vectors: DataFrame, queries: DataFrame, k: int,
                 label_col: str = "label",
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 qid_col: str = "query_id", qvec_col: str = "query_vec",
                 dim: int | None = None) -> DataFrame:
    """Majority-vote k-NN classification: each query's predicted label is
    the most common label among its k nearest vectors (self excluded),
    ties broken by the smaller label — the classical lazy classifier,
    here as a composition of the engine's own primitives.

    Physical shape: the broadcast-queries + window rank of knn_join
    (self dropped BEFORE ranking so every query sees exactly k foreign
    neighbors), then one combinable (query, label) vote count and a
    1-row-per-query argmax window — vote traffic is O(queries x k)."""
    scored = (vectors.crossJoin(F.broadcast(queries))
              .where(F.col(id_col) != F.col(qid_col))
              .withColumn("dist", _dist(vec_col, qvec_col, dim)))
    w = Window.partitionBy(qid_col).orderBy(F.col("dist").asc(),
                                            F.col(id_col).asc())
    top = (scored.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= k))
    votes = top.groupBy(qid_col, label_col).agg(
        F.count(F.lit(1)).alias("votes"))
    wv = Window.partitionBy(qid_col).orderBy(
        F.col("votes").desc(), F.col(label_col).asc())
    return (votes.withColumn("_r", F.row_number().over(wv))
            .where(F.col("_r") == 1)
            .select(F.col(qid_col),
                    F.col(label_col).alias("predicted_label"), "votes")
            .orderBy(qid_col))


def mutual_knn_pairs(vectors: DataFrame, k: int, id_bound: int,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     round_dp: int | None = 6,
                     dim: int | None = None) -> DataFrame:
    """Reciprocal (mutual) nearest-neighbor pairs among vectors with
    id < ``id_bound``: (a, b) with a < b where b is in a's k-NN AND a is
    in b's k-NN — the high-precision pairing primitive under
    deduplication and agglomerative clustering (RNN chains).

    Physical shape: ONE k-NN edge list (broadcast queries + window, self
    excluded), then a self-join of that edge list on the REVERSED key —
    the join input is O(n x k) edges, never the O(n²) distance matrix.
    At scale the same composition runs on any knn_join/ANN output; the
    id_bound here just bounds the declared query. L2 is symmetric
    bit-for-bit ((x-y)² == (-(y-x))²), so the reversed edge carries the
    identical double and the pair survives with one distance value."""
    sub = vectors.where(F.col(id_col) < id_bound)
    qs = sub.select(F.col(id_col).alias("query_id"),
                    F.col(vec_col).alias("query_vec"))
    scored = (sub.crossJoin(F.broadcast(qs))
              .where(F.col(id_col) != F.col("query_id"))
              .withColumn("dist", _dist(vec_col, "query_vec", dim)))
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(),
                                               F.col(id_col).asc())
    edges = (scored.withColumn("rank", F.row_number().over(w))
             .where(F.col("rank") <= k)
             .select(F.col("query_id").alias("src"),
                     F.col(id_col).alias("dst"), "dist"))
    fwd = edges.where(F.col("src") < F.col("dst"))
    rev = (edges.where(F.col("src") > F.col("dst"))
           .select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    out = (fwd.join(rev, ["src", "dst"])
           .select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"),
                   "dist"))
    dist = (F.round(F.col("dist"), round_dp) if round_dp is not None
            else F.col("dist"))
    return (out.select("id_a", "id_b", dist.alias("dist"))
            .orderBy("id_a", "id_b"))


# ---- retrieval-quality evaluation (precision@k / MRR / nDCG) ----


def retrieval_quality(vectors: DataFrame, num_queries: int, k: int,
                      label_col: str = "label",
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      dim: int | None = None) -> DataFrame:
    """IR evaluation over the engine's own exact retrieval: take the
    first ``num_queries`` vectors as the query workload (the
    sample_queries convention), retrieve top-k foreign neighbors by L2,
    score relevance as label agreement, and emit the standard metrics a
    retrieval deployment tracks per query — precision@k, MRR (reciprocal
    rank of the first relevant hit), DCG@k and nDCG@k (binary gains,
    log2 position discount, ideal normalized by min(k, total relevant in
    the corpus) so a label rarer than k is not penalized for physics).
    This is the evaluation harness itself as a declared, hash-checked
    query — the piece that grades any of the engine's ANN families
    against exact retrieval on labeled data.

    Determinism: the ranking orders by the RAW distance double + id
    tie-break (the established cross-engine L2 contract); MRR is an
    order-free max of rel/rank; the IDCG is a LEFT-TO-RIGHT fold over
    sequence(1, min(k, R)); DCG is a grouped sum of k bounded terms
    rounded at 6 dp (the grouped-avg precedent). log2 rides the same
    libm cross-engine contract as ln/exp/pow in unigram_logprob /
    dsir_select / temperature_mixture.

    Scale shape (100 TB): the query side broadcasts (bounded by the
    collect_query_batch discipline — here it never leaves the plan);
    the corpus streams through ONE window rank keyed on query_id
    (O(corpus x queries) scored rows, top-k pushed map-side via
    WindowGroupLimit); per-label corpus totals are one combinable agg
    joined back onto the |queries|-row frame. Nothing collects."""
    qs = (vectors
          .orderBy(F.col(id_col).asc())
          .limit(num_queries)
          .select(F.col(id_col).alias("query_id"),
                  F.col(vec_col).alias("query_vec"),
                  F.col(label_col).alias("query_label")))
    scored = (vectors.crossJoin(F.broadcast(qs))
              .where(F.col(id_col) != F.col("query_id"))
              .withColumn("dist", _dist(vec_col, "query_vec", dim)))
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(),
                                               F.col(id_col).asc())
    top = (scored.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= k)
           .select("query_id", "query_label", F.col(label_col), "rank"))
    # the query frame IS the universe — grading stays one corpus pass
    # (the hits-derived fallback would re-run the scored scan)
    return grade_retrieval(top, vectors, k, label_col=label_col,
                           queries=qs.select("query_id", "query_label"))


def grade_retrieval(hits: DataFrame, vectors: DataFrame, k: int,
                    label_col: str = "label",
                    queries: DataFrame | None = None) -> DataFrame:
    """Grade ANY retrieval's ranked output with the retrieval_quality
    metrics — the stage that lets the ANN families (LSH/IVF/HNSW/PQ/...)
    plug into the same evaluation harness as exact retrieval.
    ``hits`` must carry (query_id, query_label, <label_col>, rank) with
    ``rank`` 1-based per query — rank by (dist, id) before calling (a
    DataFrame has no reliable row order to derive position from, and
    the metrics are position-weighted, so an implicit order would grade
    silently wrong). ``vectors`` supplies the per-label corpus totals
    for the nDCG ideal.

    No silent drops: the query universe is the distinct (query_id,
    query_label) pairs of ``hits`` (BEFORE the rank<=k cut, so a query
    whose hits all rank past k still grades), or the ``queries`` frame
    when given — pass it when a family can return ZERO rows for a query
    (an over-pruned ANN probe), otherwise that query would vanish from
    the graded frame and bias every aggregate upward. Absent queries
    score 0 across the board (zero retrieved = zero precision/MRR/DCG),
    the hard_examples NULL-contract analog for metrics whose zero IS
    the honest value.

    See retrieval_quality for the determinism and scale notes; this
    function is its metric stage verbatim."""
    if "rank" not in hits.columns:
        raise ValueError(
            "grade_retrieval: hits must carry a 1-based 'rank' column "
            "(rank by (dist, id) before grading — the metrics are "
            "position-weighted)")
    # Plan note: prefer passing ``queries`` — the universe then costs a
    # bounded |queries|-row frame. The fallback derives it from hits
    # with a distinct, which re-evaluates hits' lineage a second time
    # unless the caller persisted it (acceptable for ad-hoc grading of
    # a materialized hits frame; wrong for a fused pipeline).
    universe = (queries.select("query_id", "query_label") if queries
                is not None
                else hits.select("query_id", "query_label").distinct())
    rel = (F.col(label_col) == F.col("query_label")).cast("int")
    m = (hits.where(F.col("rank") <= k)
         .groupBy("query_id", "query_label")
         .agg(F.sum(rel).alias("n_rel"),
              F.max(F.when(rel == 1, 1.0 / F.col("rank"))
                    .otherwise(F.lit(0.0))).alias("mrr_raw"),
              F.sum(F.when(rel == 1,
                           1.0 / F.log2(F.col("rank") + F.lit(1.0)))
                    .otherwise(F.lit(0.0))).alias("dcg_raw")))
    # broadcast the metrics side: it is at most |universe| rows (one per
    # graded query), and LEFT OUTER can only broadcast the build side
    m = (universe.join(F.broadcast(m), ["query_id", "query_label"], "left")
         .select("query_id", "query_label",
                 F.coalesce("n_rel", F.lit(0)).alias("n_rel"),
                 F.coalesce("mrr_raw", F.lit(0.0)).alias("mrr_raw"),
                 F.coalesce("dcg_raw", F.lit(0.0)).alias("dcg_raw")))
    # total relevant per label (minus the query itself), for the ideal;
    # left join so a query_label absent from the corpus grades 0, not
    # a dropped row (r_total NULL -> the when() below falls to 0.0)
    label_tot = (vectors.groupBy(F.col(label_col).alias("query_label"))
                 .agg(F.count(F.lit(1)).alias("label_n")))
    j = m.join(F.broadcast(label_tot), "query_label", "left")
    r_total = F.col("label_n") - 1
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.lit(k), r_total)),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / F.log2(i.cast("double") + 1.0))
    ndcg = F.when(r_total > 0, round6(F.col("dcg_raw") / idcg)) \
            .otherwise(F.lit(0.0))
    return (j.select("query_id", "query_label", "n_rel",
                     round6(F.col("n_rel").cast("double") / k)
                     .alias("precision_at_k"),
                     round6(F.col("mrr_raw")).alias("mrr"),
                     round6(F.col("dcg_raw")).alias("dcg"),
                     ndcg.alias("ndcg"))
            .orderBy("query_id"))


def retrieval_quality_oracle(num_queries: int, k: int) -> str:
    from vectordb_explorations_spark.functions.rounding import r6

    dist = ("sqrt(list_sum(list_transform(list_zip(e.embedding, q.query_vec), "
            "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) "
            "* (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))))")
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS query_vec, label AS query_label
  FROM embeddings ORDER BY vec_id LIMIT {num_queries}
), top AS (
  SELECT q.query_id, q.query_label, e.label,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY {dist} ASC, e.vec_id ASC) AS rank
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
  QUALIFY rank <= {k}
), m AS (
  SELECT query_id, query_label,
         sum(CASE WHEN label = query_label THEN 1 ELSE 0 END) AS n_rel,
         max(CASE WHEN label = query_label THEN 1.0 / rank
                  ELSE 0.0 END) AS mrr_raw,
         sum(CASE WHEN label = query_label THEN 1.0 / log2(rank + 1.0)
                  ELSE 0.0 END) AS dcg_raw
  FROM top GROUP BY query_id, query_label
), tot AS (
  SELECT label AS query_label, count(*) AS label_n
  FROM embeddings GROUP BY label
)
SELECT m.query_id, m.query_label, CAST(n_rel AS BIGINT) AS n_rel,
       {r6(f'n_rel::DOUBLE / {k}')} AS precision_at_k,
       {r6('mrr_raw')} AS mrr,
       {r6('dcg_raw')} AS dcg,
       CASE WHEN label_n - 1 > 0 THEN
         {r6('dcg_raw / list_sum(list_transform('
             f'range(1, least({k}, label_n - 1) + 1), '
             'i -> 1.0 / log2(i::DOUBLE + 1.0)))')}
       ELSE 0.0 END AS ndcg
FROM m JOIN tot USING (query_label)
ORDER BY query_id
"""


# ---- contrastive hard-example mining (training data for encoders) ----


def hard_examples(vectors: DataFrame, num_queries: int, k: int,
                  label_col: str = "label",
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  dim: int | None = None) -> DataFrame:
    """Mine contrastive training pairs from the retrieval neighborhood —
    the standard curation step for training embedding models (sentence
    encoders / rerankers): for each anchor, the HARD NEGATIVE is the
    nearest wrong-label neighbor inside its top-k (the most confusable
    impostor — random negatives are too easy to carry gradient), and the
    HARD POSITIVE is the FARTHEST same-label neighbor still inside the
    top-k (the most marginal example the encoder should still pull in).
    Anchors missing either kind inside their top-k emit NULLs for it —
    the miner's signal to widen k for that anchor, not a silent drop.

    Determinism: the neighborhood ranks by (raw distance double, id) —
    the established L2 contract; the per-anchor picks are row_number
    windows over that rank (never over floats); distances round at 6 dp
    in the projection only.

    Scale shape (100 TB): identical to retrieval_quality's scored scan
    — broadcast anchor batch, ONE window rank keyed on anchor
    (WindowGroupLimit bounds it map-side), then two row_number windows
    over the k-bounded frame (O(anchors x k) rows). Nothing collects."""
    qs = (vectors
          .orderBy(F.col(id_col).asc())
          .limit(num_queries)
          .select(F.col(id_col).alias("anchor_id"),
                  F.col(vec_col).alias("query_vec"),
                  F.col(label_col).alias("anchor_label")))
    scored = (vectors.crossJoin(F.broadcast(qs))
              .where(F.col(id_col) != F.col("anchor_id"))
              .withColumn("dist", _dist(vec_col, "query_vec", dim)))
    w = Window.partitionBy("anchor_id").orderBy(F.col("dist").asc(),
                                                F.col(id_col).asc())
    top = (scored.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= k)
           .select("anchor_id", "anchor_label",
                   F.col(id_col).alias("cand_id"),
                   F.col(label_col).alias("cand_label"),
                   "dist", "rank"))
    neg_w = Window.partitionBy("anchor_id").orderBy("rank")
    pos_w = Window.partitionBy("anchor_id").orderBy(F.col("rank").desc())
    neg = (top.where(F.col("cand_label") != F.col("anchor_label"))
           .withColumn("rn", F.row_number().over(neg_w))
           .where(F.col("rn") == 1)
           .select("anchor_id",
                   F.col("cand_id").alias("neg_id"),
                   F.col("rank").alias("neg_rank"),
                   F.round("dist", 6).alias("neg_dist")))
    pos = (top.where(F.col("cand_label") == F.col("anchor_label"))
           .withColumn("rn", F.row_number().over(pos_w))
           .where(F.col("rn") == 1)
           .select("anchor_id",
                   F.col("cand_id").alias("pos_id"),
                   F.col("rank").alias("pos_rank"),
                   F.round("dist", 6).alias("pos_dist")))
    anchors = qs.select("anchor_id", "anchor_label")
    return (anchors
            .join(neg, "anchor_id", "left")
            .join(pos, "anchor_id", "left")
            .select("anchor_id", "anchor_label",
                    "neg_id", "neg_rank", "neg_dist",
                    "pos_id", "pos_rank", "pos_dist")
            .orderBy("anchor_id"))


def hard_examples_oracle(num_queries: int, k: int) -> str:
    dist = ("sqrt(list_sum(list_transform(list_zip(e.embedding, q.query_vec), "
            "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) "
            "* (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))))")
    return f"""
WITH q AS (
  SELECT vec_id AS anchor_id, embedding AS query_vec,
         label AS anchor_label
  FROM embeddings ORDER BY vec_id LIMIT {num_queries}
), top AS (
  SELECT q.anchor_id, q.anchor_label, e.vec_id AS cand_id,
         e.label AS cand_label, {dist} AS dist,
         row_number() OVER (PARTITION BY q.anchor_id
                            ORDER BY {dist} ASC, e.vec_id ASC) AS rank
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.anchor_id
  QUALIFY rank <= {k}
), neg AS (
  SELECT anchor_id, cand_id AS neg_id, rank AS neg_rank,
         round(dist, 6) AS neg_dist,
         row_number() OVER (PARTITION BY anchor_id ORDER BY rank) AS rn
  FROM top WHERE cand_label <> anchor_label QUALIFY rn = 1
), pos AS (
  SELECT anchor_id, cand_id AS pos_id, rank AS pos_rank,
         round(dist, 6) AS pos_dist,
         row_number() OVER (PARTITION BY anchor_id ORDER BY rank DESC) AS rn
  FROM top WHERE cand_label = anchor_label QUALIFY rn = 1
)
SELECT q.anchor_id, q.anchor_label,
       neg_id, neg_rank, neg_dist, pos_id, pos_rank, pos_dist
FROM q LEFT JOIN neg USING (anchor_id) LEFT JOIN pos USING (anchor_id)
ORDER BY q.anchor_id
"""
