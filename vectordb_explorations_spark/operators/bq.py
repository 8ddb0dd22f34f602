"""Binary quantization (BQ1): compress each vector to 1 bit per dimension
(above/below the per-dimension midrange), search by Hamming distance over
packed words, and refine the top candidates exactly.

Not in the reference (HNSW is its only index, hnsw.cc:94-285) — 1-bit codes
are the most aggressive member of the compressed-index family (64 float32
dims = 256 B become 8 B) and the standard first-stage filter in modern
vector stores: Hamming distance over packed words is a handful of XOR +
popcount instructions, and a bounded exact re-rank restores recall.

Determinism: the threshold is the per-dimension MIDRANGE (min+max)/2 — min
and max are order-independent (unlike a mean, whose summation order differs
between engines) and the halving is a single correctly-rounded IEEE-754 op,
so Spark and DuckDB derive bit-identical codes from the same parquet. That
makes the whole encode + Hamming top-k pipeline hash-checkable, unlike the
trained (k-means) families.

Scale shape: training is ONE combinable min/max aggregation (shared with
SQ8's ``sq_train``); encoding is a pure codegen projection (zip_with against
a literal threshold array, shift-accumulate into 32-bit words — no Python);
the declared Hamming top-k is XOR+popcount codegen with the tiny query side
broadcast; the Arrow path (``bq_search``) scores millions of codes per
batch via a uint8 popcount LUT and keeps the shuffle at queries x top-n,
then reuses the shared broadcast-candidate exact-refine tail.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

from vectordb_explorations_spark.operators.ann import collect_query_arrays
from vectordb_explorations_spark.operators.sq import sq_train

BQ_WORD_BITS = 32  # bits packed per BIGINT word: keeps every engine's
# integer math in signed-64 range (a 64-bit word would need the sign bit)

# ---- corpus-adaptive cascade shortlist (r7 verdict item 4) ----
# The 200k/1M probes measured the dim-64 saturation curve directly:
# at 200k a 1%-of-corpus shortlist (2000) holds cascade recall 0.95; at
# 1M the same 1% holds only 0.813, 3% gives 0.899 and 5% gives 0.931 —
# the shortlist must grow SUPER-linearly because in-cluster candidates
# grow with N while the 64-bit code space stays fixed, so true
# neighbors' Hamming ranks drift past any fixed fraction. The policy
# anchors on those measurements: fraction 1% at the 200k anchor, scaled
# by N/anchor past it (quadratic in N — at 1M that is 5%, the measured
# >=0.9 operating point). Past the crossover the resolved shortlist
# approaches the corpus itself — and at 10M the raw cascade is not slow
# but INFEASIBLE (measured: the Q x 5M-row candidate broadcast bursts
# spark.driver.maxResultSize on its first collect; SCALE_NOTES r10) —
# the honest signal that 1-bit codes at dim 64 stop paying: use SQ8 or
# IVF there (cascade_route does), or bring >=BQ_RANKER_MIN_DIM-bit
# codes where 1-bit Hamming can actually rank.
BQ_SHORTLIST_FLOOR = 2000
BQ_SHORTLIST_ANCHOR_N = 200_000
BQ_SHORTLIST_FRACTION = BQ_SHORTLIST_FLOOR / BQ_SHORTLIST_ANCHOR_N  # 1%
BQ_RANKER_MIN_DIM = 256
# Past this resolved stage-1 fraction the cascade's premise — "the 1-bit
# scan prunes so hard the 8-bit stage touches almost nothing" — is gone:
# stage 2 rescans a corpus-sized shortlist and the pipeline costs MORE
# than scanning 8-bit codes once. Measured at 1M/dim 64: the resolved
# 5% shortlist costs 23.4 s/batch at recall 0.931 while plain SQ8 serves
# 1.5 s at recall 1.0 (SCALE_NOTES r8/r9). The resolved fraction grows
# linearly in N (0.01 * N/200k), so 2% puts the routing crossover at
# N = 400k — between the 200k anchor (1% — cascade competitive) and 1M
# (5% — SQ8 dominates on both axes).
CASCADE_MAX_SHORTLIST_FRACTION = 0.02


def adaptive_shortlist(n: int) -> int:
    """Stage-1 shortlist that holds cascade recall >=0.9 as N grows
    (measured at 200k and 1M, SCALE_NOTES): floor below the anchor,
    super-linear n * frac * (n/anchor) past it."""
    return max(BQ_SHORTLIST_FLOOR,
               int(np.ceil(n * BQ_SHORTLIST_FRACTION
                           * max(1.0, n / BQ_SHORTLIST_ANCHOR_N))))


def _warn_shortlist_risk(shortlist: int, n: int, dim: int) -> None:
    import warnings
    need = adaptive_shortlist(n)
    if shortlist < need:
        warnings.warn(
            f"bq cascade shortlist={shortlist} is below the calibrated "
            f"{need} for N={n:,} at dim {dim} — at dim<"
            f"{BQ_RANKER_MIN_DIM} the 1-bit code is a PRE-FILTER, not a "
            f"ranker, and a fixed shortlist collapses recall as N grows "
            f"(measured 0.95@200k -> 0.618@1M at shortlist 2000). Pass "
            f"shortlist='auto' or accept degraded recall.",
            RuntimeWarning, stacklevel=3)

_POP8 = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None],
                      axis=1).sum(1).astype(np.uint8)


def bq_thresholds(vectors: DataFrame, dim: int,
                  vec_col: str = "embedding") -> np.ndarray:
    """Per-dimension midrange (min+max)/2 from ONE exact min/max scan."""
    mins, maxs = sq_train(vectors, dim, vec_col=vec_col)
    return (mins + maxs) / 2.0


def _pack_words(bits_col, dim: int):
    """Shift-accumulate a 0/1 LONG array into ceil(dim/32) packed words,
    MSB-first within each word: the bit for dimension d lands at position
    31 - (d % 32) of word d // 32 (0-based d). A trailing PARTIAL word is
    shifted up so its bits stay MSB-aligned — otherwise the fold leaves
    them LSB-aligned and every other packer (_encode_np, the unpack, the
    DuckDB oracle) disagrees for dims not divisible by 32."""
    n_words = (dim + BQ_WORD_BITS - 1) // BQ_WORD_BITS
    words = []
    for w in range(n_words):
        count = min(BQ_WORD_BITS, dim - w * BQ_WORD_BITS)
        folded = F.aggregate(F.slice(bits_col, w * BQ_WORD_BITS + 1, count),
                             F.lit(0).cast("long"),
                             lambda acc, b: acc * 2 + b)
        if count < BQ_WORD_BITS:
            folded = folded * F.lit(1 << (BQ_WORD_BITS - count)).cast("long")
        words.append(folded)
    return F.array(*words)


def bq_encode(vectors: DataFrame, thresholds: np.ndarray,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Encode to packed sign words entirely JVM-side: one zip_with against
    the literal threshold array yields the 0/1 bits, then a per-word
    shift-accumulate packs them — whole-stage codegen, no Python."""
    dim = len(thresholds)
    thr_lit = F.array(*[F.lit(float(t)) for t in thresholds])
    bits = F.zip_with(
        F.col(vec_col), thr_lit,
        lambda x, t: F.when(x.cast("double") > t, F.lit(1))
        .otherwise(F.lit(0)).cast("long"))
    return vectors.select(id_col, _pack_words(bits, dim).alias("words"))


def _hamming(a, b):
    """Codegen Hamming distance between two equal-length packed-word
    arrays: sum of popcounts of the per-word XORs."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"), lambda acc, v: acc + v).cast("int")


def bq_hamming_topk(vectors: DataFrame, n_queries: int, k: int, dim: int,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Declared (hash-checked) Hamming top-k: encode the corpus, take the
    first ``n_queries`` vectors' codes as the probe set, rank every vector
    per query by (hamming, id). The INGREDIENTS are scale-shaped —
    broadcast probe codes, XOR+popcount in codegen, one window exchange
    on query_id — but the ranking itself is a full N x Q scan per batch:
    the 10M probe measured the raw cascade's candidate broadcast bursting
    spark.driver.maxResultSize at that size, and the ROUTED cascade
    (``cascade_route``, 3.68 s at recall 1.0) is the actual scale path
    (SCALE_NOTES r10). This query's role is the deterministic oracle
    face: the midrange threshold is what lets DuckDB recompute the
    identical codes (unlike the k-means index families, which are
    recall-gated instead)."""
    thresholds = bq_thresholds(vectors, dim, vec_col=vec_col)
    codes = bq_encode(vectors, thresholds, id_col=id_col, vec_col=vec_col)
    qcodes = (codes.orderBy(F.col(id_col).asc()).limit(n_queries)
              .select(F.col(id_col).alias("query_id"),
                      F.col("words").alias("qwords")))
    scored = (codes.crossJoin(F.broadcast(qcodes))
              .select("query_id", id_col,
                      _hamming(F.col("words"), F.col("qwords"))
                      .alias("hamming")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", id_col, "hamming", "rank")
            .orderBy("query_id", "rank"))


def bq_hamming_topk_oracle(n_queries: int, k: int, table: str = "embeddings",
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> str:
    """DuckDB twin: midrange thresholds, sign bits, shift-weighted sums
    into the same MSB-first 32-bit words, Hamming via bit_count(xor).
    SUMs cast to BIGINT/INT (DuckDB promotes SUM(BIGINT) to HUGEINT,
    which the driver's typed hash cannot represent)."""
    return f"""
WITH e AS (
  SELECT {id_col}, generate_subscripts({vec_col}, 1) AS pos,
         CAST(unnest({vec_col}) AS DOUBLE) AS v
  FROM {table}
),
thr AS (SELECT pos, (min(v) + max(v)) / 2.0 AS t FROM e GROUP BY pos),
bits AS (
  SELECT e.{id_col}, e.pos,
         CASE WHEN e.v > thr.t THEN CAST(1 AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS b
  FROM e JOIN thr ON e.pos = thr.pos
),
words AS (
  -- (pos-1) // n is DuckDB INTEGER division; a CAST of (pos-1)/n would
  -- round-to-nearest the float quotient and mis-bucket positions 17..47
  SELECT {id_col}, CAST((pos - 1) // {BQ_WORD_BITS} AS INT) AS w,
         CAST(SUM(b << ({BQ_WORD_BITS - 1} - ((pos - 1) % {BQ_WORD_BITS})))
              AS BIGINT) AS word
  FROM bits GROUP BY {id_col}, CAST((pos - 1) // {BQ_WORD_BITS} AS INT)
),
q AS (SELECT {id_col} AS query_id FROM {table}
      ORDER BY {id_col} LIMIT {n_queries}),
qw AS (SELECT q.query_id, w.w, w.word AS qword
       FROM words w JOIN q ON w.{id_col} = q.query_id),
ham AS (
  SELECT qw.query_id, w.{id_col},
         CAST(SUM(bit_count(xor(w.word, qw.qword))) AS INT) AS hamming
  FROM words w JOIN qw ON w.w = qw.w
  GROUP BY qw.query_id, w.{id_col}
)
SELECT query_id, {id_col}, hamming,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY hamming ASC, {id_col} ASC) AS INTEGER)
         AS rank
FROM ham
QUALIFY rank <= {k}
ORDER BY query_id, rank
"""


def bq_levels(vectors: DataFrame, thresholds: np.ndarray,
              vec_col: str = "embedding") -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension two-level reconstruction values for ASYMMETRIC search:
    the mean of the values below (lo) and above (hi) each threshold, from
    one combinable conditional aggregation. Means are summation-order
    dependent across engines — fine here because the asymmetric path is
    recall-gated, never hash-checked (the declared query is the
    deterministic Hamming ranking)."""
    dim = len(thresholds)
    thr_lit = F.array(*[F.lit(float(t)) for t in thresholds])
    e = (vectors
         .select(F.posexplode(vec_col).alias("pos", "v0"))
         .select("pos", F.col("v0").cast("double").alias("v"),
                 F.element_at(thr_lit, F.col("pos") + 1).alias("t")))
    rows = (e.groupBy("pos")
            .agg(F.avg(F.when(F.col("v") <= F.col("t"), F.col("v"))).alias("lo"),
                 F.avg(F.when(F.col("v") > F.col("t"), F.col("v"))).alias("hi"))
            .collect())
    assert len(rows) == dim, (len(rows), dim)
    lo = thresholds.copy()
    hi = thresholds.copy()
    for r in rows:  # degenerate sides (all values on one side) keep the midrange
        if r["lo"] is not None:
            lo[r["pos"]] = r["lo"]
        if r["hi"] is not None:
            hi[r["pos"]] = r["hi"]
    return lo, hi


def _unpack_bits_np(words: np.ndarray, dim: int) -> np.ndarray:
    """(N, W) packed int64 words -> (N, dim) float64 0/1 bits, inverting
    the MSB-first layout of :func:`_pack_words`."""
    shifts = np.arange(BQ_WORD_BITS - 1, -1, -1, dtype=np.int64)
    bits = (words[:, :, None] >> shifts[None, None, :]) & 1  # (N, W, 32)
    return bits.reshape(words.shape[0], -1)[:, :dim].astype(np.float64)


def _encode_np(mat: np.ndarray, thresholds: np.ndarray) -> np.ndarray:
    """NumPy twin of bq_encode for the query side / tests: (N, n_words)
    int64 packed words, identical bit layout."""
    bits = (mat > thresholds).astype(np.int64)  # (N, dim)
    dim = thresholds.shape[0]
    n_words = (dim + BQ_WORD_BITS - 1) // BQ_WORD_BITS
    out = np.zeros((mat.shape[0], n_words), dtype=np.int64)
    for d in range(dim):
        out[:, d // BQ_WORD_BITS] |= (
            bits[:, d] << (BQ_WORD_BITS - 1 - (d % BQ_WORD_BITS)))
    return out


def bq_search(codes_df: DataFrame, thresholds: np.ndarray, queries: DataFrame,
              k: int, refine_with: DataFrame | None = None,
              refine_factor: int = 10,
              levels: tuple[np.ndarray, np.ndarray] | None = None,
              id_col: str = "vec_id", vec_col: str = "embedding",
              qid_col: str = "query_id", qvec_col: str = "query_vec") -> DataFrame:
    """Arrow scale path over the packed codes. Two scorers:

    - symmetric (``levels=None``): XOR the packed corpus words against every
      query's packed words and popcount via a uint8 LUT — the pure Hamming
      shortlist.
    - asymmetric (``levels=(lo, hi)`` from :func:`bq_levels`): score the
      FLOAT query against each code's two-level reconstruction,
      ``score = sum_d (q_d - level[bit_d, d])^2``, computed as a rank-1
      base plus a {0,1}-matrix GEMM. At the fixtures this lifts refined
      recall@10 from 0.78 to ~0.95 at the same shortlist size — the
      standard reason vector stores pair 1-bit codes with asymmetric
      distance.

    Either way each partition keeps a local top-n pool and a window merge
    ranks globally. Without ``refine_with`` the result is that lazy
    frame (distance column ``bq_dist``). With it the top k*refine_factor
    candidates per query (at most Q·k·refine_factor rows) are collected
    and re-scored exactly by the shared refine tail
    (``pq._exact_refine``), which returns a local frame."""
    import pandas as pd

    dim = len(thresholds)
    qids, qmat = collect_query_arrays(queries, qid_col, qvec_col, dim)
    n_local = k * refine_factor if refine_with is not None else k

    if levels is None:
        qwords = _encode_np(qmat, thresholds)  # (Q, W)
        base = delta = None
    else:
        lo, hi = levels
        c0 = (qmat - lo[None, :]) ** 2  # (Q, dim)
        c1 = (qmat - hi[None, :]) ** 2
        base = c0.sum(-1)               # (Q,)
        delta = c1 - c0                 # (Q, dim)
        qwords = None

    schema = T.StructType([
        T.StructField(qid_col, T.LongType()),
        T.StructField(id_col, T.LongType()),
        T.StructField("bq_dist", T.DoubleType()),
    ])

    def score(batches):
        acc_i, acc_d = [], []
        for pdf in batches:
            if pdf.empty:
                continue
            words = np.asarray(list(pdf["words"]), dtype=np.int64)  # (N, W)
            ids = pdf[id_col].to_numpy()
            if levels is None:
                d = np.zeros((qwords.shape[0], words.shape[0]), dtype=np.int32)
                for w in range(qwords.shape[1]):
                    x = np.bitwise_xor(qwords[:, w, None], words[None, :, w])
                    d = d + _POP8[x.view(np.uint8).reshape(*x.shape, 8)].sum(
                        -1, dtype=np.int32)
                d = d.astype(np.float64)
            else:
                bits = _unpack_bits_np(words, dim)          # (N, dim)
                d = base[:, None] + delta @ bits.T          # (Q, N)
            top = min(n_local, d.shape[1])
            part = np.argpartition(d, top - 1, axis=1)[:, :top]
            acc_i.append(ids[part])
            acc_d.append(np.take_along_axis(d, part, axis=1))
        if not acc_i:
            return
        ii = np.concatenate(acc_i, axis=1)
        dd = np.concatenate(acc_d, axis=1)
        top = min(n_local, ii.shape[1])
        part = np.argpartition(dd, top - 1, axis=1)[:, :top]
        yield pd.DataFrame({
            qid_col: np.repeat(qids, top),
            id_col: np.take_along_axis(ii, part, axis=1).ravel(),
            "bq_dist": np.take_along_axis(dd, part, axis=1).ravel(),
        })

    local = codes_df.mapInPandas(score, schema=schema)
    wloc = Window.partitionBy(qid_col).orderBy(
        F.col("bq_dist").asc(), F.col(id_col).asc())
    if refine_with is None:
        return (local.withColumn("rank", F.row_number().over(wloc))
                .where(F.col("rank") <= k)
                .select(qid_col, id_col, "bq_dist", "rank"))
    cand = (local.withColumn("r", F.row_number().over(wloc))
            .where(F.col("r") <= k * refine_factor)
            .select(qid_col, id_col))
    from vectordb_explorations_spark.operators.pq import _exact_refine
    return _exact_refine(cand, qids, qmat, refine_with, k, qmat.shape[1],
                         id_col, vec_col, qid_col)


def bq_cascade_search(bq_codes: DataFrame, thresholds: np.ndarray,
                      levels: tuple[np.ndarray, np.ndarray],
                      sq_codes: DataFrame, mins: np.ndarray, maxs: np.ndarray,
                      queries: DataFrame, k: int, refine_with: DataFrame,
                      shortlist: int | str = BQ_SHORTLIST_FLOOR,
                      midlist: int = 100,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      qid_col: str = "query_id",
                      qvec_col: str = "query_vec",
                      corpus_n: int | None = None) -> DataFrame:
    """Three-stage cascade — the shape that makes 1-bit codes useful at
    scale. Measured at 200k (clustered corpus): single-stage BQ1 recall
    saturates slowly (rf=20 -> 0.376, shortlist 1% of corpus -> 0.70 —
    64 bits cannot rank a large clustered corpus), but as a FIRST-stage
    filter it only needs the true neighbors inside a wide shortlist:

        stage 1: asymmetric 1-bit scan     -> ``shortlist`` per query
        stage 2: SQ8 rescore, shortlist only -> ``midlist`` * k / 10
        stage 3: exact re-rank of the midlist

    Stage 2 scores ONLY shortlist rows (broadcast-candidate join against
    the SQ8 codes — the corpus code table never shuffles), so the 8-bit
    cost is paid on shortlist/N of the data while the full scan stays at
    1 bit/dim. Candidate volume is Q*shortlist -> Q*midlist -> Q*k:
    corpus-independent after stage 1. Stage 3 collects the Q*midlist
    candidates and re-scores them in one pass over ``refine_with``
    (``pq._exact_refine``); the result is a local frame.

    ``shortlist='auto'`` resolves from the corpus size at the measured
    >=0.9-recall curve (super-linear in N — see adaptive_shortlist; the
    1M probe: 5% = 50000 holds 0.931 where the fixed 2000 collapsed to
    0.618). A fixed shortlist below that curve emits a loud
    RuntimeWarning: at dim<256 the 1-bit code is a pre-filter whose
    shortlist must track N, enforced by code rather than prose."""
    import pandas as pd

    dim = len(thresholds)
    qids, qmat = collect_query_arrays(queries, qid_col, qvec_col, dim)
    qvecs = {int(q): v for q, v in zip(qids, qmat)}
    if dim < BQ_RANKER_MIN_DIM:
        # the pre-filter regime: shortlist adequacy depends on N (count
        # memoized per code table — never one job per search call)
        from vectordb_explorations_spark.operators.pq import _corpus_rows
        n_corpus = (corpus_n if corpus_n is not None
                    else _corpus_rows(bq_codes, 1))
        if shortlist == "auto":
            shortlist = adaptive_shortlist(n_corpus)
        else:
            shortlist = int(shortlist)
            _warn_shortlist_risk(shortlist, n_corpus, dim)
    elif shortlist == "auto":
        shortlist = BQ_SHORTLIST_FLOOR
    scales = np.where((maxs - mins) > 0, (maxs - mins) / 255.0, 0.0)

    # stage 1 IS bq_search's no-refine asymmetric path with k=shortlist —
    # one scoring kernel to maintain, not two
    cand1 = (bq_search(bq_codes, thresholds, queries, shortlist,
                       levels=levels, id_col=id_col, vec_col=vec_col,
                       qid_col=qid_col, qvec_col=qvec_col)
             .select(qid_col, id_col))

    # stage 2: SQ8 rescoring of the shortlist only — broadcast the bounded
    # candidate side so the corpus code table never shuffles
    with_codes = (sq_codes.join(F.broadcast(cand1), id_col)
                  .select(qid_col, id_col, "codes"))

    s2_schema = T.StructType([
        T.StructField(qid_col, T.LongType()),
        T.StructField(id_col, T.LongType()),
        T.StructField("sq_dist", T.DoubleType()),
    ])

    def stage2(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            out_q, out_i, out_d = [], [], []
            for q, grp in pdf.groupby(qid_col):
                deq = (np.asarray(list(grp["codes"]), dtype=np.float64)
                       * scales + mins)
                diff = deq - qvecs[int(q)][None, :]
                d2 = (diff * diff).sum(-1)
                out_q.append(np.full(len(grp), q, dtype=np.int64))
                out_i.append(grp[id_col].to_numpy())
                out_d.append(np.sqrt(np.maximum(d2, 0.0)))
            yield pd.DataFrame({
                qid_col: np.concatenate(out_q),
                id_col: np.concatenate(out_i),
                "sq_dist": np.concatenate(out_d),
            })

    rescored = with_codes.mapInPandas(stage2, schema=s2_schema)
    w2 = Window.partitionBy(qid_col).orderBy(
        F.col("sq_dist").asc(), F.col(id_col).asc())
    cand2 = (rescored.withColumn("r", F.row_number().over(w2))
             .where(F.col("r") <= midlist)
             .select(qid_col, id_col))

    from vectordb_explorations_spark.operators.pq import _exact_refine
    return _exact_refine(cand2, qids, qmat, refine_with, k, dim,
                         id_col, vec_col, qid_col)


def cascade_route(n: int, dim: int) -> str:
    """Serving-family routing decision for a BQ1+SQ8 artifact pair:
    ``'cascade'`` while the resolved stage-1 shortlist stays a small
    corpus fraction, ``'sq8'`` once it crosses
    CASCADE_MAX_SHORTLIST_FRACTION — the measured point where the 1-bit
    pre-filter stops paying for itself (1M/dim 64: cascade 23.4 s/batch
    at recall 0.931 vs SQ8 1.5 s at 1.0). At dim >= BQ_RANKER_MIN_DIM
    the 1-bit code ranks on its own, the shortlist stays at the floor,
    and the cascade premise holds at any N.

    Routing, not warning (r8 verdict item 5): ``bq_cascade_search``
    still serves a caller who asks for the cascade by name — this is
    the policy the AUTO entry point consults before the cliff."""
    if dim >= BQ_RANKER_MIN_DIM:
        return "cascade"
    frac = adaptive_shortlist(int(n)) / max(1, int(n))
    return "cascade" if frac <= CASCADE_MAX_SHORTLIST_FRACTION else "sq8"


def bq_cascade_search_auto(bq_codes: DataFrame, thresholds: np.ndarray,
                           levels: tuple[np.ndarray, np.ndarray],
                           sq_codes: DataFrame,
                           mins: np.ndarray, maxs: np.ndarray,
                           queries: DataFrame, k: int,
                           refine_with: DataFrame,
                           midlist: int = 100,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           qid_col: str = "query_id",
                           qvec_col: str = "query_vec",
                           corpus_n: int | None = None) -> DataFrame:
    """Family-routed serving over the cascade's own artifacts: consult
    ``cascade_route`` and serve the cascade while its shortlist economics
    hold, else fall through to plain SQ8 (same artifacts — the sq_codes
    table plus extents ARE stage 2) with the corpus-adaptive exact-refine
    policy. The caller keeps one entry point; the engine steps off the
    super-linear shortlist curve before it becomes a corpus rescan
    instead of warning from inside it."""
    from vectordb_explorations_spark.operators.pq import _corpus_rows
    n = corpus_n if corpus_n is not None else _corpus_rows(bq_codes, 1)
    if cascade_route(n, len(thresholds)) == "sq8":
        from vectordb_explorations_spark.operators.sq import sq_search
        return sq_search(sq_codes, mins, maxs, queries, k,
                         refine_with=refine_with, refine_factor=3,
                         id_col=id_col, vec_col=vec_col,
                         qid_col=qid_col, qvec_col=qvec_col)
    return bq_cascade_search(bq_codes, thresholds, levels, sq_codes,
                             mins, maxs, queries, k, refine_with,
                             shortlist="auto", midlist=midlist,
                             id_col=id_col, vec_col=vec_col,
                             qid_col=qid_col, qvec_col=qvec_col,
                             corpus_n=n)
