"""Multi-vector (late-interaction) retrieval: MaxSim over per-chunk
embeddings — the ColBERT-style serving shape (Khattab & Zaharia 2020)
where a document is represented by MANY vectors (one per context-window
chunk) and a query by one vector per term, scored as

    score(q, doc) = sum over query terms t of
                    max over doc chunks c of cos(e_t, e_c)

The reference indexes exactly one vector per point (hnsw.cc:96-112 — a
Node holds a single `Vector vec`); chunked multi-vector retrieval is the
modern extension a long-document corpus needs: a relevant passage buried
in a long page wins via its own chunk's max instead of being averaged
away in a whole-document embedding.

Everything is deterministic and hash-checked:

- chunking reuses the ``doc_chunks`` window contract (sampling.py:
  CHUNK_WIN/CHUNK_STRIDE — overlapping fixed-width token windows, last
  window short) over the SHARED tokenizer (functions/text.py);
- per-chunk embeddings reuse the hashing-trick featurizer formula
  (featurize.py: md5 -> dim, md5 -> sign, exact INTEGER weights, norm =
  sqrt of an integer sum), so every float in the pipeline derives from
  exact integers via IEEE sqrt/divide/multiply — bit-identical across
  Spark and DuckDB;
- query-term embeddings are tiny and computed DRIVER-SIDE with hashlib
  (the identical md5 formula), inlined as literal rows into BOTH
  engines — the query side cannot drift by construction;
- per-term contributions are summed via an EXPLICIT left-to-right
  ``greatest(coalesce(...)) + ...`` fold (the hybrid.py discipline:
  group-aggregate float sums are order-nondeterministic across engines;
  a written-out c0 + c1 + c2 is not), then binary-6dp rounded.

Scale shape (the 100 TB story): ONE corpus scan explodes chunks->tokens
(fan-out = tokens/doc x win/stride overlap, the same budget as every
shingling op), one combinable (doc, chunk, dim) integer-sum exchange,
then the query side — O(terms x dims), bytes — BROADCASTS onto the
chunk weights, so the dot-product join is shuffle-free on the corpus
side; the per-(query, term) candidate window carries a partial
WindowGroupLimit (rank <= CAND_PER_TERM pushes the top-C into the map
side), so the exchange after scoring is O(queries x terms x C), never
corpus-sized; the final MaxSim re-score touches only candidate docs'
sim rows. At real scale the candidate stage is where an ANN prefilter
plugs in — band/route the CHUNK embeddings with the existing LSH/IVF
families (ann.py) and feed only banded candidates into the sparse dot;
the MaxSim aggregation shape is unchanged (SCALE_NOTES r11).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window, functions as F

from vectordb_explorations_spark.functions.rounding import r6, round6
from vectordb_explorations_spark.functions.text import TOKENS_SQL
from vectordb_explorations_spark.operators.featurize import HASH_DIM
from vectordb_explorations_spark.operators.sampling import (
    CHUNK_STRIDE, CHUNK_WIN)
from vectordb_explorations_spark.sources import substrate

# (query_id, phrases). Each phrase is one late-interaction "query term":
# its embedding is the hashed-trick vector of ITS OWN tokens (2 tokens ->
# <=2 non-zero dims), so terms are genuinely multi-dimensional, not
# one-hot. Phrases use the synthetic fixture vocabulary; 'dup' is the
# rare token (df ~5% of docs), exercising the selective-term branch.
MAXSIM_QUERIES: tuple[tuple[int, tuple[str, ...]], ...] = (
    (0, ("vector scan", "hash join", "merge sort")),
    (1, ("stream batch", "window agg", "spark query")),
    (2, ("slow filter", "fast key", "dup table")),
)
TERMS_PER_QUERY = 3
MAXSIM_TOP = 10

# Candidate-bound auto policy (the LSH bucket-cap / HNSW probe-fraction
# discipline): a FIXED per-term chunk-candidate cap decays as the corpus
# grows — more chunks compete for the same top-C slots, and docs whose
# per-chunk sims are individually modest but SUM high across terms fall
# out. Measured recall@10 of the bounded face vs the unbounded MaxSim:
# cap=50 -> 0.967 at 5k docs, 0.600 at 50k docs; cap=200 -> 1.000 at
# BOTH. 'auto' holds the candidate FRACTION at the 200/50k = 0.4%
# operating point with the 200 floor, so the geometry the calibration
# measured is preserved as the corpus scales.
CAND_PER_TERM = "auto"
MAXSIM_CAND_FLOOR = 200
MAXSIM_CAND_FRACTION = 200 / 50_000


def adaptive_cand_per_term(n_docs: int) -> int:
    """Corpus-size-aware per-term candidate cap: never below the
    calibrated floor, growing linearly past floor/fraction docs."""
    import math
    return max(MAXSIM_CAND_FLOOR,
               int(math.ceil(n_docs * MAXSIM_CAND_FRACTION)))


def _warn_cand_recall_risk(cap: int, n_docs: int) -> None:
    import warnings
    if n_docs > 0 and cap < n_docs * MAXSIM_CAND_FRACTION:
        warnings.warn(
            f"maxsim cand_per_term={cap} is below the calibrated "
            f"{MAXSIM_CAND_FRACTION:.2%} candidate fraction at "
            f"N={n_docs:,} docs — the bounded face's recall vs unbounded "
            f"MaxSim decays with N at a fixed cap (measured 0.967 -> "
            f"0.600 from 5k to 50k docs at cap=50). Pass "
            f"cand_per_term='auto' (resolves to "
            f"{adaptive_cand_per_term(n_docs)}) or accept degraded "
            f"recall.", RuntimeWarning, stacklevel=3)


def _hash_tok(tok: str) -> tuple[int, int]:
    """(dim_id, sign) of one token — the featurize.py formula, computed
    driver-side: dim = first 8 md5 hex digits mod HASH_DIM, sign = parity
    of the 9th hex digit. hashlib md5 of an ascii token == Spark F.md5 ==
    DuckDB md5, so inlining these as literals cannot drift."""
    h = hashlib.md5(tok.encode()).hexdigest()
    return int(h[:8], 16) % HASH_DIM, 1 if int(h[8], 16) % 2 == 0 else -1


def _term_weight_rows(
    queries: tuple[tuple[int, tuple[str, ...]], ...] = MAXSIM_QUERIES,
) -> list[tuple[int, int, int, int, int]]:
    """(query_id, term_id, dim_id, w, qssq) literal rows: exact integer
    signed-hash weights of each phrase's tokens (zero-sum dims dropped)
    plus the term's integer squared norm, repeated per weight row so
    both engines read it off the same literal."""
    out: list[tuple[int, int, int, int, int]] = []
    for qid, phrases in queries:
        for tid, phrase in enumerate(phrases):
            w: dict[int, int] = {}
            for tok in phrase.lower().split():
                d, s = _hash_tok(tok)
                w[d] = w.get(d, 0) + s
            w = {d: v for d, v in w.items() if v != 0}
            qssq = sum(v * v for v in w.values())
            for d in sorted(w):
                out.append((qid, tid, d, w[d], qssq))
    return out


def _chunk_weights(docs: DataFrame, win: int, stride: int) -> DataFrame:
    """(doc_id, chunk_id, dim_id, w): exact integer signed-hash weights
    per overlapping token chunk — the doc_chunks window contract over
    the shared tokenizer, then the featurize.py hash. One explode chain,
    one combinable integer-sum exchange."""
    from vectordb_explorations_spark.functions.text import whitespace_tokens
    toks = docs.select("doc_id", whitespace_tokens("text").alias("ws"))
    n = F.size("ws")
    n_chunks = (F.lit(1) + F.greatest(
        F.lit(0),
        F.ceil((n - F.lit(win)).cast("double") / F.lit(stride)))).cast("int")
    ck = F.slice("ws", F.col("chunk_id") * stride + 1, win)
    ct = (toks
          .withColumn("chunk_id", F.explode(F.sequence(F.lit(0),
                                                       n_chunks - 1)))
          .select("doc_id", "chunk_id", F.explode(ck).alias("tok")))
    h = F.md5(F.col("tok"))
    dim_id = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
              % HASH_DIM).cast("int")
    sign = (F.when(F.conv(F.substring(h, 9, 1), 16, 10).cast("long") % 2 == 0,
                   F.lit(1)).otherwise(F.lit(-1)).cast("long"))
    return (ct.select("doc_id", "chunk_id", dim_id.alias("dim_id"),
                      sign.alias("sign"))
            .groupBy("doc_id", "chunk_id", "dim_id")
            .agg(F.sum("sign").alias("w"))
            .where(F.col("w") != 0))


def maxsim_chunk_topk(docs: DataFrame,
                      queries: tuple[tuple[int, tuple[str, ...]], ...]
                      = MAXSIM_QUERIES,
                      win: int = CHUNK_WIN, stride: int = CHUNK_STRIDE,
                      cand_per_term: int | str = CAND_PER_TERM,
                      top: int = MAXSIM_TOP,
                      corpus_n: int | None = None) -> DataFrame:
    """Late-interaction top-k: (query_id, doc_id, score, rank).

    Stages: chunk weights (one corpus scan) -> broadcast the literal
    term weights onto the shared-dim rows -> exact-integer dot per
    (query, term, doc, chunk) -> cosine via sqrt-of-integer norms ->
    per-(query, term) top-``cand_per_term`` chunks nominate candidate
    docs (the bounding stage; at 100 TB an ANN prefilter replaces the
    full sparse scan, module docstring) -> MaxSim rescoring of candidate
    docs only, summed over terms with an explicit left-to-right fold, a
    term with no shared-dim chunk (or only negative sims) contributing
    0.0 (cos vs an orthogonal chunk) -> top-``top`` docs per query by
    (score desc, doc_id).

    ``cand_per_term='auto'`` (default) resolves the bound from the
    corpus size at the calibrated candidate fraction (policy block at
    the top of the module); pass ``corpus_n`` (metadata the caller
    already holds) to make the resolution job-free — the count fallback
    is paid only by callers that never measured N. A fixed int below the
    fraction warns instead of silently degrading."""
    n = corpus_n if corpus_n is not None else docs.count()
    if cand_per_term == "auto":
        cand_per_term = adaptive_cand_per_term(n)
    else:
        _warn_cand_recall_risk(int(cand_per_term), n)
    return _maxsim_from_weights(
        docs.sparkSession, _chunk_weights(docs, win, stride), queries,
        cand_per_term=int(cand_per_term), top=top)


def _maxsim_from_weights(spark, cw_raw: DataFrame,
                         queries: tuple[tuple[int, tuple[str, ...]], ...],
                         cands: DataFrame | None = None,
                         cand_per_term: int = MAXSIM_CAND_FLOOR,
                         top: int = MAXSIM_TOP) -> DataFrame:
    """The scoring half, shared by every MaxSim face (exact, banded,
    persisted-substrate): takes the (doc_id, chunk_id, dim_id, w) weights
    frame and either a candidate (query_id, doc_id) frame (ANN-prefilter
    faces) or a per-term rank-window bound (exact face).

    cssq rides a window over the SAME grouped frame instead of a second
    groupBy + join: the join shape re-scanned the whole chunk-weight
    subtree (tokenize + explode + md5 — the corpus scan is the
    expensive stage; the _duplicated_windows lesson). Like-for-like
    A/B at sf0.1: ~1.98 s (join) vs ~1.75 s (window) median-of-3; the
    structural win is ONE corpus scan instead of two, which is what
    matters at 100 TB. cssq is constant per (doc, chunk), so it rides
    the dot groupBy as a KEY."""
    qw = spark.createDataFrame(
        _term_weight_rows(queries),
        "query_id int, term_id int, dim_id int, wq long, qssq long")

    if cands is not None:
        # broadcast the BOUNDED candidate-doc set (<= queries x cand
        # pool rows): the weights side then filters in place instead of
        # shuffling the whole corpus-sized weight table into a
        # sort-merge semi-join — the exchange that follows (the cssq
        # window) carries only the surviving candidates' rows
        cw_raw = cw_raw.join(F.broadcast(cands.select("doc_id")
                                         .distinct()),
                             "doc_id", "left_semi")
    w_chunk = Window.partitionBy("doc_id", "chunk_id")
    cw = cw_raw.withColumn("cssq",
                           F.sum(F.col("w") * F.col("w")).over(w_chunk))

    dot = (cw.join(F.broadcast(qw), "dim_id")
           .groupBy("query_id", "term_id", "qssq",
                    "doc_id", "chunk_id", "cssq")
           .agg(F.sum(F.col("w") * F.col("wq")).alias("dot")))
    sims = (dot
            .select("query_id", "term_id", "doc_id", "chunk_id",
                    (F.col("dot").cast("double")
                     / (F.sqrt(F.col("qssq").cast("double"))
                        * F.sqrt(F.col("cssq").cast("double"))))
                    .alias("sim")))

    if cands is None:
        w_term = (Window.partitionBy("query_id", "term_id")
                  .orderBy(F.col("sim").desc(), "doc_id", "chunk_id"))
        cands = (sims
                 .withColumn("rk", F.row_number().over(w_term))
                 .where(F.col("rk") <= cand_per_term)
                 .select("query_id", "doc_id").distinct())

    n_terms = max(len(p) for _, p in queries)
    mx = [F.max(F.when(F.col("term_id") == t, F.col("sim"))).alias(f"mx{t}")
          for t in range(n_terms)]
    contrib = [F.greatest(F.coalesce(F.col(f"mx{t}"), F.lit(0.0)), F.lit(0.0))
               for t in range(n_terms)]
    score = contrib[0]
    for c in contrib[1:]:
        score = score + c

    w_q = Window.partitionBy("query_id").orderBy(F.col("score").desc(),
                                                 "doc_id")
    # broadcast semi again: moves the candidate filter BELOW the
    # (query_id, doc_id) exchange feeding the MaxSim aggregate, so the
    # shuffle carries candidate rows only, never the full sims frame
    return (sims.join(F.broadcast(cands), ["query_id", "doc_id"],
                      "left_semi")
            .groupBy("query_id", "doc_id")
            .agg(*mx)
            .select("query_id", "doc_id", score.alias("score"))
            .withColumn("rank", F.row_number().over(w_q))
            .where(F.col("rank") <= top)
            .select("query_id", "doc_id", round6(F.col("score")).alias("score"),
                    "rank")
            .orderBy("query_id", "rank"))


def maxsim_chunk_topk_oracle(
        queries: tuple[tuple[int, tuple[str, ...]], ...] = MAXSIM_QUERIES,
        win: int = CHUNK_WIN, stride: int = CHUNK_STRIDE,
        cand_per_term: int | str = CAND_PER_TERM,
        top: int = MAXSIM_TOP) -> str:
    """DuckDB twin sharing the chunking CTEs (the doc_chunks_oracle
    slicing over the shared-tokenizer list) and the literal term weights
    (the same _term_weight_rows the Spark side inlines).
    ``cand_per_term='auto'`` resolves the SAME floor/fraction policy the
    Spark side uses, as a scalar subquery over the corpus — both engines
    derive the identical cap from the identical count."""
    if cand_per_term == "auto":
        cand_per_term = (
            f"(SELECT greatest({MAXSIM_CAND_FLOOR}, CAST(ceil(count(*) * "
            f"{MAXSIM_CAND_FRACTION!r}) AS BIGINT)) FROM documents)")
    qw_rows = ", ".join(f"({q}, {t}, {d}, {w}, {s})"
                        for q, t, d, w, s in _term_weight_rows(queries))
    toks = TOKENS_SQL.format(col="text")
    n_terms = max(len(p) for _, p in queries)
    score = " + ".join(
        f"greatest(coalesce(max(CASE WHEN term_id = {t} THEN sim END), "
        f"0.0), 0.0)" for t in range(n_terms))
    return f"""
WITH qw(query_id, term_id, dim_id, wq, qssq) AS (VALUES {qw_rows}),
s AS (SELECT doc_id, {toks} AS ws FROM documents),
c AS (
  SELECT doc_id, ws,
         1 + greatest(0, CAST(ceil((len(ws) - {win})::DOUBLE / {stride})
                              AS INT)) AS n_chunks
  FROM s
), e AS (
  SELECT doc_id, ws, unnest(generate_series(0, n_chunks - 1)) AS chunk_id
  FROM c
), ct AS (
  SELECT doc_id, chunk_id,
         unnest(ws[chunk_id * {stride} + 1 :
                   chunk_id * {stride} + {win}]) AS tok
  FROM e
), h AS (
  SELECT doc_id, chunk_id,
         CAST(CAST(CAST('0x' || substring(md5(tok), 1, 8) AS UBIGINT)
                   % {HASH_DIM} AS BIGINT) AS INTEGER) AS dim_id,
         CASE WHEN CAST('0x' || substring(md5(tok), 9, 1) AS UBIGINT) % 2 = 0
              THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS sign
  FROM ct
), cw AS (
  SELECT doc_id, chunk_id, dim_id, CAST(SUM(sign) AS BIGINT) AS w
  FROM h GROUP BY doc_id, chunk_id, dim_id
  HAVING CAST(SUM(sign) AS BIGINT) <> 0
), cn AS (
  SELECT doc_id, chunk_id, SUM(w * w) AS cssq
  FROM cw GROUP BY doc_id, chunk_id
), dot AS (
  SELECT q.query_id, q.term_id, q.qssq, cw.doc_id, cw.chunk_id,
         SUM(cw.w * q.wq) AS dot
  FROM cw JOIN qw q ON cw.dim_id = q.dim_id
  GROUP BY 1, 2, 3, 4, 5
), sims AS (
  SELECT d.query_id, d.term_id, d.doc_id, d.chunk_id,
         CAST(d.dot AS DOUBLE)
           / (sqrt(CAST(d.qssq AS DOUBLE)) * sqrt(CAST(n.cssq AS DOUBLE)))
           AS sim
  FROM dot d JOIN cn n ON d.doc_id = n.doc_id AND d.chunk_id = n.chunk_id
), cands AS (
  SELECT DISTINCT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id, term_id
                              ORDER BY sim DESC, doc_id, chunk_id) AS rk
    FROM sims
  ) WHERE rk <= {cand_per_term}
), scored AS (
  SELECT s.query_id, s.doc_id, {score} AS score
  FROM sims s JOIN cands c
    ON s.query_id = c.query_id AND s.doc_id = c.doc_id
  GROUP BY s.query_id, s.doc_id
)
SELECT query_id, doc_id, {r6('score')} AS score, rank FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= {top}
ORDER BY query_id, rank
"""


# ---- the 100 TB candidate path: ANN-prefiltered MaxSim ----

MAXSIM_LSH_TABLES = 8
MAXSIM_LSH_PLANES = 6
MAXSIM_LSH_SEED = 42


def chunk_embeddings(docs: DataFrame,
                     win: int = CHUNK_WIN,
                     stride: int = CHUNK_STRIDE) -> DataFrame:
    """(doc_id, chunk_id, cid, embedding ARRAY<DOUBLE> len HASH_DIM):
    dense L2-normalized per-chunk vectors from the sparse chunk weights
    (the featurize.hashed_embeddings densify, per chunk). ``cid`` packs
    (doc_id, chunk_id) into one long so the chunk table plugs directly
    into every (id, vector) index builder in the engine — ANN over
    chunks is the multi-vector serving substrate. Chunks whose signs
    fully cancel (no direction) are dropped here: an index cannot route
    a zero vector, and MaxSim scores them 0 anyway."""
    return _densify_chunk_weights(_chunk_weights(docs, win, stride))


def _densify_chunk_weights(cw: DataFrame) -> DataFrame:
    """Dense unit-norm chunk vectors FROM a (doc_id, chunk_id, dim_id, w)
    weights frame — factored out so the substrate build can derive the
    index from the already-written weights table instead of paying a
    second tokenize+md5 corpus scan (maxsim_persist)."""
    dense = (cw.groupBy("doc_id", "chunk_id")
             .agg(F.map_from_entries(
                 F.collect_list(F.struct("dim_id", "w"))).alias("m"),
                 F.sum(F.col("w") * F.col("w")).alias("ssq")))
    arr = F.transform(
        F.sequence(F.lit(0), F.lit(HASH_DIM - 1)),
        lambda i: F.coalesce(F.element_at(F.col("m"), i.cast("int")),
                             F.lit(0).cast("long")).cast("double")
        / F.sqrt(F.col("ssq").cast("double")))
    return dense.select(
        "doc_id", "chunk_id",
        (F.col("doc_id") * F.lit(CHUNK_ID_STRIDE)
         + F.col("chunk_id")).alias("cid"),
        arr.alias("embedding"))


# cid = doc_id * CHUNK_ID_STRIDE + chunk_id: supports docs up to ~32M
# tokens (2^25 chunks) and doc_ids up to ~2^37 without collision — but
# ONLY with integer recovery: floor(cid / stride) in DOUBLE loses the
# low bits past 2^53 total (doc_id 2^30, chunk 2^25-1 recovers the WRONG
# doc), so every doc_id recovery goes through _cid_doc (`div`, exact).
CHUNK_ID_STRIDE = 1 << 25


def _cid_doc():
    """Exact integer doc_id recovery from a packed cid column."""
    return F.expr(f"cid div {CHUNK_ID_STRIDE}").cast("long")


def maxsim_chunk_topk_banded(docs: DataFrame,
                             queries: tuple[tuple[int, tuple[str, ...]], ...]
                             = MAXSIM_QUERIES,
                             win: int = CHUNK_WIN, stride: int = CHUNK_STRIDE,
                             top: int = MAXSIM_TOP,
                             num_tables: int = MAXSIM_LSH_TABLES,
                             num_planes: int = MAXSIM_LSH_PLANES,
                             seed: int = MAXSIM_LSH_SEED) -> DataFrame:
    """The scale path ``maxsim_chunk_topk``'s docstring promises, made
    concrete: candidate docs come from hyperplane-LSH bucket collisions
    between the QUERY-TERM embeddings and the CHUNK embeddings (the
    embedding_lsh_pairs banding shape — vectors sharing any
    (table, bucket)), and only candidate docs are MaxSim-rescored —
    against their FULL chunk set, so a selected doc's score is identical
    to the exact path's (candidate selection approximates WHICH docs are
    scored, never a score). Approximate by construction, therefore
    recall-gated against :func:`maxsim_chunk_topk` in
    tests/test_latesim.py, never hash-declared (SURVEY §0 discipline).

    Scale shape — with one honest measurement attached: this face
    RECOMPUTES the chunk index and chunk weights from raw text per call,
    so banding cannot beat the exact face here (1M-doc ladder in
    SCALE_NOTES: exact 27 s vs recomputed-banded 257 s —
    the densify + GEMM + second weight pass dwarf the exact face's one
    broadcast-dot scan). Banding pays when the substrate is PERSISTED
    and built once: :func:`maxsim_persist` writes the chunk-weight table
    and the (table_id, bucket)-partitioned chunk index (~2.5 min once
    at 1M, write-bound), and :func:`maxsim_banded_persisted` serves from
    them with the bucket lookups partition-PRUNED at the file listing
    and zero re-tokenize — ~17 s per batch at 1M, 1.5x the exact face,
    with the pruned read corpus-size-independent (SCALE_NOTES r11). Hot
    buckets on clustered
    corpora remain LSH's documented failure mode — pair with
    lsh_refine_hot_buckets' sub-bucket splitting at scale."""
    spark = docs.sparkSession
    from vectordb_explorations_spark.operators.ann import (
        random_hyperplane_lsh)

    # One weights frame feeds both the index densify and the scorer
    # (review caught the redundant second _chunk_weights call). Honest
    # caveat: without materialization Spark still recomputes the
    # tokenize subtree under each consumer, and the 1M re-measure
    # confirmed the wall is unchanged (257 s vs the 216-239 s noise
    # band — densify+GEMM dominate, not the scan); materializing ~90M
    # weight rows per CALL is maxsim_persist's job, not this face's.
    cw = _chunk_weights(docs, win, stride)
    ce = _densify_chunk_weights(cw)
    cb = random_hyperplane_lsh(ce, num_tables=num_tables,
                               num_planes=num_planes, seed=seed,
                               dim=HASH_DIM, id_col="cid",
                               vec_col="embedding")
    term_buckets = _term_bucket_df(spark, queries, num_tables,
                                   num_planes, seed)
    cands = (cb.join(F.broadcast(term_buckets), ["table_id", "bucket"])
             .select("query_id", _cid_doc().alias("doc_id"))
             .distinct())
    return _maxsim_from_weights(spark, cw, queries, cands=cands, top=top)


MAXSIM_TERM_PROBE_BITS = 1


def _term_bucket_rows(queries, num_tables: int, num_planes: int,
                      seed: int,
                      probe_bits: int = MAXSIM_TERM_PROBE_BITS
                      ) -> list[tuple[int, int, int]]:
    """Distinct (query_id, table_id, bucket) rows for every query
    term — term embeddings densified and hyperplane-bucketed
    DRIVER-SIDE with the SAME plane matrix and GEMM kernel the chunk
    index uses (O(terms) work). Returned as a plain sorted list so a
    persisted-substrate serve can derive its probe pairs with ZERO
    Spark jobs — the r14 shape round-tripped these few rows through a
    createDataFrame().distinct().collect(), paying a shuffle job per
    serve for data that never left the driver (guide §5 driver
    discipline; r14 VERDICT item 7).

    ``probe_bits=1`` (default) also probes every 1-bit-flip neighbor
    bucket — the Lv et al. multiprobe the LSH serving family already
    uses, applied on the TERM side where it costs O(terms x tables x
    planes) driver rows, nothing corpus-side. The physics: a natural
    chunk sits 60-75 degrees from a 2-token term (a chunk is a ~30-token
    mixture), where exact-bucket collision across 8x6-plane tables is
    ~35-60% — measured recall@10 vs the exact face at sf0.1 was 0.60;
    the 1-bit ring lifts per-table collision to P(hamming<=1) and
    measured recall to 0.90 for a ~4x candidate pool (SCALE_NOTES r11).
    probe_bits=0 restores exact-bucket probing."""
    import numpy as np

    from vectordb_explorations_spark.operators.ann import (
        _buckets_np, _hyperplanes)

    rows = _term_weight_rows(queries)
    terms: dict[tuple[int, int], dict[int, int]] = {}
    for qid, tid, d, wv, _ in rows:
        terms.setdefault((qid, tid), {})[d] = wv
    keys = sorted(terms)
    tmat = np.zeros((len(keys), HASH_DIM), dtype=np.float64)
    for i, key in enumerate(keys):
        for d, wv in terms[key].items():
            tmat[i, d] = wv
        tmat[i] /= np.linalg.norm(tmat[i])
    tb = _buckets_np(tmat, _hyperplanes(num_tables, num_planes,
                                        HASH_DIM, seed))  # (T, tables)
    out = set()
    for i in range(len(keys)):
        qid = int(keys[i][0])
        for t in range(num_tables):
            base = int(tb[i, t])
            out.add((qid, t, base))
            if probe_bits >= 1:
                out.update((qid, t, base ^ (1 << b))
                           for b in range(num_planes))
    return sorted(out)


def _term_bucket_df(spark, queries, num_tables: int, num_planes: int,
                    seed: int,
                    probe_bits: int = MAXSIM_TERM_PROBE_BITS) -> DataFrame:
    """The literal-frame face of :func:`_term_bucket_rows` — already
    distinct, so no shuffle rides the serve plan."""
    return spark.createDataFrame(
        _term_bucket_rows(queries, num_tables, num_planes, seed,
                          probe_bits),
        "query_id int, table_id int, bucket int")


def _chunk_index(ce: DataFrame, build: dict) -> DataFrame:
    """The hyperplane chunk index rows of densified chunk weights —
    shared by the build and the append so appended chunks bucket
    exactly as the build's (the planes are seeded)."""
    from vectordb_explorations_spark.operators.ann import (
        random_hyperplane_lsh)

    return random_hyperplane_lsh(ce, num_tables=build["num_tables"],
                                 num_planes=build["num_planes"],
                                 seed=build["seed"], dim=HASH_DIM,
                                 id_col="cid", vec_col="embedding")


def maxsim_persist(docs: DataFrame, base_dir: str,
                   win: int = CHUNK_WIN, stride: int = CHUNK_STRIDE,
                   num_tables: int = MAXSIM_LSH_TABLES,
                   num_planes: int = MAXSIM_LSH_PLANES,
                   seed: int = MAXSIM_LSH_SEED) -> None:
    """Build + persist the multi-vector serving substrate ONCE — the
    shape that makes banding actually pay (module-level measurement in
    maxsim_chunk_topk_banded's docstring):

    - ``base_dir/weights``: the (doc_id, chunk_id, dim_id, w) chunk
      weight table — serving never re-tokenizes the corpus;
    - ``base_dir/index``: the hyperplane chunk index, hive-partitioned
      by (table_id, bucket) so a query's term-bucket lookups prune at
      the FILE LISTING (PartitionFilters — the ivf/hnsw partitioned
      serving discipline), reading O(terms x tables) bucket directories
      regardless of corpus size.

    The sidecar (``{base_dir}/_meta.json``, contract in
    ``sources/substrate.py``) stamps the chunking and hyperplane
    parameters, the weight-row count and the index face's read-back
    schema; serve, append and delete read them from there.

    Both faces carry an ``ingest_key`` partition level ('base' for the
    bulk build): ``maxsim_append_ingest`` dynamic-OVERWRITES its own
    key's partitions on replay, so a replay cannot double-append weight
    rows (which would silently inflate every affected chunk's norm and
    score). Serving prunes on the (table_id, bucket) prefix levels; the
    key level only namespaces writers."""
    from pyspark.sql import Observation

    from vectordb_explorations_spark.sources.sinks import (
        repartition_for_hive)

    spark = docs.sparkSession
    build = {"win": win, "stride": stride, "num_tables": num_tables,
             "num_planes": num_planes, "seed": seed}
    substrate.begin_persist(spark, base_dir)
    obs = Observation()
    (_chunk_weights(docs, win, stride)
     .observe(obs, F.count(F.lit(1)).alias("rows"))
     .withColumn("ingest_key", F.lit("base"))
     .write.mode("overwrite").partitionBy("ingest_key")
     .parquet(f"{base_dir}/weights"))
    # derive the index FROM the just-written weights table: one
    # tokenize+md5 corpus scan total, not two
    ce = _densify_chunk_weights(spark.read.parquet(f"{base_dir}/weights"))
    # repartition on the hive partition columns before the write: the
    # GEMM stage's task count otherwise multiplies into every occupied
    # (table_id, bucket) directory — one file per writer task per
    # directory, paid again on the serve side in listings/opens
    (repartition_for_hive(
        _chunk_index(ce, build).withColumn("ingest_key", F.lit("base")),
        "table_id", "bucket")
     .write.mode("overwrite")
     .partitionBy("table_id", "bucket", "ingest_key")
     .parquet(f"{base_dir}/index"))
    substrate.stamp(spark, base_dir, build, obs.get["rows"], {"index": 3})


def maxsim_banded_persisted(spark, base_dir: str,
                            queries: tuple[tuple[int, tuple[str, ...]], ...]
                            = MAXSIM_QUERIES,
                            top: int = MAXSIM_TOP) -> DataFrame:
    """Serve banded MaxSim from the persisted substrate: term buckets
    resolve driver-side with the sidecar's hyperplanes, the chunk-index
    read lists only the probed (table_id, bucket) directories,
    candidates semi-join the persisted weight table (columnar ints — no
    tokenize, no md5), and the shared scorer finishes. Identical scores
    to the exact face for every returned doc (pinned in tests);
    recall-gated like every ANN face."""
    # localCheckpoint: the scorer consumes cands TWICE (the weight-table
    # semi-join and the final per-query semi-join) and Spark 4.1.2 does
    # not reuse the identical child subtree, so without materialization
    # the pruned index probe executes twice per serve (~1 s of the ~4 s
    # sf0.1 row). The frame is BOUNDED: (query_id, doc_id) candidates
    # only. Partition pruning is plan-asserted on the LAZY frame (the
    # checkpoint hides the scan from the serve plan).
    cands = _persisted_candidates(spark, base_dir, queries).localCheckpoint()
    cw = spark.read.parquet(f"{base_dir}/weights")
    return _maxsim_from_weights(spark, cw, queries, cands=cands, top=top)


def _persisted_candidates(spark, base_dir: str,
                          queries: tuple[tuple[int, tuple[str, ...]], ...]
                          ) -> DataFrame:
    """The LAZY pruned candidate probe behind maxsim_banded_persisted —
    kept separate so tests can assert PartitionFilters on its plan.
    The probe pairs resolve with ZERO Spark jobs (the term buckets are
    driver-side rows already)."""
    meta = substrate.read_meta(spark, base_dir, "maxsim_banded_persisted")
    b = meta["build"]
    tb_rows = _term_bucket_rows(queries, b["num_tables"], b["num_planes"],
                                b["seed"])
    term_buckets = spark.createDataFrame(
        tb_rows, "query_id int, table_id int, bucket int")
    return (substrate.read_probe(spark, base_dir, meta, "index",
                                 ["table_id", "bucket"],
                                 {(t, k) for _, t, k in tb_rows})
            .join(F.broadcast(term_buckets), ["table_id", "bucket"])
            .select("query_id", _cid_doc().alias("doc_id"))
            .distinct())


def maxsim_delete_docs(spark, base_dir: str, doc_ids) -> int:
    """Erase documents from BOTH faces of the persisted MaxSim
    substrate. The weights face rewrites only the ingest_key partitions
    that contain the victims (bounded by those batches' sizes); the
    index face rewrites only the (table_id, bucket, ingest_key)
    directories holding the victims' chunk rows — cid encodes the doc
    (cid // CHUNK_ID_STRIDE), so the shared primitive locates by the
    derived expression. After erasure maxsim_banded_persisted serves
    exactly the corpus-minus-victims results (pinned bit-equal to the
    in-memory banded face over the filtered corpus). Returns total rows
    removed across both faces."""
    from vectordb_explorations_spark.sources.sinks import (
        delete_rows_partitioned)

    meta = substrate.read_meta(spark, base_dir, "maxsim_delete_docs")
    n_w = delete_rows_partitioned(spark, f"{base_dir}/weights",
                                  ["ingest_key"], "doc_id", doc_ids)
    n_i = delete_rows_partitioned(
        spark, f"{base_dir}/index",
        ["table_id", "bucket", "ingest_key"],
        f"CAST(floor(cid / {CHUNK_ID_STRIDE}) AS BIGINT)", doc_ids)
    substrate.write_ready(spark, base_dir,
                          {**meta, "rows": max(0, meta["rows"] - n_w)})
    return n_w + n_i


def maxsim_query_from_text(texts: "list[str] | tuple[str, ...]",
                           phrase_len: int = 2
                           ) -> tuple[tuple[int, tuple[str, ...]], ...]:
    """Turn free query text into the (query_id, phrases) shape every
    MaxSim face consumes: shared-tokenizer tokens grouped into
    ``phrase_len``-gram late-interaction terms (the last phrase may be
    short). The fixed MAXSIM_QUERIES literals are the hash-checked
    declared face; this is the serving-API door for arbitrary text —
    maxsim_chunk_topk(docs, queries=maxsim_query_from_text([...]))."""
    out = []
    for qid, text in enumerate(texts):
        toks = [t for t in text.lower().split() if t]
        phrases = tuple(" ".join(toks[i:i + phrase_len])
                        for i in range(0, len(toks), phrase_len))
        if not phrases:
            raise ValueError(f"query {qid} has no tokens")
        out.append((qid, phrases))
    return tuple(out)


def maxsim_append_ingest(spark, docs_stream: DataFrame,
                         base_dir: str) -> "object":
    """Streaming maintenance of the persisted multi-vector substrate:
    each micro-batch of new documents appends its chunk weights to
    ``base_dir/weights`` and its hyperplane bucket rows into the
    (table_id, bucket)-partitioned ``base_dir/index`` (only touched
    bucket directories gain files). Chunking and planes come from the
    sidecar, so appended chunks bucket consistently with the build, and
    `maxsim_banded_persisted` serves the union with no rebuild.

    Idempotence is TWO-layered: the per-source-file markers
    (streaming/events._files_to_ingest) skip already-applied files
    across restarts, AND each write is a dynamic partition OVERWRITE
    keyed on the batch's deterministic ``ingest_key``, so a crash
    between the data writes and mark() replays into the SAME
    partitions instead of double-appending (duplicated weight rows
    would silently inflate chunk norms and served scores). The sidecar
    reads ``building`` from before the first write of a batch until
    after its last, so a serve in that window raises; the replay
    finishes the batch and writes ``ready``. Cost per batch: O(batch
    tokens)."""
    from vectordb_explorations_spark.sources.sinks import V1_COMMITTER
    from vectordb_explorations_spark.streaming.events import (
        _files_to_ingest)

    meta = substrate.read_meta(spark, base_dir, "maxsim_append_ingest",
                               replay=True)
    build = meta["build"]

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        df, mark = _files_to_ingest(batch_df, base_dir, epoch_id)
        if df is None or df.isEmpty():
            return
        key = mark.ingest_key
        substrate.write_building(spark, base_dir, meta)
        # one tokenize pass per batch: weights checkpointed, the index
        # densifies from them (the maxsim_persist one-scan shape)
        cw = (_chunk_weights(df, build["win"], build["stride"])
              .localCheckpoint(eager=True))
        (cw.withColumn("ingest_key", F.lit(key))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .options(**V1_COMMITTER)
         .partitionBy("ingest_key").parquet(f"{base_dir}/weights"))
        (_chunk_index(_densify_chunk_weights(cw), build)
         .withColumn("ingest_key", F.lit(key))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .options(**V1_COMMITTER)
         .partitionBy("table_id", "bucket", "ingest_key")
         .parquet(f"{base_dir}/index"))
        # footer recount: a replayed key overwrites, never adds
        meta["rows"] = spark.read.parquet(f"{base_dir}/weights").count()
        substrate.write_ready(spark, base_dir, meta)
        mark()

    return (docs_stream.writeStream
            .foreachBatch(ingest)
            .trigger(availableNow=True)
            .start())
