"""Training-pipeline data management: deterministic train/val/test splits
and hash-sharded training output.

A 100 TB corpus can't be split by `rand()` (non-reproducible, non-resumable)
or by row position (correlated with ingest order). The split here hashes the
stable document id through md5 and thresholds the hex prefix — every engine
computes the same assignment for the same id, forever, with no coordination.
Lexicographic thresholds on the 8-hex-digit prefix give ratio control at
2^-32 granularity without portable-integer-conversion headaches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def _hex_threshold(ratio: float) -> str:
    """The 8-digit hex string h such that P[md5_prefix < h] = ratio."""
    return format(int(ratio * 0x100000000), "08x")


def split_column(id_col: Column, train: float = 0.9,
                 val: float = 0.05) -> Column:
    """'train' / 'val' / 'test' by md5(id) hex-prefix thresholds —
    deterministic, engine-portable, uncorrelated with id order."""
    h = F.substring(F.md5(id_col.cast("string")), 1, 8)
    return (F.when(h < F.lit(_hex_threshold(train)), "train")
            .when(h < F.lit(_hex_threshold(train + val)), "val")
            .otherwise("test"))


def train_val_split_stats(docs: DataFrame, train: float = 0.9,
                          val: float = 0.05) -> DataFrame:
    """Split assignment audit: document counts and char volume per
    (split, lang) — the query a pipeline runs before committing a split."""
    return (docs.withColumn("split", split_column(F.col("doc_id"), train, val))
            .groupBy("split", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"))
            .orderBy("split", "lang"))


def train_val_split_stats_oracle(train: float = 0.9,
                                 val: float = 0.05) -> str:
    t1, t2 = _hex_threshold(train), _hex_threshold(train + val)
    return f"""
WITH s AS (
  SELECT *, CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{t1}'
                   THEN 'train'
                 WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{t2}'
                   THEN 'val'
                 ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY split, lang ORDER BY split, lang
"""


STRATIFIED_PER_LANG = 20


def stratified_sample(docs: DataFrame,
                      per_stratum: int = STRATIFIED_PER_LANG) -> DataFrame:
    """Deterministic stratified sample: the first ``per_stratum`` documents
    per language, ordered by md5(doc_id) — a hash-shuffled-but-reproducible
    balanced subset (eval-set construction, per-language inspection pulls).

    Scale shape: one keyed shuffle on lang for the window rank; the md5
    order decorrelates the pick from ingest order without RNG state. For
    strata too hot for a single reducer, the same hash order nests under a
    salted pre-rank — the declared semantics stay identical."""
    h = F.md5(F.col("doc_id").cast("string"))
    rank = F.row_number().over(
        Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc()))
    return (docs.select("doc_id", "lang", "n_chars", h.alias("pick_hash"))
            .withColumn("rk", rank)
            .where(F.col("rk") <= per_stratum)
            .select("doc_id", "lang", "n_chars", "pick_hash", "rk")
            .orderBy("lang", "rk"))


def stratified_sample_oracle(per_stratum: int = STRATIFIED_PER_LANG) -> str:
    return f"""
WITH r AS (
  SELECT doc_id, lang, n_chars,
         md5(CAST(doc_id AS VARCHAR)) AS pick_hash,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT doc_id, lang, n_chars, pick_hash, rk
FROM r WHERE rk <= {per_stratum}
ORDER BY lang, rk
"""


def write_training_shards(df: DataFrame, path: str, num_shards: int,
                          id_col: str = "doc_id") -> None:
    """Hash-sharded training output: exactly ``num_shards`` parquet files,
    rows assigned by id hash so shard contents are stable under re-runs and
    shard sizes are balanced regardless of input partitioning. One shuffle
    (the repartition); readers stream shards independently."""
    (df.repartition(num_shards, F.col(id_col))
       .write.mode("overwrite").parquet(path))


SEQ_PACK_LEN = 512


def sequence_pack_bins(docs: DataFrame, seq_len: int = SEQ_PACK_LEN) -> DataFrame:
    """Greedy sequence packing manifest: documents are concatenated per
    language in doc_id order and chunked every ``seq_len`` whitespace
    tokens (the standard concat-then-chunk packing for LLM training
    batches); each document starts in bin floor(tokens_before / seq_len).
    Output is the per-(lang, bin) packing manifest — doc count, token
    volume, and the doc_id range the bin draws from.

    Scale shape: packing is sequential only WITHIN a stream, and the stream
    (here: language) is the parallel unit — one keyed shuffle for the
    window cumsum, map-side partial aggregation for the manifest. At 100 TB
    the stream key becomes a hash shard and the same plan holds; no global
    sequential pass exists anywhere."""
    n_tokens = F.size(F.split(F.col("text"), " "))
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (docs.select("doc_id", "lang", n_tokens.alias("n_tokens"))
            .withColumn("bin_id", F.floor(cum_before / F.lit(seq_len)))
            .groupBy("lang", "bin_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("bin_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc"))
            .orderBy("lang", "bin_id"))


def sequence_pack_bins_oracle(seq_len: int = SEQ_PACK_LEN) -> str:
    return f"""
WITH t AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM t
)
SELECT lang, CAST(FLOOR(cum_before / {seq_len}.0) AS BIGINT) AS bin_id,
       count(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM c
GROUP BY lang, bin_id
ORDER BY lang, bin_id
"""


def bpe_sequence_pack(docs: DataFrame,
                      seq_len: int = SEQ_PACK_LEN) -> DataFrame:
    """sequence_pack_bins with TOKENIZER-FAITHFUL lengths: the packing
    manifest a trainer actually consumes is in BPE tokens, and the
    fixture corpus runs ~3.5 BPE tokens per whitespace token
    (bpe_token_counts), so whitespace-packed bins overflow a real
    seq_len by the same factor. Per-doc length is the BPE-applied
    token count (textops.bpe_word_tokens) summed over the doc's words
    as ONE per-row HOF expression — transform over split(text), fold —
    so the plan shape is IDENTICAL to sequence_pack_bins: no explode,
    no extra shuffle, one keyed window cumsum, one combinable agg.
    Empty words (split artifacts) count 0 in both engines."""
    from vectordb_explorations_spark.operators.textops import (
        bpe_word_tokens)

    per_word = F.transform(
        F.split(F.col("text"), " "),
        lambda w: F.when(F.length(w) >= 1,
                         bpe_word_tokens(w)).otherwise(F.lit(0)))
    n_tokens = F.aggregate(per_word, F.lit(0),
                           lambda acc, x: acc + x)
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (docs.select("doc_id", "lang", n_tokens.alias("n_tokens"))
            .withColumn("bin_id", F.floor(cum_before / F.lit(seq_len)))
            .groupBy("lang", "bin_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("bin_tokens"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc"))
            .orderBy("lang", "bin_id"))


def bpe_sequence_pack_oracle(seq_len: int = SEQ_PACK_LEN) -> str:
    from vectordb_explorations_spark.operators.textops import (
        bpe_word_tokens_sql)

    tok = bpe_word_tokens_sql("w")
    return f"""
WITH t AS (
  SELECT doc_id, lang,
         list_sum(list_transform(string_split(text, ' '),
                  w -> CASE WHEN length(w) >= 1 THEN {tok}
                       ELSE 0 END)) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM t
)
SELECT lang, CAST(FLOOR(cum_before / {seq_len}.0) AS BIGINT) AS bin_id,
       count(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM c
GROUP BY lang, bin_id
ORDER BY lang, bin_id
"""


# Default training-mix weights: downsample the over-represented head
# language, keep the tail. Fractions are acceptance probabilities applied
# as deterministic md5-prefix thresholds (same mechanism as split_column).
DOMAIN_MIX_WEIGHTS: dict[str, float] = {
    "en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 0.75,
}


def domain_mix_sample(docs: DataFrame,
                      weights: dict[str, float] | None = None) -> DataFrame:
    """Deterministic domain-mix resampling audit: each language keeps a
    configured fraction of its documents (training-mixture reweighting —
    e.g. downsample the dominant crawl language before tokenization).
    Acceptance is md5(doc_id) thresholding per language: reproducible,
    coordination-free, stable under re-runs and engine changes; languages
    absent from ``weights`` are kept whole. Output is the per-language
    before/after manifest.

    Scale shape: the accept decision is a pure projection (no RNG state,
    no shuffle); the manifest is one map-side-combinable aggregation."""
    weights = DOMAIN_MIX_WEIGHTS if weights is None else weights
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    # keep-everything threshold is "g": it sorts above every hex digit, so
    # the comparison stays a clean 8-char lexicographic test (a 9-char
    # "100000000" would compare WRONG lexicographically: 'f' > '1')
    thr = F.lit("g")
    for lang, w in sorted(weights.items()):
        t = "g" if w >= 1.0 else format(int(float(w) * 0x100000000), "08x")
        thr = F.when(F.col("lang") == lang, F.lit(t)).otherwise(thr)
    accept = h < thr
    return (docs.select("lang", accept.alias("kept"), "n_chars")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("kept").cast("long")).alias("n_kept"),
                 F.sum(F.when(F.col("kept"), F.col("n_chars"))
                       .otherwise(F.lit(0))).alias("kept_chars"))
            .orderBy("lang"))


def domain_mix_sample_oracle(weights: dict[str, float] | None = None) -> str:
    weights = DOMAIN_MIX_WEIGHTS if weights is None else weights
    cases = " ".join(
        "WHEN lang = '{}' THEN '{}'".format(
            lang, "g" if float(w) >= 1.0
            else format(int(float(w) * 0x100000000), "08x"))
        for lang, w in sorted(weights.items()))
    return f"""
WITH a AS (
  SELECT lang, n_chars,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
           < (CASE {cases} ELSE 'g' END) AS kept
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(SUM(CAST(kept AS BIGINT)) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM a
GROUP BY lang
ORDER BY lang
"""


# ---- context-window chunking (sliding window with overlap) ----

CHUNK_WIN = 32     # tokens per training chunk
CHUNK_STRIDE = 24  # window stride (CHUNK_WIN - CHUNK_STRIDE tokens overlap)


def doc_chunks(docs: DataFrame, win: int = CHUNK_WIN,
               stride: int = CHUNK_STRIDE) -> DataFrame:
    """Split each document into overlapping fixed-width token windows —
    the context-window chunking stage that precedes tokenize-and-pack for
    long-document training (overlap keeps boundary context learnable).
    chunk i covers tokens [i*stride, i*stride + win); the last window is
    allowed short. Declared output carries the chunk's md5 rather than its
    text, so the transform is hash-pinned without shipping the corpus.

    Scale shape: one explode per document (fan-out bounded by
    ceil(doc_len/stride)), all expressions codegen — no shuffle except the
    declared output order; chunking parallelizes per-document at any
    corpus size."""
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    n = F.size("ws")
    n_chunks = (F.lit(1) + F.greatest(
        F.lit(0),
        F.ceil((n - F.lit(win)).cast("double") / F.lit(stride)))).cast("int")
    ck = F.slice("ws", F.col("chunk_id") * stride + 1, win)
    return (toks
            .withColumn("chunk_id", F.explode(F.sequence(F.lit(0),
                                                         n_chunks - 1)))
            .select("doc_id", "chunk_id",
                    (F.col("chunk_id") * stride).alias("chunk_start"),
                    F.size(ck).alias("chunk_len"),
                    F.md5(F.concat_ws(" ", ck)).alias("chunk_md5"))
            .orderBy("doc_id", "chunk_id"))


def doc_chunks_oracle(win: int = CHUNK_WIN, stride: int = CHUNK_STRIDE) -> str:
    return f"""
WITH s AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), c AS (
  SELECT doc_id, w,
         1 + greatest(0, CAST(ceil((len(w) - {win})::DOUBLE / {stride}) AS INT))
           AS n_chunks
  FROM s
), e AS (
  SELECT doc_id, w, unnest(generate_series(0, n_chunks - 1)) AS chunk_id
  FROM c
)
SELECT doc_id, chunk_id, chunk_id * {stride} AS chunk_start,
       len(w[chunk_id * {stride} + 1 : chunk_id * {stride} + {win}]) AS chunk_len,
       md5(array_to_string(
           w[chunk_id * {stride} + 1 : chunk_id * {stride} + {win}], ' '))
         AS chunk_md5
FROM e ORDER BY doc_id, chunk_id
"""


# ---- deterministic weighted sampling (A-ES exponential keys) ----

WEIGHTED_SAMPLE_N = 100


def md5_uniform(id_col: Column | str) -> Column:
    """Deterministic uniform draw in (0, 1] from a stable id: the first 8
    md5 hex digits as a 32-bit integer, shifted to exclude 0. No RNG
    state, stable under any partitioning — the one coordination-free
    uniform every sampling/reweighting operator shares (weighted_sample,
    dedup_soft_weights). Keep md5_uniform_sql textually in lockstep: the
    pair IS the cross-engine contract the oracle hashes check."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10)
            .cast("double") + F.lit(1.0)) / F.lit(float(2 ** 32))


def md5_uniform_sql(id_expr: str) -> str:
    """DuckDB twin of md5_uniform — same hex prefix, same shift, same
    divisor, so both engines draw the identical double for an id."""
    return (f"(CAST(CAST('0x' || substring(md5(CAST({id_expr} AS VARCHAR))"
            f", 1, 8) AS UBIGINT) AS DOUBLE) + 1.0) / 4294967296.0")


def weighted_sample(docs: DataFrame, n: int = WEIGHTED_SAMPLE_N) -> DataFrame:
    """Weighted sampling without replacement via Efraimidis-Spirakis
    exponential keys: each doc draws key = u^(1/w) with u uniform in (0,1)
    and w its weight (n_chars here — the length-proportional draw a
    quality- or token-weighted corpus sample uses); the global top-n keys
    ARE the weighted sample. u derives from md5(doc_id), so the sample is
    deterministic, coordination-free, and stable under any partitioning —
    no RNG state, no driver pass.

    Scale shape: pure projection + one TakeOrderedAndProject top-n; at
    100 TB the same two lines sample any corpus in one scan."""
    u = md5_uniform("doc_id")
    key = F.pow(u, F.lit(1.0) / F.col("n_chars").cast("double"))
    return (docs.select("doc_id", F.col("n_chars").alias("weight"),
                        key.alias("key_raw"))
            .orderBy(F.col("key_raw").desc(), F.col("doc_id").asc())
            .limit(n)
            .select("doc_id", "weight",
                    F.round("key_raw", 6).alias("sample_key")))


def weighted_sample_oracle(n: int = WEIGHTED_SAMPLE_N) -> str:
    return f"""
WITH k AS (
  SELECT doc_id, n_chars AS weight,
         pow({md5_uniform_sql('doc_id')},
             1.0 / n_chars) AS key_raw
  FROM documents
)
SELECT doc_id, weight, round(key_raw, 6) AS sample_key
FROM k ORDER BY key_raw DESC, doc_id ASC LIMIT {n}
"""


# ---- deterministic global shuffle -> training shards ----

TRAINING_SHARDS = 16


def global_shuffle(docs: DataFrame, n_shards: int = TRAINING_SHARDS) -> DataFrame:
    """Deterministic global shuffle for training export: every document gets
    a ``shuffle_key`` (md5 of its stable id) and a ``shard_id`` (hash-prefix
    mod ``n_shards``). Writing each shard ordered by shuffle_key IS the
    epoch-level global shuffle a training run needs — reproducible,
    resumable, coordination-free, and never a total sort: shards are
    independent and order only matters within a shard.

    Scale shape: pure projection — zero shuffles here; the downstream
    writer repartitions on shard_id (one hash exchange) and sorts within
    partitions, so a 100 TB corpus shuffles exactly once regardless of
    shard count."""
    h = F.md5(F.col("doc_id").cast("string"))
    shard = (F.conv(F.substring(h, 1, 4), 16, 10).cast("long")
             % F.lit(n_shards))
    return docs.withColumn("shuffle_key", h).withColumn("shard_id", shard)


def training_shard_manifest(docs: DataFrame,
                            n_shards: int = TRAINING_SHARDS) -> DataFrame:
    """Shard manifest for the deterministic global shuffle: per-shard doc
    count, token volume, language spread, and the head/tail doc in shuffle
    order — the audit a pipeline runs (and persists next to the shards)
    before launching training on them.

    Scale shape: one map-side-combinable aggregation keyed on shard_id;
    min_by/max_by keep the head/tail probe inside the same combiner, so
    the manifest costs one narrow shuffle of ``n_shards`` groups."""
    s = global_shuffle(docs, n_shards)
    n_tokens = F.size(F.split(F.col("text"), " "))
    return (s.select("shard_id", "shuffle_key", "doc_id", "lang",
                     n_tokens.alias("n_tokens"))
            .groupBy("shard_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("shard_tokens"),
                 # size(collect_set) not countDistinct: lang cardinality is
                 # tiny and bounded, and the set-agg combines in ONE phase
                 # (countDistinct plans an Expand + a second exchange)
                 F.size(F.collect_set("lang")).alias("n_langs"),
                 F.min_by("doc_id", "shuffle_key").alias("head_doc"),
                 F.max_by("doc_id", "shuffle_key").alias("tail_doc"))
            .orderBy("shard_id"))


def training_shard_manifest_oracle(n_shards: int = TRAINING_SHARDS) -> str:
    return f"""
WITH s AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h,
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                   AS UBIGINT) % {n_shards} AS BIGINT) AS shard_id
  FROM documents
)
SELECT shard_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       count(DISTINCT lang) AS n_langs,
       arg_min(doc_id, h) AS head_doc,
       arg_max(doc_id, h) AS tail_doc
FROM s GROUP BY shard_id ORDER BY shard_id
"""


def curation_pipeline_stats(docs: DataFrame, train: float = 0.9,
                            val: float = 0.05) -> DataFrame:
    """End-to-end curation composition — the flow a training-data pipeline
    actually ships: quality-filter the corpus (textops.quality_filter),
    then assign the ADMITTED docs their deterministic md5-threshold split,
    and audit counts + char volume per (split, lang). Declared as one
    query so the driver hash-checks the operators composed, not just in
    isolation.

    Scale shape: the filter verdict is a narrow (doc_id) frame joined back
    on the stable id (AQE broadcasts it while it fits, hash-joins at
    scale); the split adds no shuffle (pure projection); one grouped
    aggregation ends the pipeline."""
    from vectordb_explorations_spark.operators.textops import _quality_filter

    kept = _quality_filter(docs).where(F.col("keep")).select("doc_id")
    return (docs.join(kept, "doc_id")
            .withColumn("split", split_column(F.col("doc_id"), train, val))
            .groupBy("split", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"))
            .orderBy("split", "lang"))


def curation_pipeline_stats_oracle(train: float = 0.9,
                                   val: float = 0.05) -> str:
    from vectordb_explorations_spark.operators.textops import (
        quality_filter_oracle)
    qf = quality_filter_oracle().strip()
    t1, t2 = _hex_threshold(train), _hex_threshold(train + val)
    return f"""
WITH qf AS ({qf}),
k AS (
  SELECT d.doc_id, d.lang, d.n_chars,
         CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < '{t1}'
                THEN 'train'
              WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < '{t2}'
                THEN 'val'
              ELSE 'test' END AS split
  FROM documents d JOIN qf ON qf.doc_id = d.doc_id AND qf.keep
)
SELECT split, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM k GROUP BY split, lang ORDER BY split, lang
"""


# ---- DSIR importance resampling (target-distribution data selection) ----

DSIR_BUCKETS = 64          # hashed n-gram feature buckets
DSIR_ALPHA = 0.5           # add-alpha smoothing for both bucket models
DSIR_SELECT_K = 100        # resampled documents returned
DSIR_TARGET_SOURCES = ("src0", "src1")   # the "looks like this" exemplar set
# largest double < 1 at md5_uniform's 2^-32 grain — keeps -ln(-ln(u))
# finite at u = 1 (the 'ffffffff' prefix) identically in both engines
_GUMBEL_U_MAX = 1.0 - 2.0 ** -32


def _gram_buckets(docs: DataFrame, n_buckets: int) -> DataFrame:
    """(doc_id, source, bucket): hashed (unigram + bigram) feature buckets
    over the shared whitespace tokenizer — featurize.py's md5-prefix
    dimension hash applied to grams. Shared by dsir_select and
    source_kl_divergence; keep _gram_buckets_sql in lockstep, the pair is
    the cross-engine contract the oracle hashes check.

    The bigram arm guards on size: Spark's sequence(1, 0) descends to
    [1, 0], so an unguarded lambda would index out of bounds (an ANSI
    error) on a <= 1-token document; DuckDB's range(1, 1) is empty. The
    tokens are one projected column, so the lambda does not re-tokenize.

    ``bucket`` is non-nullable (an 8-hex-digit md5 prefix always
    converts). A nullable key would make a join on it infer an
    ``isnotnull(bucket)`` filter on one side only, and two reads of one
    bucket frame would then differ below their shared exchange, so Spark
    could not reuse it and the corpus would be tokenized twice."""
    from vectordb_explorations_spark.functions.text import whitespace_tokens

    w = docs.select("doc_id", "source", whitespace_tokens("text").alias("w"))
    grams = w.select(
        "doc_id", "source",
        F.explode(F.concat(F.col("w"), F.expr(
            "CASE WHEN size(w) >= 2 THEN"
            " transform(sequence(1, size(w) - 1),"
            " i -> concat(w[i-1], ' ', w[i]))"
            " ELSE array() END"))).alias("gram"))
    bucket = (F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10)
              .cast("long") % n_buckets).cast("int")
    return grams.select("doc_id", "source",
                        F.coalesce(bucket, F.lit(0)).alias("bucket"))


def _gram_buckets_sql(n_buckets: int) -> str:
    """DuckDB twin of _gram_buckets: CTEs `toks`, `grams`, `gbkt` ending
    in (doc_id, source, bucket)."""
    return f"""toks AS (
  SELECT doc_id, source,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id, source,
         unnest(w || list_transform(range(1, len(w)),
                                    i -> w[i] || ' ' || w[i+1])) AS gram
  FROM toks
), gbkt AS (
  SELECT doc_id, source,
         CAST(CAST('0x' || substring(md5(gram), 1, 8) AS UBIGINT)
              % {n_buckets} AS INTEGER) AS bucket
  FROM grams
)"""


def dsir_select(docs: DataFrame,
                target_sources: tuple[str, ...] = DSIR_TARGET_SOURCES,
                n_buckets: int = DSIR_BUCKETS,
                alpha: float = DSIR_ALPHA,
                k: int = DSIR_SELECT_K) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023):
    pick raw documents that LOOK LIKE a target exemplar corpus. Both
    corpora are modeled as bags of hashed (unigram + bigram) buckets with
    add-alpha smoothing; each raw document's importance log-weight is

        score(d) = sum over d's grams of  ln p_target(bucket) - ln p_raw(bucket)

    and the selection is Gumbel-top-k over ``score + g`` with g drawn
    from md5(doc_id) — sampling proportional to the importance ratio
    p/q without replacement, the log-space twin of ``weighted_sample``'s
    Efraimidis-Spirakis keys, and fully deterministic (no RNG state, no
    coordination). Buckets reuse featurize.py's md5-prefix dimension hash
    and the tokenizer is the SHARED whitespace contract, so the whole
    pipeline is hash-checkable cross-engine.

    Scale shape: one corpus pass. The corpus is tokenized and hashed
    once into the per-(doc, bucket) count frame ``docb``; the fit and the
    score both read it after its exchange, which Spark runs once and
    reuses (``ReusedExchange``). That holds because the two reads are
    identical below it: the raw-document restriction is applied after the
    per-doc score aggregate, not pushed into the scan, and ``bucket`` is
    non-nullable (``_gram_buckets``). The fit rolls ``docb`` up to
    ``n_buckets`` groups and takes the corpus totals as a whole-frame
    window over those rows; the score joins the broadcast
    ``n_buckets``-row lambda table onto ``docb`` and ends in one
    TakeOrderedAndProject. No corpus self-join, no vocabulary build, no
    driver pass."""
    from vectordb_explorations_spark.functions.rounding import round6

    docb = (_gram_buckets(docs, n_buckets)
            .select("doc_id", "source",
                    F.col("source").isin(*target_sources)
                    .alias("is_target"),
                    "bucket")
            .groupBy("doc_id", "source", "is_target", "bucket")
            .agg(F.count(F.lit(1)).alias("n")))
    fit = docb.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("n")).otherwise(F.lit(0)))
        .alias("ct"),
        F.sum(F.when(F.col("is_target"), F.lit(0)).otherwise(F.col("n")))
        .alias("cr"))
    # corpus totals as a whole-frame window over the n_buckets-row fit
    wall = Window.partitionBy()
    tt = F.sum("ct").over(wall).cast("double")
    tr = F.sum("cr").over(wall).cast("double")
    lam = fit.select(
        "bucket",
        (F.log((F.col("ct") + alpha) / (tt + alpha * n_buckets)) -
         F.log((F.col("cr") + alpha) / (tr + alpha * n_buckets)))
        .alias("lam"))
    # keep raw documents only after the per-doc aggregate: a filter on
    # docb's is_target would push into the scan and give the score its
    # own corpus pass (is_target is constant per doc, so max is the value)
    scored = (docb.join(F.broadcast(lam), "bucket")
              .groupBy("doc_id", "source")
              .agg(F.sum("n").alias("n_grams"),
                   F.sum(F.col("n") * F.col("lam")).alias("score"),
                   F.max("is_target").alias("is_target"))
              .where(~F.col("is_target")))
    # md5_uniform's range is (0, 1] and -ln(-ln(1)) is undefined — Spark
    # would yield NULL (doc unselectable) while DuckDB hard-errors, the
    # one place the engines would diverge. Clamp u just under 1: at
    # billions of docs the 2^-32 'ffffffff' prefix WILL occur.
    u = F.least(md5_uniform("doc_id"), F.lit(_GUMBEL_U_MAX))
    gumbel = -F.log(-F.log(u))
    return (scored.select("doc_id", "source", "n_grams",
                          round6(F.col("score")).alias("logratio"),
                          round6(F.col("score") + gumbel).alias("gumbel_key"))
            .orderBy(F.col("gumbel_key").desc(), F.col("doc_id").asc())
            .limit(k))


def dsir_select_oracle(target_sources: tuple[str, ...] = DSIR_TARGET_SOURCES,
                       n_buckets: int = DSIR_BUCKETS,
                       alpha: float = DSIR_ALPHA,
                       k: int = DSIR_SELECT_K) -> str:
    from vectordb_explorations_spark.functions.rounding import r6

    tgt = ", ".join(f"'{s}'" for s in target_sources)
    gum = (f"-ln(-ln(least({md5_uniform_sql('doc_id')}, "
           f"{_GUMBEL_U_MAX!r})))")
    return f"""
WITH {_gram_buckets_sql(n_buckets)}, docb AS (
  SELECT doc_id, source, source IN ({tgt}) AS is_target, bucket,
         count(*) AS n
  FROM gbkt GROUP BY ALL
), fit AS (
  SELECT bucket,
         SUM(CASE WHEN is_target THEN n ELSE 0 END) AS ct,
         SUM(CASE WHEN is_target THEN 0 ELSE n END) AS cr
  FROM docb GROUP BY bucket
), tot AS (
  SELECT SUM(ct)::DOUBLE AS tt, SUM(cr)::DOUBLE AS tr FROM fit
), lam AS (
  SELECT bucket,
         ln((ct + {alpha}) / (tt + {alpha} * {n_buckets})) -
         ln((cr + {alpha}) / (tr + {alpha} * {n_buckets})) AS lam
  FROM fit, tot
), scored AS (
  SELECT d.doc_id, d.source, CAST(SUM(d.n) AS BIGINT) AS n_grams,
         SUM(d.n * l.lam) AS score
  FROM docb d JOIN lam l USING (bucket)
  WHERE NOT d.is_target
  GROUP BY d.doc_id, d.source
)
SELECT doc_id, source, n_grams,
       {r6('score')} AS logratio,
       {r6(f'score + {gum}')} AS gumbel_key
FROM scored
ORDER BY gumbel_key DESC, doc_id ASC LIMIT {k}
"""


# ---- cluster-balanced (density-equalizing) embedding-space sampling ----

CLUSTER_SAMPLE_CLUSTERS = 8    # shares dedup.SEM_CLUSTERS' fixture floor
CLUSTER_SAMPLE_QUOTA = 15      # docs kept per cluster


def cluster_balanced_sample(embeddings: DataFrame,
                            num_clusters: int = CLUSTER_SAMPLE_CLUSTERS,
                            quota: int = CLUSTER_SAMPLE_QUOTA) -> DataFrame:
    """Cluster-balanced sampling: partition the corpus in embedding space
    and keep at most ``quota`` documents per cluster — the
    density-equalizing draw prototype-based curation uses to stop dominant
    modes (boilerplate clusters, one over-crawled template) from flooding
    a training mix; small clusters survive whole, big ones are capped.
    Clustering is dedup.semantic_dedup's hash-checkable contract verbatim:
    nearest of the ``num_clusters`` smallest-vec_id seed exemplars,
    round6(squared L2) with seed-id tie-break, so both engines assign the
    identical cell (at scale, plug ivf_build centroids or
    dedup._sem_assign_gemm into the same quota shape — the sampling rule
    below is unchanged). Within a cluster the keep order is md5(vec_id) —
    the same hash-shuffled-but-reproducible pick every sampler here uses.

    Scale shape: the seed side is ``num_clusters`` broadcast rows;
    assignment is one codegen projection + a vec_id window; the quota
    rank is one keyed shuffle on cluster_id; output is <= clusters x
    quota rows. No pair joins, no driver pass, nothing quadratic."""
    from vectordb_explorations_spark.functions.rounding import round6
    from vectordb_explorations_spark.functions.vectors import squared_l2_sql
    from vectordb_explorations_spark.schemas import EMBEDDING_DIM

    seeds = (embeddings.orderBy("vec_id").limit(int(num_clusters))
             .select(F.col("vec_id").alias("seed_id"),
                     F.col("embedding").alias("semb")))
    dist = round6(F.expr(squared_l2_sql("embedding", "semb", EMBEDDING_DIM)))
    wa = Window.partitionBy("vec_id").orderBy("dist", "seed_id")
    asg = (embeddings.join(F.broadcast(seeds))
           .select("vec_id", "seed_id", dist.alias("dist"))
           .withColumn("rn", F.row_number().over(wa))
           .where(F.col("rn") == 1)
           .select("vec_id", F.col("seed_id").alias("cluster_id")))
    h = F.md5(F.col("vec_id").cast("string"))
    wq = Window.partitionBy("cluster_id").orderBy(h.asc(),
                                                  F.col("vec_id").asc())
    ws = Window.partitionBy("cluster_id")
    return (asg.withColumn("rk", F.row_number().over(wq))
            .withColumn("cluster_size", F.count(F.lit(1)).over(ws))
            .where(F.col("rk") <= quota)
            .select("cluster_id", "cluster_size", "vec_id", "rk")
            .orderBy("cluster_id", "rk"))


def cluster_balanced_sample_oracle(
        num_clusters: int = CLUSTER_SAMPLE_CLUSTERS,
        quota: int = CLUSTER_SAMPLE_QUOTA) -> str:
    from vectordb_explorations_spark.functions.rounding import r6

    sq = ("list_sum(list_transform(list_zip(e.embedding, s.semb), "
          "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * "
          "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))")
    return f"""
WITH seeds AS (
  SELECT vec_id AS seed_id, embedding AS semb
  FROM embeddings ORDER BY vec_id LIMIT {num_clusters}
),
asg AS (
  SELECT vec_id, seed_id AS cluster_id FROM (
    SELECT e.vec_id, s.seed_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {r6(sq)}, s.seed_id) AS rn
    FROM embeddings e CROSS JOIN seeds s
  ) t WHERE rn = 1
),
rk AS (
  SELECT vec_id, cluster_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           AS rk,
         count(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM asg
)
SELECT cluster_id, cluster_size, vec_id, rk
FROM rk WHERE rk <= {quota}
ORDER BY cluster_id, rk
"""


# ---- domain-mixture token budgeting (training-mix planning) ----

MIXTURE_BUDGET_TOKENS = 200_000
MIXTURE_WEIGHTS = {"src0": 0.25, "src1": 0.25, "src2": 0.2, "src3": 0.3}


def mixture_plan(docs: DataFrame,
                 budget_tokens: int = MIXTURE_BUDGET_TOKENS,
                 weights: dict[str, float] | None = None) -> DataFrame:
    """Training-mixture token budgeting: given a target mixture (source →
    weight) and a total token budget, how much of each source's corpus do
    we actually have, how many tokens the mix wants from it, the epoch
    factor (>1 = the source must repeat to meet its share — the
    oversampling decision every published mixture makes for small
    high-quality sources), and the single-epoch sampling rate. This is
    the planning query a data team runs BEFORE domain_mix_sample
    executes a mix.

    Scale shape: one map-side-combinable aggregation keyed on source
    (|sources| groups); the weight table is a literal |mix|-row frame
    FULL-OUTER-joined onto the observed sources — a budgeted source with
    ZERO corpus presence still reports (avail 0, epochs NULL), the one
    condition a pre-run budgeting query exists to catch; a groupBy over
    observed sources alone would silently drop it. Sources outside the
    target mix report weight 0 (excluded from the budget)."""
    from vectordb_explorations_spark.functions.rounding import round6

    weights = MIXTURE_WEIGHTS if weights is None else weights
    n_tokens = F.size(F.split(F.col("text"), " "))
    avail = (docs.select("source", n_tokens.alias("n_tokens"))
             .groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_tokens").alias("avail_tokens")))
    wtab = docs.sparkSession.createDataFrame(
        [(s, float(w)) for s, w in weights.items()],
        "source string, w double")
    joined = (avail.join(wtab, "source", "full_outer")
              .select("source",
                      F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
                      F.coalesce("avail_tokens", F.lit(0))
                      .alias("avail_tokens"),
                      F.coalesce("w", F.lit(0.0)).alias("weight")))
    target = F.col("weight") * F.lit(float(budget_tokens))
    per_epoch = target / F.col("avail_tokens").cast("double")
    return (joined
            .select("source", "n_docs", "avail_tokens", "weight",
                    F.floor(target).cast("long").alias("target_tokens"),
                    F.when(F.col("avail_tokens") > 0, round6(per_epoch))
                    .alias("epochs"),
                    F.when(F.col("avail_tokens") > 0,
                           round6(F.least(F.lit(1.0), per_epoch)))
                    .alias("sample_rate"))
            .orderBy("source"))


def mixture_plan_oracle(budget_tokens: int = MIXTURE_BUDGET_TOKENS,
                        weights: dict[str, float] | None = None) -> str:
    from vectordb_explorations_spark.functions.rounding import r6

    weights = MIXTURE_WEIGHTS if weights is None else weights
    vals = ", ".join(f"('{s}', {float(w)!r})" for s, w in weights.items())
    tgt = f"weight * {float(budget_tokens)!r}"
    per = f"({tgt}) / CAST(avail_tokens AS DOUBLE)"
    return f"""
WITH avail AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
  FROM documents GROUP BY source
), wtab AS (
  SELECT * FROM (VALUES {vals}) AS v(source, w)
), joined AS (
  SELECT COALESCE(a.source, wt.source) AS source,
         COALESCE(a.n_docs, 0) AS n_docs,
         COALESCE(a.avail_tokens, 0) AS avail_tokens,
         COALESCE(wt.w, 0.0) AS weight
  FROM avail a FULL OUTER JOIN wtab wt ON a.source = wt.source
)
SELECT source, n_docs, avail_tokens, weight,
       CAST(floor({tgt}) AS BIGINT) AS target_tokens,
       CASE WHEN avail_tokens > 0 THEN {r6(per)} END AS epochs,
       CASE WHEN avail_tokens > 0 THEN {r6(f'least(1.0, {per})')} END
         AS sample_rate
FROM joined ORDER BY source
"""


# ---- per-source distribution drift (KL divergence vs the corpus mix) ----


def source_kl_divergence(docs: DataFrame,
                         n_buckets: int = DSIR_BUCKETS,
                         alpha: float = DSIR_ALPHA) -> DataFrame:
    """Per-source distribution drift: KL(p_source || p_corpus) over the
    same hashed (uni+bi)-gram bucket models dsir_select fits — the
    monitoring query behind "which source stopped looking like the mix"
    (a crawl gone template-heavy, a source that silently switched
    language). Both distributions are add-alpha smoothed over the FULL
    bucket range, so zero-count cells contribute their smoothed mass and
    the divergence is finite by construction.

    Scale shape: one corpus stage into a (source, bucket) count — map-side
    combinable, |sources| x n_buckets groups. The cell frame is densified
    from those counts, gathered into one bucket -> count map per source
    (sources x n_buckets rows — tiny), so the whole-frame and per-source
    windows that derive the totals never touch corpus-sized data, and the
    count frame is read once: densifying by joining it back onto its own
    distinct sources would tokenize the corpus a second time. Output is
    |sources| rows."""
    from vectordb_explorations_spark.functions.rounding import round6

    sb = (_gram_buckets(docs, n_buckets)
          .groupBy("source", "bucket")
          .agg(F.count(F.lit(1)).alias("n")))
    # densify to every (source, bucket) cell from the aggregated frame,
    # never the corpus. A null source keeps all-zero cells: the oracle's
    # densifying join matches no count to it.
    per_source = sb.groupBy("source").agg(F.map_from_entries(
        F.collect_list(F.struct("bucket", "n"))).alias("m"))
    cells = (per_source
             .select("source", "m", F.explode(F.sequence(
                 F.lit(0), F.lit(n_buckets - 1))).alias("bucket"))
             .select("source", "bucket", F.coalesce(
                 F.when(F.col("source").isNotNull(),
                        F.col("m")[F.col("bucket")]),
                 F.lit(0)).alias("n")))
    ws = Window.partitionBy("source")
    wb = Window.partitionBy("bucket")
    wall = Window.partitionBy()
    ns = F.sum("n").over(ws).cast("double")
    nb = F.sum("n").over(wb).cast("double")
    tot = F.sum("n").over(wall).cast("double")
    p = (F.col("n") + alpha) / (ns + alpha * n_buckets)
    q = (nb + alpha) / (tot + alpha * n_buckets)
    term = cells.select(
        "source", F.sum("n").over(ws).alias("n_grams"),
        (p * F.log(p / q)).alias("t"))
    return (term.groupBy("source", "n_grams")
            .agg(round6(F.sum("t")).alias("kl_divergence"))
            .orderBy("source"))


def source_kl_divergence_oracle(n_buckets: int = DSIR_BUCKETS,
                                alpha: float = DSIR_ALPHA) -> str:
    from vectordb_explorations_spark.functions.rounding import r6

    p = f"((n + {alpha}) / (ns + {alpha} * {n_buckets}))"
    q = f"((nb + {alpha}) / (tot + {alpha} * {n_buckets}))"
    return f"""
WITH {_gram_buckets_sql(n_buckets)}, sb AS (
  SELECT source, bucket, count(*) AS n
  FROM gbkt GROUP BY ALL
), dense AS (
  SELECT s.source, CAST(b.bucket AS INTEGER) AS bucket
  FROM (SELECT DISTINCT source FROM sb) s
  CROSS JOIN (SELECT unnest(range(0, {n_buckets})) AS bucket) b
), cells AS (
  SELECT d.source, d.bucket, COALESCE(sb.n, 0) AS n
  FROM dense d LEFT JOIN sb ON sb.source = d.source AND sb.bucket = d.bucket
), t AS (
  SELECT source,
         CAST(SUM(n) OVER (PARTITION BY source) AS DOUBLE) AS ns,
         CAST(SUM(n) OVER (PARTITION BY bucket) AS DOUBLE) AS nb,
         CAST(SUM(n) OVER () AS DOUBLE) AS tot,
         n
  FROM cells
)
SELECT source, CAST(ns AS BIGINT) AS n_grams,
       {r6(f'SUM({p} * ln({p} / {q}))')} AS kl_divergence
FROM t GROUP BY source, ns ORDER BY source
"""


# ---- temperature-scaled source mixture (XLM-R / mT5 alpha-sampling) ----

TEMP_MIX_ALPHA = 0.3   # the XLM-R / mT5 multilingual sampling exponent


def temperature_mixture(docs: DataFrame,
                        alpha: float = TEMP_MIX_ALPHA,
                        budget_tokens: int = MIXTURE_BUDGET_TOKENS
                        ) -> DataFrame:
    """Temperature-scaled source weights (Conneau et al. 2020 / Xue et
    al. 2021): instead of mixture_plan's LITERAL target weights, DERIVE
    the mix from the corpus itself — q_i ∝ p_i^alpha, where p_i is the
    source's natural token share and alpha < 1 flattens the distribution
    (upsampling small high-quality sources, the published multilingual
    recipe). Emits, per source: the natural share, the temperature-scaled
    share, the token target under the budget, and the epoch factor the
    scaled share implies (>1 = the source repeats).

    Scale shape (100 TB): ONE map-side-combinable aggregation keyed on
    source (|sources| groups); both normalizations (token total, sum of
    p^alpha) ride whole-frame windows over the |sources|-row result —
    no second corpus scan (the dsir_select fit discipline). Shares are
    libm pow() outputs on inputs both engines hold bit-identically —
    the same cross-engine contract ln/exp already certify in
    unigram_logprob / dsir_select."""
    from vectordb_explorations_spark.functions.rounding import round6

    n_tokens = F.size(F.split(F.col("text"), " "))
    avail = (docs.select("source", n_tokens.alias("n_tokens"))
             .groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_tokens").alias("avail_tokens")))
    wall = Window.partitionBy()
    p = (F.col("avail_tokens").cast("double")
         / F.sum("avail_tokens").over(wall).cast("double"))
    scored = avail.withColumn("p", p).withColumn(
        "pa", F.pow(F.col("p"), F.lit(float(alpha))))
    q = F.col("pa") / F.sum("pa").over(wall)
    target = q * F.lit(float(budget_tokens))
    return (scored
            .select("source", "n_docs", "avail_tokens",
                    round6(F.col("p")).alias("natural_share"),
                    round6(q).alias("temp_share"),
                    F.floor(target).cast("long").alias("target_tokens"),
                    round6(target / F.col("avail_tokens").cast("double"))
                    .alias("epochs"))
            .orderBy("source"))


def temperature_mixture_oracle(alpha: float = TEMP_MIX_ALPHA,
                               budget_tokens: int = MIXTURE_BUDGET_TOKENS
                               ) -> str:
    from vectordb_explorations_spark.functions.rounding import r6

    q = "(pa / sum(pa) OVER ())"
    tgt = f"({q} * {float(budget_tokens)!r})"
    return f"""
WITH avail AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
  FROM documents GROUP BY source
), scored AS (
  SELECT source, n_docs, avail_tokens,
         avail_tokens::DOUBLE / sum(avail_tokens) OVER ()::DOUBLE AS p,
         pow(avail_tokens::DOUBLE / sum(avail_tokens) OVER ()::DOUBLE,
             {float(alpha)!r}) AS pa
  FROM avail
)
SELECT source, n_docs, avail_tokens,
       {r6('p')} AS natural_share,
       {r6(q)} AS temp_share,
       CAST(floor({tgt}) AS BIGINT) AS target_tokens,
       {r6(f'{tgt} / avail_tokens::DOUBLE')} AS epochs
FROM scored ORDER BY source
"""


# ---- per-source data cards (corpus report composition) ----


def source_data_cards(docs: DataFrame) -> DataFrame:
    """Per-source corpus data card — the one-row-per-source report a data
    team publishes alongside a training corpus (the "datasheet" summary):
    document and token volume, exact-duplicate rate (1 - distinct
    sha256(text) share), Gopher-rule keep rate, and mean novel-text share
    (ngram_novelty; docs shorter than the window are excluded from the
    mean by the LEFT join's NULLs, which avg() skips in both engines).
    Declared as ONE query so the driver hash-checks the session's
    curation operators COMPOSED, not just in isolation (the
    curation_pipeline_stats discipline).

    Scale shape (100 TB): gopher verdicts are a shuffle-free per-row
    frame; novelty adds the span family's one fingerprint exchange; both
    join back on the stable doc_id (AQE broadcasts the narrow verdict
    frames while they fit, hash-joins at scale); ONE combinable
    aggregation keyed on source ends the pipeline — count-distinct of
    the sha is the only extra exchange and it carries 32-byte hashes,
    not documents."""
    from vectordb_explorations_spark.functions.rounding import round6
    from vectordb_explorations_spark.operators.dedup import ngram_novelty
    from vectordb_explorations_spark.operators.textops import _gopher_signals

    base = docs.select(
        "doc_id", "source",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.sha2(F.col("text"), 256).alias("sha"))
    g = _gopher_signals(docs).select(
        "doc_id", F.col("keep").cast("int").alias("keep_i"))
    nv = ngram_novelty(docs).select("doc_id", "novelty")
    j = base.join(g, "doc_id").join(nv, "doc_id", "left")
    agg = (j.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").alias("total_tokens"),
                F.countDistinct("sha").alias("distinct_texts"),
                F.avg("keep_i").alias("keep_rate_raw"),
                F.avg("novelty").alias("novelty_raw")))
    return (agg.select(
        "source", "n_docs", "total_tokens", "distinct_texts",
        round6(F.lit(1.0) - F.col("distinct_texts").cast("double")
               / F.col("n_docs")).alias("exact_dup_rate"),
        round6(F.col("keep_rate_raw")).alias("gopher_keep_rate"),
        round6(F.col("novelty_raw")).alias("mean_novelty"))
        .orderBy("source"))


def source_data_cards_oracle() -> str:
    from vectordb_explorations_spark.functions.rounding import r6
    from vectordb_explorations_spark.operators.dedup import (
        ngram_novelty_oracle)
    from vectordb_explorations_spark.operators.textops import (
        gopher_quality_signals_oracle)

    gq = gopher_quality_signals_oracle().strip()
    nv = ngram_novelty_oracle().strip()
    return f"""
WITH gq AS ({gq}),
nv AS ({nv}),
base AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
         sha256(text) AS sha
  FROM documents
)
SELECT b.source, count(*) AS n_docs,
       CAST(sum(b.n_tokens) AS BIGINT) AS total_tokens,
       count(DISTINCT b.sha) AS distinct_texts,
       {r6('1.0 - count(DISTINCT b.sha)::DOUBLE / count(*)')}
         AS exact_dup_rate,
       {r6('avg(CASE WHEN gq.keep THEN 1 ELSE 0 END)')}
         AS gopher_keep_rate,
       {r6('avg(nv.novelty)')} AS mean_novelty
FROM base b JOIN gq USING (doc_id) LEFT JOIN nv USING (doc_id)
GROUP BY b.source ORDER BY b.source
"""
