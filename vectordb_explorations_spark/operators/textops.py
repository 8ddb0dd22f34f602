"""Text-analysis operators over `documents` — north-star extensions
(SURVEY §2.2: the reference has no string functions at all; its only string
op is debug printing, hnsw.cc:86-91).

All pure built-in expressions (whole-stage codegen, no Python in the path),
each with a DuckDB oracle twin. Regexes restrict to syntax shared by Java's
engine and RE2.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

from vectordb_explorations_spark.functions.rounding import r6, round6

# Tiny per-language marker lists over the synthetic vocabulary. The point is
# a deterministic, oracle-checkable n-gram/stopword heuristic shape — exactly
# what a real lang-ID (e.g. fastText-style profiles) plugs into.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "data", "fast"],
    "de": ["table", "row", "scan", "der"],
    "es": ["query", "join", "el", "la"],
    "fr": ["merge", "sort", "le", "les"],
    "zh": ["vector", "hash", "shi", "de2"],
}
LANG_ORDER = ["en", "de", "es", "fr", "zh"]  # tie-break priority

STOPWORDS = ["the", "a", "of", "and", "to", "in"]

# Word-ish tokens: letter runs, digit runs, or single non-space symbols —
# a BPE-style pre-tokenizer shape portable between Java regex and RE2.
TOKEN_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

FINGERPRINT_SHINGLE = 4


def _sorted_by(df: DataFrame, *cols: str) -> DataFrame:
    """``df.orderBy(*cols)`` for a per-row kernel read off the scan, with
    the kernel ending at a hash exchange on the sort key. A global sort
    first runs a sampling job over its input to pick range bounds; over
    the bare kernel that job would tokenize the whole corpus, and the
    sort's shuffle would tokenize it again. Behind the exchange the
    sampling job reads shuffle output, so the corpus is read, and the
    kernel run, in one stage. Stays lazy: nothing is cached. An op
    composed into a larger plan is read through its unordered kernel
    (``_text_stats``, ``_gopher_signals``, ...), where the exchange
    would be a wasted shuffle."""
    return df.repartition(*cols).orderBy(*cols)


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-doc quality metrics: token counts, uniqueness, mean token length,
    stopword ratio, and a composite quality score — the standard features a
    corpus-quality filter thresholds on. One corpus stage: the kernel runs
    once, ahead of the ordered output (``_sorted_by``)."""
    return _sorted_by(_text_stats(docs), "doc_id")


def _text_stats(docs: DataFrame) -> DataFrame:
    """text_stats' per-row kernel, unordered."""
    # tokenize once into a projected column — repeating split(text) in
    # each metric re-tokenizes per expression (interpreted HOFs don't CSE)
    docs = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    words = F.col("ws")
    n_tokens = F.size(words)
    n_unique = F.size(F.array_distinct(words))
    sw_array = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(sw_array, w)))
    mean_len = (F.aggregate(words, F.lit(0.0),
                            lambda acc, w: acc + F.length(w).cast("double"))
                / n_tokens.cast("double"))
    uniq_ratio = n_unique.cast("double") / n_tokens.cast("double")
    stop_ratio = n_stop.cast("double") / n_tokens.cast("double")
    quality = 0.5 * uniq_ratio + 0.3 * (F.lit(1.0) - stop_ratio) + 0.2 * F.least(
        mean_len / F.lit(10.0), F.lit(1.0))
    # round6, not F.round: these ratios of small integers land on exact
    # .XXXXXX5 boundaries where decimal-repr rounding and the oracle's
    # binary rounding disagree by one final digit (functions/rounding.py)
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_unique.alias("n_unique"),
        round6(mean_len).alias("mean_token_len"),
        round6(uniq_ratio).alias("unique_ratio"),
        round6(stop_ratio).alias("stopword_ratio"),
        round6(quality).alias("quality"),
    )


def text_stats_oracle() -> str:
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH s AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), m AS (
  SELECT doc_id,
         len(w) AS n_tokens,
         len(list_distinct(w)) AS n_unique,
         list_sum(list_transform(w, x -> CAST(length(x) AS DOUBLE))) / len(w) AS mean_len,
         len(list_filter(w, x -> list_contains([{sw}], x)))::DOUBLE / len(w) AS stop_ratio
  FROM s
)
SELECT doc_id, n_tokens, n_unique,
       {r6('mean_len')} AS mean_token_len,
       {r6('n_unique::DOUBLE / n_tokens')} AS unique_ratio,
       {r6('stop_ratio')} AS stopword_ratio,
       {r6("0.5 * (n_unique::DOUBLE / n_tokens) + 0.3 * (1.0 - stop_ratio) + 0.2 * least(mean_len / 10.0, 1.0)")} AS quality
FROM m ORDER BY doc_id
"""


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-word language ID: score = count of words in each language's
    marker list; argmax with a fixed tie-break order. Deterministic by
    construction (the fixture's `lang` column is the label to compare
    against, not an input). One corpus stage (``_sorted_by``)."""
    return _sorted_by(_lang_id(docs), "doc_id")


def _lang_id(docs: DataFrame) -> DataFrame:
    """lang_id's per-row kernel, unordered."""
    docs = docs.select("doc_id", "lang",
                       F.split(F.col("text"), " ").alias("ws"))
    words = F.col("ws")

    def marker_hits(markers: list[str]):
        arr = F.array(*[F.lit(w) for w in markers])
        # NB: the lambda must take exactly one arg — PySpark inspects arity
        # and would treat a second (even defaulted) arg as the index.
        return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))

    scores = {lang: marker_hits(markers) for lang, markers in LANG_MARKERS.items()}
    best = F.greatest(*[scores[lg] for lg in LANG_ORDER])
    pred = None
    for lg in reversed(LANG_ORDER):
        cond = F.when(scores[lg] == best, F.lit(lg))
        pred = cond.otherwise(pred) if pred is not None else cond
    return docs.select(
        "doc_id", F.col("lang").alias("labeled_lang"),
        *[scores[lg].alias(f"score_{lg}") for lg in LANG_ORDER],
        pred.alias("predicted_lang"))


def lang_id_oracle() -> str:
    score_exprs = []
    for lg in LANG_ORDER:
        markers = ", ".join(f"'{w}'" for w in LANG_MARKERS[lg])
        score_exprs.append(
            f"len(list_filter(string_split(text, ' '), x -> list_contains([{markers}], x))) AS score_{lg}")
    # argmax with LANG_ORDER tie-break = first lang in order reaching the max
    pred = "CASE " + " ".join(
        f"WHEN score_{lg} = greatest({', '.join('score_' + o for o in LANG_ORDER)}) THEN '{lg}'"
        for lg in LANG_ORDER) + " END"
    return f"""
WITH s AS (SELECT doc_id, lang AS labeled_lang, {', '.join(score_exprs)} FROM documents)
SELECT doc_id, labeled_lang, {', '.join('score_' + lg for lg in LANG_ORDER)},
       {pred} AS predicted_lang
FROM s ORDER BY doc_id
"""


def token_counts(docs: DataFrame) -> DataFrame:
    """Regex (BPE-ish pre-tokenizer) token counting + chars-per-token — the
    cost-estimation primitives of an LLM data pipeline. One corpus stage
    (``_sorted_by``)."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0)
    n = F.size(toks)
    return _sorted_by(docs.select(
        "doc_id",
        F.length("text").alias("n_chars_measured"),
        n.alias("n_regex_tokens"),
        F.round(F.length("text").cast("double") / n.cast("double"), 6)
        .alias("chars_per_token"),
    ), "doc_id")


def token_counts_oracle() -> str:
    return f"""
SELECT doc_id,
       length(text) AS n_chars_measured,
       len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS n_regex_tokens,
       round(length(text)::DOUBLE / len(regexp_extract_all(text, '{TOKEN_REGEX}')), 6)
         AS chars_per_token
FROM documents ORDER BY doc_id
"""


def doc_fingerprints(docs: DataFrame, k: int = FINGERPRINT_SHINGLE) -> DataFrame:
    """Document fingerprint: minimum md5 over k-word shingles (min-sampling of
    a rolling-hash family — one representative hash per doc, MOSS/winnowing
    style). Equal fingerprints ⇒ shared k-shingle. One corpus stage
    (``_sorted_by``)."""
    # Hoist the split into a projected column: referencing split(text)
    # inside the transform lambda re-tokenizes the document once per
    # shingle in the interpreted higher-order-function path (~4x slower,
    # same trap as dedup._exploded_shingles notes).
    shingle_parts = ", ' ', ".join(f"ws[i+{j}]" for j in range(k))
    expr = (f"CASE WHEN size(ws) >= {k} THEN "
            f"array_min(transform(sequence(0, size(ws) - {k}), "
            f"i -> md5(concat({shingle_parts})))) "
            f"ELSE md5(text) END")
    return _sorted_by(
        docs.select("doc_id", "text", F.split("text", " ").alias("ws"))
        .select("doc_id", F.expr(expr).alias("fingerprint")),
        "doc_id")


def doc_fingerprints_oracle(k: int = FINGERPRINT_SHINGLE) -> str:
    words = "string_split(text, ' ')"
    shingle_parts = ", ' ', ".join(f"{words}[i+{j}]" for j in range(k))
    return f"""
SELECT doc_id,
       CASE WHEN len({words}) >= {k} THEN
         list_aggregate(list_transform(range(1, len({words}) - {k - 2}),
                        i -> md5(concat({shingle_parts}))), 'min')
       ELSE md5(text) END AS fingerprint
FROM documents ORDER BY doc_id
"""


def clean_text(docs: DataFrame) -> DataFrame:
    """Normalization stage of a training-data pipeline: lowercase, strip
    non-alphanumerics, collapse runs of whitespace, trim. Declared output
    is the cleaned text's md5 + lengths (hash-stable across engines; the
    regexes use only character classes, identical in Java regex and RE2).
    One corpus stage (``_sorted_by``)."""
    cleaned = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
        " +", " "))
    return _sorted_by(docs.select(
        "doc_id",
        F.length("text").alias("raw_len"),
        F.length(cleaned).alias("clean_len"),
        F.md5(cleaned).alias("clean_md5")), "doc_id")


CLEAN_TEXT_ORACLE = """
WITH c AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                             ' +', ' ', 'g')) AS cleaned
  FROM documents
)
SELECT doc_id, length(text) AS raw_len, length(cleaned) AS clean_len,
       md5(cleaned) AS clean_md5
FROM c ORDER BY doc_id
"""


QF_MIN_TOKENS = 5
QF_MAX_STOP_RATIO = 0.5
QF_MIN_UNIQUE_RATIO = 0.3
QF_MIN_QUALITY = 0.5


def quality_filter(docs: DataFrame) -> DataFrame:
    """The corpus-filter stage: threshold the text_stats metrics and emit
    per-doc keep/drop with the firing reasons (pipe-joined, ordered) — the
    audit output a data pipeline persists alongside the filtered corpus.
    One corpus stage: text_stats' kernel runs once (``_sorted_by``)."""
    return _sorted_by(_quality_filter(docs), "doc_id")


def _quality_filter(docs: DataFrame) -> DataFrame:
    """quality_filter's per-row kernel, unordered."""
    m = _text_stats(docs)
    reasons = F.concat_ws(
        "|",
        F.when(F.col("n_tokens") < QF_MIN_TOKENS, F.lit("too_short")),
        F.when(F.col("stopword_ratio") > QF_MAX_STOP_RATIO, F.lit("stopword_heavy")),
        F.when(F.col("unique_ratio") < QF_MIN_UNIQUE_RATIO, F.lit("repetitive")),
        F.when(F.col("quality") < QF_MIN_QUALITY, F.lit("low_quality")))
    return m.select("doc_id", "n_tokens", F.col("quality"),
                    (reasons == "").alias("keep"),
                    reasons.alias("drop_reasons"))


def quality_filter_oracle() -> str:
    stats = text_stats_oracle().strip()
    return f"""
WITH stats AS ({stats})
SELECT doc_id, n_tokens, quality,
       concat_ws('|',
         CASE WHEN n_tokens < {QF_MIN_TOKENS} THEN 'too_short' END,
         CASE WHEN stopword_ratio > {QF_MAX_STOP_RATIO} THEN 'stopword_heavy' END,
         CASE WHEN unique_ratio < {QF_MIN_UNIQUE_RATIO} THEN 'repetitive' END,
         CASE WHEN quality < {QF_MIN_QUALITY} THEN 'low_quality' END) = ''
         AS keep,
       concat_ws('|',
         CASE WHEN n_tokens < {QF_MIN_TOKENS} THEN 'too_short' END,
         CASE WHEN stopword_ratio > {QF_MAX_STOP_RATIO} THEN 'stopword_heavy' END,
         CASE WHEN unique_ratio < {QF_MIN_UNIQUE_RATIO} THEN 'repetitive' END,
         CASE WHEN quality < {QF_MIN_QUALITY} THEN 'low_quality' END)
         AS drop_reasons
FROM stats ORDER BY doc_id
"""


VOCAB_TOP_N = 100


def vocab_stats(docs: DataFrame, top_n: int = VOCAB_TOP_N) -> DataFrame:
    """Corpus vocabulary heavy-hitters: term frequency, document frequency,
    and smoothed IDF for the top-N tokens — the vocabulary-building stage of
    a training-data pipeline (tokenizer fitting, stopword discovery).

    Scale shape: explode → groupBy(token) does map-side partial aggregation,
    so zipfian head tokens ("the") never concentrate raw rows on one reducer;
    the corpus size joins in as a broadcast scalar, and only the top-N
    survive the final TakeOrderedAndProject."""
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    g = toks.groupBy("token").agg(
        F.count("*").alias("tf"),
        F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    idf = F.round(
        F.log((F.lit(1.0) + F.col("n_docs")) / (F.lit(1.0) + F.col("df"))), 6)
    return (g.crossJoin(F.broadcast(n))
            .select("token", "tf", "df", idf.alias("idf"))
            .orderBy(F.col("tf").desc(), "token")
            .limit(top_n))


def vocab_stats_oracle(top_n: int = VOCAB_TOP_N) -> str:
    return f"""
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
n AS (SELECT count(*) AS n_docs FROM documents),
g AS (SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df FROM t GROUP BY token)
SELECT token, tf, df,
       round(ln((1.0 + n_docs) / (1.0 + df)), 6) AS idf
FROM g, n
ORDER BY tf DESC, token
LIMIT {top_n}
"""


def doc_length_percentiles(docs: DataFrame) -> DataFrame:
    """Per-language document-length distribution: exact continuous p50/p90/p99
    of n_chars plus count and mean — the corpus-profiling query that sizes
    context windows and flags truncation risk per language.

    Exact percentile is a sort-based aggregate (one keyed shuffle on lang);
    at 100 TB swap in approx_percentile for a mergeable sketch — the declared
    exact form is the oracle-checkable twin."""
    pct = F.percentile("n_chars", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (docs.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 round6(F.avg("n_chars")).alias("mean_chars"),
                 F.round(F.try_element_at(pct, F.lit(1)), 6).alias("p50_chars"),
                 F.round(F.try_element_at(pct, F.lit(2)), 6).alias("p90_chars"),
                 F.round(F.try_element_at(pct, F.lit(3)), 6).alias("p99_chars"))
            .orderBy("lang"))


DOC_LENGTH_PERCENTILES_ORACLE = f"""
SELECT lang,
       count(*) AS n_docs,
       {r6('avg(n_chars)')} AS mean_chars,
       round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
       round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
       round(quantile_cont(n_chars, 0.99), 6) AS p99_chars
FROM documents GROUP BY lang ORDER BY lang
"""


def mask_pii(docs: DataFrame) -> DataFrame:
    """PII-scrubbing stage shape: mask email-like tokens and digit runs
    before training. Regexes restrict to alternation + character classes
    (identical in Java regex and RE2); declared output is the masked
    text's md5 + how many substitutions fired, so the transform is
    hash-pinned without shipping raw text. One corpus stage
    (``_sorted_by``)."""
    emailish = "[a-zA-Z0-9_.]+@[a-zA-Z0-9.]+"
    masked = F.regexp_replace(
        F.regexp_replace(F.col("text"), emailish, "[EMAIL]"),
        "[0-9]+", "[NUM]")
    n_email = F.size(F.split(F.col("text"), emailish)) - 1
    n_num = F.size(F.split(F.regexp_replace(F.col("text"), emailish, "[EMAIL]"),
                           "[0-9]+")) - 1
    return _sorted_by(docs.select(
        "doc_id",
        F.md5(masked).alias("masked_md5"),
        n_email.alias("n_emails_masked"),
        n_num.alias("n_numbers_masked")), "doc_id")


def mask_pii_oracle() -> str:
    emailish = "[a-zA-Z0-9_.]+@[a-zA-Z0-9.]+"
    return f"""
SELECT doc_id,
       md5(regexp_replace(regexp_replace(text, '{emailish}', '[EMAIL]', 'g'),
                          '[0-9]+', '[NUM]', 'g')) AS masked_md5,
       len(string_split_regex(text, '{emailish}')) - 1 AS n_emails_masked,
       len(string_split_regex(regexp_replace(text, '{emailish}', '[EMAIL]', 'g'),
                              '[0-9]+')) - 1 AS n_numbers_masked
FROM documents ORDER BY doc_id
"""


# ---- intra-document repetition (Gopher-style repetition filters) ----

REP_TOP_WORD_MAX = 0.2      # most-frequent-token share above this → repetitive
REP_DUP_BIGRAM_MAX = 0.5    # duplicate-bigram share above this → repetitive


def _top_run(values: F.Column) -> F.Column:
    """Struct (cnt, top) naming a string array's most frequent value and
    its count: one ascending sort plus one run-length scan, O(n log n).
    The best is replaced only on a strictly longer run, so among values
    tied on the max count ``top`` is the lexicographically smallest. An
    empty array gives (0, null)."""
    zero = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).alias("run"),
                    F.lit(0).alias("cnt"),
                    F.lit(None).cast("string").alias("top"))

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(1)
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(run, acc["cnt"]).alias("cnt"),
                        F.when(run > acc["cnt"], x)
                        .otherwise(acc["top"]).alias("top"))

    return F.aggregate(F.array_sort(values), zero, step)


def doc_repetition_stats(docs: DataFrame) -> DataFrame:
    """Intra-document repetition metrics (the Gopher/MassiveText repetition
    rules): share of the doc taken by its single most frequent token, and
    the fraction of word bigrams that are duplicates. Boilerplate, keyword
    stuffing, and decoding loops all spike these; corpus curation drops the
    flagged docs before training.

    Shape: pure per-row array expressions — no explode, embarrassingly
    parallel at any corpus size, and one corpus stage (``_sorted_by``).
    The top-token count is one sort of the tokens plus one run-length scan
    (``_top_run``), O(n log n) per row."""
    docs = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    words = F.col("ws")
    n = F.size(words)
    top_cnt = _top_run(words)["cnt"]
    # guard: sequence(1, 0) DESCENDS ([1, 0]) rather than yielding an empty
    # array, so a 1-token doc would index element 0 and throw under ANSI
    bigrams = F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.element_at(words, i),
                              F.element_at(words, i + 1)))
    ).otherwise(F.array().cast("array<string>"))
    n_bi = F.size(bigrams).cast("double")
    dup_bigram_frac = F.when(
        n >= 2, F.lit(1.0) - F.size(F.array_distinct(bigrams)) / n_bi
    ).otherwise(F.lit(0.0))
    top_word_frac = top_cnt.cast("double") / n.cast("double")
    repetitive = ((top_word_frac > REP_TOP_WORD_MAX)
                  | (dup_bigram_frac > REP_DUP_BIGRAM_MAX)).cast("int")
    return _sorted_by(docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(top_word_frac, 6).alias("top_word_frac"),
        F.round(dup_bigram_frac, 6).alias("dup_bigram_frac"),
        repetitive.alias("repetitive")), "doc_id")


def doc_repetition_stats_oracle() -> str:
    return f"""
WITH s AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), m AS (
  SELECT doc_id, len(w) AS n,
         list_max(list_transform(list_distinct(w),
                                 u -> len(list_filter(w, x -> x = u)))) AS top_cnt,
         list_transform(generate_series(1, len(w) - 1),
                        i -> array_to_string(w[i:i+1], ' ')) AS bg
  FROM s
)
SELECT doc_id, n AS n_tokens,
       round(top_cnt::DOUBLE / n, 6) AS top_word_frac,
       round(1.0 - len(list_distinct(bg))::DOUBLE / len(bg), 6) AS dup_bigram_frac,
       CAST((top_cnt::DOUBLE / n > {REP_TOP_WORD_MAX}
             OR 1.0 - len(list_distinct(bg))::DOUBLE / len(bg)
                > {REP_DUP_BIGRAM_MAX}) AS INT) AS repetitive
FROM m ORDER BY doc_id
"""


# ---- eval-set contamination (n-gram decontamination) ----

CONTAM_NGRAM = 8      # word n-gram size (GPT-3/PaLM decontamination used 8-13)
CONTAM_EVAL_MOD = 50  # doc_id % MOD == 0 → held-out "eval" doc (deterministic)


def contamination_check(docs: DataFrame, k: int = CONTAM_NGRAM,
                        eval_mod: int = CONTAM_EVAL_MOD) -> DataFrame:
    """Training-set decontamination: flag training docs sharing any word
    ``k``-gram with the held-out eval slice (here the deterministic
    ``doc_id % eval_mod == 0`` subset standing in for a benchmark suite).
    Output: one row per contaminated training doc with its distinct-k-gram
    count, how many of those appear anywhere in the eval slice, and the
    contaminated fraction.

    Scale shape: eval-set k-grams are DISTINCT'd then broadcast (eval
    suites are tiny next to a 100 TB corpus); training k-grams stream
    through a map-side broadcast semi-join and a combinable count — no
    all-pairs comparison, no big-side shuffle. At extreme eval sizes the
    same plan holds with the broadcast dropped (AQE falls back to a hash
    join keyed on the gram)."""
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    n = F.size("ws")
    # the when-guard makes the expression total: sequence(1, n-k+1) with
    # n < k DESCENDS to [1, 0] and slice(start=0) throws — the row filter
    # alone doesn't protect constant-folded plans (LocalRelation inputs)
    grams = F.when(n >= k, F.array_distinct(F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.concat_ws(" ", F.slice("ws", i, k))))
    ).otherwise(F.array().cast("array<string>"))
    g = toks.where(n >= k).select("doc_id", grams.alias("gs"))
    eval_grams = (g.where(F.col("doc_id") % eval_mod == 0)
                  .select(F.explode("gs").alias("gram")).distinct())
    train = (g.where(F.col("doc_id") % eval_mod != 0)
             .select("doc_id", F.size("gs").alias("n_grams"),
                     F.explode("gs").alias("gram")))
    hits = (train.join(F.broadcast(eval_grams), "gram")
            .groupBy("doc_id", "n_grams")
            .agg(F.count(F.lit(1)).alias("n_contaminated")))
    return (hits.select(
        "doc_id", "n_grams", "n_contaminated",
        F.round(F.col("n_contaminated") / F.col("n_grams").cast("double"),
                6).alias("contam_frac"))
        .orderBy("doc_id"))


def contamination_check_oracle(k: int = CONTAM_NGRAM,
                               eval_mod: int = CONTAM_EVAL_MOD) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(
             generate_series(1, len(w) - {k - 1}),
             i -> array_to_string(w[i:i+{k - 1}], ' '))) AS gs
  FROM tok WHERE len(w) >= {k}
), ev AS (
  SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % {eval_mod} = 0
), tr AS (
  SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS gram
  FROM g WHERE doc_id % {eval_mod} <> 0
)
SELECT tr.doc_id, tr.n_grams, count(*) AS n_contaminated,
       round(count(*)::DOUBLE / tr.n_grams, 6) AS contam_frac
FROM tr JOIN ev USING (gram)
GROUP BY tr.doc_id, tr.n_grams
ORDER BY tr.doc_id
"""


# ---- UDAF surface: pandas GROUPED_AGG aggregate ----


def lang_geomean_chars(docs: DataFrame) -> DataFrame:
    """True UDAF surface: a pandas GROUPED_AGG UDF computing the geometric
    mean of document length per language — an aggregate neither Spark nor
    DuckDB ships natively, so it exercises the custom-aggregate extension
    point (SURVEY §2.2 UDF/UDAF/UDTF row) rather than re-wrapping a
    built-in. Arrow moves each group's column once; the aggregate itself
    is one NumPy reduction per group.

    Rounded to 4dp (not the usual 6): exp amplifies last-bit differences
    in the log-mean between engines by the magnitude of the result.
    """
    from pyspark.sql.functions import pandas_udf

    # NB: pandas_udf infers GROUPED_AGG from the Series -> scalar type
    # hints, and resolves the (string) annotations against the function's
    # MODULE globals — hence the module-level pandas import.
    @pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        import numpy as np
        return float(np.exp(np.log(v.to_numpy(dtype="float64")).mean()))

    # Spark disallows mixing grouped-agg pandas UDFs with built-in
    # aggregates in one agg() — the count rides the same Arrow batch.
    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    return (docs.groupBy("lang")
            .agg(n_rows("doc_id").alias("n_docs"),
                 F.round(geomean("n_chars"), 4).alias("geomean_chars"))
            .orderBy("lang"))


LANG_GEOMEAN_CHARS_ORACLE = """
SELECT lang,
       count(*) AS n_docs,
       round(exp(avg(ln(n_chars))), 4) AS geomean_chars
FROM documents GROUP BY lang ORDER BY lang
"""


# ---- corpus language-model scoring (unigram log-prob) ----


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-document unigram log-probability under the corpus's own token
    distribution — the stand-in for LM-based quality scoring (KenLM-style
    perplexity filters): unusually improbable documents (garbled text,
    wrong-language islands) rank lowest on avg log-prob.

    Scale shape: two combinable aggregations (token counts; per-doc sum)
    around one equi-join keyed on the token. The vocabulary side is
    zipf-bounded (far smaller than the corpus), so AQE broadcasts it when
    it fits and falls back to a hash join keyed on the token when it
    doesn't; the corpus total rides in as a broadcast 1-row crossJoin."""
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tok_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = tok_counts.agg(F.sum("cnt").cast("double").alias("total"))
    probs = (tok_counts.crossJoin(F.broadcast(total))
             .select("tok", F.log(F.col("cnt") / F.col("total")).alias("logp")))
    return (toks.join(probs, "tok")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round(F.sum("logp"), 4).alias("logprob"),
                 F.round(F.avg("logp"), 6).alias("avg_logp"))
            .orderBy("doc_id"))


UNIGRAM_LOGPROB_ORACLE = """
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), c AS (
  SELECT tok, count(*) AS cnt FROM t GROUP BY tok
), tot AS (
  SELECT sum(cnt)::DOUBLE AS total FROM c
), p AS (
  SELECT tok, ln(cnt / total) AS logp FROM c, tot
)
SELECT doc_id, count(*) AS n_tokens,
       round(sum(logp), 4) AS logprob,
       round(avg(logp), 6) AS avg_logp
FROM t JOIN p USING (tok)
GROUP BY doc_id ORDER BY doc_id
"""


# ---- BPE trainer first-merge statistics ----

BPE_TOP_PAIRS = 50


def bpe_pair_stats(docs: DataFrame, top_n: int = BPE_TOP_PAIRS) -> DataFrame:
    """Corpus-wide adjacent-character pair frequencies — the counting step
    behind a BPE tokenizer trainer's first merge decision. Top pairs by
    count (pair string tie-break) with their corpus share.

    Scale shape: explode to within-word char pairs, one combinable
    groupBy(pair) count (map-side partial handles the zipf head), total as
    a broadcast scalar, top-N via TakeOrderedAndProject."""
    words = (docs.select(F.explode(F.split("text", " ")).alias("w"))
             .where(F.length("w") >= 2))
    # when-guard: sequence(1, 0) DESCENDS for 1-char words (constant-folded
    # plans evaluate projections regardless of the row filter)
    pairs_expr = F.when(
        F.length("w") >= 2,
        F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
    ).otherwise(F.array().cast("array<string>"))
    pairs = words.select(F.explode(pairs_expr).alias("pair"))
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").cast("double").alias("total"))
    return (counts.crossJoin(F.broadcast(total))
            .select("pair", "cnt",
                    F.round(F.col("cnt") / F.col("total"), 6).alias("share"))
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .limit(top_n))


def bpe_pair_stats_oracle(top_n: int = BPE_TOP_PAIRS) -> str:
    return f"""
WITH w AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
), p AS (
  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                               i -> w[i:i+1])) AS pair
  FROM w WHERE length(w) >= 2
), c AS (
  SELECT pair, count(*) AS cnt FROM p GROUP BY pair
), tot AS (
  SELECT sum(cnt)::DOUBLE AS total FROM c
)
SELECT pair, cnt, round(cnt / total, 6) AS share
FROM c, tot
ORDER BY cnt DESC, pair ASC
LIMIT {top_n}
"""


# ---- deterministic BPE-apply: tokenizer-faithful token accounting ----
#
# bpe_pair_stats counts the TRAINER's first-merge statistics;
# bpe_token_counts APPLIES a fixed merges table so budget views report
# what a trainer's tokenizer would actually see (r11 verdict "What's
# missing" #2: whitespace counts are not BPE budgets). The table is a
# FIXED literal — sixteen merges derived once from the fixture corpus's
# own top pair statistics (the bpe_pair_stats output) plus their
# natural cascades, baked so the operator is deterministic and the
# oracle can replay it; a production deployment swaps in its
# tokenizer's merges file.
#
# Ordering contract: every composite token's constituent merges precede
# it (the order a BPE trainer learns them in). Under that ordering, ONE
# sequential global-replace pass per merge is exactly the canonical
# lowest-rank-first merge loop: a later rule can never create an
# adjacency an earlier rule would have consumed, because an earlier
# rule's operands are producible only by still-earlier rules.

BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("t", "a"), ("er", "y"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("r", "ow"), ("j", "o"), ("jo", "in"), ("h", "a"), ("ha", "s"),
    ("has", "h"),
]


def _bpe_spaced(col: F.Column,
                merges: list[tuple[str, str]] | None = None) -> F.Column:
    """Token stream as a delimited string: tokens separated by TWO
    spaces and wrapped by one (' t  a  b '), then one literal replace
    per merge (' a  b ' -> ' ab '). The double-space separator is the
    boundary guard: in ' ta  b ' the pattern ' a  b ' cannot match
    (no space precedes the 'a' inside 'ta'), where a single-space form
    'ta b' WOULD false-match 'a b' and merge across a token boundary.
    A replacement consumes one boundary space each side and re-emits
    both, so consecutive merge sites stay matchable in the same pass.
    All string ops are literal (non-regex) JVM replaces after the one
    regexp char-split — whole-stage codegen, no Python."""
    spaced = F.concat(F.lit(" "),
                      F.trim(F.regexp_replace(col, "(.)", "$1  ")),
                      F.lit(" "))
    for a, b in (BPE_MERGES if merges is None else merges):
        spaced = F.replace(spaced, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    return spaced


def bpe_word_tokens(col: F.Column,
                    merges: list[tuple[str, str]] | None = None) -> F.Column:
    """Number of BPE tokens a word resolves to under the fixed merges
    table: the final token count of the delimited stream."""
    return F.size(F.split(F.trim(_bpe_spaced(col, merges)), "  "))


def bpe_token_counts(docs: DataFrame,
                     merges: list[tuple[str, str]] | None = None
                     ) -> DataFrame:
    """Per-source token accounting under the engine's deterministic
    BPE-apply: document volume, whitespace token count, BPE token count
    (the budget a trainer actually consumes), and tokens-per-word —
    the tokenizer-faithful twin of mixture_plan's whitespace budgets.
    ``merges`` defaults to the baked BPE_MERGES table; the learned
    composition (``bpe_learned_budget``) passes the trainer's output.

    Both counts run over the same exploded non-empty words, so the
    ratio is exact by construction. Scale shape (100 TB): one corpus
    scan — explode to words, a chain of sixteen codegen literal
    replaces per word, then ONE combinable groupBy(source) agg; no
    joins, no second pass, no Python."""
    words = (docs.select("source",
                         F.explode(F.split("text", " ")).alias("w"))
             .where(F.length("w") >= 1))
    per_word = words.select("source", bpe_word_tokens(F.col("w"), merges)
                            .alias("tok_cnt"))
    docs_per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"))
    agg = (per_word.groupBy("source")
           .agg(F.count(F.lit(1)).alias("ws_tokens"),
                F.sum("tok_cnt").alias("bpe_tokens")))
    return (agg.join(F.broadcast(docs_per_source), "source")
            .select("source", "n_docs", "ws_tokens", "bpe_tokens",
                    round6(F.col("bpe_tokens").cast("double")
                           / F.col("ws_tokens")).alias("tokens_per_word"))
            .orderBy("source"))


def bpe_word_tokens_sql(var: str = "w") -> str:
    """DuckDB twin of :func:`bpe_word_tokens` as an expression over
    ``var`` (a column or lambda variable): the char split, the
    double-space boundary guard, the sequential merges, the final
    token count."""
    spaced = f"' ' || trim(regexp_replace({var}, '(.)', '\\1  ', 'g')) || ' '"
    for a, b in BPE_MERGES:
        spaced = f"replace({spaced}, ' {a}  {b} ', ' {a}{b} ')"
    return f"len(string_split(trim({spaced}), '  '))"


def bpe_token_counts_oracle() -> str:
    spaced = "' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' '"
    for a, b in BPE_MERGES:
        spaced = f"replace({spaced}, ' {a}  {b} ', ' {a}{b} ')"
    return f"""
WITH w AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
), t AS (
  SELECT source, len(string_split(trim({spaced}), '  ')) AS tok_cnt
  FROM w WHERE length(w) >= 1
), d AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
), a AS (
  -- ::BIGINT: DuckDB sum(BIGINT) promotes to HUGEINT, which Spark
  -- cannot emit (the typed-hash guard in test_oracle_parity)
  SELECT source, count(*) AS ws_tokens,
         sum(tok_cnt)::BIGINT AS bpe_tokens
  FROM t GROUP BY source
)
SELECT source, n_docs, ws_tokens, bpe_tokens,
       {r6('bpe_tokens::DOUBLE / ws_tokens')} AS tokens_per_word
FROM a JOIN d USING (source)
ORDER BY source
"""


# ---- deterministic BPE merge LEARNING ----
#
# bpe_pair_stats counts the trainer's FIRST-merge statistics and
# bpe_token_counts APPLIES a fixed table; this learns the table itself —
# the canonical BPE training loop (Sennrich et al. 2016) run for a fixed
# number of ranks: count adjacent symbol pairs over the word-frequency
# dictionary, merge the most frequent pair (count DESC, pair ASC
# tie-break — fully deterministic), repeat on the rewritten symbols.

BPE_LEARN_RANKS = 8


def _spaced_expr(col: F.Column) -> F.Column:
    """' t  e  x  t ' initial symbol stream (the _bpe_spaced form,
    before any merges)."""
    return F.concat(F.lit(" "),
                    F.trim(F.regexp_replace(col, "(.)", "$1  ")),
                    F.lit(" "))


def bpe_learn_merges(docs: DataFrame,
                     n_merges: int = BPE_LEARN_RANKS) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from the corpus:
    (merge_rank, lhs, rhs, pair_count) — the trainer half that
    completes the tokenizer story (stats -> LEARN -> apply).

    Shape per rank over the DISTINCT-WORD frequency dictionary (the
    classic trainer state — corpus text is scanned ONCE to build it,
    every iteration after touches only |vocab| rows): stage the symbol
    array through a projection (HOFs re-inline composed expressions),
    explode adjacent pairs weighted by word count, one combinable
    groupBy agg, a deterministic 1-row argmax, then ONE literal
    replace (the double-space boundary guard from _bpe_spaced, with
    the learned pair as broadcast columns). Each iteration
    localCheckpoints — the propagate_min_labels discipline: without
    it every rank's argmax re-executes all previous ranks' subtrees
    (Spark reuses no identical children) and the plan grows
    exponentially in rank. At 100 TB the dictionary is the zipf
    vocabulary (millions of rows, not the corpus), so eight bounded
    iterations are flat.

    Stops early if the corpus runs out of pairs (ranks simply end —
    the oracle's empty-CTE cascade matches)."""
    words = (docs.select(F.explode(F.split("text", " ")).alias("w"))
             .where(F.length("w") >= 1))
    wf = (words.groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
          .select(_spaced_expr(F.col("w")).alias("sp"), "wc")
          .localCheckpoint())
    spark = docs.sparkSession
    out_schema = ("merge_rank int, lhs string, rhs string, "
                  "pair_count bigint")
    ranks = []
    for r in range(1, n_merges + 1):
        syms = wf.withColumn("s", F.split(F.trim(F.col("sp")), "  "))
        pair_arr = F.when(
            F.size("s") >= 2,
            F.expr("transform(sequence(1, size(s) - 1), i -> "
                   "struct(element_at(s, i) AS lhs, "
                   "element_at(s, i + 1) AS rhs))")
        ).otherwise(F.expr(
            "CAST(array() AS array<struct<lhs:string,rhs:string>>)"))
        top = (syms.select(F.explode(pair_arr).alias("p"), "wc")
               .groupBy("p.lhs", "p.rhs")
               .agg(F.sum("wc").alias("pair_count"))
               .orderBy(F.col("pair_count").desc(), F.col("lhs").asc(),
                        F.col("rhs").asc())
               .limit(1)
               .select(F.lit(r).alias("merge_rank"), "lhs", "rhs",
                       "pair_count")
               .localCheckpoint())
        if top.count() == 0:
            break
        ranks.append(top)
        wf = (wf.crossJoin(F.broadcast(top.select("lhs", "rhs")))
              .select(F.replace(
                  F.col("sp"),
                  F.concat(F.lit(" "), F.col("lhs"), F.lit("  "),
                           F.col("rhs"), F.lit(" ")),
                  F.concat(F.lit(" "), F.col("lhs"), F.col("rhs"),
                           F.lit(" "))).alias("sp"), "wc")
              .localCheckpoint())
    if not ranks:
        return spark.createDataFrame([], out_schema)
    out = ranks[0]
    for t in ranks[1:]:
        out = out.unionByName(t)
    return out.orderBy("merge_rank")


def _bpe_learn_ctes(n_merges: int = BPE_LEARN_RANKS) -> list[str]:
    """The trainer's CTE blocks (w0 dictionary, then one
    count/argmax/rewrite triple per rank) as a reusable list — shared
    by the trainer oracle and the learned-budget composition so the
    two cannot drift (the r12 ADVICE builder discipline)."""
    spaced0 = ("' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g')) "
               "|| ' '")
    blocks = [f"""w0 AS (
  SELECT {spaced0} AS sp, count(*)::BIGINT AS wc
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) >= 1 GROUP BY w)"""]
    for r in range(1, n_merges + 1):
        p = r - 1
        blocks.append(f"""c{r} AS (
  SELECT s[u.i] AS lhs, s[u.i + 1] AS rhs, sum(wc)::BIGINT AS pair_count
  FROM (SELECT string_split(trim(sp), '  ') AS s, wc FROM w{p}) t,
       unnest(generate_series(1, len(s) - 1)) AS u(i)
  GROUP BY lhs, rhs),
m{r} AS (
  SELECT {r} AS merge_rank, lhs, rhs, pair_count FROM c{r}
  ORDER BY pair_count DESC, lhs ASC, rhs ASC LIMIT 1),
w{r} AS (
  SELECT replace(sp, ' ' || lhs || '  ' || rhs || ' ',
                 ' ' || lhs || rhs || ' ') AS sp, wc
  FROM w{p} CROSS JOIN m{r})""")
    return blocks


def bpe_learn_merges_oracle(n_merges: int = BPE_LEARN_RANKS) -> str:
    """Unrolled CTE chain — one (count, argmax, rewrite) block per
    rank, mechanically generated so the blocks cannot drift from each
    other (the r12 ADVICE builder discipline)."""
    union = "\nUNION ALL\n".join(f"SELECT * FROM m{r}"
                                 for r in range(1, n_merges + 1))
    return ("WITH " + ",\n".join(_bpe_learn_ctes(n_merges))
            + f"\nSELECT * FROM ({union}) ORDER BY merge_rank\n")


def bpe_learned_budget(docs: DataFrame,
                       n_merges: int = BPE_LEARN_RANKS) -> DataFrame:
    """The tokenizer loop CLOSED as one operator (r13 verdict item 2):
    LEARN the merge table from the corpus (``bpe_learn_merges``), APPLY
    the learned table to the same corpus, and report the per-source
    token BUDGET — learn -> apply -> budget, end to end, where
    ``bpe_token_counts`` applies a fixed baked table. A corpus edit
    that flips a learned merge changes the downstream budgets in both
    engines (pinned by tests/test_textops_curation.py).

    The learned table rides a BOUNDED driver collect (n_merges rows —
    training output IS driver-sized; the probe-map discipline), then
    the apply is the same one-scan chain of codegen literal replaces
    bpe_token_counts runs: no joins, no Python, no second corpus scan
    beyond the trainer's dictionary build. At 100 TB: the trainer
    iterates the zipf vocabulary, the apply pass is one corpus scan
    with a combinable agg — the same scale shape as its two halves."""
    learned = [(r["lhs"], r["rhs"])
               for r in bpe_learn_merges(docs, n_merges).collect()]
    return bpe_token_counts(docs, merges=learned)


def bpe_learned_budget_oracle(n_merges: int = BPE_LEARN_RANKS) -> str:
    """The trainer's unrolled CTE chain composed with an apply chain
    over the DOCUMENT word stream: each rank's learned (lhs, rhs) is
    applied by the same boundary-guarded replace, via LEFT JOIN ON
    TRUE so a rank the corpus could not fill (empty m{r}) is the
    IDENTITY rewrite — matching the Spark side, which simply applies
    a shorter learned list."""
    blocks = list(_bpe_learn_ctes(n_merges))
    spaced0 = ("' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g')) "
               "|| ' '")
    blocks.append(f"""dw0 AS (
  SELECT source, {spaced0} AS sp
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents)
  WHERE length(w) >= 1)""")
    for r in range(1, n_merges + 1):
        p = r - 1
        blocks.append(f"""dw{r} AS (
  SELECT d.source,
         CASE WHEN m.lhs IS NULL THEN d.sp
              ELSE replace(d.sp, ' ' || m.lhs || '  ' || m.rhs || ' ',
                           ' ' || m.lhs || m.rhs || ' ')
         END AS sp
  FROM dw{p} d LEFT JOIN m{r} m ON TRUE)""")
    return ("WITH " + ",\n".join(blocks) + f""",
t AS (
  SELECT source, len(string_split(trim(sp), '  ')) AS tok_cnt
  FROM dw{n_merges}
), d AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
), a AS (
  SELECT source, count(*) AS ws_tokens,
         sum(tok_cnt)::BIGINT AS bpe_tokens
  FROM t GROUP BY source
)
SELECT source, n_docs, ws_tokens, bpe_tokens,
       {r6('bpe_tokens::DOUBLE / ws_tokens')} AS tokens_per_word
FROM a JOIN d USING (source)
ORDER BY source
""")


def bpe_fertility_by_lang(docs: DataFrame,
                          n_merges: int = BPE_LEARN_RANKS) -> DataFrame:
    """Tokenizer FERTILITY per language under the corpus-LEARNED merge
    table: tokens-per-word and bytes-per-token by labeled lang — the
    metric a multilingual pipeline watches when sizing a shared vocab
    (high-fertility languages pay more sequence length per word; the
    classic argument for vocabulary rebalancing). Composes the same
    learn -> apply halves as ``bpe_learned_budget``, grouped by lang
    instead of source, with UTF-8 byte volume alongside so the
    bytes-per-token denominator is tokenizer-faithful too.

    Scale shape: the trainer's vocabulary-bound ranks (flat to 10M
    docs, SCALE_NOTES), then ONE corpus scan — explode to words,
    codegen replaces, a combinable groupBy(lang) agg; no joins beyond
    the broadcast doc counts."""
    learned = [(r["lhs"], r["rhs"])
               for r in bpe_learn_merges(docs, n_merges).collect()]
    words = (docs.select("lang",
                         F.explode(F.split("text", " ")).alias("w"))
             .where(F.length("w") >= 1))
    per_word = words.select(
        "lang", bpe_word_tokens(F.col("w"), learned).alias("tok_cnt"),
        F.octet_length("w").alias("w_bytes"))
    docs_per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"))
    agg = (per_word.groupBy("lang")
           .agg(F.count(F.lit(1)).alias("ws_tokens"),
                F.sum("tok_cnt").alias("bpe_tokens"),
                F.sum("w_bytes").alias("word_bytes")))
    return (agg.join(F.broadcast(docs_per_lang), "lang")
            .select("lang", "n_docs", "ws_tokens", "bpe_tokens",
                    round6(F.col("bpe_tokens").cast("double")
                           / F.col("ws_tokens")).alias("fertility"),
                    round6(F.col("word_bytes").cast("double")
                           / F.col("bpe_tokens")).alias("bytes_per_token"))
            .orderBy("lang"))


def bpe_fertility_by_lang_oracle(n_merges: int = BPE_LEARN_RANKS) -> str:
    """The learned-budget oracle shape grouped by lang, with UTF-8
    byte volume (octet_length == DuckDB's strlen on the blob cast...
    DuckDB's length() is characters; encode() to BLOB then octet
    via octet_length)."""
    blocks = list(_bpe_learn_ctes(n_merges))
    spaced0 = ("' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g')) "
               "|| ' '")
    blocks.append(f"""dw0 AS (
  SELECT lang, {spaced0} AS sp, octet_length(encode(w)) AS w_bytes
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
        FROM documents)
  WHERE length(w) >= 1)""")
    for r in range(1, n_merges + 1):
        p = r - 1
        blocks.append(f"""dw{r} AS (
  SELECT d.lang, d.w_bytes,
         CASE WHEN m.lhs IS NULL THEN d.sp
              ELSE replace(d.sp, ' ' || m.lhs || '  ' || m.rhs || ' ',
                           ' ' || m.lhs || m.rhs || ' ')
         END AS sp
  FROM dw{p} d LEFT JOIN m{r} m ON TRUE)""")
    return ("WITH " + ",\n".join(blocks) + f""",
t AS (
  SELECT lang, w_bytes,
         len(string_split(trim(sp), '  ')) AS tok_cnt
  FROM dw{n_merges}
), d AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
), a AS (
  SELECT lang, count(*) AS ws_tokens,
         sum(tok_cnt)::BIGINT AS bpe_tokens,
         sum(w_bytes)::BIGINT AS word_bytes
  FROM t GROUP BY lang
)
SELECT lang, n_docs, ws_tokens, bpe_tokens,
       {r6('bpe_tokens::DOUBLE / ws_tokens')} AS fertility,
       {r6('word_bytes::DOUBLE / bpe_tokens')} AS bytes_per_token
FROM a JOIN d USING (lang)
ORDER BY lang
""")


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Language-ID evaluation: confusion counts of the fixture's labeled
    language vs the marker-based prediction, with per-cell share of the
    labeled row — the accuracy surface a pipeline monitors when swapping
    lang-ID models. One grouped count plus a windowed row total."""
    from pyspark.sql import Window

    pred = _lang_id(docs).select("doc_id", "labeled_lang", "predicted_lang")
    counts = (pred.groupBy("labeled_lang", "predicted_lang")
              .agg(F.count(F.lit(1)).alias("n_docs")))
    row_total = F.sum("n_docs").over(Window.partitionBy("labeled_lang"))
    return (counts
            .select("labeled_lang", "predicted_lang", "n_docs",
                    F.round(F.col("n_docs") / row_total, 6).alias("row_share"))
            .orderBy("labeled_lang", "predicted_lang"))


def lang_confusion_oracle() -> str:
    inner = lang_id_oracle().strip().rstrip()
    # reuse the lang_id oracle as a subquery; strip its ORDER BY tail
    inner = inner[:inner.rindex("ORDER BY")] + ""
    return f"""
WITH pred AS (
  {inner}
), c AS (
  SELECT labeled_lang, predicted_lang, count(*) AS n_docs
  FROM pred GROUP BY labeled_lang, predicted_lang
)
SELECT labeled_lang, predicted_lang, n_docs,
       round(n_docs::DOUBLE / sum(n_docs) OVER (PARTITION BY labeled_lang), 6)
         AS row_share
FROM c ORDER BY labeled_lang, predicted_lang
"""


# ---- cross-document boilerplate n-grams (corpus-level phrase dedup) ----

BOILERPLATE_NGRAM = 2
BOILERPLATE_MIN_FRAC = 0.08
BOILERPLATE_TOP_N = 20


def boilerplate_ngrams(docs: DataFrame, k: int = BOILERPLATE_NGRAM,
                       min_frac: float = BOILERPLATE_MIN_FRAC) -> DataFrame:
    """Corpus-level boilerplate phrases: word ``k``-grams whose DOCUMENT
    frequency reaches ``min_frac`` of the corpus — the C4/RefinedWeb-style
    curation step that surfaces headers, footers, cookie banners and
    licence blurbs recurring across pages (the reference has no text
    pipeline at all; this extends SURVEY §2.2's north-star set alongside
    the within-doc ``doc_repetition_stats`` and the eval-side
    ``contamination_check``).

    Returns (ngram, df) for every phrase at or above the threshold.

    Scale shape: per-doc ``array_distinct`` BEFORE the explode bounds each
    doc's contribution to its unique grams; groupBy(ngram) count combines
    map-side, so zipfian head phrases never concentrate raw rows on one
    reducer; the corpus size joins in as one broadcast scalar (same
    pattern as vocab_stats — a fraction threshold is the honest
    boilerplate semantics across corpus sizes, and costs one narrow agg)."""
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    n = F.size("ws")
    # when-guard as in contamination_check: sequence(1, n-k+1) DESCENDS for
    # n < k and slice(start=0) throws; the row filter alone doesn't protect
    # constant-folded plans (LocalRelation inputs)
    grams = F.when(n >= k, F.array_distinct(F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.concat_ws(" ", F.slice("ws", i, k))))
    ).otherwise(F.array().cast("array<string>"))
    ex = (toks.where(n >= k)
          .select("doc_id", F.explode(grams).alias("ngram")))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    return (ex.groupBy("ngram").agg(F.count(F.lit(1)).alias("df"))
            .crossJoin(F.broadcast(n_docs))
            .where(F.col("df") >= F.col("n_docs") * min_frac)
            .select("ngram", "df"))


def boilerplate_coverage(docs: DataFrame, k: int = BOILERPLATE_NGRAM,
                         min_frac: float = BOILERPLATE_MIN_FRAC) -> DataFrame:
    """Per-language boilerplate footprint: for each doc, the share of its
    distinct ``k``-grams that are corpus boilerplate; aggregated per lang
    as (n_docs, n_flagged, avg_cov). The removal decision a pipeline
    makes (strip/keep/downweight) keys off exactly these numbers.

    Scale shape: the hot set is bounded above by total_grams/(min_frac *
    n_docs) and broadcast; per-doc hits come from a broadcast semi-join +
    combinable count (no big-side shuffle); docs with zero hits re-enter
    via a left join from the narrow per-doc gram counts; the per-lang
    rollup aggregates a doc-count-sized frame."""
    toks = docs.select("doc_id", "lang",
                       F.split(F.col("text"), " ").alias("ws"))
    n = F.size("ws")
    grams = F.when(n >= k, F.array_distinct(F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.concat_ws(" ", F.slice("ws", i, k))))
    ).otherwise(F.array().cast("array<string>"))  # when-guard: see above
    g = (toks.where(n >= k)
         .select("doc_id", "lang", grams.alias("gs")))
    hot = boilerplate_ngrams(docs, k, min_frac).select("ngram")
    hits = (g.select("doc_id", F.explode("gs").alias("ngram"))
            .join(F.broadcast(hot), "ngram")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hot")))
    per_doc = (g.select("doc_id", "lang", F.size("gs").alias("n_grams"))
               .join(hits, "doc_id", "left")
               .select("lang", "n_grams",
                       F.coalesce(F.col("n_hot"), F.lit(0)).alias("n_hot")))
    return (per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("n_hot") > 0, 1).otherwise(0)).alias("n_flagged"),
        round6(F.avg(F.col("n_hot") / F.col("n_grams").cast("double"))
               ).alias("avg_cov"))
        .orderBy("lang"))


def _boilerplate_ctes(k: int = BOILERPLATE_NGRAM,
                      min_frac: float = BOILERPLATE_MIN_FRAC) -> str:
    return f"""tok AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
g AS (SELECT doc_id, lang,
             list_distinct(list_transform(
                 generate_series(1, len(w) - {k - 1}),
                 i -> array_to_string(w[i:i+{k - 1}], ' '))) AS gs
      FROM tok WHERE len(w) >= {k}),
ex AS (SELECT doc_id, unnest(gs) AS ngram FROM g),
nd AS (SELECT count(*) AS n_docs FROM documents),
hot AS (SELECT ngram, count(*) AS df FROM ex, nd
        GROUP BY ngram, n_docs HAVING count(*) >= n_docs * {min_frac})"""


def boilerplate_ngrams_oracle(k: int = BOILERPLATE_NGRAM,
                              min_frac: float = BOILERPLATE_MIN_FRAC,
                              top_n: int = BOILERPLATE_TOP_N) -> str:
    return f"""
WITH {_boilerplate_ctes(k, min_frac)}
SELECT ngram, df FROM hot
ORDER BY df DESC, ngram
LIMIT {top_n}
"""


def boilerplate_coverage_oracle(k: int = BOILERPLATE_NGRAM,
                                min_frac: float = BOILERPLATE_MIN_FRAC) -> str:
    return f"""
WITH {_boilerplate_ctes(k, min_frac)},
hits AS (SELECT e.doc_id, count(*) AS n_hot
         FROM ex e JOIN hot USING (ngram) GROUP BY e.doc_id),
per_doc AS (SELECT g.lang, len(g.gs) AS n_grams,
                   COALESCE(h.n_hot, 0) AS n_hot
            FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id)
SELECT lang, count(*) AS n_docs,
       CAST(SUM(CASE WHEN n_hot > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       {r6('avg(n_hot::DOUBLE / n_grams)')} AS avg_cov
FROM per_doc GROUP BY lang ORDER BY lang
"""


# ---- per-document TF-IDF keyword extraction ----

TFIDF_TOP_TERMS = 3


def tfidf_top_terms(docs: DataFrame,
                    top_n: int = TFIDF_TOP_TERMS) -> DataFrame:
    """Per-document top-N terms by TF-IDF — keyword extraction, the
    per-document dual of vocab_stats' corpus-level vocabulary (same
    smoothed IDF formula, shared spelling with the oracle).

    Scale shape: explode -> combinable (doc, term) tf counts; df derives
    from the tf frame (one row per (doc, term) — count(*) IS the
    document frequency, no second distinct pass); the zipf-bounded df
    side joins keyed on term (AQE broadcasts when it fits); corpus size
    rides in as a 1-row broadcast; the final per-doc window ranks <=
    doc-vocabulary rows. Ordering on the RAW score (one ln, one
    multiply — bit-identical across engines), rounding in the
    projection."""
    from pyspark.sql import Window

    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    idf = F.log((F.lit(1.0) + F.col("n_docs")) / (F.lit(1.0) + F.col("df")))
    scored = (tf.join(df_, "term")
              .crossJoin(F.broadcast(n))
              .select("doc_id", "term", "tf",
                      (F.col("tf").cast("double") * idf).alias("_s")))
    w = Window.partitionBy("doc_id").orderBy(F.col("_s").desc(),
                                             F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_n)
            .select("doc_id", "term", "tf",
                    F.round("_s", 6).alias("tfidf"), "rank")
            .orderBy("doc_id", "rank"))


def tfidf_top_terms_oracle(top_n: int = TFIDF_TOP_TERMS) -> str:
    return f"""
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
s AS (SELECT doc_id, term, tf,
             CAST(tf AS DOUBLE) * ln((1.0 + n_docs) / (1.0 + df)) AS _s
      FROM tf JOIN df USING (term), n)
SELECT doc_id, term, tf, round(_s, 6) AS tfidf,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY _s DESC, term ASC) AS INTEGER) AS rank
FROM s
QUALIFY rank <= {top_n}
ORDER BY doc_id, rank
"""


# ---- character-entropy quality scoring (round 9) ----
# The classic compression-quality signal (C4/RefinedWeb-style gibberish
# filters): near-zero entropy = repeated-character junk, near-uniform
# entropy = random noise; natural text sits in a band. In nats (natural
# log), so both engines evaluate the same libm-class function the green
# unigram_logprob/lang_geomean_chars queries already proved parity for.

def doc_char_entropy(docs: DataFrame) -> DataFrame:
    """Per-document Shannon entropy of the character distribution:
    H = -sum_c p_c ln(p_c) over the doc's own characters, plus the size
    facts the filter thresholds on. Deterministic given the text.

    Scale shape: one explode feeding a (doc, char) count agg (map-side
    combinable — the alphabet bounds per-doc groups), then a per-doc
    combinable reduction; no joins, no window, no Python. The identity
    H = -sum(p ln p) = ln(T) - sum(cnt ln cnt)/T (T = doc chars) turns
    the per-class probability pass into plain count sums, so the whole
    query is two grouped aggregations."""
    chars = (docs.select("doc_id", F.explode(F.split("text", ""))
                 .alias("ch"))
             .where(F.col("ch") != ""))
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("cnt"))
    agg = counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_chars"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.sum(F.col("cnt") * F.log(F.col("cnt"))).alias("s"))
    ent = F.log(F.col("n_chars").cast("double")) - F.col("s") / F.col("n_chars")
    return (agg.select("doc_id", "n_chars", "n_distinct_chars",
                       F.round(ent, 6).alias("entropy_nats"))
            .orderBy("doc_id"))


DOC_CHAR_ENTROPY_ORACLE = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
), f AS (
  SELECT doc_id, ch, count(*) AS cnt FROM ch WHERE ch <> '' GROUP BY doc_id, ch
), a AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars,
         count(*) AS n_distinct_chars,
         sum(cnt * ln(cnt)) AS s
  FROM f GROUP BY doc_id
)
SELECT doc_id, n_chars, n_distinct_chars,
       round(ln(n_chars::DOUBLE) - s / n_chars, 6) AS entropy_nats
FROM a ORDER BY doc_id
"""


# ---- Gopher/MassiveText document-shape quality rules ----

# Rule thresholds follow Gopher (Rae et al. 2021, Appendix A1.1) except
# where the published value would be degenerate on the synthetic fixture:
# Gopher's 50-word minimum fails EVERY sf0.01 doc (10-99 words), so the
# minimum is fixture-scaled to 20 (the rule SHAPE — a word-count floor —
# is what the operator certifies); the stopword rule likewise checks the
# fixture vocabulary's own stop list (it contains only 'the' and 'a' of
# Gopher's eight) with the published >= 2 distinct-hits bound.
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_WORD_LEN_RANGE = (3.0, 10.0)
GOPHER_MAX_SYMBOL_RATIO = 0.1        # '#' and '...' per word (Gopher A1.1)
GOPHER_MIN_ALPHA_FRAC = 0.8          # words containing an alphabetic char
GOPHER_MIN_STOP_HITS = 2             # distinct stop words present
GOPHER_TOP2_MAX = 0.20               # chars in most frequent word 2-gram
GOPHER_TOP3_MAX = 0.18               # chars in most frequent word 3-gram


def gopher_quality_signals(docs: DataFrame) -> DataFrame:
    """Per-document Gopher/MassiveText document-shape rules (Rae et al.
    2021, A1.1) — the word-shape and repetition-shape signals a corpus
    filter thresholds BEFORE any model-based scoring: word-count bounds,
    mean word length range, symbol-to-word ratio ('#' and '...'),
    fraction of words containing an alphabetic character, distinct-
    stopword floor, and the fraction of characters covered by the most
    frequent word 2-gram / 3-gram. Emits every signal plus the composed
    keep/drop verdict with pipe-joined firing reasons (the
    quality_filter audit convention).

    top{2,3}_char_frac approximates Gopher's character coverage as
    occurrence-count x gram-length / text-length, which over-counts
    when the winning gram's occurrences OVERLAP (repeated-token runs
    share characters); the value is capped at 1.0 so it stays a
    fraction. An exact interval-union coverage is what
    substring_dup_coverage computes corpus-level; per-row the capped
    product is the standard cheap form (one multiply vs a per-row
    interval merge) and thresholds identically on real text.

    Complements (does not duplicate) the existing per-doc views:
    text_stats thresholds uniqueness/stopword ratios, doc_repetition_
    stats covers top-WORD share and duplicate bigram fraction; this
    operator adds the character-coverage n-gram rules and word-shape
    rules those skip. Gopher's duplicate-5..10-gram CHARACTER coverage
    is served corpus-level by substring_dup_coverage (interval union,
    dedup.py) rather than per-row.

    Scale shape (100 TB): pure per-row higher-order-function
    expressions over one hoisted tokenize — no explode, and one corpus
    stage: the kernel ends at a hash exchange on doc_id ahead of the
    ordered output (``_sorted_by``). The top n-gram of each order
    is one sort of the gram array plus one run-length scan
    (``_top_run``), O(n log n) per row; among grams tied on the max
    count the lexicographically smallest wins, so both engines pick
    the same gram. Its (count, gram) struct is staged through a
    projected column because top_frac reads both fields and
    interpreted HOFs are not common-subexpression-eliminated."""
    return _sorted_by(_gopher_signals(docs), "doc_id")


def _gopher_signals(docs: DataFrame) -> DataFrame:
    """gopher_quality_signals' per-row kernel, unordered."""
    staged = docs.select(
        "doc_id", "text", F.split(F.col("text"), " ").alias("ws"))
    for k in (2, 3):
        gram = ", ' ', ".join(f"ws[i + {j}]" for j in range(k))
        staged = staged.withColumn(f"top{k}", F.when(
            F.size("ws") >= k,
            _top_run(F.expr(f"transform(sequence(0, size(ws) - {k}), "
                            f"i -> concat({gram}))"))))

    ws = F.col("ws")
    n = F.size(ws)
    nd = n.cast("double")
    mean_len = (F.aggregate(ws, F.lit(0.0),
                            lambda acc, w: acc + F.length(w).cast("double"))
                / nd)
    alpha_frac = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))) / nd
    hash_cnt = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    ell_cnt = ((F.length("text")
                - F.length(F.replace(F.col("text"), F.lit("...")))) / 3)
    symbol_ratio = (hash_cnt + ell_cnt).cast("double") / nd
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop_distinct = F.size(F.array_intersect(F.array_distinct(ws), stop_arr))

    def top_frac(k: int) -> F.Column:
        # occurrence-count x gram-length over-counts overlapping repeats
        # (grams share characters), so cap at 1.0 to stay a fraction —
        # Gopher A1.1's metric is fraction-of-characters-COVERED, and a
        # coverage can never exceed the document
        return F.when(
            n >= k,
            F.least(F.lit(1.0),
                    F.col(f"top{k}.cnt").cast("double")
                    * F.length(F.col(f"top{k}.top"))
                    / F.length("text"))
        ).otherwise(F.lit(0.0))

    m = staged.select(
        "doc_id",
        n.alias("n_words"),
        round6(mean_len).alias("mean_word_len"),
        round6(alpha_frac).alias("alpha_word_frac"),
        round6(symbol_ratio).alias("symbol_ratio"),
        n_stop_distinct.alias("n_stop_distinct"),
        round6(top_frac(2)).alias("top2_char_frac"),
        round6(top_frac(3)).alias("top3_char_frac"))
    lo, hi = GOPHER_WORD_LEN_RANGE
    reasons = F.concat_ws(
        "|",
        F.when(F.col("n_words") < GOPHER_MIN_WORDS, F.lit("too_few_words")),
        F.when(F.col("n_words") > GOPHER_MAX_WORDS, F.lit("too_many_words")),
        F.when((F.col("mean_word_len") < lo) | (F.col("mean_word_len") > hi),
               F.lit("word_len_out_of_range")),
        F.when(F.col("symbol_ratio") > GOPHER_MAX_SYMBOL_RATIO,
               F.lit("symbol_heavy")),
        F.when(F.col("alpha_word_frac") < GOPHER_MIN_ALPHA_FRAC,
               F.lit("non_alpha")),
        F.when(F.col("n_stop_distinct") < GOPHER_MIN_STOP_HITS,
               F.lit("stopword_poor")),
        F.when(F.col("top2_char_frac") > GOPHER_TOP2_MAX,
               F.lit("top_bigram_heavy")),
        F.when(F.col("top3_char_frac") > GOPHER_TOP3_MAX,
               F.lit("top_trigram_heavy")))
    return m.select("*", (reasons == "").alias("keep"),
                    reasons.alias("drop_reasons"))


def _gopher_top_frac_duck(k: int) -> str:
    grams = (f"CASE WHEN len(w) >= {k} THEN "
             f"list_transform(range(1, len(w) - {k} + 2), "
             f"i -> array_to_string(w[i:i+{k}-1], ' ')) ELSE [] END")
    return f"""
       CASE WHEN len(w) >= {k} THEN (
         SELECT least(1.0, mc * length(list_min(list_filter(dg,
                  g -> len(list_filter(grams, x -> x = g)) = mc)))::DOUBLE
                / length(text))
         FROM (SELECT {grams} AS grams) t1,
              LATERAL (SELECT list_distinct(t1.grams) AS dg) t2,
              LATERAL (SELECT list_max(list_transform(t2.dg,
                         g -> len(list_filter(t1.grams, x -> x = g)))) AS mc) t3
       ) ELSE 0.0 END"""


def gopher_quality_signals_oracle() -> str:
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    lo, hi = GOPHER_WORD_LEN_RANGE
    reasons = f"""concat_ws('|',
         CASE WHEN n_words < {GOPHER_MIN_WORDS} THEN 'too_few_words' END,
         CASE WHEN n_words > {GOPHER_MAX_WORDS} THEN 'too_many_words' END,
         CASE WHEN mean_word_len < {lo} OR mean_word_len > {hi}
              THEN 'word_len_out_of_range' END,
         CASE WHEN symbol_ratio > {GOPHER_MAX_SYMBOL_RATIO}
              THEN 'symbol_heavy' END,
         CASE WHEN alpha_word_frac < {GOPHER_MIN_ALPHA_FRAC}
              THEN 'non_alpha' END,
         CASE WHEN n_stop_distinct < {GOPHER_MIN_STOP_HITS}
              THEN 'stopword_poor' END,
         CASE WHEN top2_char_frac > {GOPHER_TOP2_MAX}
              THEN 'top_bigram_heavy' END,
         CASE WHEN top3_char_frac > {GOPHER_TOP3_MAX}
              THEN 'top_trigram_heavy' END)"""
    return f"""
WITH s AS (
  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
), m AS (
  SELECT doc_id,
         len(w) AS n_words,
         {r6('list_sum(list_transform(w, x -> CAST(length(x) AS DOUBLE)))'
             ' / len(w)')} AS mean_word_len,
         {r6("len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE"
             " / len(w)")} AS alpha_word_frac,
         {r6("((length(text) - length(replace(text, '#', '')))"
             " + (length(text) - length(replace(text, '...', ''))) / 3)"
             "::DOUBLE / len(w)")} AS symbol_ratio,
         len(list_intersect(list_distinct(w), [{sw}])) AS n_stop_distinct,
         {r6(_gopher_top_frac_duck(2))} AS top2_char_frac,
         {r6(_gopher_top_frac_duck(3))} AS top3_char_frac
  FROM s
)
SELECT doc_id, n_words, mean_word_len, alpha_word_frac, symbol_ratio,
       n_stop_distinct, top2_char_frac, top3_char_frac,
       {reasons} = '' AS keep,
       {reasons} AS drop_reasons
FROM m ORDER BY doc_id
"""


# ---- CCNet-style language-model perplexity bucketing ----

PPL_BUCKETS = 3
_PPL_BUCKET_NAMES = ["head", "middle", "tail"]


def perplexity_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style corpus partitioning (Wenzek et al. 2020): score every
    document with a language-model perplexity, then split each language
    into equal head/middle/tail thirds by score — head = most fluent,
    tail = the segment a curation pipeline drops or down-samples. The LM
    here is the engine's own corpus unigram model (unigram_logprob — the
    KenLM stand-in that keeps the whole pipeline hash-checkable);
    perplexity = exp(-avg token log-prob), computed from the 6-dp-rounded
    avg_logp so both engines exponentiate IDENTICAL doubles, and the
    bucket assignment orders by (rounded avg_logp DESC, doc_id) — a fully
    deterministic ntile whose tie-break never depends on float summation
    order.

    Scale shape (100 TB): unigram_logprob's two combinable aggs + one
    zipf-bounded vocabulary join; then ONE lang-partitioned sort for the
    ntile (CCNet shards this per language; lang is the natural partition
    key and per-lang skew is the corpus's own language mix — a real
    deployment pre-buckets by (lang, hash-range) if one language
    dominates) and a combinable rollup. Output is bounded at
    n_langs x 3 rows."""
    lp = unigram_logprob(docs)
    scored = (lp.join(docs.select("doc_id", "lang"), "doc_id")
              .withColumn("ppl", F.exp(-F.col("avg_logp"))))
    order = Window.partitionBy("lang").orderBy(
        F.col("avg_logp").desc(), F.col("doc_id"))
    names = F.array(*[F.lit(b) for b in _PPL_BUCKET_NAMES])
    b = (scored.withColumn("bucket_idx", F.ntile(PPL_BUCKETS).over(order))
         .withColumn("bucket", F.element_at(names, F.col("bucket_idx"))))
    return (b.groupBy("lang", "bucket_idx", "bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 round6(F.min("ppl")).alias("min_ppl"),
                 round6(F.max("ppl")).alias("max_ppl"),
                 round6(F.avg("ppl")).alias("avg_ppl"))
            .orderBy("lang", "bucket_idx"))


def perplexity_buckets_oracle() -> str:
    names = ", ".join(f"'{b}'" for b in _PPL_BUCKET_NAMES)
    return f"""
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), c AS (
  SELECT tok, count(*) AS cnt FROM t GROUP BY tok
), tot AS (
  SELECT sum(cnt)::DOUBLE AS total FROM c
), p AS (
  SELECT tok, ln(cnt / total) AS logp FROM c, tot
), d AS (
  SELECT doc_id, round(avg(logp), 6) AS avg_logp
  FROM t JOIN p USING (tok) GROUP BY doc_id
), s AS (
  SELECT d.doc_id, docs.lang, d.avg_logp, exp(-d.avg_logp) AS ppl
  FROM d JOIN documents docs USING (doc_id)
), b AS (
  SELECT lang, ppl,
         ntile({PPL_BUCKETS}) OVER (
           PARTITION BY lang ORDER BY avg_logp DESC, doc_id) AS bucket_idx
  FROM s
)
SELECT lang, bucket_idx, ([{names}])[bucket_idx] AS bucket,
       count(*) AS n_docs,
       {r6('min(ppl)')} AS min_ppl,
       {r6('max(ppl)')} AS max_ppl,
       {r6('avg(ppl)')} AS avg_ppl
FROM b GROUP BY lang, bucket_idx ORDER BY lang, bucket_idx
"""
