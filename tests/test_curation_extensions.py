"""Round-11 session-2 curation additions — planted-behavior tests.

Oracle parity (exactness vs DuckDB) rides test_oracle_parity.py like every
declared query; these pin the SEMANTICS on corpora built for the purpose:
Gopher rules fire on the document shapes they name, CCNet buckets order by
fluency, temperature scaling actually flattens, the planted outlier ranks
first, and novelty distinguishes first copies from re-crawls.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from vectordb_explorations_spark.operators.dedup import ngram_novelty  # noqa: E402
from vectordb_explorations_spark.operators.featurize import (  # noqa: E402
    embedding_outliers)
from vectordb_explorations_spark.operators.sampling import (  # noqa: E402
    temperature_mixture)
from vectordb_explorations_spark.operators.textops import (  # noqa: E402
    gopher_quality_signals, perplexity_buckets)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "source", "lang", "text"])


# ---- gopher_quality_signals ----

def test_gopher_rules_fire_on_their_shapes(spark):
    good = " ".join(
        ["the", "a"] + [f"word{i}" for i in range(28)])          # 30 words
    short = "the a tiny doc"                                      # 4 words
    spam = "the a " + " ".join(["spam ham"] * 14)                 # 30 words
    symbols = "the a " + " ".join(["###"] * 28)                   # 30 words
    docs = _docs(spark, [(0, "s", "en", good), (1, "s", "en", short),
                         (2, "s", "en", spam), (3, "s", "en", symbols)])
    out = {r.doc_id: r for r in gopher_quality_signals(docs).collect()}

    assert out[0].keep and out[0].drop_reasons == ""
    assert "too_few_words" in out[1].drop_reasons
    assert "top_bigram_heavy" in out[2].drop_reasons
    assert out[2].top2_char_frac > 0.2
    assert "symbol_heavy" in out[3].drop_reasons
    # '###' words carry no alphabetic character either
    assert "non_alpha" in out[3].drop_reasons
    assert not (out[1].keep or out[2].keep or out[3].keep)


def test_gopher_stopword_floor(spark):
    no_stops = " ".join(f"w{i}" for i in range(30))
    docs = _docs(spark, [(0, "s", "en", no_stops)])
    row = gopher_quality_signals(docs).collect()[0]
    assert row.n_stop_distinct == 0
    assert "stopword_poor" in row.drop_reasons


def test_gopher_top_bigram_tie_goes_to_smallest(spark):
    """'zz yy' and 'a b' both occur twice. The lexicographically smaller
    'a b' is seen second and is shorter, so a first-seen or longest
    tie-break would report 2 * 5 chars instead of 2 * 3."""
    import duckdb

    from vectordb_explorations_spark.operators.textops import (
        gopher_quality_signals_oracle)

    text = "zz yy zz yy a b a b"
    row = gopher_quality_signals(_docs(spark, [(0, "s", "en", text)])).first()
    assert row.top2_char_frac == round(2 * 3 / len(text), 6)

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents AS "
                    "SELECT 0::BIGINT AS doc_id, ? AS text", [text])
        want = con.execute(gopher_quality_signals_oracle()).fetchall()
    finally:
        con.close()
    assert [tuple(row)] == want


# ---- perplexity_buckets ----

def test_perplexity_thirds_order_by_fluency(spark):
    common = "the data table row scan join"
    rows = [(i, "s", "en", " ".join([common] * 4)) for i in range(6)]
    rows += [(10 + i, "s", "en",
              " ".join(f"rare{10 + i}x{j}" for j in range(24)))
             for i in range(3)]
    out = perplexity_buckets(_docs(spark, rows)).collect()
    assert [r.bucket_idx for r in out] == [1, 2, 3]
    assert [r.bucket for r in out] == ["head", "middle", "tail"]
    assert [r.n_docs for r in out] == [3, 3, 3]
    by = {r.bucket: r for r in out}
    # fluent (common-vocabulary) docs are strictly more probable: every
    # head perplexity below every tail perplexity
    assert by["head"].max_ppl < by["tail"].min_ppl
    # the gibberish docs all land in the tail: its floor is above the
    # middle's ceiling too
    assert by["middle"].max_ppl < by["tail"].min_ppl


# ---- temperature_mixture ----

def test_temperature_scaling_flattens_the_mix(spark):
    rows = [(i, "big", "en", " ".join(["tok"] * 90)) for i in range(9)]
    rows += [(100, "small", "en", " ".join(["tok"] * 90))]
    out = {r.source: r for r in
           temperature_mixture(_docs(spark, rows), alpha=0.5,
                               budget_tokens=1000).collect()}
    big, small = out["big"], out["small"]
    assert big.natural_share == pytest.approx(0.9, abs=1e-6)
    assert small.natural_share == pytest.approx(0.1, abs=1e-6)
    # alpha=0.5: q_small = sqrt(.1)/(sqrt(.9)+sqrt(.1)) = 0.25
    assert small.temp_share == pytest.approx(0.25, abs=1e-6)
    assert big.temp_share == pytest.approx(0.75, abs=1e-6)
    # flattening: the small source's share RISES, the big one's falls
    assert small.temp_share > small.natural_share
    assert big.temp_share < big.natural_share
    assert small.temp_share + big.temp_share == pytest.approx(1.0, abs=1e-9)
    # epochs = target / avail: small gets 250 tokens over 90 available
    assert small.target_tokens == 250
    assert small.epochs == pytest.approx(250.0 / 90.0, abs=1e-5)


def test_temperature_alpha_one_is_identity(spark):
    rows = [(i, f"s{i % 2}", "en", " ".join(["tok"] * (10 + i)))
            for i in range(6)]
    out = temperature_mixture(_docs(spark, rows), alpha=1.0).collect()
    for r in out:
        assert r.temp_share == pytest.approx(r.natural_share, abs=1e-6)


# ---- embedding_outliers ----

def test_planted_outlier_ranks_first(spark):
    dim = 4
    rows = [(i, [0.1 * (i % 3)] * dim, "A") for i in range(10)]
    rows.append((99, [25.0] * dim, "A"))
    rows += [(200 + i, [1.0] * dim, "B") for i in range(3)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = embedding_outliers(emb, top_k=3).collect()
    a = [r for r in out if r.label == "A"]
    assert a[0].vec_id == 99 and a[0].rk == 1
    assert a[0].z > 2.0                      # unambiguous outlier
    assert len(a) == 3 and [r.rk for r in a] == [1, 2, 3]
    # label B is degenerate (all identical): sd == 0 -> z is NULL, and
    # every distance ties at 0 so ranks break by vec_id
    b = [r for r in out if r.label == "B"]
    assert all(r.z is None for r in b)
    assert [r.vec_id for r in b] == [200, 201, 202]


# ---- ngram_novelty ----

def test_novelty_separates_first_copies_from_recrawls(spark):
    base = [f"w{i}" for i in range(25)]
    rows = [(0, "s", "en", " ".join(base)),
            (1, "s", "en", " ".join(base)),                     # re-crawl
            (2, "s", "en", " ".join(base + [f"new{j}" for j in range(10)]))]
    out = {r.doc_id: r for r in
           ngram_novelty(_docs(spark, rows), w=20).collect()}
    assert out[0].novelty == 1.0             # the keeper: all windows first
    assert out[1].novelty == 0.0             # verbatim re-crawl
    # doc 2: 35 words -> 16 windows; the 6 windows inside the copied
    # prefix match doc 0, the 10 spanning new tokens are novel
    assert out[2].n_windows == 16
    assert out[2].novel_windows == 10
    assert out[2].novelty == 0.625


def test_novelty_short_docs_absent_and_partitioning_invariant(spark):
    rows = [(0, "s", "en", "too short to window"),
            (1, "s", "en", " ".join(f"t{i}" for i in range(30)))]
    docs = _docs(spark, rows)
    out = ngram_novelty(docs, w=20).collect()
    assert [r.doc_id for r in out] == [1]
    again = ngram_novelty(docs.repartition(7), w=20).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in again]


# ---- retrieval_quality ----

def test_retrieval_metrics_on_planted_geometry(spark):
    from vectordb_explorations_spark.operators.knn import retrieval_quality
    # query 0 (label A at origin): 10 same-label vectors nearby, then
    # far wrong-label mass -> perfect metrics. query 100 (label C,
    # isolated): nearest neighbors are all label B -> zero metrics.
    rows = [(0, [0.0, 0.0], "A")]
    rows += [(i, [0.1 * i, 0.0], "A") for i in range(1, 11)]
    rows += [(50 + i, [100.0 + i, 0.0], "B") for i in range(12)]
    rows.append((100, [103.5, 0.5], "C"))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {r.query_id: r for r in
           retrieval_quality(emb, num_queries=1, k=10).collect()}
    q0 = out[0]
    assert q0.n_rel == 10 and q0.precision_at_k == 1.0
    assert q0.mrr == 1.0 and q0.ndcg == 1.0

    # make the isolated C vector the only query by id: rebuild with it first
    emb2 = emb.withColumn(
        "vec_id",
        F.when(F.col("vec_id") == 100, -1).otherwise(F.col("vec_id")))
    qc = {r.query_id: r for r in
          retrieval_quality(emb2, num_queries=1, k=10).collect()}[-1]
    # no other C vector exists: nothing retrieved is relevant AND the
    # ideal is empty -> every metric 0 by the r_total=0 guard
    assert qc.n_rel == 0 and qc.mrr == 0.0 and qc.ndcg == 0.0


def test_retrieval_rank_discount_orders_ndcg(spark):
    from vectordb_explorations_spark.operators.knn import retrieval_quality
    # two labels, one query each; both retrieve exactly one relevant hit
    # but at rank 1 vs rank ~10: the earlier hit must score higher on
    # both MRR and nDCG even though precision ties.
    rows = [(0, [0.0, 0.0], "A"), (2, [1.0, 0.0], "A")]
    # 8 wrong-label vectors sit between query 1 and its only relevant
    # hit, pushing it to rank 9 (still inside the top-10 cut)
    rows += [(10 + i, [51.0 + 0.1 * i, 0.0], "B") for i in range(8)]
    rows.append((1, [50.0, 0.0], "C")); rows.append((3, [60.0, 0.0], "C"))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {r.query_id: r for r in
           retrieval_quality(emb, num_queries=2, k=10).collect()}
    early, late = out[0], out[1]
    assert early.n_rel == late.n_rel == 1
    assert early.mrr == 1.0
    assert late.mrr == pytest.approx(1.0 / 9.0, abs=1e-6)
    assert early.ndcg > late.ndcg


def test_grade_retrieval_composes_with_ann_families(spark, sf_dir):
    """The evaluation harness grades an actual ANN family's output: run
    IVF (full fan-out, so its ranking matches exact retrieval bit-for-
    bit) through grade_retrieval and require metric equality with the
    exact-path retrieval_quality — proving any (query_id, label, rank)
    frame plugs into the same metrics."""
    from pyspark.sql import Window
    from vectordb_explorations_spark.operators.ann import (
        ivf_build, ivf_search)
    from vectordb_explorations_spark.operators.knn import (
        grade_retrieval, retrieval_quality, sample_queries)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = retrieval_quality(emb, num_queries=5, k=10).collect()

    assigned, cents = ivf_build(emb, num_centroids=4)
    qs = sample_queries(emb, 5)
    hits = (ivf_search(assigned, cents, qs, k=11, nprobe=4)
            .where(F.col("vec_id") != F.col("query_id")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc())
    ranked = (hits.withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= 10))
    labels = emb.select("vec_id", "label")
    qlab = (emb.select(F.col("vec_id").alias("query_id"),
                       F.col("label").alias("query_label")))
    frame = (ranked.join(labels, "vec_id").join(qlab, "query_id")
             .select("query_id", "query_label", "label", "rank"))
    graded = grade_retrieval(frame, emb, k=10).collect()

    assert [tuple(r) for r in graded] == [tuple(r) for r in exact[:5]]


def test_grade_retrieval_requires_rank(spark):
    import pytest as _pytest
    from vectordb_explorations_spark.operators.knn import grade_retrieval
    emb = spark.createDataFrame(
        [(0, [0.0], "A")], ["vec_id", "embedding", "label"])
    hits = spark.createDataFrame(
        [(0, "A", "A")], ["query_id", "query_label", "label"])
    with _pytest.raises(ValueError, match="rank"):
        grade_retrieval(hits, emb, k=10)


def test_grade_retrieval_grades_absent_queries_as_zero(spark):
    """r11 ADVICE: a query with ZERO retrieved rows (an over-pruned ANN
    probe) must grade 0 across the board, not vanish and bias the
    aggregates upward. Also covers the all-hits-past-k case, which the
    rank<=k cut used to silently drop even without a queries frame."""
    from pyspark.sql import functions as F
    from vectordb_explorations_spark.operators.knn import grade_retrieval

    emb = spark.createDataFrame(
        [(i, [float(i)], "A" if i % 2 == 0 else "B") for i in range(6)],
        ["vec_id", "embedding", "label"])
    # query 0 retrieved one relevant hit at rank 1; query 1 retrieved
    # nothing; query 2's only hit ranks past k
    hits = spark.createDataFrame(
        [(0, "A", "A", 1), (2, "B", "B", 4)],
        ["query_id", "query_label", "label", "rank"])
    queries = spark.createDataFrame(
        [(0, "A"), (1, "B"), (2, "B")], ["query_id", "query_label"])
    got = {r.query_id: r for r in
           grade_retrieval(hits, emb, k=3, queries=queries).collect()}
    assert set(got) == {0, 1, 2}
    assert got[0].n_rel == 1 and got[0].mrr == 1.0
    for q in (1, 2):
        assert (got[q].n_rel, got[q].precision_at_k, got[q].mrr,
                got[q].dcg, got[q].ndcg) == (0, 0.0, 0.0, 0.0, 0.0)
    # without a queries frame, the universe derives from hits PRE-cut:
    # query 2 still grades (as zero), only query 1 is unknowable
    got2 = {r.query_id: r for r in grade_retrieval(hits, emb, k=3).collect()}
    assert set(got2) == {0, 2}
    assert got2[2].n_rel == 0


# ---- hard_examples ----

def test_hard_example_mining_picks_the_confusable_impostor(spark):
    from vectordb_explorations_spark.operators.knn import hard_examples
    # anchor 0 (label A): same-label vecs at 1.0 and 2.0, a wrong-label
    # impostor at 1.5 — the hard negative must be the impostor (nearest
    # wrong-label), the hard positive the 2.0 vector (farthest same-label
    # inside top-k), NOT the 1.0 one.
    rows = [(0, [0.0], "A"), (1, [1.0], "A"), (2, [2.0], "A"),
            (3, [1.5], "B"), (4, [9.0], "B")]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = hard_examples(emb, num_queries=1, k=4).collect()
    r = out[0]
    assert r.anchor_id == 0 and r.anchor_label == "A"
    assert r.neg_id == 3 and r.neg_rank == 2 and r.neg_dist == 1.5
    assert r.pos_id == 2 and r.pos_rank == 3 and r.pos_dist == 2.0


def test_hard_example_mining_nulls_when_kind_missing(spark):
    from vectordb_explorations_spark.operators.knn import hard_examples
    # anchor 0's top-2 is all same-label: no negative inside k -> NULLs
    rows = [(0, [0.0], "A"), (1, [1.0], "A"), (2, [2.0], "A"),
            (3, [50.0], "B")]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    r = hard_examples(emb, num_queries=1, k=2).collect()[0]
    assert r.neg_id is None and r.neg_rank is None and r.neg_dist is None
    assert r.pos_id == 2 and r.pos_rank == 2


# ---- source_data_cards ----

def test_data_cards_aggregate_the_planted_structure(spark):
    from vectordb_explorations_spark.operators.sampling import (
        source_data_cards)
    base = ["the", "a"] + [f"word{i}" for i in range(28)]  # 30 words, keeps
    rows = [(0, "dup_src", "en", " ".join(base)),
            (1, "dup_src", "en", " ".join(base)),        # exact re-crawl
            (2, "clean_src", "en", " ".join(
                ["the", "a"] + [f"uniq{i}" for i in range(28)])),
            (3, "short_src", "en", "tiny doc")]           # gopher-dropped
    docs = spark.createDataFrame(
        rows, ["doc_id", "source", "lang", "text"])
    out = {r.source: r for r in source_data_cards(docs).collect()}

    dup = out["dup_src"]
    assert dup.n_docs == 2 and dup.distinct_texts == 1
    assert dup.exact_dup_rate == 0.5
    assert dup.gopher_keep_rate == 1.0
    # doc 0 keeps novelty 1.0, the verbatim re-crawl scores 0.0
    assert dup.mean_novelty == 0.5

    clean = out["clean_src"]
    assert clean.exact_dup_rate == 0.0 and clean.mean_novelty == 1.0

    short = out["short_src"]
    assert short.gopher_keep_rate == 0.0
    # below the novelty window: excluded from the mean, not zeroed
    assert short.mean_novelty is None


# ---- bpe_sequence_pack (r13 queue) ----

def test_bpe_sequence_pack_bin_math(spark):
    """Pinned packing walk with hand-computed BPE lengths: 'table
    hash'=2, 'query'=3, 'teeth'=5 under the baked merges; seq_len=4
    puts docs 0-1 in bin 0 (cum 0, 2) and doc 2 in bin 1 (cum 5)."""
    from vectordb_explorations_spark.operators.sampling import (
        bpe_sequence_pack)

    docs = spark.createDataFrame(
        [(0, "en", "table hash"), (1, "en", "query"), (2, "en", "teeth")],
        ["doc_id", "lang", "text"])
    out = {(r.lang, r.bin_id): r
           for r in bpe_sequence_pack(docs, seq_len=4).collect()}
    b0, b1 = out[("en", 0)], out[("en", 1)]
    assert (b0.n_docs, b0.bin_tokens, b0.first_doc, b0.last_doc) == (2, 5, 0, 1)
    assert (b1.n_docs, b1.bin_tokens, b1.first_doc, b1.last_doc) == (1, 5, 2, 2)
