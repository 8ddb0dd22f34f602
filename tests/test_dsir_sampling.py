"""DSIR importance resampling + cluster-balanced sampling behavior tests.

Oracle parity (exactness vs DuckDB) rides test_oracle_parity.py like every
declared query; these tests pin the SEMANTICS — a planted target
distribution is actually recovered, quotas actually cap dominant clusters —
on corpora built for the purpose, not the fixture.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from vectordb_explorations_spark.operators.sampling import (  # noqa: E402
    cluster_balanced_sample, dsir_select)


def _planted_corpus(spark):
    """Target docs speak a tight phrase vocabulary; half the raw pool are
    lookalikes (same vocabulary), half are per-doc-unique gibberish."""
    phrase = "alpha beta gamma delta epsilon zeta"
    rows = []
    for i in range(10):                      # target exemplars
        rows.append((i, "tgt", phrase))
    for i in range(10, 30):                  # raw lookalikes
        rows.append((i, "raw", phrase))
    for i in range(30, 50):                  # raw gibberish
        toks = " ".join(f"g{i}w{j}" for j in range(6))
        rows.append((i, "raw", toks))
    return spark.createDataFrame(rows, ["doc_id", "source", "text"])


def test_dsir_recovers_planted_target_distribution(spark):
    docs = _planted_corpus(spark)
    out = dsir_select(docs, target_sources=("tgt",), k=40).collect()
    assert len(out) == 40                    # the whole raw pool, ranked
    by_id = {r.doc_id: r for r in out}
    assert set(by_id) == set(range(10, 50))  # target docs never selected
    look = [by_id[i].logratio for i in range(10, 30)]
    gib = [by_id[i].logratio for i in range(30, 50)]
    # every lookalike's importance log-weight beats every gibberish doc's
    assert min(look) > max(gib)
    # and the Gumbel-top-k front is dominated by lookalikes: with this
    # separation the noise cannot promote gibberish past them
    top20 = {r.doc_id for r in out[:20]}
    assert len(top20 & set(range(10, 30))) >= 15


def test_dsir_is_deterministic_and_partitioning_invariant(spark):
    docs = _planted_corpus(spark)
    a = dsir_select(docs, target_sources=("tgt",), k=40).collect()
    b = dsir_select(docs.repartition(7), target_sources=("tgt",),
                    k=40).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_cluster_balanced_sample_caps_dominant_clusters(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    quota = 3
    out = cluster_balanced_sample(emb, quota=quota).collect()
    per = {}
    for r in out:
        per.setdefault(r.cluster_id, []).append(r)
    n_total = emb.count()
    for cid, rows in per.items():
        size = rows[0].cluster_size
        assert all(r.cluster_size == size for r in rows)
        # quota actually caps; small clusters survive whole
        assert len(rows) == min(quota, size)
        assert sorted(r.rk for r in rows) == list(range(1, len(rows) + 1))
    # every corpus row is assigned to exactly one cluster
    assert sum(rows[0].cluster_size for rows in per.values()) == n_total
    ids = [r.vec_id for r in out]
    assert len(ids) == len(set(ids))


def test_mixture_plan_arithmetic_and_caps(spark, sf_dir):
    from vectordb_explorations_spark.operators.sampling import (
        MIXTURE_BUDGET_TOKENS, MIXTURE_WEIGHTS, mixture_plan)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = {r.source: r for r in mixture_plan(docs).collect()}
    # every source reports; unlisted sources carry weight 0 and ask for
    # nothing
    assert set(MIXTURE_WEIGHTS) <= set(rows)
    for src, r in rows.items():
        w = MIXTURE_WEIGHTS.get(src, 0.0)
        assert r.weight == w
        assert r.target_tokens == int(w * MIXTURE_BUDGET_TOKENS)
        # epochs > 1 means the source must repeat: the single-epoch
        # sampling rate is then capped at 1.0
        assert r.sample_rate <= 1.0
        if r.epochs > 1.0:
            assert r.sample_rate == 1.0
        else:
            assert abs(r.sample_rate - r.epochs) < 1e-9
        expected_epochs = w * MIXTURE_BUDGET_TOKENS / r.avail_tokens
        assert abs(r.epochs - expected_epochs) < 1e-6


def test_source_kl_flags_the_planted_drifted_source(spark):
    from vectordb_explorations_spark.operators.sampling import (
        source_kl_divergence)

    phrase = "alpha beta gamma delta epsilon zeta"
    rows = []
    for i in range(60):                     # three conformant sources
        rows.append((i, f"src{i % 3}", phrase))
    for i in range(60, 80):                 # one drifted source
        rows.append((i, "drifted", " ".join(f"d{i}w{j}" for j in range(6))))
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r.source: r.kl_divergence for r in
           source_kl_divergence(docs).collect()}
    assert set(out) == {"src0", "src1", "src2", "drifted"}
    assert all(v >= 0.0 for v in out.values())   # KL is non-negative
    conformant = max(out[s] for s in ("src0", "src1", "src2"))
    assert out["drifted"] > conformant * 2


def test_source_kl_null_source_matches_oracle(spark, tmp_path):
    """A null-source document keeps all-zero cells and adds nothing to
    the per-bucket and corpus totals, as the oracle's densifying join
    gives it."""
    import duckdb

    from vectordb_explorations_spark.operators.sampling import (
        source_kl_divergence, source_kl_divergence_oracle)

    path = str(tmp_path / "documents")
    spark.createDataFrame(
        [(0, "a", "alpha beta gamma"), (1, "b", "beta delta beta"),
         (2, None, "alpha alpha zeta"), (3, "a", "gamma delta")],
        "doc_id long, source string, text string").write.parquet(path)
    got = source_kl_divergence(spark.read.parquet(path)).collect()
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{path}/*.parquet')")
        want = con.execute(source_kl_divergence_oracle()).fetchall()
    finally:
        con.close()
    # keyed by source: the engines order a NULL source differently
    got = {r.source: (r.n_grams, r.kl_divergence) for r in got}
    want = {w[0]: (w[1], w[2]) for w in want}
    assert got.keys() == want.keys() == {"a", "b", None}
    for src, (n, kl) in want.items():
        assert got[src][0] == n
        assert got[src][1] == pytest.approx(kl, abs=1e-6)


def test_split_leakage_is_the_cross_split_pair_subset(spark, sf_dir):
    from vectordb_explorations_spark.operators.dedup import (
        JACCARD_THRESHOLD, minhash_lsh_pairs, split_leakage)
    from vectordb_explorations_spark.operators.sampling import split_column

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = split_leakage(docs).collect()
    assert len(out) > 0          # the fixture does leak across the split
    splits = {r.doc_id: r.split for r in
              docs.select("doc_id",
                          split_column(F.col("doc_id")).alias("split"))
              .collect()}
    for r in out:
        assert r.split_a != r.split_b
        assert r.split_a == splits[r.doc_id_a]
        assert r.split_b == splits[r.doc_id_b]
        assert r.jaccard >= JACCARD_THRESHOLD
    # exactly the cross-split subset of the engine's own verified pairs
    all_pairs = {(p.doc_id_a, p.doc_id_b)
                 for p in minhash_lsh_pairs(docs).collect()}
    expected = {(a, b) for (a, b) in all_pairs
                if splits[a] != splits[b]}
    assert {(r.doc_id_a, r.doc_id_b) for r in out} == expected


def test_gram_buckets_survive_degenerate_documents(spark):
    """Spark's sequence(1, 0) DESCENDS to [1, 0] — without the size guard
    the bigram lambda indexes out of bounds (ANSI crash) on <=1-token
    docs. Pin: solo/empty/whitespace-only docs flow through every
    consumer; DuckDB's range(1, 1) is already empty so the oracle needs
    no guard."""
    from vectordb_explorations_spark.operators.sampling import (
        _gram_buckets, dsir_select, source_kl_divergence)

    docs = spark.createDataFrame(
        [(0, "tgt", "alpha beta gamma"), (1, "raw", "solo"),
         (2, "raw", ""), (3, "raw", "   "), (4, "raw", "alpha beta")],
        ["doc_id", "source", "text"])
    grams = _gram_buckets(docs, 64).collect()
    # 3 uni + 2 bi (doc 0), 1 uni (doc 1), nothing (docs 2-3), 2+1 (doc 4)
    assert len(grams) == 9
    sel = {r.doc_id: r.n_grams for r in
           dsir_select(docs, target_sources=("tgt",), k=10).collect()}
    assert sel == {1: 1, 4: 3}            # tokenless docs drop, solo scores
    kl = {r.source: r.n_grams for r in source_kl_divergence(docs).collect()}
    assert kl == {"tgt": 5, "raw": 4}


def test_gumbel_clamp_is_finite_at_u_one_in_both_engines():
    """md5_uniform's range is (0, 1]; unclamped, u=1 ('ffffffff' prefix)
    makes Spark yield NULL and DuckDB hard-error — the clamp keeps both
    engines finite and identical."""
    import math

    import duckdb

    from vectordb_explorations_spark.operators.sampling import _GUMBEL_U_MAX

    py = -math.log(-math.log(min(1.0, _GUMBEL_U_MAX)))
    duck = duckdb.sql(
        f"SELECT -ln(-ln(least(1.0, {_GUMBEL_U_MAX!r})))").fetchone()[0]
    assert math.isfinite(py) and py == duck


def test_mixture_plan_reports_budgeted_sources_with_no_data(spark):
    from vectordb_explorations_spark.operators.sampling import mixture_plan

    docs = spark.createDataFrame(
        [(0, "src0", "a b c"), (1, "src1", "d e")],
        ["doc_id", "source", "text"])
    rows = {r.source: r for r in
            mixture_plan(docs, budget_tokens=100,
                         weights={"src0": 0.5, "src9": 0.5}).collect()}
    # the budgeted-but-absent source is REPORTED, not silently dropped
    assert set(rows) == {"src0", "src1", "src9"}
    missing = rows["src9"]
    assert missing.n_docs == 0 and missing.avail_tokens == 0
    assert missing.weight == 0.5 and missing.target_tokens == 50
    assert missing.epochs is None and missing.sample_rate is None
    assert rows["src1"].weight == 0.0 and rows["src1"].target_tokens == 0
