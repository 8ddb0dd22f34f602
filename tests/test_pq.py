"""PQ: compression contract, determinism, and recall gates (ADC-only and
ADC+exact-refine) against the exact k-NN path."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vectordb_explorations_spark.operators import pq as PQ  # noqa: E402
from vectordb_explorations_spark.operators.ann import recall_at_k  # noqa: E402
from vectordb_explorations_spark.operators.knn import (  # noqa: E402
    knn_join, sample_queries)
from vectordb_explorations_spark.sources.catalog import load_table  # noqa: E402

K = 10


@pytest.fixture(scope="module")
def setup(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    books = PQ.pq_train(emb, m_subspaces=8, k_codes=64)
    codes = PQ.pq_encode(emb, books).cache()
    codes.count()
    queries = sample_queries(emb, 30).cache()
    exact = knn_join(emb, queries, K).cache()
    exact.count()
    return emb, books, codes, queries, exact


def test_codes_shape_and_range(setup):
    emb, books, codes, _, _ = setup
    assert books.shape == (8, 64, 8)
    rows = codes.limit(50).collect()
    assert all(len(r["codes"]) == 8 for r in rows)
    assert all(0 <= c < 64 for r in rows for c in r["codes"])
    assert codes.count() == emb.count()


def test_encode_deterministic(setup):
    emb, books, codes, _, _ = setup
    again = {r["vec_id"]: r["codes"] for r in PQ.pq_encode(emb, books).collect()}
    assert {r["vec_id"]: r["codes"] for r in codes.collect()} == again


def test_adc_recall(setup):
    _, books, codes, queries, exact = setup
    adc = PQ.pq_search(codes, books, queries, K)
    r = recall_at_k(adc, exact, K)
    assert r >= 0.4, r  # 8-byte codes, no refine: coarse but useful


def test_refined_recall(setup):
    emb, books, codes, queries, exact = setup
    refined = PQ.pq_search(codes, books, queries, K,
                           refine_with=emb, refine_factor=10)
    r = recall_at_k(refined, exact, K)
    assert r >= 0.9, r


def test_exact_refine_equals_sql_distance(setup):
    """The exact refine scores in NumPy. Each served distance must equal
    Spark's ``round(l2_distance_sql(...), 6)`` for its (query, vector)
    pair bit for bit, and each query's rows must be ranked 1..k by
    (distance, id)."""
    from pyspark.sql import functions as F

    from vectordb_explorations_spark.functions.vectors import (
        l2_distance_sql)

    emb, books, codes, queries, _ = setup
    served = PQ.pq_search(codes, books, queries, K, refine_with=emb,
                          refine_factor=5).collect()
    ref = (emb.crossJoin(queries.select("query_id", "query_vec"))
           .select("query_id", "vec_id", F.round(F.expr(l2_distance_sql(
               "embedding", "query_vec", books.shape[0] * books.shape[2])),
               6)))
    want = {(r[0], r[1]): r[2] for r in ref.collect()}
    assert served
    by_q = {}
    for q, i, d, rank in served:
        assert d == want[(q, i)], (q, i, d, want[(q, i)])
        by_q.setdefault(q, []).append((rank, d, i))
    for rows in by_q.values():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        assert [r[1:] for r in rows] == sorted(r[1:] for r in rows)


def test_adaptive_refine_factor_policy(spark, sf_dir):
    """Round-8 policy: refine_factor='auto' holds the rf*k/N candidate
    fraction (the 1M probe measured the fixed-rf decay: PQ 0.958->0.812,
    restored at the resolved rf); at fixture scale 'auto' floors at the
    default so results are unchanged; a fixed rf below the fraction
    warns loudly."""
    import warnings

    from vectordb_explorations_spark.operators.pq import (
        IVFPQ_REFINE_FRACTION, PQ_REFINE_FRACTION, adaptive_refine_factor,
        pq_encode, pq_search, pq_train)
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources.catalog import load_table

    # policy math: the 200k anchors resolve to the calibrated points
    assert adaptive_refine_factor(200_000, 10, PQ_REFINE_FRACTION) == 30
    assert adaptive_refine_factor(1_000_000, 10, PQ_REFINE_FRACTION) == 150
    assert adaptive_refine_factor(1_000_000, 10, IVFPQ_REFINE_FRACTION) == 50
    assert adaptive_refine_factor(2_000, 10, PQ_REFINE_FRACTION) == 10

    emb = load_table(spark, "embeddings", sf_dir)
    books = pq_train(emb, m_subspaces=8, k_codes=16)
    codes = pq_encode(emb, books)
    qs = sample_queries(emb, 3)
    fixed = pq_search(codes, books, qs, 5, refine_with=emb,
                      refine_factor=10).collect()
    auto = pq_search(codes, books, qs, 5, refine_with=emb,
                     refine_factor="auto").collect()
    assert sorted(map(tuple, fixed)) == sorted(map(tuple, auto))

    # at the 500-doc fixture any rf >= 1 satisfies the fraction, so the
    # warning branch needs a below-floor rf; the search still runs (its
    # shortlist just clamps empty and the refine returns no rows)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pq_search(codes, books, qs, 5, refine_with=emb,
                  refine_factor=-1000000).collect()
    msgs = [str(w.message) for w in caught
            if issubclass(w.category, RuntimeWarning)]
    assert any("recall decays" in m and "auto" in m for m in msgs), msgs


def test_corpus_n_cache_staleness_contract(spark, tmp_path):
    """The documented staleness contract, both layers of it: (1) a
    parquet DataFrame SNAPSHOTS its file listing at creation, so a
    long-lived object over a growing path reports the old N even on a
    fresh count — growing-path serving must re-read the path (the
    probe_partitioned helpers do) or pass corpus_n=; (2) _corpus_rows
    memoizes per DataFrame lifetime (proven via a cache sentinel) and
    invalidate_corpus_n() drops the memo."""
    from vectordb_explorations_spark.operators.pq import (
        _CORPUS_N_CACHE, _corpus_rows, invalidate_corpus_n)

    path = str(tmp_path / "grow")
    spark.range(100).write.parquet(path)
    df = spark.read.parquet(path)
    assert _corpus_rows(df, 1) == 100
    spark.range(50).write.mode("append").parquet(path)
    # layer 1 — the DataFrame's file index is a creation-time snapshot:
    # the old object cannot see the appended files at all
    assert df.count() == 100
    assert _corpus_rows(df, 1) == 100
    # a fresh read (what the probe_partitioned helpers do per call)
    # sees the grown layout
    assert _corpus_rows(spark.read.parquet(path), 1) == 150
    # layer 2 — memoization is real (sentinel read back, no count job)
    # and invalidation drops it
    _CORPUS_N_CACHE[df] = 999
    assert _corpus_rows(df, 1) == 999
    invalidate_corpus_n(df)
    assert _corpus_rows(df, 1) == 100
    _CORPUS_N_CACHE[df] = 999
    invalidate_corpus_n()  # no-arg clears everything
    assert _corpus_rows(df, 1) == 100


def test_append_clears_corpus_memo(spark, sf_dir, tmp_path):
    """Appending through ivfpq_append_partitioned advances the sidecar
    AND invalidates the memo; a probe that re-reads the path (the
    partitioned-serving contract) resolves auto policies against the
    grown N (the ADVICE staleness edge)."""
    from vectordb_explorations_spark.operators.pq import (
        _corpus_rows, ivfpq_build,
        ivfpq_append_partitioned, ivfpq_persist_partitioned)
    from vectordb_explorations_spark.sources.substrate import read_rows
    from vectordb_explorations_spark.operators.ann import IVF_ASSIGN_N
    from vectordb_explorations_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    codes, cents, books = ivfpq_build(emb, num_centroids=8, m_subspaces=8,
                                      k_codes=16)
    path = str(tmp_path / "ivfpq_grow")
    ivfpq_persist_partitioned(codes, path)
    n0 = read_rows(spark, path)
    df = spark.read.parquet(path)
    rep = IVF_ASSIGN_N
    assert _corpus_rows(df, rep) == n0
    batch = emb.limit(20).selectExpr("vec_id + 1000000 AS vec_id",
                                     "embedding", "label")
    ivfpq_append_partitioned(path, cents, books, batch)
    assert read_rows(spark, path) == n0 + 20
    # the append cleared the memo (no stale entry survives), and a
    # fresh read of the layout — what probe_partitioned does per call —
    # resolves against the grown N; the old snapshot object honestly
    # reports its own (old) listing rather than a cached number
    assert _corpus_rows(spark.read.parquet(path), rep) == n0 + 20
    assert _corpus_rows(df, rep) == n0  # snapshot semantics, recounted


def test_layout_without_sidecar_raises(spark, sf_dir, tmp_path):
    """A codes layout without its sidecar is not recounted or inferred:
    the probe and the append raise, and nothing is written. With the
    sidecar the corpus N is the stamped ``rows``."""
    import os

    from vectordb_explorations_spark.operators.pq import (
        ivfpq_append_partitioned, ivfpq_build, ivfpq_persist_partitioned,
        ivfpq_probe_partitioned)
    from vectordb_explorations_spark.sources.substrate import (
        SubstrateMetaError, meta_path, read_rows)

    emb = load_table(spark, "embeddings", sf_dir)
    codes, cents, books = ivfpq_build(emb, num_centroids=8, m_subspaces=8,
                                      k_codes=16)
    path = str(tmp_path / "nosidecar")
    ivfpq_persist_partitioned(codes, path)
    assert read_rows(spark, path) == emb.count()

    os.remove(meta_path(path))
    files = sorted(os.listdir(path))
    with pytest.raises(SubstrateMetaError, match="missing"):
        ivfpq_probe_partitioned(spark, path, cents, books,
                                sample_queries(emb, 2), K, nprobe=3,
                                refine_with=emb, refine_factor="auto")
    with pytest.raises(SubstrateMetaError, match="missing"):
        ivfpq_append_partitioned(path, cents, books, emb.limit(5))
    assert sorted(os.listdir(path)) == files


def test_corpus_meta_sidecar_on_uri_layout(spark, sf_dir, tmp_path):
    """The corpus-size sidecar goes through the Hadoop FS API, so a
    layout addressed by URI (``file://`` here; HDFS / object stores the
    same way) keeps it: N resolves with no count job, and the layout
    serves."""
    from vectordb_explorations_spark.operators.pq import (
        ivfpq_build, ivfpq_persist_partitioned, ivfpq_probe_partitioned)
    from vectordb_explorations_spark.sources.substrate import read_rows

    emb = load_table(spark, "embeddings", sf_dir)
    codes, cents, books = ivfpq_build(emb, num_centroids=8, m_subspaces=8,
                                      k_codes=16)
    path = "file://" + str(tmp_path / "ivfpq_uri")
    ivfpq_persist_partitioned(codes, path)
    n = emb.count()
    assert read_rows(spark, path) == n

    sc = spark.sparkContext
    sc.setJobGroup("corpus-meta-uri", "resolve corpus N")
    try:
        assert read_rows(spark, path) == n
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("corpus-meta-uri")) == []

    queries = sample_queries(emb, 3)
    served = ivfpq_probe_partitioned(spark, path, cents, books, queries, K,
                                     nprobe=3, refine_with=emb,
                                     refine_factor="auto").collect()
    assert len(served) == 3 * K
