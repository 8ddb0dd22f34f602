"""IVF-PQ composite: build contract (codes per assigned row, shared
codebooks), determinism, and recall gates (ADC-only and refined) against
the exact path. Also pins that a probe scans only the probed lists."""

import os
import sys

import pytest
from pyspark.sql import functions as F

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
    codes, cents, books = PQ.ivfpq_build(emb, num_centroids=8,
                                         m_subspaces=16, k_codes=64)
    codes = codes.cache()
    codes.count()
    queries = sample_queries(emb, 30).cache()
    exact = knn_join(emb, queries, K).cache()
    exact.count()
    return emb, codes, cents, books, queries, exact


def test_build_contract(setup):
    emb, codes, cents, books, _, _ = setup
    assert books.shape == (16, 64, 4)
    assert cents.shape[1] == 64
    rows = codes.limit(50).collect()
    assert all(len(r["codes"]) == 16 for r in rows)
    assert all(0 <= c < 64 for r in rows for c in r["codes"])
    # one code row per (vector, assigned list): assign_n=2 replication
    n = emb.count()
    assert n <= codes.count() <= 2 * n
    assert codes.select("vec_id").distinct().count() == n


def test_build_with_one_centroid(spark, sf_dir):
    """One coarse cell: the residual-fit sample replicates each vector
    into at most as many cells as exist, as the assignment does, so
    every vector is encoded once into list 0."""
    emb = load_table(spark, "embeddings", sf_dir)
    codes, cents, books = PQ.ivfpq_build(emb, num_centroids=1,
                                         m_subspaces=8, k_codes=16)
    assert cents.shape == (1, 64) and books.shape == (8, 16, 8)
    rows = codes.select("vec_id", "list_id").collect()
    assert {r["list_id"] for r in rows} == {0}
    assert len(rows) == len({r["vec_id"] for r in rows}) == emb.count()


def test_probe_scans_only_probed_lists(setup):
    """The ADC stage's input is the broadcast-probe join: rows from
    unprobed lists must not reach it (that bound is the whole point of
    the composite at scale)."""
    _, codes, cents, books, queries, _ = setup
    one = queries.limit(1)
    out = PQ.ivfpq_search(codes, cents, books, one, K, nprobe=2)
    assert out.count() <= K
    # with nprobe covering all lists the result can only grow
    full = PQ.ivfpq_search(codes, cents, books, one, K,
                           nprobe=cents.shape[0])
    assert full.count() >= out.count()


def test_ivfpq_adc_recall(setup):
    _, codes, cents, books, queries, exact = setup
    adc = PQ.ivfpq_search(codes, cents, books, queries, K, nprobe=4)
    r = recall_at_k(adc, exact, K)
    assert r >= 0.5, r  # residual codes, no refine: coarse but useful


def test_ivfpq_refined_recall(setup):
    emb, codes, cents, books, queries, exact = setup
    refined = PQ.ivfpq_search(codes, cents, books, queries, K, nprobe=4,
                              refine_with=emb, refine_factor=10)
    r = recall_at_k(refined, exact, K)
    assert r >= 0.85, r


def test_encode_deterministic(setup):
    emb, codes, cents, books, _, _ = setup
    again, _, _ = PQ.ivfpq_build(emb.repartition(7), num_centroids=8,
                                 m_subspaces=16, k_codes=64)
    a = {(r["vec_id"], r["list_id"]): r["codes"] for r in codes.collect()}
    b = {(r["vec_id"], r["list_id"]): r["codes"] for r in again.collect()}
    assert a == b


@pytest.mark.parametrize("m,dsub", [(16, 4), (8, 8), (4, 16), (2, 32)])
def test_residual_luts_bit_equal_per_query_formula(m, dsub):
    """The ADC kernel builds a list's LUTs for all its probing queries at
    once; every table must equal the one-query formula bit for bit,
    including subvectors long enough for NumPy's pairwise summation."""
    import numpy as np

    rng = np.random.default_rng(m)
    books = rng.normal(size=(m, 64, dsub))
    resid = rng.normal(size=(37, m * dsub))
    got = PQ._residual_luts(resid, books)
    for qi, r in enumerate(resid):
        want = np.stack([((r[s * dsub:(s + 1) * dsub][None, :]
                           - books[s]) ** 2).sum(-1) for s in range(m)])
        assert got[qi].tobytes() == want.tobytes(), qi


def test_ivfpq_partitioned_probe_prunes_and_matches(spark, sf_dir, tmp_path):
    """Partitioned serving for the compressed composite (round 9): the
    probe's scan must show PartitionFilters on list_id (unprobed list
    directories never read), the refine policy must resolve from the
    sidecar corpus metadata (replication-corrected N — no count job),
    and results must equal ivfpq_search over the full code table bit
    for bit."""
    import json
    import os as _os
    import re

    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.operators.pq import (
        ivfpq_build, ivfpq_persist_partitioned, ivfpq_probe_partitioned,
        ivfpq_search)
    from vectordb_explorations_spark.sources import load_table
    from spark_status import traced

    emb = load_table(spark, "embeddings", sf_dir)
    codes, cents, books = ivfpq_build(emb, num_centroids=8,
                                      m_subspaces=8, k_codes=16)
    codes = codes.cache()
    codes.count()
    path = str(tmp_path / "ivfpq_idx")
    ivfpq_persist_partitioned(codes, path)

    # sidecar metadata carries corpus rows, not replicated code rows
    with open(_os.path.join(path, "_meta.json")) as f:
        assert json.load(f)["rows"] == emb.count()

    queries = sample_queries(emb, 5).cache()
    # the served frame is a local table: read the plans the call executed
    served, _, plans = traced(spark, lambda: ivfpq_probe_partitioned(
        spark, path, cents, books, queries, 5, nprobe=2, refine_with=emb,
        refine_factor=5))
    plan = "\n".join(plans)
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    # the refine-side embeddings scan legitimately has no partition
    # filters; the CODE scan must carry a non-empty list_id filter
    assert any("list_id" in pf for pf in pfs), plan[:1500]

    full = ivfpq_search(codes, cents, books, queries, 5, nprobe=2,
                        refine_with=emb, refine_factor=5)
    a = sorted(map(tuple, served.collect()))
    b = sorted(map(tuple, full.collect()))
    assert a == b and a
    codes.unpersist()


def test_ivfpq_append_incremental_equals_rebuild(spark, sf_dir, tmp_path):
    """Incremental IVF-PQ ingest: after appending a batch encoded against
    FROZEN centroids/codebooks, (a) probes over the appended layout must
    equal ivfpq_search over the logical code union (build and append
    share _ivfpq_encode, so codes are bit-identical), and (b) the sidecar
    corpus count advances by the batch size, keeping refine auto-policy
    resolution job-free AND true to N."""
    from vectordb_explorations_spark.operators.ann import ivf_assign
    from vectordb_explorations_spark.operators.pq import (
        _ivfpq_encode, ivfpq_append_partitioned,
        ivfpq_build, ivfpq_persist_partitioned, ivfpq_probe_partitioned,
        ivfpq_search)
    from vectordb_explorations_spark.sources.substrate import read_rows

    emb = load_table(spark, "embeddings", sf_dir)
    old = emb.where(F.col("vec_id") % 5 != 0)
    new = emb.where(F.col("vec_id") % 5 == 0).limit(20).cache()
    codes, cents, books = ivfpq_build(old, num_centroids=8,
                                      m_subspaces=8, k_codes=16)
    codes = codes.cache()
    codes.count()
    path = str(tmp_path / "ivfpq_inc")
    ivfpq_persist_partitioned(codes, path)
    n0 = read_rows(spark, path)
    ivfpq_append_partitioned(path, cents, books, new)
    assert read_rows(spark, path) == n0 + new.count()

    queries = sample_queries(emb, 5).cache()
    served = ivfpq_probe_partitioned(spark, path, cents, books, queries, 5,
                                     nprobe=3, refine_with=emb,
                                     refine_factor=4)
    union = codes.unionByName(
        _ivfpq_encode(ivf_assign(new.select("vec_id", "embedding"), cents),
                      cents, books))
    full = ivfpq_search(union, cents, books, queries, 5, nprobe=3,
                        refine_with=emb, refine_factor=4)
    a = sorted(map(tuple, served.collect()))
    b = sorted(map(tuple, full.collect()))
    assert a == b and a
    codes.unpersist()


def test_ivfpq_search_partitioning_invariant(setup, spark):
    """The closure probe-map kernel pools per (partition, list, query),
    so HOW codes land in partitions must not change the result: any
    globally-top-n candidate survives its own pool's head (fewer than n
    rows beat it anywhere), and the qid-grouped min-merge picks the same
    replica estimate regardless of which partition carried it. Pin it:
    searches over a 7-way reshuffle of the code table must equal the
    original bit for bit, refined and raw."""
    emb, codes, cents, books, queries, exact = setup
    for kw in (dict(refine_with=None),
               dict(refine_with=emb, refine_factor=5)):
        a = PQ.ivfpq_search(codes, cents, books, queries, 5, nprobe=2,
                            **kw)
        b = PQ.ivfpq_search(codes.repartition(7), cents, books, queries,
                            5, nprobe=2, **kw)
        ra = sorted(map(tuple, a.collect()))
        rb = sorted(map(tuple, b.collect()))
        assert ra == rb and ra
