"""Serving contract: every public ANN serve call reads its query frame
once, the engine builds no Python-RDD frame of its own, the routed and
IVF-family serve calls run a pinned number of Spark jobs, and an empty
query batch serves an empty frame with the normal schema.

A Python-RDD query frame runs Python-worker tasks on every read, so a
serve call that re-reads the frame (to route, to probe, to refine) pays
for it again each time. The frame here bumps an accumulator once per row
evaluated; one read of a Q-row frame adds exactly Q.
"""

import pytest
from pyspark.sql import functions as F

from vectordb_explorations_spark.operators.ann import (
    coalesce_to_split_size, ivf_build, ivf_persist_partitioned,
    ivf_probe_partitioned, ivf_search)
from vectordb_explorations_spark.operators.hnsw import (
    hnsw_build, hnsw_persist_partitioned, hnsw_probe_partitioned,
    hnsw_search)
from vectordb_explorations_spark.operators.knn import (
    knn_join_blockwise, sample_queries)
from vectordb_explorations_spark.operators.pq import (
    ivfpq_build, ivfpq_persist_partitioned, ivfpq_probe_partitioned,
    ivfpq_search)
from vectordb_explorations_spark.operators.sq import (
    ivfsq_build, ivfsq_persist_partitioned, ivfsq_probe_partitioned,
    ivfsq_search)
from vectordb_explorations_spark.sources import load_table, substrate
from spark_status import input_stage_tasks, traced

K = 5
NUM_Q = 12


@pytest.fixture(scope="module")
def layouts(spark, sf_dir, tmp_path_factory):
    emb = load_table(spark, "embeddings", sf_dir)
    base = tmp_path_factory.mktemp("serve_reads")
    out = {"emb": emb}

    idx = hnsw_build(emb, num_shards=4, shard_by="kmeans")
    out["hnsw"] = str(base / "hnsw")
    out["hnsw_index"] = idx
    hnsw_persist_partitioned(idx, out["hnsw"])

    assigned, cents = ivf_build(emb, num_centroids=8)
    out["ivf"] = (str(base / "ivf"), cents)
    out["ivf_assigned"] = assigned
    ivf_persist_partitioned(assigned, out["ivf"][0])

    codes, cents, books = ivfpq_build(emb, num_centroids=8, m_subspaces=8,
                                      k_codes=16)
    out["ivfpq"] = (str(base / "ivfpq"), cents, books)
    out["ivfpq_codes"] = codes
    ivfpq_persist_partitioned(codes, out["ivfpq"][0])

    codes, cents, mins, maxs = ivfsq_build(emb, num_centroids=8)
    out["ivfsq"] = (str(base / "ivfsq"), cents, mins, maxs)
    out["ivfsq_codes"] = codes
    ivfsq_persist_partitioned(codes, out["ivfsq"][0])
    return out


def _counting_queries(spark, emb):
    """A Python-RDD query frame (4 partitions) and the accumulator its
    rows bump when evaluated."""
    rows = [(int(r[0]), [float(x) for x in r[1]])
            for r in sample_queries(emb, NUM_Q).collect()]
    sc = spark.sparkContext
    acc = sc.accumulator(0)

    def bump(row):
        acc.add(1)
        return row

    qdf = spark.createDataFrame(sc.parallelize(rows, 4).map(bump),
                                "query_id long, query_vec array<double>")
    return qdf, acc


def _serve_calls(spark, lay):
    emb = lay["emb"]
    ivf_path, ivf_cents = lay["ivf"]
    pq_path, pq_cents, books = lay["ivfpq"]
    sq_path, sq_cents, mins, maxs = lay["ivfsq"]
    return {
        "knn_join_blockwise": lambda q: knn_join_blockwise(emb, q, K),
        "hnsw_probe_partitioned": lambda q: hnsw_probe_partitioned(
            spark, lay["hnsw"], q, K, probe_shards="auto"),
        "ivfpq_probe_partitioned": lambda q: ivfpq_probe_partitioned(
            spark, pq_path, pq_cents, books, q, K, nprobe=3,
            refine_with=emb, refine_factor=4),
        "ivf_probe_partitioned": lambda q: ivf_probe_partitioned(
            spark, ivf_path, ivf_cents, q, K, nprobe=3),
        "ivfsq_probe_partitioned": lambda q: ivfsq_probe_partitioned(
            spark, sq_path, sq_cents, mins, maxs, q, K, nprobe=3,
            refine_with=emb, refine_factor=4),
    }


@pytest.mark.parametrize("call", ["knn_join_blockwise",
                                  "hnsw_probe_partitioned",
                                  "ivfpq_probe_partitioned",
                                  "ivf_probe_partitioned",
                                  "ivfsq_probe_partitioned"])
def test_serve_call_reads_query_frame_once(spark, layouts, call):
    qdf, acc = _counting_queries(spark, layouts["emb"])
    result = _serve_calls(spark, layouts)[call](qdf).collect()
    assert {r["query_id"] for r in result}  # the call really served
    assert acc.value == NUM_Q, (call, acc.value)


def test_refine_query_side_is_not_a_python_rdd(spark, layouts, tmp_path):
    """Over a parquet query source the refined IVF-PQ call runs no
    ExistingRDD scan: no plan it executes (read from the SQL status
    store) reads a Python-RDD frame, and the served frame is a local
    table."""
    emb = layouts["emb"]
    path, cents, books = layouts["ivfpq"]
    qpath = str(tmp_path / "queries")
    sample_queries(emb, NUM_Q).write.parquet(qpath)
    rows, _, plans = traced(spark, lambda: ivfpq_probe_partitioned(
        spark, path, cents, books, spark.read.parquet(qpath), K,
        nprobe=3, refine_with=emb, refine_factor=4).collect())
    assert plans
    assert not any("ExistingRDD" in p for p in plans), plans
    assert "LocalTableScan" in plans[-1], plans[-1][:2000]
    assert len(rows) == NUM_Q * K


def _local_queries(spark, emb):
    """The sample queries as a pandas-built (local) frame: reading it
    runs no Spark job."""
    import pandas as pd

    rows = [(int(r[0]), [float(x) for x in r[1]])
            for r in sample_queries(emb, NUM_Q).collect()]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["query_id", "query_vec"]),
        "query_id long, query_vec array<double>")


# Spark jobs per serve call over a local (pandas-built) query frame.
# Every layout is read with the schema its sidecar stamps, so no call
# runs a schema-discovery job, and every call merges, ranks and builds
# the served frame on the driver. HNSW and IVF-flat: the probe scan
# alone (HNSW routes from the sidecar's cell table). IVF-PQ/SQ8: the
# probe scan and the exact re-score.
SERVE_JOBS = {"hnsw_probe_partitioned": 1,
              "ivf_probe_partitioned": 1,
              "ivfpq_probe_partitioned": 2,
              "ivfsq_probe_partitioned": 2}


@pytest.mark.parametrize("call", sorted(SERVE_JOBS))
def test_serve_call_job_count(spark, layouts, call):
    qdf = _local_queries(spark, layouts["emb"])
    served, jobs, _ = traced(
        spark, lambda: _serve_calls(spark, layouts)[call](qdf).collect())
    assert len(served) == NUM_Q * K
    assert jobs == SERVE_JOBS[call], (call, jobs)


@pytest.mark.parametrize("call", ["hnsw_probe_partitioned",
                                  "ivf_probe_partitioned"])
def test_routed_probe_scan_runs_one_task(spark, layouts, call):
    """A routed scan is coalesced to Spark's split size: the test
    layout's probed shards or lists (a few files, well under the 4 MB
    open cost) are read by one Python task, not one task per file."""
    qdf = _local_queries(spark, layouts["emb"])
    served, tasks = input_stage_tasks(
        spark, lambda: _serve_calls(spark, layouts)[call](qdf).collect())
    assert len(served) == NUM_Q * K
    assert tasks == [1], tasks


def test_split_size_spreads_a_large_scan(spark):
    """``coalesce_to_split_size`` follows Spark's whole file-split rule: a
    scan estimated under one open cost runs as one task, and one estimated
    at 80 MB per core keeps a task per core (the maxPartitionBytes part
    alone would pack it into fewer)."""
    par = spark.sparkContext.defaultParallelism
    big = spark.range(0, 10_000_000 * par, numPartitions=2 * par)
    small = spark.range(0, 1000, numPartitions=2 * par)
    assert coalesce_to_split_size(big).rdd.getNumPartitions() == par
    assert coalesce_to_split_size(small).rdd.getNumPartitions() == 1


def test_unrouted_hnsw_blob_scan_keeps_its_spread(spark, layouts):
    """An unrouted probe searches every shard for every query, so its
    blob scan is not coalesced: it runs as many tasks as a plain read of
    the layout's blob column does."""
    path = layouts["hnsw"]
    face = substrate.read_face(spark, path,
                               substrate.read_meta(spark, path, "test"))
    _, plain = input_stage_tasks(spark, lambda: face.select(
        "shard", "blob").write.format("noop").mode("overwrite").save())
    qdf = _local_queries(spark, layouts["emb"])
    served, tasks = input_stage_tasks(spark, lambda: hnsw_probe_partitioned(
        spark, path, qdf, K, probe_shards=None).collect())
    assert len(served) == NUM_Q * K
    assert plain[0] > 1 and tasks == plain, (tasks, plain)


def test_unrouted_search_over_built_index_runs_a_task_per_shard(spark,
                                                                 layouts):
    """``hnsw_build`` places each shard in its own partition, as many as
    the shard count (capped by the session's shuffle width), so an
    unrouted search over a cached 4-shard index runs 4 blob-scan tasks,
    one per shard."""
    idx = hnsw_build(layouts["emb"], num_shards=4).cache()
    try:
        idx.count()
        placed = idx.groupBy(F.spark_partition_id()).count().collect()
        qdf = _local_queries(spark, layouts["emb"])
        served, tasks = input_stage_tasks(
            spark, lambda: hnsw_search(idx, qdf, K).collect())
    finally:
        idx.unpersist()
    assert len(served) == NUM_Q * K
    assert sorted(r["count"] for r in placed) == [1, 1, 1, 1], placed
    assert tasks == [4], tasks


def _in_memory_calls(spark, lay):
    emb = lay["emb"]
    _, ivf_cents = lay["ivf"]
    _, pq_cents, books = lay["ivfpq"]
    _, sq_cents, mins, maxs = lay["ivfsq"]
    return {
        "hnsw_search": lambda q: hnsw_search(lay["hnsw_index"], q, K),
        "hnsw_search_routed": lambda q: hnsw_search(
            lay["hnsw_index"], q, K, probe_shards="auto"),
        "ivf_search": lambda q: ivf_search(
            lay["ivf_assigned"], ivf_cents, q, K, nprobe=3),
        "ivfpq_search": lambda q: ivfpq_search(
            lay["ivfpq_codes"], pq_cents, books, q, K, nprobe=3),
        "ivfpq_search_refined": lambda q: ivfpq_search(
            lay["ivfpq_codes"], pq_cents, books, q, K, nprobe=3,
            refine_with=emb, refine_factor=4),
        "ivfsq_search": lambda q: ivfsq_search(
            lay["ivfsq_codes"], sq_cents, mins, maxs, q, K, nprobe=3),
    }


@pytest.mark.parametrize("call", [
    "knn_join_blockwise", "hnsw_search", "hnsw_search_routed",
    "ivf_search", "ivfpq_search", "ivfpq_search_refined", "ivfsq_search",
    "hnsw_probe_partitioned", "ivfpq_probe_partitioned",
    "ivf_probe_partitioned", "ivfsq_probe_partitioned"])
def test_empty_query_batch_serves_empty_frame(spark, layouts, call):
    calls = {**_serve_calls(spark, layouts),
             **_in_memory_calls(spark, layouts)}
    served = calls[call](sample_queries(layouts["emb"], NUM_Q).limit(0))
    assert served.dtypes == [("query_id", "bigint"), ("vec_id", "bigint"),
                             ("dist", "double"), ("rank", "int")], call
    assert served.collect() == []
