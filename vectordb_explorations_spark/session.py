"""SparkSession factory tuned for the fixture scales and, by configuration
rather than code, for large clusters (AQE, skew handling, Arrow batching).
"""

from __future__ import annotations

import os

# Pin BLAS to one thread per process BEFORE any numpy-loading import wins:
# every Arrow-batched operator (GEMM scoring, k-means fits, PQ encode) runs
# NumPy inside N parallel Spark tasks, and a threaded BLAS spawning
# cores-many threads per task oversubscribes the box cores² — profiled at
# 3-6x wall-time swings on tiny per-batch GEMMs under local[32]. On a real
# cluster the same setting travels as spark.executorEnv.*; parallelism
# belongs to Spark's task scheduler, not the math library.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import SparkSession

# Defaults are sized for local[32] on the sf0.001..sf0.1 fixtures; on a real
# cluster the same knobs scale up (AQE coalesces/splits at runtime, so an
# over-provisioned shuffle partition count is safe).
_DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast joins for small dims (region/nation/supplier/queries).
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Parquet scans: pushdown + pruning are on by default; keep them explicit
    # so a config regression is visible.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.session.timeZone": "UTC",
    # Back-compat for TIMESTAMP(NANOS) events fixtures (read as INT64 nanos,
    # converted in the catalog layer). Inert for the current micros-precision
    # fixture, which Spark 4.x reads natively as TIMESTAMP_NTZ — the catalog
    # branches on the loaded dtype either way.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # HotSpot silently refuses to JIT methods over 8 KB of bytecode, and
    # the unrolled fixed-dim vector expressions this engine generates can
    # exceed that inside a single generated method (a SortMergeJoin
    # condition doesn't get split the way WholeStageCodegen projections
    # do). Measured on semantic_dedup's pair predicate at N=5k: 143 s
    # interpreted -> 8 s with the flag (SCALE_NOTES, 'semantic_dedup
    # pair-kernel crossover and fixed-vs-auto cluster cost').
    # On a real cluster set the executor twin too (local mode has none).
    "spark.driver.extraJavaOptions": "-XX:-DontCompileHugeMethods",
    "spark.executor.extraJavaOptions": "-XX:-DontCompileHugeMethods",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # Generated-class cache (an LRU, default 100 entries). One curation
    # pass (MinHash LSH, exact dedup, substring coverage, text stats,
    # Gopher signals, DSIR) cycles through about 175 distinct classes and
    # one ann_serve iteration through 43. Below the working set every
    # class misses on every repeated pass and Janino + the JIT run again.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # FileOutputCommitter version, parameterised (default v1). r14 set
    # v2 session-wide (task-parallel renames instead of v1's
    # driver-serial job commit) from A/B runs on a drifting window; a
    # cleaner r15 re-measure — alternating v1/v2 writes of the SAME
    # materialized frame in one session, steal-stamped — shows v1
    # FASTER on every hive substrate face on this box (maxsim 435-dir
    # face 2.19 vs 3.30 s median, minhash bands 1.62 vs 2.45,
    # perceptual 0.73 vs 0.78): on a local filesystem the job-commit
    # renames are microseconds and v2's 16-32 CONCURRENT task-commit
    # directory merges contend in the kernel — the same concurrency
    # that produced r14's anti-scaling build rows (8-core builds
    # beating 32-core). v1 is also the safe default (SPARK-33019: v2
    # task commit is non-atomic; a mid-commit task failure can leave
    # partial files in a job that still succeeds — r14 ADVICE). On a
    # real cluster whose job commit is remote-FS-RPC-bound (HDFS with
    # thousands of partition dirs) set SPARK_GRAFT_COMMITTER_V=2 for
    # the idempotent bulk builds — the APPEND / dynamic-overwrite
    # writers pin v1 per write regardless (sinks.V1_COMMITTER).
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version":
        os.environ.get("SPARK_GRAFT_COMMITTER_V", "1"),
    # Speculation is the other source of concurrent/racing task
    # commits; it defaults off, pinned so a cluster-side default flip
    # cannot silently reopen the window.
    "spark.speculation": "false",
}


def get_spark(app_name: str = "vectordb-explorations-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Return (or create) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falls back to
    ``local[*]``); on a real cluster pass ``None`` with a pre-set master or
    spark-submit.
    """
    # Make this package importable in Python worker processes (cloudpickle
    # references classes by module path, e.g. the HNSW graph blobs). On a
    # real cluster ship the package with --py-files instead.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else ""))

    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
