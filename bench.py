#!/usr/bin/env python3
"""Headline benchmark: runs the engine's flagship workloads at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, ...}

Workload mapping to BASELINE.md's measurement protocol:
- index_build_lsh / index_build_hnsw   ↔ SizeTest footprint phases
- knn_exact_batch100 (k=10, blockwise) ↔ FindNearest brute-force ideal
- ann_lsh_batch100 + recall@10         ↔ greedy graph search quality/latency
- dedup_minhash_lsh / text_stats / pricing_summary / region_revenue /
  user_sessions                        ↔ north-star + relational inventory
Each timing forces full execution with a noop-format write (no driver
collect; results never leave the executors).
"""

from __future__ import annotations

import os

# Must precede numpy's first load (see session.py): threaded BLAS inside 32
# parallel tasks oversubscribes the box and skews every GEMM-heavy timing.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

import json
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vectordb_explorations_spark.session import get_spark  # noqa: E402
from vectordb_explorations_spark.sources.catalog import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
K = 10
NUM_QUERIES = 100


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _load_gate(extras: dict) -> None:
    """Binding-baseline honesty gate (r9 verdict: the r09 record drifted
    +7-25% on unchanged rows at loadavg 6.4 and minted two loose binding
    baselines). If the 1-min loadavg exceeds the gate at start, WAIT for
    the box to quiet (bounded), and stamp the record either way so a
    noisy run can never silently become a binding number."""
    gate = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "2.0"))
    wait_budget = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "600"))
    try:
        load1 = os.getloadavg()[0]
    except OSError:
        return
    extras["loadavg_at_start"] = round(load1, 2)
    waited = 0.0
    while load1 > gate and waited < wait_budget:
        time.sleep(15)
        waited += 15
        load1 = os.getloadavg()[0]
    if waited:
        extras["load_gate_waited_sec"] = round(waited, 1)
        extras["loadavg_after_wait"] = round(load1, 2)
    if load1 > gate:
        extras["load_gate"] = "EXCEEDED"  # record is NOT binding-quality
        print(f"WARNING: 1-min loadavg {load1:.2f} > gate {gate} after "
              f"{waited:.0f}s wait — timings in this record are not "
              f"binding-baseline quality", file=sys.stderr)


def _total_busy_jiffies() -> int:
    """System-wide non-idle jiffies from /proc/stat (idle+iowait excluded)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals) - vals[3] - (vals[4] if len(vals) > 4 else 0)


def _steal_jiffies() -> int:
    """Hypervisor steal jiffies (/proc/stat field 8) — CPU the host gave
    to OTHER guests while this VM had runnable work. The unambiguous
    external-contention signal on a dedicated VM: unlike the busy-minus-
    self residual below it has no process-attribution error at all."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0


def _tree_jiffies(root_pid: int) -> int:
    """utime+stime jiffies of ``root_pid`` and every live descendant,
    PLUS each live descendant's cutime+cstime (reaped-children jiffies —
    pyspark daemon workers exit mid-run and their CPU otherwise vanishes
    from the end snapshot while staying in the system-wide counter,
    which inflated cpu_cores_external by ~2-3 cores on every r14 run;
    cutime only covers terminated+waited children, so live descendants
    are never double counted). One /proc scan; per-process stat is
    thread-inclusive, so the JVM's 32 executor threads are fully
    counted."""
    procs: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                s = f.read()
            rest = s[s.rindex(")") + 2:].split()  # comm may contain spaces
            procs[int(entry)] = (int(rest[1]),
                                 int(rest[11]) + int(rest[12])
                                 + int(rest[13]) + int(rest[14]))
        except (OSError, ValueError, IndexError):
            # a process exiting mid-scan can yield an unreadable OR
            # empty/truncated stat line — skip it; only OSError was
            # caught before, so a torn read aborted the whole bench
            continue
    total = 0
    for pid, (ppid, jiff) in procs.items():
        p, seen = pid, set()
        while p and p not in seen:
            if p == root_pid:
                total += jiff
                break
            seen.add(p)
            p = procs.get(p, (0, 0))[0]
    return total


def _end_of_run_contention_stamp(extras: dict, t0: float,
                                 busy0: int, self0: int,
                                 steal0: int = -1) -> None:
    """Close the load-gate's end-of-run hole (r10 verdict item 6): the
    start gate only proves the box was quiet at t=0 — a mid-run external
    spike was invisible (BENCH_r10 ended at loadavg 5.6-6.2, mostly
    self-load, with nothing distinguishing it from contention). Loadavg
    cannot separate self from foreign load, so measure CPU directly:
    system-wide busy jiffies minus this process tree's jiffies over the
    run = EXTERNAL cores. Above SPARK_GRAFT_EXTERNAL_GATE (default 2.0
    cores averaged over the whole run) the record is stamped EXCEEDED —
    the same not-binding-quality verdict as a hot start.

    Measurement fix (r15): the r14 stamps read ~2.5-3.9 external cores
    on EVERY run because descendants that exited mid-run (pyspark
    daemon workers) dropped out of the end snapshot — their jiffies
    stayed in the system-wide counter and were misattributed as
    external. _tree_jiffies now folds each live process's
    cutime+cstime (reaped-children jiffies, recursive by definition)
    into self, which also supersedes the old getrusage add-back (the
    root's cutime/cstime IS getrusage(RUSAGE_CHILDREN) — keeping both
    would double count). cpu_cores_steal is additionally stamped from
    /proc/stat's steal field: on this dedicated VM it is the
    attribution-error-free external signal (the busy-minus-self
    residual includes it plus any same-kernel daemons)."""
    try:
        wall = time.time() - t0
        hz = os.sysconf("SC_CLK_TCK")
        sys_cores = (_total_busy_jiffies() - busy0) / (wall * hz)
        self_cores = (_tree_jiffies(os.getpid()) - self0) / (wall * hz)
        external = max(0.0, sys_cores - self_cores)
        steal = ((_steal_jiffies() - steal0) / (wall * hz)
                 if steal0 >= 0 else None)
    except (OSError, ValueError):
        return
    extras["cpu_cores_busy_system"] = round(sys_cores, 2)
    extras["cpu_cores_busy_self"] = round(self_cores, 2)
    extras["cpu_cores_external"] = round(external, 2)
    if steal is not None:
        extras["cpu_cores_steal"] = round(steal, 2)
    gate = float(os.environ.get("SPARK_GRAFT_EXTERNAL_GATE", "2.0"))
    if external > gate:
        extras["load_gate"] = "EXCEEDED"
        print(f"WARNING: ~{external:.1f} external CPU cores ran alongside "
              f"this bench (> gate {gate}) — timings in this record are "
              f"not binding-baseline quality", file=sys.stderr)


def _calibrate(extras: dict, spark) -> None:
    """Fixed-work calibration rows (r11 verdict item 2): two workloads
    that CANNOT change with engine code — a seeded NumPy GEMM (pure
    CPU/memory-bandwidth, single BLAS thread per the env pins above)
    and a fixed-partitioning Spark codegen aggregation over in-memory
    range data (JVM + codegen + task-scheduling path, no engine
    operators, no I/O, partitioning pinned so session conf cannot move
    it). Round-over-round comparisons of unchanged rows divide by the
    calibration ratio first (ratios-of-ratios, BASELINE.md
    "Calibration" note), which makes a box-speed drift — two rounds of
    bench-wide ~15-30% swings were previously attributed to the
    environment on jiffies evidence alone — falsifiable: if untouched
    rows still read >1.1x after normalization, bisect the code instead.
    Same discipline as query rows: one untimed warmup, median of 3."""
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.standard_normal((1024, 1024))
    b = rng.standard_normal((1024, 1024))

    def gemm():
        for _ in range(3):
            np.dot(a, b)

    def spark_agg():
        _force(spark.range(0, 50_000_000, 1, 32)
               .selectExpr("sum(id * 2654435761 % 1000003) AS s"))

    for name, fn in (("calib_gemm_sec", gemm),
                     ("calib_spark_agg_sec", spark_agg)):
        fn()
        runs = []
        for _ in range(3):
            t0 = time.time()
            fn()
            runs.append(time.time() - t0)
        extras[name] = round(sorted(runs)[1], 3)


def main() -> None:
    extras_pregate: dict = {}
    _load_gate(extras_pregate)
    run_t0 = time.time()
    try:
        run_busy0, run_self0 = _total_busy_jiffies(), _tree_jiffies(os.getpid())
        run_steal0 = _steal_jiffies()
    except OSError:
        run_busy0 = run_self0 = run_steal0 = -1
    spark = get_spark(app_name="vx-bench")
    spark.sparkContext.setLogLevel("ERROR")
    _calibrate(extras_pregate, spark)

    from vectordb_explorations_spark.operators import dedup as D
    from vectordb_explorations_spark.operators import relational as R
    from vectordb_explorations_spark.operators import textops as X
    from vectordb_explorations_spark.operators.ann import (
        lsh_refine_hot_buckets, lsh_search, random_hyperplane_lsh, recall_at_k)
    from vectordb_explorations_spark.operators.hnsw import hnsw_build, hnsw_search
    from vectordb_explorations_spark.operators.knn import (
        knn_join, knn_join_blockwise, sample_queries)

    timings: dict[str, float] = {}
    extras: dict[str, float] = dict(extras_pregate)

    def _dir_bytes(path: str) -> int:
        total = 0
        for root, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    def persist_bytes(name: str, *dfs) -> None:
        # The reference's only benchmark is a memory-footprint test
        # (SizeTest, hnsw.cc:435-483); this is its Spark mirror — bytes on
        # disk of each persisted index artifact (BASELINE.md engine
        # protocol: "index bulk-build wall time + persisted size").
        total = 0
        for i, df in enumerate(dfs):
            path = f"/tmp/bench_index_{name}_{i}"
            df.write.mode("overwrite").parquet(path)
            total += _dir_bytes(path)
        extras[f"index_bytes_{name}"] = total

    def cached_mem_bytes() -> int:
        # total bytes of materialized cache blocks across the JVM — the
        # in-memory half of SizeTest's phase-by-phase footprint printout
        # (hnsw.cc:435-483 prints process memory after each phase; we
        # record the cache-storage delta across each index build)
        return sum(info.memSize()
                   for info in spark._jsc.sc().getRDDStorageInfo())

    def bench_build(name: str, fn) -> None:
        before = cached_mem_bytes()
        bench(name, fn, warmup=False)
        extras[f"index_mem_bytes_{name.replace('index_build_', '')}"] = \
            cached_mem_bytes() - before

    def bench(name: str, fn, warmup: bool = True) -> None:
        # Query entries are timed steady-state: one untimed warmup run pays
        # whole-stage-codegen JIT compilation (which at these fixture scales
        # dwarfs the actual execution), then the MEDIAN of 3 timed runs is
        # reported — single-run timings on a 32-thread local JVM swing with
        # GC/compilation noise. Index builds pass warmup=False — they are
        # one-shot batch jobs where a single cold run is the honest number.
        if warmup:
            fn()
            runs = []
            for _ in range(3):
                t0 = time.time()
                fn()
                runs.append(time.time() - t0)
            timings[name] = round(sorted(runs)[1], 3)
        else:
            t0 = time.time()
            fn()
            timings[name] = round(time.time() - t0, 3)

    # warm the JVM + parquet footer caches with a trivial action
    for t in ("embeddings", "documents", "lineitem", "events"):
        load_table(spark, t, SF_DIR).count()

    emb = load_table(spark, "embeddings", SF_DIR)
    # Corpus size once, up front: searches take it as index metadata so
    # adaptive-policy resolution never schedules a count() job inside a
    # timed serving loop (the r8 ann_pq_refined regression).
    n_emb = emb.count()
    docs = load_table(spark, "documents", SF_DIR)
    queries = sample_queries(emb, NUM_QUERIES).cache()
    queries.count()

    bench("knn_exact_batch100",
          lambda: _force(knn_join_blockwise(emb, queries, K)))
    bench("knn_exact_batch100_window",
          lambda: _force(knn_join(emb, queries, K, dim=64)))

    lsh_idx = {}

    def build_lsh():
        # r01 scope EXACTLY: the bare hyperplane-bucket index, cached and
        # counted. The hot-bucket refinement the build gained in r02 (it
        # lifted recall_lsh 0.875 -> 0.934 and bounds per-probe candidates
        # on clustered data) is its own row below — the r10 verdict's gate
        # repair: the fused row had crept to 2.02x a baseline that never
        # included the refine (BASELINE.md addendum, split note).
        idx = random_hyperplane_lsh(emb).cache()
        idx.count()
        lsh_idx["df"] = idx

    bench_build("index_build_lsh", build_lsh)

    def build_lsh_refined():
        # cent rows come back pre-collected (bounded tiny by construction);
        # materialize=True overlaps the refined index's count with the
        # bucket histogram job (round-5 verdict item 7 — serialized small
        # jobs were the build's wall-time floor). The histogram reads the
        # bare row's cached index.
        ref_idx, cent_rows = lsh_refine_hot_buckets(lsh_idx["df"], emb,
                                                    bucket_cap=1024,
                                                    materialize=True)
        lsh_idx["ref"] = (ref_idx, cent_rows)

    bench_build("index_build_lsh_refined", build_lsh_refined)
    cents_df = spark.createDataFrame(
        lsh_idx["ref"][1],
        "table_id int, bucket int, sub int, centroid array<double>") \
        if lsh_idx["ref"][1] else None
    persist_bytes("lsh", lsh_idx["ref"][0],
                  *([cents_df] if cents_df is not None else []))

    hnsw_idx = {}

    def build_hnsw():
        idx = hnsw_build(emb, num_shards=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        idx = idx.cache()
        idx.count()
        hnsw_idx["df"] = idx

    bench_build("index_build_hnsw", build_hnsw)
    persist_bytes("hnsw", hnsw_idx["df"])
    bench("ann_hnsw_batch100",
          lambda: _force(hnsw_search(hnsw_idx["df"], queries, K)))
    bench("ann_lsh_batch100",
          lambda: _force(lsh_search(emb, queries, K, index=lsh_idx["df"],
                                    refined=lsh_idx["ref"])))

    from vectordb_explorations_spark.operators.ann import ivf_build, ivf_search

    ivf_state = {}

    def build_ivf():
        assigned, cents = ivf_build(emb, num_centroids=16)
        assigned = assigned.cache()
        assigned.count()
        ivf_state["assigned"], ivf_state["cents"] = assigned, cents

    bench_build("index_build_ivf", build_ivf)
    persist_bytes("ivf", ivf_state["assigned"].select("vec_id", "list_id"))
    bench("ann_ivf_batch100",
          lambda: _force(ivf_search(ivf_state["assigned"], ivf_state["cents"],
                                    queries, K, nprobe=8)))

    # cosine serving contract (r12 verdict item 4): the SAME IVF family
    # made metric-complete by unit-normalizing the corpus at ingest and
    # the queries at search time — L2 on unit vectors IS cosine
    # (functions/vectors.l2_normalize; pinned by
    # tests/test_ann.py::test_cosine_serving_contract_*). Build pays
    # one extra normalize projection over the corpus; first measured
    # round (r13) becomes the binding baseline.
    from pyspark.sql import Window as PWindow
    from pyspark.sql import functions as PF
    from vectordb_explorations_spark.functions.vectors import (
        cosine_similarity_sql, l2_normalize)

    ivfc_state = {}

    def build_ivf_cosine():
        n_emb = l2_normalize(emb).cache()
        n_emb.count()
        assigned, cents = ivf_build(n_emb, num_centroids=16)
        assigned = assigned.cache()
        assigned.count()
        ivfc_state["assigned"], ivfc_state["cents"] = assigned, cents

    bench_build("index_build_ivf_cosine", build_ivf_cosine)
    norm_queries = l2_normalize(queries, "query_vec").cache()
    norm_queries.count()
    bench("ann_ivf_cosine_batch100",
          lambda: _force(ivf_search(ivfc_state["assigned"],
                                    ivfc_state["cents"],
                                    norm_queries, K, nprobe=8)))

    # inner-product serving contract (r13 verdict item 7): the metric
    # trio completed in bench numbers — the SAME IVF family built on
    # the MIPS-augmented corpus ([x ; sqrt(M^2-|x|^2)], queries
    # zero-padded; functions/vectors.mips_augment, the Bachrach 2014
    # reduction) so augmented-L2 ranking IS inner-product ranking
    # (pinned by tests/test_ann.py::test_mips_serving_contract_*).
    # Build pays one extra norm/concat projection over the corpus;
    # first measured round (r14) becomes the binding baseline.
    from vectordb_explorations_spark.functions.vectors import (
        dot_product_sql, mips_augment, mips_pad_query)

    ivfip_state = {}

    def build_ivf_ip():
        a_emb = mips_augment(emb).cache()
        a_emb.count()
        assigned, cents = ivf_build(a_emb, num_centroids=16)
        assigned = assigned.cache()
        assigned.count()
        ivfip_state["assigned"], ivfip_state["cents"] = assigned, cents

    bench_build("index_build_ivf_ip", build_ivf_ip)
    ip_queries = mips_pad_query(queries).cache()
    ip_queries.count()
    bench("ann_ivf_ip_batch100",
          lambda: _force(ivf_search(ivfip_state["assigned"],
                                    ivfip_state["cents"],
                                    ip_queries, K, nprobe=8)))

    from vectordb_explorations_spark.operators import pq as PQ

    pq_state = {}

    def build_pq():
        # m=16 subspaces: SCALE_NOTES measured m=8 collapsing recall on
        # clustered corpora (within-cluster code collisions); m=16 holds
        # ~0.9 at the same storage order (round-1 VERDICT item 7).
        books = PQ.pq_train(emb, m_subspaces=16, k_codes=64)
        codes = PQ.pq_encode(emb, books).cache()
        codes.count()
        pq_state["books"], pq_state["codes"] = books, codes

    bench_build("index_build_pq", build_pq)
    persist_bytes("pq", pq_state["codes"])
    # refine_factor=10 is the recall/latency point: vs BENCH_r01's 0.884 s
    # the row costs more BECAUSE recall_pq_refined rose 0.835 -> 0.962
    # (m=16 codebooks + wider refine); the round-4 ≤1.77 s gate holds with
    # the per-partition ADC top-k + broadcast-candidate re-score join.
    bench("ann_pq_refined_batch100",
          lambda: _force(PQ.pq_search(pq_state["codes"], pq_state["books"],
                                      queries, K, refine_with=emb,
                                      refine_factor=10, corpus_n=n_emb)))

    from vectordb_explorations_spark.operators import sq as SQ2

    sq_state = {}

    def build_sq():
        # NEW vs BENCH_r05: fifth index family. The "training" is one
        # combinable min/max agg (no sample, no iterations) and the encode
        # is a pure codegen projection — the cheapest build of the five.
        mins, maxs = SQ2.sq_train(emb, 64)
        codes = SQ2.sq_encode(emb, mins, maxs).cache()
        codes.count()
        sq_state["mins"], sq_state["maxs"], sq_state["codes"] = mins, maxs, codes

    bench_build("index_build_sq8", build_sq)
    persist_bytes("sq8", sq_state["codes"])
    bench("ann_sq8_batch100",
          lambda: _force(SQ2.sq_search(sq_state["codes"], sq_state["mins"],
                                       sq_state["maxs"], queries, K,
                                       refine_with=emb, refine_factor=3)))

    from vectordb_explorations_spark.operators import bq as BQ2

    bq_state = {}

    def build_bq():
        # NEW vs BENCH_r05: sixth index family, 1 bit/dim. Train = the same
        # one-pass min/max agg as SQ8 (midrange threshold) plus one
        # conditional-avg pass for the asymmetric two-level reconstruction;
        # encode = pure codegen zip_with + shift-accumulate pack.
        thr = BQ2.bq_thresholds(emb, 64)
        levels = BQ2.bq_levels(emb, thr)
        codes = BQ2.bq_encode(emb, thr).cache()
        codes.count()
        bq_state["thr"], bq_state["levels"], bq_state["codes"] = \
            thr, levels, codes

    bench_build("index_build_bq1", build_bq)
    persist_bytes("bq1", bq_state["codes"])
    # refine_factor=20 with the asymmetric scorer: measured recall@10 0.948
    # at sf0.1 (symmetric Hamming at the same shortlist: 0.779)
    bench("ann_bq1_batch100",
          lambda: _force(BQ2.bq_search(bq_state["codes"], bq_state["thr"],
                                       queries, K, refine_with=emb,
                                       refine_factor=20,
                                       levels=bq_state["levels"])))

    ivfpq_state = {}

    def build_ivfpq():
        # NEW vs BENCH_r06: the composite serving index (coarse router +
        # PQ residual codes) gets its own bench row — it was recall-gated
        # only, so regressions were invisible to BENCH (r6 verdict item 2).
        codes, cents, books = PQ.ivfpq_build(emb, num_centroids=16,
                                             m_subspaces=16, k_codes=64)
        codes = codes.cache()
        codes.count()
        ivfpq_state["codes"], ivfpq_state["cents"], ivfpq_state["books"] = \
            codes, cents, books

    bench_build("index_build_ivfpq", build_ivfpq)
    persist_bytes("ivfpq", ivfpq_state["codes"])
    bench("ann_ivfpq_batch100",
          lambda: _force(PQ.ivfpq_search(ivfpq_state["codes"],
                                         ivfpq_state["cents"],
                                         ivfpq_state["books"], queries, K,
                                         nprobe=8, refine_with=emb,
                                         refine_factor=10, corpus_n=n_emb)))

    ivfsq_state = {}

    def build_ivfsq():
        # NEW vs BENCH_r08: the last cell of the routing x quantization
        # matrix (FAISS IVF,SQ8). Build = IVF's sampled k-means + GEMM
        # assignment plus SQ8's one-agg extents + codegen encode — no
        # extra corpus pass vs plain IVF.
        codes, cents, mins, maxs = SQ2.ivfsq_build(emb, num_centroids=16)
        codes = codes.cache()
        codes.count()
        ivfsq_state["codes"], ivfsq_state["cents"] = codes, cents
        ivfsq_state["mins"], ivfsq_state["maxs"] = mins, maxs

    bench_build("index_build_ivfsq", build_ivfsq)
    persist_bytes("ivfsq", ivfsq_state["codes"])
    bench("ann_ivfsq_batch100",
          lambda: _force(SQ2.ivfsq_search(
              ivfsq_state["codes"], ivfsq_state["cents"],
              ivfsq_state["mins"], ivfsq_state["maxs"], queries, K,
              nprobe=8, refine_with=emb, refine_factor=10,
              corpus_n=n_emb)))

    # BQ1->SQ8->exact cascade: reuses the bq1 and sq8 artifacts built
    # above (its build cost IS those two rows); only the search is new.
    bench("ann_bq_cascade_batch100",
          lambda: _force(BQ2.bq_cascade_search(
              bq_state["codes"], bq_state["thr"], bq_state["levels"],
              sq_state["codes"], sq_state["mins"], sq_state["maxs"],
              queries, K, refine_with=emb, corpus_n=n_emb)))

    # Partitioned serving paths (r7 verdict item 7): the claimed 100 TB
    # story — probe-pruned I/O at the file listing — now has timed rows,
    # not just plan assertions. First measurement = binding baseline per
    # BASELINE.md addendum.
    from vectordb_explorations_spark.operators.ann import (
        ivf_persist_partitioned, ivf_probe_partitioned)
    from vectordb_explorations_spark.operators.hnsw import (
        hnsw_persist_partitioned, hnsw_probe_partitioned)

    ivf_part_path = "/tmp/bench_ivf_partitioned"
    ivf_persist_partitioned(ivf_state["assigned"], ivf_part_path)
    bench("ann_ivf_partitioned_batch100",
          lambda: _force(ivf_probe_partitioned(
              spark, ivf_part_path, ivf_state["cents"], queries, K,
              nprobe=8)))

    # Compressed-composite partitioned serving (round 9): probe-pruned
    # file listing over CODE tables — the 100 TB economical configuration
    # (what survives pruning is already 16-64x narrower than vectors).
    from vectordb_explorations_spark.operators.pq import (
        ivfpq_persist_partitioned, ivfpq_probe_partitioned)
    from vectordb_explorations_spark.operators.sq import (
        ivfsq_persist_partitioned, ivfsq_probe_partitioned)

    ivfpq_part_path = "/tmp/bench_ivfpq_partitioned"
    ivfpq_persist_partitioned(ivfpq_state["codes"], ivfpq_part_path)
    bench("ann_ivfpq_partitioned_batch100",
          lambda: _force(ivfpq_probe_partitioned(
              spark, ivfpq_part_path, ivfpq_state["cents"],
              ivfpq_state["books"], queries, K, nprobe=8,
              refine_with=emb, refine_factor=10)))

    ivfsq_part_path = "/tmp/bench_ivfsq_partitioned"
    ivfsq_persist_partitioned(ivfsq_state["codes"], ivfsq_part_path)
    bench("ann_ivfsq_partitioned_batch100",
          lambda: _force(ivfsq_probe_partitioned(
              spark, ivfsq_part_path, ivfsq_state["cents"],
              ivfsq_state["mins"], ivfsq_state["maxs"], queries, K,
              nprobe=8, refine_with=emb, refine_factor=10)))

    hnsw_routed = {}

    def build_hnsw_routed():
        # the serving-shape build: kmeans cells so probes can route;
        # shard_cap bounds the O(n_shard^2) wiring straggler
        idx = hnsw_build(emb,
                         num_shards=int(os.environ.get("SPARK_GRAFT_CPUS",
                                                       "32")),
                         shard_by="kmeans", shard_cap=8192).cache()
        idx.count()
        hnsw_routed["df"] = idx

    bench_build("index_build_hnsw_routed", build_hnsw_routed)
    hnsw_part_path = "/tmp/bench_hnsw_partitioned"
    hnsw_persist_partitioned(hnsw_routed["df"], hnsw_part_path)
    extras["index_bytes_hnsw_routed"] = _dir_bytes(hnsw_part_path)
    # probe_shards='auto' (r11): resolves 12 of the 32 cells — the
    # calibrated fraction that holds recall >= 0.93 (was a fixed 8,
    # recall 0.864: the bench's lowest row and the one family without an
    # adaptive knob, r10 verdict item 4)
    bench("ann_hnsw_partitioned_batch100",
          lambda: _force(hnsw_probe_partitioned(
              spark, hnsw_part_path, queries, K, probe_shards="auto")))

    exact = knn_join(emb, queries, K, dim=64).cache()
    exact.count()
    extras["recall_hnsw_partitioned_at_10"] = round(
        recall_at_k(hnsw_probe_partitioned(spark, hnsw_part_path, queries,
                                           K, probe_shards="auto"),
                    exact, K), 4)
    extras["recall_lsh_at_10"] = round(
        recall_at_k(lsh_search(emb, queries, K, index=lsh_idx["df"],
                               refined=lsh_idx["ref"]), exact, K), 4)
    extras["recall_hnsw_at_10"] = round(
        recall_at_k(hnsw_search(hnsw_idx["df"], queries, K), exact, K), 4)
    extras["recall_ivf_at_10"] = round(
        recall_at_k(ivf_search(ivf_state["assigned"], ivf_state["cents"],
                               queries, K, nprobe=8), exact, K), 4)
    # cosine recall graded against an INDEPENDENT raw-vector cosine
    # ranking (scale-invariant) — the contract is measured against
    # cosine itself, not against the normalized-L2 frame it rides on
    cs_expr = PF.expr(cosine_similarity_sql("embedding", "query_vec", 64))
    cw = PWindow.partitionBy("query_id").orderBy(PF.col("cs").desc(),
                                                 PF.col("vec_id"))
    cos_exact = (emb.crossJoin(PF.broadcast(queries))
                 .select("query_id", "vec_id", cs_expr.alias("cs"))
                 .withColumn("rank", PF.row_number().over(cw))
                 .where(PF.col("rank") <= K)).cache()
    cos_exact.count()
    extras["recall_ivf_cosine_at_10"] = round(
        recall_at_k(ivf_search(ivfc_state["assigned"], ivfc_state["cents"],
                               norm_queries, K, nprobe=8), cos_exact, K), 4)
    # IP recall graded against an INDEPENDENT raw inner-product ranking
    # — the contract measured against IP itself, not the augmented-L2
    # frame it rides on (the cosine-row discipline applied to the
    # third metric)
    ip_expr = PF.expr(dot_product_sql("embedding", "query_vec", 64))
    iw = PWindow.partitionBy("query_id").orderBy(PF.col("ip").desc(),
                                                 PF.col("vec_id"))
    ip_exact = (emb.crossJoin(PF.broadcast(queries))
                .select("query_id", "vec_id", ip_expr.alias("ip"))
                .withColumn("rank", PF.row_number().over(iw))
                .where(PF.col("rank") <= K)).cache()
    ip_exact.count()
    extras["recall_ivf_ip_at_10"] = round(
        recall_at_k(ivf_search(ivfip_state["assigned"],
                               ivfip_state["cents"],
                               ip_queries, K, nprobe=8), ip_exact, K), 4)
    extras["recall_sq8_at_10"] = round(
        recall_at_k(SQ2.sq_search(sq_state["codes"], sq_state["mins"],
                                  sq_state["maxs"], queries, K,
                                  refine_with=emb, refine_factor=3),
                    exact, K), 4)
    extras["recall_bq1_at_10"] = round(
        recall_at_k(BQ2.bq_search(bq_state["codes"], bq_state["thr"], queries,
                                  K, refine_with=emb, refine_factor=20,
                                  levels=bq_state["levels"]),
                    exact, K), 4)
    extras["recall_pq_refined_at_10"] = round(
        recall_at_k(PQ.pq_search(pq_state["codes"], pq_state["books"], queries,
                                 K, refine_with=emb, refine_factor=10),
                    exact, K), 4)
    extras["recall_ivfpq_at_10"] = round(
        recall_at_k(PQ.ivfpq_search(ivfpq_state["codes"],
                                    ivfpq_state["cents"],
                                    ivfpq_state["books"], queries, K,
                                    nprobe=8, refine_with=emb,
                                    refine_factor=10), exact, K), 4)
    extras["recall_ivfsq_at_10"] = round(
        recall_at_k(SQ2.ivfsq_search(
            ivfsq_state["codes"], ivfsq_state["cents"],
            ivfsq_state["mins"], ivfsq_state["maxs"], queries, K,
            nprobe=8, refine_with=emb, refine_factor=10), exact, K), 4)
    extras["recall_bq_cascade_at_10"] = round(
        recall_at_k(BQ2.bq_cascade_search(
            bq_state["codes"], bq_state["thr"], bq_state["levels"],
            sq_state["codes"], sq_state["mins"], sq_state["maxs"],
            queries, K, refine_with=emb), exact, K), 4)

    from vectordb_explorations_spark.operators import hybrid as HY
    bench("hybrid_rrf_search", lambda: _force(HY.hybrid_rrf(docs, emb)))

    # NEW r11 (late): DSIR importance resampling — two corpus passes
    # (fit the hashed-ngram bucket models, score + Gumbel-top-k)
    from vectordb_explorations_spark.operators import sampling as SP
    bench("dsir_select", lambda: _force(SP.dsir_select(docs)))

    bench("dedup_minhash_lsh", lambda: _force(D.minhash_lsh_pairs(docs)))
    bench("dedup_exact", lambda: _force(D.exact_dedup(docs)))
    bench("dedup_exact_substring", lambda: _force(
        D.substring_dup_coverage(docs)))
    bench("text_stats", lambda: _force(X.text_stats(docs)))

    from vectordb_explorations_spark.operators import latesim as LSIM
    # NEW r11: multi-vector (late-interaction) MaxSim retrieval — per-chunk
    # hashed embeddings, candidate-bounded per term (r10 verdict item 1);
    # the banded row is the ANN-prefiltered scale path, recall-gated
    # against the exact MaxSim top-10 (never hash-declared)
    n_docs = docs.count()
    bench("maxsim_chunk_topk",
          lambda: _force(LSIM.maxsim_chunk_topk(docs, corpus_n=n_docs)))
    # the production shape, benched like every index family: substrate
    # built once (build row), then served from the partition-pruned
    # persisted layout (serving row) — the 1M ladder measured a
    # recompute-per-call banded face LOSING to the exact scan 8x
    # (SCALE_NOTES r11); only the persisted substrate pays
    maxsim_path = "/tmp/bench_maxsim_substrate"
    bench_build("index_build_maxsim",
                lambda: LSIM.maxsim_persist(docs, maxsim_path))
    extras["index_bytes_maxsim"] = _dir_bytes(maxsim_path)
    bench("maxsim_banded_serve",
          lambda: _force(LSIM.maxsim_banded_persisted(spark, maxsim_path)))
    ms_exact = {}
    for r in LSIM.maxsim_chunk_topk(docs, corpus_n=n_docs).collect():
        ms_exact.setdefault(r["query_id"], set()).add(r["doc_id"])
    ms_band = {}
    for r in LSIM.maxsim_banded_persisted(spark, maxsim_path).collect():
        ms_band.setdefault(r["query_id"], set()).add(r["doc_id"])
    extras["recall_maxsim_banded_at_10"] = round(
        sum(len(ms_exact[q] & ms_band.get(q, set())) / len(ms_exact[q])
            for q in ms_exact) / len(ms_exact), 4)

    # perceptual persisted-admission face (r12 verdict item 5): the
    # daily-crawl serving shape — substrate built ONCE from the corpus
    # image fingerprints (build row, the corpus-hash pass paid once
    # ever), then an admission batch served from the file-listing-
    # pruned hive layout (serving row; at most 4 x 256 directories
    # touched regardless of corpus size — SCALE_NOTES measured it
    # near-flat across a 300x corpus jump). First measured round (r13)
    # becomes the binding baseline per BASELINE.md protocol.
    from pyspark.sql import functions as SF_FN
    from vectordb_explorations_spark.operators import perceptual as PCB
    perc_path = "/tmp/bench_perceptual_substrate"
    bench_build("index_build_perceptual",
                lambda: PCB.perceptual_persist(docs, perc_path))
    extras["index_bytes_perceptual"] = _dir_bytes(perc_path)
    perc_batch = (docs.orderBy(SF_FN.col("doc_id").desc()).limit(64)
                  .cache())
    perc_batch.count()
    bench("perceptual_admit_persisted",
          lambda: _force(PCB.perceptual_admit_persisted(spark, perc_path,
                                                        perc_batch)))

    # MinHash persisted-admission face (r13 verdict item 5): the same
    # daily-crawl shape for TEXT near-dup — substrate built once
    # (signature pass paid at build, the build row), then a 64-doc
    # admission batch served from the file-listing-pruned banded
    # layout (probe <= n_bands x buckets dirs regardless of corpus;
    # SCALE_NOTES measured admission near-flat 100k -> 10M while the
    # in-memory shape grows linearly). At this fixture scale the
    # 1,024-dir listing floor dominates — the row exists to gate
    # serving REGRESSIONS round over round, not to beat the in-memory
    # path (the operator itself warns below 100k docs). First measured
    # round (r14) becomes the binding baseline per BASELINE.md.
    import warnings as _mh_warnings
    from vectordb_explorations_spark.operators import dedup as DD
    mh_path = "/tmp/bench_minhash_substrate"
    bench_build("index_build_minhash",
                lambda: DD.minhash_persist(docs, mh_path))
    extras["index_bytes_minhash"] = _dir_bytes(mh_path)
    mh_batch = (docs.orderBy(SF_FN.col("doc_id").desc()).limit(64)
                .cache())
    mh_batch.count()

    def _mh_admit():
        with _mh_warnings.catch_warnings():
            # the small-corpus RuntimeWarning is expected at sf0.1
            _mh_warnings.simplefilter("ignore", RuntimeWarning)
            _force(DD.minhash_admit_persisted(spark, mh_path, mh_batch))

    bench("minhash_admit_persisted", _mh_admit)

    # Sketch family (r14 continuation): the 100 TB monitoring/pruning
    # primitives as timed rows — first measured round (r14) becomes the
    # binding baseline per BASELINE.md protocol. One scan + combinable
    # groupBy each (HLL/CMS/KMV); Bloom adds the broadcast probe pass.
    from vectordb_explorations_spark.operators import sketches as SKB
    ev_sk = load_table(spark, "events", SF_DIR)
    bench("hll_user_cardinality",
          lambda: _force(SKB.hll_user_cardinality(ev_sk)))
    bench("cms_heavy_hitters",
          lambda: _force(SKB.cms_heavy_hitters(ev_sk)))
    bench("bloom_join_prune",
          lambda: _force(SKB.bloom_join_prune(
              load_table(spark, "customer", SF_DIR),
              load_table(spark, "orders", SF_DIR))))
    bench("kmv_source_overlap",
          lambda: _force(SKB.kmv_source_overlap(docs)))

    li = load_table(spark, "lineitem", SF_DIR)
    bench("pricing_summary", lambda: _force(R.pricing_summary(li)))
    bench("region_revenue", lambda: _force(R.region_revenue(
        load_table(spark, "region", SF_DIR), load_table(spark, "nation", SF_DIR),
        load_table(spark, "customer", SF_DIR), load_table(spark, "orders", SF_DIR), li)))
    ev = load_table(spark, "events", SF_DIR)
    bench("events_hourly", lambda: _force(R.events_hourly(ev)))
    bench("user_sessions", lambda: _force(R.user_sessions(ev)))

    sf_match = re.search(r"sf([0-9.]+)", SF_DIR)
    # Ambient context for the recorded run: this box shows external load
    # bursts that inflate rows 1.5-3x run-to-run (round-6 measurements:
    # same code, totals 14.9s-27.5s purely by window). loadavg makes a
    # noisy record interpretable next to a quiet one.
    try:
        extras["loadavg_1m_5m_15m"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    if run_busy0 >= 0:
        _end_of_run_contention_stamp(extras, run_t0, run_busy0, run_self0,
                                     run_steal0)
    # Key order is survival order (r11 verdict item 5): the driver
    # records only the TAIL of this line, and BENCH_r11 lost its first
    # ~10 gated rows to the front. Bulky non-gated evidence (byte/mem
    # footprints) leads so truncation eats it first; the gate-critical
    # content — calibration, recalls, and every timed row — sits at the
    # END of the line. The COMPLETE record is also written to
    # BENCH_LOCAL.json at the repo root (committed per round), so
    # nothing is evidence-lost even if stdout truncates. value is
    # recomputable as sum(queries) if the front ever truncates anyway.
    # Explicit prefixes, not a substring test: a future bulky extras key
    # merely CONTAINING 'load' (say payload_bytes) must not ride in the
    # truncation-protected tail (r12 ADVICE).
    tail_keys = [k for k in extras
                 if k.startswith(("calib_", "recall_", "loadavg_",
                                  "load_gate", "cpu_cores"))]
    bulky = {k: v for k, v in extras.items() if k not in set(tail_keys)}
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": float(sf_match.group(1)) if sf_match else None,
        # local[*] (os.cpu_count()) when SPARK_GRAFT_CPUS is unset —
        # stamped either way so the lower-core guard below always fires
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()),
        **bulky,
        **{k: extras[k] for k in tail_keys},
        "queries": timings,
    }
    _write_bench_local(out, extras)
    print(json.dumps(out, separators=(",", ":")))


def _write_bench_local(out: dict, extras: dict) -> None:
    """BENCH_LOCAL.json commit policy (r12 verdict item 7; BASELINE.md
    "Which record is binding"): the committed record is the builder's
    certified QUIET-box run. A degraded run — load gate exceeded, or
    one that had to wait out external load — must not silently replace
    an existing clean record in the working tree; it still prints to
    stdout and the driver still captures it. Force with
    SPARK_GRAFT_FORCE_BENCH_LOCAL=1 (or delete the file first)."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BENCH_LOCAL.json")
    degraded = ("load_gate" in extras or "load_gate_waited_sec" in extras
                or "cpu_contention" in str(extras.get("load_gate", "")))
    if (os.path.exists(path)
            and os.environ.get("SPARK_GRAFT_FORCE_BENCH_LOCAL") != "1"):
        try:
            with open(path) as f:
                existing = json.load(f)
        except (OSError, ValueError):
            existing = None
        existing_clean = (existing is not None
                          and "load_gate" not in existing
                          and "load_gate_waited_sec" not in existing)
        if degraded and existing_clean:
            print("NOTE: degraded run (load gate) — keeping the existing "
                  "clean BENCH_LOCAL.json; set "
                  "SPARK_GRAFT_FORCE_BENCH_LOCAL=1 to overwrite",
                  file=sys.stderr)
            return
        # an sf0.01 dev-iteration run must not silently replace the
        # certified sf0.1 record (it happened in r14 — caught by git)
        if (existing is not None and out.get("sf") is not None
                and existing.get("sf") is not None
                and out["sf"] < existing["sf"]):
            print(f"NOTE: run at sf={out['sf']} — keeping the existing "
                  f"sf={existing['sf']} BENCH_LOCAL.json; set "
                  f"SPARK_GRAFT_FORCE_BENCH_LOCAL=1 to overwrite",
                  file=sys.stderr)
            return
        # ...nor must a lower-core scaling run replace the full-core
        # record (it happened in r15 — the 8-core follow-up run
        # silently replaced the certified 32-core one, caught by git)
        if (existing is not None and out.get("cpus")
                and existing.get("cpus")
                and out["cpus"] < existing["cpus"]):
            print(f"NOTE: run at cpus={out['cpus']} — keeping the "
                  f"existing cpus={existing['cpus']} BENCH_LOCAL.json; "
                  f"set SPARK_GRAFT_FORCE_BENCH_LOCAL=1 to overwrite",
                  file=sys.stderr)
            return
    with open(path, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
