"""Plan-quality regression net: the physical properties PLANS.md documents
must hold for every declared query — a query silently falling out of
codegen into Python, or losing pushdown, is a perf bug even while results
stay correct."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402

QUERIES = entry_mod.queries()

# The only declared queries allowed to run Python (deliberate Arrow-batched
# paths: blockwise k-NN, the multimodal byte-payload stages, the
# grouped-agg pandas UDAF that IS the custom-aggregate surface demo, and
# the MMR greedy loop — an inherently sequential argmax over a BOUNDED
# per-query pool, the bounded-imperative-core pattern).
PYTHON_ALLOWED = {"knn_batch_blockwise", "multimodal_features",
                  "multimodal_frames", "multimodal_resize",
                  "lang_geomean_chars", "mmr_diversified_topk",
                  # Arrow GEMM hyperplane bucketing: the 48 plane dots as
                  # one scalar SQL tree (3072 terms) blew up Catalyst —
                  # the batched matmul kernel is the deliberate path
                  # (dedup.embedding_lsh_pairs docstring)
                  "dedup_embedding_lsh",
                  # real codec decode + re-encode kernels (perceptual.py):
                  # the hashing stage is Arrow-batched by design; banding,
                  # the occupancy cap, and the Hamming verify stay JVM-side
                  "dedup_perceptual_image", "dedup_perceptual_audio",
                  # r13 declarations sharing those same Arrow hash
                  # kernels (everything downstream of the decode —
                  # banding, caps, joins, label propagation — is JVM)
                  "dedup_perceptual_clusters", "perceptual_hash_table",
                  "perceptual_incremental", "perceptual_curation_cards",
                  # r14 cross-codec quadruplets: same Arrow decode +
                  # re-encode kernels (P6/BMP/PNG/GIF rasters, WAV/FLAC/
                  # float-WAV streams); everything downstream is JVM
                  "dedup_cross_codec_image", "dedup_cross_codec_audio",
                  # real animated-GIF synthesis + full-grammar decode
                  "gif_frame_sample"}


def _plan(spark, sf_dir, name):
    return (QUERIES[name](spark, sf_dir)._jdf
            .queryExecution().executedPlan().toString())


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_python_in_declared_plans(name, spark, sf_dir):
    if name in PYTHON_ALLOWED:
        pytest.skip("Arrow-batched by design")
    plan = _plan(spark, sf_dir, name)
    # "Python" catches Batch/ArrowEvalPython (row/scalar UDFs);
    # MapInPandas/FlatMapGroupsInPandas are the grouped Arrow operators.
    for marker in ("Python", "MapInPandas", "InPandas"):
        assert marker not in plan, f"{name} fell off the JVM path ({marker})"


@pytest.mark.parametrize("name", ["knn_exact", "sql_knn"])
def test_topk_plans_take_ordered(name, spark, sf_dir):
    assert "TakeOrderedAndProject" in _plan(spark, sf_dir, name)


@pytest.mark.parametrize("name,pushed", [
    ("pricing_summary", "LessThanOrEqual(l_shipdate"),
    ("asof_join", "EqualTo(event_type,click)"),
    ("customers_with_open_orders", "EqualTo(o_orderstatus,O)"),
])
def test_filters_reach_parquet_scan(name, pushed, spark, sf_dir):
    plan = _plan(spark, sf_dir, name)
    assert pushed in plan, f"{name}: filter not pushed to scan"


def test_cube_uses_single_expand(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cube_order_stats")
    assert plan.count("Expand") >= 1
    # one Expand, not a union of per-grouping-set scans
    assert plan.count("FileScan parquet") == 1


def test_boilerplate_coverage_broadcasts_hot_set(spark, sf_dir):
    """The bounded hot-gram set must broadcast into the coverage join —
    a shuffled join here would move the corpus-side gram stream."""
    plan = _plan(spark, sf_dir, "boilerplate_coverage")
    assert "BroadcastHashJoin" in plan
    # corpus scalar (n_docs) also arrives via broadcast (nested-loop on
    # a 1-row side), never a shuffle
    assert "CartesianProduct" not in plan


def test_boilerplate_ngrams_partial_agg(spark, sf_dir):
    """Gram document-frequency counting must combine map-side (zipfian
    head phrases would otherwise concentrate raw rows on one reducer)."""
    plan = _plan(spark, sf_dir, "boilerplate_ngrams")
    assert "partial_count" in plan


def test_runtime_bloom_filter_prunes_join_probe(spark, sf_dir):
    """Runtime bloom-filter join pruning (the 100 TB scan-reduction
    feature AQE adds when a selective dimension filters a big-probe SMJ):
    with the optimizer thresholds admitting the fixture sizes, Catalyst
    must inject a bloom_filter_agg on the creation side and a
    might_contain probe on the fact scan side — the fact rows that cannot
    join are dropped BEFORE the join exchange."""
    from pyspark.sql import functions as F

    from vectordb_explorations_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        li = load_table(spark, "lineitem", sf_dir)
        orders = (load_table(spark, "orders", sf_dir)
                  .where(F.col("o_orderpriority") == "1-URGENT"))
        j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .groupBy("o_orderpriority").count())
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan
        # and the result is unaffected by the filter (no false negatives)
        rows = {r["o_orderpriority"]: r["count"] for r in j.collect()}
        for k, v in confs.items():
            spark.conf.set(k, saved[k]) if saved[k] is not None \
                else spark.conf.unset(k)
        base = (li.join(orders, li.l_orderkey == orders.o_orderkey)
                .groupBy("o_orderpriority").count())
        assert rows == {r["o_orderpriority"]: r["count"]
                        for r in base.collect()}
    finally:
        for k, v in confs.items():
            if saved.get(k) is not None:
                spark.conf.set(k, saved[k])
            else:
                try:
                    spark.conf.unset(k)
                except Exception:
                    pass


def test_new_round6_plan_shapes(spark, sf_dir):
    """Pin the exchange budgets of the round-6 declared queries: the SQ8
    audit shares ONE dim_id exchange between its extent window and final
    agg (plus the output sort); training_shards is a single-phase
    combinable agg (set-agg n_langs — countDistinct would add an Expand
    exchange); zorder_layout is quantize + one keyed agg exchange."""
    import re

    from vectordb_explorations_spark.operators.layout import zorder_layout
    from vectordb_explorations_spark.operators.sampling import (
        training_shard_manifest)
    from vectordb_explorations_spark.operators.sq import sq_quantization_audit
    from vectordb_explorations_spark.sources import load_table

    def shuffles(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return len(re.findall(
            r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
            plan))

    emb = load_table(spark, "embeddings", sf_dir)
    assert shuffles(sq_quantization_audit(emb)) == 2  # dim_id + output sort
    docs = load_table(spark, "documents", sf_dir)
    assert shuffles(training_shard_manifest(docs)) == 2  # agg + output sort
    orders = load_table(spark, "orders", sf_dir)
    # extent single-partition agg + bucket agg + output sort
    assert shuffles(zorder_layout(orders)) <= 3


# ---- codegen-fallback tripwire (round 9) ----
# Plan-SHAPE assertions above cannot see a RUNTIME janino failure: a stage
# whose generated processNext() exceeds the JVM's hard 64 KB method limit
# compiles nowhere, Spark logs one ERROR and silently re-executes the stage
# interpreted row-at-a-time — hash-green at fixture scale, an interpreted
# full-corpus scan at 100x. knn_search_after shipped exactly that for two
# rounds (cursor predicate referenced the unrolled 64-term distance tree
# twice; CollapseProject + filter pushdown substituted the tree into each
# reference). Running every declared query with codegen fallback DISABLED
# turns the silent degradation into a hard failure, closing the class.
@pytest.mark.parametrize("name", sorted(QUERIES))
def test_declared_queries_compile_codegen_strict(name, spark, sf_dir):
    conf = "spark.sql.codegen.fallback"
    saved = spark.conf.get(conf, None)
    spark.conf.set(conf, "false")
    try:
        (QUERIES[name](spark, sf_dir)
         .write.format("noop").mode("overwrite").save())
    finally:
        if saved is not None:
            spark.conf.set(conf, saved)
        else:
            spark.conf.unset(conf)
