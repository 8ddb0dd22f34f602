"""Roundtrip tests for the file sinks: parquet (partitioned + plain), CSV,
JSON — values survive, schemas survive (given the writer's schema on text
formats), and partitionBy produces the hive layout Catalyst can prune."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from vectordb_explorations_spark.sources import sinks  # noqa: E402
from vectordb_explorations_spark.sources.catalog import load_table  # noqa: E402


def _nations(spark, sf_dir):
    return load_table(spark, "nation", sf_dir)


def test_parquet_roundtrip(spark, sf_dir, tmp_path):
    df = _nations(spark, sf_dir)
    path = str(tmp_path / "nation_pq")
    sinks.write_parquet(df, path)
    back = sinks.read_parquet(spark, path)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_parquet_partitioned_layout_and_pruning(spark, sf_dir, tmp_path):
    df = _nations(spark, sf_dir)
    path = str(tmp_path / "nation_part")
    sinks.write_parquet(df, path, partition_by=["n_regionkey"])
    layout = sinks.partition_file_counts(path)
    assert all(k.startswith("n_regionkey=") for k in layout)
    assert len(layout) == df.select("n_regionkey").distinct().count()
    back = sinks.read_parquet(spark, path).where(F.col("n_regionkey") == 0)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(n_regionkey" in plan.replace("#", " #") or \
           "n_regionkey" in plan.split("PartitionFilters")[1].split("]")[0]
    assert back.count() == df.where(F.col("n_regionkey") == 0).count()


def test_csv_roundtrip_with_schema(spark, sf_dir, tmp_path):
    df = _nations(spark, sf_dir)
    path = str(tmp_path / "nation_csv")
    sinks.write_csv(df, path)
    back = sinks.read_csv(spark, path, schema=df.schema)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_json_roundtrip_nested(spark, sf_dir, tmp_path):
    # JSON keeps nested arrays: write embeddings rows with their vector.
    df = (load_table(spark, "embeddings", sf_dir)
          .where(F.col("vec_id") < 20)
          .select("vec_id", "label", "embedding"))
    path = str(tmp_path / "emb_json")
    sinks.write_json(df, path)
    back = sinks.read_json(spark, path, schema=df.schema)
    a = {r["vec_id"]: r["embedding"] for r in back.collect()}
    b = {r["vec_id"]: r["embedding"] for r in df.collect()}
    assert a == b


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    # ORC roundtrip incl. the vector column; a filter on the read-back
    # frame must reach the ORC scan as a pushed predicate.
    df = (load_table(spark, "embeddings", sf_dir)
          .select("vec_id", "label", "embedding"))
    path = str(tmp_path / "emb_orc")
    sinks.write_orc(df, path)
    back = sinks.read_orc(spark, path)
    a = {r["vec_id"]: r["embedding"] for r in back.collect()}
    b = {r["vec_id"]: r["embedding"] for r in df.collect()}
    assert a == b
    plan = (back.where(F.col("vec_id") < 10)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters" in plan and "vec_id" in plan


def test_single_file_export(spark, sf_dir, tmp_path):
    df = _nations(spark, sf_dir)
    path = str(tmp_path / "nation_single")
    sinks.write_csv(df, path, single_file=True)
    assert sinks.partition_file_counts(path) == {"": 1}


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    # Two tables bucketed 8-ways on the same key: the equi-join must read
    # co-located buckets with ZERO Exchange operators in the plan.
    spark.sql("DROP TABLE IF EXISTS emb_bucketed")
    spark.sql("DROP TABLE IF EXISTS doc_bucketed")
    emb = load_table(spark, "embeddings", sf_dir).select("vec_id", "label")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    sinks.write_bucketed_table(emb, "emb_bucketed", ["vec_id"], 8,
                               sort_cols=["vec_id"],
                               path=str(tmp_path / "emb_b"))
    sinks.write_bucketed_table(docs, "doc_bucketed", ["doc_id"], 8,
                               sort_cols=["doc_id"],
                               path=str(tmp_path / "doc_b"))
    # hint('merge') pins sort-merge (the fixture is small enough that Spark
    # would otherwise broadcast); bucketing must then elide BOTH exchanges,
    # and sortBy the join-time sorts.
    joined = (spark.table("emb_bucketed")
              .join(spark.table("doc_bucketed").hint("merge"),
                    F.col("vec_id") == F.col("doc_id")))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    assert joined.count() == emb.join(docs, emb.vec_id == docs.doc_id).count()
    spark.sql("DROP TABLE IF EXISTS emb_bucketed")
    spark.sql("DROP TABLE IF EXISTS doc_bucketed")


def test_training_shards_balanced_and_stable(spark, sf_dir, tmp_path):
    from vectordb_explorations_spark.operators import sampling as SP
    docs = load_table(spark, "documents", sf_dir)
    path = str(tmp_path / "shards")
    SP.write_training_shards(docs, path, num_shards=8)
    layout = sinks.partition_file_counts(path)
    assert layout == {"": 8}
    back = sinks.read_parquet(spark, path)
    assert back.count() == docs.count()
    # stable: same id always lands in the same shard file set
    SP.write_training_shards(docs, str(tmp_path / "shards2"), num_shards=8)
    a = spark.read.parquet(path).withColumn(
        "f", F.element_at(F.split(F.input_file_name(), "/"), -1))
    b = spark.read.parquet(str(tmp_path / "shards2")).withColumn(
        "f", F.element_at(F.split(F.input_file_name(), "/"), -1))
    ga = {r["doc_id"]: sorted(r["fs"]) for r in
          a.groupBy("doc_id").agg(F.collect_set("f").alias("fs")).collect()}
    gb = {r["doc_id"]: sorted(r["fs"]) for r in
          b.groupBy("doc_id").agg(F.collect_set("f").alias("fs")).collect()}
    # file names differ run to run; compare the grouping structure instead:
    inv_a, inv_b = {}, {}
    for d, fs in ga.items():
        inv_a.setdefault(tuple(fs), set()).add(d)
    for d, fs in gb.items():
        inv_b.setdefault(tuple(fs), set()).add(d)
    assert set(map(frozenset, inv_a.values())) == set(map(frozenset, inv_b.values()))


def test_compaction_reduces_file_count(spark, sf_dir, tmp_path):
    docs = load_table(spark, "documents", sf_dir)
    frag = str(tmp_path / "fragmented")
    docs.repartition(40).write.parquet(frag)
    assert sinks.partition_file_counts(frag)[""] == 40
    dst = str(tmp_path / "compacted")
    n = sinks.compact_parquet(spark, frag, dst, target_mb=128)
    assert sinks.partition_file_counts(dst)[""] == n < 40
    assert sinks.read_parquet(spark, dst).count() == docs.count()


def test_synthetic_datasource(spark):
    from vectordb_explorations_spark.sources.synthetic import (
        SyntheticVectorsDataSource)
    spark.dataSource.register(SyntheticVectorsDataSource)
    df = (spark.read.format("synthetic_vectors")
          .option("n", 500).option("dim", 16).option("partitions", 4).load())
    assert df.count() == 500
    assert df.rdd.getNumPartitions() == 4
    rows = {r["vec_id"]: r["embedding"] for r in df.collect()}
    assert len(rows) == 500 and all(len(v) == 16 for v in rows.values())
    # deterministic: a second read yields identical vectors
    df2 = (spark.read.format("synthetic_vectors")
           .option("n", 500).option("dim", 16).option("partitions", 4).load())
    assert {r["vec_id"]: r["embedding"] for r in df2.collect()} == rows
    # and the generated corpus feeds the k-NN operators directly
    from vectordb_explorations_spark.operators.knn import knn_exact
    q = rows[0]
    top = knn_exact(df, q, 3).collect()
    assert top[0]["vec_id"] == 0 and top[0]["dist"] == 0.0


def test_overwrite_partitions_backfills_only_written_slice(spark, sf_dir, tmp_path):
    """Dynamic partition overwrite must replace exactly the partitions in
    the incoming frame: the backfilled day changes, sibling days' files
    and rows stay byte-identical, and nothing is truncated."""
    from pyspark.sql import functions as F

    from vectordb_explorations_spark.sources import load_table
    from vectordb_explorations_spark.sources.sinks import (
        overwrite_partitions, partition_file_counts)

    events = (load_table(spark, "events", sf_dir)
              .withColumn("day", F.to_date("ts")))
    path = str(tmp_path / "events_by_day")
    events.write.partitionBy("day").parquet(path)
    before = partition_file_counts(path)
    days = sorted(d for d in before if d.startswith("day="))
    assert len(days) >= 2, "fixture should span multiple days"
    target = days[0].split("=", 1)[1]

    patch = (events.where(F.col("day") == target)
             .withColumn("value", F.col("value") * 2))
    n_patch = patch.count()
    overwrite_partitions(patch, path, ["day"])

    after_df = spark.read.parquet(path)
    # untouched sibling day: identical rows
    sibling = days[1].split("=", 1)[1]
    orig_sibling = sorted(map(tuple, events.where(F.col("day") == sibling)
                              .drop("day").collect()))
    new_sibling = sorted(map(tuple, after_df.where(F.col("day") == sibling)
                             .drop("day").collect()))
    assert orig_sibling == new_sibling
    # backfilled day: doubled values, same row count
    got = after_df.where(F.col("day") == target)
    assert got.count() == n_patch
    orig_sum = events.where(F.col("day") == target).agg(
        F.sum("value")).first()[0]
    assert abs(got.agg(F.sum("value")).first()[0] - 2 * orig_sum) < 1e-6
    # the session conf was restored
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode").upper() == "STATIC"


def test_merge_upsert_semantics_and_pruning(spark, sf_dir, tmp_path):
    """merge_upsert: updated keys replaced, new keys appended, untouched
    partitions bit-identical, and the anti-join's target scan prunes to
    the touched partitions only."""
    from vectordb_explorations_spark.sources.sinks import merge_upsert

    docs = (load_table(spark, "documents", sf_dir)
            .select("doc_id", "lang", "text"))
    path = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").parquet(path)

    langs = sorted(r["lang"] for r in docs.select("lang").distinct().collect())
    target_lang, sibling = langs[0], langs[1]
    base = docs.where(F.col("lang") == target_lang)
    upd_ids = [r["doc_id"] for r in base.limit(3).collect()]
    new_id = docs.agg(F.max("doc_id")).first()[0] + 1000
    updates = spark.createDataFrame(
        [(i, target_lang, "UPDATED") for i in upd_ids]
        + [(new_id, target_lang, "BRAND NEW")],
        "doc_id long, lang string, text string")

    merge_upsert(spark, updates, path, ["doc_id"], ["lang"])
    after = spark.read.parquet(path)

    got = {r["doc_id"]: r["text"]
           for r in after.where(F.col("lang") == target_lang).collect()}
    assert all(got[i] == "UPDATED" for i in upd_ids)
    assert got[new_id] == "BRAND NEW"
    n_before = base.count()
    assert len(got) == n_before + 1  # replaced in place, one append

    # untouched partition: identical rows
    orig = sorted(map(tuple, docs.where(F.col("lang") == sibling).collect()))
    new = sorted(map(tuple, after.where(F.col("lang") == sibling)
                     .select(*docs.columns).collect()))
    assert orig == new

    # the survivors scan prunes to the touched partition (PartitionFilters)
    touched_scan = (spark.read.parquet(path)
                    .where(F.col("lang") == target_lang)
                    ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in touched_scan


def test_merge_upsert_empty_batch_is_noop(spark, sf_dir, tmp_path):
    from vectordb_explorations_spark.sources.sinks import merge_upsert
    docs = (load_table(spark, "documents", sf_dir)
            .select("doc_id", "lang", "text").limit(50))
    path = str(tmp_path / "docs_noop")
    docs.write.partitionBy("lang").parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    merge_upsert(spark, docs.where("doc_id < 0"), path, ["doc_id"], ["lang"])
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert before == after


def test_merge_upsert_null_partition_keeps_survivors(spark, tmp_path):
    """An update into the NULL partition must not wipe that partition's
    non-updated rows (code-review finding: == NULL selects no survivors
    but dynamic overwrite still replaces the directory)."""
    from vectordb_explorations_spark.sources.sinks import merge_upsert
    base = spark.createDataFrame(
        [(1, None, "a"), (2, None, "b"), (3, "en", "c")],
        "k long, part string, v string")
    path = str(tmp_path / "null_part")
    base.write.partitionBy("part").parquet(path)
    upd = spark.createDataFrame([(2, None, "B!")],
                                "k long, part string, v string")
    merge_upsert(spark, upd, path, ["k"], ["part"])
    rows = {r["k"]: (r["part"], r["v"])
            for r in spark.read.parquet(path).collect()}
    assert rows[1] == (None, "a")      # survivor kept
    assert rows[2] == (None, "B!")     # updated in place
    assert rows[3] == ("en", "c")      # untouched sibling partition


def test_compact_table_preserves_content_and_cuts_files(spark, sf_dir,
                                                        tmp_path):
    """Compaction: a fragmented table (32 files) compacts to the
    byte-derived file budget with identical content; a hive-partitioned
    table keeps its directory layout."""
    from pyspark.sql import functions as F

    from vectordb_explorations_spark.sources import load_table
    from vectordb_explorations_spark.sources.sinks import compact_table

    li = load_table(spark, "lineitem", sf_dir).limit(2000)
    flat = str(tmp_path / "flat")
    li.repartition(32).write.parquet(flat)
    before = sorted(map(tuple, spark.read.parquet(flat).collect()))
    stats = compact_table(spark, flat, target_file_bytes=1 << 30)
    assert stats["files_before"] == 32 and stats["files_after"] == 1
    after = sorted(map(tuple, spark.read.parquet(flat).collect()))
    assert after == before

    part = str(tmp_path / "part")
    (li.withColumn("flag", F.col("l_returnflag"))
     .repartition(8).write.partitionBy("flag").parquet(part))
    pbefore = sorted(map(tuple, spark.read.parquet(part).collect()))
    dirs_before = sorted(d for d in __import__("os").listdir(part)
                         if d.startswith("flag="))
    stats = compact_table(spark, part, target_file_bytes=1 << 30,
                          partition_by=["flag"])
    assert stats["files_after"] < stats["files_before"]
    dirs_after = sorted(d for d in __import__("os").listdir(part)
                        if d.startswith("flag="))
    assert dirs_after == dirs_before
    pafter = sorted(map(tuple, spark.read.parquet(part).collect()))
    assert pafter == pbefore


def test_compact_table_splits_oversized_partitions(spark, sf_dir, tmp_path):
    """r7 ADVICE: a hive partition larger than target_file_bytes must be
    written by multiple tasks (budget-bounded salt), not funnelled into a
    single oversized file; small sibling partitions keep ~1 file."""
    from vectordb_explorations_spark.sources.sinks import compact_table

    li = load_table(spark, "lineitem", sf_dir).limit(4000)
    # one fat partition ("big": ~all rows) + one thin ("small": 10 rows)
    df = li.withColumn(
        "grp", F.when(F.col("l_orderkey") % 400 == 0, "small")
                .otherwise("big"))
    part = str(tmp_path / "skewed")
    df.repartition(8).write.partitionBy("grp").parquet(part)
    big_dir = os.path.join(part, "grp=big")
    big_bytes = sum(os.path.getsize(os.path.join(big_dir, n))
                    for n in os.listdir(big_dir) if n.endswith(".parquet"))
    target = max(1, big_bytes // 4)   # budget of ~4-5 files for "big"
    before = sorted(map(tuple, spark.read.parquet(part).collect()))
    compact_table(spark, part, target_file_bytes=target,
                  partition_by=["grp"])
    after = sorted(map(tuple, spark.read.parquet(part).collect()))
    assert after == before
    big_files = [n for n in os.listdir(big_dir) if n.endswith(".parquet")]
    assert len(big_files) > 1, "oversized partition must split"
    small_files = [n for n in os.listdir(os.path.join(part, "grp=small"))
                   if n.endswith(".parquet")]
    assert len(small_files) <= 2


def test_compact_table_swap_leaves_no_staging_dirs(spark, sf_dir, tmp_path):
    """The non-partitioned branch's temp-and-rename swap (r7 ADVICE: the
    durable copy must survive until the new files commit) cleans up both
    staging directories on success."""
    from vectordb_explorations_spark.sources.sinks import compact_table

    li = load_table(spark, "nation", sf_dir)
    flat = str(tmp_path / "swap")
    li.repartition(4).write.parquet(flat)
    before = sorted(map(tuple, spark.read.parquet(flat).collect()))
    compact_table(spark, flat, target_file_bytes=1 << 30)
    after = sorted(map(tuple, spark.read.parquet(flat).collect()))
    assert after == before
    assert not os.path.exists(flat + "._compact_tmp")
    assert not os.path.exists(flat + "._compact_old")


def test_xml_roundtrip_documents(spark, sf_dir, tmp_path):
    """XML round-trip over the REAL documents table (Spark 4 built-in xml
    source): entity-sensitive text (&, <, quotes) must survive
    write+read bit for bit with the writer's schema passed back, and the
    doc count must hold. XML is the ingest format here — no pushdown to
    assert; the landing pattern is xml -> parquet."""
    df = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "lang", "source")
    path = str(tmp_path / "docs_xml")
    sinks.write_xml(df, path)
    back = sinks.read_xml(spark, path, schema=df.schema)
    a = {r["doc_id"]: (r["text"], r["lang"], r["source"])
         for r in back.collect()}
    b = {r["doc_id"]: (r["text"], r["lang"], r["source"])
         for r in df.collect()}
    assert a == b and len(a) == df.count()


def test_read_hive_pruned_matches_full_read(spark, sf_dir, tmp_path):
    """read_hive_pruned (the probe-shaped listing optimization): reading
    only the wanted partition directories must return exactly the rows a
    full-tree read filtered to those partitions returns — with and
    without the read-back schema shortcut — and None when no wanted
    directory exists."""
    from pyspark.sql import functions as F

    from vectordb_explorations_spark.sources.substrate import read_hive_pruned

    df = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", "n_name",
        (F.col("n_nationkey") % 4).alias("a"),
        (F.col("n_regionkey") % 3).alias("b"))
    path = str(tmp_path / "pruned_tbl")
    df.write.partitionBy("a", "b").parquet(path)
    wanted = {(0, 1), (2, 2), (3, 0)}
    full = (spark.read.parquet(path)
            .where((F.col("a") * 10 + F.col("b")).isin(
                [x * 10 + y for x, y in wanted])))
    pruned = read_hive_pruned(spark, path, ["a", "b"], wanted)
    key = lambda r: (r["n_nationkey"],)
    assert sorted(map(tuple, pruned.select(*full.columns).collect())) \
        == sorted(map(tuple, full.collect()))
    # schema shortcut: identical rows with the read-back schema passed
    schema = spark.read.parquet(path).schema
    pruned_s = read_hive_pruned(spark, path, ["a", "b"], wanted,
                                schema=schema)
    assert sorted(map(tuple, pruned_s.select(*full.columns).collect())) \
        == sorted(map(tuple, full.collect()))
    # a wanted set whose directories do not exist returns None
    assert read_hive_pruned(spark, path, ["a", "b"], {(9, 9)}) is None
