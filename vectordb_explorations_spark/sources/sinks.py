"""Sink surface: parquet / CSV / JSON writers with read-back twins.

The reference's only sink is stdout (`Vector::Print`, hnsw.cc:86-91,
316-319); every file sink here is new surface (SURVEY §2.2 sinks row).

Scale notes: writers keep Spark's task-parallel layout — one file per
partition, optionally `partitionBy` columns for partition-pruned reads
downstream. Nothing funnels through the driver; `single_file=True` exists
only for small oracle/debug exports and repartitions to 1 explicitly so the
cost is visible at the call site.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F


# FileOutputCommitter v1, pinned PER WRITE by the non-idempotent write
# shapes. The session default is also v1 (session.py), overridable with
# SPARK_GRAFT_COMMITTER_V=2 for clusters whose job commit is
# remote-FS-bound; v2's task-parallel renames have the trade-off that a
# task attempt failing mid-commit can leave partial task output visible
# inside a job that then retries and succeeds. A bulk OVERWRITE build
# replays convergently (the whole directory is replaced), so builds
# follow the session default; an APPEND or dynamic partition overwrite
# would let a duplicated / partial task output silently survive NEXT TO
# existing data, so those writers pass these options and stay on v1 even
# when the environment flips the session to v2 (DataFrameWriter options
# reach the Hadoop job conf via SessionState.newHadoopConfWithOptions).
# Speculative execution — the other way a task commit races — is off
# (session.py pins spark.speculation=false explicitly).
V1_COMMITTER = {"mapreduce.fileoutputcommitter.algorithm.version": "1"}


def write_parquet(df: DataFrame, path: str,
                  partition_by: list[str] | None = None,
                  mode: str = "overwrite",
                  single_file: bool = False) -> None:
    """Parquet sink. ``partition_by`` produces hive-style directories that
    Catalyst partition-prunes on read (check PartitionFilters in .explain)."""
    if single_file:
        df = df.repartition(1)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite",
              header: bool = True, single_file: bool = False) -> None:
    """CSV sink — complex types (arrays/structs) are not CSV-representable;
    callers must project to scalars first (Spark raises otherwise)."""
    if single_file:
        df = df.repartition(1)
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite",
               single_file: bool = False) -> None:
    """JSON-lines sink; nested arrays/structs serialize natively."""
    if single_file:
        df = df.repartition(1)
    df.write.mode(mode).json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(spark: SparkSession, path: str, schema=None,
             header: bool = True) -> DataFrame:
    """CSV read-back. Pass the writer's schema for a lossless roundtrip —
    inference samples the data and can widen/narrow types."""
    r = spark.read.option("header", str(header).lower())
    if schema is not None:
        r = r.schema(schema)
    else:
        r = r.option("inferSchema", "true")
    return r.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — the columnar alternative where the surrounding stack
    (Hive/Trino) prefers ORC stripes to parquet row groups; same
    pushdown/pruning behavior from Spark's side."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row",
              mode: str = "overwrite") -> None:
    """XML sink (Spark 4's built-in xml source — the spark-xml package
    merged upstream, SPARK-44265): one element per row under ``row_tag``,
    entities escaped by the writer. The interchange format feeds/crawl
    dumps still arrive in; like CSV it is row-oriented text — no column
    pruning or predicate pushdown on read, so it is an INGEST format:
    land it once, convert to parquet, and let the columnar side serve."""
    (df.write.mode(mode).format("xml")
     .option("rowTag", row_tag).save(path))


def read_xml(spark: SparkSession, path: str, schema=None,
             row_tag: str = "row") -> DataFrame:
    """XML read-back. Pass the writer's schema for a lossless roundtrip
    (inference samples the documents and can widen types, same caveat as
    CSV)."""
    r = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        r = r.schema(schema)
    return r.load(path)


def partition_file_counts(path: str) -> dict[str, int]:
    """Data-file count per hive partition directory (for asserting layout
    in tests): {'' : n} for unpartitioned, {'k=v': n, ...} otherwise."""
    out: dict[str, int] = {}
    for root, _dirs, files in os.walk(path):
        data = [f for f in files
                if not f.startswith(("_", ".")) and not f.endswith(".crc")]
        if data:
            rel = os.path.relpath(root, path)
            out["" if rel == "." else rel] = len(data)
    return out


def write_bucketed_table(df: DataFrame, table_name: str, bucket_cols: list[str],
                         num_buckets: int = 16,
                         sort_cols: list[str] | None = None,
                         path: str | None = None) -> None:
    """Bucketed managed table (SURVEY §7 M6): pre-hash-partitioned on
    ``bucket_cols`` so equi-joins and aggregations on those keys read
    co-located buckets and skip the shuffle entirely — at 100 TB this turns
    every recurring join on the bucket key from a full exchange into a
    zero-exchange sort-merge. ``sortBy`` additionally pre-orders within
    buckets, eliminating the join-time sort."""
    w = (df.write.mode("overwrite")
         .bucketBy(num_buckets, *bucket_cols))
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def compact_parquet(spark: SparkSession, src: str, dst: str,
                    target_mb: int = 128) -> int:
    """Small-file compaction: rewrite a fragmented parquet directory into
    ~``target_mb`` files. The small-files problem is the classic 100 TB
    operational failure mode (every file costs a task + footer read +
    namenode entry); pipelines run this after high-parallelism or
    micro-batch writes. Sizes from the source listing, not a data scan;
    one round-robin repartition balances the output exactly. Returns the
    output file count."""
    total = 0
    for root, _dirs, files in os.walk(src):
        for f in files:
            if not f.startswith(("_", ".")) and not f.endswith(".crc"):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, round(total / (target_mb * 1024 * 1024)))
    (spark.read.parquet(src)
     .repartition(n_files)
     .write.mode("overwrite").parquet(dst))
    return n_files


def overwrite_partitions(df: DataFrame, path: str,
                         partition_by: list[str]) -> None:
    """Dynamic partition overwrite — the BACKFILL pattern: replace ONLY
    the hive partitions present in ``df``, leaving every sibling
    partition's files untouched. Static overwrite (the default) would
    truncate the whole root first, so a one-day reprocess would silently
    delete the other days; pipelines re-running a late or corrected slice
    need exactly this write shape.

    The ``partitionOverwriteMode=dynamic`` conf is toggled only around
    this write and then restored — no session-wide side effect (same
    discipline as lsh_probe_bucketed's scan toggle).

    Scale notes: the write stays task-parallel per partition; at 100 TB
    the replaced set is bounded by the slice being backfilled, never the
    table. Readers see partition-atomic replacement (per-partition commit
    via the staging directory protocol)."""
    spark = df.sparkSession
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, "STATIC")
    spark.conf.set(conf_key, "dynamic")
    try:
        (df.write.mode("overwrite")
         .options(**V1_COMMITTER)   # non-idempotent shape: see V1_COMMITTER
         .partitionBy(*partition_by)
         .parquet(path))
    finally:
        spark.conf.set(conf_key, prev)


def repartition_for_hive(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition on hive partition columns with an EXPLICIT task
    count (the cluster's defaultParallelism) before a partitionBy
    write. A numberless ``repartition(cols)`` under AQE lets the
    adaptive planner pick the shuffle partitioning, which the r14
    quiet-box A/B measured 5.5x SLOWER for many-directory writes
    (1,024-dir banded face: 13.3 s vs 2.4 s, same 1-file-per-directory
    output) — the extra wall is task-commit overhead, not bytes. Hash
    partitioning on the hive columns keeps the one-file-per-occupied-
    directory floor either way; pinning the count just bounds the
    commit fan-out to the core count."""
    p = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(p, *cols)


def delete_rows_partitioned(spark: SparkSession, path: str,
                            partition_by: list[str], id_col: str,
                            ids) -> int:
    """Bounded-touch row deletion from a hive-partitioned parquet table
    — the erasure primitive every persisted serving substrate shares
    (GDPR deletes, recrawl replacement): locate the victims' partitions
    with ONE narrow scan (id + partition columns only — column pruning
    keeps payload bytes unread), localCheckpoint the touched
    partitions' SURVIVORS (Spark refuses to overwrite a path it is
    still reading from), dynamic-overwrite just those partitions, and
    explicitly remove any partition directory whose rows were ALL
    deleted (a dynamic overwrite cannot see an empty partition — its
    old files would silently survive and keep serving the deleted
    rows). Returns the number of rows removed.

    Untouched sibling partitions keep their exact files — pinned by
    the substrate lifecycle tests. ``id_col`` may be any SQL expression
    over the table's columns (e.g. a derived doc id), and partition
    values may be strings (hive keys) — both used by the maxsim
    erasure face. Non-integer ids (string doc keys) pass through
    unchanged; integer-like ids are canonicalized so numpy/str
    spellings of the same id dedup (r13 ADVICE). Multi-column packed
    keys require partition values without ``'/'`` and without NULLs —
    violations raise rather than weaken the exactness predicate."""
    def _coerce(i):
        try:
            return int(i)
        except (TypeError, ValueError):
            return i
    ids = sorted({_coerce(i) for i in ids}, key=lambda v: (str(type(v)), v))
    if not ids:
        return 0
    tbl = spark.read.parquet(path)
    victims = tbl.where(F.expr(id_col).isin(ids))
    touched = [tuple(r) for r in
               victims.select(*partition_by).distinct().collect()]
    if not touched:
        return 0
    tkeys = {tuple(t) for t in touched}
    if len(partition_by) > 1:
        # the packed '/'-joined key below cannot distinguish values
        # containing '/', and concat_ws silently DROPS NULLs — either
        # would turn the exact predicate into a lossy one, so refuse
        for t in tkeys:
            for c, v in zip(partition_by, t):
                if v is None:
                    raise ValueError(
                        f"delete_rows_partitioned: NULL value in "
                        f"partition column {c!r} — packed-key predicate "
                        f"cannot represent it")
                if "/" in str(v):
                    raise ValueError(
                        f"delete_rows_partitioned: partition value "
                        f"{v!r} in {c!r} contains '/' — ambiguous under "
                        f"the packed key")
    # per-column isin conjuncts (what the file listing prunes on) plus
    # a packed-key isin for exactness inside the pruned rectangles —
    # an OR-chain over touched combos overflows Catalyst's column-tree
    # conversion past a few hundred legs (the maxsim 504-leg lesson)
    pred = None
    for i, c in enumerate(partition_by):
        e = F.col(c).isin(sorted({t[i] for t in tkeys}))
        pred = e if pred is None else (pred & e)
    if len(partition_by) > 1:
        pk = F.concat_ws("/", *[F.col(c).cast("string")
                                for c in partition_by])
        pred = pred & pk.isin(
            sorted("/".join(str(v) for v in t) for t in tkeys))
    touched_rows = tbl.where(pred)
    n_removed = touched_rows.where(F.expr(id_col).isin(ids)).count()
    survivors = (touched_rows.where(~F.expr(id_col).isin(ids))
                 .localCheckpoint())
    kept = {tuple(r[c] for c in partition_by) for r in
            survivors.select(*partition_by).distinct().collect()}
    if kept:
        # NO repartition(partition_by) here, deliberately: that collapse
        # is right at BUILD time over thousands of tiny directories
        # (minhash_persist), but an erasure rewrite of one large
        # partition (the maxsim weights face is a single ingest_key
        # directory holding a whole ingest batch) would funnel it
        # through ONE task. Survivors inherit the pruned read's
        # parallelism, so files per rewritten directory stay bounded by
        # the directory's own input file count.
        overwrite_partitions(survivors, path, partition_by)
    from vectordb_explorations_spark.sources.substrate import remove_dirs
    remove_dirs(spark, path, [
        "/".join(f"{c}={v}" for c, v in zip(partition_by, t))
        for t in sorted(tkeys - kept)])
    return n_removed


def merge_upsert(spark: SparkSession, updates: DataFrame, path: str,
                 key_cols: list[str], partition_by: list[str]) -> None:
    """MERGE/upsert for plain parquet tables (no Delta/Iceberg in this
    environment — this is the same write shape those formats run under
    copy-on-write): rows in ``updates`` replace target rows with the same
    key; new keys append. Composed from primitives the engine already has:

        touched  = partitions present in updates            (tiny, driver)
        survivors = target ⟕ anti-join updates ON key       (touched only!)
        overwrite_partitions(survivors ∪ updates)

    Scale notes: the anti-join reads ONLY the hive partitions the update
    batch touches (partition pruning via the IN filter — assert
    PartitionFilters in the plan), so a daily upsert costs
    O(touched partitions + update batch), never a table rewrite. The
    update side of the anti-join broadcasts when small (AQE decides from
    its actual size). Requires every key's partition value to be stable
    across versions (true for hive layouts keyed under the partition
    column — the CDC convention); rows whose partition value CHANGED
    would leave a stale copy behind, so callers repartitioning keys must
    delete-then-insert instead.

    Durability: the survivors∪updates frame is materialized via
    ``localCheckpoint`` BEFORE the overwrite, so the write job never lazily
    re-reads the path it is replacing. The remaining window is the commit
    itself: dynamic partition overwrite is per-partition atomic (staging
    dir + rename), not table-atomic — a crash mid-commit can leave SOME
    touched partitions new and others old, with no recovery copy (plain
    parquet has no Delta/Iceberg log). Callers needing table-atomic
    upserts must layer a manifest/log format on top.
    """
    import functools
    import operator

    from pyspark.sql import functions as F

    if not os.path.exists(path):
        write_parquet(updates, path, partition_by=partition_by)
        return
    touched = [tuple(r) for r in
               updates.select(*partition_by).distinct().collect()]
    if not touched:
        # empty update batch: a no-op, not a reduce() crash
        return
    target = spark.read.parquet(path)
    # eqNullSafe: a NULL partition value must select the
    # __HIVE_DEFAULT_PARTITION__ rows as survivors — a plain == yields
    # NULL there and dynamic overwrite would silently drop every
    # non-updated row of that partition
    in_touched = functools.reduce(operator.or_, [
        functools.reduce(operator.and_,
                         [F.col(c).eqNullSafe(F.lit(v))
                          for c, v in zip(partition_by, t)])
        for t in touched])
    survivors = (target.where(in_touched)
                 .join(updates.select(*key_cols).distinct(), key_cols,
                       "left_anti"))
    out = survivors.select(*updates.columns).unionByName(updates)
    # materialize BEFORE overwriting: the survivors plan reads `path`
    # lazily, and writing a plan over its own input is only safe if the
    # input is fully consumed first. localCheckpoint truncates the
    # lineage to executor-local blocks, closing the read-after-replace
    # hazard (the per-partition commit window is documented above).
    out = out.localCheckpoint(eager=True)
    try:
        overwrite_partitions(out, path, partition_by)
    finally:
        out.unpersist()


def _partition_file_budgets(path: str, partition_by: list[str],
                            target_file_bytes: int) -> list[dict]:
    """Per-hive-partition output-file budgets from the on-disk footprint
    (no data pass): walk ``path``, parse ``col=value`` directory
    components, and return one row per partition value combination with
    ``_n_files = ceil(partition_bytes / target)``.  Hive's
    ``__HIVE_DEFAULT_PARTITION__`` maps to None (joined null-safely)."""
    from urllib.parse import unquote

    budgets: dict[tuple, int] = {}
    for root, _, names in os.walk(path):
        pq_bytes = sum(os.path.getsize(os.path.join(root, n))
                       for n in names if n.endswith(".parquet"))
        if not pq_bytes:
            continue
        vals: dict[str, str | None] = {}
        for comp in os.path.relpath(root, path).split(os.sep):
            if "=" in comp:
                k, _, v = comp.partition("=")
                vals[k] = (None if v == "__HIVE_DEFAULT_PARTITION__"
                           else unquote(v))
        key = tuple(vals.get(c) for c in partition_by)
        budgets[key] = budgets.get(key, 0) + pq_bytes
    return [dict(zip(partition_by, key),
                 _n_files=max(1, -(-b // target_file_bytes)))
            for key, b in budgets.items()]


def compact_table(spark: SparkSession, path: str,
                  target_file_bytes: int = 128 * 1024 * 1024,
                  partition_by: list[str] | None = None) -> dict:
    """IN-PLACE small-files compaction, the sibling of
    :func:`compact_parquet` (which rewrites src -> dst and flattens the
    layout): this one rewrites a table AT ITS OWN PATH and PRESERVES a
    hive partition layout — the shape the incremental-append paths
    (ivf_append_partitioned, streaming ingest epochs, merge_upsert) need
    periodically, since each batch lands its own files.

    File budgets come from the actual on-disk footprint (no data pass):
    per hive partition, ~ceil(partition_bytes / target) files — a salt
    column bounded by each partition's own budget joins in (broadcast,
    null-safe on partition values) so oversized partitions SPLIT across
    tasks instead of funnelling into one writer (r7 ADVICE); hash
    collisions can merge salt buckets, so the count is a budget, not an
    exact quota. Content equality and partition-layout preservation are
    pinned by tests/test_sinks.py.

    Durability: the partitioned branch stages through localCheckpoint and
    dynamic partition overwrite — the crash-loss window is per-partition,
    as in merge_upsert. The non-partitioned branch writes to a sibling
    temp directory and swaps it in with two renames, so the source files
    survive until the new files are fully committed; the only window is
    between the renames (table briefly absent, old copy still on disk as
    ``<path>._compact_old``). Returns {files_before, files_after,
    bytes}."""
    import shutil

    from pyspark.sql import functions as F

    def _stats(p: str) -> tuple[int, int]:
        files = bytes_ = 0
        for root, _, names in os.walk(p):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    bytes_ += os.path.getsize(os.path.join(root, n))
        return files, bytes_

    files_before, total = _stats(path)
    n_out = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(path)
    if partition_by:
        budgets = _partition_file_budgets(path, partition_by,
                                          target_file_bytes)
        bdf = spark.createDataFrame(
            budgets, ", ".join(f"`{c}` string" for c in partition_by)
            + ", `_n_files` int")
        n_out = int(sum(b["_n_files"] for b in budgets))
        salted = (df.join(F.broadcast(bdf.select(
                      *[bdf[c].alias(f"_pb_{c}") for c in partition_by],
                      "_n_files")),
                      [df[c].cast("string").eqNullSafe(F.col(f"_pb_{c}"))
                       for c in partition_by], "left")
                  .withColumn("_salt", F.pmod(
                      F.xxhash64(*df.columns),
                      F.coalesce(F.col("_n_files"), F.lit(1))).cast("int")))
        out = (salted.repartition(n_out, *partition_by, "_salt")
               .drop("_salt", "_n_files",
                     *[f"_pb_{c}" for c in partition_by]))
        out = out.localCheckpoint(eager=True)
        try:
            overwrite_partitions(out, path, partition_by)
        finally:
            out.unpersist()
    else:
        tmp = path.rstrip("/") + "._compact_tmp"
        old = path.rstrip("/") + "._compact_old"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        df.coalesce(int(n_out)).write.mode("overwrite").parquet(tmp)
        os.rename(path, old)
        try:
            os.rename(tmp, path)
        except BaseException:
            os.rename(old, path)   # restore the durable copy
            raise
        shutil.rmtree(old)
    files_after, _ = _stats(path)
    return {"files_before": files_before, "files_after": files_after,
            "bytes": total}
