"""Structured Streaming over the `events` table — watermarks, tumbling /
sliding / session windows, stateful dedup, and incremental index refresh via
``foreachBatch``.

The reference is strictly batch (single-shot main, hnsw.cc:485-488); this
module is new surface mandated by SURVEY §2.2. Each streaming query has a
batch twin in operators/relational.py so results are oracle-checkable: the
streaming tests replay the fixture with ``trigger(availableNow=True)`` and
assert equality with the batch result.

Scale notes: all aggregations are keyed on (window, event_type) or
(user_id) — state is bounded by watermark eviction; `foreachBatch` writes
are idempotent per epoch_id for exactly-once sinks.

Late-data semantics (pinned by tests/test_streaming.py::
test_watermark_drops_late_event): Spark >= 3.4 tracks TWO watermarks per
micro-batch — late events are filtered against the PREVIOUS batch's
eviction watermark, while state eviction/append-emission uses the current
one. Consequences callers must design for: (a) a row whose window end is
<= the late-events watermark is silently DROPPED, (b) a late row whose
window is still open is aggregated normally, and (c) a row that advances
the max event time only tightens the drop threshold one batch LATER — so
"reprocess yesterday" backfills must go through the batch twins
(operators/relational.py), never through a live stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from vectordb_explorations_spark.schemas import SCHEMAS
from pyspark.sql import types as T

def _events_raw_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Streaming file sources need an explicit schema; the fixture's physical
    ts type varies by generation (INT64 nanos under ``nanosAsLong`` vs native
    TIMESTAMP_NTZ micros under Spark 4.x). Probe the batch read's schema once
    (footer-only, no data scan) so stream ≡ batch twin invariants hold."""
    batch = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return batch.schema


def read_events_stream(spark: SparkSession, sf_dir: str,
                       max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over the events parquet (one file = one
    micro-batch by default). In production this is Kafka/Kinesis; the
    transformation graph is source-agnostic."""
    # File streams require a directory source; select the single fixture
    # file with a glob filter.
    # Same defensive setup as sources/catalog.load_table: legacy nanos
    # fixtures are unreadable without nanosAsLong, declared outputs render
    # epochs in UTC, and workers need the package shipped. queries()
    # callables must work under a caller-provided vanilla session, and this
    # path bypasses the catalog.
    from vectordb_explorations_spark.sources.catalog import (
        _normalize_events_ts, ensure_package_on_workers)
    ensure_package_on_workers(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = (spark.readStream
          .schema(_events_raw_schema(spark, sf_dir))
          .option("maxFilesPerTrigger", max_files_per_trigger)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sf_dir))
    # Same ts normalization as the batch catalog (dtype-branched), so
    # streaming results match the batch twins exactly.
    return _normalize_events_ts(df)


def hourly_counts_stream(events: DataFrame,
                         watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windowed counts with late-data eviction. State per
    (window, event_type); watermark bounds it."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 6).alias("sum_value"))
            .select(F.unix_timestamp(F.col("win.start")).alias("hour_epoch"),
                    "event_type", "n_events", "sum_value"))


def sliding_value_stream(events: DataFrame,
                         watermark: str = "2 hours") -> DataFrame:
    """Sliding window (1 hour, slide 30 min) value aggregation."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.avg("value"), 6).alias("avg_value"))
            .select(F.unix_timestamp(F.col("win.start")).alias("win_start_epoch"),
                    "n_events", "avg_value"))


def session_stream(events: DataFrame, gap: str = "30 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    """Native session windows (gap-based), the streaming twin of
    operators/relational.user_sessions."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 6).alias("session_value"))
            .select("user_id",
                    F.unix_timestamp(F.col("win.start")).alias("start_epoch"),
                    "n_events", "session_value"))


def streaming_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stateful exact dedup on event_id within the watermark horizon —
    the streaming form of operators/dedup.exact_dedup."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id", "ts"])


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drain a stream with availableNow into an in-memory table; returns the
    query handle (caller awaits termination). Test/verification harness."""
    return (stream_df.writeStream
            .format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start())


def await_drained(query, timeout_s: int = 300) -> None:
    """awaitTermination with the timeout CHECKED: a timed-out drain would
    otherwise leave a partially-filled memory table and the declared query
    would return plausible-but-wrong rows. Raise loudly instead."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise RuntimeError(
            f"streaming drain did not finish within {timeout_s}s "
            f"(query {query.name or query.id}); refusing to read a "
            f"partial sink")


def _embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared micro-batch source every incremental index-maintenance
    stream reads: the fixture embeddings table replayed file-by-file."""
    emb_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ])
    return (spark.readStream.schema(emb_schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "embeddings.parquet")
            .parquet(sf_dir))


def _batch_key(batch_df: DataFrame, epoch_id: int) -> str:
    """Identity of a micro-batch for idempotence marking. Keyed by the
    batch's SOURCE FILES (sha1 of the sorted inputFiles list), NOT the
    epoch counter: epoch ids restart at 0 on every checkpoint-less run
    and map to files only via listing order, so a directory that gains
    files between runs could land a NEW file on an already-marked epoch
    id (silently dropped) or re-ingest an old one under a fresh id.
    File names are stable across replays AND across restarts, whatever
    the counter says. Fallback to the epoch id only when the batch
    exposes no files (non-file sources), where replays-within-a-run are
    the only replays possible.

    SET-key caveat: hashing the whole file set is only
    restart-safe while batches hold one file — a restart that REGROUPS
    files (old+new in one batch) mints a new set key and re-ingests the
    already-applied file. The ingest wrappers therefore route through
    :func:`_files_to_ingest` (one marker PER FILE, already-marked files
    filtered out of the batch); this set key remains only as that
    helper's non-file fallback."""
    import hashlib
    try:
        files = sorted(batch_df.inputFiles())
    except Exception:
        files = []
    if not files:
        return f"e{epoch_id}"
    return hashlib.sha1("\n".join(files).encode()).hexdigest()[:20]


def _files_to_ingest(batch_df: DataFrame, index_dir: str, epoch_id: int):
    """Per-FILE idempotence: ``_batch_key`` hashes the whole
    input-file SET, which is only restart-safe while batches hold one
    file (maxFilesPerTrigger=1) — a checkpoint-less restart that REGROUPS
    files (old+new in one batch) would mint a new set key and re-ingest
    the already-applied file. This helper marks files INDIVIDUALLY:
    returns ``(df, mark)`` where ``df`` is the batch restricted to
    not-yet-applied source files (``None`` when nothing is new) and
    ``mark()`` stamps each ingested file after the write. Non-file
    batches fall back to the set key (replays-within-a-run are the only
    replays possible there)."""
    import hashlib

    try:
        files = sorted(batch_df.inputFiles())
    except Exception:
        files = []
    if not files:
        key = _batch_key(batch_df, epoch_id)
        if _epoch_applied(index_dir, key):
            return None, None
        mark = lambda: _mark_epoch(index_dir, key)  # noqa: E731
        # ingest_key: a deterministic id for THIS ingest's content —
        # sinks that need replay idempotence BETWEEN the data write and
        # mark() (a crash window the marker alone cannot close) use it
        # as a dynamic-overwrite partition key (latesim.maxsim_append_
        # ingest), so a replay REPLACES its own rows instead of
        # double-appending.
        mark.ingest_key = key
        return batch_df, mark
    keys = {f: "f" + hashlib.sha1(f.encode()).hexdigest()[:20]
            for f in files}
    todo = [f for f in files if not _epoch_applied(index_dir, keys[f])]
    if not todo:
        return None, None
    df = batch_df
    if len(todo) < len(files):
        df = batch_df.where(F.input_file_name().isin(todo))

    def mark() -> None:
        for f in todo:
            _mark_epoch(index_dir, keys[f])

    mark.ingest_key = "k" + hashlib.sha1(
        "|".join(todo).encode()).hexdigest()[:20]
    return df, mark


def _epoch_applied(index_dir: str, key: str) -> bool:
    """foreachBatch is at-least-once: a task/driver failure replays an
    epoch, and a blind append would double-ingest it (duplicate index
    rows, double-advanced sidecar corpus count). The guard: a zero-byte
    ``_epoch_<key>`` marker written AFTER the epoch's files land (the
    underscore prefix keeps Spark's parquet reader from listing it)
    makes replays no-ops; the key is the batch's source-file content
    hash (see _batch_key), so it survives epoch-counter restarts.
    Residual window: a crash between the data landing and the marker
    replays that one batch on restart. Sinks where a double-append
    corrupts results route the replay into the SAME location via
    ``mark.ingest_key`` — per-ingest subdir overwrite
    (incremental_index_refresh, documents.span_admission_ingest) or
    dynamic partition overwrite (latesim.maxsim_append_ingest) — so the
    replay REPLACES its rows. The hive IVF/IVF-PQ appends keep an
    append-only residual: the replayed batch's rows repeat (served once:
    every IVF-family scan scores one row per id, ``ann.probe_and_merge``) and
    the sidecar N counts them twice until the periodic re-train/rewrite
    that IS their maintenance cycle."""
    return os.path.exists(os.path.join(index_dir, f"_epoch_{key}"))


def _mark_epoch(index_dir: str, key: str) -> None:
    os.makedirs(index_dir, exist_ok=True)
    with open(os.path.join(index_dir, f"_epoch_{key}"), "w"):
        pass


def incremental_index_refresh(spark: SparkSession, sf_dir: str,
                              index_dir: str,
                              num_shards: int = 4) -> "object":
    """foreachBatch incremental ANN-index maintenance: each micro-batch of
    new embeddings is LSH-bucketed and appended to the index table —
    the streaming counterpart of the reference's online `Insert`
    (hnsw.cc:147-215), restated as bulk-append (SURVEY §0: Spark batch-
    builds indexes; it does not serve online point inserts). Epoch
    markers make replayed micro-batches no-ops (see _epoch_applied),
    and each batch's rows land in their own ``index_dir/<ingest_key>/``
    subdirectory written with mode('overwrite') — a crash-window replay
    REPLACES its rows instead of double-appending (a duplicated index
    row puts the same vec_id into a top-k twice); read the index with
    recursiveFileLookup.
    """
    from vectordb_explorations_spark.operators.ann import random_hyperplane_lsh
    from vectordb_explorations_spark.sources.catalog import (
        ensure_package_on_workers)

    ensure_package_on_workers(spark)
    stream = _embeddings_stream(spark, sf_dir)

    def refresh(batch_df: DataFrame, epoch_id: int) -> None:
        df, mark = _files_to_ingest(batch_df, index_dir, epoch_id)
        if df is None:
            return
        idx = random_hyperplane_lsh(df)
        (idx.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .parquet(os.path.join(index_dir, mark.ingest_key)))
        mark()

    return (stream.writeStream
            .foreachBatch(refresh)
            .trigger(availableNow=True)
            .start())


def incremental_ivf_ingest(spark: SparkSession, sf_dir: str,
                           index_dir: str, centroids) -> "object":
    """foreachBatch incremental IVF maintenance: each micro-batch of new
    embeddings is assigned against the index's FROZEN centroids and
    appended into the hive-partitioned serving layout
    (ivf_append_partitioned) — the streaming composition of the batch
    incremental path, so a live ingest keeps the probe-prunable layout
    current without retraining or corpus re-assignment. Epoch files land
    only in touched list directories; replayed epochs are no-ops
    (_epoch_applied); drift triggers a batch re-train + rewrite, not a
    streaming concern. An ``index_dir`` that holds no layout yet starts
    one: the first batch's append stamps its sidecar."""
    from vectordb_explorations_spark.operators.ann import (
        ivf_append_partitioned)
    from vectordb_explorations_spark.sources.catalog import (
        ensure_package_on_workers)

    ensure_package_on_workers(spark)
    stream = _embeddings_stream(spark, sf_dir)

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        df, mark = _files_to_ingest(batch_df, index_dir, epoch_id)
        if df is None or df.isEmpty():
            return
        ivf_append_partitioned(index_dir, centroids, df)
        mark()

    return (stream.writeStream
            .foreachBatch(ingest)
            .trigger(availableNow=True)
            .start())


def incremental_ivfpq_ingest(spark: SparkSession, sf_dir: str,
                             index_dir: str, centroids,
                             codebooks) -> "object":
    """foreachBatch incremental IVF-PQ maintenance: each micro-batch is
    assigned + residual-encoded against the index's FROZEN centroids and
    codebooks and hive-appended into the compressed serving layout
    (ivfpq_append_partitioned) — the streaming composition of the batch
    incremental path, so a live ingest keeps the probe-prunable 16-byte-
    code layout AND its sidecar corpus count current without retraining.
    Codes are bit-identical to a rebuild's (build and append share the
    encode kernel); replayed epochs are no-ops (_epoch_applied — a blind
    re-append would double both the code rows and the sidecar N); drift
    triggers a batch re-train + rewrite."""
    from vectordb_explorations_spark.operators.pq import (
        ivfpq_append_partitioned)
    from vectordb_explorations_spark.sources.catalog import (
        ensure_package_on_workers)

    ensure_package_on_workers(spark)
    stream = _embeddings_stream(spark, sf_dir)

    def ingest(batch_df: DataFrame, epoch_id: int) -> None:
        df, mark = _files_to_ingest(batch_df, index_dir, epoch_id)
        if df is None or df.isEmpty():
            return
        ivfpq_append_partitioned(index_dir, centroids, codebooks, df)
        mark()

    return (stream.writeStream
            .foreachBatch(ingest)
            .trigger(availableNow=True)
            .start())


def streaming_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared correctness pin for the stateful-dedup path: drain
    ``streaming_dedup`` with availableNow into a uniquely-named memory
    sink, then aggregate the deduped stream into a deterministic
    per-event_type summary. The oracle applies the same
    (event_id, ts) dedup and aggregate in SQL, so the driver hash-checks
    the streaming path end to end."""
    import uuid

    name = f"sdedup_{uuid.uuid4().hex[:12]}"  # no session-global collisions
    stream = read_events_stream(spark, sf_dir)
    q = run_to_memory(streaming_dedup(stream), name, "append")
    await_drained(q)
    return (spark.table(name)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.count_distinct("user_id").alias("n_users"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .orderBy("event_type"))


STREAMING_DEDUP_STATS_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(sum(value), 2) AS sum_value
FROM (SELECT *, row_number() OVER (PARTITION BY event_id, ts
                                   ORDER BY event_id) AS rn
      FROM events)
WHERE rn = 1
GROUP BY event_type
ORDER BY event_type
"""


def streaming_index_refresh_stats(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Declared correctness pin for the foreachBatch incremental index
    refresh: run ``incremental_index_refresh`` into a fresh temp dir,
    then audit the written LSH index — row count must be vectors x
    num_tables with all 8 tables present. The audit
    columns are chosen to be SQL-derivable so the check is a full oracle
    hash, not rows-only."""
    import tempfile

    out = tempfile.mkdtemp(prefix="lsh_refresh_")
    q = incremental_index_refresh(spark, sf_dir, out)
    await_drained(q)
    idx = (spark.read.option("recursiveFileLookup", "true")
           .parquet(out))
    return idx.agg(F.count(F.lit(1)).alias("n_rows"),
                   F.count_distinct("table_id").alias("n_tables"),
                   F.count_distinct("vec_id").alias("n_vectors"))


STREAMING_INDEX_REFRESH_ORACLE = """
SELECT 8 * count(*) AS n_rows,
       CAST(8 AS BIGINT) AS n_tables,
       count(*) AS n_vectors
FROM embeddings
"""


def streaming_ivfpq_refresh_stats(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Declared correctness pin for the COMPRESSED-family streaming
    ingest: fit IVF-PQ on the embeddings table (seeded driver-side
    k-means — deterministic), drain ``incremental_ivfpq_ingest`` into a
    fresh hive layout, then audit what was streamed — code rows must be
    assign_n x N (every vector in exactly two lists), every vector
    present, every code exactly m subquantizers wide, and the sidecar
    corpus count the refine auto-policy resolves from must equal N. All
    audit columns are SQL-derivable, so the driver hash-checks the
    streamed serving layout end to end."""
    import tempfile

    from vectordb_explorations_spark.operators.pq import ivfpq_build
    from vectordb_explorations_spark.sources import substrate
    from vectordb_explorations_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    _, cents, books = ivfpq_build(emb, num_centroids=8, m_subspaces=8,
                                  k_codes=16)
    out = tempfile.mkdtemp(prefix="ivfpq_refresh_")
    q = incremental_ivfpq_ingest(spark, sf_dir, out, cents, books)
    await_drained(q)
    idx = spark.read.parquet(out)
    meta_n = substrate.read_rows(spark, out) or 0
    return (idx.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("vec_id").alias("n_vectors"),
        F.min(F.size("codes")).cast("long").alias("m_min"),
        F.max(F.size("codes")).cast("long").alias("m_max"))
        .withColumn("meta_n", F.lit(int(meta_n)).cast("long")))


STREAMING_IVFPQ_REFRESH_ORACLE = """
SELECT CAST(2 * count(*) AS BIGINT) AS n_rows,
       count(*) AS n_vectors,
       CAST(8 AS BIGINT) AS m_min,
       CAST(8 AS BIGINT) AS m_max,
       count(*) AS meta_n
FROM embeddings
"""


USER_STATE_SCHEMA = T.StructType([
    T.StructField("n_events", T.LongType()),
    T.StructField("sum_value", T.DoubleType()),
    T.StructField("max_value", T.DoubleType()),
])

USER_TOTALS_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("sum_value", T.DoubleType()),
    T.StructField("max_value", T.DoubleType()),
])


def user_running_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, sum, max) maintained across micro-batches — the
    arbitrary-state surface for operators the built-in windowed aggs can't
    express (per-key models, custom eviction, cross-batch counters).

    State is one fixed-width tuple per user — bounded by the user-key
    cardinality, not the event volume; the grouped shuffle is the same one
    a groupBy would pay."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        n, s, mx = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdf_iter:
            vals = pdf["value"].astype(float)
            n += len(pdf)
            s += float(vals.sum())
            if len(vals):
                mx = max(mx, float(vals.max()))
        state.update((n, s, mx))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "sum_value": [s], "max_value": [mx]})

    return (events.groupBy("user_id")
            .applyInPandasWithState(
                update,
                outputStructType=USER_TOTALS_SCHEMA,
                stateStructType=USER_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def purchase_click_stream_join(events: DataFrame,
                               window_minutes: int = 30,
                               watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval join: each purchase joins the same user's
    clicks from the preceding ``window_minutes``. Watermarks on BOTH sides
    bound the join state — Spark evicts buffered clicks once the purchase
    watermark passes the interval, so state is (users active in the
    horizon) × (clicks in the window), independent of stream length."""
    clicks = (events.where(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", watermark))
    purchases = (events.where(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("p_ts"),
                         F.col("value").alias("purchase_value"))
                 .withWatermark("p_ts", watermark))
    cond = F.expr(f"""
        c_user = p_user
        AND click_ts < p_ts
        AND click_ts >= p_ts - INTERVAL {window_minutes} MINUTES
    """)
    return (purchases.join(clicks, cond, "inner")
            .select(F.col("p_user").alias("user_id"), "purchase_id",
                    "click_id",
                    F.unix_micros("p_ts").alias("purchase_us"),
                    F.unix_micros("click_ts").alias("click_us")))


def streaming_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared correctness pin for the stream-stream interval join: drain
    ``purchase_click_stream_join`` with availableNow into a uniquely-named
    memory sink, then aggregate the joined pairs per user. The oracle runs
    the same interval join in SQL over the batch table, so the driver
    hash-checks watermarked stream-stream join semantics end to end."""
    import uuid

    name = f"sjoin_{uuid.uuid4().hex[:12]}"
    stream = read_events_stream(spark, sf_dir)
    q = run_to_memory(purchase_click_stream_join(stream), name, "append")
    await_drained(q)
    return (spark.table(name)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.count_distinct("click_id").alias("n_clicks"),
                 F.count_distinct("purchase_id").alias("n_purchases"))
            .orderBy("user_id"))


STREAMING_JOIN_STATS_ORACLE = """
SELECT p.user_id AS user_id,
       count(*) AS n_pairs,
       count(DISTINCT c.event_id) AS n_clicks,
       count(DISTINCT p.event_id) AS n_purchases
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = p.user_id
 AND c.ts < p.ts
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
GROUP BY p.user_id
ORDER BY user_id
"""


def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared correctness pin for the arbitrary-stateful operator
    (``applyInPandasWithState``): drain the update-mode running totals with
    availableNow, keep each user's FINAL state row (n_events is monotone
    across micro-batches), and hash-check against the same totals in SQL.
    This pins cross-batch state maintenance end to end, not just one
    batch's aggregation."""
    import uuid

    from pyspark.sql import Window

    name = f"stotals_{uuid.uuid4().hex[:12]}"
    stream = read_events_stream(spark, sf_dir)
    q = run_to_memory(user_running_totals_stream(stream), name, "update")
    await_drained(q)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (spark.table(name)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "n_events",
                    F.round("sum_value", 2).alias("sum_value"),
                    F.round("max_value", 2).alias("max_value"))
            .orderBy("user_id"))


STREAMING_USER_TOTALS_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       round(max(value), 2) AS max_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def enriched_segment_stream(events: DataFrame,
                            customer: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each streaming event picks up its
    user's market segment from the STATIC customer dimension. Spark plans
    the static side as a broadcast into every micro-batch — no state, no
    watermark bookkeeping (unlike the stream-stream interval join), and
    the dimension may be arbitrarily re-read between batches. This is the
    standard serving-side pattern: a 100 TB event firehose enriched
    against dimension tables without ever shuffling the stream."""
    dim = customer.select(F.col("c_custkey").alias("user_id"),
                          "c_mktsegment")
    return events.join(F.broadcast(dim), "user_id")


def streaming_enrichment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared correctness pin for the stream-static join: drain the
    enriched stream with availableNow into a memory sink, then aggregate
    per (segment, event_type). The oracle runs the same join+aggregate in
    batch SQL, so the driver hash-checks the enrichment semantics end to
    end."""
    import uuid

    from vectordb_explorations_spark.sources.catalog import load_table

    name = f"senrich_{uuid.uuid4().hex[:12]}"
    stream = read_events_stream(spark, sf_dir)
    customer = load_table(spark, "customer", sf_dir)
    q = run_to_memory(enriched_segment_stream(stream, customer), name,
                      "append")
    await_drained(q)
    return (spark.table(name)
            .groupBy("c_mktsegment", "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.count_distinct("user_id").alias("n_users"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .orderBy("c_mktsegment", "event_type"))


STREAMING_ENRICHMENT_ORACLE = """
SELECT c.c_mktsegment AS c_mktsegment, e.event_type AS event_type,
       count(*) AS n_events,
       count(DISTINCT e.user_id) AS n_users,
       round(sum(e.value), 2) AS total_value
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY c.c_mktsegment, e.event_type
ORDER BY c_mktsegment, event_type
"""


def streaming_hll_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared correctness pin for SKETCHES ON A
    STREAM: per-event-type HyperLogLog registers maintained by an
    update-mode streaming aggregation — register-wise max is
    commutative and idempotent, which is exactly why HLL is THE
    production cardinality monitor: micro-batch updates, shard unions,
    and re-deliveries all merge into the same sketch. Drain with
    availableNow, keep each (event_type, register)'s FINAL max across
    the update rows (monotone), then finalize to the exact
    harmonic-sum bigint and the raw estimate — the driver hash-checks
    that the STREAMING sketch content equals the batch oracle's.

    Scale shape: state is bounded at groups x 16 register rows no
    matter the stream volume; no watermark needed (the aggregation
    state IS the sketch)."""
    import uuid

    from vectordb_explorations_spark.operators.sketches import (
        _hll_harmonics, _hll_raw_estimate, hll_registers)
    from vectordb_explorations_spark.functions.rounding import round6

    name = f"shll_{uuid.uuid4().hex[:12]}"
    stream = read_events_stream(spark, sf_dir)
    q = run_to_memory(hll_registers(stream), name, "update")
    await_drained(q)
    regs = (spark.table(name)
            .groupBy("event_type", "register")
            .agg(F.max("mr").alias("mr")))
    return (_hll_harmonics(regs)
            .select("event_type", "n_registers_hit",
                    "harmonic_sum_scaled",
                    round6(_hll_raw_estimate()).alias("hll_estimate"))
            .orderBy("event_type"))


def streaming_hll_monitor_oracle() -> str:
    """The batch HLL oracle minus the exact-truth columns — identical
    register/harmonic/estimate pipeline over the same table."""
    from vectordb_explorations_spark.operators.sketches import (
        hll_user_cardinality_oracle)

    # reuse the full batch oracle as a subquery and project the
    # sketch-only columns: one source of truth for the HLL SQL
    inner = hll_user_cardinality_oracle()
    return (f"SELECT event_type, n_registers_hit, "
            f"harmonic_sum_scaled, hll_estimate "
            f"FROM ({inner}) ORDER BY event_type")


def streaming_cms_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared correctness pin for the sketch
    family's SECOND streaming member: Count-Min counter cells
    maintained by an update-mode streaming aggregation. Per-cell
    counts are monotone across a key's update rows, so the drained
    memory sink finalizes with a per-(row, bucket) max — the same
    final-state idiom as streaming_user_totals — and the finalized
    sketch is probed by the batch top-N keys, producing EXACTLY the
    batch query's output (cms_heavy_hitters), which the driver
    hash-checks against the same oracle.

    Why counters stream: count is commutative+associative, so
    micro-batches, shard merges, and replays all sum into the same
    cells — CMS is the per-key-frequency monitor a 100 TB firehose
    can afford. State is bounded at CMS_DEPTH x CMS_WIDTH = 256 cells
    regardless of stream volume; no watermark needed (the aggregation
    state IS the sketch)."""
    import uuid

    from vectordb_explorations_spark.operators.sketches import (
        CMS_DEPTH, CMS_TOPN, _cms_bucket)
    from vectordb_explorations_spark.sources.catalog import load_table

    name = f"scms_{uuid.uuid4().hex[:12]}"
    stream = read_events_stream(spark, sf_dir)
    rs = F.array(*[F.lit(i) for i in range(CMS_DEPTH)])
    cells = (stream
             .select(F.col("user_id").cast("string").alias("k"),
                     F.explode(rs).alias("r"))
             .select("r", _cms_bucket(F.col("r"), F.col("k"))
                     .alias("bucket"))
             .groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("c")))
    q = run_to_memory(cells, name, "update")
    await_drained(q)
    sketch = (spark.table(name).groupBy("r", "bucket")
              .agg(F.max("c").alias("c")))
    events = load_table(spark, "events", sf_dir)
    top = (events.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("true_n"))
           .orderBy(F.desc("true_n"), "user_id").limit(CMS_TOPN))
    probes = (top.select("user_id", "true_n", F.explode(rs).alias("r"))
              .withColumn("bucket",
                          _cms_bucket(F.col("r"),
                                      F.col("user_id").cast("string"))))
    est = (probes.join(F.broadcast(sketch), ["r", "bucket"])
           .groupBy("user_id", "true_n")
           .agg(F.min("c").alias("cms_estimate")))
    return (est.select(
        "user_id", "true_n", "cms_estimate",
        (F.col("cms_estimate") - F.col("true_n")).alias("overcount"))
        .orderBy(F.desc("true_n"), "user_id"))


def streaming_cms_monitor_oracle() -> str:
    """The streamed sketch finalizes to the batch query's exact cells,
    so the oracle IS the batch CMS oracle — one source of truth."""
    from vectordb_explorations_spark.operators.sketches import (
        cms_heavy_hitters_oracle)

    return cms_heavy_hitters_oracle()
