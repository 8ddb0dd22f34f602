"""Streaming near-duplicate detection over a `documents` stream.

The batch dedup suite (operators/dedup.py) answers "which pairs are
near-dups"; a streaming ingest pipeline asks the ONLINE form: "is this
arriving doc a near-dup of anything already admitted?" — admit the first
representative of each MinHash band neighborhood, flag later arrivals.
The reference has no streaming surface at all (hnsw.cc is single-process
batch); this extends SURVEY §2.2's streaming category alongside the
events-side operators in streaming/events.py.

Pipeline: stateless per-batch MinHash banding projection
(``minhash_signatures_stateless`` — Structured Streaming forbids the
batch path's non-time window) → ``applyInPandasWithState`` keyed on
(band_idx, band_key) remembering the FIRST doc admitted per band →
(doc_id, dup_of) emissions for every later arrival sharing a band.

Scale shape: state is ONE long per occupied band key — bounded by the
banding key space actually touched, not the corpus (and evictable by
timeout in a production config); the grouped shuffle carries only
(doc_id, band_idx, 32-char key) rows, the same narrow width as the batch
self-join. Emissions are bounded by arrivals × bands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from vectordb_explorations_spark.operators.dedup import (
    NUM_HASHES, BAND_SIZE, banded_keys, minhash_signatures_stateless)
from vectordb_explorations_spark.schemas import SCHEMAS

NEAR_DUP_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("dup_of", T.LongType()),
])

_BAND_STATE_SCHEMA = T.StructType([
    T.StructField("first_doc", T.LongType()),
])


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the fixture documents table (the same
    pattern as streaming/events.read_events_stream)."""
    return (spark.readStream.schema(SCHEMAS["documents"])
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir))


def _first_seen_update(state_ttl_ms: int | None):
    """The shared first-seen-per-band state closure behind both online
    admission streams (MinHash bands, perceptual dHash bands): remember
    the first doc admitted for the group key, emit (doc_id, dup_of) for
    every other arrival. The representative itself is excluded in BOTH
    branches — an at-least-once source replaying the first-seen doc
    must not emit a (first, first) self-duplicate row (r12 ADVICE; the
    two copies are now folded as the r12 staging comment promised,
    legal this round because every consuming query re-certifies in the
    r13 window)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    def update(key, pdf_iter, state: GroupState):
        if state_ttl_ms is not None and state.hasTimedOut:
            # idle past the TTL: evict — the next arrival in this band
            # re-admits a fresh representative
            state.remove()
            return
        ids: list[int] = []
        for pdf in pdf_iter:
            ids.extend(int(x) for x in pdf["doc_id"])
        if state.exists:
            first = int(state.get[0])
        else:
            first = min(ids)
            state.update((first,))
        dups = sorted(x for x in ids if x != first)
        if state_ttl_ms is not None:
            # sliding window: any arrival keeps the band's state alive
            state.setTimeoutDuration(state_ttl_ms)
        if dups:
            yield pd.DataFrame({"doc_id": dups, "dup_of": first})

    return update


def near_dup_stream(docs: DataFrame,
                    num_hashes: int = NUM_HASHES,
                    band_size: int = BAND_SIZE,
                    state_ttl_ms: int | None = None) -> DataFrame:
    """(doc_id, dup_of) per band collision: ``dup_of`` is the band's
    first-ARRIVED doc (within one micro-batch, the minimum doc_id — the
    deterministic stand-in for arrival order inside a batch). A doc
    colliding in several bands emits one row per band; aggregate
    downstream (min dup_of) for the per-doc verdict. Arrival order is the
    semantic: a later batch's doc is flagged against an earlier batch's
    representative even when its id is smaller.

    **State growth**: with the default
    ``state_ttl_ms=None`` the store keeps one row per occupied
    (band_idx, band_key) FOREVER — the occupancy curve is ≈ num_bands
    distinct keys per unique neighborhood (SCALE_NOTES, 'streaming
    near-dedup state growth', has the 100k-1M table), so at daily-crawl
    scale the store grows with the unique-document count. Pass a TTL to
    bound it: a band whose representative has seen no arrival for the
    TTL is evicted (ProcessingTimeTimeout, refreshed on every touch —
    a SLIDING dedup window, the production crawl semantic: a re-crawl of
    old content past the window is re-admitted as a fresh representative
    rather than flagged against state that would otherwise never die).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    banded = banded_keys(minhash_signatures_stateless(docs, num_hashes),
                         num_hashes, band_size)

    update = _first_seen_update(state_ttl_ms)

    return (banded.groupBy("band_idx", "band_key")
            .applyInPandasWithState(
                update,
                outputStructType=NEAR_DUP_SCHEMA,
                stateStructType=_BAND_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout
                             if state_ttl_ms is not None
                             else GroupStateTimeout.NoTimeout)))


def streaming_near_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared correctness pin for the streaming near-dup path: drain the
    fixture documents (one file → one micro-batch, so first-arrived ==
    min doc_id and the result is batch-derivable) into a uniquely-named
    memory sink, then report per flagged doc its representative and how
    many bands collided. The oracle recomputes the identical banding in
    SQL via the shared CTEs."""
    import uuid

    from vectordb_explorations_spark.sources.catalog import (
        ensure_package_on_workers)
    from vectordb_explorations_spark.streaming.events import (
        await_drained, run_to_memory)

    ensure_package_on_workers(spark)
    name = f"sndd_{uuid.uuid4().hex[:12]}"
    q = run_to_memory(near_dup_stream(read_documents_stream(spark, sf_dir)),
                      name, "append")
    await_drained(q)
    return (spark.table(name)
            .groupBy("doc_id")
            .agg(F.min("dup_of").alias("dup_of"),
                 F.count(F.lit(1)).alias("n_band_hits"))
            .orderBy("doc_id"))


def span_admission_ingest(spark: SparkSession, docs_stream: DataFrame,
                          state_dir: str, results_dir: str,
                          w: int | None = None) -> "object":
    """foreachBatch span-level dedup admission — the streaming twin of
    the batch exact-substring family (operators/dedup.py:
    exact_substring_pairs et al., Lee et al. 2021): each arriving
    micro-batch's w-token window fingerprints are checked NEW x OLD
    against the PERSISTED fingerprint table (the incremental_dedup
    shape — never a corpus self-join), intra-batch firsts are admitted
    as keepers, and only the batch's genuinely new fingerprints are
    appended to the state table.

    Per batch: (1) fingerprint the batch once (_span_windows, per-doc
    distinct); (2) every (doc, fp) whose fp already exists in the state
    table emits a hit against the persisted keeper — arrival order wins,
    so a later-arriving SMALLER doc_id is still flagged against the
    earlier keeper; (3) fps new to the table keep their min-doc_id batch
    occurrence and flag the batch's other holders; (4) new fps append to
    the state table as (fp, first_doc). Hits land in ``results_dir`` as
    (doc_id, dup_of) rows, one per colliding (doc, fp).

    Idempotence is two-layered (the maxsim_append_ingest discipline):
    per-source-file markers (streaming/events._files_to_ingest) absorb
    replays across restarts, AND each batch's hits land in their own
    ``results_dir/<ingest_key>/`` subdirectory written with
    mode('overwrite') — a replay in the crash window between the hit
    write and mark() REPLACES its own rows instead of double-appending
    (duplicate hit rows would inflate every n_fp_hits count). The
    replay recompute is made state-advance-stable by the self-pair
    guard on hits_old: if the crash happened AFTER the state append,
    the batch's own fingerprints are already persisted and the keeper
    would otherwise flag itself.

    Scale shape: state is one (md5, long) row per distinct corpus window
    fingerprint — ≈50 B x corpus tokens, the SAME budget as the batch
    family's fingerprint exchange (SCALE_NOTES r10), but paid once ever
    and persisted as a bucketable parquet table; per batch the work is
    batch-windows x (one join against the state table + one combinable
    min) — new x old only. Compact the state table with the engine's
    salt-split compaction (sources/sinks.py) as it grows."""
    import os

    from vectordb_explorations_spark.operators.dedup import (
        SUBSTRING_WINDOW, _span_windows)
    from vectordb_explorations_spark.streaming.events import (
        _files_to_ingest)

    w = SUBSTRING_WINDOW if w is None else w
    state_schema = "fp string, first_doc long"
    hit_schema = "doc_id long, dup_of long"
    if not os.path.exists(os.path.join(state_dir, "_SUCCESS")):
        (spark.createDataFrame([], state_schema)
         .write.mode("overwrite").parquet(state_dir))
    # results are nested one subdir per ingest (no '=', so readers see
    # plain nesting, not hive partitions); the seed subdir gives
    # schema-less readers a footer before any batch lands
    seed = os.path.join(results_dir, "__seed__")
    if not os.path.exists(os.path.join(seed, "_SUCCESS")):
        (spark.createDataFrame([], hit_schema)
         .write.mode("overwrite").parquet(seed))

    def admit(batch_df: DataFrame, epoch_id: int) -> None:
        bdf, mark = _files_to_ingest(batch_df, results_dir, epoch_id)
        if bdf is None:
            return
        docfp = (_span_windows(bdf, w)
                 .select("doc_id", "fp").distinct()
                 .localCheckpoint(eager=True))  # one fingerprint pass,
        # reused by three branches below (hits x2 + state append)
        old = spark.read.schema(state_schema).parquet(state_dir)
        # the self-pair guard makes the replay recompute STABLE: after a
        # crash that landed the state append but not mark(), this
        # batch's own fps are already in `old` with the batch keeper as
        # first_doc — without the guard the keeper flags itself
        hits_old = (docfp.join(old, "fp")
                    .select("doc_id", F.col("first_doc").alias("dup_of"))
                    .where(F.col("doc_id") != F.col("dup_of")))
        batch_first = (docfp.groupBy("fp")
                       .agg(F.min("doc_id").alias("first_doc")))
        new_fps = batch_first.join(old, "fp", "left_anti")
        hits_new = (docfp.join(new_fps, "fp")
                    .where(F.col("doc_id") != F.col("first_doc"))
                    .select("doc_id", F.col("first_doc").alias("dup_of")))
        (hits_old.unionByName(hits_new)
         .write.mode("overwrite")
         .parquet(os.path.join(results_dir, mark.ingest_key)))
        from vectordb_explorations_spark.sources.sinks import V1_COMMITTER
        (new_fps.write.mode("append").options(**V1_COMMITTER)
         .parquet(state_dir))
        mark()

    return (docs_stream.writeStream
            .foreachBatch(admit)
            .trigger(availableNow=True)
            .start())


def streaming_span_admission_stats(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Declared correctness pin for the streaming span-admission path:
    drain the fixture documents (one file → one micro-batch, so every
    keeper is the intra-batch min doc_id and the result is
    batch-derivable), then report per flagged doc its keeper and how
    many window fingerprints collided. The oracle recomputes the
    identical windowing via the shared span CTEs. The NEW x OLD
    cross-batch path (arrival-order keepers, persisted state) is pinned
    by tests/test_streaming.py's two-batch arrival test."""
    import tempfile

    from vectordb_explorations_spark.streaming.events import await_drained

    state = tempfile.mkdtemp(prefix="span_state_")
    results = tempfile.mkdtemp(prefix="span_hits_")
    q = span_admission_ingest(spark, read_documents_stream(spark, sf_dir),
                              state, results)
    await_drained(q)
    return (spark.read.schema("doc_id long, dup_of long")
            .option("recursiveFileLookup", "true").parquet(results)
            .groupBy("doc_id")
            .agg(F.min("dup_of").alias("dup_of"),
                 F.count(F.lit(1)).alias("n_fp_hits"))
            .orderBy("doc_id"))


def streaming_span_admission_oracle(w: int | None = None) -> str:
    from vectordb_explorations_spark.operators.dedup import (
        SUBSTRING_WINDOW, _span_windows_duck)
    w = SUBSTRING_WINDOW if w is None else w
    return f"""
WITH {_span_windows_duck(w).strip()},
docfp AS (SELECT DISTINCT doc_id, fp FROM wins),
firsts AS (SELECT fp, min(doc_id) AS first_doc
           FROM docfp GROUP BY fp),
d AS (SELECT b.doc_id, f.first_doc
      FROM docfp b JOIN firsts f USING (fp)
      WHERE b.doc_id > f.first_doc)
SELECT doc_id, min(first_doc) AS dup_of, count(*) AS n_fp_hits
FROM d GROUP BY doc_id ORDER BY doc_id
"""


def streaming_near_dedup_oracle(num_hashes: int = NUM_HASHES,
                                band_size: int = BAND_SIZE) -> str:
    from vectordb_explorations_spark.operators.dedup import _banding_base_ctes
    return f"""
WITH {_banding_base_ctes(num_hashes, band_size)},
firsts AS (SELECT band_idx, band_key, min(doc_id) AS first_doc
           FROM banded GROUP BY band_idx, band_key),
d AS (SELECT b.doc_id, f.first_doc
      FROM banded b JOIN firsts f USING (band_idx, band_key)
      WHERE b.doc_id > f.first_doc)
SELECT doc_id, min(first_doc) AS dup_of, count(*) AS n_band_hits
FROM d GROUP BY doc_id ORDER BY doc_id
"""


# ---- streaming perceptual admission (round 12; r13 declaration) ----

PERC_BAND_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("band_idx", T.IntegerType()),
    T.StructField("band_val", T.LongType()),
])


def perceptual_dup_stream(docs: DataFrame,
                          state_ttl_ms: int | None = None) -> DataFrame:
    """Online perceptual admission for the image column: the streaming
    twin of operators/perceptual.py's pair path, shaped exactly like
    near_dup_stream — synthesize the P6 payload per arriving doc,
    REAL-decode + dHash it in one Arrow pass (mapInPandas runs
    per-batch on a stream), split the 64 bits into four 16-bit band
    values, and remember the FIRST doc admitted per (band_idx,
    band_val): later arrivals sharing any band emit (doc_id, dup_of).
    A re-encoded or brightness-shifted re-upload hashes identically
    and is flagged on every band.

    State is ONE long per occupied band value — the first-seen state
    IS the hot-bucket guard here (a degenerate all-same-texture flood
    collides into existing keys instead of pairing quadratically);
    state_ttl_ms bounds growth exactly as near_dup_stream documents
    (sliding-window eviction)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from vectordb_explorations_spark.operators.perceptual import (
        _p6_assets, image_hashes)

    h = image_hashes(
        _p6_assets(docs).select(F.shiftright("asset_id", 1)
                                .alias("asset_id"), "payload")) \
        .withColumnRenamed("asset_id", "doc_id")
    bands = []
    for w in ("dh_w0", "dh_w1"):
        bands.append(F.shiftright(F.col(w), 16).bitwiseAND(F.lit(0xFFFF)))
        bands.append(F.col(w).bitwiseAND(F.lit(0xFFFF)))
    banded = h.select("doc_id",
                      F.posexplode(F.array(*bands)).alias("band_idx",
                                                          "band_val"))

    update = _first_seen_update(state_ttl_ms)

    return (banded.groupBy("band_idx", "band_val")
            .applyInPandasWithState(
                update,
                outputStructType=NEAR_DUP_SCHEMA,
                stateStructType=_BAND_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout
                             if state_ttl_ms is not None
                             else GroupStateTimeout.NoTimeout)))


def streaming_perceptual_dedup(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Declared correctness pin for the streaming perceptual path
    (r13 queue): drain the fixture documents (one file -> one
    micro-batch, so first-arrived == min doc_id and the result is
    batch-derivable) into a uniquely-named memory sink, then report
    per flagged doc its representative and how many bands collided.
    The oracle recomputes the image dHash banding from baked text
    positions."""
    import uuid

    from vectordb_explorations_spark.sources.catalog import (
        ensure_package_on_workers)
    from vectordb_explorations_spark.streaming.events import (
        await_drained, run_to_memory)

    ensure_package_on_workers(spark)
    name = f"spcd_{uuid.uuid4().hex[:12]}"
    q = run_to_memory(
        perceptual_dup_stream(read_documents_stream(spark, sf_dir)),
        name, "append")
    await_drained(q)
    return (spark.table(name)
            .groupBy("doc_id")
            .agg(F.min("dup_of").alias("dup_of"),
                 F.count(F.lit(1)).alias("n_band_hits"))
            .orderBy("doc_id"))


def streaming_perceptual_dedup_oracle() -> str:
    from vectordb_explorations_spark.operators.perceptual import (
        _band16_rows_sql, _img_hash_ctes)

    band_rows = _band16_rows_sql(["dh_w0", "dh_w1"], "h0", "doc_id")
    return f"""
WITH {_img_hash_ctes()},
banded AS ({band_rows}),
firsts AS (SELECT band_idx, band_val, min(doc_id) AS first_doc
           FROM banded GROUP BY band_idx, band_val),
flg AS (SELECT b.doc_id, f.first_doc
        FROM banded b JOIN firsts f USING (band_idx, band_val)
        WHERE b.doc_id > f.first_doc)
SELECT doc_id, min(first_doc) AS dup_of, count(*) AS n_band_hits
FROM flg GROUP BY doc_id ORDER BY doc_id
"""


# ---- KMV sketch maintenance on a stream (r14 continuation) -------------

_KMV_STATE_SCHEMA = T.StructType([
    T.StructField("ks", T.ArrayType(T.LongType())),
    T.StructField("n_seen", T.LongType()),
])

_KMV_OUT_SCHEMA = T.StructType([
    T.StructField("source", T.StringType()),
    T.StructField("version", T.LongType()),
    T.StructField("n_sk", T.IntegerType()),
    T.StructField("kth", T.LongType()),
    T.StructField("sketch_md5", T.StringType()),
    T.StructField("distinct_est", T.DoubleType()),
])


def kmv_stream(docs: DataFrame) -> DataFrame:
    """Per-source KMV sketch maintained as CUSTOM BOUNDED streaming
    state (``applyInPandasWithState`` keyed on source): the state is
    the k smallest distinct 60-bit shingle hashes seen so far — at
    most KMV_K longs per source regardless of stream volume — merged
    set-wise per micro-batch, so replays and out-of-order arrivals
    converge to the same sketch (k-smallest-of-union is commutative
    and idempotent, the KMV merge rule). Each update emits the
    current sketch summary with a monotone ``version`` (rows seen);
    the drained sink's max-version row per source IS the final
    sketch. Shingles ride the array-lambda form (_SHINGLES) — the
    batch path's window shape is forbidden on streams."""
    import hashlib
    import math

    import pandas as pd

    from pyspark.sql.streaming.state import (
        GroupState, GroupStateTimeout)
    from vectordb_explorations_spark.operators.dedup import (
        _SHINGLE_HASH, _SHINGLES)
    from vectordb_explorations_spark.operators.sketches import (
        _POW60, KMV_K)

    hashed = (docs
              .select("source", F.explode(F.expr(_SHINGLES)).alias("s"))
              .select("source", F.expr(_SHINGLE_HASH).alias("h")))

    def update(key, pdf_iter, state: GroupState):
        hs: set[int] = set()
        n_new = 0
        for pdf in pdf_iter:
            n_new += len(pdf)
            hs.update(int(x) for x in pdf["h"])
        if state.exists:
            ks, n_seen = state.get
            hs.update(int(x) for x in ks)
        else:
            n_seen = 0
        ks = sorted(hs)[:KMV_K]
        n_seen = int(n_seen) + n_new
        state.update((ks, n_seen))
        n_sk = len(ks)
        kth = ks[-1]
        est = (float(n_sk) if n_sk < KMV_K
               else (KMV_K - 1.0) * _POW60 / float(kth))
        yield pd.DataFrame({
            "source": [key[0]], "version": [n_seen], "n_sk": [n_sk],
            "kth": [kth],
            "sketch_md5": [hashlib.md5(
                "|".join(str(x) for x in ks).encode()).hexdigest()],
            "distinct_est": [
                math.floor(est * 1_000_000.0 + 0.5) / 1_000_000.0],
        })

    return (hashed.groupBy("source")
            .applyInPandasWithState(
                update,
                outputStructType=_KMV_OUT_SCHEMA,
                stateStructType=_KMV_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def streaming_kmv_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query (r14 continuation): the KMV distinct sketch
    maintained ONLINE — drain the per-source k-set state across
    micro-batches (availableNow), keep each source's max-version row,
    and the final sketch content (count, kth minimum, full-set md5)
    plus the derived distinct estimate equal the batch construction
    exactly, which the driver hash-checks against the same DuckDB
    CTEs the batch kmv_source_overlap oracle uses.

    Scale shape: state bounded at KMV_K longs x |sources|; the
    grouped shuffle carries narrow (source, h) rows. This is the
    third sketch family member on the streaming surface (HLL:
    register max; CMS: counter sum; KMV: bounded k-set merge — the
    one that needs CUSTOM state, which is exactly what it
    demonstrates)."""
    import uuid

    from pyspark.sql import Window

    from vectordb_explorations_spark.streaming.events import (
        await_drained, run_to_memory)

    name = f"skmv_{uuid.uuid4().hex[:12]}"
    stream = kmv_stream(read_documents_stream(spark, sf_dir))
    q = run_to_memory(stream, name, "update")
    await_drained(q)
    w = Window.partitionBy("source").orderBy(F.col("version").desc())
    return (spark.table(name)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("source", "n_sk", "kth", "sketch_md5",
                    "distinct_est")
            .orderBy("source"))


def streaming_kmv_monitor_oracle() -> str:
    from vectordb_explorations_spark.operators.dedup import (
        _SHINGLE_HASH_DUCK, _SHINGLES_DUCK)
    from vectordb_explorations_spark.operators.sketches import (
        _kmv_est_sql, KMV_K)
    from vectordb_explorations_spark.functions.rounding import r6

    return f"""
WITH raw AS (
  SELECT source, unnest({_SHINGLES_DUCK}) AS s FROM documents
), sh AS (
  SELECT DISTINCT source, {_SHINGLE_HASH_DUCK} AS h FROM raw
), sk AS (
  SELECT source, h FROM (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM sh) WHERE rn <= {KMV_K}
), per AS (
  SELECT source, CAST(count(*) AS INT) AS n_sk, max(h) AS kth,
         md5(string_agg(CAST(h AS VARCHAR), '|' ORDER BY h))
           AS sketch_md5
  FROM sk GROUP BY source
)
SELECT source, n_sk, kth, sketch_md5,
       {r6(_kmv_est_sql('n_sk', 'kth'))} AS distinct_est
FROM per ORDER BY source
"""
