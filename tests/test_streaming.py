"""Structured Streaming: fixture replay must agree with the batch twins."""

import tempfile

import pytest

from vectordb_explorations_spark.operators.relational import events_hourly
from vectordb_explorations_spark.sources import load_table
from vectordb_explorations_spark.streaming import events as SE


@pytest.fixture(scope="module")
def stream(spark, sf_dir):
    return SE.read_events_stream(spark, sf_dir)


def _await_stateful_drain(q, min_input_rows: int, extra_batches: int = 1,
                          cap_s: int = 120) -> None:
    """Await a ProcessingTimeTimeout stateful stream: under
    trigger(availableNow) such a query NEVER terminates on its own (the
    engine keeps scheduling empty batches to fire pending state
    timeouts), so a plain awaitTermination(cap) burns the whole cap —
    the two TTL tests were 123 s EACH of pure waiting (r15 suite
    profile). Poll progress instead: once every input row has been
    processed AND ``extra_batches`` further (timeout-firing) batches
    have run, stop the query. Falls through at ``cap_s`` to the same
    read-the-sink behavior as before, so this can only be faster,
    never flakier."""
    import time

    t0 = time.time()
    while time.time() - t0 < cap_s:
        if q.awaitTermination(1):
            return
        progs = [p if isinstance(p, dict) else p.asDict()
                 for p in q.recentProgress]
        n_in = [int(p["numInputRows"]) for p in progs]
        if sum(n_in) >= min_input_rows:
            last_input = max(i for i, n in enumerate(n_in) if n > 0)
            if len(n_in) - 1 - last_input >= extra_batches:
                q.stop()
                return
    q.stop()


def test_hourly_stream_equals_batch(spark, sf_dir, stream):
    q = SE.run_to_memory(SE.hourly_counts_stream(stream), "t_hourly", "complete")
    q.awaitTermination(300)
    got = sorted(tuple(r) for r in spark.sql(
        "SELECT hour_epoch, event_type, n_events, sum_value FROM t_hourly").collect())
    want = sorted(tuple(r) for r in events_hourly(
        load_table(spark, "events", sf_dir))
        .select("hour_epoch", "event_type", "n_events", "sum_value").collect())
    assert got == want


def test_streaming_dedup_keeps_distinct(spark, sf_dir, stream):
    q = SE.run_to_memory(SE.streaming_dedup(stream), "t_dedup", "append")
    q.awaitTermination(300)
    n = spark.sql("SELECT count(DISTINCT event_id) c FROM t_dedup").first().c
    assert n == load_table(spark, "events", sf_dir).count()


def test_session_stream_runs(spark, sf_dir, stream):
    q = SE.run_to_memory(SE.session_stream(stream), "t_sess", "complete")
    q.awaitTermination(300)
    assert spark.sql("SELECT count(*) c FROM t_sess").first().c > 0


def test_sliding_stream_runs(spark, sf_dir, stream):
    q = SE.run_to_memory(SE.sliding_value_stream(stream), "t_slide", "complete")
    q.awaitTermination(300)
    # each event lands in exactly 2 sliding windows (1h window, 30m slide)
    total = spark.sql("SELECT sum(n_events) s FROM t_slide").first().s
    assert total == 2 * load_table(spark, "events", sf_dir).count()


def test_incremental_index_refresh(spark, sf_dir):
    with tempfile.TemporaryDirectory() as d:
        q = SE.incremental_index_refresh(spark, sf_dir, d)
        q.awaitTermination(300)
        idx = spark.read.option("recursiveFileLookup", "true").parquet(d)
        n_emb = load_table(spark, "embeddings", sf_dir).count()
        assert idx.count() == n_emb * 8  # default num_tables
        assert set(idx.columns) == {"vec_id", "table_id", "bucket", "epoch"}


def test_stateful_user_totals_equals_batch(spark, sf_dir, stream):
    from pyspark.sql import functions as F
    q = SE.run_to_memory(SE.user_running_totals_stream(stream),
                         "t_user_totals", "update")
    q.awaitTermination(300)
    # The fixture is one parquet file → one micro-batch → exactly one
    # update row per user, which must equal the batch aggregate.
    got = {r["user_id"]: (r["n_events"], round(r["sum_value"], 6),
                          round(r["max_value"], 6))
           for r in spark.sql("SELECT * FROM t_user_totals").collect()}
    batch = {r["user_id"]: (r["n"], round(r["s"], 6), round(r["m"], 6))
             for r in (load_table(spark, "events", sf_dir)
                       .groupBy("user_id")
                       .agg(F.count(F.lit(1)).alias("n"),
                            F.sum("value").alias("s"),
                            F.max("value").alias("m"))).collect()}
    assert got == batch


def test_stream_stream_join_equals_batch(spark, sf_dir, stream):
    from pyspark.sql import functions as F
    q = SE.run_to_memory(SE.purchase_click_stream_join(stream),
                         "t_ss_join", "append")
    q.awaitTermination(300)
    got = sorted(tuple(r) for r in spark.sql(
        "SELECT user_id, purchase_id, click_id, purchase_us, click_us "
        "FROM t_ss_join").collect())
    ev = load_table(spark, "events", sf_dir)
    c = ev.where("event_type = 'click'").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("click_us"))
    p = ev.where("event_type = 'purchase'").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("purchase_us"))
    batch = (p.join(c, (p.user_id == c.cu)
                    & (c.click_us < p.purchase_us)
                    & (c.click_us >= p.purchase_us - 30 * 60 * 1_000_000))
             .select("user_id", "purchase_id", "click_id",
                     "purchase_us", "click_us"))
    assert got == sorted(tuple(r) for r in batch.collect())
    assert len(got) > 0


def test_sliding_stream_equals_batch_twin(spark, sf_dir, stream):
    from pyspark.sql import functions as F
    q = SE.run_to_memory(SE.sliding_value_stream(stream),
                         "t_slide_eq", "complete")
    q.awaitTermination(300)
    got = sorted(tuple(r) for r in spark.sql(
        "SELECT * FROM t_slide_eq").collect())
    batch = (load_table(spark, "events", sf_dir)
             .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.round(F.avg("value"), 6).alias("avg_value"))
             .select(F.unix_timestamp(F.col("win.start")).alias("win_start_epoch"),
                     "n_events", "avg_value"))
    assert got == sorted(tuple(r) for r in batch.collect())


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Restarting a checkpointed file-source stream processes ONLY files
    that arrived since the last drain: the parquet sink ends with exactly
    old+new rows — the exactly-once recovery contract a production
    pipeline relies on."""
    import os
    import shutil

    from vectordb_explorations_spark.sources.catalog import (
        _normalize_events_ts)

    src = tmp_path / "src"
    src.mkdir()
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    fixture = os.path.join(sf_dir, "events.parquet")
    shutil.copy(fixture, src / "e1.parquet")
    schema = SE._events_raw_schema(spark, sf_dir)

    def drain():
        df = _normalize_events_ts(
            spark.readStream.schema(schema).parquet(str(src)))
        q = (df.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)

    n_events = spark.read.parquet(fixture).count()
    drain()
    assert spark.read.parquet(out).count() == n_events
    shutil.copy(fixture, src / "e2.parquet")
    drain()  # restart from the checkpoint: only e2 is new
    assert spark.read.parquet(out).count() == 2 * n_events


def test_streaming_near_dedup_cross_batch_state(spark, tmp_path):
    """Arrival order is the dedup semantic: a doc arriving in batch 2 is
    flagged against batch 1's representative even when its doc_id is
    SMALLER — the band state must survive across micro-batches."""
    import os
    import time
    import uuid

    from vectordb_explorations_spark.streaming.documents import (
        near_dup_stream, read_documents_stream)
    from vectordb_explorations_spark.streaming.events import run_to_memory

    text = "the quick brown fox jumps over the lazy dog again and again"
    batch1 = [(100, text, "en", "web", len(text))]
    batch2 = [(5, text, "en", "web", len(text)),
              (200, "completely unrelated words with no shared shingles at all",
               "en", "web", 55)]
    d = tmp_path / "docs_stream"
    d.mkdir()
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(d / "b1.parquet"))
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(d / "b2.parquet"))
    # the file source processes oldest-modified first; pin the order
    now = time.time()
    for i, sub in enumerate(("b1.parquet", "b2.parquet")):
        for root, _, files in os.walk(d / sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + i * 10, now + i * 10))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(d) + "/*.parquet"))
    name = f"sndd_test_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(near_dup_stream(stream), name, "append")
    q.awaitTermination(120)
    rows = {(r.doc_id, r.dup_of) for r in spark.table(name).collect()}
    # doc 5 arrived after doc 100 → flagged against 100 (in every band);
    # doc 200 shares nothing → never flagged; doc 100 is the first → clean
    assert (5, 100) in rows
    assert all(did != 200 and did != 100 for did, _ in rows)


def test_minhash_stateless_matches_batch(spark, sf_dir):
    """The streaming-safe array-lambda signature formulation must be
    bit-identical to the batch explode+window path (it feeds the same
    banding keys)."""
    from vectordb_explorations_spark.operators.dedup import (
        minhash_signatures, minhash_signatures_stateless)
    from vectordb_explorations_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir)
    a = {r["doc_id"]: tuple(r)[1:] for r in minhash_signatures(docs).collect()}
    b = {r["doc_id"]: tuple(r)[1:]
         for r in minhash_signatures_stateless(docs).collect()}
    assert a == b


def test_watermark_drops_late_event(spark, tmp_path):
    """Late-data semantics of the watermark (previously untested): an
    event arriving BELOW the late-events watermark is dropped; a late
    event still ABOVE it updates its open window's aggregate. Spark
    >= 3.4 admits late rows against the PREVIOUS micro-batch's eviction
    watermark, so the drop manifests two batches after the advance.
    Four single-file micro-batches (controlled mtimes):

      batch 0: H0 x2, H1 x1, H6 x1   (max H6)
      batch 1: H9                    eviction wm H4 -> emits H0=2, H1=1
      batch 2: H1:30 value=100 (win end H2 <= late-wm H4 -> DROPPED),
               H5:30 (win end H6 > H4 -> accepted)
                                     eviction wm H7 -> emits H5=1, H6=1
      batch 3: H12                   then the trailing empty commit
                                     batch applies eviction wm H10 and
                                     finalizes H9

    If the beyond-watermark row were wrongly admitted, H1 would re-emit
    a second append row carrying value 100.
    """
    import os as _os

    src = tmp_path / "late_src"
    src.mkdir()
    H = 3600
    batches = [
        [(10, 1.0), (20 * 60, 1.0), (H + 15 * 60, 1.0), (6 * H, 1.0)],
        [(9 * H, 1.0)],
        [(H + 30 * 60, 100.0), (5 * H + 30 * 60, 1.0)],
        [(12 * H, 1.0)],
    ]
    for i, rows in enumerate(batches):
        stage = tmp_path / f"stage{i}"
        (spark.createDataFrame(
            [(int(ts), "click", float(v)) for ts, v in rows],
            "epoch long, event_type string, value double")
         .selectExpr("timestamp_seconds(epoch) AS ts", "event_type", "value")
         .coalesce(1).write.parquet(str(stage)))
        part = next(p for p in stage.iterdir() if p.name.endswith(".parquet"))
        dst = src / f"batch_{i}.parquet"
        part.rename(dst)
        _os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))

    stream = (spark.readStream
              .schema("ts timestamp, event_type string, value double")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src)))
    from vectordb_explorations_spark.streaming import events as SE2
    q = SE2.run_to_memory(SE2.hourly_counts_stream(stream), "t_late",
                          "append")
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM t_late").collect()
    got = {r["hour_epoch"]: (r["n_events"], r["sum_value"]) for r in rows}
    assert len(rows) == 5, rows          # one append row per finalized window
    assert got[0 * H] == (2, 2.0)
    assert got[1 * H] == (1, 1.0), "beyond-watermark late row must be dropped"
    assert got[5 * H] == (1, 1.0), "in-window late row must be aggregated"
    assert got[6 * H] == (1, 1.0)
    assert got[9 * H] == (1, 1.0)        # finalized by the trailing commit
    assert 12 * H not in got             # never finalized


def test_incremental_ivf_ingest_matches_batch_assignment(spark, sf_dir,
                                                         tmp_path):
    """Streaming IVF ingest: draining the embeddings stream through
    foreachBatch ivf_append_partitioned must leave the layout equal to
    the batch assignment with the same frozen centroids, and probes
    must match ivf_search over that assignment bit for bit."""
    from vectordb_explorations_spark.operators.ann import (
        ivf_assign, ivf_build, ivf_probe_partitioned, ivf_search)
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources import load_table
    from vectordb_explorations_spark.streaming.events import (
        incremental_ivf_ingest)

    emb = load_table(spark, "embeddings", sf_dir)
    _, cents = ivf_build(emb, num_centroids=8)
    path = str(tmp_path / "ivf_stream")
    q = incremental_ivf_ingest(spark, sf_dir, path, cents)
    q.awaitTermination(300)

    layout = spark.read.parquet(path)
    batch = ivf_assign(emb, cents)
    a = sorted(map(tuple, layout.select("vec_id", "list_id").collect()))
    b = sorted(map(tuple, batch.select("vec_id", "list_id").collect()))
    assert a == b and a

    queries = sample_queries(emb, 5).cache()
    served = ivf_probe_partitioned(spark, path, cents, queries, 5, nprobe=3)
    mem = ivf_search(batch, cents, queries, 5, nprobe=3)
    assert sorted(map(tuple, served.collect())) == \
        sorted(map(tuple, mem.collect()))


def test_near_dedup_state_ttl_evicts_idle_bands(spark, tmp_path):
    """r7 verdict item 6: with state_ttl_ms set, a band idle past the TTL
    is evicted (ProcessingTimeTimeout) — a later collider is re-admitted
    as a fresh representative instead of being flagged against state that
    would otherwise never die. Batch 2 (unrelated doc) is what triggers
    timeout processing for batch 1's expired keys; batch 3's collider
    must then arrive clean."""
    import os
    import time
    import uuid

    from vectordb_explorations_spark.streaming.documents import (
        near_dup_stream)
    from vectordb_explorations_spark.streaming.events import run_to_memory

    text = "the quick brown fox jumps over the lazy dog again and again"
    other = "completely unrelated words with no shared shingles at all"
    batches = [
        [(100, text, "en", "web", len(text))],
        [(200, other, "en", "web", len(other))],
        [(5, text, "en", "web", len(text))],
    ]
    d = tmp_path / "docs_ttl_stream"
    d.mkdir()
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    now = time.time()
    for i, rows in enumerate(batches):
        sub = d / f"b{i}.parquet"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(sub))
        for root, _, files in os.walk(sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + i * 10, now + i * 10))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(d) + "/*.parquet"))
    name = f"snddttl_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(near_dup_stream(stream, state_ttl_ms=1), name, "append")
    _await_stateful_drain(q, min_input_rows=3)
    rows = {(r.doc_id, r.dup_of) for r in spark.table(name).collect()}
    # doc 100's bands expired (1ms TTL) before batch 3 ran, so doc 5 is a
    # fresh representative, NOT flagged — the opposite of the NoTimeout
    # cross-batch test above
    assert not rows, rows


def test_near_dedup_ttl_keeps_live_bands(spark, tmp_path):
    """The sliding-window half of the TTL semantics: with a generous TTL
    nothing times out between back-to-back micro-batches, so the flags
    equal the NoTimeout path."""
    import os
    import time
    import uuid

    from vectordb_explorations_spark.streaming.documents import (
        near_dup_stream)
    from vectordb_explorations_spark.streaming.events import run_to_memory

    text = "the quick brown fox jumps over the lazy dog again and again"
    d = tmp_path / "docs_ttl_live"
    d.mkdir()
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    now = time.time()
    for i, rows in enumerate([[(100, text, "en", "web", len(text))],
                              [(5, text, "en", "web", len(text))]]):
        sub = d / f"b{i}.parquet"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(sub))
        for root, _, files in os.walk(sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + i * 10, now + i * 10))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(d) + "/*.parquet"))
    name = f"snddlive_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(near_dup_stream(stream, state_ttl_ms=3_600_000),
                      name, "append")
    _await_stateful_drain(q, min_input_rows=2)
    rows = {(r.doc_id, r.dup_of) for r in spark.table(name).collect()}
    assert (5, 100) in rows


def test_incremental_ivfpq_ingest_matches_batch_encode(spark, sf_dir,
                                                       tmp_path):
    """Streaming IVF-PQ ingest: draining the embeddings stream through
    foreachBatch ivfpq_append_partitioned must leave codes equal to the
    batch encode with the same frozen centroids/codebooks, keep the
    sidecar corpus count at N, and serve probes that match ivfpq_search
    over those codes bit for bit."""
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.operators.pq import (
        ivfpq_build, ivfpq_probe_partitioned, ivfpq_search)
    from vectordb_explorations_spark.sources.substrate import read_rows
    from vectordb_explorations_spark.sources import load_table
    from vectordb_explorations_spark.streaming.events import (
        incremental_ivfpq_ingest)

    emb = load_table(spark, "embeddings", sf_dir)
    codes, cents, books = ivfpq_build(emb, num_centroids=8,
                                      m_subspaces=8, k_codes=16)
    codes = codes.cache()
    path = str(tmp_path / "ivfpq_stream")
    q = incremental_ivfpq_ingest(spark, sf_dir, path, cents, books)
    q.awaitTermination(300)

    layout = spark.read.parquet(path)
    a = sorted((int(r[0]), int(r[1]), tuple(r[2])) for r in
               layout.select("vec_id", "list_id", "codes").collect())
    b = sorted((int(r[0]), int(r[1]), tuple(r[2])) for r in
               codes.select("vec_id", "list_id", "codes").collect())
    assert a == b and a
    assert read_rows(spark, path) == emb.count()

    queries = sample_queries(emb, 5).cache()
    served = ivfpq_probe_partitioned(spark, path, cents, books, queries, 5,
                                     nprobe=3, refine_with=emb,
                                     refine_factor=4)
    mem = ivfpq_search(codes, cents, books, queries, 5, nprobe=3,
                       refine_with=emb, refine_factor=4)
    assert sorted(map(tuple, served.collect())) == \
        sorted(map(tuple, mem.collect()))
    codes.unpersist()


def test_ingest_replay_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: re-running the ingest stream over
    the same source (same epoch ids, no checkpoint) must be a no-op —
    the epoch markers make replays skip, so the layout's rows AND the
    sidecar corpus count are unchanged by the second run."""
    from vectordb_explorations_spark.operators.pq import ivfpq_build
    from vectordb_explorations_spark.sources.substrate import read_rows
    from vectordb_explorations_spark.sources import load_table
    from vectordb_explorations_spark.streaming.events import (
        incremental_ivfpq_ingest)

    emb = load_table(spark, "embeddings", sf_dir)
    _, cents, books = ivfpq_build(emb, num_centroids=8, m_subspaces=8,
                                  k_codes=16)
    path = str(tmp_path / "ivfpq_replay")
    q = incremental_ivfpq_ingest(spark, sf_dir, path, cents, books)
    q.awaitTermination(300)
    rows1 = spark.read.parquet(path).count()
    meta1 = read_rows(spark, path)

    q2 = incremental_ivfpq_ingest(spark, sf_dir, path, cents, books)
    q2.awaitTermination(300)
    assert spark.read.parquet(path).count() == rows1
    assert read_rows(spark, path) == meta1 == emb.count()


def test_batch_key_is_content_keyed(spark, tmp_path):
    """Epoch markers are keyed by the batch's SOURCE FILES, not the epoch
    counter: the same files give the same key at any epoch id (replays
    skip), and a NEW file gives a new key even if a fresh run reuses an
    already-marked epoch id (the silently-dropped-batch ADVICE hazard)."""
    from vectordb_explorations_spark.streaming.events import (
        _batch_key, _epoch_applied, _mark_epoch)

    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(10).write.parquet(pa)
    spark.range(20).write.parquet(pb)
    dfa, dfb = spark.read.parquet(pa), spark.read.parquet(pb)

    ka0, ka7 = _batch_key(dfa, 0), _batch_key(dfa, 7)
    kb0 = _batch_key(dfb, 0)
    assert ka0 == ka7          # counter-independent: replay/restart safe
    assert ka0 != kb0          # different files never collide on epoch id

    idx = str(tmp_path / "idx")
    _mark_epoch(idx, ka0)
    assert _epoch_applied(idx, ka0)
    assert not _epoch_applied(idx, kb0)  # new file at old epoch id ingests


def test_span_admission_cross_batch_and_replay(spark, tmp_path):
    """Streaming span-dedup admission (the exact-substring family's
    streaming twin): (1) arrival order is the keeper semantic — a doc
    arriving in batch 2 with a verbatim 20-token span from batch 1 is
    flagged against the EARLIER doc even when its doc_id is smaller;
    (2) a doc sharing no window fingerprint is never flagged; (3) a
    checkpoint-less replay of the same source files is a no-op (epoch
    markers are content-keyed), so the persisted results do not inflate."""
    import os
    import time

    from vectordb_explorations_spark.streaming.documents import (
        span_admission_ingest)
    from vectordb_explorations_spark.streaming.events import await_drained

    span = " ".join(f"tok{i}" for i in range(24))          # > w=20 tokens
    other = " ".join(f"zzz{i}" for i in range(24))
    batch1 = [(100, "lead in words " + span, "en", "web", 1)]
    batch2 = [(5, span + " trailing words here", "en", "web", 1),
              (200, other, "en", "web", 1)]
    d = tmp_path / "span_stream"
    d.mkdir()
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(d / "b1.parquet"))
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(d / "b2.parquet"))
    now = time.time()
    for i, sub in enumerate(("b1.parquet", "b2.parquet")):
        for root, _, files in os.walk(d / sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + i * 10, now + i * 10))

    def stream():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(d) + "/*.parquet"))

    state, results = str(tmp_path / "state"), str(tmp_path / "hits")

    def read_hits():
        return (spark.read.schema("doc_id long, dup_of long")
                .option("recursiveFileLookup", "true").parquet(results))

    await_drained(span_admission_ingest(spark, stream(), state, results))
    rows = [(r.doc_id, r.dup_of) for r in read_hits().collect()]
    # doc 5 arrived after doc 100 → every shared window fp flags it
    # against 100; doc 200 shares nothing; doc 100 is the keeper → clean
    assert rows and set(r[0] for r in rows) == {5}
    assert all(r == (5, 100) for r in rows)
    # 5 shares exactly the span's 5 windows (24-token doc, w=20)
    assert len(rows) == 5

    # replay: same files, fresh stream, same dirs → markers absorb it
    await_drained(span_admission_ingest(spark, stream(), state, results))
    assert read_hits().count() == len(rows)

    # crash-window replay: the hits and state landed but mark() never
    # ran — the per-ingest overwrite must REPLACE rows (not re-append)
    # and the self-pair guard must keep keepers from flagging
    # themselves against their own just-persisted fingerprints
    import glob

    for marker in glob.glob(os.path.join(results, "_epoch_*")):
        os.remove(marker)
    await_drained(span_admission_ingest(spark, stream(), state, results))
    after = [(r.doc_id, r.dup_of) for r in read_hits().collect()]
    assert sorted(after) == sorted(rows)


def test_multi_file_batch_regrouping_is_per_file_idempotent(spark, tmp_path):
    """The r10 ADVICE hazard: a checkpoint-less restart that regroups an
    already-ingested file WITH a new file into one batch must ingest
    only the new file's rows — per-file markers, not a whole-set key."""
    from vectordb_explorations_spark.streaming.events import (
        _files_to_ingest)

    pa, pb = str(tmp_path / "fa"), str(tmp_path / "fb")
    spark.range(0, 10).coalesce(1).write.parquet(pa)
    spark.range(100, 105).coalesce(1).write.parquet(pb)
    idx = str(tmp_path / "idx")

    # run 1: a batch of file A alone — ingested and marked
    df_a = spark.read.parquet(pa)
    d1, mark1 = _files_to_ingest(df_a, idx, 0)
    assert d1 is not None and d1.count() == 10
    mark1()

    # "restart": files regrouped — A (already applied) + B in ONE batch
    both = spark.read.parquet(pa, pb)
    d2, mark2 = _files_to_ingest(both, idx, 0)
    assert d2 is not None
    ids = sorted(r[0] for r in d2.collect())
    assert ids == list(range(100, 105)), (
        f"already-marked file A leaked back into the batch: {ids}")
    mark2()

    # full replay of the regrouped batch: everything marked -> no-op
    d3, _ = _files_to_ingest(spark.read.parquet(pa, pb), idx, 3)
    assert d3 is None


def test_index_refresh_crash_window_replay_is_exact(spark, sf_dir):
    """The per-ingest overwrite discipline on the LSH refresh sink: a
    replay of a written-but-unmarked batch must REPLACE its rows (a
    duplicated index row would put the same vec_id into a top-k twice)."""
    import glob
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        SE.incremental_index_refresh(spark, sf_dir, d).awaitTermination(300)
        read = lambda: (spark.read  # noqa: E731
                        .option("recursiveFileLookup", "true").parquet(d))
        before = read().count()
        for marker in glob.glob(os.path.join(d, "_epoch_*")):
            os.remove(marker)
        SE.incremental_index_refresh(spark, sf_dir, d).awaitTermination(300)
        assert read().count() == before


def test_streaming_perceptual_cross_batch_state(spark, tmp_path):
    """The perceptual admission twin of the near-dedup cross-batch
    test: a RE-UPLOAD arriving in batch 2 (identical image content,
    smaller doc_id) is flagged against batch 1's representative on
    every dHash band; unrelated content is never flagged."""
    import os
    import time
    import uuid

    import numpy as np

    from vectordb_explorations_spark.streaming.documents import (
        perceptual_dup_stream)
    from vectordb_explorations_spark.streaming.events import run_to_memory

    rng = np.random.default_rng(61)
    vocab = ["alpha", "bridge", "copper", "delta", "ember", "flint"]
    mk = lambda: " ".join(vocab[i] for i in rng.integers(0, 6, size=60))
    same, other = mk(), mk()
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    d = tmp_path / "pdocs_stream"
    d.mkdir()
    spark.createDataFrame([(100, same, "en", "web", len(same))], schema) \
        .coalesce(1).write.parquet(str(d / "b1.parquet"))
    spark.createDataFrame([(5, same, "en", "web", len(same)),
                           (200, other, "en", "web", len(other))], schema) \
        .coalesce(1).write.parquet(str(d / "b2.parquet"))
    now = time.time()
    for i, sub in enumerate(("b1.parquet", "b2.parquet")):
        for root, _, files in os.walk(d / sub):
            for f in files:
                os.utime(os.path.join(root, f), (now + i * 10, now + i * 10))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(d) + "/*.parquet"))
    name = f"spcd_test_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(perceptual_dup_stream(stream), name, "append")
    q.awaitTermination(120)
    rows = {(r.doc_id, r.dup_of) for r in spark.table(name).collect()}
    assert (5, 100) in rows
    assert all(did != 100 for did, _ in rows)
    assert sum(1 for did, _ in rows if did == 5) == 1  # set of 4 bands -> one distinct pair
