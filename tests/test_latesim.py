"""MaxSim late-interaction retrieval: planted relevance (the doc holding
the query's verbatim phrases wins), the late-interaction property proper
(phrases split across DIFFERENT chunks still each contribute their own
chunk's max — a whole-doc single-vector average cannot), the exact-match
score ceiling, DuckDB oracle parity, and candidate-bounding semantics."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vectordb_explorations_spark.operators import latesim as LS  # noqa: E402
from vectordb_explorations_spark.sources.catalog import load_table  # noqa: E402


def _mk_docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long")


FILLER = ("row line value column part order group agg data big small "
          "the a customer supplier region nation " * 4).strip()


def test_planted_phrases_rank_first(spark):
    """A doc containing every query phrase verbatim beats filler docs."""
    queries = ((0, ("vector scan", "hash join", "merge sort")),)
    docs = _mk_docs(spark, [
        FILLER,
        FILLER + " vector scan " + FILLER + " hash join merge sort",
        FILLER.replace("row", "stream"),
        FILLER.replace("line", "spark"),
    ])
    out = LS.maxsim_chunk_topk(docs, queries=queries, top=4).collect()
    assert out[0]["doc_id"] == 1 and out[0]["rank"] == 1


def test_late_interaction_across_chunks(spark):
    """Each phrase sits in a DIFFERENT chunk of one long doc (chunks are
    CHUNK_WIN=32 tokens); per-term max-over-chunks picks each phrase's
    own chunk, so the doc still collects all three contributions. A doc
    with all phrases but also 10x the filler (diluting any single-vector
    representation) must NOT beat it by much — both score near ceiling."""
    queries = ((0, ("vector scan", "hash join", "merge sort")),)
    pad = "row line value column part order group agg " * 4  # 32 tokens
    spread = ("vector scan " + pad + " hash join " + pad + " merge sort")
    docs = _mk_docs(spark, [FILLER, spread, FILLER.replace("row", "join")])
    out = {r["doc_id"]: r["score"]
           for r in LS.maxsim_chunk_topk(docs, queries=queries,
                                         top=3).collect()}
    assert max(out, key=out.get) == 1
    # every term found a verbatim chunk somewhere: score near the 3.0
    # ceiling is not required (the chunk holding a phrase also holds
    # filler), but each term must contribute positively
    assert out[1] > out[0] + 0.3


def test_exact_chunk_is_score_ceiling(spark):
    """A doc that IS exactly one query phrase scores that term at 1.0
    (cos of identical directions); with one phrase only, total = 1.0 +
    the other terms' (small) best sims."""
    queries = ((0, ("vector scan", "hash join", "merge sort")),)
    docs = _mk_docs(spark, ["vector scan", FILLER])
    out = {r["doc_id"]: r["score"]
           for r in LS.maxsim_chunk_topk(docs, queries=queries,
                                         top=2).collect()}
    # doc 0 has ONLY the two phrase tokens: term 0 contributes exactly 1
    assert out[0] >= 1.0
    assert out[0] <= 3.0 + 1e-9


def test_negative_sims_clamp_to_zero(spark):
    """A term whose only shared-dim sims are negative contributes 0, not
    a penalty — scores are monotone in matched terms."""
    queries = ((0, ("vector scan",)),)
    docs = _mk_docs(spark, ["vector scan", "table filter window sort"])
    rows = LS.maxsim_chunk_topk(docs, queries=queries, top=2).collect()
    scores = {r["doc_id"]: r["score"] for r in rows}
    assert all(s >= 0.0 for s in scores.values())
    assert scores[0] == pytest.approx(1.0, abs=1e-6)


def test_candidate_bound_caps_rescoring(spark, sf_dir):
    """cand_per_term bounds which docs reach rescoring: with a tiny cap
    the result set can only shrink, and surviving docs keep the same
    score as the unbounded run (bounding selects docs, never alters a
    selected doc's score)."""
    docs = load_table(spark, "documents", sf_dir)
    wide = {(r["query_id"], r["doc_id"]): r["score"]
            for r in LS.maxsim_chunk_topk(docs, cand_per_term=500,
                                          top=5).collect()}
    tight = {(r["query_id"], r["doc_id"]): r["score"]
             for r in LS.maxsim_chunk_topk(docs, cand_per_term=3,
                                           top=5).collect()}
    assert set(tight) and set(wide)
    for key, score in tight.items():
        if key in wide:
            assert score == wide[key]


def test_oracle_parity(spark, sf_dir):
    from oracle_utils import compare
    docs = load_table(spark, "documents", sf_dir)
    ok, detail = compare(LS.maxsim_chunk_topk(docs),
                         LS.maxsim_chunk_topk_oracle(), sf_dir)
    assert ok, detail


def test_banded_maxsim_recall_and_score_fidelity(spark):
    """The ANN-prefiltered scale path is approximate in WHICH docs it
    scores, never in a scored doc's value: every (query, doc) it returns
    carries the exact path's score, and recall@top vs the exact MaxSim
    is gated (hyperplane banding over 64-dim hashed chunk embeddings;
    recall-gated per SURVEY §0 — never hash-declared)."""
    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, "documents", sf)
    exact = LS.maxsim_chunk_topk(docs, cand_per_term=10**6).collect()
    banded = LS.maxsim_chunk_topk_banded(docs).collect()
    ex_scores = {(r["query_id"], r["doc_id"]): r["score"] for r in exact}
    for r in banded:
        key = (r["query_id"], r["doc_id"])
        if key in ex_scores:
            assert r["score"] == ex_scores[key], key
    # recall of the exact top-10 per query
    from collections import defaultdict
    ex_top = defaultdict(set)
    for r in exact:
        ex_top[r["query_id"]].add(r["doc_id"])
    bd_top = defaultdict(set)
    for r in banded:
        bd_top[r["query_id"]].add(r["doc_id"])
    recalls = [len(ex_top[q] & bd_top[q]) / len(ex_top[q]) for q in ex_top]
    assert sum(recalls) / len(recalls) >= 0.7, recalls


def test_chunk_embeddings_are_unit_and_indexable(spark):
    """chunk_embeddings is the (id, vector) substrate for the ANN
    builders: unit-norm doubles, cid collision-free."""
    import math

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, "documents", sf)
    ce = LS.chunk_embeddings(docs)
    rows = ce.limit(50).collect()
    assert rows
    for r in rows:
        n = math.sqrt(sum(x * x for x in r["embedding"]))
        assert abs(n - 1.0) < 1e-9
        assert r["cid"] == r["doc_id"] * LS.CHUNK_ID_STRIDE + r["chunk_id"]
    assert ce.count() == ce.select("cid").distinct().count()


def test_persisted_substrate_matches_in_memory_banded(spark, tmp_path):
    """maxsim_banded_persisted serves from the persisted weights+index
    and must be bit-equal to the in-memory banded face (same planes,
    same candidates, same scorer); the index read must partition-prune
    to the term buckets."""
    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, "documents", sf)
    base = str(tmp_path / "maxsim_substrate")
    LS.maxsim_persist(docs, base)
    served = LS.maxsim_banded_persisted(spark, base)
    mem = LS.maxsim_chunk_topk_banded(docs)
    assert sorted(map(tuple, served.collect())) == \
        sorted(map(tuple, mem.collect()))
    # the bucket filter reaches the file listing (partition pruning) —
    # asserted on the LAZY candidate frame: the serve path
    # localCheckpoints it (the probe fed two semi-joins and executed
    # twice, r13), which hides the index scan from the serve plan
    cands = LS._persisted_candidates(spark, base, LS.MAXSIM_QUERIES)
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "table_id" in plan


def test_cand_per_term_auto_policy(spark, sf_dir):
    """cand_per_term='auto' (the LSH-cap / HNSW-fraction discipline):
    the resolver floors at the calibrated 200 and holds the 0.4%
    fraction past it; auto is bit-equal to the explicitly resolved int;
    a fixed int below the fraction warns, auto never does. Calibration:
    cap=50 recall vs unbounded MaxSim decayed 0.967 (5k docs) -> 0.600
    (50k docs); cap=200 held 1.000 at both."""
    import warnings

    docs = load_table(spark, "documents", sf_dir)
    assert LS.adaptive_cand_per_term(5_000) == 200
    assert LS.adaptive_cand_per_term(50_000) >= 200
    assert LS.adaptive_cand_per_term(1_000_000) == 4000
    n = docs.count()
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # auto never warns
        auto = LS.maxsim_chunk_topk(docs, corpus_n=n).collect()
    explicit = LS.maxsim_chunk_topk(
        docs, cand_per_term=LS.adaptive_cand_per_term(n),
        corpus_n=n).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, explicit))
    with pytest.warns(RuntimeWarning, match="cand_per_term='auto'"):
        LS.maxsim_chunk_topk(docs, cand_per_term=3, corpus_n=50_000)


def test_chunk_embeddings_feed_the_ann_families(spark):
    """chunk_embeddings' (cid, embedding) contract composes with the
    engine's index builders unchanged — multi-vector retrieval can ride
    ANY family, not just the hyperplane index: kmeans-sharded HNSW
    builds over chunks and a chunk queried by its own vector returns
    itself at distance 0."""
    from vectordb_explorations_spark.operators.hnsw import (
        hnsw_build, hnsw_search)

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, "documents", sf)
    ce = (LS.chunk_embeddings(docs)
          .select(F.col("cid").alias("vec_id"),
                  F.col("embedding").cast("array<float>").alias("embedding"))
          .cache())
    n = ce.count()
    assert n > 0
    idx = hnsw_build(ce, num_shards=4, shard_by="kmeans")
    probe = ce.limit(5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"))
    hits = hnsw_search(idx, probe, 3, probe_shards="auto").collect()
    top1 = {r["query_id"]: (r["vec_id"], r["dist"]) for r in hits
            if r["rank"] == 1}
    for qid, (vid, dist) in top1.items():
        assert dist == 0.0


def test_query_from_text_wrapper():
    qs = LS.maxsim_query_from_text(["Vector Scan hash JOIN merge",
                                    "one"])
    assert qs == ((0, ("vector scan", "hash join", "merge")),
                  (1, ("one",)))
    with pytest.raises(ValueError):
        LS.maxsim_query_from_text([""])


def test_streaming_substrate_append_matches_rebuild(spark, tmp_path):
    """The multi-vector lifecycle closes: build the substrate from the
    first half of the corpus, stream the second half in
    (maxsim_append_ingest), and serving from the appended substrate is
    bit-equal to a full rebuild over everything — seeded planes bucket
    appended chunks consistently, dynamic partition append touches only
    collided bucket dirs. A replay of the same files is a no-op."""
    from vectordb_explorations_spark.streaming.events import await_drained

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, "documents", sf)
    half = docs.agg(F.floor(F.max("doc_id") / 2)).first()[0]
    base = str(tmp_path / "sub_appended")
    LS.maxsim_persist(docs.where(F.col("doc_id") <= half), base)

    src = tmp_path / "new_docs"
    (docs.where(F.col("doc_id") > half).coalesce(1)
     .write.parquet(str(src / "batch.parquet")))

    def stream():
        return (spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src) + "/*.parquet"))

    await_drained(LS.maxsim_append_ingest(spark, stream(), base))
    served = sorted(map(tuple,
                        LS.maxsim_banded_persisted(spark, base).collect()))

    full = str(tmp_path / "sub_full")
    LS.maxsim_persist(docs, full)
    rebuilt = sorted(map(tuple,
                         LS.maxsim_banded_persisted(spark, full).collect()))
    assert served == rebuilt

    before = spark.read.parquet(f"{base}/weights").count()
    await_drained(LS.maxsim_append_ingest(spark, stream(), base))  # replay
    assert spark.read.parquet(f"{base}/weights").count() == before


def test_crash_window_replay_cannot_double_append_weights(spark, tmp_path):
    """The marker alone cannot close the crash window BETWEEN the weight/
    index writes and mark(): a replay of an unmarked-but-written file
    used to re-APPEND identical weight rows, doubling cssq/dot and
    silently inflating every affected chunk's served score by sqrt(2).
    The ingest_key dynamic partition OVERWRITE closes it — simulate the
    crash by deleting the markers after a drained ingest and replaying."""
    from vectordb_explorations_spark.streaming.events import await_drained

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, "documents", sf)
    half = docs.agg(F.floor(F.max("doc_id") / 2)).first()[0]
    base = str(tmp_path / "sub_crash")
    LS.maxsim_persist(docs.where(F.col("doc_id") <= half), base)

    src = tmp_path / "new_docs"
    (docs.where(F.col("doc_id") > half).coalesce(1)
     .write.parquet(str(src / "batch.parquet")))

    def stream():
        return (spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src) + "/*.parquet"))

    await_drained(LS.maxsim_append_ingest(spark, stream(), base))
    weights_before = spark.read.parquet(f"{base}/weights").count()
    served_before = sorted(map(tuple,
                               LS.maxsim_banded_persisted(spark,
                                                          base).collect()))

    # crash simulation: the data writes landed but mark() never ran
    import glob
    import os
    for marker in glob.glob(f"{base}/_epoch_*"):
        os.remove(marker)
    await_drained(LS.maxsim_append_ingest(spark, stream(), base))

    assert spark.read.parquet(f"{base}/weights").count() == weights_before
    served_after = sorted(map(tuple,
                              LS.maxsim_banded_persisted(spark,
                                                         base).collect()))
    assert served_after == served_before


def test_append_crash_serves_raise_until_replay(spark, sf_dir, tmp_path,
                                                monkeypatch):
    """Crash injection inside an append batch, after the weights write
    and before the index write: the sidecar stays ``building``, so a
    serve raises instead of scoring against a half-appended substrate.
    The marker replay (mark() never ran) completes the batch and flips
    the sidecar to ``ready``; serving then equals a full rebuild."""
    from pyspark.sql import DataFrameWriter

    from vectordb_explorations_spark.sources import substrate
    from vectordb_explorations_spark.streaming.events import await_drained

    docs = load_table(spark, "documents", sf_dir)
    half = docs.agg(F.floor(F.max("doc_id") / 2)).first()[0]
    base = str(tmp_path / "sub_crash_replay")
    LS.maxsim_persist(docs.where(F.col("doc_id") <= half), base)

    src = tmp_path / "new_docs"
    (docs.where(F.col("doc_id") > half).coalesce(1)
     .write.parquet(str(src / "batch.parquet")))

    def stream():
        return (spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src) + "/*.parquet"))

    real_parquet = DataFrameWriter.parquet

    def crash_on_index(self, path, *args, **kwargs):
        if str(path).endswith("/index"):
            raise RuntimeError("injected crash before the index write")
        return real_parquet(self, path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", crash_on_index)
        with pytest.raises(Exception, match="injected crash"):
            await_drained(LS.maxsim_append_ingest(spark, stream(), base))
    with pytest.raises(substrate.SubstrateMetaError, match="building"):
        LS.maxsim_banded_persisted(spark, base)

    await_drained(LS.maxsim_append_ingest(spark, stream(), base))
    assert substrate.read_meta(spark, base, "test")["state"] == "ready"
    served = sorted(map(tuple,
                        LS.maxsim_banded_persisted(spark, base).collect()))
    full = str(tmp_path / "sub_crash_full")
    LS.maxsim_persist(docs, full)
    assert served == sorted(map(
        tuple, LS.maxsim_banded_persisted(spark, full).collect()))


def test_maxsim_delete_docs_serves_filtered_corpus(spark, tmp_path):
    """Erasure on the MaxSim substrate: after deleting a doc that the
    persisted face returned, serving is BIT-EQUAL to the in-memory
    banded face over the corpus without that doc, and untouched index
    bucket directories keep their exact files."""
    import os

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, "documents", sf)
    base = str(tmp_path / "maxsim_del")
    LS.maxsim_persist(docs, base)

    served = LS.maxsim_banded_persisted(spark, base)
    victim = int(served.orderBy("query_id", "rank").first()["doc_id"])

    def dir_state(p):
        return {os.path.join(r, f): os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(p) for f in fs
                if f.endswith(".parquet")}

    before = dir_state(f"{base}/index")
    from pyspark.sql import functions as F
    idx = spark.read.parquet(f"{base}/index")
    victim_dirs = {(r["table_id"], r["bucket"]) for r in
                   idx.where(F.expr(
                       f"CAST(floor(cid / {LS.CHUNK_ID_STRIDE}) AS BIGINT)"
                       f" = {victim}"))
                   .select("table_id", "bucket").distinct().collect()}

    n = LS.maxsim_delete_docs(spark, base, [victim])
    assert n > 0

    after_served = LS.maxsim_banded_persisted(spark, base)
    mem = LS.maxsim_chunk_topk_banded(
        docs.where(F.col("doc_id") != victim))
    assert sorted(map(tuple, after_served.collect())) == \
        sorted(map(tuple, mem.collect()))
    assert victim not in {r["doc_id"] for r in after_served.collect()}

    after = dir_state(f"{base}/index")
    for fp, sz in before.items():
        t = int(fp.split("table_id=")[1].split(os.sep)[0])
        b = int(fp.split("bucket=")[1].split(os.sep)[0])
        if (t, b) not in victim_dirs:
            assert fp in after and after[fp] == sz, fp
