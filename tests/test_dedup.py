"""Dedup-operator semantics beyond the oracle hash (which tests parity, not
meaning): planted near-dups are found, blocking is sound."""

import pytest
from pyspark.sql import functions as F

from vectordb_explorations_spark.operators import dedup as D
from vectordb_explorations_spark.sources import load_table


def test_exact_dedup_covers_all_docs(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    groups = D.exact_dedup(docs)
    assert groups.agg(F.sum("n_copies")).first()[0] == docs.count()


def test_minhash_finds_planted_near_dups(spark, sf_dir):
    """Every high-Jaccard pair found by exhaustive blocked search must also
    be surfaced by the MinHash-LSH banding path (prob. of missing a ≥0.95
    pair with 4 bands of 3 is < 1e-3)."""
    docs = load_table(spark, "documents", sf_dir)
    exhaustive = {(r.doc_id_a, r.doc_id_b)
                  for r in D.ngram_jaccard_pairs(docs, threshold=0.95).collect()}
    lsh = {(r.doc_id_a, r.doc_id_b)
           for r in D.minhash_lsh_pairs(docs, threshold=0.95).collect()}
    assert exhaustive, "fixture should contain planted near-duplicates"
    assert exhaustive <= lsh


def test_simhash_near_dups_collide(spark, sf_dir):
    """Planted near-dup pairs should have close SimHashes (Hamming <= 4)."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.95).collect()
    sims = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    for p in pairs:
        ham = bin(sims[p.doc_id_a] ^ sims[p.doc_id_b]).count("1")
        assert ham <= 4, (p.doc_id_a, p.doc_id_b, ham)


def test_cosine_pairs_symmetric_bound(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    pairs = D.embedding_cosine_pairs(emb, threshold=0.3)
    rows = pairs.collect()
    assert all(-1.0 <= r.cosine <= 1.0 for r in rows)
    assert all(r.vec_id_a < r.vec_id_b for r in rows)


def test_min_label_propagation_chain(spark):
    # chain 1-2, 2-3, 3-4 plus singleton 9: all chain members -> root 1,
    # even though 4 is three hops from 1 (needs multiple iterations).
    from vectordb_explorations_spark.operators.dedup import propagate_min_labels
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 9)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)],
                                  "doc_id_a long, doc_id_b long")
    got = {r["doc_id"]: r["root"]
           for r in propagate_min_labels(nodes, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9}


def test_short_docs_never_band_collide(spark):
    """Docs with fewer words than a shingle must produce NO banding
    candidates — in Spark (no signature rows) AND in the DuckDB oracle CTEs
    (round-5 ADVICE: NULL minhashes used to collapse every short doc onto
    the md5('') band key, pairing them all)."""
    import duckdb

    rows = [(1, "hi", "en", 2), (2, "yo", "en", 2), (3, "ok then", "en", 7),
            (4, "the quick brown fox jumps over the lazy dog", "en", 43),
            (5, "the quick brown fox jumps over the lazy dog", "en", 43)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long")
    spark_pairs = {(r.doc_id_a, r.doc_id_b)
                   for r in D.banding_candidates(docs).collect()}
    assert all(a not in (1, 2, 3) and b not in (1, 2, 3)
               for a, b in spark_pairs)

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR, "
                "lang VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?)", rows)
    duck_pairs = set(map(tuple, con.execute(
        f"WITH {D._banding_cand_ctes()} SELECT doc_id_a, doc_id_b FROM cand"
    ).fetchall()))
    con.close()
    assert duck_pairs == spark_pairs


def test_banding_occupancy_cap_bounds_hot_band(spark):
    """Planted hot band (r12 verdict item 2): a boilerplate template
    shared verbatim by more docs than the cap must contribute ZERO
    candidate pairs (its band buckets drop before the self-join), while
    an ordinary near-dup pair in the same corpus still surfaces; the
    capped DuckDB CTE chain agrees bit-for-bit; warn_over_cap=True
    raises the RuntimeWarning naming the dropped buckets."""
    import warnings

    import duckdb

    template = ("we use cookies to improve your experience accept all "
                "cookies to continue reading this very important page")
    pair = "the quick brown fox jumps over the lazy dog tonight"
    rows = ([(i, template, "en", len(template)) for i in range(1, 7)]
            + [(101, pair, "en", len(pair)),
               (102, pair + " again", "en", len(pair) + 6)])
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long")

    capped = {(r.doc_id_a, r.doc_id_b)
              for r in D.banding_candidates(docs, bucket_cap=4).collect()}
    assert all(a > 100 and b > 100 for a, b in capped), capped
    assert (101, 102) in capped

    # the hot neighborhood IS paired when the cap admits it
    uncapped = {(r.doc_id_a, r.doc_id_b)
                for r in D.banding_candidates(docs, bucket_cap=256)
                .collect()}
    assert (1, 2) in uncapped

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR, "
                "lang VARCHAR, n_chars BIGINT)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?)", rows)
    duck = set(map(tuple, con.execute(
        f"WITH {D._banding_cand_ctes(bucket_cap=4)} "
        f"SELECT doc_id_a, doc_id_b FROM cand").fetchall()))
    con.close()
    assert duck == capped

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        D.banding_candidates(docs, bucket_cap=4, warn_over_cap=True)
        assert any("occupancy cap" in str(w.message)
                   and issubclass(w.category, RuntimeWarning)
                   for w in caught)


def test_incremental_dedup_rejects_copies_admits_fresh(spark):
    """Planted semantics: a new doc that near-copies an old doc is
    rejected with that old doc as its match; a fresh new doc is admitted;
    old-old duplicates do NOT affect admission (no corpus self-join)."""
    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the rain falls softly on the quiet gray town tonight")
    fresh = ("completely unrelated content about distributed query engines "
             "and columnar storage formats with vectorized execution paths")
    rows = [
        (0, "en", base),                       # old
        (1, "en", base + " extra"),            # old near-dup of 0 (ignored)
        (2, "en", fresh + " indeed"),          # old, unrelated to base
        # split = floor(2? max=5 -> floor(5/2)+1 = 3) => new: 3,4,5
        (3, "en", base + " tonight"),          # new near-copy of old 0/1
        (4, "en", "twelve entirely novel words that appear nowhere else "
                  "in this tiny corpus of planted admission test docs"),
        (5, "en", fresh),                      # new near-copy of old 2
    ]
    docs = spark.createDataFrame(
        [(i, lang, t, len(t)) for i, lang, t in rows],
        "doc_id long, lang string, text string, n_chars int")
    out = {r["doc_id"]: r for r in D.incremental_dedup(docs).collect()}
    assert set(out) == {3, 4, 5}
    assert not out[3]["admitted"] and out[3]["matched_old"] in (0, 1)
    assert out[4]["admitted"] and out[4]["matched_old"] is None
    assert not out[5]["admitted"] and out[5]["matched_old"] == 2


def test_minhash_persisted_admission_bit_equals_in_memory(spark, sf_dir,
                                                          tmp_path):
    """The persisted banded-frame face (r12 verdict item 6): build the
    substrate from the corpus' lower id half, admit the upper half, and
    the verdicts must BIT-EQUAL incremental_dedup on the whole fixture
    (same split rule) — every column including the 6-dp jaccard. Also
    pins the empty-batch shape and that the banded face read prunes
    partitions (file listing, not post-scan filter)."""
    docs = load_table(spark, "documents", sf_dir)
    split = int(docs.agg(F.floor(F.max("doc_id") / 2) + 1).first()[0])
    old_docs = docs.where(F.col("doc_id") < split)
    new_docs = docs.where(F.col("doc_id") >= split)

    base = str(tmp_path / "minhash_substrate")
    D.minhash_persist(old_docs, base)
    got = D.minhash_admit_persisted(spark, base, new_docs)
    want = D.incremental_dedup(docs)
    assert got.columns == want.columns
    assert [tuple(r) for r in got.collect()] \
        == [tuple(r) for r in want.collect()]

    # partition pruning must reach the banded face's file listing
    plan = got._jdf.queryExecution().executedPlan().toString()
    import re as _re
    m = _re.search(r"SelectedBucketsCount|PartitionFilters: \[[^\]]", plan)
    assert m is not None, "banded-face scan shows no partition filters"

    empty = D.minhash_admit_persisted(
        spark, base, new_docs.where(F.lit(False)))
    assert empty.count() == 0
    assert empty.columns == want.columns


def test_incremental_dedup_split_covers_new_half(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    n = docs.count()
    mx = docs.agg(F.max("doc_id")).first()[0]
    out = D.incremental_dedup(docs)
    assert out.count() == n - (mx // 2 + 1)  # dense ids: one row per new doc
    assert out.where(F.col("doc_id") <= mx // 2).count() == 0


def test_incremental_dedup_rejections_are_sound(spark, sf_dir):
    """Soundness on the fixture corpus: every rejected doc's recorded
    match must truly be an old doc with Jaccard >= threshold (recomputed
    in Python from raw shingle sets), and every verified banding
    candidate >= threshold must cause a rejection. (Completeness over ALL
    pairs is deliberately not asserted — banding recall is
    probabilistic.)"""
    docs = load_table(spark, "documents", sf_dir)
    split = docs.agg((F.floor(F.max("doc_id") / 2) + 1)).first()[0]

    def shingles(t):
        w = t.split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    out = {r["doc_id"]: r for r in D.incremental_dedup(docs).collect()}
    rejected = {i: r for i, r in out.items() if not r["admitted"]}
    for i, r in rejected.items():
        assert r["matched_old"] < split <= i
        a, b = shingles(texts[i]), shingles(texts[r["matched_old"]])
        j = len(a & b) / len(a | b)
        assert j >= D.JACCARD_THRESHOLD - 1e-6, (i, r["matched_old"], j)
    # any banding candidate pair that truly verifies must be rejected
    cand = D.banding_candidates(docs).collect()
    for row in cand:
        lo, hi = row["doc_id_a"], row["doc_id_b"]
        if lo < split <= hi:
            a, b = shingles(texts[hi]), shingles(texts[lo])
            if len(a | b) and len(a & b) / len(a | b) >= D.JACCARD_THRESHOLD:
                assert not out[hi]["admitted"], (hi, lo)


def test_semantic_dedup_verdicts(spark, sf_dir):
    """SemDeDup shape invariants: one verdict row per document; dup_of is
    always a smaller id in the SAME cluster; every flagged pair clears the
    cosine bar; kept representatives are never themselves flagged against
    an earlier kept doc (min-id rule)."""
    from vectordb_explorations_spark.operators.dedup import (
        SEM_COSINE_THRESHOLD, semantic_dedup)
    from vectordb_explorations_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    out = semantic_dedup(emb).collect()
    assert len(out) == emb.count()
    cluster = {r["vec_id"]: r["cluster_id"] for r in out}
    flagged = [r for r in out if r["dup_of"] is not None]
    assert flagged, "threshold should flag at least one pair on fixtures"
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    import numpy as np
    for r in flagged:
        assert r["dup_of"] < r["vec_id"]
        assert cluster[r["dup_of"]] == cluster[r["vec_id"]]
        a = np.asarray(vecs[r["dup_of"]], dtype=np.float64)
        b = np.asarray(vecs[r["vec_id"]], dtype=np.float64)
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert cos >= SEM_COSINE_THRESHOLD - 1e-6, (r, cos)


def test_semantic_dedup_plan_python_free(spark, sf_dir):
    """The C=8 distance trees stay in Catalyst (unlike the 48-plane LSH
    GEMM): the whole verdict plan must be JVM-only."""
    from vectordb_explorations_spark.operators.dedup import semantic_dedup
    from vectordb_explorations_spark.sources.catalog import load_table

    plan = (semantic_dedup(load_table(spark, "embeddings", sf_dir))
            ._jdf.queryExecution().executedPlan().toString())
    for marker in ("Python", "InPandas"):
        assert marker not in plan, marker


def test_semantic_dedup_adaptive_clusters(spark, sf_dir):
    """The shared fixed-knob policy applied to cluster COUNT (the decay
    here is quadratic pair cost, not recall): 'auto' floors at the
    fixture default so outputs are bit-equal; a fixed count whose
    expected cluster size exceeds the calibrated bound warns and names
    the resolved auto value; 'auto' scales linearly past the floor."""
    import warnings

    from vectordb_explorations_spark.operators.dedup import (
        SEM_CLUSTERS, SEM_TARGET_CLUSTER_ROWS, _resolve_sem_clusters,
        adaptive_sem_clusters, semantic_dedup)
    from vectordb_explorations_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    n = emb.count()
    assert adaptive_sem_clusters(n) == SEM_CLUSTERS  # fixture floors
    assert adaptive_sem_clusters(1_000_000) == -(-1_000_000
                                                 // SEM_TARGET_CLUSTER_ROWS)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # none may fire
        auto_rows = semantic_dedup(emb, num_clusters="auto").collect()
    assert auto_rows == semantic_dedup(emb).collect()

    big = spark.range(SEM_CLUSTERS * SEM_TARGET_CLUSTER_ROWS + 1)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert _resolve_sem_clusters(SEM_CLUSTERS, big)[0] == SEM_CLUSTERS
    assert any("num_clusters='auto'" in str(w.message) for w in caught)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        assert _resolve_sem_clusters("auto", big)[0] == SEM_CLUSTERS + 1


def test_semantic_dedup_arrow_kernel_parity(spark, sf_dir):
    """The GEMM pair kernel (the scale path past SEM_ARROW_MIN_ROWS) must
    produce the SAME verdicts as the declared codegen path on fixtures —
    same discipline as every other Arrow twin in the repo. Also pins that
    'auto' resolves to codegen at fixture scale (plan stays Python-free)
    and that the blockwise loop is exercised (block smaller than the
    largest cluster)."""
    from vectordb_explorations_spark.operators import dedup as D
    from vectordb_explorations_spark.operators.dedup import semantic_dedup
    from vectordb_explorations_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    codegen = semantic_dedup(emb, pair_kernel="codegen").collect()
    arrow = semantic_dedup(emb, pair_kernel="arrow").collect()
    assert [tuple(r) for r in arrow] == [tuple(r) for r in codegen]

    auto_plan = (semantic_dedup(emb, pair_kernel="auto")
                 ._jdf.queryExecution().executedPlan().toString())
    assert "InPandas" not in auto_plan  # fixtures stay on codegen

    orig = D.SEM_ARROW_BLOCK
    D.SEM_ARROW_BLOCK = 16  # force multi-block within each cluster
    try:
        small_block = semantic_dedup(emb, pair_kernel="arrow").collect()
    finally:
        D.SEM_ARROW_BLOCK = orig
    assert [tuple(r) for r in small_block] == [tuple(r) for r in codegen]


def test_semantic_dedup_gemm_assign_parity(spark, sf_dir):
    """The Arrow argmin assignment (the large-N*C scale path) must agree
    with the broadcast-join assignment on fixtures — clusters, verdicts,
    and 'auto' staying on the join path below SEM_GEMM_ASSIGN_MIN_CELLS."""
    from vectordb_explorations_spark.operators.dedup import (
        SEM_GEMM_ASSIGN_MIN_CELLS, semantic_dedup)
    from vectordb_explorations_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    join_path = semantic_dedup(emb, assign_kernel="join").collect()
    gemm_path = semantic_dedup(emb, assign_kernel="gemm").collect()
    assert [tuple(r) for r in gemm_path] == [tuple(r) for r in join_path]
    assert emb.count() * 8 < SEM_GEMM_ASSIGN_MIN_CELLS  # fixtures: join
    auto_plan = (semantic_dedup(emb)  # declared defaults
                 ._jdf.queryExecution().executedPlan().toString())
    assert "InPandas" not in auto_plan


def test_exact_substring_finds_planted_spans(spark):
    """Planted span-level duplicates: a 6-token span pasted verbatim into
    two otherwise-distinct docs is found as exactly one pair with the
    right shared-window count; a doc shorter than w yields no windows;
    OVERLAPPING duplicated windows union into one covered interval (the
    gaps-and-islands math), and a full duplicate covers 1.0."""
    from vectordb_explorations_spark.operators.dedup import (
        exact_substring_pairs, substring_dup_coverage)

    span = "the quick brown fox jumps over"           # 6 tokens
    docs = spark.createDataFrame([
        (0, f"alpha beta {span} gamma delta"),        # span at pos 2..7
        (1, f"{span} zeta eta theta iota kappa"),     # span at pos 0..5
        (2, "one two three four five six seven"),     # unrelated
        (3, "tiny doc"),                              # shorter than w
        (4, f"alpha beta {span} gamma delta"),        # full dup of doc 0
    ], "doc_id long, text string")
    w = 4

    pairs = {(r["doc_a"], r["doc_b"]): r["n_shared_spans"]
             for r in exact_substring_pairs(docs, w=w).collect()}
    # doc 0 and doc 4 are identical: every one of their 10-4+1=7 windows
    # is shared; docs 0/1 and 1/4 share only the windows inside the span
    # (6-4+1=3 fully-inside windows)
    assert pairs[(0, 4)] == 7
    assert pairs[(0, 1)] == 3
    assert pairs[(1, 4)] == 3
    assert not any(3 in p or 2 in p for p in pairs)

    cov = {r["doc_id"]: r for r in substring_dup_coverage(docs, w=w).collect()}
    assert cov[3]["n_dup_spans"] == 0 and cov[3]["coverage"] == 0.0
    assert cov[2]["coverage"] == 0.0
    # docs 0 and 4: all 7 windows duplicated -> full coverage, ONE island
    assert cov[0]["coverage"] == 1.0 and cov[0]["covered_tokens"] == 10
    assert cov[4]["coverage"] == 1.0
    # doc 1: the 3 span windows overlap into one island covering
    # positions 0..5 = 6 of its 11 tokens
    assert cov[1]["n_dup_spans"] == 3
    assert cov[1]["covered_tokens"] == 6
    assert cov[1]["coverage"] == round(6 / 11, 6)


def test_strip_duplicated_spans_keeps_one_occurrence(spark):
    """Remediation semantics: the smallest doc_id KEEPS each duplicated
    span; every other doc's covered tokens are stripped; untouched and
    too-short docs pass through with their original text hash."""
    import hashlib

    from vectordb_explorations_spark.operators.dedup import (
        strip_duplicated_spans)

    span = "the quick brown fox jumps over"
    d0 = f"alpha beta {span} gamma delta"
    d2 = "one two three four five six seven"
    docs = spark.createDataFrame([
        (0, d0),                                       # keeper (min id)
        (1, f"{span} zeta eta theta iota kappa"),      # strips the span
        (2, d2),                                       # untouched
        (4, d0),                                       # full dup: strips all
    ], "doc_id long, text string")

    out = {r["doc_id"]: r for r in
           strip_duplicated_spans(docs, w=4).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    # keeper and untouched docs hash to their original text
    assert out[0]["removed_tokens"] == 0
    assert out[0]["cleaned_md5"] == md5(d0)
    assert out[2]["cleaned_md5"] == md5(d2)
    # doc 1 loses exactly the 6 span tokens, keeping its tail
    assert out[1]["removed_tokens"] == 6
    assert out[1]["cleaned_md5"] == md5("zeta eta theta iota kappa")
    # doc 4 is a verbatim copy of the keeper: everything strips
    assert out[4]["kept_tokens"] == 0
    assert out[4]["cleaned_md5"] == md5("")


def test_substring_pairs_cap_excludes_boilerplate_spans(spark):
    """A span hotter than max_span_docs is boilerplate: it must NOT fan
    out into quadratic pairs (the all-pairs stage the module bans), but
    it stays fully visible to the linear coverage view."""
    from vectordb_explorations_spark.operators.dedup import (
        exact_substring_pairs, substring_dup_coverage)

    boiler = "all rights reserved by the original author"  # 7 tokens
    docs = spark.createDataFrame(
        [(i, f"doc number {i} text {boiler}") for i in range(6)]
        + [(100, "unique pair text alpha beta gamma delta one"),
           (101, "unique pair text alpha beta gamma delta two")],
        "doc_id long, text string")

    pairs = exact_substring_pairs(docs, w=4, max_span_docs=4).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    # the 6-doc boilerplate span (occupancy 6 > cap 4) contributes no
    # pairs; the genuine 2-doc duplicate survives
    assert got == {(100, 101)}
    # ...but the boilerplate docs still show coverage in the linear view
    cov = {r["doc_id"]: r["coverage"]
           for r in substring_dup_coverage(docs, w=4).collect()}
    assert all(cov[i] > 0 for i in range(6))


def test_source_span_matrix_attributes_pairs_to_sources(spark):
    """The span matrix attributes each cross-doc span pair to its
    unordered source pair — planted: one cross-crawl syndicated span,
    one within-crawl duplicate."""
    from vectordb_explorations_spark.operators.dedup import (
        source_span_matrix)

    span = "breaking news syndicated paragraph shared verbatim today"
    rows = [
        (0, f"crawl a article one {span}", "en", "cc"),
        (1, f"{span} with extra crawl b words", "en", "web"),   # cc-web
        (2, f"crawl a article two {span}", "en", "cc"),         # cc-cc + cc-web
    ]
    docs = spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in rows],
        "doc_id long, text string, lang string, source string, n_chars long")
    got = {(r["source_a"], r["source_b"]): r["n_doc_pairs"]
           for r in source_span_matrix(docs, w=5).collect()}
    assert got[("cc", "web")] == 2   # docs 0-1 and 1-2
    assert got[("cc", "cc")] == 1    # docs 0-2


def test_minhash_delete_persisted_forgets_document(spark, tmp_path):
    """The GDPR contract on the persisted MinHash substrate: a batch
    doc copying an ingested doc is rejected; after erasing that doc
    from the substrate the SAME batch is admitted (nothing remembers
    it); untouched bucket directories keep their exact files."""
    import os

    base_txt = ("the quick brown fox jumps over the lazy dog while "
                "rain falls softly on the quiet gray town tonight")
    other = ("entirely different prose about columnar execution "
             "engines and vectorized query compilation pipelines")
    old = spark.createDataFrame(
        [(0, "en", base_txt, len(base_txt)),
         (1, "en", other, len(other))],
        "doc_id long, lang string, text string, n_chars int")
    batch = spark.createDataFrame(
        [(10, "en", base_txt, len(base_txt))],
        "doc_id long, lang string, text string, n_chars int")
    base = str(tmp_path / "mh_gdpr")
    D.minhash_persist(old, base)

    first = D.minhash_admit_persisted(spark, base, batch).collect()[0]
    assert not first["admitted"] and first["matched_old"] == 0

    def dir_state(p):
        return {os.path.join(r, f): os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(p) for f in fs
                if f.endswith(".parquet")}

    before = dir_state(base)
    n = D.minhash_delete_persisted(spark, base, [0])
    # NUM_BANDS band rows + 1 shingle-set row
    assert n == D.NUM_BANDS + 1

    second = D.minhash_admit_persisted(spark, base, batch).collect()[0]
    assert second["admitted"] and second["matched_old"] is None

    # doc 1's rows live in different buckets; its files must be intact
    after = dir_state(base)
    survivor_buckets = {r["bucket"] for r in
                        spark.read.parquet(f"{base}/bands")
                        .select("bucket").collect()}
    assert survivor_buckets  # doc 1 still indexed
    kept = [fp for fp in before if fp in after
            and after[fp] == before[fp]]
    assert kept, "every directory rewritten — bounded-touch violated"


def test_minhash_append_persisted_closes_the_loop(spark, tmp_path):
    """The full maintenance cycle: persist -> admit (fresh doc says
    yes) -> APPEND the admitted batch -> the next crawl's copy of that
    doc is rejected against it -> delete it -> a further copy is
    admitted again. Appended rows must bucket exactly as a full
    rebuild (bit-equal substrate rows)."""
    t0 = ("the quick brown fox jumps over the lazy dog while rain "
          "falls softly on the quiet gray town tonight")
    t1 = ("entirely different prose about columnar execution engines "
          "and vectorized query compilation pipelines")
    mk = lambda rows: spark.createDataFrame(
        [(i, "en", t, len(t)) for i, t in rows],
        "doc_id long, lang string, text string, n_chars int")
    base = str(tmp_path / "mh_loop")
    D.minhash_persist(mk([(0, t0)]), base)

    batch1 = mk([(1, t1)])
    out1 = D.minhash_admit_persisted(spark, base, batch1).collect()[0]
    assert out1["admitted"]
    D.minhash_append_persisted(batch1, base)

    batch2 = mk([(2, t1)])
    out2 = D.minhash_admit_persisted(spark, base, batch2).collect()[0]
    assert not out2["admitted"] and out2["matched_old"] == 1

    # appended substrate == a from-scratch rebuild over both docs
    base2 = str(tmp_path / "mh_loop_rebuild")
    D.minhash_persist(mk([(0, t0), (1, t1)]), base2)
    for face in ("bands", "sh"):
        a = sorted(map(tuple, spark.read.parquet(f"{base}/{face}")
                       .collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{base2}/{face}")
                       .collect()))
        assert a == b, face

    D.minhash_delete_persisted(spark, base, [1])
    out3 = D.minhash_admit_persisted(spark, base, batch2).collect()[0]
    assert out3["admitted"]


def test_minhash_persisted_meta_guards(spark, tmp_path):
    """The substrate sidecar: admission on a small corpus warns toward
    the in-memory path (and is SILENT past the floor), the doc count
    tracks persist/append/delete, and a substrate whose sidecar is
    missing raises on every serve and maintenance path instead of
    probing a default geometry."""
    import os
    import warnings

    from vectordb_explorations_spark.sources import substrate

    t0 = ("the quick brown fox jumps over the lazy dog while rain "
          "falls softly on the quiet gray town tonight")
    t1 = ("entirely different prose about columnar execution engines "
          "and vectorized query compilation pipelines")
    mk = lambda rows: spark.createDataFrame(
        [(i, "en", t, len(t)) for i, t in rows],
        "doc_id long, lang string, text string, n_chars int")
    base = str(tmp_path / "mh_meta")
    D.minhash_persist(mk([(0, t0)]), base)
    rows = lambda: substrate.read_meta(spark, base, "test")["rows"]
    assert rows() == 1

    batch = mk([(1, t1)])
    with pytest.warns(RuntimeWarning, match="below the"):
        D.minhash_admit_persisted(spark, base, batch).collect()

    # count tracks append and delete
    D.minhash_append_persisted(batch, base)
    assert rows() == 2
    D.minhash_delete_persisted(spark, base, [1])
    assert rows() == 1

    # past the floor the warning is silent (fake the count — building
    # 100k docs in a unit test is the tool's own probe ladder's job)
    meta = substrate.read_meta(spark, base, "test")
    substrate.write_ready(spark, base,
                          {**meta, "rows": D.MINHASH_ADMIT_MIN_CORPUS})
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        D.minhash_admit_persisted(spark, base, batch).collect()

    # no sidecar: every serve/maintenance path raises, naming the file
    legacy = str(tmp_path / "mh_legacy")
    D.minhash_persist(mk([(0, t0)]), legacy)
    os.remove(f"{legacy}/_meta.json")
    for call in (lambda: D.minhash_admit_persisted(spark, legacy, batch),
                 lambda: D.minhash_append_persisted(batch, legacy),
                 lambda: D.minhash_delete_persisted(spark, legacy, [0])):
        with pytest.raises(substrate.SubstrateMetaError,
                           match="_meta.json is missing"):
            call()


def test_minhash_truncated_sidecar_raises(spark, tmp_path):
    """A truncated sidecar is an error, not an absent one: admitting an
    exact copy of a substrate doc must raise rather than probe a
    default geometry and admit the copy."""
    from vectordb_explorations_spark.sources import substrate

    texts = ["the quick brown fox jumps over the lazy dog while rain "
             "falls softly on the quiet gray town tonight",
             "entirely different prose about columnar execution engines "
             "and vectorized query compilation pipelines"]
    docs = spark.createDataFrame(
        [(i, "en", t, len(t)) for i, t in enumerate(texts)],
        "doc_id long, lang string, text string, n_chars int")
    base = str(tmp_path / "mh_trunc")
    D.minhash_persist(docs, base)
    copy = spark.createDataFrame(
        [(10, "en", texts[0], len(texts[0]))],
        "doc_id long, lang string, text string, n_chars int")
    with open(f"{base}/_meta.json", "r+") as f:
        f.truncate(len(f.read()) // 2)
    with pytest.raises(substrate.SubstrateMetaError, match="unreadable"):
        D.minhash_admit_persisted(spark, base, copy).collect()


def test_minhash_append_crash_between_faces(spark, tmp_path, monkeypatch):
    """Crash injection between the bands and sh appends: the sidecar
    stays ``building``, so an admission of the crashed batch's
    near-duplicate raises instead of admitting it (the bands face finds
    the candidate, the sh face cannot verify it). The marker replay of
    the append completes, flips the sidecar to ``ready``, and the copy
    is then rejected."""
    import warnings

    from pyspark.sql import DataFrameWriter

    from vectordb_explorations_spark.sources import substrate

    t0 = ("the quick brown fox jumps over the lazy dog while rain "
          "falls softly on the quiet gray town tonight")
    t1 = ("entirely different prose about columnar execution engines "
          "and vectorized query compilation pipelines")
    mk = lambda rows: spark.createDataFrame(
        [(i, "en", t, len(t)) for i, t in rows],
        "doc_id long, lang string, text string, n_chars int")
    base = str(tmp_path / "mh_crash")
    D.minhash_persist(mk([(0, t0)]), base)

    real_parquet = DataFrameWriter.parquet

    def crash_on_sh(self, path, *args, **kwargs):
        if str(path).endswith("/sh"):
            raise RuntimeError("injected crash before the sh append")
        return real_parquet(self, path, *args, **kwargs)

    batch = mk([(1, t1)])
    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", crash_on_sh)
        with pytest.raises(RuntimeError, match="injected crash"):
            D.minhash_append_persisted(batch, base)
    assert spark.read.parquet(f"{base}/bands").where("doc_id = 1").count()

    near_dup = mk([(2, t1)])
    with pytest.raises(substrate.SubstrateMetaError, match="building"):
        D.minhash_admit_persisted(spark, base, near_dup).collect()

    D.minhash_append_persisted(batch, base)  # the marker replay
    assert substrate.read_meta(spark, base, "test")["state"] == "ready"
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        out = D.minhash_admit_persisted(spark, base, near_dup).collect()
    assert not out[0]["admitted"] and out[0]["matched_old"] == 1


def test_minhash_auto_buckets_policy(spark, tmp_path):
    """The build stamps the RESOLVED 'auto' bucket count (the shared
    policy is pinned in tests/test_substrate.py) into the sidecar,
    every bucket in the banded face respects it, and admission reads it
    back."""
    import warnings

    from vectordb_explorations_spark.sources import substrate

    t = ("the quick brown fox jumps over the lazy dog while rain "
         "falls softly on the quiet gray town tonight")
    docs = spark.createDataFrame(
        [(i, "en", t + f" tail{i}", len(t)) for i in range(3)],
        "doc_id long, lang string, text string, n_chars int")
    base = str(tmp_path / "mh_auto")
    D.minhash_persist(docs, base)
    meta = substrate.read_meta(spark, base, "test")
    assert meta["build"]["buckets"] == 16  # resolved, not 'auto'
    # every bucket value in the face respects the resolved modulus
    vals = {r["bucket"] for r in spark.read.parquet(f"{base}/bands")
            .select("bucket").distinct().collect()}
    assert vals and all(0 <= v < 16 for v in vals)
    # admission resolves the geometry from the sidecar
    batch = docs.where("doc_id = 0")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        out = D.minhash_admit_persisted(spark, base, batch).collect()
    assert not out[0]["admitted"]
