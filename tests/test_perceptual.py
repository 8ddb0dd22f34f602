"""Perceptual near-dup (operators/perceptual.py): planted re-encode
pairs, brightness/bit-depth invariance, negative controls, the packing
convention, and the hot-bucket occupancy cap."""

import numpy as np
import pytest
from pyspark.sql import types as T

from vectordb_explorations_spark.operators.perceptual import (
    AUDIO_N_SAMPLES, PHASH_SRC_H, PHASH_SRC_W, ahash_bits,
    audio_contour_bits, _band_candidates, dedup_perceptual_audio,
    dedup_perceptual_image, dhash_bits, encode_bmp, encode_wav16,
    gray_int, image_hashes, audio_hashes, pack_words32,
    perceptual_image_pairs, wav_header)

ASSET_SCHEMA = T.StructType([T.StructField("asset_id", T.LongType()),
                             T.StructField("payload", T.BinaryType())])


def _rand_raster(seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(PHASH_SRC_H, PHASH_SRC_W, 3),
                        dtype=np.uint8).astype(np.uint8)


def _p6_bytes(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    return f"P6\n{w} {h}\n255\n".encode() + img.tobytes()


def _assets(spark, payloads):
    return spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)], ASSET_SCHEMA)


# ---- planted re-encode: P6 -> BMP round-trip hashes identically ----

def test_image_reencode_hashes_identical(spark):
    img = _rand_raster(7)
    rows = image_hashes(_assets(spark, [_p6_bytes(img),
                                        encode_bmp(img)])).collect()
    assert len(rows) == 2
    a, b = sorted(rows, key=lambda r: r.asset_id)
    assert (a.ah_w0, a.ah_w1, a.dh_w0, a.dh_w1) == \
           (b.ah_w0, b.ah_w1, b.dh_w0, b.dh_w1)


def test_audio_reencode_hashes_identical(spark):
    rng = np.random.default_rng(11)
    samples = rng.integers(0, 256, size=AUDIO_N_SAMPLES,
                           dtype=np.uint8).astype(np.uint8)
    wav8 = wav_header(AUDIO_N_SAMPLES, bits=8) + samples.tobytes()
    wav16 = encode_wav16(samples.reshape(-1, 1))
    rows = audio_hashes(_assets(spark, [wav8, wav16])).collect()
    assert len(rows) == 2
    assert rows[0].eh_w0 == rows[1].eh_w0


# ---- perturbation invariance (the "perceptual" in the name) ----

def test_brightness_shift_invariant():
    img = _rand_raster(3)
    img = np.clip(img, 0, 254)           # +1 must not clip
    g0, g1 = gray_int(img), gray_int(img + 1)
    assert np.array_equal(g1, g0 + 1)    # luma weights sum to 1000
    assert np.array_equal(ahash_bits(g0), ahash_bits(g1))
    assert np.array_equal(dhash_bits(g0), dhash_bits(g1))


def test_audio_bitdepth_centering_exact():
    rng = np.random.default_rng(5)
    s8 = rng.integers(0, 256, size=AUDIO_N_SAMPLES, dtype=np.uint8)
    s16 = ((s8.astype(np.int64) - 128) << 8).astype(np.int16)
    b8 = audio_contour_bits(s8.reshape(-1, 1))
    b16 = audio_contour_bits(s16.reshape(-1, 1))
    assert np.array_equal(b8, b16)


def test_audio_too_short_drops():
    assert audio_contour_bits(np.zeros((AUDIO_N_SAMPLES - 1, 1),
                                       dtype=np.uint8)) is None


# ---- negative control: unrelated content does not pair ----

def test_unrelated_images_do_not_pair(spark):
    h = image_hashes(_assets(spark, [_p6_bytes(_rand_raster(s))
                                     for s in range(8)]))
    pairs = perceptual_image_pairs(h).collect()
    assert pairs == []                   # 64 random bits: ham ~32


# ---- packing convention (bq.py _pack_words MSB-first contract) ----

def test_pack_words32_msb_first():
    bits = np.zeros(64, dtype=np.int64)
    bits[0] = 1                          # bit 0 -> position 31 of word 0
    bits[63] = 1                         # bit 63 -> position 0 of word 1
    assert pack_words32(bits) == [1 << 31, 1]


# ---- hot-bucket occupancy cap ----

def test_bucket_cap_drops_degenerate_buckets(spark):
    # five identical hashes collide on every band: cap 4 kills the
    # bucket entirely (no quadratic blowup), cap 5 admits all 10 pairs
    rows = [(i, 42, 42) for i in range(5)]
    h = spark.createDataFrame(rows, ["asset_id", "dh_w0", "dh_w1"])
    assert _band_candidates(h, ["dh_w0", "dh_w1"], bucket_cap=4).count() == 0
    assert _band_candidates(h, ["dh_w0", "dh_w1"], bucket_cap=5).count() == 10


# ---- band-width auto policy ----

def test_band_bits_auto_policy():
    from vectordb_explorations_spark.operators.perceptual import (
        PHASH_AUTO_WIDE_N, resolve_band_bits)

    assert resolve_band_bits("auto", PHASH_AUTO_WIDE_N) == 16
    assert resolve_band_bits("auto", PHASH_AUTO_WIDE_N + 1) == 32
    assert resolve_band_bits(16, None) == 16
    assert resolve_band_bits(32, None) == 32
    with pytest.raises(ValueError, match="corpus_n"):
        resolve_band_bits("auto", None)
    with pytest.raises(ValueError, match="band_bits"):
        resolve_band_bits(8, None)


def test_wide_bands_still_find_reencode_pairs(spark):
    # a Hamming-0 dup collides on EVERY band at every width; a ham-1
    # pair is pigeonhole-guaranteed at 2x32 (one word untouched)
    img = _rand_raster(23)
    h = image_hashes(_assets(spark, [_p6_bytes(img), encode_bmp(img)]))
    pairs = perceptual_image_pairs(h, band_bits=32).collect()
    assert [(p.id_a, p.id_b, p.ham_dhash) for p in pairs] == [(0, 1, 0)]


# ---- declared-query planted structure ----

@pytest.fixture(scope="module")
def planted_docs(spark):
    rng = np.random.default_rng(19)
    vocab = ["alpha", "bridge", "copper", "delta", "ember", "flint",
             "grove", "harbor"]
    texts = [" ".join(vocab[i] for i in rng.integers(0, 8, size=80))
             for _ in range(3)]
    return spark.createDataFrame(
        [(i, "s", "en", t) for i, t in enumerate(texts)],
        ["doc_id", "source", "lang", "text"])


def test_declared_image_query_plants_reencode_pairs(planted_docs):
    pairs = {(r.id_a, r.id_b): r for r in
             dedup_perceptual_image(planted_docs).collect()}
    for k in range(3):                   # every doc's (2k, 2k+1) pair
        row = pairs[(2 * k, 2 * k + 1)]
        assert row.ham_dhash == 0 and row.ham_ahash == 0


def test_declared_audio_query_plants_reencode_pairs(planted_docs):
    pairs = {(r.id_a, r.id_b): r for r in
             dedup_perceptual_audio(planted_docs).collect()}
    for k in range(3):
        assert pairs[(2 * k, 2 * k + 1)].ham_contour == 0


def test_cross_codec_queries_plant_families(planted_docs):
    """The cross-codec queries (r14 native PNG + FLAC, continuation's
    GIF + TIFF + float-WAV, all on the declared surface): every
    eligible doc plants ALL TEN pairs of the image quintuplet
    (5k .. 5k+4: P6/BMP/PNG/GIF/TIFF) and all six pairs of the audio
    quadruplet (4k .. 4k+3: WAV8/WAV16/FLAC/float32) at Hamming 0 —
    through the real decoders in the Spark pipeline."""
    from itertools import combinations

    from vectordb_explorations_spark.operators.perceptual import (
        dedup_cross_codec_audio, dedup_cross_codec_image)

    img = {(r.id_a, r.id_b): r for r in
           dedup_cross_codec_image(planted_docs).collect()}
    aud = {(r.id_a, r.id_b): r for r in
           dedup_cross_codec_audio(planted_docs).collect()}
    for k in range(3):
        for a, b in combinations(range(5 * k, 5 * k + 5), 2):
            row = img[(a, b)]
            assert row.ham_dhash == 0 and row.ham_ahash == 0
        for a, b in combinations(range(4 * k, 4 * k + 4), 2):
            assert aud[(a, b)].ham_contour == 0


def test_perceptual_clusters_transitive(spark):
    """Three identical-audio docs collapse to one cluster rooted at the
    min doc_id (re-encode self-loops drop; cross-doc pairs propagate
    transitively); the unrelated doc stays a singleton."""
    from vectordb_explorations_spark.operators.perceptual import (
        dedup_perceptual_clusters)

    rng = np.random.default_rng(31)
    vocab = ["alpha", "bridge", "copper", "delta", "ember", "flint"]
    same = " ".join(vocab[i] for i in rng.integers(0, 6, size=60))
    other = " ".join(vocab[i] for i in rng.integers(0, 6, size=60))
    docs = spark.createDataFrame(
        [(0, "s", "en", same), (1, "s", "en", same), (2, "s", "en", same),
         (3, "s", "en", other)],
        ["doc_id", "source", "lang", "text"])
    roots = {r.doc_id: r.root
             for r in dedup_perceptual_clusters(docs).collect()}
    assert roots == {0: 0, 1: 0, 2: 0, 3: 3}


def test_short_docs_are_filtered(spark):
    docs = spark.createDataFrame([(0, "s", "en", "too short")],
                                 ["doc_id", "source", "lang", "text"])
    assert dedup_perceptual_image(docs).count() == 0
    assert dedup_perceptual_audio(docs).count() == 0


# ---- perceptual_hash_table (r13 queue) ----

def test_hash_table_matches_kernels(spark, planted_docs):
    """The flat per-doc fingerprint table must equal the NumPy kernels
    run directly on the synthesized payloads."""
    from vectordb_explorations_spark.operators.perceptual import (
        AUDIO_N_SAMPLES, PHASH_SRC_H, PHASH_SRC_W, perceptual_hash_table)

    rows = {r.doc_id: r for r in perceptual_hash_table(planted_docs).collect()}
    texts = {r.doc_id: r.text for r in planted_docs.collect()}
    n_img = PHASH_SRC_W * PHASH_SRC_H * 3
    for doc_id, text in texts.items():
        raster = np.frombuffer(text[:n_img].encode(), dtype=np.uint8) \
            .reshape(PHASH_SRC_H, PHASH_SRC_W, 3)
        g = gray_int(raster)
        ah = pack_words32(ahash_bits(g))
        dh = pack_words32(dhash_bits(g))
        samples = np.frombuffer(text[:AUDIO_N_SAMPLES].encode(),
                                dtype=np.uint8).reshape(-1, 1)
        eh = pack_words32(audio_contour_bits(samples))[0]
        r = rows[doc_id]
        assert (r.ah_w0, r.ah_w1, r.dh_w0, r.dh_w1, r.eh_w0) == \
            (ah[0], ah[1], dh[0], dh[1], eh)


# ---- perceptual_curation_cards (r13 queue) ----

def test_curation_cards_compose_quality_and_dedup(spark):
    """Planted composition: docs 0 and 1 are perceptual duplicates
    (identical text; doc 1's cluster root is 0, so only doc 1 counts as
    a dup), doc 2 is clean and Gopher-keepable, doc 3 is Gopher-dropped
    (too few words) AND payload-ineligible (short) — so n_eligible
    excludes it and the final kept rate reflects both verdicts."""
    from vectordb_explorations_spark.operators.perceptual import (
        perceptual_curation_cards)

    rng = np.random.default_rng(43)
    vocab = ["the", "a", "bridge", "copper", "delta", "ember", "flint",
             "grove"]
    same = " ".join(vocab[i] for i in rng.integers(0, 8, size=60))
    clean = " ".join(vocab[i] for i in rng.integers(0, 8, size=60))
    docs = spark.createDataFrame(
        [(0, "s", same), (1, "s", same), (2, "s", clean),
         (3, "s", "tiny doc")],
        ["doc_id", "source", "text"])
    row = perceptual_curation_cards(docs).collect()[0]
    assert (row.n_docs, row.n_eligible) == (4, 3)
    # gopher: docs 0-2 keep (60 words, stopwords present), doc 3 drops
    assert row.gopher_keep_rate == 0.75
    # dup among eligible: doc 1 only (root 0), docs 0/2 are their own
    # roots -> 1/3
    assert row.perceptual_dup_rate == round(1 / 3, 6)
    # final: keep AND not dup -> docs 0 and 2 -> 2/4
    assert row.kept_rate == 0.5


# ---- perceptual_incremental (r13 queue) ----

def test_incremental_rejects_reingested_image(spark):
    """Planted admission: split = floor(3/2)+1 = 2, so docs 0-1 are the
    corpus and docs 2-3 the batch. Doc 2 re-ingests doc 0's image
    (identical text -> Hamming 0 vs old doc 0) and must be rejected
    with that match; doc 3 is new content and must be admitted."""
    from vectordb_explorations_spark.operators.perceptual import (
        perceptual_incremental)

    rng = np.random.default_rng(53)
    vocab = ["alpha", "bridge", "copper", "delta", "ember", "flint"]
    mk = lambda: " ".join(vocab[i] for i in rng.integers(0, 6, size=60))
    t0, t1, t3 = mk(), mk(), mk()
    docs = spark.createDataFrame(
        [(0, "s", t0), (1, "s", t1), (2, "s", t0), (3, "s", t3)],
        ["doc_id", "source", "text"])
    out = {r.doc_id: r for r in perceptual_incremental(docs).collect()}
    assert set(out) == {2, 3}
    assert not out[2].admitted
    assert out[2].matched_old == 0 and out[2].best_hamming == 0
    assert out[3].admitted and out[3].matched_old is None


# ---- persisted admission substrate (serving face) ----

def test_persisted_admission_prunes_and_rejects(spark, tmp_path):
    """The serving face: build the substrate from the corpus, admit a
    batch containing one re-ingest (rejected at Hamming 0 with the
    right match) and one new doc (admitted); the substrate read must
    carry PartitionFilters (file-listing pruning) on band_idx/bucket."""
    from vectordb_explorations_spark.operators.perceptual import (
        perceptual_admit_persisted, perceptual_persist)

    rng = np.random.default_rng(71)
    vocab = ["alpha", "bridge", "copper", "delta", "ember", "flint"]
    mk = lambda: " ".join(vocab[i] for i in rng.integers(0, 6, size=60))
    corpus_texts = [mk() for _ in range(6)]
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus_texts)], ["doc_id", "text"])
    base = str(tmp_path / "perc_substrate")
    perceptual_persist(corpus, base)

    batch = spark.createDataFrame(
        [(100, corpus_texts[2]), (101, mk())], ["doc_id", "text"])
    out = perceptual_admit_persisted(spark, base, batch)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "band_idx" in plan
    rows = {r.doc_id: r for r in out.collect()}
    assert not rows[100].admitted
    assert rows[100].matched_old == 2 and rows[100].best_hamming == 0
    assert rows[101].admitted and rows[101].matched_old is None


def test_perceptual_buckets_guard(spark, tmp_path):
    """The geometry lives in the sidecar: admit and append read it
    back, and a substrate without the sidecar raises on every serve and
    maintenance path instead of probing a default bucket count."""
    import os

    from vectordb_explorations_spark.operators.perceptual import (
        perceptual_admit_persisted, perceptual_append_persisted,
        perceptual_delete_persisted, perceptual_persist)
    from vectordb_explorations_spark.sources import substrate

    rng = np.random.default_rng(72)
    vocab = ["alpha", "bridge", "copper", "delta", "ember", "flint"]
    mk = lambda: " ".join(vocab[i] for i in rng.integers(0, 6, size=60))
    corpus = spark.createDataFrame(
        [(i, mk()) for i in range(3)], ["doc_id", "text"])
    base = str(tmp_path / "perc_guard")
    perceptual_persist(corpus, base)
    batch = spark.createDataFrame([(50, mk())], ["doc_id", "text"])

    assert perceptual_admit_persisted(spark, base, batch).count() == 1
    os.remove(f"{base}/_meta.json")
    for call in (lambda: perceptual_admit_persisted(spark, base, batch),
                 lambda: perceptual_append_persisted(batch, base),
                 lambda: perceptual_delete_persisted(spark, base, [0])):
        with pytest.raises(substrate.SubstrateMetaError,
                           match="_meta.json is missing"):
            call()


def test_perceptual_repersist_crash_before_sidecar(spark, tmp_path,
                                                   monkeypatch):
    """Crash injection between the face write and the sidecar write of
    a re-persist that changes the geometry (fixed 256 -> 'auto' 16):
    the admission of an exact copy raises instead of probing the stale
    bucket count and admitting the copy."""
    from vectordb_explorations_spark.operators.perceptual import (
        perceptual_admit_persisted, perceptual_persist)
    from vectordb_explorations_spark.sources import substrate

    rng = np.random.default_rng(73)
    vocab = ["alpha", "bridge", "copper", "delta", "ember", "flint"]
    mk = lambda: " ".join(vocab[i] for i in rng.integers(0, 6, size=60))
    texts = [mk() for _ in range(4)]
    corpus = spark.createDataFrame(list(enumerate(texts)),
                                   ["doc_id", "text"])
    base = str(tmp_path / "perc_crash")
    perceptual_persist(corpus, base, buckets=substrate.AUTO_BUCKETS_CAP)

    real_write = substrate.write_json_sidecar

    def crash_on_ready(spark_, path, meta):
        if meta.get("state") == "ready":
            raise RuntimeError("injected crash before the sidecar write")
        real_write(spark_, path, meta)

    with monkeypatch.context() as m:
        m.setattr(substrate, "write_json_sidecar", crash_on_ready)
        with pytest.raises(RuntimeError, match="injected crash"):
            perceptual_persist(corpus, base)
    buckets = {r["bucket"] for r in spark.read.parquet(base)
               .select("bucket").distinct().collect()}
    assert buckets and max(buckets) < 16   # the new geometry landed

    copy = spark.createDataFrame([(100, texts[1])], ["doc_id", "text"])
    with pytest.raises(substrate.SubstrateMetaError):
        perceptual_admit_persisted(spark, base, copy).collect()


def test_perceptual_delete_persisted_forgets_image(spark, tmp_path):
    """GDPR contract on the perceptual substrate: a re-upload rejected
    against an ingested image becomes ADMITTED after that image is
    erased; other docs' bucket files stay byte-stable."""
    import os

    from vectordb_explorations_spark.operators.perceptual import (
        perceptual_admit_persisted, perceptual_delete_persisted,
        perceptual_persist)

    rng = np.random.default_rng(97)
    vocab = ["alpha", "bridge", "copper", "delta", "ember", "flint"]
    mk = lambda: " ".join(vocab[i] for i in rng.integers(0, 6, size=60))
    corpus_texts = [mk() for _ in range(5)]
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus_texts)], ["doc_id", "text"])
    base = str(tmp_path / "perc_gdpr")
    perceptual_persist(corpus, base)

    batch = spark.createDataFrame([(100, corpus_texts[3])],
                                  ["doc_id", "text"])
    first = perceptual_admit_persisted(spark, base, batch).collect()[0]
    assert not first.admitted and first.matched_old == 3

    def dir_state(p):
        return {os.path.join(r, f): os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(p) for f in fs
                if f.endswith(".parquet")}

    before = dir_state(base)
    n = perceptual_delete_persisted(spark, base, [3])
    assert n == 4  # two 32-bit dHash words -> four 16-bit band rows

    second = perceptual_admit_persisted(spark, base, batch).collect()[0]
    assert second.admitted and second.matched_old is None

    after = dir_state(base)
    kept = [fp for fp in before if fp in after
            and after[fp] == before[fp]]
    assert kept, "every directory rewritten — bounded-touch violated"


def test_perceptual_append_persisted_closes_the_loop(spark, tmp_path):
    """persist -> admit fresh -> append -> a re-upload of the appended
    image is rejected against it; appended substrate rows bit-equal a
    from-scratch rebuild."""
    from vectordb_explorations_spark.operators.perceptual import (
        perceptual_admit_persisted, perceptual_append_persisted,
        perceptual_persist)

    rng = np.random.default_rng(131)
    vocab = ["alpha", "bridge", "copper", "delta", "ember", "flint"]
    mk_text = lambda: " ".join(vocab[i]
                               for i in rng.integers(0, 6, size=60))
    t0, t1 = mk_text(), mk_text()
    mk = lambda rows: spark.createDataFrame(rows, ["doc_id", "text"])
    base = str(tmp_path / "perc_loop")
    perceptual_persist(mk([(0, t0)]), base)

    batch1 = mk([(1, t1)])
    out1 = perceptual_admit_persisted(spark, base, batch1).collect()[0]
    assert out1.admitted
    perceptual_append_persisted(batch1, base)

    out2 = perceptual_admit_persisted(spark, base,
                                      mk([(2, t1)])).collect()[0]
    assert not out2.admitted and out2.matched_old == 1

    base2 = str(tmp_path / "perc_loop_rebuild")
    perceptual_persist(mk([(0, t0), (1, t1)]), base2)
    a = sorted(map(tuple, spark.read.parquet(base).collect()))
    b = sorted(map(tuple, spark.read.parquet(base2).collect()))
    assert a == b


def test_phash_auto_buckets_policy(spark, tmp_path):
    """Corpus-adaptive perceptual substrate geometry: the build stamps
    the RESOLVED 'auto' bucket count (the shared policy is pinned in
    tests/test_substrate.py) into the sidecar, admission reads it back,
    and admission verdicts are bucket-count-independent."""
    import numpy as np

    from vectordb_explorations_spark.operators.perceptual import (
        perceptual_admit_persisted, perceptual_persist)
    from vectordb_explorations_spark.sources import substrate

    rng = np.random.default_rng(92)
    vocab = ["alpha", "bridge", "copper", "delta", "ember", "flint"]
    mk_text = lambda: " ".join(vocab[i]
                               for i in rng.integers(0, 6, size=60))
    corpus_texts = [mk_text() for _ in range(5)]
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus_texts)],
        ["doc_id", "text"])
    base = str(tmp_path / "perc_auto")
    perceptual_persist(corpus, base)
    meta = substrate.read_meta(spark, base, "test")
    assert meta["build"]["buckets"] == 16    # resolved, not 'auto'
    # every bucket value in the face respects the resolved modulus
    vals = {r["bucket"] for r in
            spark.read.parquet(base).select("bucket")
            .distinct().collect()}
    assert vals and all(0 <= v < 16 for v in vals)
    # verdicts are geometry-independent: the same admission against a
    # fixed-cap substrate returns identical rows
    base_fixed = str(tmp_path / "perc_fixed")
    perceptual_persist(corpus, base_fixed,
                       buckets=substrate.AUTO_BUCKETS_CAP)
    batch = spark.createDataFrame(
        [(100, corpus_texts[2]), (101, mk_text())], ["doc_id", "text"])
    got_auto = sorted(map(tuple, perceptual_admit_persisted(
        spark, base, batch).collect()))
    got_fixed = sorted(map(tuple, perceptual_admit_persisted(
        spark, base_fixed, batch).collect()))
    assert got_auto == got_fixed
