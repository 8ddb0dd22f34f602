"""The persisted-substrate metadata core (sources/substrate.py): the
shared 'auto' bucket policy, the sidecar states on the MaxSim and ANN
substrates, crash injection between the writes of the ANN persists and
appends, and partition-directory removal through the layout's own
filesystem."""

import pytest

from vectordb_explorations_spark.sources import substrate


def test_auto_buckets_policy():
    """>= AUTO_BUCKETS_TARGET rows per bucket, a power of two, floor
    16, cap AUTO_BUCKETS_CAP — the one policy MinHash and perceptual
    builds share."""
    assert substrate.auto_buckets(0) == 16
    assert substrate.auto_buckets(500) == 16
    assert substrate.auto_buckets(5000) == 64
    assert substrate.auto_buckets(16384) == 256
    assert substrate.auto_buckets(10_000_000) == 256


def test_maxsim_sidecar_states_raise(spark, sf_dir, tmp_path):
    """MaxSim serve, append and delete raise on a missing sidecar;
    serve and delete also raise on an interrupted persist's
    ``building`` marker, which carries no build geometry for an append
    to replay with."""
    import os

    from vectordb_explorations_spark.operators import latesim as LS
    from vectordb_explorations_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir)
    base = str(tmp_path / "maxsim_states")
    LS.maxsim_persist(docs.limit(20), base)
    meta = substrate.read_meta(spark, base, "test")
    assert meta["state"] == "ready" and meta["rows"] > 0
    assert set(meta["build"]) == {"win", "stride", "num_tables",
                                  "num_planes", "seed"}
    assert "index" in meta["schemas"]

    os.makedirs(tmp_path / "src")
    stream = (spark.readStream.schema(docs.schema)
              .parquet(str(tmp_path / "src")))
    calls = (lambda: LS.maxsim_banded_persisted(spark, base),
             lambda: LS.maxsim_append_ingest(spark, stream, base),
             lambda: LS.maxsim_delete_docs(spark, base, [0]))
    substrate.write_building(spark, base)
    for call in calls:
        with pytest.raises(substrate.SubstrateMetaError, match="building"):
            call()
    os.remove(substrate.meta_path(base))
    for call in calls:
        with pytest.raises(substrate.SubstrateMetaError, match="missing"):
            call()


K = 5


def _ann_layout(spark, sf_dir, tmp_path, layout):
    """Persist one ANN layout over the fixture embeddings; return its
    path and a serve call over five sample queries."""
    from vectordb_explorations_spark.operators import ann, hnsw, pq, sq
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    qs = sample_queries(emb, 5).cache()
    path = str(tmp_path / layout)
    if layout == "hnsw":
        hnsw.hnsw_persist_partitioned(
            hnsw.hnsw_build(emb, num_shards=4, shard_by="kmeans"), path)
        return path, lambda: hnsw.hnsw_probe_partitioned(
            spark, path, qs, K, probe_shards="auto")
    if layout == "ivf":
        assigned, cents = ann.ivf_build(emb, num_centroids=8)
        ann.ivf_persist_partitioned(assigned, path)
        return path, lambda: ann.ivf_probe_partitioned(
            spark, path, cents, qs, K, nprobe=3)
    if layout == "ivfpq":
        codes, cents, books = pq.ivfpq_build(emb, num_centroids=8,
                                             m_subspaces=8, k_codes=16)
        pq.ivfpq_persist_partitioned(codes, path)
        return path, lambda: pq.ivfpq_probe_partitioned(
            spark, path, cents, books, qs, K, nprobe=3, refine_with=emb,
            refine_factor="auto")
    codes, cents, mins, maxs = sq.ivfsq_build(emb, num_centroids=8)
    sq.ivfsq_persist_partitioned(codes, path)
    return path, lambda: sq.ivfsq_probe_partitioned(
        spark, path, cents, mins, maxs, qs, K, nprobe=3, refine_with=emb,
        refine_factor="auto")


@pytest.mark.parametrize("layout", ["ivf", "hnsw", "ivfpq", "ivfsq"])
def test_ann_probe_sidecar_states_raise(spark, sf_dir, tmp_path, layout):
    """The IVF-flat, HNSW, IVF-PQ and IVF-SQ8 persists stamp assign_n,
    rows and the layout schema; their probes raise on a ``building``,
    a truncated and a missing sidecar instead of inferring the schema
    or recounting the layout."""
    import os

    from vectordb_explorations_spark.operators.ann import IVF_ASSIGN_N

    path, serve = _ann_layout(spark, sf_dir, tmp_path, layout)
    assert serve().collect()
    meta = substrate.read_meta(spark, path, "test")
    assert meta["build"] == {"assign_n": IVF_ASSIGN_N}
    assert meta["rows"] > 0 and "" in meta["schemas"]

    substrate.write_building(spark, path)
    with pytest.raises(substrate.SubstrateMetaError, match="building"):
        serve()
    with open(substrate.meta_path(path), "w") as f:
        f.write('{"state": "rea')
    with pytest.raises(substrate.SubstrateMetaError, match="unreadable"):
        serve()
    os.remove(substrate.meta_path(path))
    with pytest.raises(substrate.SubstrateMetaError, match="missing"):
        serve()


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def test_hnsw_append_crash_between_faces(spark, sf_dir, tmp_path,
                                         monkeypatch):
    """Crash injection between the index overwrite and the members
    write of an HNSW append: the sidecar stays ``building`` and the
    probe raises. The replay skips the ids the rebuilt shards already
    hold, so the layout then serves, counts and deletes exactly as an
    uninterrupted append's does."""
    from pyspark.sql import DataFrameWriter, functions as F

    from vectordb_explorations_spark.operators.hnsw import (
        _members_path, hnsw_append_partitioned, hnsw_build,
        hnsw_delete_partitioned, hnsw_persist_partitioned,
        hnsw_probe_partitioned)
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    batch = emb.where(F.col("vec_id") % 10 == 0)
    idx = hnsw_build(emb.where(F.col("vec_id") % 10 != 0), num_shards=4,
                     shard_by="kmeans").localCheckpoint(eager=True)
    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    for p in (crashed, clean):
        hnsw_persist_partitioned(idx, p)
    hnsw_append_partitioned(spark, clean, batch)

    real_parquet = DataFrameWriter.parquet

    def crash_on_members(self, path, *args, **kwargs):
        if str(path).endswith("_members"):
            raise RuntimeError("injected crash before the members write")
        return real_parquet(self, path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", crash_on_members)
        with pytest.raises(RuntimeError, match="injected crash"):
            hnsw_append_partitioned(spark, crashed, batch)
    qs = sample_queries(emb, 5).cache()
    serve = lambda p: hnsw_probe_partitioned(  # noqa: E731
        spark, p, qs, K, probe_shards="auto")
    with pytest.raises(substrate.SubstrateMetaError, match="building"):
        serve(crashed)

    hnsw_append_partitioned(spark, crashed, batch)  # the replay
    assert _sorted_rows(serve(crashed)) == _sorted_rows(serve(clean))
    assert (substrate.read_rows(spark, crashed)
            == substrate.read_rows(spark, clean))
    members = lambda p: _sorted_rows(  # noqa: E731
        spark.read.parquet(_members_path(p)).select("shard", "vec_id"))
    assert members(crashed) == members(clean)

    victims = [int(r[0]) for r in batch.select("vec_id").limit(3).collect()]
    victims += [int(r[0]) for r in emb.where(F.col("vec_id") % 10 == 1)
                .select("vec_id").limit(3).collect()]
    assert (hnsw_delete_partitioned(spark, crashed, victims)
            == hnsw_delete_partitioned(spark, clean, victims))
    assert _sorted_rows(serve(crashed)) == _sorted_rows(serve(clean))
    assert members(crashed) == members(clean)


@pytest.mark.parametrize("layout", ["ivfpq", "ivfsq"])
def test_codes_append_crash_before_ready(spark, sf_dir, tmp_path,
                                         monkeypatch, layout):
    """Crash injection between an IVF-PQ/IVF-SQ8 append's code write and
    its ``ready`` stamp: the probe raises instead of resolving its
    refine policy against the undercounted N. The replay writes the
    batch's codes again and counts ``rows`` from the marker's
    pre-append value, and the layout then serves exactly as an
    uninterrupted append's does."""
    from pyspark.sql import functions as F

    from vectordb_explorations_spark.operators import pq, sq
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    old = emb.where(F.col("vec_id") % 6 != 0)
    batch = emb.where(F.col("vec_id") % 6 == 0)
    if layout == "ivfpq":
        codes, cents, books = pq.ivfpq_build(old, num_centroids=8,
                                             m_subspaces=8, k_codes=16)
        persist = pq.ivfpq_persist_partitioned
        append = lambda p: pq.ivfpq_append_partitioned(  # noqa: E731
            p, cents, books, batch)
        serve = lambda p: pq.ivfpq_probe_partitioned(  # noqa: E731
            spark, p, cents, books, qs, K, nprobe=3, refine_with=emb,
            refine_factor="auto")
    else:
        codes, cents, mins, maxs = sq.ivfsq_build(old, num_centroids=8)
        persist = sq.ivfsq_persist_partitioned
        append = lambda p: sq.ivfsq_append_partitioned(  # noqa: E731
            p, cents, mins, maxs, batch)
        serve = lambda p: sq.ivfsq_probe_partitioned(  # noqa: E731
            spark, p, cents, mins, maxs, qs, K, nprobe=3, refine_with=emb,
            refine_factor="auto")
    qs = sample_queries(emb, 5).cache()
    codes = codes.localCheckpoint(eager=True)
    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    for p in (crashed, clean):
        persist(codes, p)
    append(clean)

    real_write = substrate.write_json_sidecar

    def crash_on_ready(spark_, path, meta):
        if meta.get("state") == "ready":
            raise RuntimeError("injected crash before the ready stamp")
        real_write(spark_, path, meta)

    with monkeypatch.context() as m:
        m.setattr(substrate, "write_json_sidecar", crash_on_ready)
        with pytest.raises(RuntimeError, match="injected crash"):
            append(crashed)
    with pytest.raises(substrate.SubstrateMetaError, match="building"):
        serve(crashed)

    append(crashed)  # the replay
    assert substrate.read_rows(spark, crashed) == emb.count()
    assert substrate.read_rows(spark, clean) == emb.count()
    assert _sorted_rows(serve(crashed)) == _sorted_rows(serve(clean))


def test_ivfpq_persist_crash_before_ready(spark, sf_dir, tmp_path,
                                          monkeypatch):
    """Crash injection after a re-persist's code write, before its
    stamp: the layout's previous ``ready`` stamp is gone (the persist
    marked it ``building`` first), so the probe raises instead of
    serving the new codes under the old stamp. Persisting again serves
    exactly as a clean persist does."""
    from pyspark.sql import DataFrameWriter

    from vectordb_explorations_spark.operators import pq
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    codes, cents, books = pq.ivfpq_build(emb, num_centroids=8,
                                         m_subspaces=8, k_codes=16)
    codes = codes.localCheckpoint(eager=True)
    qs = sample_queries(emb, 5).cache()
    serve = lambda p: pq.ivfpq_probe_partitioned(  # noqa: E731
        spark, p, cents, books, qs, K, nprobe=3, refine_with=emb,
        refine_factor="auto")
    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    for p in (crashed, clean):
        pq.ivfpq_persist_partitioned(codes, p)

    real_parquet = DataFrameWriter.parquet

    def crash_after_write(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        raise RuntimeError("injected crash after the code write")

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", crash_after_write)
        with pytest.raises(RuntimeError, match="injected crash"):
            pq.ivfpq_persist_partitioned(codes, crashed)
    with pytest.raises(substrate.SubstrateMetaError, match="building"):
        serve(crashed)

    pq.ivfpq_persist_partitioned(codes, crashed)
    assert (substrate.read_meta(spark, crashed, "test")
            == substrate.read_meta(spark, clean, "test"))
    assert _sorted_rows(serve(crashed)) == _sorted_rows(serve(clean))


def test_emptied_dirs_removed_through_the_layouts_filesystem(
        spark, sf_dir, tmp_path):
    """Deletes remove an emptied partition directory through the
    filesystem of the layout's own path, not the session's default
    filesystem: with ``fs.defaultFS`` set to a scheme no filesystem
    serves, deleting from ``file://`` layouts still removes the emptied
    IVF list and table partition, and the erased ids stop serving."""
    import os

    from pyspark.sql import functions as F

    from vectordb_explorations_spark.operators.ann import (
        ivf_build, ivf_delete_partitioned, ivf_persist_partitioned,
        ivf_probe_partitioned)
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources import load_table
    from vectordb_explorations_spark.sources.sinks import (
        delete_rows_partitioned)

    emb = load_table(spark, "embeddings", sf_dir)
    assigned, cents = ivf_build(emb, num_centroids=8)
    ivf_dir = tmp_path / "ivf"
    ivf_persist_partitioned(assigned, "file://" + str(ivf_dir))
    small = (spark.read.parquet(str(ivf_dir)).groupBy("list_id").count()
             .orderBy("count", "list_id").first()["list_id"])
    victims = sorted({int(r[0]) for r in spark.read.parquet(str(ivf_dir))
                      .where(F.col("list_id") == small)
                      .select("vec_id").collect()})
    tbl_dir = tmp_path / "tbl"
    (spark.range(40).selectExpr("id", "id % 4 AS p")
     .write.partitionBy("p").parquet("file://" + str(tbl_dir)))

    conf = spark._jsc.hadoopConfiguration()
    prev = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "nofs://unreachable")
    try:
        assert ivf_delete_partitioned(spark, "file://" + str(ivf_dir),
                                      victims) > 0
        assert delete_rows_partitioned(spark, "file://" + str(tbl_dir),
                                       ["p"], "id",
                                       list(range(1, 40, 4))) == 10
    finally:
        conf.set("fs.defaultFS", prev)
    assert not os.path.isdir(ivf_dir / f"list_id={small}")
    assert not os.path.isdir(tbl_dir / "p=1")
    served = ivf_probe_partitioned(spark, str(ivf_dir), cents,
                                   sample_queries(emb, 5), K, nprobe=8)
    assert not {r["vec_id"] for r in served.collect()} & set(victims)


@pytest.mark.parametrize("family", ["ivf", "ivfpq", "ivfsq"])
def test_repeated_list_row_takes_one_slot(spark, sf_dir, family):
    """A replayed append can leave an id twice in one list. The
    IVF-family scans score one row per id, so the repeat cannot take
    two of a query's top-k slots: searching a layout with its
    best match repeated serves what the layout without the repeat
    serves (two lists, each holding every vector; one probed)."""
    from pyspark.sql import functions as F

    from vectordb_explorations_spark.operators import ann, pq, sq
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    qs = sample_queries(emb, 1).cache()
    if family == "ivf":
        layout, cents = ann.ivf_build(emb, num_centroids=2)
        search = lambda df: ann.ivf_search(  # noqa: E731
            df, cents, qs, K, nprobe=1)
    elif family == "ivfpq":
        layout, cents, books = pq.ivfpq_build(emb, num_centroids=2,
                                              m_subspaces=8, k_codes=16)
        search = lambda df: pq.ivfpq_search(  # noqa: E731
            df, cents, books, qs, K, nprobe=1)
    else:
        layout, cents, mins, maxs = sq.ivfsq_build(emb, num_centroids=2)
        search = lambda df: sq.ivfsq_search(  # noqa: E731
            df, cents, mins, maxs, qs, K, nprobe=1)
    layout = layout.localCheckpoint(eager=True)
    served = _sorted_rows(search(layout.coalesce(1)))
    best = min(served, key=lambda r: r[3])[1]
    repeated = layout.unionByName(layout.where(F.col("vec_id") == best))
    assert _sorted_rows(search(repeated.coalesce(1))) == served
    assert len(served) == K


def _live_cells(spark, path):
    """(centroid, shard ids) per cell, read from the HNSW layout's own
    (shard, centroid) rows."""
    cells = {}
    for r in spark.read.parquet(path).select("shard", "centroid").collect():
        cells.setdefault(tuple(r["centroid"]), []).append(int(r["shard"]))
    return sorted((list(c), sorted(s)) for c, s in cells.items())


def _stamped_cells(spark, path):
    cells = substrate.read_meta(spark, path, "test")["cells"]
    assert [c["shards"] for c in cells] == sorted(
        sorted(c["shards"]) for c in cells)  # ascending, by first shard
    return sorted((c["centroid"], c["shards"]) for c in cells)


def test_hnsw_cells_stamp_tracks_the_layout(spark, sf_dir, tmp_path):
    """The HNSW sidecar's ``cells`` stamp equals the layout's live
    (shard, centroid) rows after persist, after append, and after a
    delete that empties whole shards: an emptied sub-shard leaves its
    cell's shard list, and a cell left with no shard leaves the
    table."""
    import pickle

    from pyspark.sql import functions as F

    from vectordb_explorations_spark.operators.hnsw import (
        hnsw_append_partitioned, hnsw_build, hnsw_delete_partitioned,
        hnsw_persist_partitioned)
    from vectordb_explorations_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    path = str(tmp_path / "hnsw_cells")
    hnsw_persist_partitioned(
        hnsw_build(emb.where(F.col("vec_id") % 10 != 0), num_shards=4,
                   shard_by="kmeans", shard_cap=100), path)
    live = _live_cells(spark, path)
    assert any(len(s) > 1 for _, s in live)  # a split cell
    assert _stamped_cells(spark, path) == live

    hnsw_append_partitioned(spark, path, emb.where(F.col("vec_id") % 10 == 0))
    assert _stamped_cells(spark, path) == _live_cells(spark, path) == live

    # empty one sub-shard of a split cell, and every shard of the cell
    # with the fewest memberships
    split = next(s for _, s in live if len(s) > 1)
    gone = {split[-1]} | set(min(
        (s for _, s in live if s != split),
        key=lambda s: len(s)))
    victims = set()
    for r in (spark.read.parquet(path).where(F.col("shard").isin(sorted(gone)))
              .select("blob").collect()):
        victims |= {int(i) for i in pickle.loads(r["blob"]).ids}
    hnsw_delete_partitioned(spark, path, sorted(victims))
    after = _live_cells(spark, path)
    assert not gone & {sh for _, s in after for sh in s}
    assert len(after) == len(live) - 1
    assert _stamped_cells(spark, path) == after


@pytest.mark.parametrize("call", ["probe", "append"])
def test_hnsw_sidecar_without_cells_raises(spark, sf_dir, tmp_path, call):
    """A ready HNSW sidecar that stamps no cell table raises on the
    routed probe and on append, which route from it; nothing falls back
    to reading the centroids from the layout."""
    from pyspark.sql import functions as F

    from vectordb_explorations_spark.operators.hnsw import (
        hnsw_append_partitioned)
    from vectordb_explorations_spark.sources import load_table

    path, serve = _ann_layout(spark, sf_dir, tmp_path, "hnsw")
    meta = substrate.read_meta(spark, path, "test")
    substrate.write_ready(spark, path,
                          {k: v for k, v in meta.items() if k != "cells"})
    emb = load_table(spark, "embeddings", sf_dir)
    run = serve if call == "probe" else lambda: hnsw_append_partitioned(
        spark, path, emb.where(F.col("vec_id") % 50 == 0))
    with pytest.raises(substrate.SubstrateMetaError, match="'cells'"):
        run()


def test_hnsw_unrouted_probe_reads_no_cells(spark, sf_dir, tmp_path):
    """An unrouted probe (``probe_shards=None``) never routes, so it
    serves the same rows from a ready sidecar that stamps no cell table
    as from one that does."""
    from vectordb_explorations_spark.operators.hnsw import (
        hnsw_probe_partitioned)
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources import load_table

    path, _ = _ann_layout(spark, sf_dir, tmp_path, "hnsw")
    qs = sample_queries(load_table(spark, "embeddings", sf_dir), 5)

    def serve():
        return sorted(hnsw_probe_partitioned(spark, path, qs, K,
                                             probe_shards=None).collect())

    want = serve()
    meta = substrate.read_meta(spark, path, "test")
    substrate.write_ready(spark, path,
                          {k: v for k, v in meta.items() if k != "cells"})
    assert want and serve() == want


@pytest.mark.parametrize("call", ["probe", "append"])
def test_emptied_hnsw_layout(spark, sf_dir, tmp_path, call):
    """A routed HNSW layout whose every vector was deleted stamps an
    empty cell table: a routed probe serves an empty frame with the
    served dtypes, as an empty query batch does, and an append raises
    SubstrateMetaError naming the path, since no live cell is left to
    route the batch to."""
    import re

    from pyspark.sql import functions as F

    from vectordb_explorations_spark.operators.hnsw import (
        hnsw_append_partitioned, hnsw_build, hnsw_delete_partitioned,
        hnsw_persist_partitioned, hnsw_probe_partitioned)
    from vectordb_explorations_spark.operators.knn import sample_queries
    from vectordb_explorations_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    vecs = emb.orderBy("vec_id").limit(100)
    ids = [int(r[0]) for r in vecs.select("vec_id").collect()]
    assert len(ids) == 100
    path = str(tmp_path / "hnsw_emptied")
    hnsw_persist_partitioned(
        hnsw_build(vecs, num_shards=2, shard_by="kmeans"), path)
    assert hnsw_delete_partitioned(spark, path, ids) >= 100
    assert substrate.read_meta(spark, path, "test")["cells"] == []
    if call == "probe":
        served = hnsw_probe_partitioned(spark, path,
                                        sample_queries(emb, 5), K)
        assert served.dtypes == [("query_id", "bigint"),
                                 ("vec_id", "bigint"), ("dist", "double"),
                                 ("rank", "int")]
        assert served.collect() == []
    else:
        with pytest.raises(substrate.SubstrateMetaError,
                           match=f"{re.escape(path)}.*no live cell"):
            hnsw_append_partitioned(spark, path,
                                    emb.where(F.col("vec_id") % 50 == 0))
