"""The persisted-substrate metadata core (sources/substrate.py): the
shared 'auto' bucket policy, and the sidecar states on the MaxSim
substrate."""

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
