"""Metadata core of the seven persisted substrates (MinHash, perceptual,
MaxSim, IVF-flat, IVF-PQ, IVF-SQ8, HNSW): one sidecar, one bucket policy,
one pruned probe read.

The sidecar contract
--------------------
Each substrate keeps ONE JSON sidecar, ``{base}/_meta.json`` (the
underscore keeps it out of Spark's partition discovery). It is written
and read only through this module, via the Hadoop FS API, so it lives on
whatever filesystem the layout does. Keys:

- ``state``: ``"building"`` or ``"ready"``. A persist writes
  ``{"state": "building"}`` before its first face write; an append or
  delete rewrites the current stamp with ``state`` set to
  ``"building"`` and ``op`` set to its own name (so it keeps ``build``).
  All of them write the full ``ready`` stamp last. A crash in between
  leaves ``building`` behind.
- ``build``: the build's geometry (bucket count, banding, hyperplanes,
  chunking, IVF/HNSW replication ``assign_n``). Serve and maintenance
  read it from here; callers never pass it.
- ``rows``: the substrate's row count, maintained by persist, append
  and delete: documents (MinHash, perceptual, MaxSim), vectors (IVF-PQ,
  IVF-SQ8: the N their refine policy resolves against), index rows
  (IVF-flat, one per (vector, list) replica) or graph memberships
  (HNSW, one per (vector, shard) replica).
- ``schemas``: the read-back schema of each hive face, keyed by face
  name (``""`` is the base directory itself), so a probe skips the
  footer read and partition-type inference.
- ``cells`` (HNSW only): the routing table, one entry per k-means cell
  with its centroid and the live shard ids that share it, ascending
  (``null`` for a hash-sharded index). Persist stamps it; append and
  delete re-read it from the rewritten layout, so a shard a delete
  empties leaves it. The routed probe and the append route from it.

A missing sidecar, an unreadable or truncated one, or a ``building``
one raises :class:`SubstrateMetaError` on admit, serve, append and
delete: no path falls back to a default geometry, a recount or schema
inference; so does a ``ready`` one without a key its reader needs
(:func:`stamped`). The one exception is replay: an append or delete
accepts a ``building`` sidecar that carries ``build`` and was left by
the same call (``op``), and ends by writing ``ready``. An interrupted
persist (``building`` without ``build``) only a rebuild can finish. An
append into a path that holds no layout at all (no sidecar, no
partition directory) starts a new one (:func:`read_append_meta`).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F

META = "_meta.json"

AUTO_BUCKETS_CAP = 256    # 'auto' never exceeds this many buckets
AUTO_BUCKETS_TARGET = 64  # 'auto' keeps >= this many rows per bucket


class SubstrateMetaError(RuntimeError):
    """A persisted substrate's sidecar or face is missing, unreadable or
    left mid-build: the layout cannot be served as built."""


def meta_path(base: str) -> str:
    return base.rstrip("/") + "/" + META


def _fs(spark: SparkSession, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def write_json_sidecar(spark: SparkSession, path: str, meta: dict) -> None:
    """One-file JSON write through the Hadoop FS stream — not a Spark
    job (a one-row ``.write.text`` costs seconds of job and commit
    overhead; the stream write is ~0.02 s)."""
    fs, p = _fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(meta).encode("utf-8")))
    finally:
        out.close()


def read_json_sidecar(spark: SparkSession, path: str) -> dict | None:
    """The parsed sidecar; None only when the file is absent. An
    unreadable file or truncated JSON raises SubstrateMetaError."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return None
    try:
        st = fs.open(p)
        try:
            s = spark._jvm.org.apache.commons.io.IOUtils.toString(
                st, "UTF-8")
        finally:
            st.close()
        return json.loads(s)
    except Exception as e:
        raise SubstrateMetaError(
            f"{path} is unreadable ({e}); rebuild the substrate") from e


def require_face(spark: SparkSession, path: str, op: str) -> None:
    """Raise SubstrateMetaError when a face directory is absent."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        raise SubstrateMetaError(
            f"{op}: {path} is missing; rebuild the substrate")


def begin_persist(spark: SparkSession, base: str) -> None:
    """A persist's first write: remove whatever ``base`` held, then
    mark it ``building``. The persist then writes its faces into the
    empty base, a face that IS the base directory with mode('append'):
    a mode('overwrite') write would delete the marker along with the
    old files, and a crash inside that write would leave no sidecar."""
    fs, p = _fs(spark, base)
    fs.delete(p, True)
    write_building(spark, base)


def write_building(spark: SparkSession, base: str,
                   meta: dict | None = None, op: str | None = None) -> None:
    """Mark the substrate mid-write: a persist passes no ``meta``; an
    append or delete passes the current stamp and its own name, so a
    replay of that call (and no other call) can read ``build``."""
    write_json_sidecar(spark, meta_path(base),
                       {**(meta or {}), "state": "building",
                        **({"op": op} if op else {})})


def write_ready(spark: SparkSession, base: str, meta: dict) -> None:
    meta = {k: v for k, v in meta.items() if k != "op"}
    write_json_sidecar(spark, meta_path(base), {**meta, "state": "ready"})


def stamp(spark: SparkSession, base: str, build: dict, rows: int,
          faces: dict[str, int], **keys) -> None:
    """A persist's last write: the ``ready`` sidecar with the build
    geometry, the row count, each face's read-back schema (``faces``
    maps face name to its number of hive levels) and the substrate's
    own ``keys``."""
    write_ready(spark, base, {"build": build, "rows": int(rows),
                              "schemas": face_schemas(spark, base, faces),
                              **keys})


def stamped(base: str, meta: dict, key: str, op: str):
    """``meta[key]``, or SubstrateMetaError when the stamp lacks it."""
    if key not in meta:
        raise SubstrateMetaError(
            f"{op}: {meta_path(base)} stamps no {key!r}; rebuild the "
            f"substrate with its persist function")
    return meta[key]


def face_schemas(spark: SparkSession, base: str,
                 faces: dict[str, int]) -> dict[str, str]:
    """The ``schemas`` sidecar value: each non-empty face's read-back
    schema as JSON (``faces`` maps face name to its number of hive
    levels)."""
    schemas = {}
    for face, levels in faces.items():
        schema = hive_leaf_schema(spark, _face_dir(base, face), levels)
        if schema is not None:
            schemas[face] = schema.json()
    return schemas


def face_schema(meta: dict, face: str):
    """The StructType a sidecar stamps for ``face``, or None."""
    from pyspark.sql.types import StructType

    s = meta.get("schemas", {}).get(face)
    return StructType.fromJson(json.loads(s)) if s else None


def read_meta(spark: SparkSession, base: str, op: str,
              replay: bool = False) -> dict:
    """The ``ready`` sidecar, or SubstrateMetaError. ``replay=True``
    (appends and deletes) also accepts the ``building`` marker an
    interrupted run of the same ``op`` left."""
    path = meta_path(base)
    meta = read_json_sidecar(spark, path)
    if meta is None:
        raise SubstrateMetaError(
            f"{op}: {path} is missing; rebuild the substrate with its "
            f"persist function")
    if meta.get("state") != "ready" and not (
            replay and "build" in meta and meta.get("op", op) == op):
        raise SubstrateMetaError(
            f"{op}: {path} says state={meta.get('state')!r}"
            f"{' after ' + meta['op'] if 'op' in meta else ''}; a persist, "
            f"append or delete was interrupted. Replay that call, or "
            f"rebuild")
    return meta


def read_append_meta(spark: SparkSession, base: str, op: str,
                     build: dict) -> dict:
    """:func:`read_meta` with ``replay=True`` for an append, except that
    a path holding no layout yet (no sidecar and no partition directory:
    a streaming ingest's first batch) starts a new one with ``build``,
    no rows and no schemas."""
    if read_json_sidecar(spark, meta_path(base)) is None:
        fs, p = _fs(spark, base)
        if not fs.exists(p) or not any(
                st.isDirectory() and "=" in st.getPath().getName()
                for st in fs.listStatus(p)):
            return {"build": build, "rows": 0, "schemas": {}}
    return read_meta(spark, base, op, replay=True)


def read_rows(spark: SparkSession, base: str) -> int:
    """The ``ready`` sidecar's row count."""
    return int(read_meta(spark, base, "read_rows")["rows"])


def read_face(spark: SparkSession, base: str, meta: dict,
              face: str = "") -> DataFrame:
    """A whole face, read with the schema the sidecar stamps: no
    footer read and no partition inference, and a face whose rows were
    all deleted reads as an empty frame."""
    schema = face_schema(meta, face)
    if schema is None:
        raise SubstrateMetaError(
            f"{meta_path(base)} stamps no schema for face {face!r}: the "
            f"substrate was persisted empty; rebuild it")
    return spark.read.schema(schema).parquet(_face_dir(base, face))


def remove_dirs(spark: SparkSession, base: str, subdirs) -> None:
    """Recursively delete ``{base}/{sub}`` for each ``sub`` through the
    filesystem of ``base`` itself (``Path.getFileSystem``), not the
    session's default filesystem, so a ``file://`` or other-scheme
    layout loses its emptied partition directories however
    ``fs.defaultFS`` is set."""
    fs, _ = _fs(spark, base)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    for sub in subdirs:
        fs.delete(jpath(f"{base.rstrip('/')}/{sub}"), True)


def auto_buckets(n: int) -> int:
    """Corpus-adaptive bucket count for a persisted banded face: a power
    of two holding >= AUTO_BUCKETS_TARGET rows per bucket directory,
    floor 16, cap AUTO_BUCKETS_CAP. A fixed 256 would put n_bands x 256
    directories under every substrate, a multi-second commit and
    listing floor at small scale. Verdicts do not depend on the count:
    the bucket only routes, candidates still join on the full band
    key."""
    if n <= 0:
        return 16
    p = 1 << max(0, (n // AUTO_BUCKETS_TARGET).bit_length() - 1)
    return max(16, min(AUTO_BUCKETS_CAP, p))


def _face_dir(base: str, face: str) -> str:
    return f"{base}/{face}" if face else base


def read_probe(spark: SparkSession, base: str, meta: dict, face: str,
               levels: list[str], keys) -> DataFrame:
    """Rows of ``face`` whose leading hive partition values are one of
    ``keys`` (tuples of ints aligned with ``levels``; one or two
    levels). Only the probed directories are listed
    (:func:`read_hive_pruned`, with the sidecar's schema); no match
    reads as an empty frame. The per-level isin conjuncts are what the
    file listing prunes on (PartitionFilters); for two levels a packed
    ``a * pack + b`` isin keeps the probe exact inside the pruned
    rectangle. One isin, not an OR-chain: an OR over hundreds of pairs
    overflows Catalyst's expression-tree conversion."""
    keys = {tuple(int(v) for v in k) for k in keys}
    d = _face_dir(base, face)
    idx = read_hive_pruned(spark, d, levels, keys,
                           schema=face_schema(meta, face))
    if idx is None:
        idx = spark.read.parquet(d).limit(0)
    pred = None
    for i, c in enumerate(levels):
        e = F.col(c).isin(sorted({k[i] for k in keys}))
        pred = e if pred is None else pred & e
    if len(levels) == 2:
        # every row the second-level isin keeps is below pack there
        pack = max((k[1] for k in keys), default=0) + 1
        pred = pred & (F.col(levels[0]) * pack + F.col(levels[1])).isin(
            sorted(x * pack + y for x, y in keys))
    return idx.where(pred)


def read_hive_pruned(spark: SparkSession, base_dir: str,
                     level_names: list[str],
                     wanted, schema=None) -> DataFrame | None:
    """Read ONLY the hive partition directories whose leading partition
    values appear in ``wanted`` (a set of tuples of stringified values,
    aligned with ``level_names``) — driver-side file-listing pruning
    for probe-shaped reads.

    ``spark.read.parquet(base_dir)`` discovers the FULL partition tree
    before PartitionFilters prune: one recursive listing of every leaf
    directory per read (3.4 s of a 5.7 s admission on a 1,024-directory
    banded face at sf0.1), not amortized by the file-status cache. This
    walks the tree top-down with one listStatus per matched directory,
    hands Spark the matched paths with ``basePath`` so partition columns
    still parse, and lets deeper levels discover only inside the probed
    subtree. The caller's predicates still apply as PartitionFilters, so
    results equal the full read; the listing is bounded by the probe
    instead of the corpus.

    ``schema`` (the read-back schema a sidecar carries) also skips the
    per-call footer read and partition-type inference.

    Partition values are matched by ``str(v)`` equality against the raw
    directory suffix, which is exact only for integers and strings that
    need no hive URL-escaping. A float, NULL or escapable value would
    silently prune everything; every substrate face partitions its
    probed levels on integers.

    Returns ``None`` when no probed directory exists.
    """
    jvm = spark._jvm
    jconf = spark._jsc.hadoopConfiguration()

    def _ls_dirs(path: str) -> list[str]:
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(jconf)
        if not fs.exists(p):
            return []
        return [st.getPath().toString() for st in fs.listStatus(p)
                if st.isDirectory()]

    wanted = {tuple(str(v) for v in t) for t in wanted}
    prefixes: dict[tuple, str] = {(): base_dir}
    for depth, name in enumerate(level_names):
        want_prefix = {t[:depth + 1] for t in wanted}
        nxt: dict[tuple, str] = {}
        for pref, path in prefixes.items():
            for child in _ls_dirs(path):
                leaf = child.rsplit("/", 1)[-1]
                if not leaf.startswith(name + "="):
                    continue
                key = pref + (leaf.split("=", 1)[1],)
                if key in want_prefix:
                    nxt[key] = child
        prefixes = nxt
        if not prefixes:
            return None
    reader = spark.read.option("basePath", base_dir)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*sorted(prefixes.values()))


def hive_leaf_schema(spark: SparkSession, base_dir: str,
                     n_levels: int):
    """The read-back schema of a hive-partitioned table, captured from
    ONE leaf directory instead of a full-tree discovery: walk
    ``n_levels`` down taking the first ``name=value`` directory at each
    level (stray ``_temporary``/staging directories are skipped), then
    read that leaf with ``basePath`` so partition columns parse with the
    inference a full read applies. Partition-column types come from that
    one leaf's directory names — exact for the all-integer bucket/band
    levels used here. Returns None on an empty table."""
    jvm = spark._jvm
    jconf = spark._jsc.hadoopConfiguration()
    path = base_dir
    for _ in range(n_levels):
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(jconf)
        if not fs.exists(p):
            return None
        dirs = sorted(st.getPath().toString() for st in fs.listStatus(p)
                      if st.isDirectory()
                      and "=" in st.getPath().getName())
        if not dirs:
            return None
        path = dirs[0]
    return (spark.read.option("basePath", base_dir)
            .parquet(path).schema)
