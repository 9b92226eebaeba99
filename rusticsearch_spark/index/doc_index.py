"""Primary-key → doc_id sidecar (the reference's document index).

The reference mirrors an in-memory key→DocId map to ``k<doc_key>``
RocksDB keys so upserts and deletes are point lookups
(/root/reference/src/search/backends/rocksdb/document_index.rs:16-91,
key_builder.rs:118-134).  The Spark analogue is a narrow per-job
``doc_index`` table ``(key, doc_id)`` partitioned by a GLOBAL
key-hash bucket: resolving a batch of keys reads only the matching
``kbucket=`` partition dirs — O(corpus / kbuckets · touched buckets)
instead of the full docs scan, which was the one remaining
O(corpus)-per-micro-batch cliff in the streaming upsert/delete path.

The bucket hash is xxhash64(key) mod kbuckets — stable across batch
and streaming jobs (unlike the doc-id bucket, whose namespace shifts
per streaming batch), so one key always lands in the same partition
dir of every job.  Every writer (build, merge, streaming batch)
writes the sidecar before it commits its job; indexes older than
that are refused by the ``IndexLayout.read_config`` format gate.
"""

from __future__ import annotations

import os
from typing import Any, Callable, Iterable, List, Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .layout import IndexConfig, IndexLayout


def key_bucket_col(key_col, kbuckets: int):
    """key → doc_index partition bucket, as a native SQL column."""
    return F.pmod(F.xxhash64(key_col), F.lit(kbuckets)).cast("int")


#: target (key, doc_id) rows per sidecar shuffle partition — the
#: adaptive width divisor (guide §2.2: size reduce partitions from the
#: data, don't fix them to a constant tuned for one scale)
_ROWS_PER_PARTITION = 1 << 20


def write_doc_index(ids: DataFrame, layout: IndexLayout,
                    config: IndexConfig, job: int,
                    shuffle_partitions: int,
                    n_rows: Optional[int] = None) -> None:
    """Write one job's (key, doc_id) sidecar, partitioned by the
    global key bucket.  Narrow columns only — at 10⁹ docs this is
    ~tens of GB against a multi-TB corpus.

    ``n_rows`` (the docs-write observe() metric, known before this
    job runs) makes the exchange width scale-adaptive: a toy job
    shuffles into 1 partition instead of ``min(kbuckets,
    shuffle_partitions)`` near-empty tasks, while large jobs keep the
    full width (the cap is unchanged, so cluster-scale plans are
    identical)."""
    width = min(config.kbuckets, shuffle_partitions)
    if n_rows is not None:
        width = max(1, min(width, -(-int(n_rows) // _ROWS_PER_PARTITION)))
    (ids.select(F.col(config.key_col), F.col("doc_id"))
     .withColumn("kbucket", key_bucket_col(F.col(config.key_col),
                                           config.kbuckets))
     .repartition(width, "kbucket")
     .write.mode("overwrite").partitionBy("kbucket")
     .parquet(layout.job_dir("doc_index", job)))


_XXH_M = (1 << 64) - 1
_XXH_P1, _XXH_P2, _XXH_P3, _XXH_P4, _XXH_P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _XXH_M


def xxhash64_bytes(data: bytes, seed: int = 42) -> int:
    """Spark's ``xxhash64`` on the driver: the public XXH64 algorithm
    over ``data`` with Spark's default seed 42, returned as Spark's
    signed int64.  Spark hashes a string column's UTF-8 bytes and an
    integer column's little-endian bytes (:func:`key_encoder`);
    bit-parity with ``F.xxhash64`` over string, int and long columns
    is pinned by tests/test_doc_index.py::test_xxhash64_parity — this
    is what lets a point lookup compute its ``kbucket`` without a
    Spark job."""
    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _XXH_P1 + _XXH_P2) & _XXH_M
        v2 = (seed + _XXH_P2) & _XXH_M
        v3 = seed & _XXH_M
        v4 = (seed - _XXH_P1) & _XXH_M
        while i + 32 <= n:
            w = int.from_bytes(data[i:i + 8], "little")
            v1 = (_rotl64((v1 + w * _XXH_P2) & _XXH_M, 31) * _XXH_P1) & _XXH_M
            w = int.from_bytes(data[i + 8:i + 16], "little")
            v2 = (_rotl64((v2 + w * _XXH_P2) & _XXH_M, 31) * _XXH_P1) & _XXH_M
            w = int.from_bytes(data[i + 16:i + 24], "little")
            v3 = (_rotl64((v3 + w * _XXH_P2) & _XXH_M, 31) * _XXH_P1) & _XXH_M
            w = int.from_bytes(data[i + 24:i + 32], "little")
            v4 = (_rotl64((v4 + w * _XXH_P2) & _XXH_M, 31) * _XXH_P1) & _XXH_M
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7)
             + _rotl64(v3, 12) + _rotl64(v4, 18)) & _XXH_M
        for v in (v1, v2, v3, v4):
            h = ((h ^ (_rotl64((v * _XXH_P2) & _XXH_M, 31) * _XXH_P1)
                  & _XXH_M) * _XXH_P1 + _XXH_P4) & _XXH_M
    else:
        h = (seed + _XXH_P5) & _XXH_M
    h = (h + n) & _XXH_M
    while i + 8 <= n:
        w = int.from_bytes(data[i:i + 8], "little")
        h = ((_rotl64(h ^ (_rotl64((w * _XXH_P2) & _XXH_M, 31) * _XXH_P1)
                      & _XXH_M, 27) * _XXH_P1) + _XXH_P4) & _XXH_M
        i += 8
    if i + 4 <= n:
        w = int.from_bytes(data[i:i + 4], "little")
        h = ((_rotl64(h ^ (w * _XXH_P1) & _XXH_M, 23) * _XXH_P2)
             + _XXH_P3) & _XXH_M
        i += 4
    while i < n:
        h = (_rotl64(h ^ (data[i] * _XXH_P5) & _XXH_M, 11) * _XXH_P1) \
            & _XXH_M
        i += 1
    h ^= h >> 33
    h = (h * _XXH_P2) & _XXH_M
    h ^= h >> 29
    h = (h * _XXH_P3) & _XXH_M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def xxhash64_str(s: str, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of a STRING column value, on the driver."""
    return xxhash64_bytes(s.encode("utf-8", "surrogatepass"), seed)


def key_arrow_type(layout: IndexLayout, config: IndexConfig,
                   jobs: List[int], table: str = "doc_index"):
    """Arrow type of the stored key column, read from one parquet
    footer of ``table`` on the driver (no Spark job); None when the
    jobs hold no such file."""
    import pyarrow.parquet as pq
    for j in jobs:
        for root, _, files in os.walk(layout.job_dir(table, j)):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    return pq.read_schema(os.path.join(root, f)) \
                        .field(config.key_col).type
    return None


def _is_string(arrow_type) -> bool:
    import pyarrow as pa
    return arrow_type is not None and (pa.types.is_string(arrow_type)
                                       or pa.types.is_large_string(arrow_type))


def key_encoder(key_type) -> Callable[[Any], bytes]:
    """value → the bytes Spark's ``xxhash64`` hashes for one non-null
    value of a key column of arrow type ``key_type``: a string's UTF-8
    bytes, an integer's little-endian bytes — 8 for int64, 4 for
    int8/16/32 (Spark hashes those as int).  Raises ValueError for any
    other type: the reference's keys are strings, and only these
    types' kbuckets are reproduced on the driver."""
    import pyarrow as pa
    if _is_string(key_type):
        return lambda v: v.encode("utf-8", "surrogatepass")
    if pa.types.is_signed_integer(key_type):
        width = 8 if key_type.bit_width == 64 else 4
        return lambda v: v.to_bytes(width, "little", signed=True)
    raise ValueError(f"key column type {key_type} is not supported: "
                     "the key must be a string or an integer column")


def check_key_type(schema: T.StructType, key_col: str) -> None:
    """Raise ValueError unless ``key_col`` of the Spark ``schema`` is
    a string or integer column (:func:`key_encoder`)."""
    from pyspark.sql.pandas.types import to_arrow_type
    dtype = schema[key_col].dataType
    try:
        key_encoder(to_arrow_type(dtype))
    except (TypeError, ValueError):
        raise ValueError(
            f"key column {key_col!r} has type {dtype.simpleString()}: "
            "the key must be a string or an integer column") from None


def _probe_keys(keys: Iterable[Any], key_type) -> List[Any]:
    """Probe keys as values of the stored key type, nulls dropped:
    ``str(k)`` for a string column; for an integer column ``int(k)``,
    so a key given as its string spelling finds the document, and a
    key that does not parse or does not fit the column is dropped (it
    matches nothing)."""
    if _is_string(key_type):
        return [str(k) for k in keys if k is not None]
    lo, hi = -(1 << (key_type.bit_width - 1)), 1 << (key_type.bit_width - 1)
    out = []
    for k in keys:
        try:
            v = int(k)
        except (TypeError, ValueError):
            continue
        if lo <= v < hi:
            out.append(v)
    return out


def _key_hash(key_type) -> Callable[[Any], int]:
    """key → Spark's ``xxhash64`` of it, for keys of arrow type
    ``key_type``.  A null key hashes to the seed, 42, as
    ``F.xxhash64`` of a null does."""
    encode = key_encoder(key_type)
    return lambda v: 42 if v is None else xxhash64_bytes(encode(v))


def key_bucket(key: Optional[str], kbuckets: int) -> int:
    """The kbucket Spark's ``key_bucket_col`` gives a string key, on
    the driver."""
    import pyarrow as pa
    return _key_hash(pa.string())(key) % kbuckets


def key_buckets(key_values: Iterable[Any], kbuckets: int,
                key_type) -> List[int]:
    """The kbuckets non-null keys of arrow type ``key_type`` hash into,
    on the driver.  Stops as soon as every bucket is seen, so a large
    probe hashes only a few hundred keys when the batch covers all
    buckets."""
    hash_key = _key_hash(key_type)
    out = set()
    for v in key_values:
        if v is not None:
            out.add(hash_key(v) % kbuckets)
            if len(out) == kbuckets:
                break
    return sorted(out)


def _parquet_files(path: str) -> List[str]:
    """The data files of one parquet directory (Spark's ``_SUCCESS``
    and hidden temp files excluded)."""
    try:
        names = sorted(os.listdir(path))
    except FileNotFoundError:
        return []
    return [os.path.join(path, f) for f in names
            if not f.startswith(("_", "."))]


def _touched_files(layout: IndexLayout, config: IndexConfig,
                   jobs: List[int], want: List[Any],
                   key_type) -> List[Tuple[int, str]]:
    """``(job, file)`` of every doc_index file in a ``kbucket=`` dir
    the keys ``want`` (values of arrow type ``key_type``) hash into,
    in ``jobs`` order."""
    buckets = key_buckets(want, config.kbuckets, key_type)
    return [(j, f) for j in jobs for b in buckets
            for f in _parquet_files(os.path.join(
                layout.job_dir("doc_index", j), f"kbucket={b}"))]


def resolve_keys_driver(layout: IndexLayout, config: IndexConfig,
                        jobs: List[int], keys: Iterable[Any]):
    """Keys → ``(job, key, doc_id)`` rows of every committed ``jobs``
    document carrying one of them, on the driver with pyarrow — zero
    Spark jobs.  The keys are cast to the stored key type
    (:func:`_probe_keys`: a string or integer column, read from one
    sidecar footer), so an integer key given as an int or as its
    string spelling lands in the kbucket Spark hashed it into.  Reads
    only the ``kbucket=`` dirs the keys hash into, one row group at a
    time (the driver holds one row group and the hits, whatever the
    size of the sidecar), and keeps the rows ``is_in`` the keys; rows
    come in ``jobs`` order.  Its cost grows with the bytes of those
    dirs, not with the keys: the resolve sweep (``bench_extra.py
    --resolve-sweep``, BENCH/resolve_keys_r13.jsonl, ``local[4]``)
    read 0.99 GB of touched sidecar for 250 keys in 8.4-8.7 s, against
    38.9-43.7 s for :func:`resolve_keys` and a Spark deletion write.
    Null keys match nothing, as in :func:`resolve_keys`."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    key = config.key_col
    key_type = key_arrow_type(layout, config, jobs)
    if key_type is None:
        key_type = pa.string()
    want = sorted(set(_probe_keys(keys, key_type)))
    value_set = pa.array(want, key_type)
    parts = [pa.table({"job": pa.array([], pa.int64()),
                       key: pa.array([], key_type),
                       "doc_id": pa.array([], pa.int64())})]
    for j, f in _touched_files(layout, config, jobs, want, key_type):
        pf = pq.ParquetFile(f)
        for g in range(pf.num_row_groups):
            tbl = pf.read_row_group(g, columns=[key, "doc_id"])
            tbl = tbl.filter(pc.is_in(tbl.column(key), value_set=value_set))
            if tbl.num_rows:
                parts.append(pa.table({
                    "job": np.full(tbl.num_rows, j, dtype=np.int64),
                    key: tbl.column(key).cast(key_type),
                    "doc_id": tbl.column("doc_id")}))
    return pa.concat_tables(parts)


def lookup_key_driver(layout: IndexLayout, config: IndexConfig,
                      jobs: List[int], key: Any):
    """Driver-side point lookup: key → list of (job, doc_id), reading
    ONE ``kbucket`` partition dir of each job's doc_index sidecar with
    pyarrow — zero Spark jobs (the reference's O(1) ``k<doc_key>``
    RocksDB get, document_index.rs:71-91).  Serves every key type the
    index accepts; an integer key may come as an int or as its
    string spelling (:func:`resolve_keys_driver`)."""
    tbl = resolve_keys_driver(layout, config, jobs, [key])
    return list(zip(tbl.column("job").to_pylist(),
                    tbl.column("doc_id").to_pylist()))


def write_doc_index_driver(keys, doc_ids, layout: IndexLayout,
                           config: IndexConfig, job: int) -> None:
    """:func:`write_doc_index` on the driver for a small job: the same
    ``kbucket=`` dirs of ``(key, doc_id)`` files, no Spark job.
    ``keys`` is the job's key column as a pyarrow array; its kbucket
    is Spark's hash of its type, null keys included
    (:func:`key_bucket`)."""
    import pyarrow as pa

    from .layout import write_arrow_table
    hash_key = _key_hash(keys.type)
    buckets = np.fromiter((hash_key(k) % config.kbuckets
                           for k in keys.to_pylist()),
                          dtype=np.int64, count=len(keys))
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    order = np.argsort(buckets, kind="stable")
    starts = np.flatnonzero(np.diff(buckets[order], prepend=-1))
    for lo, hi in zip(starts, np.append(starts[1:], order.size)):
        take = order[lo:hi]
        write_arrow_table(
            os.path.join(layout.job_dir("doc_index", job),
                         f"kbucket={buckets[take[0]]}"),
            pa.table({config.key_col: keys.take(pa.array(take)),
                      "doc_id": doc_ids[take]}))


def resolve_keys(spark: SparkSession, layout: IndexLayout,
                 config: IndexConfig, keys: DataFrame,
                 jobs: Optional[List[int]] = None) -> Optional[DataFrame]:
    """(key, doc_id) rows for every indexed document whose key appears
    in ``keys`` (a one-column DataFrame named ``config.key_col``), on
    Spark: the insert-only dedup's anti-join input, and the reference
    :func:`resolve_keys_driver` is tested against.

    Reads only the kbucket partitions the wanted keys hash into (a
    distinct-buckets aggregate collects ≤ kbuckets rows).  ``jobs`` is
    the caller's lineage snapshot (default: read it now).  Returns
    None when the index has no committed docs at all.
    """
    if jobs is None:
        jobs = layout.completed_jobs()
    docs_jobs = [j for j in jobs if os.path.isdir(layout.job_dir("docs", j))]
    if not docs_jobs:
        return None
    # Cast the probe keys to the INDEXED key type before hashing: the
    # kbucket is xxhash64 over the natural column type, so a
    # string-typed probe against e.g. a long key column would hash to
    # different buckets and silently match nothing.  The type comes
    # from one parquet footer on the driver — no Spark job.
    from pyspark.sql.pandas.types import from_arrow_type
    key_type = from_arrow_type(key_arrow_type(layout, config, docs_jobs,
                                              "docs"))
    keys = (keys.select(F.col(config.key_col).cast(key_type))
            .where(F.col(config.key_col).isNotNull()).distinct())
    idx_dirs = [layout.job_dir("doc_index", j) for j in docs_jobs]
    buckets = [r.b for r in keys.select(
        key_bucket_col(F.col(config.key_col), config.kbuckets)
        .alias("b")).distinct().collect()]
    # the sidecar's schema is known: no schema-inference job
    schema = T.StructType([T.StructField(config.key_col, key_type),
                           T.StructField("doc_id", T.LongType()),
                           T.StructField("kbucket", T.IntegerType())])
    idx = (spark.read.schema(schema)
           .option("basePath", layout.table("doc_index"))
           .parquet(*idx_dirs)
           .where(F.col("kbucket").isin(buckets)))
    return (idx.join(keys, config.key_col, "left_semi")
            .select(config.key_col, "doc_id"))
