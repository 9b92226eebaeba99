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
dir of every job.  Readers fall back to the docs scan when any
committed docs job lacks its sidecar (an index built before this
table existed): correctness never depends on the sidecar.
"""

from __future__ import annotations

import os
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def xxhash64_str(s: str, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of a STRING column, on the driver: the
    public XXH64 algorithm over the UTF-8 bytes with Spark's default
    seed 42, returned as Spark's signed int64.  Bit-parity with
    ``F.xxhash64(string_col)`` is pinned by
    tests/test_doc_index.py::test_xxhash64_parity — this is what lets
    a point lookup compute its ``kbucket`` without a Spark job."""
    data = s.encode("utf-8", "surrogatepass")
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


def key_is_string(layout: IndexLayout, config: IndexConfig,
                  jobs: List[int]) -> bool:
    """True iff the key column is stored as a string, read from one
    doc_index parquet footer on the driver (no Spark job).  Only then
    does ``xxhash64_str`` reproduce the kbucket Spark computed over
    the native key type.  False when no sidecar file exists."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    for j in jobs:
        for root, _, files in os.walk(layout.job_dir("doc_index", j)):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    t = pq.read_schema(os.path.join(root, f)) \
                        .field(config.key_col).type
                    return pa.types.is_string(t) or pa.types.is_large_string(t)
    return False


def lookup_key_driver(layout: IndexLayout, config: IndexConfig,
                      jobs: List[int], key: str):
    """Driver-side point lookup: key → list of (job, doc_id), reading
    ONE ``kbucket`` partition dir of each job's doc_index sidecar with
    pyarrow — zero Spark jobs (the reference's O(1) ``k<doc_key>``
    RocksDB get, document_index.rs:71-91).  Serves string key columns
    only: the caller checks :func:`key_is_string` once per index and
    sends other keys to the Spark scan.  Returns None when the sidecar
    is incomplete — the caller falls back to the Spark scan."""
    import pyarrow.dataset as ds
    if not _sidecar_complete(layout, jobs):
        return None
    bucket = xxhash64_str(key) % config.kbuckets
    out = []
    for j in jobs:
        part = os.path.join(layout.job_dir("doc_index", j),
                            f"kbucket={bucket}")
        if not os.path.isdir(part):
            continue
        tbl = ds.dataset(part, format="parquet").to_table(
            filter=ds.field(config.key_col) == key, columns=["doc_id"])
        out.extend((j, int(x)) for x in tbl.column("doc_id").to_pylist())
    return out


def _sidecar_complete(layout: IndexLayout, jobs: List[int]) -> bool:
    """True iff every committed job that has docs also has its
    doc_index sidecar (mixed old/new indexes must not miss docs)."""
    for j in jobs:
        if (os.path.isdir(layout.job_dir("docs", j))
                and not os.path.isdir(layout.job_dir("doc_index", j))):
            return False
    return True


def resolve_keys(spark: SparkSession, layout: IndexLayout,
                 config: IndexConfig,
                 keys: DataFrame) -> Optional[DataFrame]:
    """(key, doc_id) rows for every indexed document whose key appears
    in ``keys`` (a one-column DataFrame named ``config.key_col``).

    Reads only the kbucket partitions the wanted keys hash into: the
    distinct-buckets aggregate collects ≤ kbuckets rows however large
    the key batch, then partition pruning limits the scan.  Returns
    None when the index has no committed docs at all.
    """
    jobs = layout.completed_jobs(spark)
    docs_dirs = [layout.job_dir("docs", j) for j in jobs
                 if os.path.isdir(layout.job_dir("docs", j))]
    if not docs_dirs:
        return None
    # Cast the probe keys to the INDEXED key type before hashing: the
    # kbucket is xxhash64 over the natural column type, so a
    # string-typed probe against e.g. a long key column would hash to
    # different buckets and silently match nothing.  Schema read is
    # driver-side parquet-footer metadata — no Spark job.
    key_type = (spark.read.option("basePath", layout.table("docs"))
                .parquet(*docs_dirs).schema[config.key_col].dataType)
    keys = (keys.select(F.col(config.key_col).cast(key_type))
            .where(F.col(config.key_col).isNotNull()).distinct())
    if _sidecar_complete(layout, jobs):
        idx_dirs = [layout.job_dir("doc_index", j) for j in jobs
                    if os.path.isdir(layout.job_dir("doc_index", j))]
        buckets = [r.b for r in keys.select(
            key_bucket_col(F.col(config.key_col), config.kbuckets)
            .alias("b")).distinct().collect()]
        idx = (spark.read
               .option("basePath", layout.table("doc_index"))
               .parquet(*idx_dirs)
               .where(F.col("kbucket").isin(buckets)))
        return (idx.join(keys, config.key_col, "left_semi")
                .select(config.key_col, "doc_id"))
    # legacy index without a complete sidecar: full docs scan
    docs = (spark.read.option("basePath", layout.table("docs"))
            .parquet(*docs_dirs))
    return (docs.join(keys, config.key_col, "left_semi")
            .select(config.key_col, "doc_id"))
