"""Structured-Streaming incremental index ingest.

The reference ingests documents one at a time into single-doc
segments that a background thread merges
(/root/reference/src/search/backends/rocksdb/mod.rs:212-226 +
src/main.rs:64-84); our analogue is micro-batch ingest: each
``foreachBatch`` invocation builds one *job* (a full mini-index:
postings, stats, docs) appended to the index directory, and
``index.merge.maintenance`` plays the merge-policy thread.

Exactly-once: the job id is a pure function of the batch id and the
lineage commit is the last write, so a replayed batch (streaming
checkpoint recovery) sees its lineage row and skips — idempotent
append, the same crash-safety contract as the batch builder.

Doc ids stay globally unique across batch + streaming jobs because
each batch gets a disjoint bucket namespace
(``STREAM_BUCKET_BASE + batch_id * n_buckets``).

Small batches pay for their data, not for Spark.  Every batch is
evaluated once, by its Spark docs write; everything else runs on the
driver with pyarrow and numpy: key resolution and the deletion list of
an upsert (the nested cascade included, ``delete.nested_cascade``),
the postings, the term_dict and the doc_index sidecar — one Spark job
per batch, because each of the seven jobs a Spark index half ran moved
well under a megabyte and paid Spark's fixed per-job and per-task
(Python worker) costs.  The driver calls the build's byte-deciding
functions (analyzer chain, length byte, term and key hashes, the
encoder) and writes the rows the build's Spark index half writes for
the same docs (tests/test_driver_ingest.py).  There is no batch-size
gate: BENCH/write_path_r13.jsonl (``local[4]``, ~400-byte docs) has
the driver faster at every size measured, 250 to 65,536 docs (0.8-1.2
s against 4.1-6.0 s at 250-1k docs, 11.7-12.1 s against 17.7-21.0 s at
64k), and the driver's key resolve faster up to 0.99 GB of touched
sidecar (``doc_index.resolve_keys_driver``).  The key column must be a
string or an integer, and every field a string, integer, boolean or
``array<string>`` column (what the driver renders as Spark's
``cast("string")``); a batch with another type is refused before
anything is written.  The insert-only dedup stays a Spark anti-join.
"""

from __future__ import annotations

import time
from typing import Optional

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from ..index.build import (_registry, assign_doc_ids, check_field_types,
                           commit_written, doc_columns, write_docs,
                           write_postings_driver)
from ..index.delete import nested_cascade, retire_doc_ids
from ..index.doc_index import check_key_type, resolve_keys, resolve_keys_driver
from ..index.layout import IndexConfig, IndexLayout

STREAM_JOB_BASE = 100_000
STREAM_BUCKET_BASE = 1_000_000

class StreamingIngester:
    def __init__(self, spark: SparkSession, index_dir: str,
                 config: Optional[IndexConfig] = None,
                 n_buckets_per_batch: int = 8,
                 dedup_keys: bool = True, upsert: bool = False):
        self.spark = spark
        self.layout = IndexLayout(index_dir)
        try:
            self.config = self.layout.read_config()
        except FileNotFoundError:
            self.config = config or IndexConfig()
            self.layout.write_config(self.config)
        self.registry = _registry(self.config)
        self.n_buckets_per_batch = n_buckets_per_batch
        self.dedup_keys = dedup_keys
        self.upsert = upsert

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> dict:
        """Index one micro-batch as job ``STREAM_JOB_BASE + batch_id``
        and return its committed lineage row (for a replayed batch,
        the row its first run committed)."""
        job = STREAM_JOB_BASE + int(batch_id)
        # the one lineage snapshot
        committed = {r["job"]: r for r in self.layout.lineage()}
        if job in committed:
            # replayed batch: lineage says done → idempotent skip
            return committed[job]
        jobs = sorted(committed)
        key = self.config.key_col
        check_key_type(batch_df.schema, key)
        check_field_types(batch_df.schema, self.config)
        batch_df = batch_df.dropDuplicates([key])
        if self.dedup_keys and not self.upsert:
            # first-writer-wins insert: skip keys already indexed
            # (bucket-pruned sidecar lookup)
            existing = resolve_keys(self.spark, self.layout, self.config,
                                    batch_df.select(key), jobs=jobs)
            if existing is not None:
                batch_df = batch_df.join(existing.select(key),
                                         key, "left_anti")
        base = STREAM_BUCKET_BASE + int(batch_id) * self.n_buckets_per_batch
        ids = assign_doc_ids(batch_df, key, self.n_buckets_per_batch,
                             bucket_base=base).drop("_bucket")
        # the docs write is the ONE evaluation of the batch: the row
        # count is observed on it, and everything after reads the
        # written table.  Until the lineage commit the job is
        # invisible to every reader.
        self.layout.clear_incomplete_job(job)
        t0 = time.monotonic()
        written = write_docs(self.spark, doc_columns(ids, self.config),
                             self.layout, self.config, job)
        extra = {"batch_id": int(batch_id)}
        if not written.n_docs:
            # nothing new: still commit the lineage row so a replay of
            # this batch id remains a no-op — lineage only, no data
            self.layout.clear_incomplete_job(job)
            row = {"job": job, "n_docs": 0, "status": "done", **extra}
            self.layout.commit_job(self.spark, row)
            return row
        docs = pq.read_table(
            self.layout.job_dir("docs", job),
            columns=list(dict.fromkeys(["doc_id", key, *self.config.fields])))
        if self.upsert:
            # insert_or_update semantics (rocksdb/mod.rs:212-226): every
            # committed doc whose key the batch carries is marked
            # deleted; the batch's docs become the live versions under
            # fresh doc_ids at the commit.  Committed jobs only: an
            # orphan dir from a crashed job must not source delete
            # marks.
            keys = docs.column(key).to_pylist()
            retired = resolve_keys_driver(self.layout, self.config, jobs,
                                          keys).column("doc_id").to_numpy()
            if self.config.nested_paths:
                # ALL committed children of the batch's parents die
                # too: a new version with FEWER array elements would
                # otherwise leave the removed elements' child rows live
                # (their synthetic "<parent>#<path>#<pos>" keys are not
                # in the batch).  The batch re-creates the survivors.
                # Its child keys cascade to nothing: no row has one as
                # its _nested_root.
                retired = np.concatenate([retired, nested_cascade(
                    self.layout, self.config, jobs, keys=keys)])
            retire_doc_ids(self.layout, retired)
        n_blocks, tokens = write_postings_driver(
            docs, self.layout, self.config, self.registry, job)
        return commit_written(self.spark, written, self.layout, self.config,
                              job, t0, n_blocks, tokens, extra)


def ingest_stream(spark: SparkSession, stream_df: DataFrame,
                  index_dir: str, checkpoint_dir: str,
                  config: Optional[IndexConfig] = None,
                  n_buckets_per_batch: int = 8,
                  dedup_keys: bool = True):
    """Attach the ingester to a streaming DataFrame.  Returns the
    StreamingQuery (caller awaits/stops it)."""
    ingester = StreamingIngester(spark, index_dir, config,
                                 n_buckets_per_batch, dedup_keys)
    return (stream_df.writeStream
            .foreachBatch(ingester.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .start())
