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
"""

from __future__ import annotations

import time
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.build import (_posting_rows, _registry, assign_doc_ids,
                           doc_columns, finish_job, write_docs)
from ..index.delete import committed_docs, nested_children, write_deletions
from ..index.doc_index import resolve_keys
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

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        job = STREAM_JOB_BASE + int(batch_id)
        jobs = self.layout.completed_jobs()   # the one lineage snapshot
        if job in jobs:
            return  # replayed batch: lineage says done → idempotent skip
        key = self.config.key_col
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
            self.layout.commit_job(self.spark, {
                "job": job, "n_docs": 0, "status": "done", **extra})
            return
        if self.upsert:
            self._retire_replaced(written.docs, jobs, job)
        rows = _posting_rows(written.docs, self.config, self.registry,
                             precount=self.config.precount)
        finish_job(self.spark, rows, written, self.layout, self.config,
                   job, t0, extra)

    def _retire_replaced(self, docs: DataFrame, jobs: List[int],
                         job: int) -> None:
        """insert_or_update semantics (rocksdb/mod.rs:212-226): mark
        every committed doc whose key the batch carries deleted; the
        batch's docs (``docs``, job ``job``'s written table) become
        the live versions under fresh doc_ids at the commit.  The
        lookup goes through the doc_index PK sidecar — only the
        kbucket partitions the batch's keys hash into are scanned
        (document_index.rs point-lookup analogue), and those buckets
        are hashed on the driver from the written parquet.  Committed
        jobs only: an orphan dir from a crashed job must not source
        delete marks."""
        import pyarrow.dataset as ds
        key = self.config.key_col

        def _probe():
            for rb in ds.dataset(self.layout.job_dir("docs", job),
                                 format="parquet").to_batches(
                                     columns=[key]):
                yield from rb.column(0).to_pylist()

        existing = resolve_keys(self.spark, self.layout, self.config,
                                docs.select(key), jobs=jobs,
                                key_values=_probe())
        targets = (existing.select("doc_id")
                   if existing is not None else None)
        if self.config.nested_paths:
            # cascade to nested child rows: an upsert whose new version
            # has FEWER array elements would otherwise leave the
            # removed elements' child rows live (their synthetic
            # "<parent>#<path>#<pos>" keys are absent from the batch,
            # so the key-level lookup above never sees them).  ALL
            # committed children of the batch's parent keys die; the
            # batch re-creates the surviving elements under fresh
            # doc_ids.
            committed = committed_docs(self.spark, self.layout, jobs)
            if committed is not None:
                kids = nested_children(
                    committed, key,
                    docs.where(F.col("_nested_parent").isNull())
                    .select(key))
                targets = (kids if targets is None
                           else targets.unionByName(kids))
        if targets is not None:
            write_deletions(self.layout, targets.distinct())


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
