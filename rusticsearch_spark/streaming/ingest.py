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
evaluated once, by its Spark docs write.  A batch whose key and fields
are scalar strings, with no nested paths, then does everything else
on the driver with pyarrow and numpy: key resolution and the deletion
list of an upsert, the postings, the term_dict and the doc_index
sidecar — one Spark job per batch instead of seven, because each of
the Spark path's jobs moved well under a megabyte and paid Spark's
fixed per-job and per-task (Python worker) costs.  Both paths call
the same byte-deciding functions (analyzer chain, length byte, term
and key hashes, the build's encoder) and write the same rows
(tests/test_driver_ingest.py).  There is no batch-size gate:
BENCH/write_path_r13.jsonl (``local[4]``, ~400-byte docs) has the
driver path faster at every size measured, 250 to 65,536 docs
(0.8-1.2 s against 4.1-6.0 s at 250-1k docs, 11.7-12.1 s against
17.7-21.0 s at 64k), and the driver's key resolve faster up to 0.99
GB of touched sidecar (``doc_index.resolve_keys_driver``).  The Spark
path stays for what the driver does not reproduce — non-string keys,
array fields, nested paths — and is what the build and the merge
run.  ``process_batch`` returns which path ran.
"""

from __future__ import annotations

import time
from typing import List, NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index.build import (WrittenDocs, _posting_rows, _registry,
                           assign_doc_ids, commit_written, doc_columns,
                           finish_job, write_docs, write_postings_driver)
from ..index.delete import (committed_docs, nested_children, retire_doc_ids,
                            write_deletions)
from ..index.doc_index import (_is_string, key_arrow_type, resolve_keys,
                               resolve_keys_driver)
from ..index.layout import IndexConfig, IndexLayout

STREAM_JOB_BASE = 100_000
STREAM_BUCKET_BASE = 1_000_000

class BatchResult(NamedTuple):
    """What ``process_batch`` did."""

    #: the batch's committed lineage row (for a replayed batch, the row
    #: its first run committed)
    lineage: dict
    #: where the postings, term_dict and doc_index were written:
    #: ``"driver"`` or ``"spark"``; None when the batch indexed nothing
    #: (a replay, or no documents)
    postings: Optional[str]


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

    def process_batch(self, batch_df: DataFrame,
                      batch_id: int) -> BatchResult:
        job = STREAM_JOB_BASE + int(batch_id)
        # the one lineage snapshot
        committed = {r["job"]: r for r in self.layout.lineage()}
        if job in committed:
            # replayed batch: lineage says done → idempotent skip
            return BatchResult(committed[job], None)
        jobs = sorted(committed)
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
            row = {"job": job, "n_docs": 0, "status": "done", **extra}
            self.layout.commit_job(self.spark, row)
            return BatchResult(row, None)
        if self._on_driver(written, jobs):
            return BatchResult(self._index_on_driver(written, jobs, job, t0,
                                                     extra), "driver")
        if self.upsert:
            self._retire_replaced(written.docs, jobs, job)
        rows = _posting_rows(written.docs, self.config, self.registry,
                             precount=self.config.precount)
        return BatchResult(finish_job(self.spark, rows, written, self.layout,
                                      self.config, job, t0, extra), "spark")

    def _on_driver(self, written: WrittenDocs, jobs: List[int]) -> bool:
        """Whether the batch's index half runs on the driver: a batch
        with no nested paths whose key and fields are scalar strings
        (what the driver's analysis and key hash reproduce), against
        an index whose stored keys are strings too."""
        schema = written.docs.schema
        if (self.config.nested_paths
                or not all(isinstance(schema[c].dataType, T.StringType)
                           for c in [self.config.key_col,
                                     *self.config.fields])):
            return False
        stored_key = key_arrow_type(self.layout, self.config, jobs)
        return stored_key is None or _is_string(stored_key)

    def _index_on_driver(self, written: WrittenDocs, jobs: List[int],
                         job: int, t0: float, extra: dict) -> dict:
        """Everything after the docs write, with pyarrow and numpy on
        the driver (zero Spark jobs): the upsert's deletion list, then
        ``build.write_postings_driver``, then the field stats and the
        lineage commit."""
        import pyarrow.parquet as pq
        key = self.config.key_col
        docs = pq.read_table(
            self.layout.job_dir("docs", job),
            columns=list(dict.fromkeys(["doc_id", key, *self.config.fields])))
        if self.upsert:
            # insert_or_update semantics: see _retire_replaced
            hits = resolve_keys_driver(self.layout, self.config, jobs,
                                       docs.column(key).to_pylist())
            retire_doc_ids(self.layout, hits.column("doc_id").to_numpy())
        n_blocks, tokens = write_postings_driver(
            docs, self.layout, self.config, self.registry, job)
        return commit_written(self.spark, written, self.layout, self.config,
                              job, t0, n_blocks, tokens, extra)

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
