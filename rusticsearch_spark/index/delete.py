"""Document deletion: the PK-index delete of the reference
(/root/reference/src/search/backends/rocksdb/document_index.rs:56-110
marking doc ids in per-segment deletion lists, key_builder.rs:136-141).

Deletes are logical: an appended parquet list of doc_ids that every
query plan anti-joins (the planner's unconditional deletion-list
AndNot, planner/mod.rs:34-36).  ``index.merge.merge_jobs`` applies
them physically and resets the lists — exactly the reference's
merge-time cleanup (segment_ops.rs:157-206).

Statistics semantics mirror the reference too: field/term statistics
are NOT decremented by deletes (only ``deleted_docs`` grows,
statistics.rs) — scores of surviving docs are unchanged until a
merge recomputes stats from live docs.
"""

from __future__ import annotations

import os
import shutil
from typing import List, Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .doc_index import key_is_string, resolve_keys, resolve_keys_driver
from .layout import IndexLayout


def load_deletions(spark: SparkSession, layout: IndexLayout,
                   dirs: Optional[List[str]] = None) -> Optional[DataFrame]:
    """The pending deletion lists (``dirs``, default: all of them) as
    a distinct ``doc_id`` frame, or None.  The lists' schema is fixed,
    so opening the frame runs no schema-inference job."""
    if dirs is None:
        dirs = layout.deletion_dirs()
    if not dirs:
        return None
    return (spark.read.schema("doc_id long").parquet(*dirs)
            .select("doc_id").distinct())


def deleted_doc_ids(dirs: List[str]) -> np.ndarray:
    """Sorted distinct doc ids of the deletion lists ``dirs``, read on
    the driver with pyarrow — zero Spark jobs."""
    import pyarrow.parquet as pq
    if not dirs:
        return np.zeros(0, dtype=np.int64)
    return np.unique(np.concatenate(
        [pq.read_table(d, columns=["doc_id"]).column("doc_id")
         .to_numpy().astype(np.int64) for d in dirs]))


def write_deletions(layout: IndexLayout, target: DataFrame) -> int:
    """Append ``target`` (a ``doc_id`` frame) as a new deletion list in
    ONE Spark job: the row count rides the write as an observe()
    metric, and a list that came out empty is removed again.  Returns
    the number of doc ids written."""
    from pyspark.sql import Observation
    obs = Observation()
    path = layout.next_deletion_dir()
    (target.coalesce(1).observe(obs, F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").parquet(path))
    n = int(obs.get["n"])
    if not n:
        shutil.rmtree(path, ignore_errors=True)
    return n


def write_deletion_ids(layout: IndexLayout, doc_ids: np.ndarray) -> int:
    """Append ``doc_ids`` as a new deletion list from the driver — no
    Spark job.  Deletion lists are not gated by lineage (every reader
    lists the directory), so the list appears whole or not at all: it
    is written under a dot-named temp dir, which readers skip, and
    renamed into place.  Writes nothing for no ids; returns the
    number written."""
    import pyarrow as pa

    from .layout import write_arrow_table
    if not doc_ids.size:
        return 0
    path = layout.next_deletion_dir()
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    shutil.rmtree(tmp, ignore_errors=True)
    write_arrow_table(tmp, pa.table({"doc_id": pa.array(doc_ids,
                                                        pa.int64())}))
    os.replace(tmp, path)
    return int(doc_ids.size)


def retire_doc_ids(layout: IndexLayout, doc_ids) -> int:
    """Delete ``doc_ids`` on the driver: the ids already on a deletion
    list are dropped (deleting a deleted doc is a no-op,
    document_index.rs:96-110) and the rest written as one new list.
    Returns the number written."""
    ids = np.unique(np.asarray(doc_ids, dtype=np.int64))
    ids = ids[~np.isin(ids, deleted_doc_ids(layout.deletion_dirs()))]
    return write_deletion_ids(layout, ids)


def committed_docs(spark: SparkSession, layout: IndexLayout,
                   jobs: List[int]) -> Optional[DataFrame]:
    """The docs tables of the committed ``jobs``, or None if none
    has one."""
    dirs = layout.committed_dirs("docs", jobs=jobs)
    if not dirs:
        return None
    return spark.read.option("basePath", layout.table("docs")).parquet(*dirs)


def nested_children(docs: DataFrame, key_col: str,
                    parent_keys: DataFrame) -> DataFrame:
    """``doc_id`` of every nested child row (any depth) in ``docs`` of
    the documents keyed ``parent_keys`` (a one-column frame named
    ``key_col``) — the cascade of deleting or replacing a parent."""
    # _nested_root reaches EVERY descendant level in one semi-join
    return (docs.where(F.col("_nested_parent").isNotNull())
            .join(parent_keys.select(F.col(key_col).cast("string")
                                     .alias("_nested_root")),
                  "_nested_root", "left_semi")
            .select("doc_id"))


def delete_documents(spark: SparkSession, index_dir: str,
                     keys: Optional[List[str]] = None,
                     doc_ids: Optional[List[int]] = None) -> int:
    """Mark documents deleted by key (PK lookup) or by doc_id.

    Returns the number of newly resolved doc ids written (0 if no
    key matched — deleting a missing key is a no-op, as in
    document_index.rs:96-110).
    """
    layout = IndexLayout(index_dir)
    config = layout.read_config()
    jobs = layout.completed_jobs()        # the one lineage snapshot
    if not config.nested_paths:
        # no child rows to cascade to: resolve and write on the driver
        # (zero Spark jobs) when the ids are given, or the keys are
        # strings the driver hashes as Spark does
        if keys is None and doc_ids is not None:
            return retire_doc_ids(layout, doc_ids)
        if keys is not None and key_is_string(layout, config, jobs):
            hits = resolve_keys_driver(layout, config, jobs,
                                       [str(k) for k in keys])
            return retire_doc_ids(layout, hits.column("doc_id").to_numpy())
    if keys is not None:
        # PK lookup through the doc_index sidecar: reads only the
        # kbucket partitions the keys hash into (document_index.rs
        # k<doc_key> point lookup), not every docs dir.  Probe values
        # are shipped as strings; resolve_keys casts them back to the
        # INDEXED key type before hashing so non-string keys (e.g. a
        # long PK) land in the right kbucket partitions.
        probe = [str(k) for k in keys]
        keys_df = spark.createDataFrame(
            [(k,) for k in probe], f"{config.key_col} string")
        resolved = resolve_keys(spark, layout, config, keys_df, jobs=jobs,
                                key_values=probe)
        if resolved is None:
            return 0
        target = resolved.select("doc_id")
        if config.nested_paths:
            # cascade: a parent's child rows (nested-type array
            # elements) die with it — a two-column docs projection;
            # deletes are rare and off the query hot path (the same
            # cost class as the merge that later applies them)
            docs = committed_docs(spark, layout, jobs)
            if docs is not None:
                target = target.unionByName(
                    nested_children(docs, config.key_col, keys_df))
    elif doc_ids is not None:
        target = spark.createDataFrame(
            [(int(d),) for d in doc_ids], "doc_id long")
        docs = (committed_docs(spark, layout, jobs)
                if config.nested_paths else None)
        if docs is not None:
            # same cascade as the keys= path: a parent deleted by raw
            # doc_id must take its child rows with it, or they stay
            # live forever (and merges would re-encode orphans).
            # Resolve the parents' KEYS from the docs table first.
            pkeys = (docs.join(target, "doc_id", "left_semi")
                     .where(F.col("_nested_parent").isNull())
                     .select(config.key_col))
            target = target.unionByName(
                nested_children(docs, config.key_col, pkeys))
    target = target.distinct()
    already = load_deletions(spark, layout)
    if already is not None:
        # deleting a deleted doc is a no-op (document_index.rs:96-110)
        target = target.join(already, "doc_id", "left_anti")
    return write_deletions(layout, target)
