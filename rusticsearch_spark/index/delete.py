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
from typing import Any, List, Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from .doc_index import resolve_keys_driver
from .layout import IndexConfig, IndexLayout


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


def nested_cascade(layout: IndexLayout, config: IndexConfig,
                   jobs: List[int], keys: Optional[List[Any]] = None,
                   doc_ids: Optional[np.ndarray] = None) -> np.ndarray:
    """``doc_id`` of every committed nested child row (any depth) of
    the root documents keyed ``keys``, or of the root documents among
    ``doc_ids`` — the cascade of deleting or replacing a parent.  On
    the driver with pyarrow, zero Spark jobs: one filtered read of the
    ``doc_id``, ``_nested_parent`` and ``_nested_root`` columns of
    each committed docs dir (and, for ``doc_ids``, one of the key
    column first, to name the roots).  ``_nested_root`` reaches every
    descendant level; the key column of a nested index is a string
    (``mapping.prepare_docs``), so the keys compare as strings."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    dirs = layout.committed_dirs("docs", jobs=jobs)

    def _read(columns, where):
        return pa.concat_tables(
            [ds.dataset(d, format="parquet").to_table(columns=columns,
                                                      filter=where)
             for d in dirs])

    if not dirs:
        return np.zeros(0, dtype=np.int64)
    if doc_ids is not None:
        keys = _read([config.key_col],
                     ds.field("doc_id").isin(pa.array(doc_ids, pa.int64()))
                     & ds.field("_nested_parent").is_null()) \
            .column(config.key_col).to_pylist()
    roots = pa.array(sorted({str(k) for k in keys if k is not None}),
                     pa.string())
    return _read(["doc_id"], ds.field("_nested_parent").is_valid()
                 & ds.field("_nested_root").isin(roots)) \
        .column("doc_id").to_numpy().astype(np.int64)


def delete_documents(spark: SparkSession, index_dir: str,
                     keys: Optional[List[Any]] = None,
                     doc_ids: Optional[List[int]] = None) -> int:
    """Mark documents deleted by key (PK lookup) or by doc_id: exactly
    one of ``keys`` and ``doc_ids``, else ValueError.  A nested
    parent takes its child rows with it (:func:`nested_cascade`).

    Runs on the driver, zero Spark jobs (``spark`` is not used): keys
    resolve through the doc_index sidecar, reading only the kbucket
    dirs they hash into (document_index.rs ``k<doc_key>`` point
    lookup, ``doc_index.resolve_keys_driver``), and the ids are
    written as one deletion list.  Returns the number of newly deleted
    doc ids (0 if no key matched — deleting a missing key is a no-op,
    as in document_index.rs:96-110).
    """
    if (keys is None) == (doc_ids is None):
        raise ValueError("delete_documents takes exactly one of keys= "
                         "and doc_ids=")
    layout = IndexLayout(index_dir)
    config = layout.read_config()
    jobs = layout.completed_jobs()        # the one lineage snapshot
    if keys is not None:
        ids = resolve_keys_driver(layout, config, jobs,
                                  keys).column("doc_id").to_numpy()
    else:
        ids = np.asarray(doc_ids, dtype=np.int64)
    if config.nested_paths:
        ids = np.concatenate([ids, nested_cascade(
            layout, config, jobs, keys=keys,
            doc_ids=None if keys is not None else ids)])
    return retire_doc_ids(layout, ids)
