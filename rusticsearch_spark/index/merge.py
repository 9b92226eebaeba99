"""Job/segment compaction — the reference's segment merge
(/root/reference/src/search/backends/rocksdb/segment_ops.rs:36-289)
re-expressed as one shuffle.

Incremental ingest leaves one job directory per batch (the analogue of
the reference's many small segments); ``merge_jobs`` rewrites N job
directories into one, preserving the logical index exactly — doc_ids
are never remapped (they are already globally unique and dense per
bucket), so unlike the reference's merge (which repacks u16 local id
spaces, segment_ops.rs:240-268) ours is a pure re-grouping:

    decode blocks → rows → the build's one-shuffle encoder

The Spark job plan of a merge (each line one Spark job):

1. the schema-merging read of the source docs tables;
2. the broadcast of the pending deletion lists (only when any exist);
3. the survivors' docs write (``build.write_docs``), observing the
   doc count and per-field presence counts — no ``count()`` job, no
   field-agg job;
4-6. ``build.write_postings``, exactly as the build runs it: the
   doc_index sidecar on a helper thread alongside ONE shuffle of the
   decoded rows into tbucket-sorted encoded blocks, then the term_dict
   write observing the block count and per-field token totals.

The decode is one vectorized numpy pass per Arrow batch, and it drops
deleted doc ids before the shuffle.  Lineage and deletion lists are
read on the driver (pyarrow), once per call.

Two-phase like the reference (segment_ops.rs:216-235): all data tables
are written into the target first, the lineage commit row last.

``maintenance`` is the merge-policy loop (src/index/maintenance.rs:7-82
analogue): compact when the job count exceeds a threshold.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Dict, List, Optional

import numpy as np
from pyspark.sql import SparkSession

from .build import POSTINGS_SCHEMA, finish_job, write_docs
from .delete import deleted_doc_ids, load_deletions
from .layout import IndexLayout

_ROWS_SCHEMA = ("field_ord int, term string, doc_id long, len_byte int, "
                "tf int")


def _decode_rows(field_names: List[str], deleted):
    """mapInArrow body: posting blocks → ``(field_ord, term, doc_id,
    len_byte, tf)`` rows, the input of ``build.write_postings``.  Each
    Arrow batch decodes in one numpy pass; doc ids in ``deleted`` (a
    broadcast sorted int64 array) are dropped here, before the
    shuffle."""
    import pyarrow as pa
    import pyarrow.compute as pc

    names = pa.array(field_names, type=pa.string())
    out_schema = pa.schema([("field_ord", pa.int32()),
                            ("term", pa.string()), ("doc_id", pa.int64()),
                            ("len_byte", pa.int32()), ("tf", pa.int32())])

    def _run(batches):
        from ..query.engine import _batch_decode
        gone = deleted.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            doc_ids, tfs, lens, counts = _batch_decode(rb)
            block = np.repeat(np.arange(rb.num_rows), counts)
            if gone.size:
                pos = np.minimum(np.searchsorted(gone, doc_ids),
                                 gone.size - 1)
                keep = gone[pos] != doc_ids
                doc_ids, tfs, lens, block = (
                    doc_ids[keep], tfs[keep], lens[keep], block[keep])
            ords = pc.index_in(rb.column("field"), value_set=names) \
                .to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays([
                pa.array(ords[block].astype(np.int32)),
                rb.column("term").take(pa.array(block)),
                pa.array(doc_ids),
                pa.array(lens.astype(np.int32)),
                pa.array(tfs.astype(np.int32)),
            ], schema=out_schema)

    return _run


def merge_jobs(spark: SparkSession, index_dir: str, out_dir: str,
               jobs: Optional[List[int]] = None) -> dict:
    """Compact ``jobs`` (default: all committed) of ``index_dir`` into
    single-job ``out_dir``.  Logical index content is preserved."""
    layout = IndexLayout(index_dir)
    config = layout.read_config()
    if jobs is None:
        jobs = layout.completed_jobs()
    # empty-batch jobs commit lineage only — nothing to merge
    jobs = [j for j in sorted(jobs)
            if os.path.isdir(layout.job_dir("docs", j))]
    out = IndexLayout(out_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    out.write_config(config)
    t0 = time.monotonic()

    # physical cleanup: deleted docs vanish and statistics are
    # recomputed from survivors (segment_ops.rs:157-206 semantics)
    del_dirs = layout.deletion_dirs()
    deletions = load_deletions(spark, layout, del_dirs)
    # mergeSchema: a stored column that only later jobs carry (a
    # mapping change between batches) survives the merge
    docs = (spark.read.option("basePath", layout.table("docs"))
            .option("mergeSchema", "true")
            .parquet(*[layout.job_dir("docs", j) for j in jobs])
            .drop("job"))
    if deletions is not None:
        docs = docs.join(deletions, "doc_id", "left_anti")
    written = write_docs(spark, docs, out, config, 0)

    # the block table's schema is fixed: no schema-inference job
    gone = spark.sparkContext.broadcast(deleted_doc_ids(del_dirs))
    try:
        rows = (spark.read.schema(POSTINGS_SCHEMA)
                .option("basePath", layout.table("postings"))
                .parquet(*[layout.job_dir("postings", j) for j in jobs])
                .select("field", "term", "segment", "doc_bytes",
                        "tf_bytes", "len_bytes")
                .mapInArrow(_decode_rows(list(config.fields), gone),
                            schema=_ROWS_SCHEMA))
        return finish_job(spark, rows, written, out, config, 0, t0,
                          {"merged_from": ",".join(str(j) for j in jobs)})
    finally:
        gone.destroy()


# the reference's size tiers (src/index/maintenance.rs:14-54):
# segments grouped by doc count; the fullest tier merges when it has
# ≥ 3 candidates.  Our "segment" is a job directory.
_TIERS = [(1, 9), (10, 99), (100, 999), (1000, 9999), (10_000, 65_536)]


def select_merge_candidates(job_sizes: Dict[int, int],
                            min_candidates: int = 3,
                            budget: int = 65_536) -> List[int]:
    """Size-tiered merge selection, mirroring maintenance.rs:7-82:

    * bucket jobs into doc-count tiers;
    * pick the tier with the most members if it has ≥ min_candidates;
    * fill the merge set largest-first up to the doc budget.

    Returns the job ids to merge ([] = nothing to do).
    """
    tiers: Dict[int, List[int]] = {}
    for job, n in job_sizes.items():
        for i, (lo, hi) in enumerate(_TIERS):
            if lo <= n <= hi:
                tiers.setdefault(i, []).append(job)
                break
    if not tiers:
        return []
    best = max(tiers.values(), key=len)
    if len(best) < min_candidates:
        return []
    chosen: List[int] = []
    total = 0
    for job in sorted(best, key=lambda j: -job_sizes[j]):
        if total + job_sizes[job] > budget and chosen:
            continue
        chosen.append(job)
        total += job_sizes[job]
    return sorted(chosen) if len(chosen) >= min_candidates else []


def maintenance(spark: SparkSession, index_dir: str,
                max_jobs: Optional[int] = None,
                min_candidates: int = 3):
    """Merge-policy loop body (the reference's 1 Hz maintenance
    thread, src/main.rs:64-84): apply the size-tiered policy to the
    accumulated job directories; if a merge is due, compact the
    selected jobs into a new generation and atomically swap via
    rename.  ``max_jobs`` forces a full compaction when the job count
    exceeds it regardless of tiering.  Returns the retired generation
    path (full compaction), the new job id (partial merge), or None
    if nothing merged."""
    layout = IndexLayout(index_dir)
    layout.read_config()                # the format gate, merge due or not
    lineage = layout.lineage()          # the one snapshot of this call
    if not lineage:
        return None
    sizes = {r["job"]: int(r["n_docs"]) for r in lineage if r["n_docs"]}
    if max_jobs is not None and len(sizes) > max_jobs:
        selected = sorted(sizes)
    else:
        selected = select_merge_candidates(sizes, min_candidates)
    if not selected or len(selected) < 2:
        return None
    gen_tmp = index_dir.rstrip("/") + ".compact_tmp"
    retired = index_dir.rstrip("/") + f".gen{int(time.time())}"
    if set(selected) == set(sizes):
        merge_jobs(spark, index_dir, gen_tmp,
                   jobs=[r["job"] for r in lineage])
        os.rename(index_dir, retired)
        os.rename(gen_tmp, index_dir)
        return retired
    # partial merge: compact the selected jobs into one new job dir
    # inside the SAME index.  The id must be fresh across ALL lineage
    # rows — `sizes` drops zero-doc jobs (empty streaming batches),
    # whose ids are nonetheless taken.
    row = merge_jobs(spark, index_dir, gen_tmp, jobs=selected)
    new_job = lineage[-1]["job"] + 1
    # two-phase visibility swap (readers resolve job dirs via
    # COMMITTED lineage — layout.committed_dirs):
    #   1. merged DATA in place, lineage not yet committed
    #      (invisible);
    #   2. retire source lineage (a concurrent reader now sees fewer
    #      docs, never duplicates);
    #   3. commit the merged job's lineage row LAST (activate);
    #   4. delete retired source data.
    # The filesystem analogue of the reference's single-batch
    # activate/deactivate, segment_ops.rs:270-289.
    for name in ("docs", "doc_index", "postings", "term_dict",
                 "field_stats"):
        src = IndexLayout(gen_tmp).job_dir(name, 0)
        if os.path.isdir(src):
            os.rename(src, layout.job_dir(name, new_job))
    for j in selected:
        shutil.rmtree(layout.job_dir("lineage", j), ignore_errors=True)
    layout.commit_job(spark, {**row, "job": new_job})
    for j in selected:
        for name in ("docs", "doc_index", "postings", "term_dict",
                     "field_stats"):
            p = layout.job_dir(name, j)
            if os.path.isdir(p):
                shutil.rmtree(p)
    shutil.rmtree(gen_tmp, ignore_errors=True)
    return new_job
