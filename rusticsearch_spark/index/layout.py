"""Index on-disk layout + config + lineage (the TableIO shim).

The reference persists everything in one RocksDB keyspace
(/root/reference/src/search/backends/rocksdb/key_builder.rs:18-141);
this engine uses a directory of columnar tables.  Iceberg is used when
the runtime ships the catalog jars; otherwise a plain parquet layout
with identical semantics (atomicity via per-job directories + a
lineage commit row — the two-phase activate of
/root/reference/src/search/backends/rocksdb/segment_ops.rs:216-235).

Layout under ``index_dir``::

    config.json                      # fields, analyzers, bucket counts
    docs/job=K/                      # (doc_id, key, stored columns)
    postings/job=K/tbucket=T/        # encoded posting blocks
    field_stats/job=K/               # (field, total_docs, total_tokens)
    lineage/job=K/                   # one commit row per finished job

A job is the checkpoint/resume unit: it owns a contiguous range of
url-hash buckets.  A job directory without its lineage row is garbage
(crashed run) and is overwritten on resume — exactly the reference's
"data merge is crash-safe, commit is atomic" split.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from pyspark.sql import SparkSession

from ..analysis import ANALYSIS_VERSION

#: Version of the on-disk index format.  Every reader and writer opens
#: an index through ``IndexLayout.read_config``, which refuses an index
#: whose stamp is missing or differs ("reindex required"): one gate, so
#: no reader carries a path for an older layout.
#: Format 1: every committed job writes the ``term_dict`` and
#: ``doc_index`` sidecars; nested child rows carry ``_nested_root`` and
#: bucket with their root document; posting blocks carry
#: ``(df_block, sum_tf)`` metadata only.  Indexes without a stamp
#: predate it.
#: Format 2: ``config.json`` loses format 1's switch for the term
#: frequency pre-count (the build always pre-counts map-side); the
#: data files are format 1's.
INDEX_FORMAT = 2


def qname(col: str) -> str:
    """Column reference for a field name that may contain dots.

    Nested-object fields are flattened to TOP-LEVEL columns literally
    named ``author.name`` (mapping.prepare_docs); Spark's analyzer
    parses an unquoted dot as struct-path navigation, so every
    by-name reference to a possibly-dotted field column must
    backtick-quote it."""
    return f"`{col}`" if "." in col and not col.startswith("`") else col


@dataclass
class IndexConfig:
    """Build-time configuration, persisted to ``config.json``.

    ``fields`` maps field name → analyzer name (``None`` = plain
    unanalyzed string field, the reference's PlainString,
    /root/reference/src/search/schema.rs:72-78).

    ``index_format`` and ``analysis_version`` are the compatibility
    stamps: ``IndexLayout.write_config`` sets both to the running
    code's values and ``IndexLayout.read_config`` refuses a config
    whose stamps are missing or differ, so an index built by other
    code is rebuilt, never read through a second code path.
    """

    key_col: str = "url"
    fields: Dict[str, Optional[str]] = field(
        default_factory=lambda: {"text": "standard", "lang": None})
    #: mapping-level value types for non-string fields
    #: ("integer" | "boolean" | "date"); absent = string.  Query-side
    #: term values normalize through the same typed canonicalization
    #: the build applies (terms.py ↔ src/search/term.rs:27-48).
    field_types: Dict[str, str] = field(default_factory=dict)
    #: query-side analyzer overrides (search_analyzer ≠ index
    #: analyzer, mapping/mod.rs:161-166); absent field = same analyzer
    #: both sides
    search_analyzers: Dict[str, str] = field(default_factory=dict)
    stored: List[str] = field(default_factory=list)
    n_buckets: int = 32          # url-hash buckets (doc-id namespace)
    tbuckets: int = 8            # term-hash partition dirs of `postings`
    #: key-hash partition dirs of the `doc_index` PK sidecar.  Unlike
    #: the doc-id bucket (whose namespace shifts per streaming batch),
    #: this hash is GLOBAL and stable across jobs, so a point lookup
    #: prunes to corpus/kbuckets regardless of which job holds the doc.
    kbuckets: int = 64
    shuffle_partitions: Optional[int] = None
    analysis_settings: Optional[dict] = None  # ES-style custom analyzers
    #: ES `nested`-TYPE paths: array fields whose elements were
    #: indexed as child documents (rows with `_nested_parent` = the
    #: parent's key).  Non-empty ⇒ the engine treats child rows as
    #: internal (excluded from match_all/negation universes) and
    #: accepts `nested` queries on these paths.
    nested_paths: List[str] = field(default_factory=list)
    #: stamp of the on-disk format the index was BUILT with
    #: (``INDEX_FORMAT``), checked with ``analysis_version`` by
    #: ``IndexLayout.read_config`` — see ``INDEX_FORMAT``
    index_format: int = INDEX_FORMAT
    #: stamp of the analysis pipeline the index was BUILT with
    #: (analysis.ANALYSIS_VERSION): an analyzer behavior change
    #: silently un-matches indexed terms from query terms, so a
    #: differing stamp also requires a reindex
    analysis_version: int = ANALYSIS_VERSION

    def to_json(self) -> str:
        return json.dumps(self.__dict__, indent=1, sort_keys=True)


def write_small_table(path: str, rows: List[dict], schema=None) -> None:
    """Write a driver-resident list of dicts as a one-file parquet
    directory WITHOUT a Spark job.  The build's tiny sidecars
    (field_stats, lineage commits) are a handful of rows; launching a
    Spark job for each added a fixed serialized driver cost per build
    job — measurable against the Amdahl share at high parallelism.
    Readers (spark.read.parquet) see the same layout Spark writes.
    """
    import pyarrow as pa
    cols = list(rows[0].keys())
    data = {c: [r[c] for r in rows] for c in cols}
    write_arrow_table(path, pa.table(data, schema=schema)
                      if schema is not None else pa.table(data))


def write_arrow_table(path: str, tbl) -> None:
    """Write a pyarrow table as the one file of the parquet directory
    ``path``, without a Spark job (the driver-side writers of the
    write path all come through here)."""
    import pyarrow.parquet as pq
    os.makedirs(path, exist_ok=True)
    # temp-write + rename: a crash mid-write must never leave a torn
    # parquet at the final name — lineage commits rely on this being
    # atomic (a torn lineage file would wedge every later
    # completed_jobs read, including resume), mirroring Spark's own
    # _temporary + task-commit rename protocol
    tmp = os.path.join(path, ".part-00000.parquet.tmp")
    pq.write_table(tbl, tmp)
    os.replace(tmp, os.path.join(path, "part-00000.parquet"))


def term_bucket(term: str, tbuckets: int) -> int:
    """Deterministic term → partition-dir bucket, computable on both
    executors (encode) and the driver (query-time pruning).  md5-based
    so it does not depend on Spark/Python hash seeds."""
    h = hashlib.md5(term.encode("utf-8", "surrogatepass")).digest()
    return int.from_bytes(h[:4], "big") % tbuckets


def term_bucket_col(term_col, tbuckets: int):
    """``term_bucket`` as a native Spark SQL Column (same md5 first-4-
    bytes-big-endian mod), so the build computes it JVM-side inside
    whole-stage codegen; parity with the Python form is pinned by
    tests/test_webtext_and_build.py::test_term_bucket_sql_parity."""
    from pyspark.sql import functions as F
    return F.pmod(
        F.conv(F.substring(F.md5(term_col.cast("binary")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(tbuckets)).cast("int")


def url_bucket_bytes(key: str) -> bytes:
    return hashlib.md5(key.encode("utf-8", "surrogatepass")).digest()


class IndexLayout:
    """Paths + config + lineage for one index directory."""

    def __init__(self, index_dir: str):
        self.index_dir = index_dir

    # -- paths ------------------------------------------------------
    @property
    def config_path(self) -> str:
        return os.path.join(self.index_dir, "config.json")

    def table(self, name: str) -> str:
        return os.path.join(self.index_dir, name)

    def job_dir(self, name: str, job: int) -> str:
        return os.path.join(self.index_dir, name, f"job={job}")

    # -- config -----------------------------------------------------
    def write_config(self, config: IndexConfig) -> None:
        """Persist ``config`` stamped with the running code's format
        and analysis versions (the stamps are set on ``config`` too)."""
        config.index_format = INDEX_FORMAT
        config.analysis_version = ANALYSIS_VERSION
        os.makedirs(self.index_dir, exist_ok=True)
        with open(self.config_path, "w") as f:
            f.write(config.to_json())

    def read_config(self) -> IndexConfig:
        """The index's config — the compatibility gate every reader
        and writer opens the index through.  Raises ValueError when
        either stamp is missing or differs from the running code's."""
        with open(self.config_path) as f:
            raw = json.load(f)
        for name, want in (("index_format", INDEX_FORMAT),
                           ("analysis_version", ANALYSIS_VERSION)):
            got = raw.get(name)
            if got != want:
                raise ValueError(
                    f"index at {self.index_dir} has {name} {got}, this "
                    f"code reads {want}: reindex required")
        return IndexConfig(**raw)

    # -- lineage (checkpoint/commit) ---------------------------------
    def lineage(self) -> List[dict]:
        """Committed lineage rows (``status == 'done'``), one per job,
        sorted by job.  The table is one tiny file per job, so it is
        read on the driver with pyarrow — zero Spark jobs.  The job id
        comes from the ``job=K`` directory name; a directory that does
        not read as parquet (a crash mid-write) is not committed.

        Every lineage consumer goes through this one read, and each
        write-path call (engine open, upsert batch, merge) takes ONE
        snapshot of it: two reads could straddle a concurrent commit
        and mix two index states."""
        import pyarrow.parquet as pq
        root = self.table("lineage")
        if not os.path.isdir(root):
            return []
        out: List[dict] = []
        for d in os.listdir(root):
            if not d.startswith("job="):
                continue
            try:
                rows = pq.read_table(os.path.join(root, d)).to_pylist()
            except (OSError, ValueError):    # ArrowInvalid is a ValueError
                continue
            done = [r for r in rows if r.get("status") == "done"]
            if done:
                out.append({**done[0], "job": int(d.split("=", 1)[1])})
        return sorted(out, key=lambda r: r["job"])

    def completed_jobs(self, spark: Optional[SparkSession] = None
                       ) -> List[int]:
        """Committed job ids (``spark`` is accepted for older callers
        and unused: lineage is read on the driver)."""
        return [r["job"] for r in self.lineage()]

    #: the same driver-side read, under the name LocalSearcher and the
    #: scripts use
    completed_jobs_local = completed_jobs

    def committed_dirs(self, name: str,
                       spark: Optional[SparkSession] = None,
                       jobs: Optional[List[int]] = None) -> List[str]:
        """Data directories of COMMITTED jobs only.  Readers must
        resolve job dirs through lineage, never by globbing ``job=*``:
        during a partial merge the merged job's data lands on disk
        before its sources retire, and a crashed job may leave data
        with no lineage row — globbing would double-count or read
        uncommitted docs.  Pass ``jobs`` (a caller's lineage snapshot)
        to resolve several tables against the same index state."""
        if jobs is None:
            jobs = self.completed_jobs()
        return [self.job_dir(name, j) for j in jobs
                if os.path.isdir(self.job_dir(name, j))]

    def field_stats(self, jobs: List[int]) -> Dict[str, Tuple[int, int]]:
        """Index-wide ``field → (total_docs, total_tokens)``: the
        ``jobs``' field_stats sidecars summed on the driver (a handful
        of rows per job; pyarrow, zero Spark jobs)."""
        import pyarrow.parquet as pq
        out: Dict[str, Tuple[int, int]] = {}
        for d in self.committed_dirs("field_stats", jobs=jobs):
            t = pq.read_table(d, columns=["field", "total_docs",
                                          "total_tokens"]).to_pydict()
            for f, nd, nt in zip(t["field"], t["total_docs"],
                                 t["total_tokens"]):
                d0, t0 = out.get(f, (0, 0))
                out[f] = (d0 + int(nd), t0 + int(nt))
        return out

    def commit_job(self, spark: SparkSession, row: dict) -> None:
        """Atomically activate a job: the lineage row is written LAST,
        after all job data directories are fully on disk.

        The ``job`` value lives in the directory name (Hive-style
        partition), not in the file, so partition discovery over
        ``lineage/`` reconstitutes it without column duplication.
        """
        job = row["job"]
        # fixed schema across batch + streaming jobs (parquet partition
        # discovery unions job dirs, so columns must agree).  Written
        # driver-side (no Spark job): one row, and the per-job Spark
        # launch cost is exactly the serialized driver work the
        # scaling evidence attributes the 2->8 gap to.
        import pyarrow as pa
        defaults = {"bucket_lo": -1, "bucket_hi": -1, "batch_id": -1,
                    "n_docs": 0, "n_posting_blocks": 0, "wall_sec": 0.0,
                    "status": "done", "finished_unix": 0,
                    "merged_from": ""}
        data = {**defaults, **{k: v for k, v in row.items() if k != "job"}}
        data = {k: data[k] for k in sorted(defaults)}
        types = {"bucket_lo": pa.int64(), "bucket_hi": pa.int64(),
                 "batch_id": pa.int64(), "n_docs": pa.int64(),
                 "n_posting_blocks": pa.int64(), "wall_sec": pa.float64(),
                 "status": pa.string(), "finished_unix": pa.int64(),
                 "merged_from": pa.string()}
        target = self.job_dir("lineage", job)
        shutil.rmtree(target, ignore_errors=True)
        write_small_table(target, [data],
                          schema=pa.schema([(k, types[k])
                                            for k in sorted(defaults)]))

    def clear_incomplete_job(self, job: int) -> None:
        for name in ("docs", "doc_index", "postings", "term_dict",
                     "field_stats", "lineage"):
            path = self.job_dir(name, job)
            if os.path.isdir(path):
                shutil.rmtree(path)

    # -- deletion lists (the reference's `x<segment>` Roaring lists,
    # key_builder.rs:136-141; ours is a doc_id parquet appended per
    # delete batch, applied as an anti-join on every plan and erased
    # physically at merge) -------------------------------------------
    def deletion_dirs(self) -> List[str]:
        root = self.table("deletions")
        if not os.path.isdir(root):
            return []
        # a dot-named dir is a list still being written (see
        # delete.write_deletion_ids): not a deletion list yet
        return sorted(
            os.path.join(root, d) for d in os.listdir(root)
            if not d.startswith(".")
            and os.path.isdir(os.path.join(root, d)))

    def next_deletion_dir(self) -> str:
        dirs = self.deletion_dirs()
        return os.path.join(self.table("deletions"), f"d{len(dirs):06d}")
