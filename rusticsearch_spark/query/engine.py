"""Query planning + execution over the built index.

Lowers the ``dsl.Query`` tree into DataFrame set-algebra and scoring,
replacing the reference's two postfix stack machines
(/root/reference/src/search/backends/rocksdb/search/mod.rs:16-155):

* the **boolean VM** (Roaring intersect/union/difference) becomes
  joins/unions on doc_id frames, with the Full/Empty constant-folding
  algebra of planner/boolean_query.rs:131-321 applied symbolically
  (docsets are ``ALL``/``NONE``/DataFrame — an ``ALL`` operand never
  materializes the universe, the negation-pushdown effect);
* the **score VM** becomes per-term f32 scoring inside an
  Arrow-batched decode UDF plus groupBy-level combinators
  (avg over child *count*, max — score_function.rs:21-38,74-88);
* the per-segment loop + TopScoreCollector become partition-parallel
  scans + ``ORDER BY score DESC, doc_id LIMIT k``
  (TakeOrderedAndProject), with doc_id as the deterministic
  tie-break (the reference leaves tie order unspecified,
  collectors/top_score.rs:49-110).  Every block of a query term is
  decoded: the collector's doc-at-a-time pruning has no counterpart,
  because one vectorized full decode beat block-max pruning on cached
  and uncached postings (BENCH/APPENDIX_r8_wand.md).

Precision policy: per-term scores are exact f32 (numpy, matching the
reference's Rust f32 math bit-for-bit); combinator sums/averages
accumulate in float64 over those f32 values, so near-tie ranks may
differ from the reference by f32-accumulation order at ~1e-7 relative
— ties are resolved by doc_id.  The pytest oracle pins this policy.
"""

from __future__ import annotations

import os
from functools import cached_property
from typing import Dict, Iterator, List, Optional, Tuple, Union

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analysis.analyzers import AnalyzerRegistry, parse_analysis_settings
from ..index.codec import decode_blocks_concat
from ..index.layout import IndexConfig, IndexLayout, term_bucket
from ..similarity import (bm25_f32, bm25_f64, lengths_from_bytes,
                          lengths_from_bytes_f64, tfidf_f32, tfidf_f64)
from . import dsl

_SCORE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("score", T.DoubleType()),
])

ALL = "__all__"
NONE = "__none__"
DocSet = Union[str, DataFrame]          # ALL | NONE | DataFrame(doc_id)
Scored = Tuple[str, object]             # ("all", const) | ("none", None)
                                        # | ("df", DataFrame(doc_id, score))


def wildcard_regex(pattern: str) -> Tuple[str, str]:
    """(anchored regex, literal prefix before the first wildcard).
    ``*`` → any run, ``?`` → one char; everything else is literal.
    The literal prefix range-prunes the dictionary scan exactly like
    a prefix query's bounds."""
    import re as _re
    out: List[str] = []
    lit: List[str] = []
    literal_so_far = True
    for ch in pattern:
        if ch == "*":
            out.append(".*")
            literal_so_far = False
        elif ch == "?":
            out.append(".")
            literal_so_far = False
        else:
            out.append(_re.escape(ch))
            if literal_so_far:
                lit.append(ch)
    return "^" + "".join(out) + "$", "".join(lit)


def regex_literal_prefix(pattern: str) -> str:
    """Leading run of plain literal characters before the first regex
    metacharacter — a sound dictionary range-prune for an anchored
    whole-term regex.  A char FOLLOWED by a quantifier is not part of
    the mandatory prefix, so the scan stops one short of ?*+{."""
    meta = set(".^$*+?()[]{}|\\")
    out: List[str] = []
    for i, ch in enumerate(pattern):
        if ch in meta:
            break
        if i + 1 < len(pattern) and pattern[i + 1] in "?*{":
            break
        out.append(ch)
    return "".join(out)


def editdist_leq(a: str, b: str, k: int) -> bool:
    """Levenshtein(a, b) <= k — banded DP, O(len·k); must agree with
    Spark's F.levenshtein and DuckDB's levenshtein() (plain unit-cost
    edit distance, no transpositions)."""
    if abs(len(a) - len(b)) > k:
        return False
    if k == 0:
        return a == b
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        row_min = i
        for j, cb in enumerate(b, 1):
            v = min(prev[j] + 1, cur[j - 1] + 1,
                    prev[j - 1] + (ca != cb))
            cur.append(v)
            row_min = min(row_min, v)
        if row_min > k:
            return False
        prev = cur
    return prev[-1] <= k


def _batch_decode(rb, docs_only: bool = False):
    """One vectorized decode of every posting block in an Arrow batch
    (guide §4.2: hand whole batches to numpy instead of looping rows).

    Returns ``(doc_ids, tfs, lens, counts)`` — ``counts[i]`` postings
    belong to block row ``i`` of the batch, laid out in row order.
    ``docs_only`` skips the tf/len streams (the score-elided docset
    path decodes just doc ids)."""
    import pyarrow as pa

    from ..index.codec import decode_docids_concat
    from .local import _concat_binary
    segs = rb.column("segment").to_numpy(zero_copy_only=False)
    doc_buf, doc_off = _concat_binary(
        pa.chunked_array([rb.column("doc_bytes")]))
    if docs_only:
        doc_ids, counts = decode_docids_concat(segs, doc_buf, doc_off)
        return doc_ids, None, None, counts
    tf_buf, tf_off = _concat_binary(
        pa.chunked_array([rb.column("tf_bytes")]))
    len_buf, len_off = _concat_binary(
        pa.chunked_array([rb.column("len_bytes")]))
    return decode_blocks_concat(segs, doc_buf, doc_off,
                                tf_buf, tf_off, len_buf, len_off)


def _decode_score_fn(total_docs: int, total_tokens: int, similarity: str,
                     boost: float, needs_score: bool,
                     precision: str = "f32"):
    """mapInArrow body: posting blocks → (doc_id, score) rows.

    Expects columns (segment, doc_bytes, tf_bytes, len_bytes,
    df_global).  precision "f32" matches the Rust reference's math
    (similarity.rs); "f64" matches a double-precision SQL oracle.
    Boost multiplies after similarity (rocksdb/search/mod.rs:110-111).
    The whole batch decodes in one numpy pass (df_global is expanded
    per posting with ``np.repeat``; every scoring op is elementwise,
    so the per-element f32 math is bit-identical to the per-block
    loop it replaces)."""
    import pyarrow as pa

    def _run(batches) -> Iterator["pa.RecordBatch"]:
        b32 = np.float32(boost)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            doc_ids, tfs, lens, counts = _batch_decode(
                rb, docs_only=not needs_score)
            if not needs_score:
                s = np.zeros(len(doc_ids), dtype=np.float64)
            else:
                dfg = np.repeat(
                    rb.column("df_global").to_numpy(zero_copy_only=False),
                    counts)
                if precision == "f64":
                    if similarity == dsl.TFIDF:
                        s = tfidf_f64(tfs, total_docs, dfg)
                    else:
                        s = bm25_f64(tfs, lengths_from_bytes_f64(lens),
                                     total_tokens, total_docs, dfg)
                    s = s * float(boost)
                else:
                    if similarity == dsl.TFIDF:
                        s = tfidf_f32(tfs, total_docs, dfg)
                    else:
                        s = bm25_f32(tfs, lengths_from_bytes(lens),
                                     total_tokens, total_docs, dfg)
                    s = (s * b32).astype(np.float64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_ids, type=pa.int64()),
                 pa.array(s, type=pa.float64())],
                names=["doc_id", "score"])

    return _run


def _fused_decode_fn(similarity: str, precision: str):
    """mapInArrow body for the fused multi-term path: per-row stats
    columns (df_global, boost, total_docs, total_tokens, child) instead
    of closure constants — one decode job scores every term child.
    The batch decodes in one numpy pass; scoring loops once per
    DISTINCT child (each child's stats are constants), keeping the
    per-element f32 math bit-identical to the per-block-row loop."""
    import pyarrow as pa

    def _run(batches) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            doc_ids, tfs, lens, counts = _batch_decode(rb)
            child_b = rb.column("child").to_numpy(zero_copy_only=False)
            child = np.repeat(child_b.astype(np.int32), counts)
            dfg = np.repeat(
                rb.column("df_global").to_numpy(zero_copy_only=False),
                counts)
            s = np.empty(len(doc_ids), dtype=np.float64)
            boost_b = rb.column("boost").to_numpy(zero_copy_only=False)
            td_b = rb.column("total_docs").to_numpy(zero_copy_only=False)
            tt_b = rb.column("total_tokens").to_numpy(zero_copy_only=False)
            for c in np.unique(child_b):
                i = int(np.nonzero(child_b == c)[0][0])
                m = child == c
                t_docs, t_toks = int(td_b[i]), int(tt_b[i])
                bst = float(boost_b[i])
                if precision == "f64":
                    if similarity == dsl.TFIDF:
                        sc = tfidf_f64(tfs[m], t_docs, dfg[m])
                    else:
                        sc = bm25_f64(tfs[m], lengths_from_bytes_f64(lens[m]),
                                      t_toks, t_docs, dfg[m])
                    s[m] = sc * bst
                else:
                    if similarity == dsl.TFIDF:
                        sc = tfidf_f32(tfs[m], t_docs, dfg[m])
                    else:
                        sc = bm25_f32(tfs[m], lengths_from_bytes(lens[m]),
                                      t_toks, t_docs, dfg[m])
                    s[m] = (sc * np.float32(bst)).astype(np.float64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_ids, type=pa.int64()),
                 pa.array(child, type=pa.int32()),
                 pa.array(s, type=pa.float64())],
                names=["doc_id", "child", "score"])

    return _run


_FUSED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("child", T.IntegerType()),
    T.StructField("score", T.DoubleType()),
])


class SearchEngine:
    """Read-side handle on one index directory."""

    #: "auto" serving mode switches to the driver-local searcher when
    #: the LARGEST PER-SHARD postings artifact (one build job = one
    #: document shard) is at most this many bytes on disk —
    #: compressed postings several times this size still fit driver
    #: memory decoded, but latency parity with a Spark job is already
    #: lost well above it.  At web scale each shard's LocalSearcher
    #: runs in its own serving process (query/local.ShardedSearcher
    #: is the same math in one process).
    LOCAL_MAX_BYTES = 256 << 20
    #: lazy serving holds the compressed bytes (plus a per-term decode
    #: cache) instead of the eager searcher's ~10× int64 expansion, so
    #: "auto" with serving_lazy=True can honestly admit larger shards
    LAZY_BYTES_FACTOR = 4

    def __init__(self, spark: SparkSession, index_dir: str,
                 precision: str = "f32", cache_postings: bool = False,
                 mode: str = "spark", serving_lazy: bool = False):
        """``mode``: "spark" (default) plans every query as Spark
        jobs; "local" serves top-k/count from the driver-side
        LocalSearcher (millisecond latency, rank-identical f32
        scores — tests/test_local_searcher.py) and is valid only for
        precision="f32" and indexes that fit the driver; "auto"
        picks "local" when the postings artifact is under
        LOCAL_MAX_BYTES.  ``serving_lazy`` forwards lazy
        decode-on-demand to the driver-side searcher(s): spin-up
        holds bytes only and each query decodes exactly its own
        terms (identical results; 9× faster cold start measured —
        BENCH/APPENDIX_serving.md)."""
        self.spark = spark
        self.precision = precision
        self.layout = IndexLayout(index_dir)
        self.config: IndexConfig = self.layout.read_config()
        from ..analysis import ANALYSIS_VERSION
        if self.config.analysis_version != ANALYSIS_VERSION:
            raise ValueError(
                f"index at {index_dir} was built with analysis pipeline "
                f"v{self.config.analysis_version}, this code analyzes "
                f"queries with v{ANALYSIS_VERSION}: indexed terms and "
                f"query terms would silently mismatch — reindex required")
        if self.config.analysis_settings:
            self.registry = parse_analysis_settings(
                self.config.analysis_settings)
        else:
            self.registry = AnalyzerRegistry()
        # resolve job dirs through COMMITTED lineage, never job=* glob:
        # a partial merge writes the merged job's data before retiring
        # its sources, and a crashed job may leave data without a
        # lineage row — globbing would double-count docs/df in that
        # window (segment_ops.rs:270-289 activate/deactivate batch)
        def _read(name: str) -> DataFrame:
            dirs = self.layout.committed_dirs(name, spark)
            return (spark.read.option("basePath", self.layout.table(name))
                    .parquet(*dirs))

        self.postings = _read("postings")
        self.docs = _read("docs")
        # term-dictionary sidecar (term_dictionary.rs:78-85): present
        # when every committed job wrote one; readers fall back to
        # block-metadata scans otherwise (legacy indexes)
        import os as _os
        jobs = self.layout.completed_jobs(spark)
        self._jobs = list(jobs)
        td_ok = all(
            _os.path.isdir(self.layout.job_dir("term_dict", j))
            for j in jobs
            if _os.path.isdir(self.layout.job_dir("postings", j)))
        # driver-side dictionary reader (the reference's in-memory
        # TermDictionary, term_dictionary.rs:16-91): answers df /
        # n_blocks lookups from sorted-parquet row groups WITHOUT a
        # Spark job — decode df and _count of a term become free.
        # Every dictionary consumer goes through this reader; no
        # Spark-side term_dict DataFrame is held (it would only pin
        # an unused table in executor memory in serving mode).
        from ..index.term_dict import TermDictReader
        self.dict_reader: Optional[TermDictReader] = (
            TermDictReader(self.layout, jobs) if td_ok and jobs else None)
        if cache_postings:
            # serving mode: pin the (compressed, small relative to the
            # corpus) block table in memory across queries
            self.postings = self.postings.cache()
        stats = _read("field_stats") \
            .groupBy("field").agg(F.sum("total_docs").alias("d"),
                                  F.sum("total_tokens").alias("t")).collect()
        # global per-field stats, memoized for the engine's lifetime
        # (the reference memoizes per query, statistics.rs:46-78 —
        # ours are immutable per snapshot so engine-lifetime is safe)
        self.field_stats = {r.field: (int(r.d), int(r.t)) for r in stats}
        # deletion list: anti-joined onto every plan (the planner's
        # unconditional AndNot, planner/mod.rs:34-36); stats stay
        # un-decremented until merge, like the reference
        from ..index.delete import load_deletions
        self.deletions = load_deletions(spark, self.layout)
        # serving-mode selection (the reference's single-node searcher
        # split: executors build the artifact, a driver/serving tier
        # answers queries — search_api.rs)
        if mode not in ("spark", "local", "sharded", "auto"):
            raise ValueError(
                f"mode must be spark|local|sharded|auto: {mode!r}")
        if (mode == "sharded" and self.config.nested_paths
                and not self.config.nested_colocated):
            # pre-colocation indexes bucketed child rows by their
            # SYNTHETIC key, so per-job shards can split a parent
            # from its elements — per-shard evaluation would drop
            # matches.  Indexes built with parent-keyed bucketing
            # stamp nested_colocated and serve sharded.
            raise ValueError(
                "this nested-type index predates parent-colocated "
                "bucketing and cannot serve sharded; rebuild it, or "
                "use mode='local', 'auto' or 'spark'")
        if mode == "auto":
            # per-SHARD bytes decide, not whole-index bytes: the
            # serving tier scales out by document shard (one build
            # job per LocalSearcher, query/local.ShardedSearcher), so
            # the driver-tier cutoff is the largest shard's artifact.
            # Lazy serving keeps shards compressed in memory, so its
            # cutoff admits LAZY_BYTES_FACTOR× more artifact bytes.
            per_job = self._postings_bytes_per_job()
            total = sum(per_job.values())
            cutoff = self.LOCAL_MAX_BYTES * (
                self.LAZY_BYTES_FACTOR if serving_lazy else 1)
            if total <= cutoff:
                mode = "local"
            elif per_job and max(per_job.values()) <= cutoff \
                    and (not self.config.nested_paths
                         or self.config.nested_colocated):
                mode = "sharded"
            else:
                mode = "spark"
        if mode in ("local", "sharded") and precision != "f32":
            raise ValueError("mode='local' serves exact f32 scores; "
                             "use precision='f32' or mode='spark'")
        self.mode = mode
        # temporarily swapped to the child-row universe while a nested
        # query's inner tree evaluates (match_all / root negations
        # inside `nested` must range over array elements, not parents);
        # _nested_context tracks WHICH level that universe is — the
        # fold target of any nested query inside the inner tree
        self._universe_override: Optional[DataFrame] = None
        self._nested_context: Optional[str] = None
        self._local = None
        if mode == "local":
            from .local import LocalSearcher
            self._local = LocalSearcher(index_dir, lazy=serving_lazy)
        elif mode == "sharded":
            from .local import ShardedSearcher
            self._local = ShardedSearcher(index_dir, lazy=serving_lazy)

    @cached_property
    def key_is_string(self) -> bool:
        """Whether the key column is a string — decided once per
        engine, so a point GET pays no schema read (see
        index.doc_index.lookup_key_driver)."""
        from ..index.doc_index import key_is_string
        return key_is_string(self.layout, self.config, self._jobs)

    def _postings_bytes(self) -> int:
        return sum(self._postings_bytes_per_job().values())

    def _postings_bytes_per_job(self) -> Dict[str, int]:
        import os as _os
        out: Dict[str, int] = {}
        for d in self.layout.committed_dirs("postings"):
            total = 0
            for root, _, files in _os.walk(d):
                total += sum(_os.path.getsize(_os.path.join(root, f))
                             for f in files)
            out[d] = total
        return out

    def _live(self, frame: DataFrame) -> DataFrame:
        if self.deletions is None:
            return frame
        return frame.join(self.deletions, "doc_id", "left_anti")

    def _universe(self) -> DataFrame:
        """All PARENT doc ids.  For nested-type indexes the docs
        table also holds child rows (one per array element, tagged
        with `_nested_parent`); they are internal — invisible to
        match_all / negation / count, exactly as ES hides Lucene
        block-join child docs."""
        if self._universe_override is not None:
            return self._universe_override
        if self.config.nested_paths:
            return self.docs.where(
                F.col("_nested_parent").isNull()).select("doc_id")
        return self.docs.select("doc_id")

    def _is_nested_field(self, field: str) -> bool:
        """True when ``field`` lives under a nested-TYPE path: its
        postings belong to child rows, so a FLAT query on it matches
        no document (ES semantics — nested fields are only reachable
        through a `nested` query)."""
        return any(field == p or field.startswith(p + ".")
                   for p in self.config.nested_paths)

    # ---------------------------------------------------------------
    # public API (the reference's _search/_count semantics)
    # ---------------------------------------------------------------
    def parse(self, query_json: dict) -> dsl.Query:
        ctx = dsl.ParseContext(fields=dict(self.config.fields),
                               analyzers=self.registry,
                               field_types=dict(self.config.field_types),
                               search_analyzers=dict(
                                   self.config.search_analyzers),
                               nested_paths=tuple(
                                   self.config.nested_paths))
        return dsl.parse(query_json, ctx)

    def search(self, query_json: dict, size: int = 10,
               from_: int = 0) -> DataFrame:
        """Top-k (doc_id, score), score desc, doc_id asc tie-break.

        One plan for every index state: score every match, drop
        pending deletions, then TakeOrderedAndProject."""
        if self._local is not None:
            # driver-side serving: zero Spark jobs to compute the
            # top-k; the (≤ size)-row result is wrapped as a local
            # DataFrame to keep the API uniform
            rows = self._local.search(query_json, size=size, from_=from_)
            return self.spark.createDataFrame(
                [(int(d), float(s)) for d, s in rows],
                schema=_SCORE_SCHEMA)
        q = self.parse(query_json)
        frame = self._live(self._materialize(self._score(q)))
        if self.config.nested_paths:
            # internal child rows must never surface as hits: a flat
            # query on a nested subfield scores child doc_ids — ES
            # semantics are that such a query matches nothing, and
            # every public result is a parent document
            frame = frame.join(self._universe(), "doc_id", "left_semi")
        out = frame.orderBy(F.desc("score"), F.asc("doc_id"))
        if from_:
            out = out.offset(from_)
        return out.limit(size)

    def hits(self, query_json: dict, size: int = 10, from_: int = 0,
             fields: Optional[List[str]] = None) -> List[dict]:
        """Collected hits with the document key (search_api.rs:124-151).

        ``fields`` mirrors the reference's ``fields`` URL parameter
        (search_api.rs:93-105,125-137): each requested stored field is
        returned per hit as a singleton list ([] when null); unknown
        field names are skipped (the reference warns and continues).
        The reference half-wires the response ("fields": "FIXME",
        search_api.rs:141) — this is the functional completion.
        """
        top = self.search(query_json, size=size, from_=from_)
        key = self.config.key_col
        known = [f for f in (fields or []) if f in self.docs.columns]
        cols = ["doc_id", key] + [f for f in known if f != key]
        from ..index.layout import qname
        proj = [F.col(qname(c)).alias(c) for c in cols]
        joined = (top.join(self.docs.select(*proj), "doc_id")
                  .orderBy(F.desc("score"), F.asc("doc_id")).collect())
        out = []
        for r in joined:
            hit = {"key": r[key], "doc_id": r.doc_id, "score": r.score}
            if fields is not None:
                hit["fields"] = {f: ([] if r[f] is None else [r[f]])
                                 for f in known}
            out.append(hit)
        if out and self.config.nested_paths:
            # ES inner_hits: attach each requesting nested node's top
            # matching children per returned parent (keyed by the
            # node's inner_hits name).  Serving modes answer from the
            # in-memory child arrays — zero Spark jobs, like the
            # top-k itself; spark mode runs one bounded job per node.
            nodes = dsl.inner_hits_nodes(self.parse(query_json))
            if nodes and self._local is not None:
                root_ids = [int(h["doc_id"]) for h in out]
                for node in nodes:
                    per_root = self._local.inner_hits(node, root_ids)
                    nm = node.inner_hits[0]
                    for h in out:
                        h.setdefault("inner_hits", {})[nm] = \
                            per_root.get(int(h["doc_id"]), [])
            elif nodes:
                root_keys = [str(h["key"]) for h in out]
                for node in nodes:
                    per_root = self._inner_hits(node, root_keys)
                    nm = node.inner_hits[0]
                    for h in out:
                        h.setdefault("inner_hits", {})[nm] = \
                            per_root.get(str(h["key"]), [])
        return out

    def count(self, query_json: Optional[dict] = None) -> int:
        """_count: scoring elided entirely (planner/mod.rs:43-47)."""
        if self._local is not None:
            return self._local.count(query_json)
        if query_json is None:
            if self.deletions is None and not self.config.nested_paths:
                # match_all count = Σ committed lineage n_docs — the
                # reference's metadata total (statistics ftdoc path),
                # zero Spark jobs.  Deletions stay un-decremented
                # until merge and nested child rows inflate n_docs,
                # so both fall through to the counted scan.
                n = self._lineage_doc_count()
                if n is not None:
                    return n
            return self._live(self._universe()).count()
        q = self.parse(query_json)
        if isinstance(q, dsl.Term) and self.deletions is None:
            if self._is_nested_field(q.field):
                return 0     # flat query on a nested field: no parent
            if self.dict_reader is not None:
                # dictionary lookup: zero Spark jobs for a term count
                return self.dict_reader.lookup_one(q.field, q.term)[0]
            # metadata-only: Σ df_block, no posting decode at all
            r = self._term_blocks(q.field, q.term) \
                .agg(F.sum("df_block")).collect()[0][0]
            return int(r or 0)
        ds = self._docset(q)
        if isinstance(ds, str):
            if ds == NONE:
                return 0
            if self.deletions is None and not self.config.nested_paths:
                n = self._lineage_doc_count()
                if n is not None:
                    return n
            return self._live(self._universe()).count()
        if self.config.nested_paths:
            # child rows are internal — count parent documents only
            ds = ds.join(self._universe(), "doc_id", "left_semi")
        return self._live(ds).count()

    def _lineage_doc_count(self) -> Optional[int]:
        """Σ ``n_docs`` over committed lineage rows — a driver-side
        pyarrow read of the (one-row-per-job) lineage sidecars, zero
        Spark jobs.  Every writer records the exact docs-table row
        count (observe() metric on the docs write; survivor count on
        merge), so the sum equals ``docs.count()`` whenever no
        deletion list is pending.  Returns None when lineage is
        unreadable (caller falls back to the counted scan)."""
        import pyarrow.parquet as pq
        root = self.layout.table("lineage")
        if not os.path.isdir(root):
            return None
        total = 0
        try:
            # restricted to the engine's committed-at-open snapshot so
            # a concurrent writer cannot skew the count vs. the docs
            # frame this engine actually reads
            for d in (f"job={j}" for j in self._jobs):
                if not os.path.isdir(os.path.join(root, d)):
                    continue
                tbl = pq.read_table(os.path.join(root, d),
                                    columns=["status", "n_docs"])
                for st, nd in zip(tbl.column("status").to_pylist(),
                                  tbl.column("n_docs").to_pylist()):
                    if st == "done":
                        total += int(nd)
        except Exception:
            return None
        return total

    # ---------------------------------------------------------------
    # fused multi-term path: ONE decode job for a combinator whose
    # children are all plain Terms (the common match/multi_match case)
    # ---------------------------------------------------------------
    @staticmethod
    def _fusable(children: Tuple[dsl.Query, ...]) -> bool:
        return (len(children) > 0
                and all(isinstance(c, dsl.Term) for c in children)
                and len({(c.field, c.term) for c in children})
                == len(children)
                and len({c.scorer.similarity for c in children}) == 1)

    def _fused_frame(self, children) -> DataFrame:
        """(doc_id, child, score): all Term children in one decode."""
        sim = children[0].scorer.similarity
        return self._fused_blocks(children).select(
            "segment", "doc_bytes", "tf_bytes", "len_bytes", "df_global",
            "boost", "total_docs", "total_tokens", "child"
        ).mapInArrow(_fused_decode_fn(sim, self.precision),
                      schema=_FUSED_SCHEMA)

    def _fused_blocks(self, children) -> DataFrame:
        """Block rows for fusable Term children with every per-child
        constant attached: child ordinal, boost, field stats, df.

        The per-child spec is driver-known, so it attaches as LITERAL
        column expressions (a when-chain keyed on (field, term) +
        element_at arrays) instead of a broadcast-joined
        ``createDataFrame``: that spec materialized as a pickled
        Python RDD scan plus a BroadcastExchange — one extra Spark job
        and a Python worker round-trip on EVERY fused query (guide
        §2.4: remove exchanges outright; §1 plan audit showed
        `Scan ExistingRDD` + `BroadcastExchange` under every fused
        plan).

        df_global comes from the driver-side term dictionary when the
        sidecar exists — a zero-job read (the same source the zero-job
        `_count` already trusts; the sidecar is maintained through
        merges, `tests/test_term_dict.py`).  The legacy fallback
        aggregates df_block in-plan, which costs a full block-metadata
        scan plus an aggregate-broadcast exchange PER QUERY."""
        tb = self.config.tbuckets
        blocks = self.postings.where(
            F.col("tbucket").isin(
                sorted({term_bucket(c.term, tb) for c in children}))
            & F.col("field").isin(sorted({c.field for c in children}))
            & F.col("term").isin(sorted({c.term for c in children})))
        child = None
        for i, c in enumerate(children):
            cond = (F.col("field") == c.field) & (F.col("term") == c.term)
            child = (F.when(cond, F.lit(i)) if child is None
                     else child.when(cond, F.lit(i)))
        # the isin filters admit the (field, term) CROSS product; the
        # when-chain leaves child null for pairs no child requested —
        # dropped here exactly as the spec join dropped them
        blocks = (blocks.withColumn("child", child.cast("int"))
                  .where(F.col("child").isNotNull()))
        idx = F.col("child") + F.lit(1)
        boosts = F.array(*[F.lit(float(c.scorer.boost))
                           for c in children])
        tds = F.array(*[F.lit(self.field_stats.get(c.field, (0, 0))[0])
                        .cast("long") for c in children])
        tts = F.array(*[F.lit(self.field_stats.get(c.field, (0, 0))[1])
                        .cast("long") for c in children])
        blocks = (blocks
                  .withColumn("boost", F.element_at(boosts, idx))
                  .withColumn("total_docs", F.element_at(tds, idx))
                  .withColumn("total_tokens", F.element_at(tts, idx)))
        if self.dict_reader is not None:
            # A lookup miss yields df 0, which is safe by construction:
            # the sidecar is derived from the same committed postings
            # this frame scans (td_ok gates the reader on per-job
            # completeness), so a missing (field, term) has no block
            # rows either — df 0 never reaches a scored posting
            looked = self.dict_reader.lookup(
                [(c.field, c.term) for c in children])
            dfs = F.array(*[
                F.lit(int(looked.get((c.field, c.term), (0, 0))[0]))
                .cast("long") for c in children])
            return blocks.withColumn("df_global", F.element_at(dfs, idx))
        dfagg = blocks.groupBy("field", "term").agg(
            F.sum("df_block").cast("long").alias("df_global"))
        return blocks.join(F.broadcast(dfagg), ["field", "term"])

    # ---------------------------------------------------------------
    # term-level scoring
    # ---------------------------------------------------------------
    def _term_blocks(self, field: str, term: str) -> DataFrame:
        tb = term_bucket(term, self.config.tbuckets)
        return self.postings.where(
            (F.col("tbucket") == tb) & (F.col("field") == field)
            & (F.col("term") == term))

    def _decode(self, blocks: DataFrame, field: str, similarity: str,
                boost: float, needs_score: bool) -> DataFrame:
        """blocks (with df_global column) → (doc_id, score) frame."""
        d, t = self.field_stats.get(field, (0, 0))
        cols = ["segment", "doc_bytes", "tf_bytes", "len_bytes", "df_global"]
        return blocks.select(*cols).mapInArrow(
            _decode_score_fn(d, t, similarity, boost, needs_score,
                             self.precision),
            schema=_SCORE_SCHEMA)

    def _with_global_df(self, blocks: DataFrame) -> DataFrame:
        """Attach the across-segments document frequency (the global
        ``tdf`` stat, statistics.rs:33-78) to every block row."""
        agg = blocks.groupBy("field", "term").agg(
            F.sum("df_block").cast("long").alias("df_global"))
        return blocks.join(F.broadcast(agg), ["field", "term"])

    def _score_term(self, field: str, term: str, scorer: dsl.TermScorer,
                    needs_score: bool = True) -> DataFrame:
        blocks = self._term_blocks(field, term)
        if not needs_score:
            # scoring elided: df never reaches the decode (the
            # reference's no_score path) — skip the df aggregate
            return self._decode(
                blocks.withColumn("df_global", F.lit(0).cast("long")),
                field, scorer.similarity, scorer.boost, False)
        if self.dict_reader is not None:
            dfg, _ = self.dict_reader.lookup_one(field, term)
            return self._decode(
                blocks.withColumn("df_global", F.lit(dfg).cast("long")),
                field, scorer.similarity, scorer.boost, True)
        return self._decode(self._with_global_df(blocks), field,
                            scorer.similarity, scorer.boost, needs_score)

    def _score_prefix(self, q: dsl.Prefix,
                      needs_score: bool = True) -> DataFrame:
        """MultiTerm(Prefix): per-doc Avg over the matched dictionary
        terms (score_function.rs:61-79; absent term contributes 0).

        The Avg divisor counts prefix-matching terms in the GLOBAL
        term dictionary — across every field, because the reference's
        dictionary is index-wide (term_dictionary.rs:78-85 select):
        a term matching the prefix only in another field still pushes
        a TermScorer that contributes 0 to every doc.  The divisor is
        a broadcast 1-row crossJoin, not a driver-side count() — one
        Spark job per prefix query, not two.

        With the term-dictionary sidecar the prefix enumerates from
        the small range-sorted dictionary (term_dictionary.rs:78-85),
        and the postings scan prunes to ONLY the tbucket partitions
        that hold matching terms (a prefix cannot prune the hash
        buckets by itself; the dictionary's ≤tbuckets-row distinct
        makes it possible).  Legacy indexes fall back to the full
        block-metadata scan."""
        blocks = self.postings.where(
            (F.col("field") == q.field)
            & (F.col("term").startswith(q.prefix)))
        nt_lit: Optional[int] = None
        dfmap: Optional[Dict[str, int]] = None
        if self.dict_reader is not None:
            # driver-side dictionary slice (the reference enumerates
            # its in-memory dictionary the same way): the divisor
            # becomes a literal, the postings scan prunes to only the
            # tbucket partitions holding matching terms, and the query
            # field's per-term df rides the same read — ONE Spark job
            # per prefix query, no in-plan df aggregate
            nt_lit, tbs, dfmap = self.dict_reader.prefix_stats_df(
                q.prefix, q.field)
            if not nt_lit:
                return self.spark.createDataFrame([], schema=_SCORE_SCHEMA)
            blocks = blocks.where(F.col("tbucket").isin(tbs))
        nt_frame = None
        if nt_lit is None:
            nt_frame = (self.postings
                        .where(F.col("term").startswith(q.prefix))
                        .agg(F.countDistinct("term").alias("_nt")))
        return self._multiterm_avg(blocks, q.field, q.scorer,
                                   nt_lit, nt_frame, needs_score,
                                   dfmap=dfmap)

    #: a per-term df literal map attaches in-plan up to this many
    #: matched terms; past it the plan falls back to the in-plan df
    #: aggregate (a create_map literal lookup is a linear scan per
    #: block row, and very large literal plans cost planning time)
    DICT_DF_LITERAL_MAX = 1024

    def _multiterm_avg(self, blocks: DataFrame, field: str,
                       scorer: dsl.TermScorer, nt_lit: Optional[int],
                       nt_frame: Optional[DataFrame],
                       needs_score: bool,
                       dfmap: Optional[Dict[str, int]] = None
                       ) -> DataFrame:
        """Shared MultiTerm tail (score_function.rs:61-79): decode the
        selected blocks, per-doc Avg over the GLOBAL dictionary's
        matching-term count — a literal when the driver-side
        dictionary supplied it (zero extra jobs), else a broadcast
        1-row crossJoin.  ``dfmap`` (term → global df, from the same
        dictionary read) attaches df as a literal map column, removing
        the per-query in-plan df aggregate — an Exchange, a
        BroadcastExchange and a second scan of the pruned blocks
        (guide §2.4); score-elided paths never need df at all."""
        if not needs_score:
            withdf = blocks.withColumn("df_global",
                                       F.lit(0).cast("long"))
        elif (dfmap is not None
                and len(dfmap) <= self.DICT_DF_LITERAL_MAX):
            if not dfmap:
                return self.spark.createDataFrame([], schema=_SCORE_SCHEMA)
            df_col = F.create_map(
                *[x for t, d in sorted(dfmap.items())
                  for x in (F.lit(t), F.lit(int(d)))])[F.col("term")]
            withdf = blocks.withColumn("df_global", df_col.cast("long"))
        else:
            withdf = self._with_global_df(blocks)
        per_term = self._decode(withdf, field,
                                scorer.similarity, scorer.boost,
                                needs_score)
        if not needs_score:
            return per_term.select("doc_id").distinct() \
                .withColumn("score", F.lit(0.0))
        grouped = per_term.groupBy("doc_id").agg(F.sum("score").alias("_s"))
        if nt_lit is not None:
            return grouped.select(
                "doc_id",
                (F.col("_s") / F.lit(float(nt_lit))).alias("score"))
        return (grouped.crossJoin(F.broadcast(nt_frame))
                .select("doc_id",
                        (F.col("_s") / F.col("_nt").cast("double"))
                        .alias("score")))

    def _score_selector(self, q, needs_score: bool = True) -> DataFrame:
        """MultiTerm with a wildcard or Levenshtein selector — the
        selectors the reference declares but never implements
        (multi_term_selector.rs:3-16), scored with the identical
        Avg-over-global-dictionary semantics as Prefix.

        With the dictionary sidecar, matching terms are enumerated ON
        THE DRIVER from the range-sorted dictionary slice (bounded by
        the dictionary, never postings — term_dict.selector_stats),
        the divisor becomes a literal, and the postings scan prunes to
        the matched terms' tbucket partitions: one Spark job, same as
        prefix.  Legacy indexes fall back to a Spark-side rlike /
        levenshtein block filter plus a countDistinct divisor."""
        import re
        if isinstance(q, (dsl.Wildcard, dsl.Regexp)):
            if isinstance(q, dsl.Wildcard):
                regex, hint = wildcard_regex(q.pattern)
            else:
                # ES regexp semantics: whole-term match.  The literal
                # prefix (chars before the first metacharacter) range-
                # prunes the dictionary scan like a prefix query.
                regex = "^(?:" + q.pattern + ")$"
                hint = regex_literal_prefix(q.pattern)
            rx = re.compile(regex)

            def match_fn(t: str) -> bool:
                return rx.match(t) is not None
            pred = F.col("term").rlike(regex)
        else:
            hint = q.term[:q.prefix_length]
            fz, qt = int(q.fuzziness), q.term

            def match_fn(t: str) -> bool:
                return t.startswith(hint) and editdist_leq(t, qt, fz)
            # length-band prefilter AHEAD of the O(len²) levenshtein:
            # |len(t) − len(q)| ≤ k is necessary for distance ≤ k, so
            # the cheap codegen length check prunes the candidate set
            # before the expensive distance runs (VERDICT r6 #8 —
            # bounding the dictionary-wide edit-distance scan; the
            # driver-side match_fn already early-exits on the same
            # bound inside editdist_leq)
            pred = (F.length(F.col("term"))
                    .between(len(qt) - fz, len(qt) + fz)
                    & (F.levenshtein(F.col("term"), F.lit(qt)) <= fz))
            if hint:
                pred = F.col("term").startswith(hint) & pred
        if self.dict_reader is not None:
            if hint:
                # anchored: range-pruned driver-side dictionary slice
                n, terms, tbs, dfmap = self.dict_reader.selector_stats(
                    q.field, match_fn, hint)
            else:
                # unanchored: the predicate runs as a Spark filter
                # over the term_dict sidecar — the driver receives
                # only MATCHED terms, never the full dictionary
                n, terms, tbs, dfmap = \
                    self.dict_reader.selector_stats_spark(
                        self.spark, q.field, pred)
            if not n or not terms:
                return self.spark.createDataFrame([], schema=_SCORE_SCHEMA)
            blocks = self.postings.where(
                (F.col("field") == q.field)
                & F.col("tbucket").isin(tbs)
                & F.col("term").isin(terms))
            return self._multiterm_avg(blocks, q.field, q.scorer,
                                       n, None, needs_score,
                                       dfmap=dfmap)
        blocks = self.postings.where((F.col("field") == q.field) & pred)
        nt = self.postings.where(pred).agg(
            F.countDistinct("term").alias("_nt"))
        return self._multiterm_avg(blocks, q.field, q.scorer,
                                   None, nt, needs_score)

    def _score_nested(self, q: dsl.Nested,
                      needs_score: bool = True) -> DataFrame:
        """ES nested query: evaluate the inner query over CHILD rows
        (their postings are ordinary per-child-doc postings, so "all
        inner conditions inside one array element" is exactly "inner
        query matches one child doc"), then join matched children to
        their parents through the stored `_nested_parent` key and
        combine per score_mode.  Lucene/ES do this with block-join on
        adjacent doc ids; the Spark-native equivalent is a key join —
        at scale both sides hash-partition on the (narrow) parent
        key, and the parent side is the docs table's two-column
        projection, not the corpus."""
        from ..index.layout import qname
        from ..nested import nested_parent_path
        if q.path not in self.config.nested_paths:
            raise dsl.QueryParseError(f"unknown nested path: {q.path!r}")
        # the fold TARGET is the enclosing evaluation level: root for
        # a top-level nested query, the outer path's child rows for a
        # nested query inside another nested query's inner tree (ES
        # block-join semantics: one score_mode application grouping
        # ALL q.path descendants under each target-level ancestor)
        ctxp = self._nested_context
        if ctxp is not None and not q.path.startswith(ctxp + "."):
            raise dsl.QueryParseError(
                f"nested path {q.path!r} is not a descendant of the "
                f"enclosing nested path {ctxp!r}")
        pmap, child = self._nested_child_scores(
            q, needs_score and q.score_mode != "none")
        kq = F.col(qname(self.config.key_col)).cast("string")
        # ancestor walk: _anc starts at the immediate parent key and
        # hops up one nested level per join until it sits at the
        # target level.  Each hop is a two-column docs projection
        # keyed on the (narrow) child key — hash-partitionable at
        # scale, depth-bounded by the mapping, usually zero hops.
        matched = child.join(pmap, "doc_id") \
            .withColumnRenamed("_nested_parent", "_anc")
        lvl = nested_parent_path(q.path, self.config.nested_paths)
        while lvl != ctxp:
            hop = self.docs.select(
                kq.alias("_anc"),
                F.col("_nested_parent").alias("_anc_up"))
            matched = (matched.join(hop, "_anc").drop("_anc")
                       .withColumnRenamed("_anc_up", "_anc"))
            lvl = nested_parent_path(lvl, self.config.nested_paths)
        if not needs_score or q.score_mode == "none":
            scored = (matched.select("_anc").distinct()
                      .withColumn("score", F.lit(0.0)))
        else:
            aggf = {"avg": F.avg, "sum": F.sum, "max": F.max}[q.score_mode]
            scored = (matched.groupBy("_anc")
                      .agg(aggf("score").alias("score")))
        targets = self.docs
        if ctxp is None:
            targets = targets.where(F.col("_nested_parent").isNull())
        targets = targets.select(kq.alias("_anc"), "doc_id")
        return scored.join(targets, "_anc") \
            .select("doc_id", "score")

    def _exists_docset(self, field: str):
        """Docs whose STORED value for ``field`` is present: non-null,
        and non-empty for array columns (ES treats `[]` as missing).
        A column-pruned docs scan with the predicate pushed to
        parquet — null counts come from row-group statistics, so the
        scan skips row groups where every value is null.  Fields the
        index never stored (unknown names) match nothing."""
        from ..index.layout import qname
        if field not in self.docs.columns:
            return NONE
        c = F.col(qname(field))
        from pyspark.sql import types as _T
        dtype = self.docs.schema[field].dataType
        pred = (c.isNotNull() & (F.size(c) > 0)
                if isinstance(dtype, _T.ArrayType) else c.isNotNull())
        return self.docs.where(pred).select("doc_id")

    def _nested_child_scores(self, q: dsl.Nested, scored: bool):
        """(pmap, child): q.path's child rows (doc_id,
        _nested_parent) and the live matched (doc_id, score) of the
        inner query evaluated over them — universe and nested context
        swapped to this path for the duration.  ``scored=False``
        evaluates the cheaper docset and emits score 0.0.

        Children OF THIS PATH only: child keys are
        "<parent>#<path>#<pos>" (mapping.prepare_docs), so the
        startswith test against the stored parent key is exact — a
        nested query on path A must not see path B's elements, and
        inner match_all / root negations must range over this path's
        child rows, not parents (the universe override)."""
        from ..index.layout import qname
        kq = F.col(qname(self.config.key_col)).cast("string")
        pmap = (self.docs.where(
            F.col("_nested_parent").isNotNull()
            & kq.startswith(F.concat(F.col("_nested_parent"),
                                     F.lit(f"#{q.path}#"))))
            .select("doc_id", "_nested_parent"))
        prev, prev_ctx = self._universe_override, self._nested_context
        self._universe_override = pmap.select("doc_id")
        self._nested_context = q.path
        try:
            if not scored:
                ds = self._docset(q.query)
                if ds == NONE:
                    child = self.spark.createDataFrame(
                        [], schema=_SCORE_SCHEMA)
                elif ds == ALL:
                    child = self._universe() \
                        .withColumn("score", F.lit(0.0))
                else:
                    child = ds.select("doc_id") \
                        .withColumn("score", F.lit(0.0))
            else:
                child = self._materialize(self._score(q.query))
        finally:
            self._universe_override = prev
            self._nested_context = prev_ctx
        return pmap, self._live(child)

    def _inner_hits(self, node: dsl.Nested,
                    root_keys: List[str]) -> Dict[str, List[dict]]:
        """Per-ROOT-document top matching child rows of one nested
        query (the ES ``inner_hits`` feature — beyond the reference's
        API surface).  Children are grouped by their root ancestor
        (`_nested_root`; equal to `_nested_parent` on pre-multilevel
        indexes), restricted to the page's root keys (a tiny isin
        filter), ranked (score desc, doc_id asc) per root, and
        collected — the result is bounded by len(root_keys) × size.
        With score_mode "none" the inner query is unscored; children
        come back in deterministic doc_id order with score 0.0."""
        from pyspark.sql import Window

        from ..index.layout import qname
        name, size, from_ = node.inner_hits
        _, child = self._nested_child_scores(
            node, node.score_mode != "none")
        kq = F.col(qname(self.config.key_col)).cast("string")
        rc = ("_nested_root" if "_nested_root" in self.docs.columns
              else "_nested_parent")
        subcols = [c for c in dict.fromkeys(
            list(self.config.fields) + self.config.stored)
            if c.startswith(node.path + ".")]
        kids = (self.docs.where(
            F.col("_nested_parent").isNotNull()
            & kq.startswith(F.concat(F.col("_nested_parent"),
                                     F.lit(f"#{node.path}#"))))
            .where(F.col(rc).isin([str(k) for k in root_keys]))
            .select("doc_id", kq.alias("_ckey"),
                    F.col(rc).alias("_root"),
                    *[F.col(qname(c)).alias(c) for c in subcols]))
        w = Window.partitionBy("_root").orderBy(F.desc("score"),
                                                F.asc("doc_id"))
        ranked = (child.join(kids, "doc_id")
                  .withColumn("_rn", F.row_number().over(w))
                  .where((F.col("_rn") > from_)
                         & (F.col("_rn") <= from_ + size)))
        out: Dict[str, List[dict]] = {}
        for r in ranked.orderBy("_root", "_rn").collect():
            out.setdefault(r["_root"], []).append({
                "key": r["_ckey"],
                "offset": int(r["_ckey"].rsplit("#", 1)[1]),
                "score": float(r["score"]),
                "fields": {c: r[c] for c in subcols},
            })
        return out

    # ---------------------------------------------------------------
    # boolean docsets (scoring elided — the reference's no_score path)
    # ---------------------------------------------------------------
    def _docset(self, q: dsl.Query) -> DocSet:
        if isinstance(q, dsl.All):
            return ALL
        if isinstance(q, dsl.NoneQuery):
            return NONE
        if isinstance(q, dsl.Term):
            out = self._score_term(q.field, q.term, q.scorer,
                                   needs_score=False).select("doc_id")
            if self.dict_reader is not None:
                # exact cardinality from the dictionary (free) — lets
                # the set-algebra joins pick their strategy on real
                # numbers instead of Spark's blind estimate
                out._rsx_rows = self.dict_reader.lookup_one(
                    q.field, q.term)[0]
            return out
        if isinstance(q, dsl.Prefix):
            return self._score_prefix(q, needs_score=False) \
                .select("doc_id").distinct()
        if isinstance(q, (dsl.Wildcard, dsl.Regexp, dsl.Fuzzy)):
            return self._score_selector(q, needs_score=False) \
                .select("doc_id").distinct()
        if isinstance(q, dsl.Nested):
            return self._score_nested(q, needs_score=False) \
                .select("doc_id")
        if isinstance(q, dsl.Exists):
            return self._exists_docset(q.field)
        if isinstance(q, dsl.Conjunction):
            if self._fusable(q.queries):
                fused = self._fused_frame(q.queries)
                return (fused.groupBy("doc_id")
                        .agg(F.count("*").alias("c"))
                        .where(F.col("c") == len(q.queries))
                        .select("doc_id"))
            acc: DocSet = ALL
            for c in q.queries:
                acc = self._intersect(acc, self._docset(c))
                if acc == NONE:
                    return NONE
            return acc
        if isinstance(q, (dsl.Disjunction, dsl.DisjunctionMax)):
            if self._fusable(q.queries):
                return self._fused_frame(q.queries) \
                    .select("doc_id").distinct()
            acc = NONE
            for c in q.queries:
                acc = self._union(acc, self._docset(c))
                if acc == ALL:
                    return ALL
            return acc
        if isinstance(q, dsl.Filter):
            return self._intersect(self._docset(q.query),
                                   self._docset(q.filter))
        if isinstance(q, dsl.Exclude):
            return self._subtract(self._docset(q.query),
                                  self._docset(q.exclude))
        raise TypeError(type(q))

    #: docsets at or below this many rows may be broadcast by the
    #: planner (~8M ids ≈ 64 MB framed); above it the semi/anti join
    #: is pinned to shuffled-hash.  Spark's own choice is blind here —
    #: a mapInArrow output has no size estimate, so without the hint
    #: the planner happily broadcasts a head term's docset (78% of the
    #: corpus in the bench's `not` query; at web scale a multi-GB
    #: broadcast).  Guide §3.1: pick the strategy deliberately.
    DOCSET_BROADCAST_MAX = 8 << 20

    def _sized(self, b: DataFrame) -> DataFrame:
        n = getattr(b, "_rsx_rows", None)
        if n is not None and n > self.DOCSET_BROADCAST_MAX:
            return b.hint("shuffle_hash")
        return b

    # Full/Empty constant folding (boolean_query.rs:131-321): the
    # symbolic ALL/NONE operands never materialize the universe.
    def _intersect(self, a: DocSet, b: DocSet) -> DocSet:
        if NONE in (a, b):
            return NONE
        if a == ALL:
            return b
        if b == ALL:
            return a
        return a.join(self._sized(b), "doc_id", "left_semi")

    def _union(self, a: DocSet, b: DocSet) -> DocSet:
        if ALL in (a, b):
            return ALL
        if a == NONE:
            return b
        if b == NONE:
            return a
        return a.unionByName(b).distinct()

    def _subtract(self, a: DocSet, b: DocSet) -> DocSet:
        if a == NONE or b == ALL:
            return NONE
        if b == NONE:
            return a
        if a == ALL:
            # root-negation fallback: universe minus matches
            # (rocksdb/search/mod.rs:64-74)
            return self._universe().join(self._sized(b), "doc_id",
                                         "left_anti")
        return a.join(self._sized(b), "doc_id", "left_anti")

    # ---------------------------------------------------------------
    # scored evaluation
    # ---------------------------------------------------------------
    def _score(self, q: dsl.Query) -> Scored:
        if isinstance(q, dsl.All):
            return ("all", q.score)
        if isinstance(q, dsl.NoneQuery):
            return ("none", None)
        if isinstance(q, dsl.Term):
            return ("df", self._score_term(q.field, q.term, q.scorer))
        if isinstance(q, dsl.Prefix):
            return ("df", self._score_prefix(q))
        if isinstance(q, (dsl.Wildcard, dsl.Regexp, dsl.Fuzzy)):
            return ("df", self._score_selector(q))
        if isinstance(q, dsl.Conjunction):
            return self._combine(q.queries, mode="and")
        if isinstance(q, dsl.Disjunction):
            return self._combine(q.queries, mode="or")
        if isinstance(q, dsl.DisjunctionMax):
            return self._combine(q.queries, mode="max")
        if isinstance(q, dsl.Nested):
            return ("df", self._score_nested(q))
        if isinstance(q, dsl.Exists):
            ds = self._exists_docset(q.field)
            if ds == NONE:
                return ("none", None)
            return ("df", ds.withColumn("score",
                                        F.lit(float(q.score))))
        if isinstance(q, dsl.Filter):
            fused = self._fused_filter(q.query, q.filter, anti=False)
            if fused is not None:
                return ("df", fused)
            inner = self._score(q.query)
            fset = self._docset(q.filter)
            return self._apply_filter(inner, fset, anti=False)
        if isinstance(q, dsl.Exclude):
            fused = self._fused_filter(q.query, q.exclude, anti=True)
            if fused is not None:
                return ("df", fused)
            inner = self._score(q.query)
            eset = self._docset(q.exclude)
            return self._apply_filter(inner, eset, anti=True)
        raise TypeError(type(q))

    def _term_group(self, q: dsl.Query):
        """(mode, (Term, ...)) for a plain Term or a one-level fusable
        combinator of Terms; None for any other shape."""
        if isinstance(q, dsl.Term):
            return ("or", (q,))
        if isinstance(q, (dsl.Conjunction, dsl.Disjunction,
                          dsl.DisjunctionMax)) and self._fusable(q.queries):
            mode = ("and" if isinstance(q, dsl.Conjunction) else
                    "or" if isinstance(q, dsl.Disjunction) else "max")
            return (mode, tuple(q.queries))
        return None

    def _fused_filter(self, inner_q: dsl.Query, filt_q: dsl.Query,
                      anti: bool) -> Optional[DataFrame]:
        """ONE decode job for Filter/Exclude whose branches are both
        Term trees: the filter's terms ride along in the fused decode
        as score-free presence predicates, replacing the separate
        docset job + semi/anti-join (the round-3 `filtered` p95 shape:
        two jobs → one).  Semantics are identical to
        _apply_filter ∘ _docset: the filter branch only gates which
        docs survive (query/mod.rs:64-75), scores come solely from
        the inner branch."""
        gi, gf = self._term_group(inner_q), self._term_group(filt_q)
        if gi is None or gf is None:
            return None
        (imode, iterms), (fmode, fterms) = gi, gf
        leaves = iterms + fterms
        if not self._fusable(leaves):
            return None     # duplicate leaf across branches, or
        n_i, n_f = len(iterms), len(fterms)
        is_inner = F.col("child") < n_i
        agg = (self._fused_frame(leaves)
               .groupBy("doc_id")
               .agg(F.count(F.when(is_inner, 1)).alias("ic"),
                    F.sum(F.when(is_inner, F.col("score"))
                          .otherwise(0.0)).alias("isum"),
                    F.max(F.when(is_inner, F.col("score"))).alias("imax"),
                    F.count(F.when(~is_inner, 1)).alias("fc")))
        # filter gate: a DisjunctionMax filter matches like "or"
        hit = (F.col("fc") == n_f) if fmode == "and" else (F.col("fc") >= 1)
        keep = ~hit if anti else hit
        # inner combinator (score_function.rs:21-38,74-88)
        if imode == "and":
            keep = keep & (F.col("ic") == n_i)
            score = F.col("isum") / F.lit(float(n_i))
        elif imode == "max":
            keep = keep & (F.col("ic") >= 1)
            score = F.col("imax")
        else:
            keep = keep & (F.col("ic") >= 1)
            score = F.col("isum") / F.lit(float(n_i))
        return agg.where(keep).select("doc_id", score.alias("score"))

    def _apply_filter(self, inner: Scored, fset: DocSet,
                      anti: bool) -> Scored:
        kind, val = inner
        if kind == "none":
            return inner
        if not anti:
            if fset == NONE:
                return ("none", None)
            if fset == ALL:
                return inner
            if kind == "all":
                return ("df", fset.select("doc_id")
                        .withColumn("score", F.lit(float(val))))
            return ("df", val.join(self._sized(fset), "doc_id",
                                    "left_semi"))
        # anti (Exclude)
        if fset == NONE:
            return inner
        if fset == ALL:
            return ("none", None)
        if kind == "all":
            frame = self._universe() \
                .join(self._sized(fset), "doc_id", "left_anti") \
                .withColumn("score", F.lit(float(val)))
            return ("df", frame)
        return ("df", val.join(self._sized(fset), "doc_id",
                                    "left_anti"))

    def _nested_groups(self, children):
        """[(inner_mode, (Term, ...))] when every child is a Term or a
        one-level fusable combinator of Terms — the multi_match shape
        DisMax(Disjunction(f1 terms), Disjunction(f2 terms)).  None
        when the shape (or a mixed inner mode, duplicate leaf, or
        mixed similarity) doesn't allow a single fused decode."""
        groups, inner_modes = [], set()
        for c in children:
            if isinstance(c, dsl.Term):
                groups.append(("or", (c,)))      # singleton: mode moot
            elif isinstance(c, (dsl.Conjunction, dsl.Disjunction,
                                dsl.DisjunctionMax)) \
                    and self._fusable(c.queries):
                m = ("and" if isinstance(c, dsl.Conjunction) else
                     "or" if isinstance(c, dsl.Disjunction) else "max")
                groups.append((m, tuple(c.queries)))
                inner_modes.add(m)
            else:
                return None
        if len(inner_modes) > 1 or len(groups) < 2:
            return None
        leaves = [t for _, ts in groups for t in ts]
        if len(leaves) < 2 or len({(t.field, t.term) for t in leaves}) \
                != len(leaves):
            return None                  # dup leaf would double dfagg
        if len({t.scorer.similarity for t in leaves}) != 1:
            return None
        return groups

    def _fused_nested(self, groups, outer_mode: str) -> DataFrame:
        """ONE decode job for a two-level combinator tree: decode all
        leaf terms fused, aggregate per (doc, group) with the inner
        combinator, then across groups with the outer one.  Exact
        same Avg-over-child-count / Max semantics as the recursive
        path (score_function.rs:21-38,74-88), one job instead of one
        per group."""
        flat, gidx = [], []
        for g, (_, terms) in enumerate(groups):
            for t in terms:
                flat.append(t)
                gidx.append(g)
        inner = next((m for m, ts in groups if len(ts) > 1), "or")
        rows = self._fused_frame(flat)
        # ONE groupBy(doc_id) with per-group conditional aggregates
        # replaces the previous groupBy(doc_id, g) → groupBy(doc_id)
        # two-phase: that plan carried a second Exchange per query
        # (the (doc_id, g) hash partitioning does not satisfy the
        # doc_id distribution).  Guide §2.4; VERDICT r6 #2 traced
        # dis_max's p95 residual to exactly this extra exchange.
        # Group count = the query's field count — bounded by the DSL.
        g_arr = F.array(*[F.lit(g) for g in gidx])
        rows = rows.withColumn("g", F.element_at(g_arr,
                                                 F.col("child") + F.lit(1)))
        aggs = []
        for g, (_, ts) in enumerate(groups):
            is_g = F.col("g") == g
            aggs.append(F.count(F.when(is_g, 1)).alias(f"_c{g}"))
            aggs.append(F.sum(F.when(is_g, F.col("score")))
                        .alias(f"_s{g}"))
            aggs.append(F.max(F.when(is_g, F.col("score")))
                        .alias(f"_m{g}"))
        agg = rows.groupBy("doc_id").agg(*aggs)
        # per-group score gs_g: null ⟺ the (doc, g) row was absent (or
        # dropped by the inner-"and" completeness gate) in the
        # two-phase plan — the null algebra below reproduces it
        gs = []
        for g, (_, ts) in enumerate(groups):
            n_g = float(len(ts))
            if inner == "and":
                e = F.when(F.col(f"_c{g}") == len(ts),
                           F.col(f"_s{g}") / F.lit(n_g))
            elif inner == "or":
                e = F.col(f"_s{g}") / F.lit(n_g)
            else:
                e = F.col(f"_m{g}")
            gs.append(e)
        ng = float(len(groups))
        n_present = sum((e.isNotNull().cast("int") for e in gs[1:]),
                       gs[0].isNotNull().cast("int"))
        if outer_mode == "max":
            score = F.greatest(*gs) if len(gs) > 1 else gs[0]
            keep = n_present >= 1
        elif outer_mode == "or":
            score = sum((F.coalesce(e, F.lit(0.0)) for e in gs[1:]),
                        F.coalesce(gs[0], F.lit(0.0))) / F.lit(ng)
            keep = n_present >= 1
        else:
            score = sum((F.coalesce(e, F.lit(0.0)) for e in gs[1:]),
                        F.coalesce(gs[0], F.lit(0.0))) / F.lit(ng)
            keep = n_present == len(groups)
        return agg.where(keep).select("doc_id", score.alias("score"))

    def _combine(self, children: Tuple[dsl.Query, ...], mode: str) -> Scored:
        """Avg (and/or) and Max combinators over child frames.

        Avg divides by the NUMBER OF CHILDREN, non-matching children
        contribute 0.0 (score_function.rs:80-88 +
        rocksdb/search/mod.rs:112-116).
        """
        if self._fusable(children):
            fused = self._fused_frame(children)
            n = len(children)
            g = fused.groupBy("doc_id")
            if mode == "and":
                agg = g.agg(F.count("*").alias("c"),
                            F.sum("score").alias("s"))
                return ("df", agg.where(F.col("c") == n).select(
                    "doc_id", (F.col("s") / F.lit(float(n)))
                    .alias("score")))
            if mode == "or":
                return ("df", g.agg((F.sum("score") / F.lit(float(n)))
                                    .alias("score")))
            return ("df", g.agg(F.max("score").alias("score")))
        groups = self._nested_groups(children)
        if groups is not None:
            return ("df", self._fused_nested(groups, mode))
        scored = [self._score(c) for c in children]
        n = len(scored)
        if n == 0:
            return ("none", None)
        if any(k == "none" for k, _ in scored) and mode == "and":
            return ("none", None)
        consts = [v for k, v in scored if k == "all"]
        frames = [v for k, v in scored if k == "df"]
        if mode == "and":
            if not frames:
                return ("all", sum(consts) / n)
            merged = self._grouped(frames)
            matched = merged.where(F.col("n_matched") == len(frames))
            score = ((F.col("sum_score") + F.lit(float(sum(consts))))
                     / F.lit(float(n)))
            return ("df", matched.select("doc_id", score.alias("score")))
        if mode == "or":
            if not frames:
                if not consts:
                    return ("none", None)
                return ("all", sum(consts) / n)
            merged = self._grouped(frames)
            score = ((F.col("sum_score") + F.lit(float(sum(consts))))
                     / F.lit(float(n)))
            frame = merged.select("doc_id", score.alias("score"))
            if consts:   # an All child ⇒ every doc matches
                rest = (self._universe()
                        .join(merged.select("doc_id"), "doc_id", "left_anti")
                        .withColumn("score",
                                    F.lit(float(sum(consts)) / float(n))))
                frame = frame.unionByName(rest)
            return ("df", frame)
        # mode == "max"
        if not frames:
            if not consts:
                return ("none", None)
            return ("all", max(consts))
        cmax = max(consts) if consts else None
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)
        merged = union.groupBy("doc_id").agg(F.max("score").alias("score"))
        if cmax is not None:
            merged = merged.select(
                "doc_id", F.greatest(F.col("score"),
                                     F.lit(float(cmax))).alias("score"))
            rest = (self._universe()
                    .join(merged.select("doc_id"), "doc_id", "left_anti")
                    .withColumn("score", F.lit(float(cmax))))
            merged = merged.unionByName(rest)
        return ("df", merged)

    def _grouped(self, frames: List[DataFrame]) -> DataFrame:
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)
        return union.groupBy("doc_id").agg(
            F.count("*").alias("n_matched"),
            F.sum("score").alias("sum_score"))

    def _materialize(self, scored: Scored) -> DataFrame:
        kind, val = scored
        if kind == "df":
            return val
        if kind == "none":
            return self.spark.createDataFrame([], schema=_SCORE_SCHEMA)
        return self._universe() \
            .withColumn("score", F.lit(float(val)))
