"""Query planning + execution over the built index.

Lowers the ``dsl.Query`` tree into DataFrame set-algebra and scoring,
replacing the reference's two postfix stack machines
(/root/reference/src/search/backends/rocksdb/search/mod.rs:16-155):

* the **boolean VM** (Roaring intersect/union/difference) is the
  score VM with scoring elided, as in the reference's _count
  (planner/mod.rs:43-47): ``count()``, every Filter/Exclude branch
  and a score_mode-none nested body run ``_score(q,
  needs_score=False)``, whose frames are read for doc_id only.
  Semi/anti joins and groupBy(doc_id) over those frames carry the
  Full/Empty constant folding of planner/boolean_query.rs:131-321
  (an All or None operand folds symbolically — an All never
  materializes the universe, the negation-pushdown effect);
* the **score VM** becomes per-term f32 scoring inside an
  Arrow-batched decode UDF plus groupBy-level combinators
  (avg over child *count*, max — score_function.rs:21-38,74-88).
  A tree of and/or/dis_max/filter/exclude nodes over plain Term
  leaves (``_term_tree``) runs as ONE decode job of every leaf and
  ONE groupBy(doc_id), each node a Column expression over it
  (``_fused_tree``); any other tree recurses through the generic
  per-child frames and joins.  Every decode (``_decode``) carries its
  per-query constants — leaf ordinal, dictionary df, boost, field
  stats — in the mapInArrow closure, not as plan literals, and is
  coalesced to ceil(Σdf / ``POSTINGS_PER_DECODE_TASK``) partitions:
  a query over a small postings slice is one Python task, and its
  groupBy(doc_id) then needs no Exchange;
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

import operator
from functools import cached_property, reduce
from typing import Dict, Iterator, List, Optional, Tuple

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
    ``docs_only`` skips the tf/len streams (a score-elided term
    decodes just doc ids)."""
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


def _term_scores(tfs, lens, dfg, total_docs: int, total_tokens: int,
                 similarity: str, boost: float, precision: str):
    """Per-posting float64 scores of one term's postings.  precision
    "f32" matches the Rust reference's math (similarity.rs); "f64"
    matches a double-precision SQL oracle.  Boost multiplies after
    similarity (rocksdb/search/mod.rs:110-111).  Every op is
    elementwise, so scoring a whole batch at once is bit-identical to
    scoring it block by block."""
    if precision == "f64":
        if similarity == dsl.TFIDF:
            s = tfidf_f64(tfs, total_docs, dfg)
        else:
            s = bm25_f64(tfs, lengths_from_bytes_f64(lens),
                         total_tokens, total_docs, dfg)
        return s * float(boost)
    if similarity == dsl.TFIDF:
        s = tfidf_f32(tfs, total_docs, dfg)
    else:
        s = bm25_f32(tfs, lengths_from_bytes(lens),
                     total_tokens, total_docs, dfg)
    return (s * np.float32(boost)).astype(np.float64)


def _decode_fn(leaves: List[Tuple[str, str, int, float, int, int]],
               similarity: str, precision: str, needs_score: bool,
               with_child: bool):
    """mapInArrow body: posting blocks → (doc_id[, child], score) rows.

    ``leaves`` lists each decoded (field, term) with its per-query
    constants — (field, term, global df, boost, total_docs,
    total_tokens) — and a leaf's list index is its ``child`` ordinal.
    The constants travel in this closure, so the plan carries no
    per-leaf Column literal: each block row finds its leaf by
    (field, term), and rows of any pair not listed (the cross product
    the scan's ``isin`` filters admit) are dropped before decoding.

    The batch decodes in one numpy pass (doc ids only when
    ``needs_score`` is False, scores then 0.0) and scores through
    ``_term_scores`` once per distinct (boost, total_docs,
    total_tokens), with df expanded per posting."""
    import pyarrow as pa
    import pyarrow.compute as pc

    fields = {f: i for i, f in enumerate(sorted({lf[0] for lf in leaves}))}
    terms = {t: i for i, t in enumerate(sorted({lf[1] for lf in leaves}))}
    consts = sorted({lf[3:] for lf in leaves})
    group = {c: i for i, c in enumerate(consts)}
    # child_of[field index, term index]; the extra last row and column
    # catch a value outside the query's fields or terms
    child_of = np.full((len(fields) + 1, len(terms) + 1), -1, np.int32)
    for i, (f, t, *_) in enumerate(leaves):
        child_of[fields[f], terms[t]] = i
    group_of = np.array([group[lf[3:]] for lf in leaves], np.int32)
    df_of = np.array([lf[2] for lf in leaves], np.int64)
    field_set, term_set = pa.array(list(fields)), pa.array(list(terms))

    def _ordinal(col, values):
        return pc.fill_null(pc.index_in(col, value_set=values),
                            len(values)).to_numpy()

    def _run(batches) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            child_b = child_of[_ordinal(rb.column("field"), field_set),
                               _ordinal(rb.column("term"), term_set)]
            keep = child_b >= 0
            if not keep.all():
                rb, child_b = rb.filter(pa.array(keep)), child_b[keep]
            if rb.num_rows == 0:
                continue
            doc_ids, tfs, lens, counts = _batch_decode(
                rb, docs_only=not needs_score)
            s = np.zeros(len(doc_ids), dtype=np.float64)
            if needs_score:
                dfg = np.repeat(df_of[child_b], counts)
                grp = np.repeat(group_of[child_b], counts)
                for g in np.unique(grp):
                    boost, td, tt = consts[g]
                    m = slice(None) if len(consts) == 1 else grp == g
                    s[m] = _term_scores(tfs[m], lens[m], dfg[m], td, tt,
                                        similarity, boost, precision)
            cols = {"doc_id": pa.array(doc_ids, type=pa.int64())}
            if with_child:
                cols["child"] = pa.array(np.repeat(child_b, counts),
                                         type=pa.int32())
            cols["score"] = pa.array(s, type=pa.float64())
            yield pa.RecordBatch.from_pydict(cols)

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
        # the format gate: a stale or unstamped index raises here
        self.config: IndexConfig = self.layout.read_config()
        if self.config.analysis_settings:
            self.registry = parse_analysis_settings(
                self.config.analysis_settings)
        else:
            self.registry = AnalyzerRegistry()
        # resolve job dirs through COMMITTED lineage, never job=* glob:
        # a partial merge writes the merged job's data before retiring
        # its sources, and a crashed job may leave data without a
        # lineage row — globbing would double-count docs/df in that
        # window (segment_ops.rs:270-289 activate/deactivate batch).
        # ONE lineage snapshot (a driver-side read, no Spark job)
        # resolves every table, so a commit landing mid-open cannot
        # mix two index states.
        self._lineage = self.layout.lineage()
        jobs = self._jobs = [r["job"] for r in self._lineage]

        from ..index.build import POSTINGS_SCHEMA
        self.postings = self._read_table("postings", POSTINGS_SCHEMA)
        # mergeSchema: a stored column that only later jobs carry (a
        # mapping change between batches) stays readable; the schema
        # read is the same one Spark job either way
        self.docs = self._read_table("docs", T.StructType(
            [T.StructField("doc_id", T.LongType()),
             T.StructField(self.config.key_col, T.StringType())]
            + [T.StructField(c, T.StringType()) for c in (
                ("_nested_parent", "_nested_root")
                if self.config.nested_paths else ())]),
            mergeSchema="true")
        # driver-side dictionary reader over the term_dict sidecars
        # (the reference's in-memory TermDictionary,
        # term_dictionary.rs:16-91): answers df / n_blocks lookups
        # from sorted-parquet row groups WITHOUT a Spark job — decode
        # df and _count of a term become free.  Every dictionary
        # consumer goes through this reader; no Spark-side term_dict
        # DataFrame is held (it would only pin an unused table in
        # executor memory in serving mode).
        from ..index.term_dict import TermDictReader
        self.dict_reader = TermDictReader(self.layout, jobs)
        if cache_postings:
            # serving mode: pin the (compressed, small relative to the
            # corpus) block table in memory across queries
            self.postings = self.postings.cache()
        # global per-field stats, memoized for the engine's lifetime
        # (the reference memoizes per query, statistics.rs:46-78 —
        # ours are immutable per snapshot so engine-lifetime is safe);
        # a driver-side read of the small sidecars, no Spark job
        self.field_stats = self.layout.field_stats(jobs)
        # deletion list: anti-joined onto every plan (the planner's
        # unconditional AndNot, planner/mod.rs:34-36); stats stay
        # un-decremented until merge, like the reference
        from ..index.delete import load_deletions
        self._deletion_dirs = self.layout.deletion_dirs()
        self.deletions = load_deletions(spark, self.layout,
                                        self._deletion_dirs)
        # serving-mode selection (the reference's single-node searcher
        # split: executors build the artifact, a driver/serving tier
        # answers queries — search_api.rs)
        if mode not in ("spark", "local", "sharded", "auto"):
            raise ValueError(
                f"mode must be spark|local|sharded|auto: {mode!r}")
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
            elif per_job and max(per_job.values()) <= cutoff:
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

    @cached_property
    def _deleted_ids(self) -> np.ndarray:
        from ..index.delete import deleted_doc_ids
        return deleted_doc_ids(self._deletion_dirs)

    def is_deleted(self, doc_id: int) -> bool:
        """Whether ``doc_id`` is on the deletion lists this engine
        opened with — read once, on the driver (no Spark job); what a
        point GET checks its sidecar hits against while deletions are
        pending."""
        ids = self._deleted_ids
        i = int(np.searchsorted(ids, doc_id))
        return i < ids.size and int(ids[i]) == doc_id

    def _read_table(self, name: str, empty_schema: T.StructType,
                    **options) -> DataFrame:
        """Table ``name`` over the committed job dirs — an empty frame
        of ``empty_schema`` when no committed job wrote one (an empty
        streaming batch commits a lineage row and no data)."""
        dirs = self.layout.committed_dirs(name, jobs=self._jobs)
        if not dirs:
            return self.spark.createDataFrame([], schema=empty_schema)
        return (self.spark.read.option("basePath", self.layout.table(name))
                .options(**options).parquet(*dirs))

    def _postings_bytes_per_job(self) -> Dict[str, int]:
        import os as _os
        out: Dict[str, int] = {}
        for d in self.layout.committed_dirs("postings", jobs=self._jobs):
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
        """_count: the search plan with scoring elided
        (planner/mod.rs:43-47)."""
        if self._local is not None:
            return self._local.count(query_json)
        kind, frame = "all", None
        if query_json is not None:
            q = self.parse(query_json)
            if isinstance(q, dsl.Term) and self.deletions is None:
                if self._is_nested_field(q.field):
                    return 0     # flat query on a nested field: no parent
                # dictionary lookup: zero Spark jobs for a term count
                return self.dict_reader.lookup_one(q.field, q.term)[0]
            kind, frame = self._score(q, needs_score=False)
        if kind == "none":
            return 0
        if kind == "all":
            if self.deletions is None and not self.config.nested_paths:
                # match_all count = Σ committed lineage n_docs — the
                # reference's metadata total (statistics ftdoc path),
                # zero Spark jobs.  Deletions stay un-decremented
                # until merge and nested child rows inflate n_docs,
                # so both fall through to the counted scan.
                return self._lineage_doc_count()
            frame = self._universe()
        elif self.config.nested_paths:
            # child rows are internal — count parent documents only
            frame = frame.join(self._universe(), "doc_id", "left_semi")
        return self._live(frame).count()

    def _lineage_doc_count(self) -> int:
        """Σ ``n_docs`` over the lineage rows this engine opened with —
        zero Spark jobs.  Every writer records the exact docs-table
        row count (observe() metric on the docs write, survivors on
        merge), so the sum equals ``docs.count()`` whenever no
        deletion list is pending."""
        return sum(int(r["n_docs"] or 0) for r in self._lineage)

    # ---------------------------------------------------------------
    # fused term-tree path: ONE decode job and ONE groupBy(doc_id) for
    # any combinator / Filter / Exclude tree whose leaves are all plain
    # Terms (match, multi_match, filtered, and/or/dis_max of those)
    # ---------------------------------------------------------------
    @staticmethod
    def _fusable(children: Tuple[dsl.Query, ...]) -> bool:
        return (len(children) > 0
                and all(isinstance(c, dsl.Term) for c in children)
                and len({(c.field, c.term) for c in children})
                == len(children)
                and len({c.scorer.similarity for c in children}) == 1)

    def _term_tree(self, q: dsl.Query) -> Optional[Tuple[dsl.Term, ...]]:
        """The depth-first Term leaves of a Conjunction / Disjunction /
        DisjunctionMax / Filter / Exclude tree whose leaves are all
        Terms; None for a lone Term, any other leaf, an empty
        combinator, or leaves ``_fusable`` refuses (a (field, term)
        twice — the fused frame holds each leaf once — or mixed
        similarities)."""
        leaves: List[dsl.Term] = []

        def walk(n) -> bool:
            if isinstance(n, dsl.Term):
                leaves.append(n)
                return True
            if isinstance(n, dsl.Filter):
                return walk(n.query) and walk(n.filter)
            if isinstance(n, dsl.Exclude):
                return walk(n.query) and walk(n.exclude)
            if isinstance(n, (dsl.Conjunction, dsl.Disjunction,
                              dsl.DisjunctionMax)):
                return bool(n.queries) and all(walk(c) for c in n.queries)
            return False

        if isinstance(q, dsl.Term) or not walk(q) \
                or not self._fusable(tuple(leaves)):
            return None
        return tuple(leaves)

    def _fused_tree(self, q: dsl.Query, leaves: Tuple[dsl.Term, ...],
                    needs_score: bool = True) -> DataFrame:
        """(doc_id, score) of a ``_term_tree`` query: every leaf decodes
        in one ``_fused_frame`` (leaf ordinal = ``child``), then ONE
        groupBy(doc_id) folds the whole tree — a second grouping level
        would cost a second Exchange per query, and a decode of one
        partition needs none (``_decode``).  Unscored, the decode
        reads doc ids only and every score is 0.0: presence alone
        decides the rows.

        Every node becomes a (score, present) pair of Column
        expressions over that aggregate; a node's score is null when
        the node is absent.  A node's leaves hold a contiguous ordinal
        range, so a combinator of plain Terms aggregates its range
        (or → sum, and → count + sum, max → max; no range gate when
        the range is the whole frame).  Other nodes combine their
        children's pairs with the generic path's semantics
        (score_function.rs:21-38,74-88): Avg over the child COUNT with
        0 for an absent child, Max, and Filter/Exclude gating on the
        filter branch without scoring it (query/mod.rs:64-75)."""
        n_leaves = len(leaves)
        aggs: List = []

        def in_range(lo: int, hi: int, col):
            if hi - lo == n_leaves:
                return col
            return F.when((F.col("child") >= lo) & (F.col("child") < hi),
                          col)

        def node(n, lo: int):
            """(score, present, next ordinal) of node ``n`` whose
            leaves start at ordinal ``lo``."""
            kids = (n,) if isinstance(n, dsl.Term) \
                else getattr(n, "queries", None)
            if kids is not None and all(isinstance(c, dsl.Term)
                                        for c in kids):
                hi = lo + len(kids)
                a = f"_a{len(aggs)}"
                is_max = isinstance(n, dsl.DisjunctionMax)
                aggs.append((F.max if is_max else F.sum)(
                    in_range(lo, hi, F.col("score"))).alias(a))
                score = F.col(a) if is_max \
                    else F.col(a) / F.lit(float(len(kids)))
                if isinstance(n, dsl.Conjunction):
                    aggs.append(F.count(in_range(lo, hi, F.lit(1)))
                                .alias(a + "n"))
                    present = F.col(a + "n") == len(kids)
                    return F.when(present, score), present, hi
                # every grouped doc holds a leaf of the whole frame
                present = F.lit(True) if hi - lo == n_leaves \
                    else F.col(a).isNotNull()
                return score, present, hi
            if isinstance(n, (dsl.Filter, dsl.Exclude)):
                score, present, mid = node(n.query, lo)
                anti = isinstance(n, dsl.Exclude)
                _, gate, hi = node(n.exclude if anti else n.filter, mid)
                present = present & (~gate if anti else gate)
                return F.when(present, score), present, hi
            scores, pres = [], []
            for c in kids:
                s, p, lo = node(c, lo)
                scores.append(s)
                pres.append(p)
            if isinstance(n, dsl.Conjunction):
                present = reduce(operator.and_, pres)
            else:
                present = reduce(operator.or_, pres)
            if isinstance(n, dsl.DisjunctionMax):
                score = F.greatest(*scores) if len(scores) > 1 \
                    else scores[0]
                return score, present, lo
            total = reduce(operator.add,
                           [F.coalesce(s, F.lit(0.0)) for s in scores])
            return (F.when(present, total / F.lit(float(len(kids)))),
                    present, lo)

        score, present, _ = node(q, 0)
        return (self._fused_frame(leaves, needs_score).groupBy("doc_id")
                .agg(*aggs).where(present)
                .select("doc_id", score.alias("score")))

    def _fused_frame(self, children, needs_score: bool) -> DataFrame:
        """(doc_id, child, score): all Term children in one decode."""
        looked = self.dict_reader.lookup([(c.field, c.term)
                                          for c in children])
        dfs = {p: df for p, (df, _) in looked.items()}
        return self._decode(self._fused_blocks(children), [
            (c.field, c.term, c.scorer.boost) for c in children],
            children[0].scorer.similarity, needs_score, dfs,
            with_child=True)

    def _fused_blocks(self, children) -> DataFrame:
        """Block rows of fusable Term children: the tbuckets, fields
        and terms they name, pushed down to the postings scan.  The
        filters admit the (field, term) cross product; ``_decode_fn``
        drops the pairs no child asked for, and every per-child
        constant (ordinal, df, boost, field stats) rides in its
        closure, not in the plan: as Column literals (a when-chain on
        (field, term) and ``element_at`` arrays) they cost a py4j
        round trip each while the plan is built, without bound in the
        child count."""
        tb = self.config.tbuckets
        return self.postings.where(
            F.col("tbucket").isin(
                sorted({term_bucket(c.term, tb) for c in children}))
            & F.col("field").isin(sorted({c.field for c in children}))
            & F.col("term").isin(sorted({c.term for c in children})))

    # ---------------------------------------------------------------
    # term-level scoring
    # ---------------------------------------------------------------
    def _term_blocks(self, field: str, term: str) -> DataFrame:
        tb = term_bucket(term, self.config.tbuckets)
        return self.postings.where(
            (F.col("tbucket") == tb) & (F.col("field") == field)
            & (F.col("term") == term))

    #: postings one decode task takes: a decode coalesces its block
    #: rows to ceil(Σdf / POSTINGS_PER_DECODE_TASK) partitions, Σdf
    #: being the query's posting count from the dictionary.  Below it
    #: the whole query is one Python task and its groupBy(doc_id)
    #: needs no Exchange.  Measured on local[4] against the scan's own
    #: split (BENCH/decode_tasks_r14.jsonl, docs/SCALE.md): one task
    #: was faster up to 122,688 postings, the split (an Exchange and
    #: 3-7 more tasks) from between 232k and 246k on.
    POSTINGS_PER_DECODE_TASK = 1 << 17

    def _decode(self, blocks: DataFrame,
                leaves: List[Tuple[str, str, float]], similarity: str,
                needs_score: bool, dfs: Dict[Tuple[str, str], int],
                with_child: bool = False) -> DataFrame:
        """Block rows of ``leaves`` ((field, term, boost) each) →
        (doc_id[, child], score) in one mapInArrow.  Each leaf's
        global df (the ``tdf`` statistic, statistics.rs:33-78) comes
        from ``dfs``, read from the driver-side dictionary — a
        zero-job read kept through merges (``tests/test_term_dict.py``)
        — and rides in the closure with the leaf's boost and field
        stats.  A pair missing from ``dfs`` is df 0, which never
        reaches a scored posting: the dictionary is derived from the
        same committed postings, so that pair has no block rows
        either."""
        spec = [(f, t, dfs.get((f, t), 0), float(b),
                 *map(int, self.field_stats.get(f, (0, 0))))
                for f, t, b in leaves]
        tasks = -(-sum(lf[2] for lf in spec)
                  // self.POSTINGS_PER_DECODE_TASK)
        cols = ["field", "term", "segment", "doc_bytes", "tf_bytes",
                "len_bytes"]
        return blocks.select(*cols).coalesce(max(1, tasks)).mapInArrow(
            _decode_fn(spec, similarity, self.precision, needs_score,
                       with_child),
            schema=_FUSED_SCHEMA if with_child else _SCORE_SCHEMA)

    def _score_term(self, field: str, term: str, scorer: dsl.TermScorer,
                    needs_score: bool = True) -> DataFrame:
        dfg, _ = self.dict_reader.lookup_one(field, term)
        out = self._decode(self._term_blocks(field, term),
                           [(field, term, scorer.boost)],
                           scorer.similarity, needs_score,
                           {(field, term): dfg})
        # exact cardinality from the dictionary (free) — lets a filter
        # branch's semi/anti join pick its strategy on real numbers
        # instead of Spark's blind estimate (``_sized``)
        out._rsx_rows = dfg
        return out

    def _score_prefix(self, q: dsl.Prefix,
                      needs_score: bool = True) -> DataFrame:
        """MultiTerm(Prefix): per-doc Avg over the matched dictionary
        terms (score_function.rs:61-79; absent term contributes 0).

        The Avg divisor counts prefix-matching terms in the GLOBAL
        term dictionary — across every field, because the reference's
        dictionary is index-wide (term_dictionary.rs:78-85 select):
        a term matching the prefix only in another field still pushes
        a TermScorer that contributes 0 to every doc.

        The prefix enumerates from the driver-side, range-sorted
        dictionary slice (the reference enumerates its in-memory
        dictionary the same way): the divisor becomes a literal, the
        postings scan prunes to ONLY the tbucket partitions holding
        matching terms (a prefix cannot prune the hash buckets by
        itself), and the query field's per-term df rides the same
        read — ONE Spark job per prefix query, no in-plan df
        aggregate."""
        nt, tbs, dfmap = self.dict_reader.prefix_stats_df(q.prefix,
                                                          q.field)
        if not nt:
            return self.spark.createDataFrame([], schema=_SCORE_SCHEMA)
        blocks = self.postings.where(
            (F.col("field") == q.field)
            & (F.col("term").startswith(q.prefix))
            & F.col("tbucket").isin(tbs))
        return self._multiterm_avg(blocks, q.field, q.scorer, nt,
                                   needs_score, dfmap)

    def _multiterm_avg(self, blocks: DataFrame, field: str,
                       scorer: dsl.TermScorer, nt: int,
                       needs_score: bool, dfmap: Dict[str, int]
                       ) -> DataFrame:
        """Shared MultiTerm tail (score_function.rs:61-79): decode the
        selected blocks, then a per-doc Avg over ``nt``, the GLOBAL
        dictionary's matching-term count (a literal: zero extra
        jobs).  ``dfmap`` (term → global df of ``field``'s matching
        terms, from the same dictionary read) rides in the decode's
        closure, so the plan has no per-query df aggregate and no
        per-term literal; an empty one means no block row matches."""
        if not dfmap:
            return self.spark.createDataFrame([], schema=_SCORE_SCHEMA)
        per_term = self._decode(
            blocks, [(field, t, scorer.boost) for t in sorted(dfmap)],
            scorer.similarity, needs_score,
            {(field, t): int(d) for t, d in dfmap.items()})
        if not needs_score:
            return per_term.select("doc_id").distinct() \
                .withColumn("score", F.lit(0.0))
        grouped = per_term.groupBy("doc_id").agg(F.sum("score").alias("_s"))
        return grouped.select(
            "doc_id", (F.col("_s") / F.lit(float(nt))).alias("score"))

    def _score_selector(self, q, needs_score: bool = True) -> DataFrame:
        """MultiTerm with a wildcard or Levenshtein selector — the
        selectors the reference declares but never implements
        (multi_term_selector.rs:3-16), scored with the identical
        Avg-over-global-dictionary semantics as Prefix.

        Matching terms are enumerated from the dictionary sidecar
        (bounded by the dictionary, never postings): ON THE DRIVER
        over the range-sorted slice when the selector has a literal
        prefix (term_dict.selector_stats), else as a Spark filter over
        the sidecar (selector_stats_spark).  The divisor becomes a
        literal and the postings scan prunes to the matched terms'
        tbucket partitions: one Spark job, same as prefix."""
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
            # anchored: range-pruned driver-side dictionary slice
            n, terms, tbs, dfmap = self.dict_reader.selector_stats(
                q.field, match_fn, hint)
        else:
            # unanchored: the predicate runs as a Spark filter over the
            # term_dict sidecar — the driver receives only MATCHED
            # terms, never the full dictionary
            n, terms, tbs, dfmap = self.dict_reader.selector_stats_spark(
                self.spark, q.field, pred)
        if not n or not terms:
            return self.spark.createDataFrame([], schema=_SCORE_SCHEMA)
        blocks = self.postings.where(
            (F.col("field") == q.field)
            & F.col("tbucket").isin(tbs)
            & F.col("term").isin(terms))
        return self._multiterm_avg(blocks, q.field, q.scorer, n,
                                   needs_score, dfmap)

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

    def _score_exists(self, q: dsl.Exists) -> Scored:
        """Docs whose STORED value for ``q.field`` is present, at the
        constant ``q.score``: non-null, and non-empty for array
        columns (ES treats `[]` as missing).  A column-pruned docs
        scan with the predicate pushed to parquet — null counts come
        from row-group statistics, so the scan skips row groups where
        every value is null.  Fields the index never stored (unknown
        names) match nothing."""
        from ..index.layout import qname
        if q.field not in self.docs.columns:
            return ("none", None)
        c = F.col(qname(q.field))
        dtype = self.docs.schema[q.field].dataType
        pred = (c.isNotNull() & (F.size(c) > 0)
                if isinstance(dtype, T.ArrayType) else c.isNotNull())
        return ("df", self.docs.where(pred).select(
            "doc_id", F.lit(float(q.score)).alias("score")))

    def _nested_child_scores(self, q: dsl.Nested, scored: bool):
        """(pmap, child): q.path's child rows (doc_id,
        _nested_parent) and the live matched (doc_id, score) of the
        inner query evaluated over them — universe and nested context
        swapped to this path for the duration.  ``scored=False``
        evaluates with scoring elided and emits score 0.0.

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
            child = self._materialize(self._score(q.query, scored))
        finally:
            self._universe_override = prev
            self._nested_context = prev_ctx
        if not scored:
            child = child.select("doc_id", F.lit(0.0).alias("score"))
        return pmap, self._live(child)

    def _inner_hits(self, node: dsl.Nested,
                    root_keys: List[str]) -> Dict[str, List[dict]]:
        """Per-ROOT-document top matching child rows of one nested
        query (the ES ``inner_hits`` feature — beyond the reference's
        API surface).  Children are grouped by their root ancestor
        (`_nested_root`), restricted to the page's root keys (a tiny isin
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
        subcols = [c for c in dict.fromkeys(
            list(self.config.fields) + self.config.stored)
            if c.startswith(node.path + ".")]
        kids = (self.docs.where(
            F.col("_nested_parent").isNotNull()
            & kq.startswith(F.concat(F.col("_nested_parent"),
                                     F.lit(f"#{node.path}#"))))
            .where(F.col("_nested_root").isin([str(k) for k in root_keys]))
            .select("doc_id", kq.alias("_ckey"),
                    F.col("_nested_root").alias("_root"),
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
    # evaluation: one evaluator, scoring elided on demand (the
    # reference's no_score path, planner/mod.rs:43-47)
    # ---------------------------------------------------------------
    def _score(self, q: dsl.Query, needs_score: bool = True) -> Scored:
        """Every match of ``q`` with its score.  ``needs_score=False``
        elides scoring — count(), every Filter/Exclude branch and a
        score_mode-none nested body, whose frames are read for doc_id
        only — and adds the constant folds of the reference's boolean
        algebra that a score would forbid (boolean_query.rs:131-321)."""
        leaves = self._term_tree(q)
        if leaves is not None:
            return ("df", self._fused_tree(q, leaves, needs_score))
        if isinstance(q, dsl.All):
            return ("all", q.score)
        if isinstance(q, dsl.NoneQuery):
            return ("none", None)
        if isinstance(q, dsl.Term):
            return ("df", self._score_term(q.field, q.term, q.scorer,
                                           needs_score))
        if isinstance(q, dsl.Prefix):
            return ("df", self._score_prefix(q, needs_score))
        if isinstance(q, (dsl.Wildcard, dsl.Regexp, dsl.Fuzzy)):
            return ("df", self._score_selector(q, needs_score))
        if isinstance(q, dsl.Conjunction):
            return self._combine(q.queries, "and", needs_score)
        if isinstance(q, dsl.Disjunction):
            return self._combine(q.queries, "or", needs_score)
        if isinstance(q, dsl.DisjunctionMax):
            return self._combine(q.queries, "max", needs_score)
        if isinstance(q, dsl.Nested):
            return ("df", self._score_nested(q, needs_score))
        if isinstance(q, dsl.Exists):
            return self._score_exists(q)
        if isinstance(q, dsl.Filter):
            return self._apply_filter(self._score(q.query, needs_score),
                                      self._score(q.filter, False),
                                      False, needs_score)
        if isinstance(q, dsl.Exclude):
            return self._apply_filter(self._score(q.query, needs_score),
                                      self._score(q.exclude, False),
                                      True, needs_score)
        raise TypeError(type(q))

    #: filter branches at or below this many rows may be broadcast by
    #: the planner (~8M ids ≈ 64 MB framed); above it the semi/anti
    #: join is pinned to shuffled-hash.  Spark's own choice is blind
    #: here — a mapInArrow output has no size estimate, so without the
    #: hint the planner happily broadcasts a head term's matches (78%
    #: of the corpus in the bench's `not` query; at web scale a
    #: multi-GB broadcast).  Guide §3.1: pick the strategy deliberately.
    DOCSET_BROADCAST_MAX = 8 << 20

    def _sized(self, b: DataFrame) -> DataFrame:
        n = getattr(b, "_rsx_rows", None)
        if n is not None and n > self.DOCSET_BROADCAST_MAX:
            return b.hint("shuffle_hash")
        return b

    def _apply_filter(self, inner: Scored, fset: Scored, anti: bool,
                      needs_score: bool) -> Scored:
        """``inner`` restricted to the docs of the unscored ``fset``
        (Filter), or to the docs outside it (Exclude), with the
        Full/Empty folds (boolean_query.rs:131-321): Exclude(x, All)
        and Filter(x, None) are None, Filter(x, All) and
        Exclude(x, None) are x, and an unscored Filter(All, x) is x
        itself — its frame, so x's join hint survives."""
        kind, val = inner
        fkind, fval = fset
        if kind == "none" or fkind == ("all" if anti else "none"):
            return ("none", None)
        if fkind != "df":
            return inner
        how = "left_anti" if anti else "left_semi"
        if kind == "df":
            return ("df", val.join(self._sized(fval), "doc_id", how))
        if anti:
            # root-negation fallback: universe minus matches
            # (rocksdb/search/mod.rs:64-74)
            frame = self._universe().join(self._sized(fval), "doc_id", how)
        elif not needs_score:
            return fset
        else:
            frame = fval.select("doc_id")
        return ("df", frame.withColumn("score", F.lit(float(val))))

    def _combine(self, children: Tuple[dsl.Query, ...], mode: str,
                 needs_score: bool = True) -> Scored:
        """Avg (and/or) and Max combinators over child frames.

        Avg divides by the NUMBER OF CHILDREN, non-matching children
        contribute 0.0 (score_function.rs:80-88 +
        rocksdb/search/mod.rs:112-116).  A None child makes an ``and``
        None; unscored, an All child makes an ``or``/``dis_max`` All
        and a lone remaining child frame is the result itself
        (boolean_query.rs:131-321).  Children evaluate in order and
        stop at the first that folds the whole node, so no later
        child's dictionary scan runs (an unanchored selector's is a
        Spark job).
        """
        n = len(children)
        scored = []
        for c in children:
            kind, val = self._score(c, needs_score)
            if (kind == "none" and mode == "and") or (
                    kind == "all" and mode != "and" and not needs_score):
                return (kind, val)
            scored.append((kind, val))
        consts = [v for k, v in scored if k == "all"]
        frames = [v for k, v in scored if k == "df"]
        if not frames:
            if not consts:       # an empty ``terms`` list
                return ("none", None)
            return ("all", max(consts) if mode == "max"
                    else sum(consts) / n)
        if not needs_score and len(frames) == 1:
            return ("df", frames[0])
        if mode == "max":
            cmax = max(consts) if consts else None
            union = frames[0]
            for f in frames[1:]:
                union = union.unionByName(f)
            merged = union.groupBy("doc_id").agg(
                F.max("score").alias("score"))
            if cmax is None:
                return ("df", merged)
            merged = merged.select(
                "doc_id", F.greatest(F.col("score"),
                                     F.lit(float(cmax))).alias("score"))
            rest = (self._universe()
                    .join(merged.select("doc_id"), "doc_id", "left_anti")
                    .withColumn("score", F.lit(float(cmax))))
            return ("df", merged.unionByName(rest))
        merged = self._grouped(frames)
        score = ((F.col("sum_score") + F.lit(float(sum(consts))))
                 / F.lit(float(n)))
        if mode == "and":
            matched = merged.where(F.col("n_matched") == len(frames))
            return ("df", matched.select("doc_id", score.alias("score")))
        frame = merged.select("doc_id", score.alias("score"))
        if consts:   # an All child ⇒ every doc matches
            rest = (self._universe()
                    .join(merged.select("doc_id"), "doc_id", "left_anti")
                    .withColumn("score",
                                F.lit(float(sum(consts)) / float(n))))
            frame = frame.unionByName(rest)
        return ("df", frame)

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
