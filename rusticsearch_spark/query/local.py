"""LocalSearcher: millisecond serving over a Spark-built index.

The build side is distributed (100 TB story, ``index.build``); the
serving side of the reference is a single-node process answering in
milliseconds (src/api/search_api.rs).  This mirrors that split the
way production systems do: executors build the immutable posting
artifact, a serving tier loads *its shard* of it.  A LocalSearcher
loads one shard (default: the whole test-scale index; ``jobs=``
restricts it to a document shard); ``ShardedSearcher`` below is the
scale-out shape — one LocalSearcher per build job (jobs own disjoint
doc buckets, so any query tree evaluates exactly per shard), global
top-k by merging per-shard top-k.

Everything is numpy set-at-a-time over the decoded blocks, computing
the exact f32 scores of ``similarity.py`` — the same rank-identity
battery that pins the Spark engine pins this one
(tests/test_local_searcher.py).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..index.codec import decode_blocks_concat
from ..index.delete import deleted_doc_ids
from ..index.layout import IndexConfig, IndexLayout
from ..similarity import bm25_f32, lengths_from_bytes, tfidf_f32
from ..analysis.analyzers import AnalyzerRegistry, parse_analysis_settings
from . import dsl

#: the block-table columns the searcher loads
_POSTINGS_READ = pa.schema([
    ("field", pa.string()), ("term", pa.string()), ("segment", pa.int64()),
    ("doc_bytes", pa.binary()), ("tf_bytes", pa.binary()),
    ("len_bytes", pa.binary())])

_EMPTY = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
Frame = Tuple[np.ndarray, np.ndarray]      # (doc_ids sorted-unique, scores)


def _in_sorted(values: np.ndarray, sorted_arr: np.ndarray) -> np.ndarray:
    """Membership of ``values`` in an already-sorted array via binary
    search — O(m log n), no sort, no large temporaries.  Every doc-id
    array in this module is sorted by construction (the shard loader
    emits per-key doc-sorted postings; ``np.unique`` outputs are
    sorted; subsets of sorted stay sorted), so this replaces
    ``np.isin`` (which re-sorts both sides per call) on the hot
    negation/filter/deletion paths — the allocation-heavy kernels the
    host's memory-subsystem dips amplify worst."""
    if sorted_arr.size == 0 or values.size == 0:
        return np.zeros(values.shape, dtype=bool)
    idx = np.searchsorted(sorted_arr, values)
    idx[idx == sorted_arr.size] = sorted_arr.size - 1
    return sorted_arr[idx] == values


def _merge_sorted_disjoint(ids_a: np.ndarray, val_a: np.ndarray,
                           ids_b: np.ndarray, val_b: np.ndarray
                           ) -> Frame:
    """Merge two sorted, disjoint (ids, values) frames into one sorted
    frame.  A Frame's id array MUST stay sorted — ``_in_sorted``
    binary-searches docsets — so the or/max-with-All completion paths
    cannot just append the complement."""
    ids = np.concatenate([ids_a, ids_b])
    vals = np.concatenate([val_a, val_b])
    order = np.argsort(ids, kind="stable")
    return ids[order], vals[order]


def _ranges_to_indices(starts: np.ndarray,
                       lengths: np.ndarray) -> np.ndarray:
    """Indices selecting ``[starts[i], starts[i]+lengths[i])`` runs
    laid end to end — the vectorized gather plan for permuting
    variable-length byte ranges."""
    total = int(lengths.sum())
    excl = np.cumsum(lengths) - lengths
    return (np.arange(total, dtype=np.int64)
            + np.repeat(starts - excl, lengths))


def _concat_binary(col: "pa.ChunkedArray"):
    """(uint8 buffer, int64 offsets) view of a (large_)binary column:
    the per-row byte strings laid end to end, zero-copy per chunk —
    the input shape ``codec.decode_blocks_concat`` wants."""
    import pyarrow.types as pat
    parts: List[np.ndarray] = []
    lens: List[np.ndarray] = []
    for chunk in col.chunks:
        if len(chunk) == 0:
            continue
        off_dt = (np.int64 if pat.is_large_binary(chunk.type)
                  else np.int32)
        offs = np.frombuffer(chunk.buffers()[1], dtype=off_dt)[
            chunk.offset:chunk.offset + len(chunk) + 1].astype(np.int64)
        data = np.frombuffer(chunk.buffers()[2] or b"", dtype=np.uint8)
        parts.append(data[offs[0]:offs[-1]])
        lens.append(np.diff(offs))
    if not parts:
        return np.zeros(0, np.uint8), np.zeros(1, np.int64)
    buf = np.concatenate(parts)
    ln = np.concatenate(lens)
    offsets = np.zeros(ln.size + 1, np.int64)
    np.cumsum(ln, out=offsets[1:])
    return buf, offsets


class LocalSearcher:
    def __init__(self, index_dir: str,
                 jobs: Optional[List[int]] = None,
                 global_terms: Optional[List[str]] = None,
                 global_df: Optional[Dict[Tuple[str, str], int]] = None,
                 lazy: bool = False):
        """``jobs`` restricts the searcher to a subset of committed
        job directories — the document-sharding unit (jobs own
        disjoint url-hash bucket ranges, so a per-job shard holds ALL
        postings of its docs and every query evaluates exactly within
        it).  ``global_terms`` injects the index-wide distinct term
        list (the MultiTerm Avg divisor) and ``global_df`` the
        index-wide per-(field, term) document frequency (the idf
        input): every score input must stay GLOBAL under sharding or
        a doc's score would depend on the shard split.
        ShardedSearcher passes both; rank identity is pinned by
        tests/test_local_searcher.py.

        ``lazy=True`` defers posting-block decode to first use of
        each (field, term): spin-up holds only the PERMUTED varbyte
        buffers (~ compressed artifact bytes, no int64 expansion) and
        a query decodes exactly its own terms' contiguous byte range
        (cached after).  Right for cold-start-sensitive serving and
        large shards; eager (default) pre-decodes everything so no
        first-hit pays decode — identical results either way
        (tests/test_local_searcher.py lazy battery)."""
        layout = IndexLayout(index_dir)
        self.index_dir = index_dir
        self.config: IndexConfig = layout.read_config()
        self._global_terms = global_terms
        self._global_df = global_df
        if self.config.analysis_settings:
            self.registry = parse_analysis_settings(
                self.config.analysis_settings)
        else:
            self.registry = AnalyzerRegistry()
        # postings: (field, term) -> merged (doc_ids, tfs, lens) +
        # per-term df; loaded eagerly from the block table
        self._post: Dict[Tuple[str, str],
                         Tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        # lazy mode: permuted varbyte buffers + per-key block ranges;
        # _post then acts as the decode cache
        self._lazy_data: Optional[Tuple[np.ndarray, List]] = None
        self._key_blocks: Optional[Dict[Tuple[str, str],
                                        Tuple[int, int]]] = None
        # committed jobs only (same visibility rule as SearchEngine:
        # lineage-resolved dirs, never a job=* glob)
        # (one lineage snapshot resolves every table)
        committed = layout.completed_jobs()
        wanted = (committed if jobs is None
                  else sorted(set(jobs) & set(committed)))
        post_dirs = layout.committed_dirs("postings", jobs=wanted)
        docs_dirs = layout.committed_dirs("docs", jobs=wanted)
        # a job with no postings dir (an empty streaming batch) adds
        # no postings; nor does one whose batch had no tokens (a dir
        # with no data file), which the fixed schema reads as 0 rows
        tbl = pa.concat_tables([
            pq.read_table(d, schema=_POSTINGS_READ)
            for d in post_dirs]) if post_dirs else None
        # Vectorized shard load: order the BLOCK rows by
        # ((field, term), segment) — segments own disjoint doc-id
        # ranges, so per key the segment-ordered block concatenation
        # is already globally doc-sorted — permute the raw byte
        # buffers in that block order (cheap: bytes, not decoded
        # int64s), then decode EVERY posting block in one numpy pass
        # (codec.decode_blocks_concat).  Per-key entries are
        # zero-copy views into the three big arrays.  No per-posting
        # sort anywhere; replaces a per-block Python decode loop
        # that dominated shard spin-up (tests/test_codec_concat.py
        # pins decode parity with the per-block path;
        # tests/test_local_searcher.py pins rank identity).
        n_rows = tbl.num_rows if tbl is not None else 0
        if n_rows:
            fields = tbl.column("field").to_pylist()
            terms = tbl.column("term").to_pylist()
            segs = tbl.column("segment").to_numpy()
            codes = np.empty(n_rows, dtype=np.int64)
            uniq: Dict[Tuple[str, str], int] = {}
            for i in range(n_rows):
                codes[i] = uniq.setdefault((fields[i], terms[i]),
                                           len(uniq))
            perm = np.lexsort((segs, codes))      # block rows only
            cols = []
            for name in ("doc_bytes", "tf_bytes", "len_bytes"):
                buf, off = _concat_binary(tbl.column(name))
                ln = np.diff(off)[perm]
                pbuf = buf[_ranges_to_indices(off[perm], ln)]
                poff = np.zeros(n_rows + 1, np.int64)
                np.cumsum(ln, out=poff[1:])
                cols.append((pbuf, poff))
            # per-key BLOCK ranges: key code is non-decreasing in
            # perm order, so key boundaries are block boundaries and
            # (key code being sorted with every code occurring) the
            # b-th distinct run is code b
            pc = codes[perm]
            last_block = np.append(np.flatnonzero(np.diff(pc)),
                                   n_rows - 1)
            first_block = np.concatenate([[0], last_block[:-1] + 1])
            if lazy:
                # hold bytes only; decode per key on first use
                self._lazy_data = (
                    np.ascontiguousarray(segs[perm], dtype=np.int64),
                    cols)
                self._key_blocks = {
                    key: (int(first_block[c]), int(last_block[c]) + 1)
                    for key, c in uniq.items()}
            else:
                doc_ids, tfs, lens, counts = decode_blocks_concat(
                    segs[perm], *cols[0], *cols[1], *cols[2])
                pends = np.cumsum(counts)
                key_lo = (pends - counts)[first_block]
                key_hi = pends[last_block]
                for key, c in uniq.items():
                    self._post[key] = (doc_ids[key_lo[c]:key_hi[c]],
                                       tfs[key_lo[c]:key_hi[c]],
                                       lens[key_lo[c]:key_hi[c]])
        # index-wide, whatever this shard's jobs
        self.field_stats: Dict[str, Tuple[int, int]] = \
            layout.field_stats(committed)
        # nested-TYPE indexes: the docs table holds internal child
        # rows (one per array element, `_nested_parent` = parent key,
        # key "<parent>#<path>#<pos>" — mapping.prepare_docs).  The
        # searcher's universe is PARENTS ONLY (children are invisible
        # to match_all/negation/count, like the Spark engine); per
        # path it keeps (child_ids sorted, parent doc_id aligned) for
        # the nested-query child→parent fold, plus a temporarily
        # swapped universe while a nested inner tree evaluates.
        self._nested: Dict[str, Tuple[np.ndarray, np.ndarray]] = {}
        self._universe_override: Optional[np.ndarray] = None
        self._nested_context: Optional[str] = None
        self._docs_dirs = docs_dirs    # for lazy nested-meta reads
        if self.config.nested_paths and docs_dirs:
            # a job's document shard is parent-complete (children
            # bucket with their root), so a job-restricted searcher
            # evaluates nested queries exactly
            key_c = self.config.key_col
            dtbl = pa.concat_tables([
                pq.read_table(d, columns=["doc_id", key_c,
                                          "_nested_parent"])
                for d in docs_dirs])
            dids = dtbl.column("doc_id").to_numpy()
            keys = dtbl.column(key_c).to_pylist()
            pars = dtbl.column("_nested_parent").to_pylist()
            is_child = np.array([p is not None for p in pars])
            self.all_doc_ids = np.sort(dids[~is_child])
            # ALL rows, not just roots: with multi-level nesting a
            # child row is itself the parent of deeper child rows
            pkey_to_id = {str(k): int(d) for k, d in zip(keys, dids)}
            # ONE pass over the rows, not one per path: a child key
            # is "<parent>#<path>#<pos>" with the STORED parent as
            # its literal prefix, so slicing it off and dropping the
            # trailing "#<pos>" recovers the path exactly (pos is
            # digits; parent and path may themselves contain '#')
            by_path: Dict[str, Tuple[List[int], List[int]]] = {
                p: ([], []) for p in self.config.nested_paths}
            for k, p, d, c in zip(keys, pars, dids, is_child):
                if not c:
                    continue
                k = str(k)
                path = k[len(str(p)) + 1:k.rfind("#")]
                slot = by_path.get(path)
                if slot is not None:
                    pid = pkey_to_id.get(str(p))
                    if pid is not None:
                        slot[0].append(int(d))
                        slot[1].append(pid)
            for path, (cids, cpar) in by_path.items():
                ca = np.asarray(cids, dtype=np.int64)
                pa_ = np.asarray(cpar, dtype=np.int64)
                order = np.argsort(ca)
                self._nested[path] = (ca[order], pa_[order])
        else:
            self.all_doc_ids = np.sort(np.concatenate([
                pq.read_table(d, columns=["doc_id"])
                .column("doc_id").to_numpy()
                for d in docs_dirs] or
                [np.empty(0, dtype=np.int64)]))
        ddirs = layout.deletion_dirs()
        self.deleted: Optional[np.ndarray] = (
            deleted_doc_ids(ddirs) if ddirs else None)

    # -- public API ---------------------------------------------------
    def parse(self, query_json: dict) -> dsl.Query:
        ctx = dsl.ParseContext(fields=dict(self.config.fields),
                               analyzers=self.registry,
                               field_types=dict(self.config.field_types),
                               search_analyzers=dict(
                                   self.config.search_analyzers),
                               nested_paths=tuple(
                                   self.config.nested_paths))
        return dsl.parse(query_json, ctx)

    def _universe(self) -> np.ndarray:
        """Parent doc ids — or, while a nested inner tree evaluates,
        the path's child rows (match_all / root negations inside
        `nested` range over array elements, not parents — the same
        override the Spark engine swaps in)."""
        if self._universe_override is not None:
            return self._universe_override
        return self.all_doc_ids

    def _parent_gate(self, ids: np.ndarray,
                     scores: np.ndarray) -> Frame:
        """Internal child rows must never surface as public results:
        a flat query on a nested subfield scores child doc_ids, and
        ES semantics are that it matches nothing (engine.search's
        parent semi-join)."""
        if not self.config.nested_paths or ids.size == 0:
            return ids, scores
        keep = _in_sorted(ids, self.all_doc_ids)
        return ids[keep], scores[keep]

    def search(self, query_json: dict, size: int = 10,
               from_: int = 0) -> List[Tuple[int, float]]:
        ids, scores = self._materialize(self._score(self.parse(query_json)))
        ids, scores = self._parent_gate(ids, scores)
        if self.deleted is not None and ids.size:
            live = ~_in_sorted(ids, self.deleted)
            ids, scores = ids[live], scores[live]
        k = from_ + size
        if ids.size > k:
            # argpartition alone picks an ARBITRARY subset of the docs
            # tied at the k-th score; the contract (matching the Spark
            # engine's orderBy(score desc, doc_id asc) and the
            # reference collector, src/search/collectors/top_score.rs)
            # is deterministic tie-break by lowest doc_id.  Partition
            # to find the k-th score, then keep the WHOLE tie class at
            # the boundary so the final lexsort resolves ties.
            part = np.argpartition(-scores, k - 1)
            thresh = scores[part[k - 1]]
            keep = scores >= thresh
            ids, scores = ids[keep], scores[keep]
        order = np.lexsort((ids, -scores))
        return [(int(ids[i]), float(scores[i])) for i in order][from_:k]

    def count(self, query_json: Optional[dict] = None) -> int:
        if query_json is None:
            ids = self.all_doc_ids
        else:
            ids, s = self._materialize(self._score(self.parse(query_json)))
            ids, _ = self._parent_gate(ids, s)
        if self.deleted is not None and ids.size:
            ids = ids[~_in_sorted(ids, self.deleted)]
        return int(ids.size)

    # -- evaluation (mirrors query.engine semantics) -------------------
    def _dict_keys(self):
        """The shard's (field, term) dictionary — `_key_blocks` in
        lazy mode (where `_post` is only the decode cache)."""
        return (self._key_blocks if self._key_blocks is not None
                else self._post)

    def _lookup(self, key: Tuple[str, str]
                ) -> Optional[Tuple[np.ndarray, np.ndarray, np.ndarray]]:
        """Postings for one (field, term).  Lazy mode decodes the
        key's contiguous permuted byte range on first use and caches
        it — a query pays decode only for its own terms."""
        post = self._post.get(key)
        if post is not None or self._key_blocks is None:
            return post
        rng = self._key_blocks.get(key)
        if rng is None:
            return None
        fb, lbx = rng
        segs, cols = self._lazy_data
        parts: List[np.ndarray] = []
        for pbuf, poff in cols:
            b0 = int(poff[fb])
            parts.extend((pbuf[b0:int(poff[lbx])],
                          poff[fb:lbx + 1] - b0))
        doc_ids, tfs, lens, _ = decode_blocks_concat(
            segs[fb:lbx], *parts)
        post = (doc_ids, tfs, lens)
        self._post[key] = post
        return post

    def _term(self, field: str, term: str,
              scorer: dsl.TermScorer) -> Frame:
        post = self._lookup((field, term))
        if post is None:
            return _EMPTY
        ids, tfs, lens = post
        d, t = self.field_stats.get(field, (0, 0))
        # df is GLOBAL (the idf input): under sharding the local
        # posting length is only this shard's share
        df = (self._global_df.get((field, term), len(ids))
              if self._global_df is not None else len(ids))
        if scorer.similarity == dsl.TFIDF:
            s = tfidf_f32(tfs, d, df)
        else:
            s = bm25_f32(tfs, lengths_from_bytes(lens), t, d, df)
        s = (s * np.float32(scorer.boost)).astype(np.float64)
        return ids, s

    def _prefix(self, q: dsl.Prefix) -> Frame:
        return self._multiterm(q.field,
                               lambda t: t.startswith(q.prefix),
                               q.scorer)

    def _selector(self, q) -> Frame:
        """Wildcard / Regexp / Fuzzy over the in-memory dictionary —
        the same match predicates the distributed engine's
        selector_stats applies (query/engine.py)."""
        import re
        from .engine import editdist_leq, wildcard_regex
        if isinstance(q, dsl.Wildcard):
            rx = re.compile(wildcard_regex(q.pattern)[0])
            return self._multiterm(
                q.field, lambda t: rx.match(t) is not None, q.scorer)
        if isinstance(q, dsl.Regexp):
            rx = re.compile("^(?:" + q.pattern + ")$")
            return self._multiterm(
                q.field, lambda t: rx.match(t) is not None, q.scorer)
        hint = q.term[:q.prefix_length]
        return self._multiterm(
            q.field,
            lambda t: t.startswith(hint)
            and editdist_leq(t, q.term, q.fuzziness), q.scorer)

    def _multiterm(self, field: str, match_fn, scorer) -> Frame:
        matched = [k for k in self._dict_keys() if k[0] == field
                   and match_fn(k[1])]
        if not matched:
            return _EMPTY
        # Avg divisor = matches in the GLOBAL term dictionary (all
        # fields; term_dictionary.rs:78-85) — out-of-field terms
        # contribute 0 to every doc but still count.  Under sharding
        # the injected index-wide term list keeps the divisor global
        # (a shard's local dictionary would make scores depend on the
        # shard split).
        if self._global_terms is not None:
            n_dict = sum(1 for t in self._global_terms if match_fn(t))
        else:
            n_dict = len({t for _, t in self._dict_keys()
                          if match_fn(t)})
        frames = [self._term(f, t, scorer) for f, t in matched]
        ids, s = self._sum_frames(frames)
        return ids, s / float(n_dict)

    @staticmethod
    def _sum_frames(frames: List[Frame]) -> Frame:
        ids = np.concatenate([f[0] for f in frames])
        s = np.concatenate([f[1] for f in frames])
        uids, inv = np.unique(ids, return_inverse=True)
        out = np.zeros(uids.size, dtype=np.float64)
        np.add.at(out, inv, s)
        return uids, out

    def _score(self, q: dsl.Query):
        if isinstance(q, dsl.All):
            return ("all", q.score)
        if isinstance(q, dsl.NoneQuery):
            return ("none", None)
        if isinstance(q, dsl.Term):
            return ("df", self._term(q.field, q.term, q.scorer))
        if isinstance(q, dsl.Prefix):
            return ("df", self._prefix(q))
        if isinstance(q, (dsl.Wildcard, dsl.Regexp, dsl.Fuzzy)):
            return ("df", self._selector(q))
        if isinstance(q, dsl.Nested):
            return ("df", self._nested_frame(q))
        if isinstance(q, dsl.Exists):
            ids = self._exists_ids(q.field)
            return ("df", (ids, np.full(ids.size, float(q.score))))
        if isinstance(q, (dsl.Conjunction, dsl.Disjunction,
                          dsl.DisjunctionMax)):
            mode = ("and" if isinstance(q, dsl.Conjunction) else
                    "or" if isinstance(q, dsl.Disjunction) else "max")
            return self._combine(q.queries, mode)
        if isinstance(q, dsl.Filter):
            return self._apply(self._score(q.query),
                               self._docset(q.filter), anti=False)
        if isinstance(q, dsl.Exclude):
            return self._apply(self._score(q.query),
                               self._docset(q.exclude), anti=True)
        raise TypeError(type(q))

    def _docset(self, q: dsl.Query):
        scored = self._score(q)
        if scored[0] == "df":
            return scored[1][0]
        return scored[0]            # "all" / "none" sentinel strings

    def _nested_child_scores(self, q: dsl.Nested,
                             kids: np.ndarray) -> Frame:
        """Live matched (doc_ids, scores) of q's inner query over the
        path's child rows — universe and nested context swapped to
        this path for the duration.  Only this path's children count
        (a flat term inside the nested body could score other rows),
        and deleted children must not contribute to a surviving
        parent's score.  score_mode "none" evaluates the cheaper
        docset and emits score 0.0."""
        prev, prev_ctx = self._universe_override, self._nested_context
        self._universe_override = kids
        self._nested_context = q.path
        try:
            if q.score_mode == "none":
                ds = self._docset(q.query)
                if isinstance(ds, str):
                    ids = (kids if ds == "all"
                           else np.empty(0, np.int64))
                else:
                    ids = ds
                scores = np.zeros(ids.size, dtype=np.float64)
            else:
                ids, scores = self._materialize(self._score(q.query))
        finally:
            self._universe_override = prev
            self._nested_context = prev_ctx
        keep = _in_sorted(ids, kids)
        if self.deleted is not None and ids.size:
            keep &= ~_in_sorted(ids, self.deleted)
        return ids[keep], scores[keep]

    def inner_hits(self, node: dsl.Nested,
                   root_ids: List[int]) -> Dict[int, List[dict]]:
        """Serving-native ES inner_hits (engine._inner_hits mirror,
        zero Spark jobs): per ROOT doc_id, the node's top matching
        child rows — synthetic key, array offset, score, subfield
        values — ranked (score desc, doc_id asc), sliced
        [from, from+size).  Child metadata loads lazily per path from
        the docs sidecar (one pyarrow read, cached)."""
        from ..nested import nested_parent_path as _npp
        name, size, from_ = node.inner_hits
        kids, _ = self._nested.get(
            node.path, (np.empty(0, np.int64), np.empty(0, np.int64)))
        ids, scores = self._nested_child_scores(node, kids)
        out: Dict[int, List[dict]] = {}
        if ids.size == 0:
            return out
        # walk every matched child to its ROOT ancestor
        roots = self._nested[node.path][1][
            np.searchsorted(self._nested[node.path][0], ids)]
        lvl = _npp(node.path, self.config.nested_paths)
        while lvl is not None:
            lk, lp = self._nested[lvl]
            roots = lp[np.searchsorted(lk, roots)]
            lvl = _npp(lvl, self.config.nested_paths)
        want = np.asarray(sorted(set(int(r) for r in root_ids)),
                          dtype=np.int64)
        keep = _in_sorted(roots, want)
        ids, scores, roots = ids[keep], scores[keep], roots[keep]
        if ids.size == 0:
            return out
        ckeys, cfields = self._nested_meta(node.path)
        # rank per root: sort by (root, -score, doc_id), slice per group
        order = np.lexsort((ids, -scores, roots))
        ids, scores, roots = ids[order], scores[order], roots[order]
        pos = {int(d): i for i, d in enumerate(ckeys[0])}
        rank = 0
        prev_root = None
        for d, s, r in zip(ids, scores, roots):
            rank = rank + 1 if r == prev_root else 1
            prev_root = r
            if rank <= from_ or rank > from_ + size:
                continue
            i = pos[int(d)]
            k = ckeys[1][i]
            out.setdefault(int(r), []).append({
                "key": k,
                "offset": int(k.rsplit("#", 1)[1]),
                "score": float(s),
                "fields": {c: v[i] for c, v in cfields.items()},
            })
        return out

    def _nested_meta(self, path: str):
        """Lazily-loaded child metadata for one nested path:
        ((child_ids, keys), {subfield: values}) aligned arrays."""
        cache = getattr(self, "_nested_meta_cache", None)
        if cache is None:
            cache = self._nested_meta_cache = {}
        got = cache.get(path)
        if got is not None:
            return got
        import pyarrow as pa
        import pyarrow.parquet as pq
        key_c = self.config.key_col
        subcols = [c for c in dict.fromkeys(
            list(self.config.fields) + self.config.stored)
            if c.startswith(path + ".")]
        tbl = pa.concat_tables([
            pq.read_table(d, columns=["doc_id", key_c] + subcols)
            for d in self._docs_dirs])
        dids = tbl.column("doc_id").to_numpy()
        member = _in_sorted(dids, self._nested[path][0])
        dids = dids[member]
        keys = np.asarray(tbl.column(key_c).to_pylist(),
                          dtype=object)[member]
        fields = {c: np.asarray(tbl.column(c).to_pylist(),
                                dtype=object)[member] for c in subcols}
        got = ((dids, keys), fields)
        cache[path] = got
        return got

    def _exists_ids(self, field: str) -> np.ndarray:
        """Sorted doc_ids whose stored ``field`` is present — non-null
        and, for list columns, non-empty (engine._score_exists
        mirror).  One lazy column-pruned pyarrow read per field,
        cached; unknown fields (never stored) match nothing."""
        cache = getattr(self, "_exists_cache", None)
        if cache is None:
            cache = self._exists_cache = {}
        got = cache.get(field)
        if got is not None:
            return got
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        known = ({self.config.key_col} | set(self.config.fields)
                 | set(self.config.stored))
        if field not in known or not self._docs_dirs:
            ids = np.empty(0, dtype=np.int64)
        else:
            tbl = pa.concat_tables([
                pq.read_table(d, columns=["doc_id", field])
                for d in self._docs_dirs])
            col = tbl.column(field)
            if pa.types.is_list(col.type) \
                    or pa.types.is_large_list(col.type):
                lens = pc.fill_null(pc.list_value_length(col), 0)
                mask = pc.and_(pc.is_valid(col), pc.greater(lens, 0))
            else:
                mask = pc.is_valid(col)
            m = mask.combine_chunks().to_numpy(zero_copy_only=False)
            ids = np.sort(tbl.column("doc_id").to_numpy()[m])
        cache[field] = ids
        return ids

    def _nested_frame(self, q: dsl.Nested) -> Frame:
        """ES nested query (engine._score_nested mirror): evaluate
        the inner query over the path's CHILD rows — universe swapped
        so inner match_all / root negations range over array elements
        — keep live matched children, fold child scores to parents
        per score_mode through the preloaded child→parent arrays.
        A numpy group-by replaces the Spark engine's key join; the
        output frame is parent-sorted (np.unique)."""
        from ..nested import nested_parent_path as _npp
        ctxp = self._nested_context
        if ctxp is not None and not q.path.startswith(ctxp + "."):
            raise dsl.QueryParseError(
                f"nested path {q.path!r} is not a descendant of the "
                f"enclosing nested path {ctxp!r}")
        kids, kid_parents = self._nested.get(
            q.path, (np.empty(0, np.int64), np.empty(0, np.int64)))
        ids, scores = self._nested_child_scores(q, kids)
        if ids.size == 0:
            return _EMPTY
        # walk ancestors up to the enclosing level, THEN group once —
        # one score_mode application over all q.path descendants of
        # each target-level ancestor (ES block-join semantics)
        parents = kid_parents[np.searchsorted(kids, ids)]
        lvl = _npp(q.path, self.config.nested_paths)
        while lvl != ctxp:
            lk, lp = self._nested[lvl]
            parents = lp[np.searchsorted(lk, parents)]
            lvl = _npp(lvl, self.config.nested_paths)
        uparents, inv, counts = np.unique(parents, return_inverse=True,
                                          return_counts=True)
        if q.score_mode == "none":
            return uparents, np.zeros(uparents.size, dtype=np.float64)
        if q.score_mode == "max":
            out = np.full(uparents.size, -np.inf)
            np.maximum.at(out, inv, scores)
        else:
            out = np.zeros(uparents.size, dtype=np.float64)
            np.add.at(out, inv, scores)
            if q.score_mode == "avg":
                out = out / counts
        return uparents, out

    def _apply(self, scored, dset, anti: bool):
        kind, val = scored
        if kind == "none":
            return scored
        if isinstance(dset, str):
            hit_all = dset == "all"
            if (hit_all and not anti) or (not hit_all and anti):
                return scored
            return ("none", None)
        if kind == "all":
            universe = self._universe()
            keep = (~_in_sorted(universe, dset) if anti
                    else _in_sorted(universe, dset))
            ids = universe[keep]
            return ("df", (ids, np.full(ids.size, float(val))))
        ids, s = val
        keep = ~_in_sorted(ids, dset) if anti else _in_sorted(ids, dset)
        return ("df", (ids[keep], s[keep]))

    def _combine(self, children, mode: str):
        scored = [self._score(c) for c in children]
        n = len(scored)
        if n == 0 or (mode == "and"
                      and any(k == "none" for k, _ in scored)):
            return ("none", None)
        consts = [v for k, v in scored if k == "all"]
        frames = [v for k, v in scored if k == "df"]
        if not frames:
            if mode == "max":
                return ("all", max(consts)) if consts else ("none", None)
            if mode == "or" and not consts:
                return ("none", None)
            return ("all", sum(consts) / n if mode != "max" else max(consts))
        if mode == "max":
            ids = np.concatenate([f[0] for f in frames])
            s = np.concatenate([f[1] for f in frames])
            uids, inv = np.unique(ids, return_inverse=True)
            out = np.zeros(uids.size, dtype=np.float64)
            np.maximum.at(out, inv, s)
            if consts:
                cmax = max(consts)
                out = np.maximum(out, cmax)
                uni = self._universe()
                rest = uni[~_in_sorted(uni, uids)]
                uids, out = _merge_sorted_disjoint(
                    uids, out, rest, np.full(rest.size, cmax))
            return ("df", (uids, out))
        ids = np.concatenate([f[0] for f in frames])
        s = np.concatenate([f[1] for f in frames])
        uids, inv, counts = np.unique(ids, return_inverse=True,
                                      return_counts=True)
        out = np.zeros(uids.size, dtype=np.float64)
        np.add.at(out, inv, s)
        out = (out + float(sum(consts))) / float(n)
        if mode == "and":
            full = counts == len(frames)
            return ("df", (uids[full], out[full]))
        if consts:          # or-with-All: every doc matches
            uni = self._universe()
            rest = uni[~_in_sorted(uni, uids)]
            uids, out = _merge_sorted_disjoint(
                uids, out, rest, np.full(rest.size, float(sum(consts)) / n))
        return ("df", (uids, out))

    def _materialize(self, scored) -> Frame:
        kind, val = scored
        if kind == "df":
            return val
        if kind == "none":
            return _EMPTY
        uni = self._universe()
        return (uni, np.full(uni.size, float(val)))


def load_global_dict(index_dir: str
                     ) -> Tuple[List[str], Dict[Tuple[str, str], int]]:
    """(distinct terms across all fields, (field, term) → global df)
    from the term_dict sidecars — a narrow columnar read, small next
    to postings.  These are the two score inputs that must stay
    index-wide when serving is document-sharded."""
    layout = IndexLayout(index_dir)
    dirs = layout.committed_dirs("term_dict")
    if not dirs:
        return [], {}
    tbl = pa.concat_tables([
        pq.read_table(d, columns=["field", "term", "df"])
        for d in dirs])
    df_map: Dict[Tuple[str, str], int] = {}
    terms = set()
    for f, t, d in zip(tbl.column("field").to_pylist(),
                       tbl.column("term").to_pylist(),
                       tbl.column("df").to_pylist()):
        terms.add(t)
        k = (f, t)
        df_map[k] = df_map.get(k, 0) + int(d)
    return sorted(terms), df_map


class ShardedSearcher:
    """The serving tier's scale-out shape: one LocalSearcher per
    document shard, global top-k by merging per-shard top-k.

    The shard unit is the build JOB — jobs own disjoint url-hash
    bucket ranges, so a shard holds every posting of its documents
    and evaluates ANY query tree exactly over them (term-partitioned
    sharding would break conjunctions: no shard would hold both terms
    of a doc).  Scores are shard-independent because every score
    input is global — field_stats load index-wide in each shard and
    the MultiTerm divisor comes from the injected index-wide
    dictionary — so a doc's score is identical to the unsharded
    searcher's and merging per-shard top-k (each with the same
    (-score, doc_id) tie order) IS the global top-k.  Per-process
    memory is bounded by the largest shard, not the index
    (SearchEngine's "auto" cutoff uses per-shard bytes).

    ``shards`` groups job ids per shard (default one shard per job);
    in a real deployment each group would live in its own serving
    process — here they share one process, which is the same math.
    """

    def __init__(self, index_dir: str,
                 shards: Optional[List[List[int]]] = None,
                 lazy: bool = False):
        layout = IndexLayout(index_dir)
        jobs = layout.completed_jobs_local()
        if shards is None:
            shards = [[j] for j in jobs]
        gterms, gdf = load_global_dict(index_dir)
        self.shards = [LocalSearcher(index_dir, jobs=js,
                                     global_terms=gterms,
                                     global_df=gdf, lazy=lazy)
                       for js in shards]

    def search(self, query_json: dict, size: int = 10,
               from_: int = 0) -> List[Tuple[int, float]]:
        k = from_ + size
        # any doc in the global top-k is in its own shard's top-k
        # under the same deterministic tie order
        cand: List[Tuple[int, float]] = []
        for s in self.shards:
            cand.extend(s.search(query_json, size=k, from_=0))
        cand.sort(key=lambda t: (-t[1], t[0]))
        return cand[from_:k]

    def count(self, query_json: Optional[dict] = None) -> int:
        return sum(s.count(query_json) for s in self.shards)

    def inner_hits(self, node: "dsl.Nested",
                   root_ids: List[int]) -> Dict[int, List[dict]]:
        """A root document's entire descendant chain co-locates in
        ONE shard (parent-complete bucketing), so the global answer
        is the disjoint union of per-shard answers."""
        out: Dict[int, List[dict]] = {}
        for s in self.shards:
            out.update(s.inner_hits(node, root_ids))
        return out
