"""Driver-side term-dictionary reader (the searcher's in-memory
dictionary).

The reference's searcher holds an in-memory TermDictionary and
answers df / existence lookups without touching postings
(/root/reference/src/search/backends/rocksdb/term_dictionary.rs:16-91).
The analogue here reads the per-job ``term_dict`` sidecar parquet
(range-sorted by ``(field, term)``) with pyarrow ON THE DRIVER: an
exact-term lookup prunes to the row groups whose term min/max covers
the probe — a few KB of IO however large the corpus — and returns
``(df_global, n_blocks)`` summed across jobs.

Every committed job writes its sidecar before it commits (the
``IndexLayout.read_config`` format gate refuses indexes older than
that), so this is the planner's only dictionary: it hands
``df_global`` to decode closures without spending a Spark metadata
job per query — a term query is one decode job, full stop.  A small LRU
memoizes repeated lookups per engine snapshot (the dictionary is
immutable per committed lineage).
"""

from __future__ import annotations

import os
from typing import Dict, List, Optional, Tuple

from .layout import IndexLayout


class TermDictReader:
    """df/n_blocks lookups over the committed term_dict sidecars."""

    def __init__(self, layout: IndexLayout,
                 jobs: Optional[List[int]] = None):
        if jobs is None:
            jobs = layout.completed_jobs_local()
        self.paths = [layout.job_dir("term_dict", j) for j in jobs
                      if os.path.isdir(layout.job_dir("term_dict", j))]
        self._cache: Dict[Tuple[str, str], Tuple[int, int]] = {}
        self._fragments = None          # lazy pyarrow dataset

    def _dataset(self):
        if self._fragments is None:
            import pyarrow as pa
            import pyarrow.dataset as ds
            if not self.paths:
                # no committed job wrote a dictionary (every job an
                # empty streaming batch): an empty one
                self._fragments = ds.dataset(pa.table(
                    {"field": pa.array([], pa.string()),
                     "term": pa.array([], pa.string()),
                     "tbucket": pa.array([], pa.int32()),
                     "df": pa.array([], pa.int64()),
                     "n_blocks": pa.array([], pa.int32())}))
            else:
                # a list of DIRECTORY paths needs a union of per-dir
                # datasets (pyarrow only unions file paths directly)
                parts = [ds.dataset(p, format="parquet")
                         for p in self.paths]
                self._fragments = (ds.dataset(parts) if len(parts) != 1
                                   else parts[0])
        return self._fragments

    def lookup(self, pairs: List[Tuple[str, str]]
               ) -> Dict[Tuple[str, str], Tuple[int, int]]:
        """{(field, term): (df_global, n_blocks)} for every requested
        pair present in the index; absent pairs are simply missing
        from the result.  Row groups are pruned by the sorted ``term``
        min/max statistics, so IO is bounded by the probe terms, not
        the dictionary size."""
        missing = [p for p in pairs if p not in self._cache]
        if missing:
            import pyarrow.dataset as ds
            terms = sorted({t for _, t in missing})
            tbl = self._dataset().to_table(
                filter=ds.field("term").isin(terms),
                columns=["field", "term", "df", "n_blocks"])
            want = set(missing)
            agg: Dict[Tuple[str, str], List[int]] = {}
            for f, t, df, nb in zip(tbl.column("field").to_pylist(),
                                    tbl.column("term").to_pylist(),
                                    tbl.column("df").to_pylist(),
                                    tbl.column("n_blocks").to_pylist()):
                k = (f, t)
                if k in want:
                    cur = agg.setdefault(k, [0, 0])
                    cur[0] += int(df)
                    cur[1] += int(nb)
            for k in missing:
                v = agg.get(k)
                self._cache[k] = (v[0], v[1]) if v else (0, 0)
        return {p: self._cache[p] for p in pairs
                if self._cache.get(p, (0, 0))[0] > 0}

    def lookup_one(self, field: str, term: str) -> Tuple[int, int]:
        """(df_global, n_blocks), (0, 0) when absent."""
        got = self.lookup([(field, term)])
        return got.get((field, term), (0, 0))

    def selector_stats(self, field: str, match_fn, prefix_hint: str = "",
                       max_terms: int = 65536
                       ) -> Tuple[int, List[str], List[int],
                                  Dict[str, int]]:
        """(n_global_terms, field_terms_sorted, field_tbuckets) for an
        arbitrary term selector — the dictionary-driven generalization
        behind wildcard/fuzzy (the reference DECLARES these selectors
        but implements only Prefix, multi_term_selector.rs:3-16).

        ``match_fn(term) -> bool`` runs on the driver over the
        DICTIONARY slice only (optionally range-pruned by
        ``prefix_hint``, e.g. a wildcard's literal prefix or a fuzzy
        query's prefix_length chars) — driver traffic is bounded by
        the dictionary, never by postings.  ``n_global_terms`` counts
        matching terms across EVERY field (the index-wide dictionary
        feeds the MultiTerm Avg divisor, term_dictionary.rs:78-85);
        the term list + tbuckets prune the postings scan for the
        QUERY field, and the query field's per-term global df rides
        the same read (→ literal df attach, no in-plan df aggregate).
        Raises when more than ``max_terms`` distinct terms match (the
        same driver-safety bound ES enforces via max_expansions)."""
        import pyarrow.dataset as ds
        filt = None
        if prefix_hint:
            filt = ds.field("term") >= prefix_hint
            hi = _prefix_upper(prefix_hint)
            if hi is not None:
                filt = filt & (ds.field("term") < hi)
        tbl = self._dataset().to_table(
            filter=filt, columns=["field", "term", "tbucket", "df"])
        memo: Dict[str, bool] = {}
        fterms, ftbs = set(), set()
        dfmap: Dict[str, int] = {}
        n_global = 0
        for fld, t, tb, d in zip(tbl.column("field").to_pylist(),
                                 tbl.column("term").to_pylist(),
                                 tbl.column("tbucket").to_pylist(),
                                 tbl.column("df").to_pylist()):
            hit = memo.get(t)
            if hit is None:
                hit = memo[t] = bool(match_fn(t))
                if hit:
                    n_global += 1
                    if n_global > max_terms:
                        raise ValueError(
                            f"selector matches more than {max_terms} terms")
            if hit and fld == field:
                fterms.add(t)
                ftbs.add(int(tb))
                dfmap[t] = dfmap.get(t, 0) + int(d)
        return n_global, sorted(fterms), sorted(ftbs), dfmap

    def selector_stats_spark(self, spark, field: str, pred,
                             max_terms: int = 65536
                             ) -> Tuple[int, List[str], List[int],
                                        Dict[str, int]]:
        """``selector_stats`` for UNANCHORED selectors (no literal
        prefix: leading-``*`` wildcards, ``.*``-leading regexps,
        fuzzy with prefix_length=0) — the one case where the driver
        path would pull the ENTIRE dictionary into driver memory
        (tens of GB at web scale).  Instead the match predicate runs
        as a Spark filter over the term_dict sidecar parquet (it is
        already a columnar table) and the driver collects ONLY the
        matched (term, field-tbucket) rows, still bounded by
        ``max_terms``.  ``pred`` is the SQL form of ``match_fn`` in
        ``selector_stats`` (rlike / levenshtein)."""
        from pyspark.sql import functions as F
        if not self.paths:
            return 0, [], [], {}
        rows = (spark.read.parquet(*self.paths)
                .where(pred)
                .groupBy("term")
                .agg(F.max(F.when(F.col("field") == field,
                                  F.col("tbucket"))).alias("ftb"),
                     F.sum(F.when(F.col("field") == field,
                                  F.col("df"))).alias("fdf"))
                .limit(max_terms + 1)
                .collect())
        if len(rows) > max_terms:
            raise ValueError(
                f"selector matches more than {max_terms} terms")
        fterms = sorted(r.term for r in rows if r.ftb is not None)
        ftbs = sorted({int(r.ftb) for r in rows if r.ftb is not None})
        dfmap = {r.term: int(r.fdf) for r in rows if r.ftb is not None}
        return len(rows), fterms, ftbs, dfmap

    def prefix_stats_df(self, prefix: str, field: str
                        ) -> Tuple[int, List[int], Dict[str, int]]:
        """``prefix_stats`` plus the query field's per-term global df
        ({term: df}, summed across jobs) from the SAME dictionary
        read — lets the planner carry ``df_global`` in the decode's
        closure and skip the per-query in-plan df aggregate (one fewer
        Exchange + BroadcastExchange + postings scan per multi-term
        query)."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        f = ds.field("term") >= prefix
        hi = _prefix_upper(prefix)
        if hi is not None:
            f = f & (ds.field("term") < hi)
        tbl = self._dataset().to_table(
            filter=f, columns=["field", "term", "tbucket", "df"])
        if hi is None:
            # unincrementable prefix (U+10FFFF tail): post-filter
            tbl = tbl.filter(pc.starts_with(tbl.column("term"), prefix))
        n = len(pc.unique(tbl.column("term")))
        tbs = sorted(pc.unique(tbl.column("tbucket")).to_pylist())
        ftbl = tbl.filter(pc.equal(tbl.column("field"), field))
        dfmap: Dict[str, int] = {}
        for t, d in zip(ftbl.column("term").to_pylist(),
                        ftbl.column("df").to_pylist()):
            dfmap[t] = dfmap.get(t, 0) + int(d)
        return n, tbs, dfmap

    def prefix_stats(self, prefix: str) -> Tuple[int, List[int]]:
        """(n_distinct_terms, sorted tbuckets) over the GLOBAL (all
        fields) dictionary slice matching ``prefix`` — the reference
        enumerates exactly this slice in memory on the searcher
        (term_dictionary.rs:78-85).  Driver traffic is bounded by the
        DICTIONARY slice (row-group pruned on the sorted term column),
        never by postings; n feeds the MultiTerm Avg divisor and the
        tbuckets prune the postings scan."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        f = ds.field("term") >= prefix
        hi = _prefix_upper(prefix)
        if hi is not None:
            f = f & (ds.field("term") < hi)
        tbl = self._dataset().to_table(
            filter=f, columns=["term", "tbucket"])
        terms = pc.unique(tbl.column("term"))
        if hi is None:
            # unincrementable prefix (U+10FFFF tail): post-filter
            terms = pc.unique(tbl.filter(
                pc.starts_with(tbl.column("term"), prefix))
                .column("term"))
        tbs = sorted(pc.unique(tbl.column("tbucket")).to_pylist())
        return len(terms), tbs


def _prefix_upper(prefix: str) -> Optional[str]:
    """Smallest string greater than every string with this prefix
    (code-point order — identical for python str, Spark UTF8String,
    and pyarrow utf8 comparisons)."""
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp < 0x10FFFF:
            nxt = cp + 1
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000     # skip unencodable surrogate range
            return prefix[:i] + chr(nxt)
    return None
