"""Dictionary-driven wildcard + fuzzy MultiTerm selectors.

The reference DECLARES these selectors and implements only Prefix
(/root/reference/src/search/query/multi_term_selector.rs:3-16); here
they reuse the MultiTerm Avg machinery with terms enumerated from
the driver-side dictionary sidecar.  Contracts tested:

* the Spark lane (driver-side dictionary slice, or the distributed
  term_dict filter for unanchored selectors) matches the same docs
  with the same f32 scores as the driver-local LocalSearcher, which
  enumerates its own in-memory dictionary;
* `editdist_leq` agrees with Spark's `F.levenshtein` (which is the
  DuckDB oracle's function too) on a generated sample;
* enumeration is bounded: `selector_stats` raises past max_terms;
* wildcard pattern → (regex, literal prefix) goldens.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rusticsearch_spark.query.engine import (SearchEngine, editdist_leq,
                                             wildcard_regex)


@pytest.mark.parametrize("pattern,regex,prefix", [
    ("s*a*", "^s.*a.*$", "s"),
    ("sp?rk", "^sp.rk$", "sp"),
    ("*ark", "^.*ark$", ""),
    ("scan", "^scan$", "scan"),
    ("a.b*", "^a\\.b.*$", "a.b"),
])
def test_wildcard_regex_goldens(pattern, regex, prefix):
    assert wildcard_regex(pattern) == (regex, prefix)


def test_editdist_agrees_with_spark_levenshtein(spark):
    words = ["spark", "scan", "sort", "part", "fast", "hash", "", "a",
             "stream", "batch", "sparks", "spark", "prt", "pat", "px"]
    rows = [(a, b) for a in words for b in words]
    df = spark.createDataFrame(rows, "a string, b string").withColumn(
        "d", F.levenshtein("a", "b"))
    for r in df.collect():
        for k in (0, 1, 2, 3):
            assert editdist_leq(r.a, r.b, k) == (r.d <= k), (r.a, r.b, k)


@pytest.fixture(scope="module")
def local(index_dir):
    from rusticsearch_spark.query.local import LocalSearcher
    return LocalSearcher(index_dir)


def _assert_matches_local(engine, local, q):
    """Spark lane == LocalSearcher over every matching doc: same doc
    ids, same f32 scores (the two lanes sum a doc's per-term scores
    in different orders, hence the tolerance)."""
    got = {r.doc_id: r.score
           for r in engine.search(q, size=500).collect()}
    want = dict(local.search(q, size=500))
    assert sorted(got) == sorted(want) and len(got) > 0
    ids = sorted(got)
    np.testing.assert_allclose([got[d] for d in ids],
                               [want[d] for d in ids],
                               rtol=2e-6, atol=1e-7)


def test_wildcard_dictionary_path_matches_legacy(engine, local):
    _assert_matches_local(engine, local, {"wildcard": {"text": "s*a*"}})


def test_fuzzy_dictionary_path_matches_legacy(engine, local):
    _assert_matches_local(
        engine, local,
        {"fuzzy": {"text": {"value": "part", "fuzziness": 2}}})


def test_fuzzy_zero_edits_equals_term_docset(engine):
    """fuzziness=0 matches exactly the term's docs (scores differ by
    the MultiTerm Avg divisor, so compare doc sets)."""
    fz = {r.doc_id for r in
          engine.search({"fuzzy": {"text": {"value": "spark",
                                            "fuzziness": 0}}},
                        size=500).collect()}
    tm = {r.doc_id for r in
          engine.search({"term": {"text": "spark"}}, size=500).collect()}
    assert fz == tm and fz


def test_fuzzy_prefix_length_prunes_but_keeps_semantics(engine):
    """prefix_length only restricts WHICH terms match (must share the
    prefix); matching docs for a prefix-respecting value are stable."""
    loose = engine.count({"fuzzy": {"text": {"value": "spark",
                                             "fuzziness": 1}}})
    pinned = engine.count({"fuzzy": {"text": {"value": "spark",
                                              "fuzziness": 1,
                                              "prefix_length": 2}}})
    assert 0 < pinned <= loose


def test_selector_stats_bound(engine):
    with pytest.raises(ValueError, match="matches more than"):
        engine.dict_reader.selector_stats("text", lambda t: True,
                                          max_terms=3)


def test_wildcard_no_match_is_empty(engine):
    assert engine.count({"wildcard": {"text": "zz*qq"}}) == 0
    assert engine.search({"wildcard": {"text": "zz*qq"}}).collect() == []


def test_parse_errors():
    from rusticsearch_spark.query import dsl
    ctx = dsl.ParseContext(fields={"text": "standard"})
    with pytest.raises(dsl.QueryParseError):
        dsl.parse({"wildcard": {"nope": "x*"}}, ctx)
    with pytest.raises(dsl.QueryParseError):
        dsl.parse({"fuzzy": {"text": {"value": "x", "fuzziness": 9}}}, ctx)
    q = dsl.parse({"fuzzy": {"text": "spark"}}, ctx)
    assert q.fuzziness == 1          # AUTO: len 5 → 1 edit
    q = dsl.parse({"fuzzy": {"text": "extraordinary"}}, ctx)
    assert q.fuzziness == 2


def test_regex_literal_prefix():
    from rusticsearch_spark.query.engine import regex_literal_prefix
    assert regex_literal_prefix("s(can|ort)") == "s"
    assert regex_literal_prefix("scan") == "scan"
    assert regex_literal_prefix("sca?n") == "sc"     # 'a' is optional
    assert regex_literal_prefix("sc[ao]n") == "sc"
    assert regex_literal_prefix(".*x") == ""
    assert regex_literal_prefix("ab{2}") == "a"


def test_regexp_dictionary_path_matches_legacy(engine, local):
    _assert_matches_local(engine, local, {"regexp": {"text": "m[ae]r.*"}})


def test_unanchored_wildcard_distributes_enumeration(engine, local):
    """A leading-* wildcard must route through selector_stats_spark
    (the distributed term_dict filter) — never the full-dictionary
    driver scan — and the driver must receive only matched terms."""
    calls = {}
    bak_driver = type(engine.dict_reader).selector_stats
    bak_spark = type(engine.dict_reader).selector_stats_spark

    def spy_driver(self, *a, **k):
        calls["driver"] = True
        return bak_driver(self, *a, **k)

    def spy_spark(self, *a, **k):
        out = bak_spark(self, *a, **k)
        calls["spark"] = out
        return out

    type(engine.dict_reader).selector_stats = spy_driver
    type(engine.dict_reader).selector_stats_spark = spy_spark
    try:
        _assert_matches_local(engine, local, {"wildcard": {"text": "*ark"}})
    finally:
        type(engine.dict_reader).selector_stats = bak_driver
        type(engine.dict_reader).selector_stats_spark = bak_spark
    assert "driver" not in calls and "spark" in calls
    n, terms, _, _ = calls["spark"]
    # every collected term actually matches: enumeration was pushed
    # down, the driver never saw a non-matching dictionary row
    assert n == len(terms) > 0
    assert all(t.endswith("ark") for t in terms)


def test_anchored_wildcard_keeps_driver_path(engine):
    calls = {}
    bak_spark = type(engine.dict_reader).selector_stats_spark

    def spy_spark(self, *a, **k):
        calls["spark"] = True
        return bak_spark(self, *a, **k)

    type(engine.dict_reader).selector_stats_spark = spy_spark
    try:
        assert engine.count({"wildcard": {"text": "s*a*"}}) > 0
    finally:
        type(engine.dict_reader).selector_stats_spark = bak_spark
    assert "spark" not in calls


def test_regexp_whole_term_anchoring(engine):
    """'merg' must NOT match 'merge' (whole-term semantics)."""
    assert engine.count({"regexp": {"text": "merg"}}) == 0
    assert engine.count({"regexp": {"text": "merge"}}) == \
        engine.count({"term": {"text": "merge"}})
