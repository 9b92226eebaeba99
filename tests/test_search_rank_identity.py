"""End-to-end rank-identity: the Spark engine vs the pure-Python
oracle (which reimplements the reference's exact f32 semantics —
segment_builder quantization + similarity.rs math + score-VM
combinators).  Top-k doc_ids must be identical in order; scores must
agree to f32 ULP tolerance.  Counts (the _count path, scoring elided)
must be exact."""

import contextlib

import numpy as np
import pytest
from pyspark.sql import functions as F

_PREFIX = {"prefix": {"text": "sc"}}
_LANG_EN = {"term": {"lang": "en"}}
#: the corpus's 31 words and 33 it lacks: one fused tree of 64 leaves
_MATCH_64 = {"match": {"text": " ".join(
    "a agg batch big column customer data dup fast filter group hash "
    "join key line merge order part query row scan slow small sort "
    "spark stream table the value vector window".split()
    + [f"unseen{i}" for i in range(33)])}}

QUERIES = [
    ("match_or", {"match": {"text": "spark query"}}),
    ("match_and", {"match": {"text": {"query": "spark query",
                                      "operator": "and"}}}),
    ("match_single", {"match": {"text": "merge"}}),
    ("match_boost", {"match": {"text": {"query": "table scan",
                                        "boost": 2.5}}}),
    ("match_64", _MATCH_64),
    ("term_exact", {"term": {"text": "window"}}),
    ("term_lang", {"term": {"lang": "en"}}),
    ("terms_in", {"terms": {"lang": ["en", "fr", "zh"]}}),
    # an empty value list is no combinator: it parses, matches nothing
    ("terms_empty", {"terms": {"lang": []}}),
    ("prefix", {"prefix": {"text": "sc"}}),
    ("and_combo", {"and": [{"match": {"text": "query"}},
                           {"term": {"lang": "en"}}]}),
    ("or_combo", {"or": [{"match": {"text": "hash join"}},
                         {"term": {"lang": "fr"}}]}),
    ("not_term", {"not": {"term": {"lang": "en"}}}),
    ("filtered", {"filtered": {"query": {"match": {"text": "table scan"}},
                               "filter": {"term": {"lang": "en"}}}}),
    ("constant_score", {"constant_score": {
        "filter": {"match": {"text": "merge sort"}}, "boost": 7.0}}),
    ("multi_match", {"multi_match": {"query": "spark en",
                                     "fields": ["text^2", "lang"]}}),
    ("match_all", {"match_all": {"boost": 1.5}}),
    ("match_none", {"match_none": {}}),
    # generic trees (a non-Term leaf): per-child frames and joins
    ("and_prefix_term", {"and": [_PREFIX, _LANG_EN]}),
    ("or_prefix_term", {"or": [_PREFIX, _LANG_EN]}),
    ("filtered_prefix", {"filtered": {"query": {"term": {"text": "merge"}},
                                      "filter": _PREFIX}}),
    ("not_or", {"not": {"or": [_PREFIX, _LANG_EN]}}),
    ("constant_score_prefix", {"constant_score": {"filter": _PREFIX}}),
    ("or_match_all_term", {"or": [{"match_all": {}}, _LANG_EN]}),
    ("dis_max_match_all_prefix", {"dis_max": {"queries": [
        {"match_all": {}}, _PREFIX]}}),
    ("not_match_all", {"not": {"match_all": {}}}),
]


@pytest.mark.parametrize("name,query", QUERIES, ids=[q[0] for q in QUERIES])
def test_topk_rank_identity(engine, oracle, name, query):
    k = 10
    got = [(r.doc_id, r.score) for r in
           engine.search(query, size=k).collect()]
    want = oracle.search(engine.parse(query), k=k)
    assert [g[0] for g in got] == [w[0] for w in want], \
        f"{name}: doc rank mismatch\n got={got}\nwant={want}"
    if want:
        np.testing.assert_allclose(
            [g[1] for g in got], [w[1] for w in want], rtol=2e-6, atol=1e-7,
            err_msg=f"{name}: score drift")


@pytest.mark.parametrize("name,query", QUERIES, ids=[q[0] for q in QUERIES])
def test_count_exact(engine, oracle, name, query):
    assert engine.count(query) == oracle.count(engine.parse(query))


def test_count_missing_body_is_match_all(engine, oracle):
    # search_api.rs:51-55: no body ⇒ count of Query::all()
    assert engine.count() == len(oracle.doc_ids)


def test_pagination_offsets(engine, oracle):
    q = {"match": {"text": "spark query"}}
    full = oracle.search(engine.parse(q), k=20)
    page = [(r.doc_id, r.score) for r in
            engine.search(q, size=5, from_=5).collect()]
    assert [p[0] for p in page] == [w[0] for w in full[5:10]]


def test_missing_term_empty(engine, oracle):
    q = {"match": {"text": "zzzzzzunseen"}}
    assert engine.search(q, size=10).collect() == []
    assert engine.count(q) == 0


def test_hits_join_keys(engine):
    hits = engine.hits({"match": {"text": "merge"}}, size=3)
    assert len(hits) == 3
    for h in hits:
        assert h["key"].startswith("https://")
        assert h["score"] > 0


def _ranked(eng, query, size):
    return [(r.doc_id, r.score) for r in
            eng.search(query, size=size).collect()]


def _assert_matches_oracle(got, want, label):
    assert [g[0] for g in got] == [w[0] for w in want], \
        f"{label}: doc rank mismatch\n got={got}\nwant={want}"
    if want:
        np.testing.assert_allclose(
            [g[1] for g in got], [w[1] for w in want],
            rtol=2e-6, atol=1e-7, err_msg=label)


@pytest.fixture(scope="module")
def many_block(spark, webtext, tmp_path_factory):
    """An n_buckets=40 index: every common term spans dozens of
    posting blocks, so each top-k decodes and merges scores across
    many blocks.  Returns (engine, oracle) over the same documents."""
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.layout import IndexConfig
    from rusticsearch_spark.oracle.engine import OracleIndex
    from rusticsearch_spark.query.engine import SearchEngine
    path = str(tmp_path_factory.mktemp("many_block") / "idx")
    build_index(spark, webtext, path,
                IndexConfig(key_col="url",
                            fields={"text": "standard", "lang": None},
                            n_buckets=40, tbuckets=2,
                            shuffle_partitions=4), jobs=1)
    eng = SearchEngine(spark, path)
    oracle = OracleIndex({"text": "standard", "lang": None})
    for r in sorted(eng.docs.select("doc_id", "text", "lang").collect(),
                    key=lambda r: r.doc_id):
        oracle.add(r.doc_id, {"text": r.text, "lang": r.lang})
    return eng, oracle


def test_wand_pruning_matches_full_eval(engine, oracle):
    """A single-term top-k is answer-preserving: the size-10 page
    equals the head of the full ranking and the oracle's top 10.
    (Every top-k runs one full-decode plan; no pruned variant
    exists, so the full ranking is the reference.)"""
    q = {"term": {"text": "table"}}
    top = _ranked(engine, q, 10)
    full = _ranked(engine, q, len(oracle.doc_ids))
    assert len(top) > 0
    assert top == full[:10]
    _assert_matches_oracle(top, oracle.search(engine.parse(q), k=10),
                           "term:table")


def test_wand_pruning_engages_on_many_blocks(many_block):
    """Single-term top-k over terms that span more than 32 posting
    blocks equals the head of the full ranking and the oracle."""
    eng, oracle = many_block
    many = 0
    for q in [{"term": {"text": "the"}}, {"term": {"text": "data"}}]:
        if eng._term_blocks("text", q["term"]["text"]).count() <= 32:
            continue   # term too rare in this corpus slice
        many += 1
        top = _ranked(eng, q, 7)
        full = _ranked(eng, q, len(oracle.doc_ids))
        assert len(top) > 0 and top == full[:7]
        _assert_matches_oracle(top, oracle.search(eng.parse(q), k=7),
                               str(q))
    assert many >= 1   # the many-block case actually ran


def test_fused_multiterm_pruning_matches_full_eval(many_block):
    """Fused match / multi_match top-k over many-block terms equals
    the head of the full ranking and the oracle (ids AND f32 scores)
    at a k below and above the page size."""
    eng, oracle = many_block
    queries = [
        {"match": {"text": "the data with for"}},
        {"match": {"text": {"query": "the data", "operator": "and"}}},
        {"multi_match": {"query": "the data", "fields": ["text", "lang"]}},
    ]
    fused = 0
    for q in queries:
        if eng._fusable(eng.parse(q).queries):
            fused += 1
        full = _ranked(eng, q, len(oracle.doc_ids))
        for size in (5, 11):
            top = _ranked(eng, q, size)
            assert top == full[:size], (q, size)
            _assert_matches_oracle(
                top, oracle.search(eng.parse(q), k=size), f"{q}@{size}")
    assert fused >= 2   # the fused decode path actually ran


def test_many_block_topk_matches_oracle(many_block):
    """Every rank-identity query on the many-block index: ranked ids
    and f32 scores equal the oracle's at k=5 and k=11."""
    eng, oracle = many_block
    assert eng._term_blocks("text", "the").count() > 32
    for name, query in QUERIES:
        for size in (5, 11):
            _assert_matches_oracle(
                _ranked(eng, query, size),
                oracle.search(eng.parse(query), k=size), f"{name}@{size}")


@contextlib.contextmanager
def _generic(engine):
    """The engine takes its generic recursive path (per-child frames
    and joins) instead of the fused term-tree evaluator."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(engine, "_term_tree", lambda q: None)
        yield


def test_nested_fused_combine_matches_generic(engine):
    """Two-level fused decode (multi_match: DisMax over per-field
    Disjunctions in ONE decode job) must equal the recursive
    per-group evaluation exactly — ids AND scores."""
    queries = [
        {"multi_match": {"query": "spark merge", "fields": ["text^2",
                                                            "lang"]}},
        {"multi_match": {"query": "table scan", "fields": ["text", "lang"],
                         "operator": "and"}},
    ]
    for q in queries:
        parsed = engine.parse(q)
        assert engine._term_tree(parsed) is not None, q
        a = [(r.doc_id, r.score) for r in
             engine.search(q, size=15).collect()]
        with _generic(engine):
            b = [(r.doc_id, r.score) for r in
                 engine.search(q, size=15).collect()]
        assert a == b and len(a) > 0, q


def test_fused_filter_matches_generic(engine):
    """Filter/Exclude over Term trees must produce the same ids and
    scores through the one-job fused decode (filter terms ride along
    as presence predicates) as through the generic
    docset-plus-semi-join path."""
    queries = [
        {"filtered": {"query": {"match": {"text": "spark query"}},
                      "filter": {"term": {"lang": "en"}}}},
        {"filtered": {"query": {"term": {"text": "spark"}},
                      "filter": {"terms": {"lang": ["en", "de"]}}}},
        {"filtered": {"query": {"match": {"text": {"query": "table scan",
                                                   "operator": "and"}}},
                      "filter": {"term": {"lang": "en"}}}},
        {"filtered": {"query": {"dis_max": {"queries": [
            {"term": {"text": "spark"}}, {"term": {"text": "merge"}}]}},
            "filter": {"term": {"lang": "en"}}}},
    ]
    for q in queries:
        parsed = engine.parse(q)
        assert engine._term_tree(parsed) is not None, q
        a = [(r.doc_id, r.score) for r in engine.search(q, size=20).collect()]
        with _generic(engine):
            b = [(r.doc_id, r.score) for r in
                 engine.search(q, size=20).collect()]
        assert a == b and len(a) > 0, q


def test_fused_exclude_matches_generic(engine):
    import rusticsearch_spark.query.dsl as dsl_mod
    parsed = engine.parse({"match": {"text": "spark query"}})
    excl = dsl_mod.Exclude(parsed, dsl_mod.Term("lang", "de"))
    assert engine._term_tree(excl) is not None
    a = sorted((r.doc_id, round(r.score, 6)) for r in
               engine._materialize(engine._score(excl)).collect())
    with _generic(engine):
        b = sorted((r.doc_id, round(r.score, 6)) for r in
                   engine._materialize(engine._score(excl)).collect())
    assert a == b and len(a) > 0


def test_fused_filter_declines_shared_leaf(engine):
    """A term appearing in both branches must fall back (the fused
    frame cannot hold one leaf twice)."""
    import rusticsearch_spark.query.dsl as dsl_mod
    t = dsl_mod.Term("text", "spark")
    assert engine._term_tree(dsl_mod.Filter(t, t)) is None
    assert engine._term_tree(dsl_mod.Exclude(t, t)) is None


def _term_tree_shapes():
    import rusticsearch_spark.query.dsl as dsl_mod
    or_match = {"match": {"text": "spark query"}}
    and_match = {"match": {"text": {"query": "table scan",
                                    "operator": "and"}}}
    return [
        ("mixed_dis_max", {"dis_max": {"queries": [
            and_match, {"match": {"text": "merge join"}}]}}),
        ("filtered_in_dis_max", {"dis_max": {"queries": [
            {"filtered": {"query": or_match,
                          "filter": {"term": {"lang": "en"}}}},
            {"term": {"text": "merge"}}]}}),
        ("exclude_of_combinators", lambda parse: dsl_mod.Exclude(
            parse(or_match), parse(and_match))),
        ("and_or_tree", {"and": [
            {"or": [or_match, {"term": {"lang": "en"}}]},
            {"or": [{"term": {"text": "data"}}, and_match]}]}),
    ]


@pytest.mark.parametrize("name,query", _term_tree_shapes(),
                         ids=[s[0] for s in _term_tree_shapes()])
def test_term_tree_shapes_match_generic_and_oracle(engine, oracle, name,
                                                    query):
    """Trees the fused evaluator handles beyond one combinator level —
    combinators of mixed modes, a Filter under a DisMax, an Exclude of
    combinators, three combinator levels — rank like the generic path
    and the oracle: the same ids, f32-equal scores."""
    q = query(engine.parse) if callable(query) else engine.parse(query)
    assert engine._term_tree(q) is not None, name

    def ranked(size=12):
        frame = engine._materialize(engine._score(q))
        return [(r.doc_id, r.score) for r in
                frame.orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(size).collect()]

    fused = ranked()
    with _generic(engine):
        generic = ranked()
    assert len(fused) > 0, name
    _assert_matches_oracle(fused, generic, f"{name}: fused vs generic")
    _assert_matches_oracle(fused, oracle.search(q, k=12), f"{name}: oracle")


_SELECTOR_TREES = [
    {"and": [{"wildcard": {"text": "s*"}}, _LANG_EN]},
    {"or": [{"fuzzy": {"text": "spak"}}, {"wildcard": {"text": "ta?le"}}]},
    {"not": {"or": [{"fuzzy": {"text": "merg"}},
                    {"exists": {"field": "nope"}}]}},
    {"and": [{"exists": {"field": "lang"}},
             {"not": {"wildcard": {"text": "*can"}}}]},
    {"filtered": {"query": {"fuzzy": {"text": "qury"}},
                  "filter": {"exists": {"field": "text"}}}},
]


@pytest.mark.parametrize("query", _SELECTOR_TREES,
                         ids=[f"tree{i}" for i in range(len(_SELECTOR_TREES))])
def test_selector_trees_count_equals_search(engine, oracle, index_dir,
                                            query):
    """Wildcard, fuzzy and exists leaves (outside the oracle) under
    and/or/not: the unscored count, the scored search and the
    driver-local searcher agree on the number of matches."""
    from rusticsearch_spark.query.local import LocalSearcher
    n = engine.count(query)
    assert n == len(engine.search(query, size=len(oracle.doc_ids))
                    .collect())
    assert n == LocalSearcher(index_dir).count(query)


@pytest.mark.parametrize("query", [{"and": []}, {"or": []},
                                   {"dis_max": {"queries": []}}],
                         ids=["and", "or", "dis_max"])
def test_empty_combinator_rejected_in_every_lane(engine, index_dir, query):
    from rusticsearch_spark.query.dsl import QueryParseError
    from rusticsearch_spark.query.local import LocalSearcher
    local = LocalSearcher(index_dir)
    for run in (engine.count, engine.search, local.count, local.search):
        with pytest.raises(QueryParseError):
            run(query)
