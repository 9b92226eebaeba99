"""Query DSL parser goldens, ported from the reference's parser tests
(/root/reference/src/query_parser/*.rs test tails, e.g.
match_query.rs:129-394, term_query.rs, prefix_query.rs,
multi_match_query.rs)."""

import pytest

from rusticsearch_spark.query import dsl
from rusticsearch_spark.query.dsl import (
    All, Conjunction, Disjunction, DisjunctionMax, Exclude, Filter,
    NoneQuery, ParseContext, Prefix, QueryParseError, Term, TermScorer,
    parse,
)

CTX = ParseContext(fields={"text": "standard", "lang": None})


def test_match_single_term():
    q = parse({"match": {"text": "hello"}}, CTX)
    assert q == Term("text", "hello")


def test_match_multi_or():
    q = parse({"match": {"text": "Hello World"}}, CTX)
    assert q == Disjunction((Term("text", "hello"), Term("text", "world")))


def test_match_operator_and():
    q = parse({"match": {"text": {"query": "hello world",
                                  "operator": "and"}}}, CTX)
    assert q == Conjunction((Term("text", "hello"), Term("text", "world")))


def test_match_boost_pushdown():
    q = parse({"match": {"text": {"query": "hello world",
                                  "boost": 2.0}}}, CTX)
    assert isinstance(q, Disjunction)
    assert all(c.scorer.boost == 2.0 for c in q.queries)


def test_match_analyzes_with_field_analyzer():
    # standard analyzer: lowercase + asciifold
    q = parse({"match": {"text": "Crème"}}, CTX)
    assert q == Term("text", "creme")


def test_match_unanalyzed_field_raw_term():
    # unanalyzed field: raw string as single term (match_query.rs:41-43)
    q = parse({"match": {"lang": "EN uk"}}, CTX)
    assert q == Term("lang", "EN uk")


def test_match_unknown_field():
    with pytest.raises(QueryParseError):
        parse({"match": {"nope": "x"}}, CTX)


def test_match_bad_operator():
    with pytest.raises(QueryParseError):
        parse({"match": {"text": {"query": "x", "operator": "xor"}}}, CTX)


def test_multi_match_dis_max_with_field_boost():
    q = parse({"multi_match": {"query": "hello",
                               "fields": ["text^2", "lang"]}}, CTX)
    assert q == DisjunctionMax((
        Term("text", "hello", TermScorer(boost=2.0)),
        Term("lang", "hello"),
    ))


def test_multi_match_requires_fields():
    with pytest.raises(QueryParseError):
        parse({"multi_match": {"query": "hello"}}, CTX)


def test_match_all_boost():
    assert parse({"match_all": {"boost": 3.0}}, CTX) == All(3.0)
    assert parse({"match_all": {}}, CTX) == All(1.0)


def test_match_none():
    assert parse({"match_none": {}}, CTX) == NoneQuery()


def test_term_exact_unanalyzed():
    # term is NOT analyzed even on analyzed fields (term_query.rs)
    assert parse({"term": {"text": "Hello"}}, CTX) == Term("text", "Hello")


def test_term_value_boost():
    q = parse({"term": {"text": {"value": "x", "boost": 4.0}}}, CTX)
    assert q == Term("text", "x", TermScorer(boost=4.0))


def test_term_stringifies_scalars():
    assert parse({"term": {"lang": True}}, CTX) == Term("lang", "true")
    assert parse({"term": {"lang": 7}}, CTX) == Term("lang", "7")


def test_terms_and_in_alias():
    expect = Disjunction((Term("lang", "en"), Term("lang", "fr")))
    assert parse({"terms": {"lang": ["en", "fr"]}}, CTX) == expect
    assert parse({"in": {"lang": ["en", "fr"]}}, CTX) == expect


def test_prefix_value_and_prefix_keys():
    assert parse({"prefix": {"text": "he"}}, CTX) == Prefix("text", "he")
    assert parse({"prefix": {"text": {"value": "he"}}}, CTX) == \
        Prefix("text", "he")
    assert parse({"prefix": {"text": {"prefix": "he", "boost": 2.0}}},
                 CTX) == Prefix("text", "he", TermScorer(boost=2.0))


def test_and_or_lists():
    a = parse({"and": [{"term": {"lang": "en"}},
                       {"match": {"text": "hello"}}]}, CTX)
    assert a == Conjunction((Term("lang", "en"), Term("text", "hello")))
    o = parse({"or": [{"term": {"lang": "en"}},
                      {"term": {"lang": "fr"}}]}, CTX)
    assert o == Disjunction((Term("lang", "en"), Term("lang", "fr")))


def test_not_is_exclude_all():
    q = parse({"not": {"term": {"lang": "en"}}}, CTX)
    assert q == Exclude(All(), Term("lang", "en"))


def test_filtered_defaults_to_match_all():
    q = parse({"filtered": {"filter": {"term": {"lang": "en"}}}}, CTX)
    assert q == Filter(All(), Term("lang", "en"))


def test_filtered_with_query():
    q = parse({"filtered": {"query": {"match": {"text": "hello"}},
                            "filter": {"term": {"lang": "en"}}}}, CTX)
    assert q == Filter(Term("text", "hello"), Term("lang", "en"))


def test_constant_score():
    q = parse({"constant_score": {"filter": {"term": {"lang": "en"}},
                                  "boost": 5.0}}, CTX)
    assert q == Filter(All(5.0), Term("lang", "en"))


def test_unknown_query_type():
    with pytest.raises(QueryParseError):
        parse({"gibberish": {}}, CTX)


def test_must_have_one_key():
    with pytest.raises(QueryParseError):
        parse({}, CTX)
    with pytest.raises(QueryParseError):
        parse({"match": {"text": "a"}, "term": {"lang": "b"}}, CTX)


def test_boost_noop_shortcircuit():
    q = Term("text", "x")
    assert dsl.boost(q, 1.0) is q


def test_boost_recursive_multiply():
    q = Disjunction((Term("text", "x", TermScorer(boost=2.0)), All(3.0)))
    b = dsl.boost(q, 2.0)
    assert b == Disjunction((Term("text", "x", TermScorer(boost=4.0)),
                             All(6.0)))


@pytest.mark.parametrize("query", [{"and": []}, {"or": []},
                                   {"dis_max": {"queries": []}}],
                         ids=["and", "or", "dis_max"])
def test_empty_combinator_rejected(query):
    # an empty combinator has no answer every lane agrees on (an
    # average over zero children); an empty ``terms`` value list is
    # no combinator and still parses
    with pytest.raises(QueryParseError):
        parse(query, CTX)
    assert parse({"terms": {"lang": []}}, CTX) == Disjunction(())
