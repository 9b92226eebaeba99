"""The executed plan of each Spark-lane benchmark query, pinned.

Jobs, exchanges and Python stages per query do not depend on the
host, and each one is a fixed cost on every search.  For the seven
query shapes of ``bench_extra.BENCH_QUERIES`` (``count_all`` runs no
plan) and a mixed-mode ``dis_max``, one ``search().collect()`` should
run:

* one Spark job — two for ``not``, whose excluded term docset is
  broadcast by a job of its own;
* no ``Exchange`` for a single ``term`` (decode, then the top-k) and
  one otherwise: the ``groupBy(doc_id)`` that folds every decoded
  term, or the broadcast of ``not``'s docset;
* one ``MapInArrow``: every term of the query decodes in one Python
  stage, whatever the shape of the tree over them.

One ``count()`` of each of those shapes, and of the generic trees in
``COUNT_SHAPES``, runs the jobs pinned in ``COUNT_JOBS``: a count is
the scored plan with scoring elided, so it never costs more jobs than
the search of the same tree.

Counted with a job group and ``statusTracker``; adaptive execution is
off while counting, as in ``bench.py`` and the benchmark (with it on,
every shuffle stage runs as a job of its own).
"""

from __future__ import annotations

import itertools

import pytest

from bench_extra import BENCH_QUERIES

_GROUPS = itertools.count()

_MIXED_DIS_MAX = {"dis_max": {"queries": [
    {"match": {"text": {"query": "table scan", "operator": "and"}}},
    {"match": {"text": "spark merge"}}]}}

SHAPES = [(name, q) for name, q in BENCH_QUERIES if q is not None] + [
    ("mixed_dis_max", _MIXED_DIS_MAX)]

#: (jobs, Exchange nodes, MapInArrow nodes) per search().collect()
EXPECTED = {"term": (1, 0, 1), "not": (2, 1, 1)}

_PREFIX = {"prefix": {"text": "sc"}}
_TERM = {"term": {"lang": "en"}}

#: every bench shape, then generic trees (a non-Term leaf)
COUNT_SHAPES = [(name, q) for name, q in BENCH_QUERIES] + [
    ("and_prefix_term", {"and": [_PREFIX, _TERM]}),
    ("or_prefix_term", {"or": [_PREFIX, _TERM]}),
    ("filtered_prefix", {"filtered": {"query": {"term": {"text": "merge"}},
                                      "filter": _PREFIX}}),
    ("not_or", {"not": {"or": [_PREFIX, _TERM]}}),
    ("constant_score_prefix", {"constant_score": {"filter": _PREFIX}}),
    ("or_match_all_term", {"or": [{"match_all": {}}, _TERM]}),
    ("dis_max_match_all_prefix", {"dis_max": {"queries": [
        {"match_all": {}}, _PREFIX]}}),
    ("not_match_all", {"not": {"match_all": {}}}),
]

#: Spark jobs of one count(); 1 where a shape is not listed.  Two
#: where a filter branch is broadcast by a job of its own (a semi or
#: anti join on a non-fused tree); none where the dictionary, the
#: lineage or a constant fold answers.
COUNT_JOBS = {"term": 0, "count_all": 0, "not": 2,
              "filtered_prefix": 2, "not_or": 2,
              "or_match_all_term": 0, "dis_max_match_all_prefix": 0,
              "not_match_all": 0}


def _jobs_of(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs, adaptive execution off."""
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    group = f"search_plan_shape_{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _node_names(plan):
    names = [plan.nodeName()]
    kids = plan.children()
    for i in range(kids.size()):
        names += _node_names(kids.apply(i))
    return names


@pytest.fixture(scope="module")
def plan_shapes(spark, engine):
    """name → (jobs, Exchange nodes, MapInArrow nodes) of one
    ``engine.search(q, size=10).collect()``."""
    out = {}
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, q in SHAPES:
            frame = engine.search(q, size=10)
            names = _node_names(frame._jdf.queryExecution().executedPlan())
            out[name] = (_jobs_of(spark, frame.collect),
                         sum(n.endswith("Exchange") for n in names),
                         names.count("MapInArrow"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    return out


@pytest.mark.parametrize("name", [n for n, _ in SHAPES])
def test_search_plan_shape(plan_shapes, name):
    assert plan_shapes[name] == EXPECTED.get(name, (1, 1, 1))


@pytest.mark.parametrize("name,query", COUNT_SHAPES,
                         ids=[n for n, _ in COUNT_SHAPES])
def test_count_jobs(spark, engine, name, query):
    assert _jobs_of(spark, lambda: engine.count(query)) \
        == COUNT_JOBS.get(name, 1)
