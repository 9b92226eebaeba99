"""The executed plan of each Spark-lane benchmark query, pinned.

Jobs, exchanges, Python stages and tasks per query do not depend on
the host, and each one is a fixed cost on every search.  For the
seven query shapes of ``bench_extra.BENCH_QUERIES`` (``count_all``
runs no plan) and a mixed-mode ``dis_max``, one
``search().collect()`` should run:

* one Spark job — two for ``not``, whose excluded term docset is
  broadcast by a job of its own;
* no ``Exchange``: a decode over fewer postings than
  ``SearchEngine.POSTINGS_PER_DECODE_TASK`` is coalesced to one
  partition, so the ``groupBy(doc_id)`` that folds every decoded
  term needs no shuffle — except the broadcast of ``not``'s docset;
* one ``MapInArrow``: every term of the query decodes in one Python
  stage, whatever the shape of the tree over them;
* one decode task: the whole query's postings in one Python task.

With that constant at one posting, every decode keeps the scan's own
split: several tasks, the ``groupBy``'s Exchange is back, and top-k
and counts equal the one-task plan's.

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

#: (jobs, Exchange nodes, MapInArrow nodes) per search().collect();
#: (1, 0, 1) where a shape is not listed
EXPECTED = {"not": (2, 1, 1)}
#: the same with the decode split over several tasks; (1, 1, 1) where
#: a shape is not listed: the groupBy(doc_id) shuffles again
SPLIT_EXPECTED = {"term": (1, 0, 1), "not": (2, 1, 1)}

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


def _tasks_of(spark, fn):
    """Tasks of each Spark job that ``fn()`` runs, in job order,
    adaptive execution off."""
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
    tracker = sc.statusTracker()
    return [sum(tracker.getStageInfo(st).numTasks
                for st in tracker.getJobInfo(j).stageIds)
            for j in sorted(tracker.getJobIdsForGroup(group))]


def _jobs_of(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs, adaptive execution off."""
    return len(_tasks_of(spark, fn))


def _node_names(plan):
    names = [plan.nodeName()]
    kids = plan.children()
    for i in range(kids.size()):
        names += _node_names(kids.apply(i))
    return names


def _shape(spark, engine, query):
    """(jobs, Exchange nodes, MapInArrow nodes, tasks of the decode
    job, top-10 rows, count) of ``query``.  The decode job is the
    first: ``not`` broadcasts its decoded docset before the scan of
    the universe that uses it."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        frame = engine.search(query, size=10)
        names = _node_names(frame._jdf.queryExecution().executedPlan())
        rows = []
        tasks = _tasks_of(spark, lambda: rows.extend(frame.collect()))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    return (len(tasks), sum(n.endswith("Exchange") for n in names),
            names.count("MapInArrow"), tasks[0], rows,
            engine.count(query))


@pytest.fixture(scope="module")
def plan_shapes(spark, engine):
    """name → ``_shape`` of every shape, with the default decode
    sizing."""
    return {name: _shape(spark, engine, q) for name, q in SHAPES}


@pytest.mark.parametrize("name", [n for n, _ in SHAPES])
def test_search_plan_shape(plan_shapes, name):
    assert plan_shapes[name][:3] == EXPECTED.get(name, (1, 0, 1))


@pytest.mark.parametrize("name", [n for n, _ in SHAPES])
def test_search_decodes_in_one_task(plan_shapes, name):
    assert plan_shapes[name][3] == 1


@pytest.mark.parametrize("name,query", SHAPES, ids=[n for n, _ in SHAPES])
def test_split_decode_matches_one_task(spark, engine, plan_shapes,
                                       monkeypatch, name, query):
    """One posting per task: the decode keeps the scan's partitions,
    a fused tree's groupBy shuffles again, and the results do not
    change."""
    from rusticsearch_spark.query.engine import SearchEngine
    monkeypatch.setattr(SearchEngine, "POSTINGS_PER_DECODE_TASK", 1)
    jobs, exchanges, pythons, tasks, rows, count = _shape(spark, engine,
                                                          query)
    assert tasks > 1
    assert (jobs, exchanges, pythons) == SPLIT_EXPECTED.get(name, (1, 1, 1))
    assert (rows, count) == plan_shapes[name][4:]


@pytest.mark.parametrize("name,query", COUNT_SHAPES,
                         ids=[n for n, _ in COUNT_SHAPES])
def test_count_jobs(spark, engine, name, query):
    assert _jobs_of(spark, lambda: engine.count(query)) \
        == COUNT_JOBS.get(name, 1)
