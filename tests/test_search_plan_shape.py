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
    sc = spark.sparkContext
    out = {}
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, q in SHAPES:
            frame = engine.search(q, size=10)
            names = _node_names(frame._jdf.queryExecution().executedPlan())
            group = f"search_plan_shape_{next(_GROUPS)}"
            sc.setJobGroup(group, group)
            try:
                frame.collect()
            finally:
                sc.setJobGroup(None, None)
            out[name] = (len(sc.statusTracker().getJobIdsForGroup(group)),
                         sum(n.endswith("Exchange") for n in names),
                         names.count("MapInArrow"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    return out


@pytest.mark.parametrize("name", [n for n, _ in SHAPES])
def test_search_plan_shape(plan_shapes, name):
    assert plan_shapes[name] == EXPECTED.get(name, (1, 1, 1))
