"""Nested OBJECT mappings → dotted flattened fields.

Closes the reference's own TODO
(/root/reference/src/document.rs:87-89 "Nested objects" never
implemented): ES object mappings recurse into dotted field names,
struct columns flatten at prepare time, and every downstream
path — build, search, stored read, _all — treats ``author.name`` as
an ordinary field.  The ES `nested` TYPE (independent array-element
matching) is explicitly rejected, not silently mis-handled.
"""

from __future__ import annotations

import pytest

from rusticsearch_spark.mapping import (MappingParseError, parse_mapping,
                                        prepare_docs)

MAPPING = {"properties": {
    "text": {"type": "string"},
    "author": {"properties": {
        "name": {"type": "string", "index": "not_analyzed",
                 "store": True},
        "bio": {"type": "string"},
        "verified": {"type": "boolean"},
        "followers": {"type": "integer"},
    }},
}}


def test_parse_nested_object_mapping():
    fields = parse_mapping(MAPPING)
    names = {f.name for f in fields}
    assert names == {"text", "author.name", "author.bio",
                     "author.verified", "author.followers"}
    by = {f.name: f for f in fields}
    assert by["author.name"].analyzer is None          # not_analyzed
    assert by["author.bio"].is_analyzed
    assert by["author.verified"].type == "boolean"
    assert by["author.followers"].type == "integer"
    assert by["author.name"].store


def test_nested_type_parse_and_errors():
    fields = parse_mapping({"properties": {
        "a": {"type": "nested", "properties": {"b": {}}}}})
    assert [f.name for f in fields] == ["a.b"]
    assert fields[0].nested_path == "a"
    assert not fields[0].include_in_all
    with pytest.raises(MappingParseError, match="needs 'properties'"):
        parse_mapping({"properties": {"a": {"type": "nested"}}})
    # nested-in-object parses since round 6 (multi-level support);
    # the path is the dotted location
    oa = parse_mapping({"properties": {"o": {"properties": {
        "a": {"type": "nested", "properties": {"b": {}}}}}}})
    assert oa[0].name == "o.a.b" and oa[0].nested_path == "o.a"
    with pytest.raises(MappingParseError, match="object type"):
        parse_mapping({"properties": {
            "a": {"type": "string", "properties": {"b": {}}}}})


@pytest.fixture(scope="module")
def nested_cluster(spark, tmp_path_factory):
    from pyspark.sql import functions as F
    from rusticsearch_spark.cluster import Cluster
    rows = [
        ("u1", "spark engine merge", ("alice", "loves fast queries",
                                      True, 120)),
        ("u2", "table scan merge", ("bob", "writes slow queries",
                                    False, 7)),
        ("u3", "hash join spark", ("alice", "ships spark jobs",
                                   True, 120)),
    ]
    df = spark.createDataFrame(
        rows, "url string, text string, author struct<"
              "name:string, bio:string, verified:boolean, "
              "followers:long>")
    c = Cluster(spark, str(tmp_path_factory.mktemp("nested") / "cl"))
    c.create_index("docs", MAPPING, key_col="url")
    c.bulk("docs", df, key_col="url", n_buckets=4, tbuckets=2,
           shuffle_partitions=4)
    return c


def test_search_on_nested_fields(nested_cluster):
    c = nested_cluster
    hits = c.search("docs", {"term": {"author.name": "alice"}}, size=10)
    assert {h["key"] for h in hits} == {"u1", "u3"}
    assert c.count("docs", {"term": {"author.verified": True}}) == 2
    assert c.count("docs", {"term": {"author.followers": 120}}) == 2
    # analyzed nested string field
    hits = c.search("docs", {"match": {"author.bio": "queries"}}, size=10)
    assert {h["key"] for h in hits} == {"u1", "u2"}
    # boolean combinators across nested and top-level fields
    got = c.search("docs", {"filtered": {
        "query": {"match": {"text": "merge"}},
        "filter": {"term": {"author.name": "alice"}}}}, size=10)
    assert [h["key"] for h in got] == ["u1"]


def test_nested_all_field_and_stored_read(nested_cluster):
    c = nested_cluster
    # _all includes nested string subfields (name + bio)
    assert c.count("docs", {"match": {"_all": "alice"}}) == 2
    doc = c.get_document("docs", "u2")
    assert doc["author.name"] == "bob"
    # stored-field retrieval through the `fields` hits parameter
    hits = c.search("docs", {"term": {"author.name": "bob"}},
                    size=5, fields=["author.name"])
    assert hits[0]["fields"]["author.name"] == ["bob"]


# --- ES nested TYPE (independent per-array-element matching) ---------

NESTED_MAPPING = {"properties": {
    "text": {"type": "string"},
    "comments": {"type": "nested", "properties": {
        "author": {"type": "string", "index": "not_analyzed"},
        "stars": {"type": "integer"},
    }},
}}


@pytest.fixture(scope="module")
def nested_type_cluster(spark, tmp_path_factory):
    from rusticsearch_spark.cluster import Cluster
    rows = [
        # u1: alice gave 5 — matches (author=alice AND stars=5)
        ("u1", "spark engine", [("alice", 5), ("bob", 1)]),
        # u2: cross-element trap — alice gave 1, bob gave 5: an
        # object mapping would false-match (alice AND 5)
        ("u2", "table scan", [("alice", 1), ("bob", 5)]),
        # u3: no comments at all
        ("u3", "hash join", []),
        ("u4", "sort merge", [("alice", 5)]),
    ]
    df = spark.createDataFrame(
        rows, "url string, text string, comments array<struct<"
              "author:string, stars:long>>")
    c = Cluster(spark, str(tmp_path_factory.mktemp("ntype") / "cl"))
    c.create_index("docs", NESTED_MAPPING, key_col="url")
    c.bulk("docs", df, key_col="url", n_buckets=4, tbuckets=2,
           shuffle_partitions=4)
    return c


def _ids(cluster, q, **kw):
    return {h["key"] for h in cluster.search("docs", q, **kw)}


def test_nested_type_no_cross_element_match(nested_type_cluster):
    """The semantics the type exists for: author=alice AND stars=5
    must match only docs where ONE comment has both."""
    q = {"nested": {"path": "comments", "query": {"and": [
        {"term": {"comments.author": "alice"}},
        {"term": {"comments.stars": 5}}]}}}
    assert _ids(nested_type_cluster, q) == {"u1", "u4"}
    eng = nested_type_cluster.engine("docs")
    assert eng.count(q) == 2
    # single-condition nested matches any element
    q1 = {"nested": {"path": "comments",
                     "query": {"term": {"comments.stars": 5}}}}
    assert _ids(nested_type_cluster, q1) == {"u1", "u2", "u4"}


def test_nested_type_universe_hides_children(nested_type_cluster):
    """match_all / count / negation see PARENT docs only, never the
    child rows the elements index as."""
    eng = nested_type_cluster.engine("docs")
    assert eng.count() == 4
    assert eng.count({"match_all": {}}) == 4
    assert _ids(nested_type_cluster, {"match_all": {}}, size=10) == \
        {"u1", "u2", "u3", "u4"}
    # not-nested: parents whose every comment misses the condition
    q = {"not": {"nested": {"path": "comments", "query":
                            {"term": {"comments.stars": 5}}}}}
    assert _ids(nested_type_cluster, q) == {"u3"}


def test_nested_score_modes(nested_type_cluster):
    eng = nested_type_cluster.engine("docs")
    q_inner = {"term": {"comments.author": "alice"}}
    rows = {m: {r.doc_id: r.score for r in eng.search(
        {"nested": {"path": "comments", "query": q_inner,
                    "score_mode": m}}, size=10).collect()}
        for m in ("avg", "sum", "max", "none")}
    ids = set(rows["avg"])
    assert set(rows["sum"]) == set(rows["max"]) == set(rows["none"]) == ids
    assert len(ids) == 3                     # u1, u2, u4
    # one matching child each → avg == sum == max; none == 0
    for d in ids:
        assert rows["avg"][d] == rows["sum"][d] == rows["max"][d] > 0
        assert rows["none"][d] == 0.0
    # parse errors
    from rusticsearch_spark.query import dsl
    with pytest.raises(dsl.QueryParseError, match="unknown nested path"):
        eng.parse({"nested": {"path": "zzz", "query": q_inner}})
    with pytest.raises(dsl.QueryParseError, match="score_mode"):
        eng.parse({"nested": {"path": "comments", "query": q_inner,
                              "score_mode": "median"}})


def test_nested_delete_cascades_to_children(spark, nested_type_cluster,
                                            tmp_path):
    """Deleting a parent also deletes its element child rows — a
    later nested query must not resurrect the parent through a
    surviving child."""
    import shutil

    from rusticsearch_spark.index.delete import delete_documents
    from rusticsearch_spark.query.engine import SearchEngine
    src = nested_type_cluster._dir("docs")
    path = str(tmp_path / "cascade")
    shutil.copytree(src, path)
    q = {"nested": {"path": "comments",
                    "query": {"term": {"comments.stars": 5}}}}
    before = SearchEngine(spark, path)
    assert {r.doc_id for r in before.search(q, size=10).collect()}
    n = delete_documents(spark, path, keys=["u1"])
    assert n == 3                      # parent + its two children
    eng = SearchEngine(spark, path)
    assert eng.count() == 3
    left = {h["key"] for h in eng.hits(q, size=10)}
    assert left == {"u2", "u4"}


NESTED_QUERY_BATTERY = [
    {"nested": {"path": "comments", "query": {"and": [
        {"term": {"comments.author": "alice"}},
        {"term": {"comments.stars": 5}}]}}},
    {"nested": {"path": "comments",
                "query": {"term": {"comments.stars": 5}}}},
    {"nested": {"path": "comments", "query": {"match_all": {}}}},
    {"nested": {"path": "comments",
                "query": {"not": {"term": {"comments.author": "bob"}}}}},
    {"not": {"nested": {"path": "comments",
                        "query": {"term": {"comments.stars": 5}}}}},
    {"or": [{"term": {"text": "spark"}},
            {"nested": {"path": "comments",
                        "query": {"term": {"comments.author": "bob"}}}}]},
    {"term": {"comments.author": "alice"}},   # flat on nested: nothing
    {"match_all": {}},
]


def test_nested_local_serving_matches_spark(spark, nested_type_cluster):
    """The driver-side LocalSearcher evaluates nested queries with
    the same child-row expansion + parent fold as the Spark engine —
    (doc_id, score) identical across the battery and all score
    modes, and child rows stay invisible to count/match_all."""
    from rusticsearch_spark.query.engine import SearchEngine
    from rusticsearch_spark.query.local import LocalSearcher
    idx = nested_type_cluster._dir("docs")
    seng = SearchEngine(spark, idx, mode="spark")
    ls = LocalSearcher(idx)
    for q in NESTED_QUERY_BATTERY:
        want = [(r.doc_id, r.score)
                for r in seng.search(q, size=10).collect()]
        got = ls.search(q, size=10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9, abs=1e-12), q
        assert ls.count(q) == seng.count(q), q
    for m in ("avg", "sum", "max", "none"):
        q = {"nested": {"path": "comments",
                        "query": {"term": {"comments.author": "alice"}},
                        "score_mode": m}}
        want = [(r.doc_id, r.score)
                for r in seng.search(q, size=10).collect()]
        got = [(d, pytest.approx(s, rel=1e-9, abs=1e-12))
               for d, s in ls.search(q, size=10)]
        assert [d for d, _ in got] == [d for d, _ in want], m
    assert ls.count() == 4
    # lazy mode: identical through decode-on-demand
    lz = LocalSearcher(idx, lazy=True)
    q = NESTED_QUERY_BATTERY[0]
    assert lz.search(q, size=10) == ls.search(q, size=10)


def test_nested_serving_modes(spark, nested_type_cluster, tmp_path):
    """local/auto/sharded all serve freshly-built nested indexes
    (children bucket with their parent, so every job's shard is
    parent-complete); a copy stamped with an older index format is
    refused in every mode — its children may shard away from their
    parents, and no reader keeps a path for it."""
    import json
    import shutil

    from rusticsearch_spark.index.layout import INDEX_FORMAT, IndexLayout
    from rusticsearch_spark.query.engine import SearchEngine
    from rusticsearch_spark.query.local import LocalSearcher
    idx = nested_type_cluster._dir("docs")
    eng = SearchEngine(spark, idx, mode="auto")
    assert eng.mode == "local"        # tiny artifact → driver tier
    q = {"nested": {"path": "comments", "query": {"and": [
        {"term": {"comments.author": "alice"}},
        {"term": {"comments.stars": 5}}]}}}
    want = {r.doc_id for r in
            SearchEngine(spark, idx, mode="spark").search(q, size=10)
            .collect()}
    assert {r.doc_id for r in eng.search(q, size=10).collect()} == want
    sh = SearchEngine(spark, idx, mode="sharded")
    assert {r.doc_id for r in sh.search(q, size=10).collect()} == want
    legacy = str(tmp_path / "legacy")
    shutil.copytree(idx, legacy)
    lay = IndexLayout(legacy)
    with open(lay.config_path) as f:
        raw = json.load(f)
    raw["index_format"] = INDEX_FORMAT - 1
    with open(lay.config_path, "w") as f:
        json.dump(raw, f)
    for mode in ("spark", "local", "sharded", "auto"):
        with pytest.raises(ValueError, match="reindex"):
            SearchEngine(spark, legacy, mode=mode)
    with pytest.raises(ValueError, match="reindex"):
        LocalSearcher(legacy, jobs=[0])


@pytest.fixture(scope="module")
def nested_multijob_index(spark, tmp_path_factory):
    """A 3-job nested-TYPE index: the shard unit for serving.  Parent
    keys hash across 6 buckets / 3 jobs; child rows must follow their
    parent's bucket (build.assign_doc_ids parent-keyed basis)."""
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.mapping import (mapping_to_config,
                                            parse_mapping, prepare_docs)
    rows = [(f"u{i}", f"doc {i} spark table scan merge join"[:40],
             [(a, s) for a, s in
              [("alice", 5), ("bob", 1), ("carol", 3),
               ("dave", 5), ("erin", 2)][:(i % 5) + (0 if i % 7 else 1)]])
            for i in range(1, 25)]
    df = spark.createDataFrame(
        rows, "url string, text string, comments array<struct<"
              "author:string, stars:long>>")
    fields = parse_mapping(NESTED_MAPPING)
    cfg = mapping_to_config(fields, key_col="url", n_buckets=6,
                            tbuckets=2, shuffle_partitions=4)
    path = str(tmp_path_factory.mktemp("nmulti") / "idx")
    build_index(spark, prepare_docs(df, fields, key_col="url"), path,
                cfg, jobs=3)
    return path


def test_nested_shards_are_parent_complete(nested_multijob_index):
    """Structural invariant behind sharded nested serving: every
    child row's parent lives in the SAME job's document shard."""
    import pyarrow.parquet as pq

    from rusticsearch_spark.index.layout import IndexLayout
    lay = IndexLayout(nested_multijob_index)
    jobs = lay.completed_jobs_local()
    assert len(jobs) == 3
    jobs_with_children = 0
    for j in jobs:
        t = pq.read_table(lay.job_dir("docs", j),
                          columns=["url", "_nested_parent"])
        keys = set(t.column("url").to_pylist())
        parents = {p for p in t.column("_nested_parent").to_pylist()
                   if p is not None}
        assert parents <= keys, f"job {j}: orphaned children"
        jobs_with_children += bool(parents)
    assert jobs_with_children >= 2     # children actually spread


def test_nested_sharded_matches_local_and_spark(spark,
                                                nested_multijob_index):
    """ShardedSearcher on a nested index: per-shard child→parent fold
    + global top-k merge == whole-index LocalSearcher == Spark
    engine, across the battery, score modes, counts, and lazy."""
    from rusticsearch_spark.query.engine import SearchEngine
    from rusticsearch_spark.query.local import (LocalSearcher,
                                                ShardedSearcher)
    idx = nested_multijob_index
    seng = SearchEngine(spark, idx, mode="spark")
    whole = LocalSearcher(idx)
    sharded = ShardedSearcher(idx)
    assert len(sharded.shards) == 3
    modes = [{"nested": {"path": "comments",
                         "query": {"term": {"comments.author": "alice"}},
                         "score_mode": m}}
             for m in ("avg", "sum", "max", "none")]
    for q in NESTED_QUERY_BATTERY + modes:
        want = [(r.doc_id, r.score)
                for r in seng.search(q, size=30).collect()]
        for got in (whole.search(q, size=30), sharded.search(q, size=30)):
            assert [d for d, _ in got] == [d for d, _ in want], q
            for (_, gs), (_, ws) in zip(got, want):
                assert gs == pytest.approx(ws, rel=1e-9, abs=1e-12), q
        assert whole.count(q) == sharded.count(q) == seng.count(q), q
    assert whole.count() == sharded.count() == seng.count() == 24
    # lazy sharded: identical through decode-on-demand
    lz = ShardedSearcher(idx, lazy=True)
    q = NESTED_QUERY_BATTERY[0]
    assert lz.search(q, size=30) == sharded.search(q, size=30)


def test_nested_auto_mode_picks_sharded(spark, nested_multijob_index,
                                        monkeypatch):
    """auto mode admits sharded for colocated nested indexes: whole
    index over the cutoff, every shard under it → sharded."""
    from rusticsearch_spark.query.engine import SearchEngine
    from rusticsearch_spark.query.local import ShardedSearcher
    probe = SearchEngine(spark, nested_multijob_index, mode="spark")
    per_job = probe._postings_bytes_per_job()
    cutoff = max(per_job.values()) + 1
    assert sum(per_job.values()) > cutoff
    monkeypatch.setattr(SearchEngine, "LOCAL_MAX_BYTES", cutoff)
    eng = SearchEngine(spark, nested_multijob_index, mode="auto")
    assert eng.mode == "sharded"
    assert isinstance(eng._local, ShardedSearcher)
    q = {"nested": {"path": "comments", "query": {"and": [
        {"term": {"comments.author": "alice"}},
        {"term": {"comments.stars": 5}}]}}}
    a = [(r.doc_id, round(r.score, 5)) for r in
         eng.search(q, size=30).collect()]
    b = [(r.doc_id, round(r.score, 5)) for r in
         probe.search(q, size=30).collect()]
    assert a == b and len(a) > 0


def test_streaming_upsert_nested_replaces_children(spark, tmp_path):
    """Upsert on a nested-type index: the new version's elements
    fully replace the old version's — including SHRINKING the array,
    the stale-child-row case that used to be refused.  All committed
    children of the upserted parent are delete-marked; the batch
    re-creates the survivors."""
    from rusticsearch_spark.mapping import (mapping_to_config,
                                            parse_mapping, prepare_docs)
    from rusticsearch_spark.query.engine import SearchEngine
    from rusticsearch_spark.streaming.ingest import StreamingIngester
    fields = parse_mapping(NESTED_MAPPING)
    cfg = mapping_to_config(fields, key_col="url", n_buckets=4,
                            tbuckets=2, shuffle_partitions=4)
    schema = ("url string, text string, comments array<struct<"
              "author:string, stars:long>>")
    df0 = spark.createDataFrame(
        [("u1", "spark engine", [("alice", 5), ("bob", 1)]),
         ("u2", "table scan", [("carol", 3)])], schema)
    path = str(tmp_path / "nested_upsert")
    ing = StreamingIngester(spark, path, cfg, upsert=True)
    ing.process_batch(prepare_docs(df0, fields, key_col="url"), 0)
    q_bob = {"nested": {"path": "comments",
                        "query": {"term": {"comments.author": "bob"}}}}
    q_alice = {"nested": {"path": "comments", "query": {"and": [
        {"term": {"comments.author": "alice"}},
        {"term": {"comments.stars": 5}}]}}}
    eng = SearchEngine(spark, path)
    assert eng.count() == 2
    assert eng.count(q_bob) == 1 and eng.count(q_alice) == 1

    # upsert u1 with a SHRUNK array: bob's comment gone, alice now 2
    df1 = spark.createDataFrame(
        [("u1", "spark engine updated", [("alice", 2)])], schema)
    ing.process_batch(prepare_docs(df1, fields, key_col="url"), 1)
    eng = SearchEngine(spark, path)
    assert eng.count() == 2              # replaced, not duplicated
    assert eng.count(q_bob) == 0         # stale child row is dead
    assert eng.count(q_alice) == 0       # alice's old 5-star is dead
    q_alice2 = {"nested": {"path": "comments", "query": {"and": [
        {"term": {"comments.author": "alice"}},
        {"term": {"comments.stars": 2}}]}}}
    assert {h["key"] for h in eng.hits(q_alice2, size=10)} == {"u1"}
    # untouched parent unaffected
    q_carol = {"nested": {"path": "comments",
                          "query": {"term": {"comments.author": "carol"}}}}
    assert {h["key"] for h in eng.hits(q_carol, size=10)} == {"u2"}
    # local serving agrees after the upsert
    from rusticsearch_spark.query.local import LocalSearcher
    ls = LocalSearcher(path)
    assert ls.count() == 2
    assert ls.count(q_bob) == 0
    assert [d for d, _ in ls.search(q_alice2, size=10)] == \
        [r.doc_id for r in eng.search(q_alice2, size=10).collect()]


def test_prepare_docs_drops_root_struct(spark):
    df = spark.createDataFrame(
        [("u", "t", ("n", "b", True, 1))],
        "url string, text string, author struct<name:string,bio:string,"
        "verified:boolean, followers:long>")
    out = prepare_docs(df, parse_mapping(MAPPING))
    assert "author" not in out.columns
    assert "author.name" in out.columns and "author.bio" in out.columns
    row = out.collect()[0]
    assert row["author.verified"] == "true"
    assert row["author.followers"] == "1"


def test_illegal_field_names_rejected():
    with pytest.raises(MappingParseError, match="'[.]'"):
        parse_mapping({"properties": {"a.b": {"type": "string"}}})
    with pytest.raises(MappingParseError, match="illegal"):
        parse_mapping({"properties": {"a`b": {"type": "string"}}})


def test_nested_inner_match_all_and_negation(nested_type_cluster):
    """The inner query's match_all / root negation must range over
    THIS path's child rows, not the parent universe: nested+match_all
    = "has at least one element"; nested+not-term = "has an element
    missing the condition"."""
    eng = nested_type_cluster.engine("docs")
    q = {"nested": {"path": "comments", "query": {"match_all": {}}}}
    assert _ids(nested_type_cluster, q) == {"u1", "u2", "u4"}
    assert eng.count(q) == 3
    qn = {"nested": {"path": "comments", "query":
          {"not": {"term": {"comments.author": "alice"}}}}}
    # u1 and u2 each have a bob element; u4's only element is alice
    assert _ids(nested_type_cluster, qn) == {"u1", "u2"}
    assert eng.count(qn) == 2


def test_flat_query_on_nested_field_matches_nothing(nested_type_cluster):
    """ES semantics: a non-nested query on a nested subfield matches
    no document — and internal child doc_ids must never surface."""
    eng = nested_type_cluster.engine("docs")
    assert _ids(nested_type_cluster,
                {"term": {"comments.author": "alice"}}) == set()
    assert eng.count({"term": {"comments.author": "alice"}}) == 0
    assert eng.search({"term": {"comments.stars": 5}},
                      size=10).count() == 0


def test_nested_delete_by_doc_id_cascades(spark, nested_type_cluster,
                                          tmp_path):
    """delete_documents(doc_ids=[parent]) must cascade to the
    parent's element child rows exactly like the keys= path."""
    import shutil

    from pyspark.sql import functions as F

    from rusticsearch_spark.index.delete import delete_documents
    from rusticsearch_spark.query.engine import SearchEngine
    src = nested_type_cluster._dir("docs")
    path = str(tmp_path / "cascade_ids")
    shutil.copytree(src, path)
    eng = SearchEngine(spark, path)
    pid = eng.docs.where((F.col("url") == "u1")
                         & F.col("_nested_parent").isNull()) \
        .select("doc_id").collect()[0][0]
    n = delete_documents(spark, path, doc_ids=[int(pid)])
    assert n == 3                      # parent + its two children
    eng2 = SearchEngine(spark, path)
    assert eng2.count() == 3
    q = {"nested": {"path": "comments",
                    "query": {"term": {"comments.stars": 5}}}}
    assert {h["key"] for h in eng2.hits(q, size=10)} == {"u2", "u4"}
