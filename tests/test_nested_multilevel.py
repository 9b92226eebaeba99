"""Multi-level ES nested mappings: nested-in-nested and
nested-in-object.

The reference never implemented nested at all
(/root/reference/src/document.rs:87-89 TODO); rounds 5-6 added the
single-level type, and this battery pins the recursive
generalization: every nested level's elements index as child rows
(key "<parent>#<path>#<pos>", `_nested_parent` = immediate parent,
`_nested_root` = root document), a `nested` query folds ALL its
path's descendants to the ENCLOSING evaluation level with one
score_mode application (ES block-join semantics), and root deletes /
upserts cascade through every level via `_nested_root`.
"""

from __future__ import annotations

import pytest

from rusticsearch_spark.mapping import (MappingParseError,
                                        mapping_to_config, parse_mapping,
                                        prepare_docs)

DEEP_MAPPING = {"properties": {
    "title": {"type": "string"},
    "posts": {"type": "nested", "properties": {
        "topic": {"type": "string", "index": "not_analyzed"},
        "comments": {"type": "nested", "properties": {
            "author": {"type": "string", "index": "not_analyzed"},
            "stars": {"type": "integer"},
        }},
    }},
    "tags": {"type": "nested", "properties": {
        "t": {"type": "string", "index": "not_analyzed"},
    }},
}}

DEEP_SCHEMA = ("url string, title string, posts array<struct<"
               "topic:string, comments:array<struct<"
               "author:string, stars:long>>>>, "
               "tags array<struct<t:string>>")

DEEP_ROWS = [
    # d1: (topic=spark AND a 5-star alice comment) in the SAME post
    ("d1", "spark engine", [
        ("spark", [("alice", 5), ("bob", 1)]),
        ("duck", [("alice", 1)])], [("hot",)]),
    # d2: cross-POST trap — topic=spark and (alice,5) in DIFFERENT
    # posts; (alice AND 5) still co-occur inside one comment
    ("d2", "table scan", [
        ("spark", [("alice", 1)]),
        ("duck", [("alice", 5)])], []),
    # d3: cross-COMMENT trap at depth 2 — alice and 5 stars exist
    # only in different comments of the same post
    ("d3", "hash join", [
        ("spark", [("bob", 5), ("alice", 1)])], [("cold",)]),
    # d4: no posts at all
    ("d4", "sort merge", [], [("hot",)]),
    # d5: a post with zero comments
    ("d5", "broadcast join", [("duck", [])], []),
    # d6: two matching comments in two different posts (fold-width
    # check: root-level avg ranges over BOTH descendants)
    ("d6", "shuffle write", [
        ("x", [("carol", 2)]),
        ("y", [("carol", 3)])], []),
]


def test_parse_multilevel_chains():
    fields = parse_mapping(DEEP_MAPPING)
    by = {f.name: f for f in fields}
    assert by["posts.topic"].nested_path == "posts"
    assert by["posts.topic"].nested_chain == ("posts",)
    assert by["posts.comments.author"].nested_path == "posts.comments"
    assert by["posts.comments.author"].nested_chain == \
        ("posts", "posts.comments")
    assert by["tags.t"].nested_chain == ("tags",)
    assert not by["posts.comments.author"].include_in_all
    cfg = mapping_to_config(fields, key_col="url")
    assert cfg.nested_paths == ["posts", "posts.comments", "tags"]
    assert "_nested_root" in cfg.stored


def test_parse_intermediate_level_without_direct_fields():
    """{"wrap": nested {"inner": nested {...}}} — the intermediate
    level declares no direct subfield but must still register as a
    nested path (its rows anchor the child→parent chain)."""
    fields = parse_mapping({"properties": {
        "wrap": {"type": "nested", "properties": {
            "inner": {"type": "nested", "properties": {
                "v": {"type": "string", "index": "not_analyzed"}}}}}}})
    assert [f.name for f in fields] == ["wrap.inner.v"]
    assert fields[0].nested_chain == ("wrap", "wrap.inner")
    cfg = mapping_to_config(fields, key_col="url")
    assert cfg.nested_paths == ["wrap", "wrap.inner"]


def test_parse_nested_in_object():
    """Nested under an object mapping: path is the dotted location."""
    fields = parse_mapping({"properties": {
        "meta": {"properties": {
            "src": {"type": "string"},
            "labels": {"type": "nested", "properties": {
                "l": {"type": "string", "index": "not_analyzed"}}}}}}})
    by = {f.name: f for f in fields}
    assert by["meta.labels.l"].nested_path == "meta.labels"
    assert by["meta.labels.l"].nested_chain == ("meta.labels",)
    assert by["meta.src"].nested_path is None


def test_prepare_docs_multilevel_rows(spark):
    fields = parse_mapping(DEEP_MAPPING)
    df = spark.createDataFrame(DEEP_ROWS, DEEP_SCHEMA)
    out = prepare_docs(df, fields, key_col="url").collect()
    rows = {r["url"]: r for r in out}
    # d1: 1 root + 2 posts + 3 comments + 1 tag
    d1 = [r for r in out if r["url"] == "d1"
          or (r["_nested_root"] == "d1")]
    assert len(d1) == 7
    p0 = rows["d1#posts#0"]
    assert p0["_nested_parent"] == "d1" and p0["_nested_root"] == "d1"
    assert p0["posts.topic"] == "spark"
    c0 = rows["d1#posts#0#posts.comments#0"]
    assert c0["_nested_parent"] == "d1#posts#0"
    assert c0["_nested_root"] == "d1"
    assert c0["posts.comments.author"] == "alice"
    assert c0["posts.comments.stars"] == "5"      # stringified term
    assert rows["d1"]["_nested_parent"] is None
    assert rows["d1"]["_nested_root"] is None
    # tags expand alongside (sibling top-level nested path)
    assert rows["d1#tags#0"]["tags.t"] == "hot"
    # d5's empty comments array yields a post row and no comment rows
    assert "d5#posts#0" in rows
    assert not any(k.startswith("d5#posts#0#") for k in rows)


@pytest.fixture(scope="module")
def deep_cluster(spark, tmp_path_factory):
    from rusticsearch_spark.cluster import Cluster
    df = spark.createDataFrame(DEEP_ROWS, DEEP_SCHEMA)
    c = Cluster(spark, str(tmp_path_factory.mktemp("deep") / "cl"))
    c.create_index("docs", DEEP_MAPPING, key_col="url")
    c.bulk("docs", df, key_col="url", n_buckets=4, tbuckets=2,
           shuffle_partitions=4, jobs=2)
    return c


def _ids(cluster, q, **kw):
    return {h["key"] for h in cluster.search("docs", q, size=20, **kw)}


Q_DEEP_ROOT = {"nested": {"path": "posts.comments", "query": {"and": [
    {"term": {"posts.comments.author": "alice"}},
    {"term": {"posts.comments.stars": 5}}]}}}

Q_TWO_LEVEL = {"nested": {"path": "posts", "query": {"and": [
    {"term": {"posts.topic": "spark"}},
    {"nested": {"path": "posts.comments", "query": {"and": [
        {"term": {"posts.comments.author": "alice"}},
        {"term": {"posts.comments.stars": 5}}]}}}]}}}


def test_deep_nested_semantics(deep_cluster):
    """The semantics multi-level nesting exists for."""
    # depth-2 query from root: (alice AND 5) inside ONE comment,
    # any post — d3's cross-comment split must not match
    assert _ids(deep_cluster, Q_DEEP_ROOT) == {"d1", "d2"}
    # two-level query: the matching comment must live in a post
    # whose topic is spark — d2's cross-post split must not match
    assert _ids(deep_cluster, Q_TWO_LEVEL) == {"d1"}
    # single-level still works alongside
    assert _ids(deep_cluster, {"nested": {
        "path": "posts", "query":
        {"term": {"posts.topic": "duck"}}}}) == {"d1", "d2", "d5"}
    assert _ids(deep_cluster, {"nested": {
        "path": "tags", "query":
        {"term": {"tags.t": "hot"}}}}) == {"d1", "d4"}
    # inner match_all ranges over the path's rows at every depth
    assert _ids(deep_cluster, {"nested": {
        "path": "posts", "query": {"match_all": {}}}}) == \
        {"d1", "d2", "d3", "d5", "d6"}
    assert _ids(deep_cluster, {"nested": {
        "path": "posts.comments", "query": {"match_all": {}}}}) == \
        {"d1", "d2", "d3", "d6"}
    # inner negation: a post whose topic is NOT spark
    assert _ids(deep_cluster, {"nested": {
        "path": "posts", "query":
        {"not": {"term": {"posts.topic": "spark"}}}}}) == \
        {"d1", "d2", "d5", "d6"}


def test_deep_universe_and_counts(deep_cluster):
    eng = deep_cluster.engine("docs")
    assert eng.count() == 6                      # roots only
    assert eng.count({"match_all": {}}) == 6
    assert eng.count(Q_DEEP_ROOT) == 2
    assert eng.count(Q_TWO_LEVEL) == 1
    # flat queries on nested subfields match nothing at any depth
    assert eng.count({"term": {"posts.comments.author": "alice"}}) == 0
    assert eng.count({"term": {"posts.topic": "spark"}}) == 0
    # not-nested over the full battery of levels
    assert _ids(deep_cluster, {"not": {"nested": {
        "path": "posts.comments", "query":
        {"term": {"posts.comments.author": "alice"}}}}}) == \
        {"d4", "d5", "d6"}


def test_deep_ancestry_validation(deep_cluster):
    """A nested query inside another nested query must target a
    DESCENDANT path of the enclosing one."""
    from rusticsearch_spark.query import dsl
    eng = deep_cluster.engine("docs")
    bad = {"nested": {"path": "posts", "query": {"nested": {
        "path": "tags", "query": {"term": {"tags.t": "hot"}}}}}}
    with pytest.raises(dsl.QueryParseError, match="descendant"):
        eng.search(bad, size=5).collect()
    with pytest.raises(dsl.QueryParseError, match="unknown nested"):
        eng.parse({"nested": {"path": "zzz",
                              "query": {"match_all": {}}}})


DEEP_BATTERY = [
    Q_DEEP_ROOT,
    Q_TWO_LEVEL,
    {"nested": {"path": "posts", "query": {"match_all": {}}}},
    {"nested": {"path": "posts.comments", "query": {"match_all": {}}}},
    {"nested": {"path": "posts.comments", "query":
                {"term": {"posts.comments.author": "carol"}}}},
    {"nested": {"path": "posts", "query":
                {"not": {"term": {"posts.topic": "spark"}}}}},
    {"not": {"nested": {"path": "posts.comments", "query":
             {"term": {"posts.comments.author": "alice"}}}}},
    {"or": [{"term": {"title": "spark"}},
            {"nested": {"path": "tags", "query":
                        {"term": {"tags.t": "hot"}}}}]},
    {"match_all": {}},
] + [
    # score-mode matrix at both levels, including mixed modes
    {"nested": {"path": "posts", "score_mode": om, "query":
                {"nested": {"path": "posts.comments", "score_mode": im,
                            "query": {"term":
                                      {"posts.comments.author": a}}}}}}
    for om, im, a in [("avg", "max", "alice"), ("sum", "sum", "carol"),
                      ("max", "avg", "alice"), ("none", "avg", "carol")]
] + [
    {"nested": {"path": "posts.comments", "score_mode": m, "query":
                {"term": {"posts.comments.author": "carol"}}}}
    for m in ("avg", "sum", "max", "none")
]


def test_deep_local_serving_matches_spark(spark, deep_cluster):
    from rusticsearch_spark.query.engine import SearchEngine
    from rusticsearch_spark.query.local import LocalSearcher
    idx = deep_cluster._dir("docs")
    seng = SearchEngine(spark, idx, mode="spark")
    ls = LocalSearcher(idx)
    for q in DEEP_BATTERY:
        want = [(r.doc_id, r.score)
                for r in seng.search(q, size=20).collect()]
        got = ls.search(q, size=20)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9, abs=1e-12), q
        assert ls.count(q) == seng.count(q), q
    assert ls.count() == 6


def test_deep_sharded_matches_local(spark, deep_cluster):
    """Parent-colocated bucketing holds at every depth: a job's
    document shard carries the whole parent CHAIN, so sharded
    serving stays rank-identical on multi-level nested indexes."""
    import pyarrow.parquet as pq

    from rusticsearch_spark.index.layout import IndexLayout
    from rusticsearch_spark.query.local import (LocalSearcher,
                                                ShardedSearcher)
    idx = deep_cluster._dir("docs")
    lay = IndexLayout(idx)
    for j in lay.completed_jobs_local():
        t = pq.read_table(lay.job_dir("docs", j),
                          columns=["url", "_nested_root"])
        keys = set(t.column("url").to_pylist())
        roots = {p for p in t.column("_nested_root").to_pylist()
                 if p is not None}
        assert roots <= keys, f"job {j}: chain split across jobs"
    whole = LocalSearcher(idx)
    sharded = ShardedSearcher(idx)
    for q in DEEP_BATTERY:
        assert sharded.search(q, size=20) == whole.search(q, size=20), q
        assert sharded.count(q) == whole.count(q), q


def test_deep_delete_cascades_all_levels(spark, deep_cluster, tmp_path):
    import shutil

    from rusticsearch_spark.index.delete import delete_documents
    from rusticsearch_spark.query.engine import SearchEngine
    src = deep_cluster._dir("docs")
    path = str(tmp_path / "cascade")
    shutil.copytree(src, path)
    # d1 = 1 root + 2 posts + 3 comments + 1 tag = 7 rows
    n = delete_documents(spark, path, keys=["d1"])
    assert n == 7
    eng = SearchEngine(spark, path)
    assert eng.count() == 5
    assert {h["key"] for h in eng.hits(Q_DEEP_ROOT, size=10)} == {"d2"}
    assert eng.count(Q_TWO_LEVEL) == 0


def test_deep_streaming_upsert_replaces_grandchildren(spark, tmp_path):
    """Upsert on a 2-level index: the new version's grandchildren
    fully replace the old version's — including SHRINKING the inner
    array."""
    from rusticsearch_spark.query.engine import SearchEngine
    from rusticsearch_spark.streaming.ingest import StreamingIngester
    fields = parse_mapping(DEEP_MAPPING)
    cfg = mapping_to_config(fields, key_col="url", n_buckets=4,
                            tbuckets=2, shuffle_partitions=4)
    df0 = spark.createDataFrame(DEEP_ROWS[:2], DEEP_SCHEMA)
    path = str(tmp_path / "deep_upsert")
    ing = StreamingIngester(spark, path, cfg, upsert=True)
    ing.process_batch(prepare_docs(df0, fields, key_col="url"), 0)
    eng = SearchEngine(spark, path, mode="spark")
    assert eng.count(Q_DEEP_ROOT) == 2           # d1, d2
    # new d1: alice's 5-star comment is GONE (shrunk inner array)
    df1 = spark.createDataFrame(
        [("d1", "spark engine", [("spark", [("bob", 1)])], [])],
        DEEP_SCHEMA)
    ing.process_batch(prepare_docs(df1, fields, key_col="url"), 1)
    eng = SearchEngine(spark, path, mode="spark")
    assert eng.count() == 2
    assert {h["key"] for h in eng.hits(Q_DEEP_ROOT, size=10)} == {"d2"}
    assert eng.count({"nested": {
        "path": "posts.comments", "query":
        {"term": {"posts.comments.author": "bob"}}}}) == 1


def test_inner_hits_single_level(spark, deep_cluster):
    """ES inner_hits: each parent hit carries its top matching child
    rows (key, offset, score, subfield values), ranked score desc."""
    q = {"nested": {"path": "posts.comments",
                    "query": {"term": {"posts.comments.author": "carol"}},
                    "inner_hits": {}}}
    hits = deep_cluster.search("docs", q, size=10)
    assert [h["key"] for h in hits] == ["d6"]
    inner = hits[0]["inner_hits"]["posts.comments"]
    assert len(inner) == 2                      # both carol comments
    assert {c["fields"]["posts.comments.author"] for c in inner} == \
        {"carol"}
    assert all(c["key"].startswith("d6#posts#") for c in inner)
    assert {c["offset"] for c in inner} == {0}  # first comment of each
    assert inner[0]["score"] >= inner[1]["score"] > 0


def test_inner_hits_options_and_errors(spark, deep_cluster):
    from rusticsearch_spark.query import dsl
    eng = deep_cluster.engine("docs")
    # name / size / from
    q = {"nested": {"path": "posts", "query": {"match_all": {}},
                    "score_mode": "none",
                    "inner_hits": {"name": "pp", "size": 1}}}
    hits = eng.hits(q, size=10)
    assert {h["key"] for h in hits} == {"d1", "d2", "d3", "d5", "d6"}
    for h in hits:
        assert len(h["inner_hits"]["pp"]) == 1          # size cap
        assert h["inner_hits"]["pp"][0]["score"] == 0.0  # unscored
    q_from = {"nested": {"path": "posts", "query": {"match_all": {}},
                         "score_mode": "none",
                         "inner_hits": {"name": "pp", "size": 5,
                                        "from": 1}}}
    h1 = {h["key"]: h["inner_hits"]["pp"] for h in
          eng.hits(q_from, size=10)}
    assert len(h1["d1"]) == 1 and len(h1["d3"]) == 0    # paged past
    with pytest.raises(dsl.QueryParseError, match="unsupported keys"):
        eng.parse({"nested": {"path": "posts",
                              "query": {"match_all": {}},
                              "inner_hits": {"sort": []}}})
    with pytest.raises(dsl.QueryParseError, match="must be an object"):
        eng.parse({"nested": {"path": "posts",
                              "query": {"match_all": {}},
                              "inner_hits": 3}})


def test_inner_hits_two_level_grouped_by_root(spark, deep_cluster):
    """inner_hits on a depth-2 path group by the ROOT document; only
    children matching the inner query (within the two-level
    constraint's own nested evaluation) appear."""
    q = {"nested": {"path": "posts.comments",
                    "query": {"term": {"posts.comments.author": "alice"}},
                    "inner_hits": {"size": 10}}}
    hits = deep_cluster.search("docs", q, size=10)
    by = {h["key"]: h["inner_hits"]["posts.comments"] for h in hits}
    assert set(by) == {"d1", "d2", "d3"}
    # d1 has alice comments in two different posts — both attach
    assert sorted(c["key"] for c in by["d1"]) == [
        "d1#posts#0#posts.comments#0", "d1#posts#1#posts.comments#0"]
    assert all(c["fields"]["posts.comments.author"] == "alice"
               for cs in by.values() for c in cs)


def test_inner_hits_serving_matches_spark(spark, deep_cluster):
    """inner_hits answer identically from all three tiers: the spark
    job path, the local searcher's in-memory child arrays, and the
    sharded searcher's per-shard union (chains are shard-local)."""
    from rusticsearch_spark.query.engine import SearchEngine
    idx = deep_cluster._dir("docs")
    engines = {m: SearchEngine(spark, idx, mode=m)
               for m in ("spark", "local", "sharded")}
    queries = [
        {"nested": {"path": "posts.comments",
                    "query": {"term": {"posts.comments.author": "alice"}},
                    "inner_hits": {"size": 10}}},
        {"nested": {"path": "posts", "query": {"match_all": {}},
                    "score_mode": "none",
                    "inner_hits": {"name": "pp", "size": 2, "from": 1}}},
        Q_TWO_LEVEL | {},
    ]
    queries[2] = {"nested": {**Q_TWO_LEVEL["nested"],
                             "inner_hits": {"size": 5}}}
    for q in queries:
        want = engines["spark"].hits(q, size=20)
        for m in ("local", "sharded"):
            got = engines[m].hits(q, size=20)
            assert [h["key"] for h in got] == \
                [h["key"] for h in want], (m, q)
            for g, w in zip(got, want):
                gi, wi = g["inner_hits"], w["inner_hits"]
                assert set(gi) == set(wi), (m, q)
                for nm in wi:
                    assert [(c["key"], c["offset"], c["fields"])
                            for c in gi[nm]] == \
                        [(c["key"], c["offset"], c["fields"])
                         for c in wi[nm]], (m, q, nm)
                    for gc, wc in zip(gi[nm], wi[nm]):
                        assert gc["score"] == pytest.approx(
                            wc["score"], rel=1e-6, abs=1e-9), (m, q, nm)


def test_nested_in_object_end_to_end(spark, tmp_path):
    from rusticsearch_spark.cluster import Cluster
    mapping = {"properties": {
        "meta": {"properties": {
            "src": {"type": "string", "index": "not_analyzed"},
            "labels": {"type": "nested", "properties": {
                "l": {"type": "string", "index": "not_analyzed"},
                "w": {"type": "integer"}}}}}}}
    df = spark.createDataFrame(
        [("m1", ("web", [("red", 1), ("blue", 9)])),
         ("m2", ("feed", [("red", 9), ("blue", 1)])),
         ("m3", ("web", []))],
        "url string, meta struct<src:string, labels:array<struct<"
        "l:string, w:long>>>")
    c = Cluster(spark, str(tmp_path / "obj"))
    c.create_index("docs", mapping, key_col="url")
    c.bulk("docs", df, key_col="url", n_buckets=2, tbuckets=2,
           shuffle_partitions=4)
    # object subfield stays a flat field; nested path hangs off it
    assert {h["key"] for h in c.search("docs", {"term": {
        "meta.src": "web"}}, size=10)} == {"m1", "m3"}
    q = {"nested": {"path": "meta.labels", "query": {"and": [
        {"term": {"meta.labels.l": "red"}},
        {"term": {"meta.labels.w": 9}}]}}}
    assert {h["key"] for h in c.search("docs", q, size=10)} == {"m2"}


def test_intermediate_level_without_fields_end_to_end(spark, tmp_path):
    from rusticsearch_spark.cluster import Cluster
    mapping = {"properties": {
        "wrap": {"type": "nested", "properties": {
            "inner": {"type": "nested", "properties": {
                "v": {"type": "string", "index": "not_analyzed"}}}}}}}
    df = spark.createDataFrame(
        [("w1", [([("a",), ("b",)],), ([("c",)],)]),
         ("w2", [([("b",)],)]),
         ("w3", [])],
        "url string, wrap array<struct<inner:array<struct<v:string>>>>")
    c = Cluster(spark, str(tmp_path / "wrap"))
    c.create_index("docs", mapping, key_col="url")
    c.bulk("docs", df, key_col="url", n_buckets=2, tbuckets=2,
           shuffle_partitions=4)
    q = {"nested": {"path": "wrap.inner",
                    "query": {"term": {"wrap.inner.v": "a"}}}}
    assert {h["key"] for h in c.search("docs", q, size=10)} == {"w1"}
    # the intermediate level is queryable too (match_all over wraps)
    q2 = {"nested": {"path": "wrap", "query": {"match_all": {}}}}
    assert {h["key"] for h in c.search("docs", q2, size=10)} == \
        {"w1", "w2"}


def test_exists_missing_inner_hits_through_cluster_alias(deep_cluster):
    """VERDICT r6 #6: `exists`/`missing` and `inner_hits` must work
    through Cluster.search, including via an ALIAS target over a
    nested-TYPE index."""
    deep_cluster.put_alias("content", "docs")
    # exists over a top-level stored field (alias target)
    hits = deep_cluster.search("content", {"exists": {"field": "title"}},
                               size=20)
    assert {h["key"] for h in hits} == {f"d{i}" for i in range(1, 7)}
    # missing: d4 has [] posts (ES []-is-missing), so it IS missing
    missing = deep_cluster.search("content",
                                  {"missing": {"field": "posts"}},
                                  size=20)
    assert "d4" in {h["key"] for h in missing}
    # inner_hits through the alias
    q = {"nested": {"path": "posts.comments",
                    "query": {"term": {"posts.comments.author": "carol"}},
                    "inner_hits": {}}}
    hits = deep_cluster.search("content", q, size=10)
    assert [h["key"] for h in hits] == ["d6"]
    assert len(hits[0]["inner_hits"]["posts.comments"]) == 2
    # counts agree between alias and direct index
    for q2 in ({"exists": {"field": "title"}},
               {"missing": {"field": "posts"}}):
        assert deep_cluster.count("content", q2) == \
            deep_cluster.count("docs", q2)
    deep_cluster.delete_alias("content")


def test_duplicate_inner_hits_names_rejected(deep_cluster):
    """Two inner_hits requests sharing a name (the default name is
    the path) must raise, not silently overwrite (ES behavior)."""
    from rusticsearch_spark.query import dsl
    eng = deep_cluster.engine("docs")
    q = {"or": [
        {"nested": {"path": "posts",
                    "query": {"term": {"posts.topic": "spark"}},
                    "inner_hits": {"name": "same"}}},
        {"nested": {"path": "tags",
                    "query": {"term": {"tags.t": "hot"}},
                    "inner_hits": {"name": "same"}}}]}
    with pytest.raises(dsl.QueryParseError, match="duplicate"):
        eng.hits(q, size=5)
    # distinct names are fine
    q["or"][1]["nested"]["inner_hits"]["name"] = "other"
    hits = eng.hits(q, size=5)
    assert any("inner_hits" in h for h in hits)


def test_nested_config_without_ancestry_columns_rejected(
        spark, tmp_path):
    """A nested-configured build whose docs frame lacks the
    ``_nested_root`` column would bucket children by the wrong key
    (splitting documents across shards) — it must fail fast instead."""
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.layout import IndexConfig
    df = spark.createDataFrame([("u1", "hello")], "url string, text string")
    cfg = IndexConfig(key_col="url", fields={"text": "standard"},
                      n_buckets=2, tbuckets=2, shuffle_partitions=2,
                      nested_paths=("comments",))
    with pytest.raises(ValueError, match="_nested_root"):
        build_index(spark, df, str(tmp_path / "bad_nested"), cfg)
