"""Deletion-list semantics: logical delete (anti-join on every plan),
stats un-decremented until merge, physical cleanup at merge, upsert
streaming ingest — mirroring document_index.rs:56-110 +
planner/mod.rs:34-36 + segment_ops.rs:157-206."""

import shutil

import pytest
from pyspark.sql import functions as F

from rusticsearch_spark.index.delete import delete_documents, load_deletions
from rusticsearch_spark.index.layout import IndexLayout
from rusticsearch_spark.index.merge import merge_jobs
from rusticsearch_spark.query.engine import SearchEngine

QUERY = {"match": {"text": "spark query"}}


@pytest.fixture()
def del_index(spark, index_dir, tmp_path):
    """A private copy of the session index (deletes mutate it)."""
    path = str(tmp_path / "del_idx")
    shutil.copytree(index_dir, path)
    return path


def test_delete_by_key_excluded_everywhere(spark, del_index, oracle):
    eng0 = SearchEngine(spark, del_index)
    top = eng0.search(QUERY, size=5).collect()
    victim = top[0].doc_id
    key = eng0.docs.where(F.col("doc_id") == victim).first().url
    n_before = eng0.count()

    assert delete_documents(spark, del_index, keys=[key]) == 1
    eng = SearchEngine(spark, del_index)  # re-open (new snapshot)
    assert eng.count() == n_before - 1
    got = [r.doc_id for r in eng.search(QUERY, size=5).collect()]
    assert victim not in got

    # oracle agreement: scores of survivors UNCHANGED (stats keep the
    # deleted doc until merge)
    oracle.deleted = {victim}
    want = oracle.search(eng.parse(QUERY), k=5)
    assert got == [w[0] for w in want]
    oracle.deleted = set()


def test_delete_missing_key_noop(spark, del_index):
    assert delete_documents(spark, del_index,
                            keys=["https://nope.example.org/x"]) == 0
    assert load_deletions(spark, IndexLayout(del_index)) is None


def test_counts_subtract_deletions(spark, del_index, oracle):
    eng0 = SearchEngine(spark, del_index)
    q = {"term": {"lang": "en"}}
    n0 = eng0.count(q)
    _, matched = eng0._score(eng0.parse(q), needs_score=False)
    victim = eng0.docs.join(matched, "doc_id").first()
    delete_documents(spark, del_index, doc_ids=[victim.doc_id])
    eng = SearchEngine(spark, del_index)
    assert eng.count(q) == n0 - 1        # term fast path must defer
    assert eng.count({"not": {"term": {"lang": "en"}}}) == \
        eng.count() - (n0 - 1)


def test_merge_applies_deletions_physically(spark, del_index):
    eng0 = SearchEngine(spark, del_index)
    victims = [r.doc_id for r in
               eng0.search(QUERY, size=3).collect()]
    delete_documents(spark, del_index, doc_ids=victims)
    merged_dir = del_index + "_merged"
    merge_jobs(spark, del_index, merged_dir)
    meng = SearchEngine(spark, merged_dir)
    assert meng.deletions is None        # lists erased
    assert meng.count() == eng0.count() - 3
    assert not set(victims) & {r.doc_id for r in
                               meng.search(QUERY, size=1000).collect()}
    # stats recomputed from survivors
    d0, t0 = eng0.field_stats["text"]
    d1, t1 = meng.field_stats["text"]
    assert d1 == d0 - 3 and t1 < t0


def test_streaming_upsert_replaces_document(spark, webtext, tmp_path):
    from rusticsearch_spark.index.layout import IndexConfig
    from rusticsearch_spark.streaming.ingest import StreamingIngester
    path = str(tmp_path / "ups_idx")
    cfg = IndexConfig(key_col="url", fields={"text": "standard",
                                             "lang": None},
                      n_buckets=4, tbuckets=2, shuffle_partitions=4)
    docs = webtext.select("url", "text", "lang").limit(40)
    ing = StreamingIngester(spark, path, cfg, upsert=True)
    ing.process_batch(docs, 0)
    eng = SearchEngine(spark, path)
    assert eng.count() == 40

    # re-ingest one url with NEW text → old version delete-marked
    victim = docs.first()
    updated = spark.createDataFrame(
        [(victim.url, "entirely fresh upsert corpus zebra", "en")],
        "url string, text string, lang string")
    ing.process_batch(updated, 1)
    eng = SearchEngine(spark, path)
    assert eng.count() == 40             # replaced, not duplicated
    hits = eng.hits({"term": {"text": "zebra"}}, size=5)
    assert [h["key"] for h in hits] == [victim.url]
    # the old content no longer matches under that key
    old_hits = eng.hits({"match": {"text": victim.text[:30]}}, size=100)
    assert victim.url not in [h["key"] for h in old_hits] or \
        all(h["key"] != victim.url for h in old_hits)


def test_cluster_get_and_delete_document(spark, webtext, tmp_path):
    from rusticsearch_spark.cluster import Cluster
    c = Cluster(spark, str(tmp_path / "cl"))
    c.create_index("p", {"properties": {
        "text": {"type": "string"},
        "lang": {"type": "string", "index": "not_analyzed"}}},
        key_col="url")
    c.bulk("p", webtext.select("url", "text", "lang").limit(30),
           key_col="url", n_buckets=4, tbuckets=2, shuffle_partitions=4)
    key = webtext.select("url").first().url
    doc = c.get_document("p", key)
    assert doc and doc["url"] == key and doc["text"]
    assert c.get_document("p", "https://missing.example.org/") is None
    assert c.delete_document("p", key) is True
    assert c.get_document("p", key) is None
    assert c.count("p") == 29
    assert c.delete_document("p", key) is False  # already gone


def test_delete_by_nonstring_key(spark, webtext, tmp_path):
    """Regression: a long-typed PK must resolve through the kbucket
    sidecar — xxhash64 over the NATURAL key type, not its string
    spelling — or the delete silently matches nothing."""
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.layout import IndexConfig

    path = str(tmp_path / "intkey_idx")
    docs = (webtext.limit(25)
            .withColumn("pk", F.xxhash64("url"))  # long, high-entropy
            .select("pk", "text", "lang"))
    build_index(spark, docs, path,
                IndexConfig(key_col="pk",
                            fields={"text": "standard", "lang": None},
                            n_buckets=4, tbuckets=2, shuffle_partitions=4),
                jobs=1)
    victim = docs.first().pk
    eng0 = SearchEngine(spark, path)
    n = eng0.count()
    # both the natural value and its string spelling must resolve
    assert delete_documents(spark, path, keys=[victim]) == 1
    assert SearchEngine(spark, path).count() == n - 1
    assert delete_documents(spark, path, keys=[victim]) == 0  # idempotent
