"""Upsert batches and deletes run on the driver, writing what Spark writes.

``StreamingIngester.process_batch`` runs everything after a batch's
docs write on the driver: ``build.write_postings_driver`` for the
postings, term_dict and doc_index, ``doc_index.resolve_keys_driver``
and ``delete.nested_cascade`` for the upsert's deletion ids.  The
reference is Spark, computed here over the same written docs: the
build's ``_posting_rows`` through ``build.finish_job``, and
``resolve_keys`` plus a DataFrame cascade over the committed docs for
the deletion ids.  Batch shapes: string keys (non-ASCII text — the
rows the SQL tokenizer hands to the Python analyzer — a null text, a
plain-string field, a duplicated key and a null key); ``array<string>``
fields with null items; a long key with integer and boolean plain
fields; and a nested index whose upsert shrinks an array.  Every table
the index half writes must hold the same rows, and both query lanes
must return the same top-k.

A batch with no tokens at all leaves the tables the Spark path
leaves, so a full merge reads it; a delete by key or doc id on the
driver writes the ids the Spark reference resolves.

Also pinned: the driver writer crashing after its deletion list and
postings are on disk (in the doc_index write, or at the lineage
commit) leaves what a replay of the batch id repairs.
"""

from __future__ import annotations

import os
import shutil

import time

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rusticsearch_spark.index import doc_index
from rusticsearch_spark.index.build import (WrittenDocs, _posting_rows,
                                            _registry, build_index,
                                            finish_job)
from rusticsearch_spark.index.delete import (delete_documents,
                                             deleted_doc_ids, load_deletions,
                                             write_deletion_ids)
from rusticsearch_spark.index.layout import IndexConfig, IndexLayout, qname
from rusticsearch_spark.query.engine import SearchEngine
from rusticsearch_spark.query.local import LocalSearcher
from rusticsearch_spark.streaming import ingest
from rusticsearch_spark.streaming.ingest import StreamingIngester

JOB = ingest.STREAM_JOB_BASE + 0

QUERIES = [{"match": {"text": "updated café"}},
           {"match": {"text": "spark query data"}},
           {"term": {"lang": "fr"}},
           {"term": {"lang": "en"}},
           {"prefix": {"text": "na"}},
           {"match": {"text": "zürich straße"}}]


def _cfg():
    return IndexConfig(key_col="url",
                       fields={"text": "standard", "lang": None},
                       n_buckets=4, tbuckets=2, shuffle_partitions=4)


def _batch(spark, urls):
    rows = [(k, f"updated café naïve text {i} résumé", "en")
            for i, k in enumerate(urls[:12])]
    rows += [(urls[12], None, "de"),               # null text
             (urls[13], "Zürich Straße ÆON spark", None),
             (urls[14], "", "en"),                  # no tokens
             ("https://new.example/a", "fresh naïve text", "fr"),
             ("https://new.example/a", "fresh naïve text", "fr"),  # dup
             ("https://new.example/b", "fresh data spark", "fr"),
             (None, "a document with a null key", "en")]
    return spark.createDataFrame(rows, "url string, text string, lang string")


@pytest.fixture(scope="module")
def base(spark, webtext, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("driver_ingest"))
    idx = os.path.join(root, "base")
    build_index(spark, webtext.limit(60).select("url", "text", "lang"),
                idx, _cfg())
    urls = sorted(r.url for r in webtext.limit(60).select("url").collect())
    return root, idx, urls


def _copy(base, name):
    root, idx, _ = base
    out = os.path.join(root, name)
    shutil.rmtree(out, ignore_errors=True)
    shutil.copytree(idx, out)
    return out


def _spark_deletion_ids(spark, layout, config, jobs, keys=None,
                        doc_ids=None):
    """The doc ids a delete by ``keys`` (a one-column frame) or by
    ``doc_ids`` (a ``doc_id`` frame) retires, resolved on Spark:
    ``resolve_keys``, then a nested index's cascade over the committed
    docs, minus the ids already on a deletion list."""
    from rusticsearch_spark.index.doc_index import resolve_keys
    key = config.key_col
    if keys is not None:
        resolved = resolve_keys(spark, layout, config, keys, jobs=jobs)
        target = resolved.select("doc_id")
        roots = keys
    else:
        target = doc_ids
    if config.nested_paths:
        committed = (spark.read.option("basePath", layout.table("docs"))
                     .parquet(*layout.committed_dirs("docs", jobs=jobs)))
        if keys is None:
            roots = (committed.join(doc_ids, "doc_id", "left_semi")
                     .where(F.col("_nested_parent").isNull()).select(key))
        target = target.unionByName(
            committed.where(F.col("_nested_parent").isNotNull())
            .join(roots.select(F.col(key).cast("string")
                               .alias("_nested_root")),
                  "_nested_root", "left_semi").select("doc_id"))
    already = load_deletions(spark, layout)
    if already is not None:
        target = target.join(already, "doc_id", "left_anti")
    return np.array(sorted({r.doc_id for r in target.distinct().collect()}),
                    dtype=np.int64)


def _spark_reference(spark, drv, out, upsert=True):
    """``out`` (a copy of the index ``drv`` was before its batch) given
    the batch's docs as ``drv``'s driver path wrote them, then its
    index half on Spark: the upsert's deletion ids from
    :func:`_spark_deletion_ids`, the postings, term_dict, doc_index
    and field stats from the build's ``_posting_rows`` through
    ``finish_job``."""
    layout = IndexLayout(out)
    config = layout.read_config()
    jobs = layout.completed_jobs()
    shutil.copytree(IndexLayout(drv).job_dir("docs", JOB),
                    layout.job_dir("docs", JOB))
    docs = spark.read.parquet(layout.job_dir("docs", JOB))
    counts = docs.agg(F.count(F.lit(1)).alias("n"),
                      *[F.count(F.col(qname(f))).alias(f"f{i}")
                        for i, f in enumerate(config.fields)]).first()
    written = WrittenDocs(docs, counts["n"],
                          {f: counts[f"f{i}"]
                           for i, f in enumerate(config.fields)})
    if upsert:
        write_deletion_ids(layout, _spark_deletion_ids(
            spark, layout, config, jobs, keys=docs.select(config.key_col)))
    return finish_job(spark, _posting_rows(docs, config, _registry(config)),
                      written, layout, config, JOB, time.monotonic(),
                      {"batch_id": 0})


@pytest.fixture(scope="module")
def both(spark, base):
    """The batch upserted on the driver into one copy, and its Spark
    reference in another."""
    urls = base[2]
    drv, spk = _copy(base, "driver"), _copy(base, "spark")
    got_drv = StreamingIngester(spark, drv, upsert=True).process_batch(
        _batch(spark, urls), 0)
    got_spk = _spark_reference(spark, drv, spk)
    return drv, spk, got_drv, got_spk


def _rows(path, sort):
    """A job table's rows (hive partition columns included), sorted."""
    if not os.path.isdir(path):
        return []
    tbl = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    return sorted(tbl.to_pylist(), key=lambda r: tuple(
        (r[c] is None, r[c] if r[c] is not None else 0) for c in sort))


_TABLES = {"postings": ["field", "term", "segment"],
           "term_dict": ["field", "term"],
           "doc_index": ["kbucket", "doc_id"],
           "field_stats": ["field"],
           "docs": ["doc_id"]}


def _state(idx):
    layout = IndexLayout(idx)
    return ({name: _rows(layout.job_dir(name, JOB), sort)
             for name, sort in _TABLES.items()},
            set(deleted_doc_ids(layout.deletion_dirs()).tolist()))


def test_paths_taken(both):
    """``process_batch`` returns the committed lineage row, which
    agrees with the Spark reference's."""
    _, _, got_drv, got_spk = both
    for got in (got_drv, got_spk):
        assert got["job"] == JOB
        assert got["batch_id"] == 0
        assert got["n_docs"] == 18       # the duplicate collapsed
    assert IndexLayout(both[0]).completed_jobs()[-1] == JOB


def test_driver_path_writes_the_spark_rows(both):
    drv, spk, got_drv, got_spk = both
    (t_drv, del_drv), (t_spk, del_spk) = _state(drv), _state(spk)
    for name in _TABLES:
        assert t_drv[name], name
        assert t_drv[name] == t_spk[name], name
    # 15 replaced documents: urls[:15] are in the base index
    assert len(del_drv) == 15
    assert del_drv == del_spk
    assert got_drv["n_posting_blocks"] == got_spk["n_posting_blocks"]


def test_null_key_lands_in_sparks_kbucket(both):
    """A null key hashes to Spark's xxhash64 seed: kbucket 42 % 64 on
    both paths (the driver reproduces it rather than refusing the
    batch)."""
    drv, _, _, _ = both
    rows = [r for r in _state(drv)[0]["doc_index"] if r["url"] is None]
    assert [r["kbucket"] for r in rows] == [42 % _cfg().kbuckets]
    assert doc_index.key_bucket(None, 64) == 42


def test_driver_path_top_k_matches_spark_path(spark, both):
    drv, spk = both[0], both[1]
    e_drv, e_spk = SearchEngine(spark, drv), SearchEngine(spark, spk)
    l_drv, l_spk = LocalSearcher(drv), LocalSearcher(spk)
    for q in QUERIES:
        want = [(r.doc_id, r.score) for r in
                e_spk.search(q, size=20).collect()]
        assert want, q
        assert [(r.doc_id, r.score) for r in
                e_drv.search(q, size=20).collect()] == want, q
        assert l_drv.search(q, size=20) == l_spk.search(q, size=20), q
        assert e_drv.count(q) == e_spk.count(q), q
    assert e_drv.count() == e_spk.count() == l_drv.count()


def test_pending_upsert_replaces_old_versions(spark, both, base):
    from rusticsearch_spark.cluster import Cluster
    eng = SearchEngine(spark, both[0])
    assert eng.count() == 60 + 2 + 1     # two new keys and the null key
    doc = Cluster._get_document(eng, base[2][0])
    assert doc["text"].startswith("updated café")


def test_batch_without_tokens_writes_what_spark_writes(spark, base):
    """Null and empty texts and a null plain field: no term at all.
    Both paths leave the job's postings dir and an empty term_dict,
    and a full merge afterwards reads them."""
    from rusticsearch_spark.index.merge import maintenance
    urls = base[2]
    batch = spark.createDataFrame(
        [(urls[0], None, None), (urls[1], "", None), (urls[2], " .,", None),
         ("https://new.example/empty", None, None)],
        "url string, text string, lang string")
    drv, spk = _copy(base, "empty_driver"), _copy(base, "empty_spark")
    StreamingIngester(spark, drv, upsert=True).process_batch(batch, 0)
    _spark_reference(spark, drv, spk)
    (t_drv, del_drv), (t_spk, del_spk) = _state(drv), _state(spk)
    assert t_drv == t_spk
    assert del_drv == del_spk and len(del_drv) == 3
    assert t_drv["postings"] == t_drv["term_dict"] == []
    for idx in (drv, spk):
        layout = IndexLayout(idx)
        assert os.path.isdir(layout.job_dir("postings", JOB))
        assert pq.read_table(layout.job_dir("term_dict", JOB)).num_rows == 0
    want = SearchEngine(spark, spk).count()
    assert SearchEngine(spark, drv).count() == want == 61
    assert LocalSearcher(drv).count() == want
    maintenance(spark, drv, max_jobs=0)
    assert SearchEngine(spark, drv).count() == want
    assert IndexLayout(drv).completed_jobs() == [0]


def test_delete_by_key_on_the_driver_matches_spark(spark, base, both):
    """``delete_documents`` by string keys resolves on the driver and
    writes the ids Spark's ``resolve_keys`` resolves — keys
    upserted by the batch (two versions, one already deleted), base
    keys and a missing key."""
    from rusticsearch_spark.index import delete
    urls = base[2]
    keys = urls[:3] + urls[40:43] + ["https://missing.example/"]
    drv = os.path.join(base[0], "delete_driver")
    spk = os.path.join(base[0], "delete_spark")
    for idx in (drv, spk):
        shutil.rmtree(idx, ignore_errors=True)
        shutil.copytree(both[0], idx)
    assert delete.delete_documents(spark, drv, keys=keys) == 6
    layout = IndexLayout(spk)
    ids = _spark_deletion_ids(
        spark, layout, layout.read_config(), layout.completed_jobs(),
        keys=spark.createDataFrame([(k,) for k in keys], "url string"))
    assert write_deletion_ids(layout, ids) == 6
    assert _state(drv) == _state(spk)
    assert len(_state(drv)[1]) == len(_state(both[0])[1]) + 6


def _crash_then_replay(spark, base, name, target, attr):
    idx = _copy(base, name)

    def _boom(*a, **k):
        # the deletion list and the postings are on disk when it dies
        assert IndexLayout(idx).deletion_dirs()
        assert os.path.isdir(IndexLayout(idx).job_dir("postings", JOB))
        raise RuntimeError("crash")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(target, attr, _boom)
        with pytest.raises(RuntimeError, match="crash"):
            StreamingIngester(spark, idx, upsert=True).process_batch(
                _batch(spark, base[2]), 0)
    assert JOB not in IndexLayout(idx).completed_jobs()
    got = StreamingIngester(spark, idx, upsert=True).process_batch(
        _batch(spark, base[2]), 0)
    assert got["job"] == JOB
    return idx


@pytest.mark.parametrize("where", ["after_postings", "before_commit"])
def test_crash_and_replay_end_like_an_uninterrupted_run(spark, base, both,
                                                        where):
    """The driver writer dies after the postings are on disk (in the
    doc_index write), or after the deletion list and before the
    lineage commit; the replay of the batch id ends with the rows and
    live counts of the uninterrupted run."""
    if where == "after_postings":
        target, attr = doc_index, "write_doc_index_driver"
    else:
        target, attr = IndexLayout, "commit_job"
    idx = _crash_then_replay(spark, base, f"crash_{where}", target, attr)
    assert _state(idx) == _state(both[0])
    # the retry found the first attempt's deletions and wrote no second
    # list for them
    assert len(IndexLayout(idx).deletion_dirs()) == 1
    want = SearchEngine(spark, both[0])
    got = SearchEngine(spark, idx)
    assert got.count() == want.count()
    for q in QUERIES:
        assert got.count(q) == want.count(q), q
    assert LocalSearcher(idx).count() == LocalSearcher(both[0]).count()


def test_deletion_list_appears_whole(tmp_path):
    """A deletion list is written under a dot-named dir, which readers
    skip, and renamed into place."""
    from rusticsearch_spark.index.delete import write_deletion_ids
    layout = IndexLayout(str(tmp_path))
    os.makedirs(os.path.join(layout.table("deletions"), ".d000000"))
    assert layout.deletion_dirs() == []
    assert write_deletion_ids(layout, np.array([5, 3], np.int64)) == 2
    assert write_deletion_ids(layout, np.zeros(0, np.int64)) == 0
    dirs = layout.deletion_dirs()
    assert [os.path.basename(d) for d in dirs] == ["d000000"]
    assert sorted(pq.read_table(dirs[0]).column("doc_id").to_pylist()) \
        == [3, 5]


NESTED_MAPPING = {"properties": {
    "text": {"type": "string"},
    "comments": {"type": "nested", "properties": {
        "author": {"type": "string", "index": "not_analyzed"},
        "stars": {"type": "integer"},
    }},
}}
NESTED_SCHEMA = ("url string, text string, "
                 "comments array<struct<author:string, stars:long>>")


def _array_shape(spark, webtext, base):
    """``array<string>`` fields, analyzed and plain, with null items,
    an empty array and a null array."""
    none = F.lit(None).cast("string")
    build_index(spark, webtext.limit(40).select(
        "url", F.array("text", none, F.lit("naïve résumé")).alias("text"),
        F.array("lang", "lang", none).alias("lang")), base, _cfg())
    urls = sorted(r.url for r in webtext.limit(40).select("url").collect())
    batch = spark.createDataFrame(
        [(k, [f"updated café text {i}", None, "Zürich straße"],
          ["en", None, "en"]) for i, k in enumerate(urls[:6])]
        + [(urls[6], None, None), (urls[7], [], []), (urls[8], [None], [None]),
           ("https://new.example/arr", ["fresh spark data"], ["fr", "de"])],
        "url string, text array<string>, lang array<string>")
    queries = [{"match": {"text": "updated café"}},
               {"match": {"text": "zürich naïve"}},
               {"term": {"lang": "en"}}, {"term": {"lang": "de"}}]
    deletes = [("keys", urls[:2] + urls[20:22] + ["https://missing.example/"])]
    return batch, queries, deletes


def _long_shape(spark, webtext, base):
    """A long key (negative and wide values, a null) with integer and
    boolean plain fields."""
    rows = [((i - 20) * 7919 if i < 39 else 1 << 40, r.text, r.lang,
             i % 7, i % 3 == 0)
            for i, r in enumerate(webtext.orderBy("url").limit(40).collect())]
    schema = "id long, text string, lang string, n int, flag boolean"
    build_index(spark, spark.createDataFrame(rows, schema), base,
                IndexConfig(key_col="id",
                            fields={"text": "standard", "lang": None,
                                    "n": None, "flag": None},
                            n_buckets=4, tbuckets=2, shuffle_partitions=4))
    ids = [r[0] for r in rows]
    batch = spark.createDataFrame(
        [(k, f"updated café text {i}", "en", None if i == 2 else i,
          None if i == 3 else i % 2 == 0) for i, k in enumerate(ids[:6])]
        + [(10 ** 12, "fresh spark data", "fr", 3, True),
           (-(1 << 62), "fresh naïve text", "de", -1, False),
           (None, "a document with a null key", "en", 0, None)], schema)
    queries = [{"match": {"text": "updated café"}},
               {"match": {"text": "spark query data"}},
               {"term": {"n": "3"}}, {"term": {"flag": "true"}},
               {"term": {"lang": "fr"}}]
    deletes = [("keys", [ids[0], str(ids[1]), ids[20], str(ids[39]),
                         123456789])]
    return batch, queries, deletes


def _nested_shape(spark, webtext, base):
    """A nested index: the upsert shrinks one document's array, grows
    another's and adds a document."""
    from rusticsearch_spark.mapping import (mapping_to_config,
                                            parse_mapping, prepare_docs)
    fields = parse_mapping(NESTED_MAPPING)
    cfg = mapping_to_config(fields, key_col="url", n_buckets=4, tbuckets=2,
                            shuffle_partitions=4)
    build_index(spark, prepare_docs(spark.createDataFrame(
        [("u1", "spark engine", [("alice", 5), ("bob", 1)]),
         ("u2", "table scan", [("alice", 1), ("bob", 5)]),
         ("u3", "hash join", []),
         ("u4", "sort merge", [("alice", 5)])], NESTED_SCHEMA),
        fields, key_col="url"), base, cfg)
    batch = prepare_docs(spark.createDataFrame(
        [("u1", "spark engine updated", [("alice", 2)]),
         ("u3", "hash join", [("carol", 4), ("dave", 5)]),
         ("u9", "new doc", [("erin", 1)])], NESTED_SCHEMA),
        fields, key_col="url")
    nested = [{"term": {"comments.author": "alice"}},
              {"term": {"comments.stars": 5}},
              {"match_all": {}}]
    queries = ([{"nested": {"path": "comments", "query": q}}
                for q in nested] + [{"match": {"text": "spark hash"}}])
    deletes = [("keys", ["u2", "u1", "u9#comments#0", "missing"]),
               ("doc_ids", ["u2", "u4#comments#0"])]
    return batch, queries, deletes


SHAPES = {"array": _array_shape, "long": _long_shape,
          "nested": _nested_shape}


@pytest.fixture(scope="module", params=sorted(SHAPES))
def shape(request, spark, webtext, tmp_path_factory):
    """One batch shape upserted on the driver into a copy of its base
    index, and its Spark reference in another."""
    root = str(tmp_path_factory.mktemp(f"shape_{request.param}"))
    base = os.path.join(root, "base")
    batch, queries, deletes = SHAPES[request.param](spark, webtext, base)
    drv, spk = os.path.join(root, "driver"), os.path.join(root, "spark")
    for idx in (drv, spk):
        shutil.copytree(base, idx)
    got_drv = StreamingIngester(spark, drv, upsert=True).process_batch(
        batch, 0)
    got_spk = _spark_reference(spark, drv, spk)
    return {"name": request.param, "root": root, "drv": drv, "spk": spk,
            "got": (got_drv, got_spk), "queries": queries,
            "deletes": deletes}


def test_every_batch_shape_writes_the_spark_rows(shape):
    (t_drv, del_drv), (t_spk, del_spk) = (_state(shape["drv"]),
                                          _state(shape["spk"]))
    for name in _TABLES:
        assert t_drv[name], name
        assert t_drv[name] == t_spk[name], name
    assert del_drv and del_drv == del_spk
    if shape["name"] == "array":
        # an analyzed array's items beside a null item are indexed (six
        # batch documents carry "Zürich straße" next to a None)
        assert [r["df"] for r in t_drv["term_dict"]
                if r["term"] == "zurich"] == [6]
    got_drv, got_spk = shape["got"]
    assert got_drv["n_posting_blocks"] == got_spk["n_posting_blocks"]


def test_every_batch_shape_top_k_matches_spark(spark, shape):
    drv, spk = shape["drv"], shape["spk"]
    e_drv, e_spk = SearchEngine(spark, drv), SearchEngine(spark, spk)
    l_drv, l_spk = LocalSearcher(drv), LocalSearcher(spk)
    for q in shape["queries"]:
        want = [(r.doc_id, r.score) for r in
                e_spk.search(q, size=20).collect()]
        assert want, q
        assert [(r.doc_id, r.score) for r in
                e_drv.search(q, size=20).collect()] == want, q
        assert l_drv.search(q, size=20) == l_spk.search(q, size=20), q
        assert e_drv.count(q) == e_spk.count(q), q
    assert e_drv.count() == e_spk.count() == l_drv.count()


def test_every_delete_form_matches_spark(spark, shape):
    """``delete_documents`` by keys (long keys as ints and as strings,
    nested keys) and by doc ids (a nested parent and a child) writes
    the ids the Spark reference resolves, a nested parent's child rows
    included."""
    for form, which in shape["deletes"]:
        drv = os.path.join(shape["root"], f"delete_{form}_driver")
        spk = os.path.join(shape["root"], f"delete_{form}_spark")
        for idx in (drv, spk):
            shutil.rmtree(idx, ignore_errors=True)
            shutil.copytree(shape["drv"], idx)
        layout = IndexLayout(spk)
        config = layout.read_config()
        jobs = layout.completed_jobs()
        if form == "keys":
            n = delete_documents(spark, drv, keys=which)
            ids = _spark_deletion_ids(
                spark, layout, config, jobs, keys=spark.createDataFrame(
                    [(str(k),) for k in which],
                    f"{config.key_col} string"))
        else:
            docs = SearchEngine(spark, drv).docs
            pick = [r.doc_id for r in docs.where(
                F.col(config.key_col).isin(which)).collect()]
            assert len(pick) == 2
            n = delete_documents(spark, drv, doc_ids=pick)
            ids = _spark_deletion_ids(
                spark, layout, config, jobs, doc_ids=spark.createDataFrame(
                    [(d,) for d in pick], "doc_id long"))
        assert write_deletion_ids(layout, ids) == n > 0
        assert _state(drv) == _state(spk), form


@pytest.mark.parametrize("both_given", [False, True])
def test_delete_documents_takes_exactly_one_of_keys_and_doc_ids(
        spark, base, both_given):
    """Neither ``keys`` nor ``doc_ids``, or both (on an index without
    nested paths, where ``doc_ids`` used to be ignored): ValueError,
    and no deletion list."""
    idx = _copy(base, "delete_args")
    kwargs = ({"keys": [base[2][0]], "doc_ids": [1]} if both_given else {})
    with pytest.raises(ValueError, match="exactly one of"):
        delete_documents(spark, idx, **kwargs)
    assert IndexLayout(idx).deletion_dirs() == []


@pytest.mark.parametrize("column", ["key", "field"])
def test_unsupported_column_type_is_refused(spark, base, column):
    """A double key column, or a map field the driver cannot render as
    Spark's ``cast("string")``: ``process_batch`` (and, for the key,
    ``build_index``) raises ValueError before writing anything."""
    idx = _copy(base, f"bad_{column}")
    if column == "key":
        bad = spark.createDataFrame([(1.5, "some text", "en")],
                                    "url double, text string, lang string")
        with pytest.raises(ValueError, match="key column 'url'"):
            build_index(spark, bad, os.path.join(base[0], "bad_build"),
                        _cfg())
        assert not os.path.exists(os.path.join(base[0], "bad_build"))
    else:
        bad = spark.createDataFrame(
            [("https://new.example/m", "some text", {"a": "b"})],
            "url string, text string, lang map<string,string>")
    before = sorted(os.listdir(idx))
    with pytest.raises(ValueError, match="must be"):
        StreamingIngester(spark, idx, upsert=True).process_batch(bad, 0)
    assert sorted(os.listdir(idx)) == before
    assert not os.path.exists(IndexLayout(idx).job_dir("docs", JOB))
