"""Small upsert batches index on the driver, writing what Spark writes.

``StreamingIngester.process_batch`` runs everything after a batch's
docs write on the driver (``build.write_postings_driver``) when its key
and fields are scalar strings and the index has no nested paths.  The
same batch goes through both paths here, on two copies of one index;
the Spark path is forced by patching ``StreamingIngester._on_driver``.
The batch carries non-ASCII text (the rows the SQL tokenizer hands to the
Python analyzer), a null text, a plain-string field, a duplicated key
and a null key.  Every table the index half writes must hold the same
rows, and both query lanes must return the same top-k.

A batch with no tokens at all leaves the tables the Spark path
leaves, so a full merge reads it; a delete by key resolved on the
driver writes the ids Spark's resolve writes.

Also pinned: the driver writer crashing after its deletion list and
postings are on disk (in the doc_index write, or at the lineage
commit) leaves what a replay of the batch id repairs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from rusticsearch_spark.index import doc_index
from rusticsearch_spark.index.build import build_index
from rusticsearch_spark.index.delete import deleted_doc_ids
from rusticsearch_spark.index.layout import IndexConfig, IndexLayout
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


@pytest.fixture(scope="module")
def both(spark, base):
    """The batch upserted on the driver into one copy and through Spark
    into another."""
    urls = base[2]
    drv, spk = _copy(base, "driver"), _copy(base, "spark")
    got_drv = StreamingIngester(spark, drv, upsert=True).process_batch(
        _batch(spark, urls), 0)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(StreamingIngester, "_on_driver", lambda *a: False)
        got_spk = StreamingIngester(spark, spk, upsert=True).process_batch(
            _batch(spark, urls), 0)
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
           "doc_index": ["kbucket", "url", "doc_id"],
           "field_stats": ["field"],
           "docs": ["doc_id"]}


def _state(idx):
    layout = IndexLayout(idx)
    return ({name: _rows(layout.job_dir(name, JOB), sort)
             for name, sort in _TABLES.items()},
            set(deleted_doc_ids(layout.deletion_dirs()).tolist()))


def test_paths_taken(both):
    _, _, got_drv, got_spk = both
    assert got_drv.postings == "driver"
    assert got_spk.postings == "spark"
    for got in (got_drv, got_spk):
        assert got.lineage["job"] == JOB
        assert got.lineage["n_docs"] == 18       # the duplicate collapsed


def test_driver_path_writes_the_spark_rows(both):
    drv, spk, got_drv, got_spk = both
    (t_drv, del_drv), (t_spk, del_spk) = _state(drv), _state(spk)
    for name in _TABLES:
        assert t_drv[name], name
        assert t_drv[name] == t_spk[name], name
    # 15 replaced documents: urls[:15] are in the base index
    assert len(del_drv) == 15
    assert del_drv == del_spk
    assert (got_drv.lineage["n_posting_blocks"]
            == got_spk.lineage["n_posting_blocks"])


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
    doc = Cluster._get_document_driver(eng, base[2][0])
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
    assert StreamingIngester(spark, drv, upsert=True).process_batch(
        batch, 0).postings == "driver"
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(StreamingIngester, "_on_driver", lambda *a: False)
        assert StreamingIngester(spark, spk, upsert=True).process_batch(
            batch, 0).postings == "spark"
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
    writes the ids Spark's ``resolve_keys`` path writes — keys
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
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(delete, "key_is_string", lambda *a: False)
        assert delete.delete_documents(spark, spk, keys=keys) == 6
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
    assert got.postings == "driver"
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
