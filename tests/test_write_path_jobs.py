"""Spark jobs per write-path call, pinned.

Every Spark job pays a fixed driver + scheduling cost, so how many
jobs a write-path call runs is part of its cost model (and does not
depend on the host).  Each call here should run only the jobs that
write data, plus the few reads no driver-side read can replace:

* ``write_job``: the docs, doc_index, postings and term_dict writes;
* an upsert batch whose key and fields are scalar strings: its docs
  write only.  Key resolution, the deletion list, postings, term_dict
  and the doc_index sidecar are written on the driver;
* an upsert batch with an array field, which only the Spark path
  analyzes: ``write_job``'s four, the kbucket listing of the doc_index
  sidecar, the broadcast of the written keys and the deletion-list
  write;
* ``delete_documents`` by key: none — keys resolve through the
  doc_index sidecar on the driver, which writes the list too;
* a full merge: the schema-merging docs read, the broadcast of the
  deletion lists, then ``write_job``'s four writes;
* ``SearchEngine`` open: the postings and docs schema reads — lineage,
  field stats and deletion lists are read on the driver.

Counted with a job group and ``statusTracker``, which includes the
doc_index sidecar job its helper thread submits (the thread inherits
the job group).  Adaptive execution is off while counting, as in
``bench.py`` and the benchmark: with it on, every shuffle stage runs
as a job of its own.
"""

from __future__ import annotations

import itertools
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from rusticsearch_spark.cluster import Cluster
from rusticsearch_spark.index.build import build_index
from rusticsearch_spark.index.delete import delete_documents
from rusticsearch_spark.index.layout import IndexConfig, IndexLayout
from rusticsearch_spark.index.merge import maintenance
from rusticsearch_spark.query.engine import SearchEngine
from rusticsearch_spark.streaming.ingest import StreamingIngester

_GROUPS = itertools.count()


def _count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"write_path_jobs_{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


_COUNT_QUERIES = [None, {"term": {"lang": "en"}},
                  {"match": {"text": "spark query"}},
                  {"match": {"text": "updated fresh"}}]


def _cfg():
    return IndexConfig(key_col="url",
                       fields={"text": "standard", "lang": None},
                       n_buckets=4, tbuckets=2, shuffle_partitions=4)


@pytest.fixture(scope="module")
def write_path(spark, webtext, tmp_path_factory):
    """Build, upsert, delete, GET while pending, full merge — counting
    each call's Spark jobs and every path handed to a Spark parquet
    read."""
    root = str(tmp_path_factory.mktemp("write_path"))
    idx = os.path.join(root, "pages")
    docs = webtext.limit(60).select("url", "text", "lang")
    urls = sorted(r.url for r in docs.select("url").collect())
    cluster = Cluster(spark, root)
    jobs, gets = {}, {}
    read_paths = []
    real_parquet = DataFrameReader.parquet

    def _spy(self, *paths, **options):
        read_paths.extend(paths)
        return real_parquet(self, *paths, **options)

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(DataFrameReader, "parquet", _spy)
            _, jobs["write_job"] = _count_jobs(
                spark, lambda: build_index(spark, docs, idx, _cfg()))
            _, jobs["engine_open"] = _count_jobs(
                spark, lambda: SearchEngine(spark, idx))
            upd = urls[:20]
            new = [f"https://new.example/{i}" for i in range(5)]
            batch = spark.createDataFrame(
                [(k, f"updated text {i}", "en") for i, k in enumerate(upd)]
                + [(k, "fresh text", "fr") for k in new],
                "url string, text string, lang string")
            upserted, jobs["upsert_batch"] = _count_jobs(
                spark, lambda: StreamingIngester(
                    spark, idx, upsert=True).process_batch(batch, 0))
            gone = urls[20:25]
            n_deleted, jobs["delete"] = _count_jobs(
                spark, lambda: delete_documents(spark, idx, keys=gone))
            eng, jobs["engine_open_pending"] = _count_jobs(
                spark, lambda: cluster.engine("pages"))
            for k in upd[:3] + gone[:3] + urls[25:28]:
                want = eng._live(eng.docs.where(F.col("url") == k)) \
                    .limit(1).collect()
                got, n = _count_jobs(
                    spark, lambda: cluster.get_document("pages", k))
                gets[k] = (want[0].asDict() if want else None, got, n)
            pending = {str(q): eng.count(q) for q in _COUNT_QUERIES}
            _, jobs["full_merge"] = _count_jobs(
                spark, lambda: maintenance(spark, idx, max_jobs=0))
            merged = SearchEngine(spark, idx)
            merged_counts = {str(q): merged.count(q) for q in _COUNT_QUERIES}
            # the same keys again, with an array-valued plain field
            arrays = spark.createDataFrame(
                [(k, f"array text {i}", ["en", "fr"])
                 for i, k in enumerate(upd + new)],
                "url string, text string, lang array<string>")
            array_batch, jobs["upsert_batch_array_field"] = _count_jobs(
                spark, lambda: StreamingIngester(
                    spark, idx, upsert=True).process_batch(arrays, 1))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    return {"jobs": jobs, "gets": gets, "read_paths": read_paths,
            "paths": {"upsert_batch": upserted.postings,
                      "upsert_batch_array_field": array_batch.postings},
            "n_deleted": n_deleted, "upd": upd, "gone": gone,
            "pending_counts": pending,
            "merged_counts": merged_counts}


def test_write_job_runs_only_its_four_writes(write_path):
    assert write_path["jobs"]["write_job"] == 4


def test_upsert_batch_jobs(write_path):
    assert write_path["paths"]["upsert_batch"] == "driver"
    assert write_path["jobs"]["upsert_batch"] == 1


def test_upsert_batch_with_an_array_field_runs_the_spark_path(write_path):
    assert write_path["paths"]["upsert_batch_array_field"] == "spark"
    assert write_path["jobs"]["upsert_batch_array_field"] == 7


def test_delete_documents_jobs(write_path):
    assert write_path["n_deleted"] == len(write_path["gone"])
    assert write_path["jobs"]["delete"] == 0


def test_full_merge_jobs(write_path):
    assert write_path["jobs"]["full_merge"] == 6


def test_full_merge_applies_pending_deletions_exactly(write_path):
    """The merge drops exactly the deleted postings: every count equals
    the pre-merge engine's, which anti-joins the pending lists."""
    assert write_path["merged_counts"] == write_path["pending_counts"]
    assert all(write_path["pending_counts"].values())


def test_engine_open_jobs_read_no_lineage(write_path):
    assert write_path["jobs"]["engine_open"] == 2
    assert write_path["jobs"]["engine_open_pending"] == 2
    # no Spark read of lineage on any write-path call either
    lineage = os.sep + "lineage"
    assert not any(lineage in p for p in write_path["read_paths"])


def test_pending_get_served_by_driver_path(write_path):
    """With deletions pending, GETs of updated (two sidecar hits, the
    old one deleted), deleted and untouched keys equal the Spark scan
    and run no Spark job."""
    gets = write_path["gets"]
    assert len(gets) == 9
    for key, (want, got, n_jobs) in gets.items():
        assert got == want, key
        assert n_jobs == 0, key
    for key in write_path["upd"][:3]:
        assert gets[key][1]["text"].startswith("updated text"), key
    for key in write_path["gone"][:3]:
        assert gets[key][1] is None, key


def test_engine_open_reads_one_lineage_snapshot(spark, webtext, tmp_path,
                                                monkeypatch):
    """A job committing while an engine opens is either wholly visible
    or wholly invisible: postings, docs and field_stats all resolve
    from the one lineage snapshot the engine took."""
    idx = str(tmp_path / "snap_idx")
    build_index(spark, webtext.limit(40).select("url", "text", "lang"),
                idx, _cfg())
    layout = IndexLayout(idx)
    stats_before = layout.field_stats(layout.completed_jobs())
    real_lineage = IndexLayout.lineage
    reads = []

    def _lineage_then_commit(self):
        rows = real_lineage(self)
        reads.append(len(rows))
        if len(reads) == 1:
            # a concurrent writer commits job 7 right after the read
            for name in ("docs", "doc_index", "postings", "term_dict",
                         "field_stats"):
                shutil.copytree(layout.job_dir(name, 0),
                                layout.job_dir(name, 7))
            layout.commit_job(spark, {**rows[0], "job": 7})
        return rows

    monkeypatch.setattr(IndexLayout, "lineage", _lineage_then_commit)
    eng = SearchEngine(spark, idx)
    monkeypatch.setattr(IndexLayout, "lineage", real_lineage)
    assert reads == [1]
    assert eng._jobs == [0]
    for frame in (eng.postings, eng.docs):
        files = frame.inputFiles()
        assert files and not any("job=7" in f for f in files)
    assert eng.field_stats == stats_before
    assert eng.count() == 40
    # the next engine sees the committed job everywhere
    eng2 = SearchEngine(spark, idx)
    assert eng2._jobs == [0, 7]
    assert eng2.field_stats == {f: (2 * d, 2 * t)
                                for f, (d, t) in stats_before.items()}
