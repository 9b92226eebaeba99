"""Incremental (streaming) ingest + job/segment compaction.

Property under test: a corpus ingested as N micro-batches, then
optionally compacted, returns the SAME search results (by document
key + score) as the one-shot batch build — the merge-equivalence the
reference asserts in its end-to-end test
(/root/reference/src/search/backends/rocksdb/mod.rs:420-582)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from rusticsearch_spark.index.layout import IndexConfig, IndexLayout
from rusticsearch_spark.index.merge import maintenance, merge_jobs
from rusticsearch_spark.query.engine import SearchEngine
from rusticsearch_spark.streaming.ingest import (StreamingIngester,
                                                 ingest_stream)

CFG = dict(key_col="url", fields={"text": "standard", "lang": None},
           n_buckets=4, tbuckets=2, shuffle_partitions=4)

QUERY = {"match": {"text": "spark query"}}


def _results_by_url(spark, index_dir, size=1000):
    eng = SearchEngine(spark, index_dir)
    top = eng.search(QUERY, size=size)
    joined = top.join(eng.docs.select("doc_id", "url"), "doc_id")
    return {(r.url, round(r.score, 5)) for r in joined.collect()}


@pytest.fixture(scope="module")
def stream_index(spark, webtext, tmp_path_factory):
    """Ingest the corpus as 3 file-stream micro-batches."""
    root = tmp_path_factory.mktemp("stream")
    src = str(root / "src")
    os.makedirs(src)
    parts = webtext.select("url", "text", "lang").randomSplit(
        [1.0, 1.0, 1.0], seed=7)
    for i, p in enumerate(parts):
        p.coalesce(1).write.parquet(f"{src}/chunk{i}")
    # one flat dir of parquet files, fed one file per trigger
    flat = str(root / "flat")
    os.makedirs(flat)
    for i, f in enumerate(sorted(glob.glob(f"{src}/chunk*/part-*.parquet"))):
        os.link(f, f"{flat}/{i}.parquet")
    schema = webtext.select("url", "text", "lang").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(flat))
    index_dir = str(root / "idx")
    q = ingest_stream(spark, stream, index_dir,
                      checkpoint_dir=str(root / "ckpt"),
                      config=IndexConfig(**CFG))
    q.processAllAvailable()
    q.stop()
    return index_dir


def test_stream_creates_one_job_per_batch(spark, stream_index):
    jobs = IndexLayout(stream_index).completed_jobs(spark)
    assert len(jobs) == 3
    assert all(j >= 100_000 for j in jobs)


def test_stream_results_equal_batch_build(spark, stream_index, index_dir):
    assert _results_by_url(spark, stream_index) == \
        _results_by_url(spark, index_dir)


def test_stream_doc_count(spark, stream_index, webtext):
    eng = SearchEngine(spark, stream_index)
    assert eng.count() == webtext.count()


def test_replayed_batch_is_idempotent(spark, stream_index, webtext):
    ing = StreamingIngester(spark, stream_index)
    before = SearchEngine(spark, stream_index).count()
    # re-deliver batch 0 (simulates checkpoint recovery replay)
    ing.process_batch(webtext.select("url", "text", "lang").limit(50), 0)
    assert SearchEngine(spark, stream_index).count() == before


def test_dedup_keys_skips_existing(spark, stream_index, webtext):
    ing = StreamingIngester(spark, stream_index)
    before = SearchEngine(spark, stream_index).count()
    # new batch made entirely of already-indexed urls → nothing added
    ing.process_batch(webtext.select("url", "text", "lang").limit(80), 99)
    assert SearchEngine(spark, stream_index).count() == before


def test_empty_batch_adds_nothing_in_any_lane(spark, webtext, tmp_path):
    """A batch that adds no document (every key already indexed)
    commits a lineage row and no data.  The Spark, local and sharded
    lanes then agree on counts and top-k ids, and an index whose only
    job is an empty batch answers 0 hits in every lane."""
    from rusticsearch_spark.query.local import LocalSearcher, ShardedSearcher
    docs = webtext.select("url", "text", "lang").limit(40)
    idx = str(tmp_path / "dup")
    ing = StreamingIngester(spark, idx, IndexConfig(**CFG))
    ing.process_batch(docs, 0)
    ing.process_batch(docs, 1)
    assert len(IndexLayout(idx).completed_jobs()) == 2
    eng, local, sharded = (SearchEngine(spark, idx), LocalSearcher(idx),
                           ShardedSearcher(idx))
    for q in (None, {"term": {"text": "spark"}}, QUERY):
        n = eng.count(q)
        assert n > 0 and local.count(q) == n and sharded.count(q) == n, q
        if q is None:
            continue
        ids = [r.doc_id for r in eng.search(q, size=60).collect()]
        assert len(set(ids)) == len(ids) == min(n, 60), q
        assert [d for d, _ in local.search(q, size=60)] == ids, q
        assert [d for d, _ in sharded.search(q, size=60)] == ids, q

    empty = str(tmp_path / "empty")
    StreamingIngester(spark, empty, IndexConfig(**CFG)).process_batch(
        docs.limit(0), 0)
    eng, local, sharded = (SearchEngine(spark, empty),
                           LocalSearcher(empty), ShardedSearcher(empty))
    for q in (None, {"term": {"text": "spark"}}, QUERY):
        assert eng.count(q) == local.count(q) == sharded.count(q) == 0, q
        if q is not None:
            assert eng.search(q, size=10).collect() == []
            assert local.search(q, size=10) == sharded.search(q, size=10) \
                == [], q


def test_merge_jobs_preserves_results(spark, stream_index, tmp_path):
    out = str(tmp_path / "merged")
    row = merge_jobs(spark, stream_index, out)
    assert row["status"] == "done"
    assert IndexLayout(out).completed_jobs(spark) == [0]
    assert _results_by_url(spark, out) == _results_by_url(spark,
                                                          stream_index)


def test_maintenance_compacts_and_swaps(spark, stream_index, tmp_path):
    import shutil
    work = str(tmp_path / "work_idx")
    shutil.copytree(stream_index, work)
    before = _results_by_url(spark, work)
    # 3 same-tier jobs < min_candidates=4 → policy declines
    assert maintenance(spark, work, min_candidates=4) is None
    retired = maintenance(spark, work, max_jobs=2)        # 3 jobs > 2
    assert retired is not None
    assert IndexLayout(work).completed_jobs(spark) == [0]
    assert _results_by_url(spark, work) == before


def test_maintenance_size_tiered_partial_merge(spark, stream_index,
                                               webtext, tmp_path):
    """The reference's size-tiered policy (maintenance.rs:14-54): the
    fullest tier merges when ≥3 candidates; jobs in other tiers stay
    untouched."""
    import shutil

    from rusticsearch_spark.streaming.ingest import StreamingIngester
    work = str(tmp_path / "tier_idx")
    shutil.copytree(stream_index, work)
    # add a tiny job in the 1-9 tier: stays out of the merge
    extra = (webtext.select("url", "text", "lang").limit(5)
             .withColumn("url", F.concat(F.lit("x://t/"), F.col("url"))))
    StreamingIngester(spark, work).process_batch(extra, 50)
    layout = IndexLayout(work)
    jobs_before = layout.completed_jobs(spark)
    before_count = SearchEngine(spark, work).count()
    before = _results_by_url(spark, work)

    assert maintenance(spark, work) is not None
    jobs_after = layout.completed_jobs(spark)
    # the three same-tier stream jobs merged into one; the tiny job
    # (and any empty-batch lineage rows) survive untouched
    assert len(jobs_after) == len(jobs_before) - 3 + 1
    assert SearchEngine(spark, work).count() == before_count
    assert _results_by_url(spark, work) == before


def test_select_merge_candidates_policy():
    from rusticsearch_spark.index.merge import select_merge_candidates
    # fullest tier wins; largest-first fill; budget respected
    sizes = {1: 5, 2: 7, 3: 3, 4: 500, 5: 600}
    assert select_merge_candidates(sizes) == [1, 2, 3]
    assert select_merge_candidates({1: 5, 2: 7}) == []      # < 3
    assert select_merge_candidates({}) == []
    # budget: huge jobs can't all fit in one 65,536-doc merge
    big = {i: 30_000 for i in range(4)}
    chosen = select_merge_candidates(big)
    assert len(chosen) == 0 or sum(big[j] for j in chosen) <= 65_536 \
        or len(chosen) == 1


def test_partial_merge_job_id_not_reused_and_crash_invisible(
        spark, stream_index, webtext, tmp_path):
    """Two hardening rules of the visibility protocol:

    * new partial-merge job ids come from ALL lineage rows, so a
      zero-doc streaming batch holding the max id is never clobbered;
    * job data with NO committed lineage row (crashed writer) is
      invisible to readers (SearchEngine + LocalSearcher resolve dirs
      via committed lineage, not job=* glob).
    """
    import shutil

    from rusticsearch_spark.query.local import LocalSearcher
    from rusticsearch_spark.streaming.ingest import StreamingIngester
    work = str(tmp_path / "guard_idx")
    shutil.copytree(stream_index, work)
    layout = IndexLayout(work)
    # a tiny job in another tier keeps the merge PARTIAL
    extra = (webtext.select("url", "text", "lang").limit(5)
             .withColumn("url", F.concat(F.lit("x://g/"), F.col("url"))))
    StreamingIngester(spark, work).process_batch(extra, 98)
    # zero-doc batch: lineage row exists with the max job id, no data
    empty = webtext.select("url", "text", "lang").limit(0)
    StreamingIngester(spark, work).process_batch(empty, 99)
    jobs = layout.completed_jobs(spark)
    zero_job = max(jobs)
    before = _results_by_url(spark, work)

    new_job = maintenance(spark, work)
    assert isinstance(new_job, int) and new_job > zero_job
    assert zero_job in layout.completed_jobs(spark)   # not clobbered
    assert _results_by_url(spark, work) == before

    # crashed job: data dir present, no lineage row → invisible
    n_before = SearchEngine(spark, work).count()
    src_docs = layout.job_dir("docs", new_job)
    shutil.copytree(src_docs, layout.job_dir("docs", new_job + 7))
    shutil.copytree(layout.job_dir("postings", new_job),
                    layout.job_dir("postings", new_job + 7))
    assert SearchEngine(spark, work).count() == n_before
    assert LocalSearcher(work).count() == n_before
