"""Webtext invariants + index-build structure + checkpoint/resume."""

import shutil

import numpy as np
from pyspark.sql import functions as F

from rusticsearch_spark.analysis.html_strip import html_to_text
from rusticsearch_spark.index.build import build_index
from rusticsearch_spark.index.codec import SEGMENT_BITS, decode_block
from rusticsearch_spark.index.layout import IndexConfig, IndexLayout


def test_text_is_byte_identical_strip_of_html(webtext):
    """The north-rule per-row invariant: extracted text per url is
    byte-identical to our strip UDF's output over the html column."""
    rows = webtext.select("url", "html", "text").collect()
    assert rows
    for r in rows:
        assert html_to_text(r.html) == r.text, r.url


def test_webtext_deterministic_across_builds(spark, webtext):
    from rusticsearch_spark.synth.webtext import webtext_table
    again = webtext_table(spark, "/root/testdata/sf0.001") \
        .orderBy("url").limit(200)
    a = {r.url: (bytes(r.html), r.text, r.lang) for r in webtext.collect()}
    b = {r.url: (bytes(r.html), r.text, r.lang) for r in again.collect()}
    assert a == b


def test_docids_dense_and_deterministic(spark, index_dir):
    docs = spark.read.parquet(index_dir + "/docs")
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    assert len(ids) == len(set(ids))
    # dense ordinals per bucket, bucket << 40 layout
    by_bucket = {}
    for d in ids:
        by_bucket.setdefault(d >> 40, []).append(d & ((1 << 40) - 1))
    for bucket, ords in by_bucket.items():
        assert sorted(ords) == list(range(len(ords)))


def test_posting_blocks_bounded_by_segment(spark, index_dir):
    """No block exceeds the 65,536-doc segment capacity and every
    decoded doc_id belongs to the block's segment — the explicit
    skew-salt property (a head term splits across segments)."""
    blocks = spark.read.parquet(index_dir + "/postings").collect()
    assert blocks
    for b in blocks:
        assert 0 < b.df_block <= (1 << SEGMENT_BITS)
        doc_ids, tfs, lens = decode_block(
            b.segment, b.doc_bytes, b.tf_bytes, b.len_bytes)
        assert len(doc_ids) == b.df_block == len(tfs) == len(lens)
        assert (doc_ids >> SEGMENT_BITS == b.segment).all()
        assert (np.diff(doc_ids) > 0).all()          # sorted unique
        assert tfs.sum() == b.sum_tf


def test_postings_match_brute_force_tf(spark, index_dir, oracle):
    """Decoded postings == the oracle's (term → doc → tf) map."""
    blocks = spark.read.parquet(index_dir + "/postings") \
        .where(F.col("field") == "text").collect()
    got = {}
    for b in blocks:
        doc_ids, tfs, _ = decode_block(
            b.segment, b.doc_bytes, b.tf_bytes, b.len_bytes)
        for d, t in zip(doc_ids.tolist(), tfs.tolist()):
            got[(b.term, d)] = t
    want = {(term, d): tf
            for term, m in oracle.postings["text"].items()
            for d, tf in m.items()}
    assert got == want


def test_field_stats_match_oracle(engine, oracle):
    for field in ("text", "lang"):
        d, t = engine.field_stats[field]
        assert d == oracle.field_docs[field]
        assert t == oracle.field_tokens[field]


def _logical_index(spark, path):
    """Index content as a comparable set (job layout independent)."""
    blocks = spark.read.parquet(path + "/postings").collect()
    postings = set()
    for b in blocks:
        doc_ids, tfs, lens = decode_block(
            b.segment, b.doc_bytes, b.tf_bytes, b.len_bytes)
        for d, t, l in zip(doc_ids.tolist(), tfs.tolist(), lens.tolist()):
            postings.add((b.field, b.term, d, t, l))
    stats = {(r.field): (r.d, r.t) for r in
             spark.read.parquet(path + "/field_stats")
             .groupBy("field").agg(F.sum("total_docs").alias("d"),
                                   F.sum("total_tokens").alias("t"))
             .collect()}
    return postings, stats


def test_multi_job_build_equals_single_job(spark, webtext, index_dir,
                                           tmp_path):
    """Checkpointed (jobs=4) build produces the identical logical
    index as the one-shot build — doc_ids are a pure function of the
    key set, so job granularity cannot change content."""
    path = str(tmp_path / "idx4")
    cfg = IndexConfig(key_col="url", fields={"text": "standard",
                                             "lang": None},
                      n_buckets=4, tbuckets=2, shuffle_partitions=4)
    build_index(spark, webtext, path, cfg, jobs=4)
    assert _logical_index(spark, path) == _logical_index(spark, index_dir)


def test_parallel_build_equals_serial(spark, webtext, index_dir,
                                      tmp_path):
    """Concurrent write_jobs (parallel=2, driver threads in separate
    scheduler pools) produce the identical logical index — job
    concurrency exists to overlap driver-serial stage transitions,
    never to change artifact content."""
    path = str(tmp_path / "idx_par")
    cfg = IndexConfig(key_col="url", fields={"text": "standard",
                                             "lang": None},
                      n_buckets=4, tbuckets=2, shuffle_partitions=4)
    report = build_index(spark, webtext, path, cfg, jobs=4, parallel=2)
    assert sorted(j["job"] for j in report["jobs"]) == [0, 1, 2, 3]
    assert IndexLayout(path).completed_jobs(spark) == [0, 1, 2, 3]
    assert _logical_index(spark, path) == _logical_index(spark, index_dir)


def test_resume_skips_committed_and_completes(spark, webtext, index_dir,
                                              tmp_path):
    """Kill-between-checkpoints simulation: build jobs 0-1 of 4, wipe
    job 1's lineage (simulating a crash after data write but before
    commit), resume → identical final index + job 1 rebuilt."""
    path = str(tmp_path / "idx_resume")
    cfg = IndexConfig(key_col="url", fields={"text": "standard",
                                             "lang": None},
                      n_buckets=4, tbuckets=2, shuffle_partitions=4)
    build_index(spark, webtext, path, cfg, jobs=4)
    layout = IndexLayout(path)
    assert layout.completed_jobs(spark) == [0, 1, 2, 3]
    # crash simulation: job 2 data present but uncommitted
    shutil.rmtree(layout.job_dir("lineage", 2))
    assert layout.completed_jobs(spark) == [0, 1, 3]
    report = build_index(spark, webtext, path, cfg, jobs=4, resume=True)
    assert [j["job"] for j in report["jobs"]] == [2]
    assert report["skipped_jobs"] == [0, 1, 3]
    assert layout.completed_jobs(spark) == [0, 1, 2, 3]
    assert _logical_index(spark, path) == _logical_index(spark, index_dir)


def test_term_bucket_sql_parity(spark):
    """JVM term_bucket_col == Python term_bucket on varied terms."""
    import random
    from pyspark.sql import functions as F
    from rusticsearch_spark.index.layout import term_bucket, term_bucket_col
    rng = random.Random(3)
    terms = (["the", "a", "", "don't", "3.14", "café", "日本語", "ΩΩ"]
             + ["".join(rng.choice("abcxyz019'.é日")
                        for _ in range(rng.randrange(1, 20)))
                for _ in range(200)])
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    for tb in (2, 8, 1024):
        got = {r["term"]: r["b"] for r in df.select(
            "term", term_bucket_col(F.col("term"), tb).alias("b"))
            .collect()}
        for t in set(terms):
            assert got[t] == term_bucket(t, tb), (t, tb)
