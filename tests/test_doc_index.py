"""doc_index PK sidecar: bucket-pruned point lookups for upsert and
delete (the reference's k<doc_key> document index,
document_index.rs:16-91 / key_builder.rs:118-134)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _cfg(kbuckets=8):
    from rusticsearch_spark.index.layout import IndexConfig
    return IndexConfig(key_col="url",
                       fields={"text": "standard", "lang": None},
                       n_buckets=4, tbuckets=2, shuffle_partitions=4,
                       kbuckets=kbuckets)


def _path(uri):
    from urllib.parse import urlparse
    return urlparse(uri).path


def _files_under(root):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(".parquet")]
    return out


def test_build_writes_doc_index_and_resolve_matches_docs(
        spark, webtext, tmp_path):
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.doc_index import resolve_keys
    from rusticsearch_spark.index.layout import IndexLayout
    path = str(tmp_path / "di_idx")
    build_index(spark, webtext.limit(60), path, _cfg(), jobs=2)
    layout = IndexLayout(path)
    cfg = layout.read_config()
    # sidecar exists for every committed docs job
    for j in layout.completed_jobs(spark):
        assert os.path.isdir(layout.job_dir("doc_index", j))
    # resolve agrees with the ground-truth docs table for every key
    docs = spark.read.option("basePath", layout.table("docs")).parquet(
        *layout.committed_dirs("docs", spark))
    want = {(r.url, r.doc_id) for r in docs.select("url", "doc_id")
            .collect()}
    got = {(r.url, r.doc_id) for r in resolve_keys(
        spark, layout, cfg, docs.select("url")).collect()}
    assert got == want


def test_resolve_keys_prunes_kbucket_partitions(spark, webtext, tmp_path):
    """A single-key lookup must read only its kbucket partition — the
    scanned file set is a strict subset of the sidecar's files."""
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.doc_index import resolve_keys
    from rusticsearch_spark.index.layout import IndexLayout
    path = str(tmp_path / "di_prune")
    build_index(spark, webtext.limit(60), path, _cfg(kbuckets=8), jobs=1)
    layout = IndexLayout(path)
    cfg = layout.read_config()
    victim = webtext.select("url").first().url
    # the kbucket filter resolve_keys applies must prune the scan to a
    # strict subset of the sidecar's files (input_file_name is read on
    # the scan itself — post-join provenance is empty by design)
    from rusticsearch_spark.index.doc_index import key_bucket_col
    b = (spark.createDataFrame([(victim,)], "url string")
         .select(key_bucket_col(F.col("url"), cfg.kbuckets).alias("b"))
         .collect()[0].b)
    idx_dirs = layout.committed_dirs("doc_index", spark)
    scan = (spark.read.option("basePath", layout.table("doc_index"))
            .parquet(*idx_dirs).where(F.col("kbucket") == b))
    read_files = {_path(r.f) for r in scan
                  .select(F.input_file_name().alias("f")).distinct()
                  .collect()}
    all_files = set(_files_under(layout.table("doc_index")))
    assert len(all_files) > 1          # multiple kbucket partitions
    assert read_files                  # the bucket holds rows
    assert read_files < all_files      # strict subset: pruning engaged
    resolved = resolve_keys(
        spark, layout, cfg,
        spark.createDataFrame([(victim,)], "url string"))
    rows = resolved.collect()
    assert len(rows) == 1 and rows[0].url == victim


def test_streaming_upsert_scans_only_matching_buckets(
        spark, webtext, tmp_path):
    """The upsert delete-mark lookup goes through the sidecar: its
    plan prunes kbucket partitions instead of scanning all docs."""
    from rusticsearch_spark.index.doc_index import resolve_keys
    from rusticsearch_spark.index.layout import IndexLayout
    from rusticsearch_spark.query.engine import SearchEngine
    from rusticsearch_spark.streaming.ingest import StreamingIngester
    path = str(tmp_path / "di_ups")
    docs = webtext.select("url", "text", "lang").limit(40)
    ing = StreamingIngester(spark, path, _cfg(kbuckets=8), upsert=True)
    ing.process_batch(docs, 0)
    victim = docs.first()
    updated = spark.createDataFrame(
        [(victim.url, "sidecar pruned upsert quokka", "en")],
        "url string, text string, lang string")
    ing.process_batch(updated, 1)
    eng = SearchEngine(spark, path)
    assert eng.count() == 40            # replaced, not duplicated
    hits = eng.hits({"term": {"text": "quokka"}}, size=5)
    assert [h["key"] for h in hits] == [victim.url]
    # the sidecar-backed lookup the ingester used reads a strict
    # subset of the sidecar partitions (checked at the scan, where
    # file provenance survives)
    layout = IndexLayout(path)
    cfg = layout.read_config()
    from rusticsearch_spark.index.doc_index import key_bucket_col
    b = (spark.createDataFrame([(victim.url,)], "url string")
         .select(key_bucket_col(F.col("url"), cfg.kbuckets).alias("b"))
         .collect()[0].b)
    idx_dirs = layout.committed_dirs("doc_index", spark)
    scan = (spark.read.option("basePath", layout.table("doc_index"))
            .parquet(*idx_dirs).where(F.col("kbucket") == b))
    read_files = {_path(r.f) for r in scan
                  .select(F.input_file_name().alias("f")).distinct()
                  .collect()}
    all_files = set(_files_under(layout.table("doc_index")))
    assert read_files and read_files < set(all_files)
    # and resolve_keys itself returns both live generations of the key
    resolved = resolve_keys(
        spark, layout, cfg,
        spark.createDataFrame([(victim.url,)], "url string"))
    assert resolved.count() == 2        # original + upserted doc rows


def test_legacy_index_without_sidecar_falls_back(spark, webtext, tmp_path):
    """An index without a format stamp predates the sidecars, and no
    reader keeps a path for it: ``read_config``, the engine and the
    key-resolving delete all refuse it with a reindex error, before
    any read or write."""
    import json
    import shutil
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.delete import delete_documents
    from rusticsearch_spark.index.layout import IndexLayout
    from rusticsearch_spark.query.engine import SearchEngine
    path = str(tmp_path / "di_legacy")
    build_index(spark, webtext.limit(30), path, _cfg(), jobs=1)
    layout = IndexLayout(path)
    for j in layout.completed_jobs(spark):
        shutil.rmtree(layout.job_dir("doc_index", j))
    with open(layout.config_path) as f:
        raw = json.load(f)
    del raw["index_format"]
    with open(layout.config_path, "w") as f:
        json.dump(raw, f)
    victim = webtext.select("url").first().url
    with pytest.raises(ValueError, match="reindex"):
        layout.read_config()
    with pytest.raises(ValueError, match="reindex"):
        SearchEngine(spark, path)
    with pytest.raises(ValueError, match="reindex"):
        delete_documents(spark, path, keys=[victim])
    assert layout.deletion_dirs() == []


def test_delete_by_key_uses_sidecar(spark, webtext, tmp_path):
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.delete import delete_documents
    from rusticsearch_spark.query.engine import SearchEngine
    path = str(tmp_path / "di_del")
    build_index(spark, webtext.limit(30), path, _cfg(), jobs=1)
    victim = webtext.select("url").first().url
    assert delete_documents(spark, path, keys=[victim]) == 1
    eng = SearchEngine(spark, path)
    assert eng.count() == 29
    # deleting again is a no-op (document_index.rs:96-110)
    assert delete_documents(spark, path, keys=[victim]) == 0


def test_merge_preserves_sidecar(spark, webtext, tmp_path):
    from rusticsearch_spark.index.build import build_index
    from rusticsearch_spark.index.doc_index import resolve_keys
    from rusticsearch_spark.index.layout import IndexLayout
    from rusticsearch_spark.index.merge import merge_jobs
    path = str(tmp_path / "di_mrg")
    out = str(tmp_path / "di_mrg_out")
    build_index(spark, webtext.limit(40), path, _cfg(), jobs=2)
    merge_jobs(spark, path, out)
    layout = IndexLayout(out)
    cfg = layout.read_config()
    assert os.path.isdir(layout.job_dir("doc_index", 0))
    docs = spark.read.parquet(layout.job_dir("docs", 0))
    want = {(r.url, r.doc_id) for r in docs.select("url", "doc_id")
            .collect()}
    got = {(r.url, r.doc_id) for r in resolve_keys(
        spark, layout, cfg, docs.select("url")).collect()}
    assert got == want


def test_xxhash64_parity(spark):
    """Driver-side XXH64 must agree bit-for-bit with Spark's
    xxhash64 over strings — every length class (empty, <4, <8, <32,
    >=32 incl. multi-stripe) plus non-ASCII — and over int64 and int32
    values (0, ±1, the extremes, random), as the key hash encodes
    them."""
    import random
    import string as _string

    import pyarrow as pa
    from pyspark.sql import functions as F

    from rusticsearch_spark.index.doc_index import (key_encoder,
                                                    xxhash64_bytes,
                                                    xxhash64_str)
    rng = random.Random(7)
    cases = ["", "a", "abc", "abcd", "abcdefg", "abcdefgh",
             "x" * 31, "y" * 32, "z" * 100,
             "héllo wörld ünïcode ✓ 東京",
             "https://src7.example.org/r0/doc/27"]
    cases += ["".join(rng.choices(_string.printable, k=rng.randint(0, 200)))
              for _ in range(40)]
    df = spark.createDataFrame([(c,) for c in cases], "s string") \
        .select("s", F.xxhash64("s").alias("h"))
    for r in df.collect():
        assert xxhash64_str(r.s) == r.h, r.s
    for arrow_type, spark_type in ((pa.int64(), "long"), (pa.int32(), "int")):
        bits = arrow_type.bit_width
        lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
        values = [0, 1, -1, lo, hi, lo + 1, hi - 1]
        values += [rng.randint(lo, hi) for _ in range(40)]
        encode = key_encoder(arrow_type)
        rows = spark.createDataFrame([(v,) for v in values],
                                     f"v {spark_type}") \
            .select("v", F.xxhash64("v").alias("h")).collect()
        assert len(rows) == len(values)
        for r in rows:
            assert xxhash64_bytes(encode(r.v)) == r.h, (spark_type, r.v)


def test_get_document_zero_spark_jobs(spark, webtext, tmp_path):
    """GET through the Cluster serves from the doc_index sidecar with
    ZERO Spark jobs, and returns exactly what the Spark scan path
    returns (VERDICT r6 #5 / document_index.rs:71-91)."""
    from pyspark.sql import functions as F

    from rusticsearch_spark.cluster import Cluster
    c = Cluster(spark, str(tmp_path / "getdoc_cluster"))
    c.create_index("pages", {"properties": {
        "text": {"type": "string"},
        "lang": {"type": "string", "index": "not_analyzed"}}},
        key_col="url")
    c.bulk("pages", webtext.limit(40).select("url", "text", "lang"),
           key_col="url", n_buckets=4, tbuckets=2, shuffle_partitions=4)
    eng = c.engine("pages")
    keys = [r.url for r in
            webtext.limit(40).select("url").collect()][:5]
    # ground truth via the Spark scan path
    want = {}
    for k in keys:
        rows = eng.docs.where(F.col("url") == k).limit(1).collect()
        want[k] = rows[0].asDict() if rows else None
    tracker = spark.sparkContext.statusTracker()
    group = "getdoc_zero_jobs"
    spark.sparkContext.setJobGroup(group, "get_document")
    before = set(tracker.getJobIdsForGroup(group))
    got = {k: c.get_document("pages", k) for k in keys}
    missing = c.get_document("pages", "https://missing.example.org/x")
    after = set(tracker.getJobIdsForGroup(group))
    spark.sparkContext.setJobGroup(None, None)
    assert after == before, "get_document launched a Spark job"
    assert missing is None
    assert got == want


def test_get_document_non_string_key(spark, tmp_path):
    """A long key column is kbucketed by Spark's hash of the native
    type, which the driver reproduces: GET finds every document with
    zero Spark jobs, whether the key arrives as an int or as its
    string form — including keys whose string-hash bucket holds no
    sidecar partition at all."""
    from rusticsearch_spark.cluster import Cluster
    from rusticsearch_spark.index.doc_index import xxhash64_str
    c = Cluster(spark, str(tmp_path / "intkey_cluster"))
    c.create_index("nums", {"properties": {"text": {"type": "string"}}},
                   key_col="id")
    rows = [(i, f"document number {i}") for i in range(1, 9)]
    c.bulk("nums", spark.createDataFrame(rows, "id long, text string"),
           key_col="id", n_buckets=2, tbuckets=2, shuffle_partitions=2)
    eng = c.engine("nums")
    present = {int(d.split("=")[1]) for j in eng._jobs
               for d in os.listdir(eng.layout.job_dir("doc_index", j))
               if d.startswith("kbucket=")}
    assert any(xxhash64_str(str(i)) % eng.config.kbuckets not in present
               for i, _ in rows)
    sc = spark.sparkContext
    group = "getdoc_long_key"
    sc.setJobGroup(group, "get_document")
    try:
        got = {(i, key): c.get_document("nums", key)
               for i, _ in rows for key in (i, str(i))}
        missing = (c.get_document("nums", 99),
                   c.get_document("nums", "not a number"))
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    for i, text in rows:
        for key in (i, str(i)):
            assert got[(i, key)] is not None, key
            assert (got[(i, key)]["id"], got[(i, key)]["text"]) == (i, text)
    assert missing == (None, None)


def test_get_document_same_keys_across_job_schemas(spark, tmp_path):
    """Two jobs with different stored columns (a stored field added
    between streamed batches): the driver GET returns exactly the
    Spark scan's row — the same keys (the docs frame's columns, None
    where a job did not store one) and values.  The docs frame merges
    the jobs' schemas, so the later job's ``author`` is readable from
    both paths."""
    from rusticsearch_spark.cluster import Cluster
    from rusticsearch_spark.index.layout import IndexLayout
    from rusticsearch_spark.streaming.ingest import StreamingIngester
    c = Cluster(spark, str(tmp_path / "schema_cluster"))
    c.create_index("pages", {"properties": {"text": {"type": "string"}}},
                   key_col="url")
    StreamingIngester(spark, c._dir("pages"), _cfg()).process_batch(
        spark.createDataFrame(
            [("https://a.example/1", "first job text", "en")],
            "url string, text string, lang string"), 0)
    layout = IndexLayout(c._dir("pages"))
    cfg = layout.read_config()
    cfg.stored = list(cfg.stored) + ["author"]
    layout.write_config(cfg)
    StreamingIngester(spark, c._dir("pages")).process_batch(
        spark.createDataFrame(
            [("https://b.example/2", "second job text", "fr", "ann")],
            "url string, text string, lang string, author string"), 1)
    eng = c.engine("pages")
    for key, author in (("https://a.example/1", None),
                        ("https://b.example/2", "ann")):
        want = eng.docs.where(F.col("url") == key).limit(1).collect()
        got = c.get_document("pages", key)
        assert want and got == want[0].asDict(), key
        assert list(got) == eng.docs.columns
        assert want[0]["author"] == author and got["author"] == author
