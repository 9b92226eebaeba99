"""term_dict sidecar + driver-side dictionary reader (the searcher's
in-memory TermDictionary, term_dictionary.rs:16-91)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_dict_reader_lookup_matches_postings(spark, index_dir):
    from rusticsearch_spark.index.layout import IndexLayout
    from rusticsearch_spark.index.term_dict import TermDictReader
    layout = IndexLayout(index_dir)
    rd = TermDictReader(layout)
    postings = spark.read.option(
        "basePath", layout.table("postings")).parquet(
        *layout.committed_dirs("postings", spark))
    rows = (postings.groupBy("field", "term")
            .agg(F.sum("df_block").alias("df"),
                 F.count("*").alias("nb"))
            .orderBy(F.desc("df")).limit(12).collect())
    pairs = [(r.field, r.term) for r in rows]
    got = rd.lookup(pairs)
    for r in rows:
        assert got[(r.field, r.term)] == (int(r.df), int(r.nb)), r.term
    # absent term: (0, 0) and excluded from the dict
    assert rd.lookup_one("text", "zzzznotaterm") == (0, 0)
    assert ("text", "zzzznotaterm") not in rd.lookup(
        [("text", "zzzznotaterm")])


def test_dict_reader_prefix_stats_matches_postings(spark, index_dir):
    from rusticsearch_spark.index.layout import IndexLayout
    from rusticsearch_spark.index.term_dict import TermDictReader
    layout = IndexLayout(index_dir)
    rd = TermDictReader(layout)
    postings = spark.read.option(
        "basePath", layout.table("postings")).parquet(
        *layout.committed_dirs("postings", spark))
    for prefix in ("sc", "me", "t"):
        want_terms = {r.term for r in postings
                      .where(F.col("term").startswith(prefix))
                      .select("term").distinct().collect()}
        want_tbs = {r.tbucket for r in postings
                    .where(F.col("term").startswith(prefix))
                    .select("tbucket").distinct().collect()}
        n, tbs = rd.prefix_stats(prefix)
        assert n == len(want_terms), prefix
        assert set(tbs) == want_tbs, prefix
    assert rd.prefix_stats("zzzznope") == (0, [])


def test_prefix_upper_bound_edge_cases():
    from rusticsearch_spark.index.term_dict import _prefix_upper
    assert _prefix_upper("abc") == "abd"
    assert _prefix_upper("a") == "b"
    # last char at the surrogate boundary skips the unencodable range
    assert _prefix_upper("x퟿") == "x"
    # max code point rolls to the previous position
    assert _prefix_upper("a\U0010FFFF") == "b"
    assert _prefix_upper("\U0010FFFF") is None
    # ordering property: upper bound caps exactly the prefix range
    for p in ("ab", "z", "éa"):
        hi = _prefix_upper(p)
        assert p < hi
        assert (p + "anything") < hi


def test_engine_uses_dict_reader(engine):
    assert engine.dict_reader is not None
    # term count goes through the dictionary (no Spark job): compare
    # with the count of the unscored term frame
    n_meta = engine.count({"term": {"text": "merge"}})
    kind, frame = engine._score(engine.parse({"term": {"text": "merge"}}),
                                needs_score=False)
    assert kind == "df"
    assert n_meta == frame.distinct().count() > 0
