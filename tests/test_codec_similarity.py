"""Codec round-trips + similarity-math goldens.

Similarity property assertions ported from
/root/reference/src/search/similarity.rs:39-127; term-encoding byte
goldens from /root/reference/src/search/term.rs:55-137.
"""

from datetime import datetime, timezone

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from rusticsearch_spark import similarity as sim
from rusticsearch_spark import terms
from rusticsearch_spark.index import codec


# --- varbyte / block codec -------------------------------------------------

@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=200))
@settings(max_examples=50, deadline=None)
def test_varbyte_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert codec.varbyte_decode(codec.varbyte_encode(arr)).tolist() == values


def test_varbyte_empty():
    assert codec.varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert codec.varbyte_decode(b"").tolist() == []


@given(st.lists(st.integers(min_value=0, max_value=codec.SEGMENT_SIZE - 1),
                min_size=1, max_size=300, unique=True),
       st.integers(min_value=0, max_value=2**40))
@settings(max_examples=50, deadline=None)
def test_block_roundtrip(locals_, segment):
    locals_ = sorted(locals_)
    doc_ids = np.array([(segment << codec.SEGMENT_BITS) + l for l in locals_],
                       dtype=np.int64)
    tfs = np.arange(1, len(locals_) + 1, dtype=np.int64)
    lens = (np.arange(len(locals_)) % 256).astype(np.int64)
    db, tb, lb = codec.encode_block(doc_ids, tfs, lens)
    d2, t2, l2 = codec.decode_block(segment, db, tb, lb)
    assert d2.tolist() == doc_ids.tolist()
    assert t2.tolist() == tfs.tolist()
    assert l2.tolist() == lens.tolist()


def test_block_encode_sorts_input():
    doc_ids = np.array([5, 3, 9], dtype=np.int64)
    tfs = np.array([50, 30, 90], dtype=np.int64)
    lens = np.array([5, 3, 9], dtype=np.int64)
    db, tb, lb = codec.encode_block(doc_ids, tfs, lens)
    d2, t2, l2 = codec.decode_block(0, db, tb, lb)
    assert d2.tolist() == [3, 5, 9]
    assert t2.tolist() == [30, 50, 90]
    assert l2.tolist() == [3, 5, 9]


# --- length quantization (segment_builder.rs:97-103 + search/mod.rs:92-99)

def test_length_byte():
    assert sim.length_byte(0) == 0       # negative → saturate to 0
    assert sim.length_byte(1) == 0       # (1-1)*3 = 0 → omitted
    assert sim.length_byte(4) == 3       # (2-1)*3
    assert sim.length_byte(100) == 27    # (10-1)*3
    assert sim.length_byte(10**9) == 255  # clamp
    # truncation, not rounding: n=2 → (1.414-1)*3 = 1.24 → 1
    assert sim.length_byte(2) == 1


def test_length_byte_matches_the_sql_expression(spark):
    """The build quantizes lengths with ``length_byte_sql`` (double
    math) on Spark and with ``length_byte`` (f32 math) on the driver
    (``build.write_postings_driver``): both must give every token count
    up to 200,000 the same byte (from n = 7,396 on, both clamp to 255)."""
    from pyspark.sql import functions as F
    n = 200_000
    got = np.asarray([r.b for r in spark.range(n + 1).orderBy("id").select(
        F.expr(sim.length_byte_sql("id")).alias("b")).collect()])
    want = np.fromiter(map(sim.length_byte, range(n + 1)), dtype=np.int64)
    assert got.size == n + 1
    assert np.flatnonzero(got != want).tolist() == []


def test_length_from_byte():
    assert sim.length_from_byte(0) == np.float32(1.0)
    assert sim.length_from_byte(None) == np.float32(1.0)
    ls = np.float32(27) / np.float32(3.0) + np.float32(1.0)
    assert sim.length_from_byte(27) == ls * ls


# --- similarity properties (similarity.rs:39-127) --------------------------

def test_tfidf_properties():
    assert sim.tfidf_f32(2, 10, 5) > sim.tfidf_f32(1, 10, 5)
    assert sim.tfidf_f32(1, 10, 5) > sim.tfidf_f32(1, 10, 10)
    assert np.isfinite(sim.tfidf_f32(0, 0, 0))


def test_bm25_properties():
    def score(tf, length, total_tokens, total_docs, df):
        return sim.bm25_f32(tf, length, total_tokens, total_docs, df)
    assert score(2, 40.0, 100, 10, 5) > score(1, 40.0, 100, 10, 5)
    assert score(1, 40.0, 100, 10, 5) > score(1, 40.0, 100, 10, 10)
    assert score(1, 40.0, 100, 20, 5) > score(1, 100.0, 100, 20, 5)
    assert score(1, 40.0, 1000, 20, 5) > score(1, 40.0, 100, 20, 5)
    assert np.isfinite(sim.bm25_f32(0, 0.0, 0, 0, 0, k1=0.0, b=0.0))


def test_bm25_f32_dtype():
    out = sim.bm25_f32(np.array([1, 2, 3]), np.array([1.0, 4.0, 9.0]),
                       100, 10, 5)
    assert out.dtype == np.float32


# --- term encodings (term.rs:55-137) ---------------------------------------

def test_term_from_string():
    assert terms.term_from_string("foo") == bytes([102, 111, 111])


def test_term_from_boolean():
    assert terms.term_from_boolean(True) == b"t"
    assert terms.term_from_boolean(False) == b"f"


def test_term_from_integer():
    assert terms.term_from_integer(123) == (123).to_bytes(8, "little")
    assert terms.term_from_integer(-1) == b"\xff" * 8


def test_term_from_datetime():
    dt = datetime(2016, 7, 23, 0, 0, 0, tzinfo=timezone.utc)
    expected = int(dt.timestamp()) * 1_000_000
    assert terms.term_from_datetime(dt) == expected.to_bytes(8, "little")
    # with micros
    dt2 = datetime(2016, 7, 23, 0, 0, 0, 123456, tzinfo=timezone.utc)
    assert terms.term_from_datetime(dt2) == (
        expected + 123456).to_bytes(8, "little")
    # naive treated as UTC
    assert terms.term_from_datetime(
        datetime(2016, 7, 23)) == expected.to_bytes(8, "little")
