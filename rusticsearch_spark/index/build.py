"""Distributed inverted-index construction.

Re-expresses the reference's indexing path
(/root/reference/src/search/backends/rocksdb/segment_builder.rs:53-132
feeding mod.rs:212-280, merged by segment_ops.rs:36-289) as one
declarative Spark pipeline:

1. **doc-id assignment** — ``bucket = pmod(xxhash64(url), n_buckets)``,
   dense ordinal within bucket by url order, so
   ``doc_id = bucket << 40 | ordinal`` is a *pure function of the key
   set* (deterministic run-over-run: required for resumable builds and
   rank-identical outputs).  The reference packs
   ``segment << 16 | local`` (src/search/document.rs:10-22); we keep
   ``segment = doc_id >> 16`` so every segment holds ≤ 65,536 docs —
   the same structural constant (segment_ops.rs:260-262).
2. **analysis** — one fused Arrow-batched pandas UDF per field
   computes (term, tf) pairs + the quantized length byte *inside the
   map stage*, so raw token occurrences never shuffle (map-side
   combine of the reference's per-doc TermVector build).
3. **posting encode** — ONE shuffle on ``(field, term, segment)``.
   The *segment* component is the explicit skew salt: a head term
   ("the") appearing in every document splits into one group per
   65,536-doc segment, so no reducer ever sees more than 65,536
   postings for one key.  Groups are delta+varbyte encoded
   (``index.codec``) with per-block ``(df_block, sum_tf)`` metadata.
4. **layout** — the within-partition sort leads with the term's
   tbucket, so the encoded blocks stream out already clustered for
   the ``tbucket=`` Hive partitions and term-sorted in every file:
   queries prune by directory, then by parquet min/max on ``term``.
   The merge (``index.merge``) re-encodes through this same step
   (``write_postings``).
5. **commit** — per-job lineage row written last (atomic activate,
   mirroring segment_ops.rs:216-235).

Jobs = checkpoint granularity: each job owns a contiguous range of
url-hash buckets and is independently restartable; ``resume=True``
skips committed jobs (the anti-join is on the lineage table).
"""

from __future__ import annotations

import os
import time
from typing import Dict, List, NamedTuple, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analysis.analyzers import Analyzer, AnalyzerRegistry, parse_analysis_settings
from .codec import (BUCKET_SHIFT, LOCAL_MASK, SEGMENT_BITS,
                    varbyte_encode_offsets)
from .layout import IndexConfig, IndexLayout, qname, term_bucket_col

POSTINGS_SCHEMA = T.StructType([
    T.StructField("field", T.StringType()),
    T.StructField("term", T.StringType()),
    T.StructField("segment", T.LongType()),
    T.StructField("tbucket", T.IntegerType()),
    T.StructField("df_block", T.IntegerType()),
    T.StructField("sum_tf", T.LongType()),
    T.StructField("doc_bytes", T.BinaryType()),
    T.StructField("tf_bytes", T.BinaryType()),
    T.StructField("len_bytes", T.BinaryType()),
])


# --- JVM-native tokenization fast path -------------------------------
#
# On web text the analyzer chain is the ONLY Python in the build; a
# per-doc Python regex loop caps scaling (the Arrow hop + GIL-bound
# worker competes with the JVM for the same cores).  For the standard
# / lowercase / simple analyzers, rows whose text contains no
# *non-ASCII word-relevant* character tokenize identically under a
# pure-SQL expression (whole-stage codegen, zero Python):
#
# * every non-ASCII letter / number / combining mark would land INSIDE
#   a token (chain output differs) — route those rows to the UDF;
# * the curly apostrophe U+2019 is a MidLetter joiner that asciifold
#   maps to "'" — route to the UDF;
# * surrogates / private-use are unclassifiable — route to the UDF;
# * every OTHER non-ASCII char (symbols ©™, punctuation, dashes,
#   NBSP, ...) is a separator in both paths, so the ASCII word regex
#   is exact, the tokens are pure ASCII, lower() == str.lower(), and
#   asciifold is a no-op.
#
# Parity Python-chain == SQL-chain on safe rows is pinned by
# tests/test_sql_tokenize_parity.py (goldens + randomized).
SQL_UNSAFE_CHAR = "[[^\\x00-\\x7F]&&[\\p{L}\\p{N}\\p{M}\\p{Cs}\\p{Co}’]]"
ASCII_WORD_PATTERN = "[A-Za-z0-9_]+(?:['.,:][A-Za-z0-9_]+)*"


def sql_terms_column(sql_kind: str, col) -> "F.Column":
    """The analyzer chain as a native SQL Column (see above)."""
    if sql_kind == "word_lower":        # standard / lowercase analyzers
        return F.transform(
            F.regexp_extract_all(col, F.lit(ASCII_WORD_PATTERN), F.lit(0)),
            F.lower)
    if sql_kind == "simple":
        return F.regexp_extract_all(F.lower(col), F.lit("[a-z0-9]+"),
                                    F.lit(0))
    raise ValueError(f"unknown sql_kind: {sql_kind!r}")


def _registry(config: IndexConfig) -> AnalyzerRegistry:
    if config.analysis_settings:
        return parse_analysis_settings(config.analysis_settings)
    return AnalyzerRegistry()


def tokenize_udf(analyzer: Analyzer):
    """text → array<string> of analyzed terms (duplicates preserved).

    The ONLY Python in the indexing hot path, and only for rows the
    SQL fast path can't take (non-ASCII word characters).  Term
    frequencies are NOT counted here — the partial aggregation after
    explode combines them map-side.
    """
    analyze_terms = analyzer.terms

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _tok(texts: pd.Series) -> pd.Series:
        return pd.Series([analyze_terms(t) for t in texts])

    return _tok


def tokenize_array_udf(analyzer: Analyzer):
    """array<string> → analyzed terms of every non-null item,
    concatenated in item order — the reference's multi-valued field
    merge (/root/reference/src/mapping/mod.rs:192-227: each item's
    tokens appended with offset positions; with tf+length storage the
    observable result is summed tf and total token count)."""
    analyze_terms = analyzer.terms

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _tok(arrs: pd.Series) -> pd.Series:
        return pd.Series([
            [t for item in (a if a is not None else [])
             if item is not None for t in analyze_terms(item)]
            for a in arrs])

    return _tok


def assign_doc_ids(docs: DataFrame, key_col: str, n_buckets: int,
                   bucket_base: int = 0) -> DataFrame:
    """Deterministic dense doc ids: one shuffle (window by bucket).

    Never ``monotonically_increasing_id`` — ids must be stable across
    retries/resumes.  Each bucket's ordinal space is 2^40; buckets are
    the unit of parallelism, so ``n_buckets`` scales with corpus size
    (2^16+ at trillion-doc scale).  ``bucket_base`` offsets the bucket
    namespace (streaming batches get disjoint namespaces).

    Nested-TYPE child rows bucket by their ROOT document's key
    (``_nested_root``, mapping.prepare_docs), not their own synthetic
    ``parent#path#pos`` key, so a document and its ENTIRE descendant
    chain land in the same bucket — hence the same build job — making
    every per-job document shard parent-complete at every nesting
    level (the property sharded serving evaluates against).  Both
    branches of the coalesce are string-typed: prepare_docs casts the
    key column to string whenever nested paths exist.
    """
    if "_nested_root" in docs.columns:
        basis = F.coalesce(F.col("_nested_root"), F.col(key_col))
    else:
        basis = F.col(key_col)
    bucket = (F.pmod(F.xxhash64(basis), F.lit(n_buckets))
              + F.lit(bucket_base))
    w = Window.partitionBy("_bucket").orderBy(key_col)
    return (docs
            .withColumn("_bucket", bucket.cast("long"))
            .withColumn("_ord", F.row_number().over(w).cast("long") - 1)
            .withColumn("doc_id", F.shiftleft(F.col("_bucket"), BUCKET_SHIFT)
                        + F.col("_ord"))
            .drop("_ord"))


def _encode_partitions_arrow(field_names: List[str]):
    """mapInArrow encoder for the build path: zero pandas, zero
    per-row Python objects, no per-group Python loop.

    Input partitions arrive sorted by (tbucket, field_ord, term,
    segment, doc_id) with JVM-computed ``tbucket`` and ``gkey =
    xxhash64(field_ord, term, segment)``; group (= posting block)
    boundaries are int64 comparisons in numpy (C speed).  Duplicate
    doc_id rows within a group ARE the term frequency (run-length —
    the input sort makes them adjacent).  Because the input is
    tbucket-then-term sorted, the OUTPUT blocks stream out already
    clustered for the ``partitionBy(tbucket)`` layout write — the
    build needs exactly ONE shuffle end to end.  ``field_names`` maps
    the shuffled field ordinal back to the field name.  Collision
    note: a boundary is missed only if two *adjacent* distinct keys
    share an xxhash64 — ~2^-64 per boundary, negligible at any
    corpus size.
    """
    import pyarrow as pa

    out_schema = pa.schema([
        ("field", pa.string()), ("term", pa.string()),
        ("segment", pa.int64()), ("tbucket", pa.int32()),
        ("df_block", pa.int32()), ("sum_tf", pa.int64()),
        ("doc_bytes", pa.binary()), ("tf_bytes", pa.binary()),
        ("len_bytes", pa.binary()),
    ])

    def _encode_table(tbl: "pa.Table"):
        # caller hands a combine_chunks()ed table: single-chunk columns
        def _arr(name):
            return tbl.column(name).chunk(0)

        gk = tbl.column("gkey").to_numpy()
        doc = tbl.column("doc_id").to_numpy()
        lb0 = tbl.column("len_byte").to_numpy()
        tf0 = tbl.column("tf").to_numpy().astype(np.int64)
        n = len(gk)
        # group (= block) boundaries: gkey change points.  Rows arrive
        # doc_id-sorted per group; duplicate (group, doc) rows merge
        # here by SUMMING tf (run-length over the sort) — correct for
        # both raw occurrence rows (tf=1 each) and map-side
        # pre-counted rows (no duplicates).
        change = np.empty(n, dtype=bool)
        change[0] = True
        np.not_equal(gk[1:], gk[:-1], out=change[1:])
        new_post = change.copy()
        new_post[1:] |= doc[1:] != doc[:-1]
        p_starts = np.nonzero(new_post)[0]            # row idx per posting
        if p_starts.size == n:                        # no duplicates
            tf, lb = tf0, lb0
        else:
            tf = np.add.reduceat(tf0, p_starts)
            lb = lb0[p_starts]
            doc = doc[p_starts]
        gp_starts = np.nonzero(change[p_starts])[0]   # posting idx per group
        row_starts = p_starts[gp_starts]              # row idx per group
        df_block = np.diff(np.append(gp_starts, len(p_starts)))
        sum_tf = np.add.reduceat(tf, gp_starts)
        # delta-encode doc ids (absolute-local at each group start;
        # base = segment << SEGMENT_BITS == doc & ~LOCAL_MASK since a
        # group is single-segment) in ONE varbyte pass over all
        # postings, then slice per group via the byte offsets.
        local = doc & np.int64(LOCAL_MASK)
        deltas = np.empty_like(local)
        deltas[0] = local[0]
        np.subtract(local[1:], local[:-1], out=deltas[1:])
        deltas[gp_starts] = local[gp_starts]
        doc_buf, doc_off = varbyte_encode_offsets(deltas.astype(np.uint64))
        tf_buf, tf_off = varbyte_encode_offsets(tf.astype(np.uint64))
        len_u8 = np.clip(lb, 0, 255).astype(np.uint8)
        doc_mem, tf_mem, len_mem = (doc_buf.tobytes(), tf_buf.tobytes(),
                                    len_u8.tobytes())
        gp_ends = np.append(gp_starts[1:], len(p_starts))
        d_lo, d_hi = doc_off[gp_starts], doc_off[gp_ends]
        t_lo, t_hi = tf_off[gp_starts], tf_off[gp_ends]
        take = pa.array(row_starts)
        fnames = np.asarray(field_names, dtype=object)
        ords = tbl.column("field_ord").to_numpy()[row_starts]
        yield pa.RecordBatch.from_arrays([
            pa.array(fnames[ords], type=pa.string()),
            _arr("term").take(take),
            _arr("segment").take(take),
            _arr("tbucket").take(take),
            pa.array(df_block.astype(np.int32)),
            pa.array(sum_tf.astype(np.int64)),
            pa.array([doc_mem[a:b] for a, b in zip(d_lo, d_hi)],
                     type=pa.binary()),
            pa.array([tf_mem[a:b] for a, b in zip(t_lo, t_hi)],
                     type=pa.binary()),
            pa.array([len_mem[a:b] for a, b in zip(gp_starts, gp_ends)],
                     type=pa.binary()),
        ], schema=out_schema)

    def _run(batches):
        carry = None
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if carry is not None and carry.num_rows:
                tbl = pa.concat_tables([carry, tbl]).combine_chunks()
            if not tbl.num_rows:
                continue
            gk = tbl.column("gkey").to_numpy()
            nz = np.nonzero(gk != gk[-1])[0]
            cut = int(nz[-1]) + 1 if nz.size else 0
            carry = tbl.slice(cut)
            head = tbl.slice(0, cut)
            if head.num_rows:
                yield from _encode_table(head.combine_chunks())
        if carry is not None and carry.num_rows:
            yield from _encode_table(carry.combine_chunks())

    return _run


def _posting_rows(ids: DataFrame, config: IndexConfig,
                  registry: AnalyzerRegistry,
                  precount: bool = True) -> DataFrame:
    """Raw (field_ord, term, doc_id, len_byte) occurrence rows,
    unioned over fields.  Length quantization runs as a native SQL
    expression (agrees exactly with the f32 reference quantization
    for every count up to 200,000 — pinned by
    tests/test_codec_similarity.py::test_length_byte_matches_the_sql_expression);
    the explode
    and everything after it is JVM-side whole-stage codegen.

    The field rides as a small ordinal (position in
    ``config.fields``), not a string: these rows feed the build's big
    shuffles, and every Tungsten row field costs 8 aligned bytes —
    the ordinal also compares cheaper in the sort.  The encoder maps
    ordinals back to names.

    Term frequencies are counted by a groupBy over the occurrence
    rows: Catalyst plans it as partial hash aggregation, so duplicate
    (doc, term) occurrences combine MAP-SIDE (whole-stage codegen)
    and the exchange carries one row per distinct (doc, term) — ×2.3
    fewer rows on English web text.  (A pure-expression per-doc
    combine via sort_array + zip_with was tried and benched 3× slower:
    higher-order functions evaluate interpreted, with no CSE.)
    """
    from ..similarity import length_byte_sql
    array_fields = {f.name for f in ids.schema.fields
                    if isinstance(f.dataType, T.ArrayType)}
    parts: List[DataFrame] = []
    for ford, (fname, analyzer_name) in enumerate(config.fields.items()):
        is_array = fname in array_fields
        if analyzer_name is None and not is_array:
            # PlainString: the raw value is the single term, field
            # length 1 token → len_byte 0 (= decoded length 1.0),
            # matching schema.rs:72-78 semantics.
            parts.append(
                ids.where(F.col(qname(fname)).isNotNull()).select(
                    F.lit(ford).alias("field_ord"),
                    F.col(qname(fname)).cast("string").alias("term"),
                    F.col("doc_id"),
                    F.lit(0).alias("len_byte"),
                ))
            continue
        if analyzer_name is None:
            # array of plain strings: every non-null item is one term
            # at the next position (mapping/mod.rs:192-227) → tf per
            # duplicate item, field length = item count
            arr = F.filter(F.col(qname(fname)), lambda x: x.isNotNull())
            parts.append(
                ids.where(F.col(qname(fname)).isNotNull())
                .select(F.col("doc_id"), arr.alias("items"))
                .where(F.size("items") > 0)
                .withColumn("len_byte",
                            F.expr(length_byte_sql("size(items)")))
                .select(
                    F.lit(ford).alias("field_ord"),
                    F.explode("items").alias("term"),
                    F.col("doc_id"),
                    F.col("len_byte"),
                ))
            continue
        analyzer = registry.get(analyzer_name)
        base = ids.where(F.col(qname(fname)).isNotNull())
        if is_array:
            items = F.filter(F.col(qname(fname)), lambda x: x.isNotNull())
            sql_col = (F.flatten(F.transform(
                items, lambda x: sql_terms_column(analyzer.sql_kind, x)))
                if analyzer.sql_kind else None)
            unsafe = F.exists(F.col(qname(fname)),
                              lambda x: x.rlike(SQL_UNSAFE_CHAR))
            tok = tokenize_array_udf(analyzer)
        else:
            sql_col = (sql_terms_column(analyzer.sql_kind, F.col(qname(fname)))
                       if analyzer.sql_kind else None)
            unsafe = F.col(qname(fname)).rlike(SQL_UNSAFE_CHAR)
            tok = tokenize_udf(analyzer)
        if sql_col is not None:
            # SQL fast path for safe rows, pandas UDF for the rest.
            # Split into two frames (not one when()): Spark evaluates
            # a pandas UDF in its own ArrowEvalPython node for EVERY
            # row regardless of the branch, so a conditional
            # projection would still pay the Python hop for the whole
            # corpus.
            t = (base.where(~unsafe).select(
                    F.col("doc_id"), sql_col.alias("terms"))
                 .unionByName(base.where(unsafe).select(
                    F.col("doc_id"), tok(F.col(qname(fname))).alias("terms"))))
        else:
            t = base.select(
                F.col("doc_id"), tok(F.col(qname(fname))).alias("terms"))
        parts.append(
            t.withColumn("len_byte",
                         F.expr(length_byte_sql("size(terms)")))
            .select(
                F.lit(ford).alias("field_ord"),
                F.explode(F.col("terms")).alias("term"),
                F.col("doc_id"),
                F.col("len_byte"),
            ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if precount:
        # map-side combine: partial agg dedups (doc, term) before the
        # exchange (×2.3 fewer shuffled rows on web text); len_byte is
        # constant per (doc, field) so it rides as a group key free
        return (out.groupBy("field_ord", "term", "doc_id", "len_byte")
                .agg(F.count(F.lit(1)).cast("int").alias("tf")))
    # raw occurrences: the encoder run-length-merges duplicates after
    # the sort — no hash-aggregation state anywhere in the build (the
    # agg's random-access hash table is the one non-streaming memory
    # pattern, and it is the first thing to stop scaling when cores
    # share a memory subsystem)
    return out.withColumn("tf", F.lit(1))


def _write_field_stats(path: str, stats_rows: List[dict]) -> None:
    """field_stats sidecar: a handful of driver-resident rows —
    written without a Spark job (see layout.write_small_table)."""
    import shutil

    import pyarrow as pa

    from .layout import write_small_table
    shutil.rmtree(path, ignore_errors=True)
    write_small_table(
        path, [{"field": r["field"], "total_docs": r["total_docs"],
                "total_tokens": r["total_tokens"]} for r in stats_rows],
        schema=pa.schema([("field", pa.string()),
                          ("total_docs", pa.int64()),
                          ("total_tokens", pa.int64())]))


def build_index(spark: SparkSession, docs: DataFrame, index_dir: str,
                config: Optional[IndexConfig] = None, jobs: int = 1,
                resume: bool = False, parallel: int = 1) -> dict:
    """Build (or resume) the index at ``index_dir`` from ``docs``.

    ``parallel`` > 1 runs that many ``write_job``s concurrently from
    driver threads (each in its own scheduler pool).  Jobs are the
    document-sharding unit and commit independently, so concurrency
    changes no artifact bytes — it exists to overlap one job's
    driver-serial stage transitions (plan/launch/commit) with another
    job's executor work, the component the scaling evidence
    (BENCH/APPENDIX_residual.md) attributes the local-mode 2->8 gap
    to.  On a real cluster the analogous overlap comes free from
    per-executor task paths; here it must be explicit.

    Returns a report dict with per-job lineage rows.
    """
    config = config or IndexConfig()
    layout = IndexLayout(index_dir)
    registry = _registry(config)
    for a in config.fields.values():
        if a is not None:
            registry.get(a)  # fail fast on unknown analyzer

    done: List[int] = layout.completed_jobs(spark) if resume else []
    if not resume:
        # assign_doc_ids buckets child rows by their root's key, so
        # every job's document shard is parent-complete — the property
        # sharded serving relies on.  A nested-configured frame
        # without the root column would bucket children by their
        # synthetic key and silently break it: fail fast instead.
        if config.nested_paths and "_nested_root" not in docs.columns:
            raise ValueError(
                "config.nested_paths is set but the docs frame carries "
                "no _nested_root column — build nested indexes from "
                "mapping.prepare_docs output")
        layout.write_config(config)
    buckets_per_job = -(-config.n_buckets // jobs)  # ceil
    shuffle_p = (config.shuffle_partitions
                 or int(spark.conf.get("spark.sql.shuffle.partitions")))

    with_bucket = assign_doc_ids(docs, config.key_col, config.n_buckets)

    def _run(job: int) -> dict:
        lo, hi = job * buckets_per_job, min((job + 1) * buckets_per_job,
                                            config.n_buckets)
        # the bucket predicate sits on the id-window's partition key,
        # so Catalyst pushes it below the window: each job shuffles
        # only its own bucket range, not the whole corpus
        ids = with_bucket.where(
            (F.col("_bucket") >= lo) & (F.col("_bucket") < hi)).drop("_bucket")
        return write_job(spark, ids, layout, config, registry, job,
                         extra={"bucket_lo": lo, "bucket_hi": hi})

    pending = [j for j in range(jobs) if j not in done]
    if parallel > 1 and len(pending) > 1:
        from concurrent.futures import ThreadPoolExecutor

        def _pooled(job: int) -> dict:
            # local properties are thread-local in Spark; a distinct
            # pool per job gives fair slot sharing between concurrent
            # jobs under spark.scheduler.mode=FAIR (and is harmless
            # under FIFO, where later jobs still fill idle slots)
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"build-job-{job}")
            try:
                return _run(job)
            finally:
                spark.sparkContext.setLocalProperty(
                    "spark.scheduler.pool", None)

        with ThreadPoolExecutor(max_workers=parallel) as ex:
            report = list(ex.map(_pooled, pending))
    else:
        report = [_run(job) for job in pending]
    return {"index_dir": index_dir, "jobs": report,
            "skipped_jobs": done, "config": config.__dict__}


class WrittenDocs(NamedTuple):
    """A job's docs table on disk and what its write observed."""

    #: the written docs dir, re-read: downstream stages scan a pruned
    #: columnar table instead of re-running the id computation
    docs: DataFrame
    n_docs: int
    #: per-field presence counts (the ftdoc statistics)
    doc_counts: Dict[str, int]


def doc_columns(ids: DataFrame, config: IndexConfig) -> DataFrame:
    """The docs-table projection of an id-assigned frame: doc_id, the
    key, every indexed field and every stored column."""
    cols = ["doc_id", config.key_col] + [
        c for c in dict.fromkeys(list(config.fields) + config.stored)
        if c != config.key_col]
    return ids.select(*[F.col(qname(c)).alias(c) for c in cols])


def write_docs(spark: SparkSession, docs: DataFrame, layout: IndexLayout,
               config: IndexConfig, job: int) -> WrittenDocs:
    """Write ``docs`` as job ``job``'s docs table — ONE Spark job.
    The row count and the per-field presence counts ride the write as
    observe() metrics (no count() job, no field-agg job), and the
    re-read takes the written frame's schema (no schema-inference
    job)."""
    from pyspark.sql import Observation
    obs = Observation()
    field_alias = {f: f"__fdocs_{i}" for i, f in enumerate(config.fields)}
    docs.observe(obs, F.count(F.lit(1)).alias("__n_docs"),
                 *[F.count(F.col(qname(f))).alias(a)
                   for f, a in field_alias.items()]) \
        .write.mode("overwrite").parquet(layout.job_dir("docs", job))
    metrics = obs.get
    return WrittenDocs(
        spark.read.schema(docs.schema).parquet(layout.job_dir("docs", job)),
        int(metrics["__n_docs"]),
        {f: int(metrics[a]) for f, a in field_alias.items()})


def write_postings(spark: SparkSession, rows: DataFrame, docs: DataFrame,
                   layout: IndexLayout, config: IndexConfig, job: int,
                   n_docs: int) -> Tuple[int, Dict[str, int]]:
    """The index half of a job, shared by the build (``write_job``)
    and the merge (``merge.merge_jobs``): three Spark jobs.

    * the doc_index PK sidecar of ``docs``, on a helper thread so the
      small job overlaps the postings job;
    * ``rows`` — ``(field_ord, term, doc_id, len_byte, tf)`` posting
      rows, duplicates allowed (their tf is summed) — through ONE
      shuffle into encoded, tbucket-partitioned postings;
    * the term_dict sidecar, whose job also observes the block count
      and the per-field token totals (the fttok statistics).

    Returns ``(n_blocks, total_tokens per field)``."""
    shuffle_p = (config.shuffle_partitions
                 or int(spark.conf.get("spark.sql.shuffle.partitions")))
    # PK sidecar: (key, doc_id) bucketed by a global key hash, so
    # upsert/delete point lookups prune to corpus/kbuckets instead of
    # scanning every docs dir (document_index.rs:16-91 analogue).  It
    # only has to be complete before the lineage commit.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    from .doc_index import write_doc_index
    _sidecar_pool = ThreadPoolExecutor(max_workers=1)
    # the helper thread inherits this thread's local properties (job
    # group, scheduler pool), so the sidecar job is accounted and
    # scheduled with the rest of the call
    _sidecar = _sidecar_pool.submit(
        inheritable_thread_target(spark)(write_doc_index), docs, layout,
        config, job, shuffle_p, n_docs)

    def _join_sidecar() -> None:
        # always await the sidecar before leaving this frame — on a
        # postings-stage failure an orphan thread still writing into
        # job dirs would race the retry's clear_incomplete_job
        try:
            _sidecar.result()
        finally:
            _sidecar_pool.shutdown()

    # ONE shuffle end to end: hash-repartition on (field_ord, term,
    # segment) co-locates each posting group (segment = the structural
    # skew salt); the within-partition sort leads with the JVM-computed
    # tbucket so the encoder streams blocks out already clustered for
    # the partitionBy(tbucket) layout AND term-sorted within every
    # file (parquet row-group min/max pruning on `term` stays tight).
    # A second repartitionByRange over the encoded blocks would cost a
    # range-boundary sampling job that re-executes the whole
    # sort+encode stage, and re-shuffle every posting byte.
    # segment/tbucket/gkey are derived columns computed AFTER the
    # exchange (the repartition hashes the segment *expression*), so
    # the shuffled row stays minimal: (field_ord, term, doc_id,
    # len_byte, tf) — every extra Tungsten field is 8 aligned bytes
    # on the only wide shuffle.
    try:
        (rows
         .repartition(shuffle_p, "field_ord", "term",
                      F.shiftrightunsigned("doc_id", SEGMENT_BITS))
         .withColumn("segment", F.shiftrightunsigned("doc_id", SEGMENT_BITS))
         .withColumn("tbucket", term_bucket_col(F.col("term"),
                                                config.tbuckets))
         .withColumn("gkey", F.xxhash64("field_ord", "term", "segment"))
         .sortWithinPartitions("tbucket", "field_ord", "term", "segment",
                               "doc_id")
         .mapInArrow(_encode_partitions_arrow(list(config.fields)),
                     schema=POSTINGS_SCHEMA)
         .write.mode("overwrite").partitionBy("tbucket")
         .parquet(layout.job_dir("postings", job)))

        # term-dictionary sidecar (term_dictionary.rs:78-85 analogue):
        # one narrow agg of the job's block metadata → (field, term,
        # tbucket, df, n_blocks), term-sorted within every file so the
        # driver-side reader prunes parquet ROW GROUPS via term min/max
        # (hash repartition + per-file sort: row-group ranges stay tight
        # without repartitionByRange's sampling job, which would re-run
        # the aggregate).  Per-field token totals + the block count ride
        # this SAME job as observe() metrics; the block table's schema
        # is fixed, so its re-read runs no schema-inference job.
        from pyspark.sql import Observation
        tok_obs = Observation()
        dict_src = spark.read.schema(POSTINGS_SCHEMA) \
            .parquet(layout.job_dir("postings", job)) \
            .groupBy("field", "term", "tbucket") \
            .agg(F.sum("df_block").cast("long").alias("df"),
                 F.count("*").cast("int").alias("n_blocks"),
                 F.sum("sum_tf").cast("long").alias("sum_tf"))
        tok_alias = {f: f"__ftok_{i}" for i, f in enumerate(config.fields)}
        (dict_src.repartition(max(1, shuffle_p // 4), "field", "term")
         .sortWithinPartitions("field", "term")
         .observe(tok_obs, F.sum("n_blocks").alias("__n_blocks"),
                  *[F.sum(F.when(F.col("field") == f, F.col("sum_tf")))
                    .alias(a) for f, a in tok_alias.items()])
         .write.mode("overwrite").parquet(layout.job_dir("term_dict", job)))
    except BaseException:
        # the sidecar thread must not outlive a failed stage (an
        # orphan writer would race the retry's clear_incomplete_job);
        # swallow its own error so the stage failure propagates
        try:
            _join_sidecar()
        except Exception:
            pass
        raise
    _join_sidecar()            # doc_index must be on disk pre-commit
    tok_m = tok_obs.get
    return (int(tok_m["__n_blocks"] or 0),
            {f: int(tok_m[a] or 0) for f, a in tok_alias.items()})


def write_postings_driver(docs, layout: IndexLayout, config: IndexConfig,
                          registry: AnalyzerRegistry, job: int
                          ) -> Tuple[int, Dict[str, int]]:
    """``write_postings`` on the driver, for a job small enough that
    Spark's fixed per-job and per-task costs outweigh its data:
    pyarrow and numpy, zero Spark jobs.  ``docs`` is the job's written
    docs table read back with pyarrow (doc_id, the key, and every
    field as a scalar string column).

    Every function that decides bytes is the Spark path's: the
    analyzer chain (``Analyzer.terms``, which the SQL tokenizer path
    is pinned equal to), ``similarity.length_byte``,
    ``layout.term_bucket``, the doc_index kbucket hash and the
    build's encoder (``_encode_partitions_arrow``).  The encoder gets
    rows sorted as the Spark path sorts them, (tbucket, field_ord,
    term, segment, doc_id), with a group ordinal for ``gkey``: it only
    compares adjacent keys.  Writes the postings per ``tbucket=``, the
    term_dict and the doc_index per ``kbucket=``, in the layout Spark
    writes.  Returns ``(n_blocks, total_tokens per field)``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..similarity import length_byte
    from .doc_index import write_doc_index_driver
    from .layout import term_bucket, write_arrow_table

    doc_ids = docs.column("doc_id").to_numpy()
    fords: List[np.ndarray] = []
    terms: List[str] = []
    row_docs: List[np.ndarray] = []
    row_lens: List[np.ndarray] = []
    for ford, (fname, analyzer_name) in enumerate(config.fields.items()):
        values = docs.column(fname).to_pylist()
        if analyzer_name is None:
            # PlainString: the raw value is the one term, len_byte 0
            toks = [[v] if v is not None else [] for v in values]
        else:
            analyze = registry.get(analyzer_name).terms
            toks = [analyze(v) if v is not None else [] for v in values]
        counts = np.fromiter(map(len, toks), dtype=np.int64,
                             count=len(toks))
        lens = (np.zeros(len(toks), dtype=np.int32)
                if analyzer_name is None else
                np.fromiter(map(length_byte, counts.tolist()),
                            dtype=np.int32, count=len(toks)))
        terms.extend(t for ts in toks for t in ts)
        row_docs.append(np.repeat(doc_ids, counts))
        row_lens.append(np.repeat(lens, counts))
        fords.append(np.full(int(counts.sum()), ford, dtype=np.int32))
    field_ord = np.concatenate(fords)
    tokens = dict(zip(config.fields, np.bincount(
        field_ord, minlength=len(config.fields)).tolist()))
    n_blocks = 0
    # a batch with no tokens still leaves the job's postings dir and
    # an empty term_dict file, as the Spark write does: the merge and
    # the readers list both for every job that has docs
    os.makedirs(layout.job_dir("postings", job), exist_ok=True)
    term_dict = pa.schema([
        ("field", pa.string()), ("term", pa.string()),
        ("tbucket", pa.int32()), ("df", pa.int64()),
        ("n_blocks", pa.int32()), ("sum_tf", pa.int64())]).empty_table()
    if terms:
        term_arr = pa.array(terms, pa.string())
        uniq = pc.unique(term_arr)
        tb_of = np.fromiter((term_bucket(t, config.tbuckets)
                             for t in uniq.to_pylist()),
                            dtype=np.int32, count=len(uniq))
        term_ix = pc.index_in(term_arr, value_set=uniq).to_numpy()
        doc = np.concatenate(row_docs)
        rows = pa.table({
            "field_ord": field_ord, "term": term_arr, "term_ix": term_ix,
            "doc_id": doc, "segment": doc >> SEGMENT_BITS,
            "tbucket": tb_of[term_ix], "len_byte": np.concatenate(row_lens),
            "tf": np.ones(len(terms), dtype=np.int32),
        }).sort_by([("tbucket", "ascending"), ("field_ord", "ascending"),
                    ("term", "ascending"), ("segment", "ascending"),
                    ("doc_id", "ascending")])
        # gkey: the ordinal of the (field_ord, term, segment) group
        key = np.stack([rows.column(c).to_numpy().astype(np.int64)
                        for c in ("field_ord", "term_ix", "segment")])
        change = np.ones(rows.num_rows, dtype=bool)
        change[1:] = (key[:, 1:] != key[:, :-1]).any(axis=0)
        rows = rows.append_column("gkey", pa.array(np.cumsum(change)))
        blocks = pa.Table.from_batches(list(
            _encode_partitions_arrow(list(config.fields))(rows.to_batches())))
        n_blocks = blocks.num_rows
        tb = blocks.column("tbucket").to_numpy()
        starts = np.flatnonzero(np.diff(tb, prepend=-1))
        for lo, hi in zip(starts, np.append(starts[1:], tb.size)):
            write_arrow_table(
                os.path.join(layout.job_dir("postings", job),
                             f"tbucket={tb[lo]}"),
                blocks.slice(lo, hi - lo).drop_columns(["tbucket"]))
        terms_tbl = blocks.group_by(["field", "term", "tbucket"]).aggregate(
            [("df_block", "sum"), ("df_block", "count"), ("sum_tf", "sum")])
        term_dict = pa.table({
            "field": terms_tbl.column("field"),
            "term": terms_tbl.column("term"),
            "tbucket": terms_tbl.column("tbucket"),
            "df": terms_tbl.column("df_block_sum").cast(pa.int64()),
            "n_blocks": terms_tbl.column("df_block_count").cast(pa.int32()),
            "sum_tf": terms_tbl.column("sum_tf_sum").cast(pa.int64()),
        }, schema=term_dict.schema)
    write_arrow_table(layout.job_dir("term_dict", job), term_dict.sort_by(
        [("field", "ascending"), ("term", "ascending")]))
    write_doc_index_driver(docs.column(config.key_col).to_pylist(), doc_ids,
                           layout, config, job)
    return n_blocks, tokens


def commit_written(spark: SparkSession, written: "WrittenDocs",
                   layout: IndexLayout, config: IndexConfig, job: int,
                   t0: float, n_blocks: int, tokens: Dict[str, int],
                   extra: Optional[dict] = None) -> dict:
    """Write an indexed job's field stats, then commit its lineage row
    LAST.  The field stats cost no job: doc counts were observed on
    the docs write, token totals on the index half."""
    _write_field_stats(layout.job_dir("field_stats", job),
                       [{"field": f, "total_docs": written.doc_counts[f],
                         "total_tokens": tokens[f]} for f in config.fields])
    row = {
        "job": job,
        "n_docs": written.n_docs, "n_posting_blocks": n_blocks,
        "wall_sec": round(time.monotonic() - t0, 3),
        "status": "done", "finished_unix": int(time.time()),
        **(extra or {}),
    }
    layout.commit_job(spark, row)
    return row


def finish_job(spark: SparkSession, rows: DataFrame, written: WrittenDocs,
               layout: IndexLayout, config: IndexConfig, job: int,
               t0: float, extra: Optional[dict] = None) -> dict:
    """Index a job whose docs table is written (``write_postings``),
    then commit it (``commit_written``)."""
    n_blocks, tokens = write_postings(spark, rows, written.docs, layout,
                                      config, job, written.n_docs)
    return commit_written(spark, written, layout, config, job, t0,
                          n_blocks, tokens, extra)


def write_job(spark: SparkSession, ids: DataFrame, layout: IndexLayout,
              config: IndexConfig, registry: AnalyzerRegistry, job: int,
              extra: Optional[dict] = None) -> dict:
    """Write one job's docs/postings/field_stats + the atomic lineage
    commit.  ``ids`` must already carry a globally-unique ``doc_id``.
    Four Spark jobs, each a write: the docs table, then
    ``write_postings``' three."""
    layout.clear_incomplete_job(job)
    t0 = time.monotonic()
    written = write_docs(spark, doc_columns(ids, config), layout, config,
                         job)
    rows = _posting_rows(written.docs, config, registry,
                         precount=config.precount)
    return finish_job(spark, rows, written, layout, config, job, t0, extra)
