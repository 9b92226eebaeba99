"""Deterministic synthetic Common-Crawl-style webtext table.

Produces the exact input shape required by the build's input hint:
``(url string, warc_ts timestamp, html binary, text string,
lang string)``.  Derived deterministically from the driver-generated
``documents.parquet`` (seeded) so the table is reproducible
run-over-run at any scale factor, with the per-row invariant that
``text`` is byte-identical to ``html_to_text(html)`` per ``url``
(the html is rendered from the source text, then ``text`` is defined
as our own strip UDF's output over that html).

No randomness: every derived value is a pure function of
``(doc_id, source, text, lang, replica)``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analysis.html_strip import html_to_text

_EPOCH = "2024-01-01 00:00:00"


def _render_html(url: str, text: str, lang: str) -> bytes:
    """Render a deterministic HTML page around the source text.

    Includes the markup features the strip stage must handle:
    skip-tags (script/style), block tags, entities, attribute noise.
    """
    paras = [p for p in text.split(". ") if p]
    body = "\n".join(
        f"<p class=\"para\" data-i=\"{i}\">{p}</p>" for i, p in enumerate(paras)
    )
    title = text[:40].strip() or url
    return (
        "<!DOCTYPE html><html lang=\"{lang}\"><head>"
        "<title>{title}</title>"
        "<style>p {{ margin: 0 }}</style>"
        "<script>var x = 1 &amp;&amp; 2;</script>"
        "</head><body>"
        "<nav>home &gt; docs</nav>"
        "<main>{body}</main>"
        "<footer>&copy; example {lang}</footer>"
        "</body></html>"
    ).format(lang=lang, title=title, body=body).encode("utf-8")


@F.pandas_udf(T.BinaryType())
def _render_html_udf(url: pd.Series, text: pd.Series,
                     lang: pd.Series) -> pd.Series:
    frame = pd.DataFrame({"u": url, "t": text, "l": lang})
    return frame.apply(
        lambda r: _render_html(r.u, r.t or "", r.l or ""), axis=1)


@F.pandas_udf(T.StringType())
def _strip_udf(html: pd.Series) -> pd.Series:
    return html.map(lambda h: html_to_text(h) if h is not None else None)


def webtext_table(spark: SparkSession, sf_dir: str,
                  replicate: int = 1) -> DataFrame:
    """Build the webtext DataFrame from ``{sf_dir}/documents.parquet``.

    ``replicate`` > 1 scales the corpus for throughput benchmarks by
    stamping each source doc into ``replicate`` distinct urls (text
    prefixed with the replica ordinal so term statistics stay
    non-degenerate).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if replicate > 1:
        reps = spark.range(replicate).withColumnRenamed("id", "replica")
        docs = docs.crossJoin(F.broadcast(reps)).withColumn(
            "text", F.concat(F.lit("rep"), F.col("replica").cast("string"),
                             F.lit(" "), F.col("text")))
    else:
        docs = docs.withColumn("replica", F.lit(0).cast("long"))
    docs = docs.withColumn(
        "url",
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/r"), F.col("replica").cast("string"),
                 F.lit("/doc/"), F.col("doc_id").cast("string")),
    ).withColumn(
        "warc_ts",
        F.to_timestamp(F.lit(_EPOCH)) +
        F.make_interval(secs=(F.col("doc_id") % 86400 +
                              F.col("replica") * 7).cast("double")),
    )
    # the corpus is one small parquet file (and the replica crossJoin
    # keeps its single partition): spread the rows over every core
    # before the two Python UDFs, or one task renders and strips the
    # whole table.  Row values do not depend on the partitioning.
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    html = docs.withColumn(
        "html", _render_html_udf(F.col("url"), F.col("text"), F.col("lang")))
    # `text` is DEFINED as the strip of `html` — the byte-identity
    # invariant is then testable by re-stripping.
    return html.select(
        "url", "warc_ts", "html",
        _strip_udf(F.col("html")).alias("text"),
        "lang",
    )
