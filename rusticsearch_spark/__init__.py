"""rusticsearch_spark — a PySpark-native inverted-index + BM25 engine.

A from-scratch re-expression of the query and data-processing
capabilities of kaedroho/rusticsearch (reference at /root/reference,
a single-node Rust full-text search server) as distributed DataFrame
pipelines:

* ``analysis``  — tokenizers/filters (UAX#29-ish standard tokenizer,
  lowercase, ASCII folding, ngram/edge-ngram) as vectorized pandas UDFs.
* ``index``     — distributed posting-list construction
  (delta + varbyte compressed, per-block df metadata), doc/field/term
  statistics, checkpointed + resumable builds.
* ``query``     — the reference's query DSL (match/term/terms/prefix/
  bool combinators/filtered/...) parsed into a Query tree and planned
  into DataFrame set-algebra + BM25 scoring.
* ``ops``       — large-scale corpus operations (dedup, similarity
  search, text stats) the reference does not have but a web-scale
  pipeline needs.
* ``oracle``    — a pure-Python single-node reference implementation
  used to golden-test rank identity.
"""

from ._spark_worker import install as _install_worker_imports

__version__ = "0.1.0"

# in a PySpark worker, the per-task importlib.invalidate_caches() stops
# re-reading Spark's own archives (see _spark_worker)
_install_worker_imports()
