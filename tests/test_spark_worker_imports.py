"""Inside a PySpark worker, importing the package keeps Spark's own
archives (pyspark.zip, py4j, the ``$SPARK_HOME`` jars) from being
re-read by the ``importlib.invalidate_caches()`` that PySpark runs
before every task; archives added with ``addPyFile`` still are, and
the driver's importers are left alone.

Only the structure is pinned: whether a ``zipimporter``'s directory
table is replaced by the call, not how long the call takes.
"""

from __future__ import annotations

import json
import os
import zipfile
import zipimport


def test_worker_skips_rereading_spark_archives(spark, engine, tmp_path):
    from rusticsearch_spark import _spark_worker

    engine.search({"match": {"text": "spark query"}}, size=3).collect()
    archive = tmp_path / "rsx_probe_archive.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("rsx_probe_mod.py", "VALUE = 1\n")
    spark.sparkContext.addPyFile(str(archive))

    def probe(batches):
        """Runs in a worker (a local function is pickled by value): one
        JSON row per zipimporter the worker holds — its archive,
        whether that lies under ``$SPARK_HOME`` and whether
        ``invalidate_caches()`` re-read it."""
        import importlib
        import json
        import os
        import sys
        import zipimport

        import pyarrow as pa

        import rsx_probe_mod  # noqa: F401  (the addPyFile archive)
        import rusticsearch_spark  # noqa: F401  (as every decode task)

        home = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
        importers = [v for v in sys.path_importer_cache.values()
                     if isinstance(v, zipimport.zipimporter)]
        before = [imp._files for imp in importers]
        importlib.invalidate_caches()
        rows = [json.dumps({
            "archive": imp.archive,
            "spark": os.path.realpath(imp.archive).startswith(home),
            "reread": imp._files is not files})
            for imp, files in zip(importers, before)]
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"row": rows})

    got = [json.loads(r.row) for r in spark.range(1, numPartitions=1)
           .mapInArrow(probe, "row string").collect()]

    ours = [g for g in got if g["spark"]]
    names = {os.path.basename(g["archive"]) for g in ours}
    assert "pyspark.zip" in names
    assert any(n.startswith("py4j") for n in names)
    assert not [g for g in ours if g["reread"]]
    added = [g for g in got
             if os.path.basename(g["archive"]) == archive.name]
    assert added and all(g["reread"] for g in added)

    # the driver: not a worker, so no hook on its importers
    assert not _spark_worker.in_worker()
    assert not hasattr(zipimport.zipimporter.invalidate_caches,
                       "rsx_rereads")
