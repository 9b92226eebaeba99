"""The index-format gate: ``IndexLayout.read_config`` refuses an index
whose ``index_format`` or ``analysis_version`` stamp is missing or
differs from the running code's, and every entry point that opens an
index goes through it — so none of them reads an index built by
other code (an older analyzer silently un-matches query terms; an
older layout lacks the sidecars every reader relies on)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from rusticsearch_spark.analysis import ANALYSIS_VERSION
from rusticsearch_spark.index.layout import (INDEX_FORMAT, IndexConfig,
                                             IndexLayout)

#: config.json edits that make an index stale: (name, edit)
STALE = [
    ("older_analysis", lambda c: c.update(
        analysis_version=ANALYSIS_VERSION - 1)),
    ("older_format", lambda c: c.update(index_format=INDEX_FORMAT - 1)),
    ("missing_format", lambda c: c.pop("index_format")),
]


def _open_engine(spark, path):
    from rusticsearch_spark.query.engine import SearchEngine
    SearchEngine(spark, path)


def _open_local(spark, path):
    from rusticsearch_spark.query.local import LocalSearcher
    LocalSearcher(path)


def _open_sharded(spark, path):
    from rusticsearch_spark.query.local import ShardedSearcher
    ShardedSearcher(path)


def _open_ingester(spark, path):
    from rusticsearch_spark.streaming.ingest import StreamingIngester
    StreamingIngester(spark, path, upsert=True)


def _delete(spark, path):
    from rusticsearch_spark.index.delete import delete_documents
    delete_documents(spark, path, keys=["no-such-key"])


def _maintenance(spark, path):
    from rusticsearch_spark.index.merge import maintenance
    maintenance(spark, path, max_jobs=0)


ENTRY_POINTS = [("engine", _open_engine), ("local", _open_local),
                ("sharded", _open_sharded), ("ingester", _open_ingester),
                ("delete", _delete), ("maintenance", _maintenance)]


def _edit_config(path: str, edit) -> None:
    cfg_path = os.path.join(path, "config.json")
    with open(cfg_path) as f:
        raw = json.load(f)
    edit(raw)
    with open(cfg_path, "w") as f:
        json.dump(raw, f)


@pytest.fixture(scope="module")
def stale_indexes(index_dir, tmp_path_factory):
    """One copy of the session index per STALE edit."""
    root = tmp_path_factory.mktemp("stale")
    out = {}
    for name, edit in STALE:
        path = str(root / name)
        shutil.copytree(index_dir, path)
        _edit_config(path, edit)
        out[name] = path
    return out


@pytest.mark.parametrize("stale", [s[0] for s in STALE])
@pytest.mark.parametrize("entry,open_index", ENTRY_POINTS,
                         ids=[e[0] for e in ENTRY_POINTS])
def test_stale_index_is_refused(spark, stale_indexes, stale, entry,
                                open_index):
    path = stale_indexes[stale]
    layout = IndexLayout(path)
    state = (layout.deletion_dirs(), layout.lineage())
    with pytest.raises(ValueError, match="reindex"):
        open_index(spark, path)
    # refused before anything was written: no new deletion list or
    # job, and the stale config left as it was
    assert (layout.deletion_dirs(), layout.lineage()) == state
    with pytest.raises(ValueError, match="reindex"):
        layout.read_config()


def test_write_config_stamps_running_versions(tmp_path):
    layout = IndexLayout(str(tmp_path / "cfg"))
    cfg = IndexConfig(index_format=INDEX_FORMAT - 1,
                      analysis_version=ANALYSIS_VERSION - 1)
    layout.write_config(cfg)
    assert (cfg.index_format, cfg.analysis_version) == \
        (INDEX_FORMAT, ANALYSIS_VERSION)
    got = layout.read_config()
    assert got == cfg
    with open(layout.config_path) as f:
        raw = json.load(f)
    assert raw["index_format"] == INDEX_FORMAT
    assert raw["analysis_version"] == ANALYSIS_VERSION


def test_fresh_index_passes_the_gate(index_dir):
    cfg = IndexLayout(index_dir).read_config()
    assert (cfg.index_format, cfg.analysis_version) == \
        (INDEX_FORMAT, ANALYSIS_VERSION)
