"""Cluster metadata: index registry + name/alias registry.

Ports /root/reference/src/cluster/metadata/mod.rs:23-27 and
name_registry.rs:18-150: names resolve to either a concrete index or
an alias covering ≥1 indices; an index name cannot collide with an
alias name.  The ``Cluster`` facade is the Python equivalent of the
REST surface (src/api/mod.rs:37-55): create/delete index, put
mapping, bulk ingest, search/count against a name or alias
(multi-index search unions results and re-sorts — alias semantics).
"""

from __future__ import annotations

import os
import shutil
from typing import Dict, List, Optional, Set

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .index.build import build_index
from .index.layout import IndexConfig
from .mapping import FieldMapping, mapping_to_config, parse_mapping, prepare_docs
from .query.engine import SearchEngine


class NameRegistryError(ValueError):
    pass


class NameRegistry:
    """Index-name ↔ alias bookkeeping (name_registry.rs:18-150)."""

    def __init__(self) -> None:
        self.indices: Set[str] = set()
        self.aliases: Dict[str, Set[str]] = {}

    def insert_index(self, name: str) -> None:
        if name in self.indices or name in self.aliases:
            raise NameRegistryError(f"name in use: {name!r}")
        self.indices.add(name)

    def delete_index(self, name: str) -> None:
        self.indices.discard(name)
        for refs in self.aliases.values():
            refs.discard(name)
        self.aliases = {a: r for a, r in self.aliases.items() if r}

    def put_alias(self, alias: str, index: str) -> None:
        if alias in self.indices:
            raise NameRegistryError(f"alias collides with index: {alias!r}")
        if index not in self.indices:
            raise NameRegistryError(f"unknown index: {index!r}")
        self.aliases.setdefault(alias, set()).add(index)

    def delete_alias(self, alias: str, index: Optional[str] = None) -> None:
        if alias not in self.aliases:
            raise NameRegistryError(f"unknown alias: {alias!r}")
        if index is None:
            del self.aliases[alias]
        else:
            self.aliases[alias].discard(index)
            if not self.aliases[alias]:
                del self.aliases[alias]

    def resolve(self, name: str) -> List[str]:
        if name in self.indices:
            return [name]
        if name in self.aliases:
            return sorted(self.aliases[name])
        raise NameRegistryError(f"unknown index or alias: {name!r}")


class Cluster:
    """Python facade over multiple on-disk indices."""

    def __init__(self, spark: SparkSession, root_dir: str,
                 serving_mode: str = "spark",
                 serving_lazy: bool = False):
        """``serving_mode`` is forwarded to every SearchEngine this
        cluster opens: "spark" | "local" | "auto" (see
        query.engine.SearchEngine — "auto" serves small indexes from
        the driver in milliseconds, no Spark jobs).  ``serving_lazy``
        forwards the driver-side searcher's decode-on-demand mode."""
        self.spark = spark
        self.root = root_dir
        self.serving_mode = serving_mode
        self.serving_lazy = serving_lazy
        os.makedirs(root_dir, exist_ok=True)
        self.registry = NameRegistry()
        self._mappings: Dict[str, List[FieldMapping]] = {}
        self._engines: Dict[str, SearchEngine] = {}

    def _dir(self, index: str) -> str:
        return os.path.join(self.root, index)

    # -- index lifecycle (index_api.rs analogue) ----------------------
    def create_index(self, name: str, mapping_json: dict,
                     key_col: str, **config_kwargs) -> None:
        self.registry.insert_index(name)
        self._mappings[name] = parse_mapping(mapping_json)

    def delete_index(self, name: str) -> None:
        self.registry.delete_index(name)
        self._mappings.pop(name, None)
        self._engines.pop(name, None)
        shutil.rmtree(self._dir(name), ignore_errors=True)

    def put_mapping(self, name: str, mapping_json: dict) -> None:
        if name not in self.registry.indices:
            raise NameRegistryError(f"unknown index: {name!r}")
        self._mappings[name] = parse_mapping(mapping_json)
        self._engines.pop(name, None)

    # -- ingest (bulk_api.rs analogue, batch-native) ------------------
    def bulk(self, name: str, docs: DataFrame, key_col: str,
             jobs: int = 1, resume: bool = False, **config_kwargs) -> dict:
        if name not in self.registry.indices:
            raise NameRegistryError(f"unknown index: {name!r}")
        fields = self._mappings[name]
        cfg = mapping_to_config(fields, key_col=key_col, **config_kwargs)
        prepared = prepare_docs(docs, fields, key_col=key_col)
        report = build_index(self.spark, prepared, self._dir(name), cfg,
                             jobs=jobs, resume=resume)
        self._engines.pop(name, None)
        return report

    # -- aliases (alias_api.rs analogue) -------------------------------
    def put_alias(self, alias: str, index: str) -> None:
        self.registry.put_alias(alias, index)

    def delete_alias(self, alias: str, index: Optional[str] = None) -> None:
        self.registry.delete_alias(alias, index)

    # -- read path -----------------------------------------------------
    def engine(self, index: str) -> SearchEngine:
        if index not in self._engines:
            self._engines[index] = SearchEngine(
                self.spark, self._dir(index), mode=self.serving_mode,
                serving_lazy=self.serving_lazy)
        return self._engines[index]

    def search(self, name: str, query_json: dict, size: int = 10,
               from_: int = 0,
               fields: Optional[List[str]] = None) -> List[dict]:
        """Hits across the name/alias target; multi-index results are
        merged by score (alias search semantics).  ``fields`` returns
        stored field values per hit (the `fields` URL parameter,
        search_api.rs:93-105).

        Ordering contract: (score desc, index name asc, doc_id asc) —
        the same (score desc, doc_id asc) every engine guarantees,
        extended lexicographically by index name so cross-index ties
        are deterministic.  A single-index target therefore orders
        EXACTLY as its engine does (the reference leaves cross-index
        tie order unspecified; collectors/top_score.rs:49-110)."""
        hits: List[dict] = []
        for index in self.registry.resolve(name):
            for h in self.engine(index).hits(query_json,
                                             size=size + from_,
                                             fields=fields):
                hits.append({**h, "_index": index})
        hits.sort(key=lambda h: (-h["score"], h["_index"], h["doc_id"]))
        return hits[from_:from_ + size]

    def count(self, name: str, query_json: Optional[dict] = None) -> int:
        return sum(self.engine(i).count(query_json)
                   for i in self.registry.resolve(name))

    def get_document(self, index: str, key: str) -> Optional[dict]:
        """GET /:index/:mapping/:doc — returns the stored row as a
        dict (the reference stubs this with ``{}``,
        document_api.rs:30-49; ours is functional).

        Served from the kbucket-pruned doc_index sidecar with a
        driver-side pyarrow read — ZERO Spark jobs, mirroring the
        reference's O(1) ``k<doc_key>`` lookup
        (document_index.rs:71-91): one kbucket partition resolves the
        doc_id, then one row-group-pruned read of that job's docs dir
        fetches the stored row.  While deletions are pending, the hits
        are checked against the engine's deletion lists (read once,
        on the driver): an upserted key has two hits until the merge,
        and only the live one is returned.  A key column or a key that
        is not a string goes to the Spark scan instead (as does a
        torn sidecar, whose hit has no docs row).  Both paths return
        the same keys: every column of the engine's docs frame, None
        where the document's job did not store it."""
        eng = self.engine(index)
        row = self._get_document_driver(eng, key)
        if row is not NotImplemented:
            return row
        frame = eng._live(eng.docs.where(F.col(eng.config.key_col) == key))
        row = frame.limit(1).collect()
        return row[0].asDict() if row else None

    @staticmethod
    def _get_document_driver(eng: SearchEngine, key: str):
        """Zero-Spark-job GET through the doc_index sidecar; returns
        NotImplemented when the driver path cannot serve (caller
        falls back to the Spark scan)."""
        import pyarrow.dataset as ds

        from .index.doc_index import lookup_key_driver
        if not (isinstance(key, str) and eng.key_is_string):
            # kbucket is Spark's hash of the native key type, which
            # the driver's string hash does not reproduce
            return NotImplemented
        hits = lookup_key_driver(eng.layout, eng.config, eng._jobs, key)
        if eng.deletions is not None:
            hits = [h for h in hits if not eng.is_deleted(h[1])]
        if not hits:
            return None
        job, doc_id = hits[0]
        tbl = ds.dataset(eng.layout.job_dir("docs", job),
                         format="parquet").to_table(
            filter=ds.field("doc_id") == doc_id)
        if tbl.num_rows == 0:      # torn sidecar — let Spark decide
            return NotImplemented
        row = {c: tbl.column(c)[0].as_py() for c in tbl.column_names}
        # match the Spark path's Row.asDict exactly: the basePath
        # partition column rides along, columns this job did not
        # store read as None, and binary cells surface as bytearray
        row["job"] = job
        row = {c: row.get(c) for c in eng.docs.columns}
        return {k: (bytearray(v) if isinstance(v, bytes) else v)
                for k, v in row.items()}

    def delete_document(self, index: str, key: str) -> bool:
        """DELETE /:index/:mapping/:doc — logical delete via the
        deletion list; physically erased at the next merge."""
        from .index.delete import delete_documents
        n = delete_documents(self.spark, self._dir(index), keys=[key])
        self._engines.pop(index, None)
        return n > 0

    def refresh(self, name: str) -> None:
        """POST /:index/_refresh — drop cached engines so new jobs are
        visible (the reference acks it as a no-op, index_api.rs:155-161)."""
        for index in self.registry.resolve(name):
            self._engines.pop(index, None)
