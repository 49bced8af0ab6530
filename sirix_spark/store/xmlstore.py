"""Versioned XML resources — the BasicXmlDBStore analog (reference:
bundles/sirix-query/src/main/java/io/sirix/query/node/BasicXmlDBStore
plus XmlResourceSession revisions). The JSON document store's
text-revision core (docstore.TextRevisionStore: r{n}.xml + k{n}.json
per revision, catalogued by manifest.py) under root/__xml__; reads
shred through sources/xml_source.py into the relational node table,
so axis navigation over any revision is a Spark plan.

Node identity: a keys sidecar holds the nodeKey of every node in
SHREDDER enumeration order, EXCLUDING the document node (always key
0, the reference's Fixed.DOCUMENT_NODE_KEY). A revision without one
is the legacy layout: keys are the enumeration indexes 1..N
themselves (exactly _shred_one's own numbering).

Temporal functions served from the catalog: xml:doc(db,res[,rev]),
xml:open(db,res,pointInTime), xml:open-revisions(db,res,t1,t2)
(function/xml/io/{DocByPointInTime,OpenRevisions}Test)."""

from __future__ import annotations

import os

from sirix_spark.store.docstore import TextRevisionStore


class XmlStoreError(ValueError):
    pass


class XmlStore(TextRevisionStore):
    ext = "xml"
    error = XmlStoreError

    def __init__(self, root: str):
        super().__init__(os.path.join(root, "__xml__"))

    def _node_count(self, text: str) -> int:
        from sirix_spark.sources.xml_source import _shred_one

        return len(_shred_one("", text)) - 1  # the document node is key 0

    def find_index(
        self,
        db: str,
        res: str,
        kind: str,
        content_type: str | None,
        paths: tuple[str, ...],
    ) -> int | None:
        """An index covers a request that names only its paths."""
        for e in self._manifest(db, res).indexes:
            if e["kind"] != kind:
                continue
            if kind == "cas" and e["content_type"] != content_type:
                continue
            if all(p in e["paths"] for p in paths):
                return e["number"]
        return None

    def nodes_rows(self, db: str, res: str, revision: int) -> list[dict]:
        """Shred a revision into the relational XML node-table rows
        (sources/xml_source.py schema) — axis queries build on it."""
        from sirix_spark.sources.xml_source import _shred_one

        return _shred_one(f"{db}/{res}@r{revision}", self.read_text(db, res, revision))
