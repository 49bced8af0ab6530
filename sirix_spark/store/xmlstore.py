"""Versioned XML resources — the BasicXmlDBStore analog (reference:
bundles/sirix-query/src/main/java/io/sirix/query/node/BasicXmlDBStore
plus XmlResourceSession revisions). Same transactional layout as the
JSON document store (manifest + one text file per revision); reads
shred through sources/xml_source.py into the relational node table,
so axis navigation over any revision is a Spark plan.

Temporal functions served from the manifest: xml:doc(db,res[,rev]),
xml:open(db,res,pointInTime), xml:open-revisions(db,res,t1,t2)
(function/xml/io/{DocByPointInTime,OpenRevisions}Test)."""

from __future__ import annotations

import json
import os
import re
from datetime import datetime, timezone

from sirix_spark.store.manifest import writer_lock


class XmlStoreError(ValueError):
    pass


class XmlStore:
    def __init__(self, root: str):
        self.root = os.path.join(root, "__xml__")
        os.makedirs(self.root, exist_ok=True)

    def _res_dir(self, db: str, res: str) -> str:
        return os.path.join(self.root, db, res)

    def _manifest_path(self, db: str, res: str) -> str:
        return os.path.join(self._res_dir(db, res), "manifest.json")

    def _read_manifest(self, db: str, res: str) -> dict:
        p = self._manifest_path(db, res)
        if not os.path.exists(p):
            raise XmlStoreError(f"unknown XML resource {db}/{res}")
        with open(p) as f:
            return json.load(f)

    def _write_manifest(self, db: str, res: str, m: dict) -> None:
        # atomic tmp+rename: the manifest IS the commit point — a kill
        # mid-write must never corrupt the revision catalog
        p = self._manifest_path(db, res)
        with open(p + ".tmp", "w") as f:
            json.dump(m, f, indent=1)
        os.replace(p + ".tmp", p)

    def _writer(self, db: str, res: str):
        """The resource's writer lock (manifest.writer_lock)."""
        if not self.exists(db, res):
            raise XmlStoreError(f"unknown XML resource {db}/{res}")
        return writer_lock(self._res_dir(db, res))

    def recover(self, db: str, res: str) -> list[str]:
        """GC files orphaned by a commit killed before its manifest
        rename: r{n}.xml / k{n}.json beyond the manifest head, and a
        stranded manifest.json.tmp. The manifest always names a
        fully-committed prefix, so everything past it is garbage. Runs
        under the writer lock, so a commit in flight is never taken for
        an orphan."""
        removed: list[str] = []
        d = self._res_dir(db, res)
        if not self.exists(db, res):
            return removed
        with self._writer(db, res):
            head = self._read_manifest(db, res)["revisions"][-1]["revision"]
            for name in sorted(os.listdir(d)):
                m = re.fullmatch(r"[rk](\d+)\.(?:xml|json)", name)
                if (m and int(m.group(1)) > head) or name == "manifest.json.tmp":
                    os.remove(os.path.join(d, name))
                    removed.append(os.path.join(d, name))
        return removed

    def exists(self, db: str, res: str) -> bool:
        return os.path.exists(self._manifest_path(db, res))

    @staticmethod
    def _entry(n: int) -> dict:
        return {
            "revision": n,
            "committed_at": datetime.now(timezone.utc).isoformat(),
        }

    def store(self, db: str, res: str, xml: str, keys: list[int] | None = None) -> int:
        os.makedirs(self._res_dir(db, res), exist_ok=True)
        self._write_text(db, res, 1, xml)
        m = {"revisions": [self._entry(1)]}
        if keys is not None:
            self._write_keys(db, res, 1, keys)
            m["next_key"] = max(keys, default=0) + 1
        self._write_manifest(db, res, m)
        return 1

    def commit(self, db: str, res: str, xml: str, keys: list[int] | None = None) -> int:
        """Append a revision. Holds the resource's writer lock from the
        head read to the manifest write, so concurrent commits get
        distinct revisions and none is overwritten."""
        with self._writer(db, res):
            m = self._read_manifest(db, res)
            n = m["revisions"][-1]["revision"] + 1
            self._write_text(db, res, n, xml)
            if keys is not None:
                self._write_keys(db, res, n, keys)
                m["next_key"] = max(
                    m.get("next_key", 1), max(keys, default=0) + 1
                )
            m["revisions"].append(self._entry(n))
            self._write_manifest(db, res, m)
            return n

    # ------------------------------------------- node-identity sidecars
    # Same discipline as the JSON DocumentStore: one keys file per
    # revision holding the nodeKey of every node in SHREDDER
    # enumeration order, EXCLUDING the document node (always key 0,
    # the reference's Fixed.DOCUMENT_NODE_KEY). A revision without a
    # sidecar is the legacy layout: keys are the enumeration indexes
    # 1..N themselves (exactly _shred_one's own numbering).
    def _write_keys(self, db: str, res: str, n: int, keys: list[int]) -> None:
        with open(os.path.join(self._res_dir(db, res), f"k{n}.json"), "w") as f:
            json.dump(keys, f)

    def read_keys(self, db: str, res: str, revision: int) -> list[int] | None:
        p = os.path.join(self._res_dir(db, res), f"k{revision}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def next_key(self, db: str, res: str) -> int:
        m = self._read_manifest(db, res)
        nk = m.get("next_key")
        if nk is None:
            # scan ALL revisions (a key deleted later must never be
            # reissued — same rule as DocumentStore.next_key)
            high = 0
            for r in self.revisions(db, res):
                keys = self.read_keys(db, res, r)
                if keys is None:
                    keys = list(range(1, len(self.nodes_rows(db, res, r))))
                high = max(high, max(keys, default=0))
            nk = high + 1
        return nk

    def node_revisions(self, db: str, res: str, key: int) -> list[int]:
        """Revisions whose tree contains nodeKey ``key`` — the probe
        behind temporal identity functions; metadata-sized reads."""
        out = []
        for r in self.revisions(db, res):
            keys = self.read_keys(db, res, r)
            if keys is None:
                n = len(self.nodes_rows(db, res, r)) - 1
                if 1 <= key <= n:
                    out.append(r)
            elif key in keys:
                out.append(r)
        return out

    def _write_text(self, db: str, res: str, n: int, xml: str) -> None:
        with open(os.path.join(self._res_dir(db, res), f"r{n}.xml"), "w") as f:
            f.write(xml)

    def read_text(self, db: str, res: str, revision: int) -> str:
        p = os.path.join(self._res_dir(db, res), f"r{revision}.xml")
        if not os.path.exists(p):
            raise XmlStoreError(f"no revision {revision} of {db}/{res}")
        with open(p) as f:
            return f.read()

    def revisions(self, db: str, res: str) -> list[int]:
        return [e["revision"] for e in self._read_manifest(db, res)["revisions"]]

    def latest_revision(self, db: str, res: str) -> int:
        return self.revisions(db, res)[-1]

    def open_at(self, db: str, res: str, instant: datetime) -> int | None:
        """Latest revision committed at-or-before the instant (None
        before the first revision — DocByPointInTime semantics)."""
        chosen = None
        for e in self._read_manifest(db, res)["revisions"]:
            if datetime.fromisoformat(e["committed_at"]) <= instant:
                chosen = e["revision"]
        return chosen

    def open_revisions(
        self, db: str, res: str, start: datetime, end: datetime
    ) -> list[int]:
        out = []
        for e in self._read_manifest(db, res)["revisions"]:
            t = datetime.fromisoformat(e["committed_at"])
            if start <= t <= end:
                out.append(e["revision"])
        return out

    # ------------------------------------------------ index registry
    # xml:create-{name,path,cas}-index (function/xml/index/create/*) —
    # same catalogue discipline as the JSON DocumentStore: the node
    # table's (kind, name, path, value) columns answer every scan the
    # reference serves from its index trees; the registry preserves
    # numbering and find-index semantics.
    def create_index(
        self,
        db: str,
        res: str,
        kind: str,
        content_type: str | None,
        paths: tuple[str, ...],
    ) -> int:
        with self._writer(db, res):
            m = self._read_manifest(db, res)
            idxs = m.setdefault("indexes", [])
            for e in idxs:
                if (
                    e["kind"] == kind
                    and e["content_type"] == content_type
                    and tuple(e["paths"]) == tuple(paths)
                ):
                    return e["number"]
            number = max((e["number"] for e in idxs), default=-1) + 1
            idxs.append(
                {
                    "number": number,
                    "kind": kind,
                    "content_type": content_type,
                    "paths": list(paths),
                }
            )
            self._write_manifest(db, res, m)
            return number

    def index_def(self, db: str, res: str, number: int) -> dict:
        for e in self._read_manifest(db, res).get("indexes", []):
            if e["number"] == number:
                return e
        raise XmlStoreError(f"no index {number} on {db}/{res}")

    def find_index(
        self,
        db: str,
        res: str,
        kind: str,
        content_type: str | None,
        paths: tuple[str, ...],
    ) -> int | None:
        for e in self._read_manifest(db, res).get("indexes", []):
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
