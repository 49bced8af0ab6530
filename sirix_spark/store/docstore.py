"""Document-mode versioned store (arbitrary JSON resources).

The record-mode `VersionedStore` (store.py) is the scale path for
tabular/record collections; this store covers the reference's other
storage shape — a single arbitrary JSON document per resource, with
revisions, commits, and secondary-index metadata
(BasicJsonDBStore.java / JsonResourceSession).  Documents here are
query-able through the node-table representation
(sirix_spark/store/docnodes.py) — all reads are Spark DataFrame
plans; only the transactional surface (commit files, manifest) is
driver-side, as in any engine's txn coordinator.

Layout::

    root/<db>/<res>/manifest.json     revisions + index registry
    root/<db>/<res>/r<N>.json         document text per revision
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from sirix_spark.store.docnodes import nodes_df, shred_text
from sirix_spark.store.manifest import writer_lock


class DocStoreError(ValueError):
    pass


@dataclass
class IndexDef:
    number: int
    kind: str  # cas | path | name
    content_type: str | None  # xs:string / xs:integer / … (cas only)
    paths: tuple[str, ...]


@dataclass
class DocHandle:
    """One opened (db, res, revision) — the jn:doc(...) value."""

    store: "DocumentStore"
    db: str
    res: str
    revision: int
    _nodes: DataFrame | None = field(default=None, repr=False)
    _rows: list | None = field(default=None, repr=False)

    @property
    def doc_id(self) -> str:
        return f"{self.db}/{self.res}@r{self.revision}"

    def text(self) -> str:
        return self.store.read_text(self.db, self.res, self.revision)

    def rows(self) -> list:
        if self._rows is None:
            self._rows = shred_text(
                self.text(),
                doc_id=self.doc_id,
                keys=self.store.read_keys(self.db, self.res, self.revision),
            )
        return self._rows

    def nodes(self) -> DataFrame:
        if self._nodes is None:
            self._nodes = nodes_df(self.store.spark, self.rows())
        return self._nodes

    def root_kind(self) -> str:
        return self.rows()[0][3]


class DocumentStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        path_summary: bool = True,
        path_stats: bool | None = None,
    ):
        """``path_summary``/``path_stats`` mirror BasicJsonDBStore's
        buildPathSummary/buildPathStatistics (PathSummaryOffTest):
        statistics DEFAULT to the summary setting — turning the
        summary off silently turns the defaulted statistics off with
        it — but asking for stats WITHOUT a summary explicitly is
        impossible and fails closed. In this engine the summary is a
        derived DataFrame view, so 'off' disables the serving surface
        (path_summary_stats raises), not resource creation."""
        if path_stats is None:
            path_stats = path_summary
        if path_stats and not path_summary:
            raise DocStoreError(
                "path statistics require a path summary "
                "(buildPathSummary(false) + buildPathStatistics(true))"
            )
        self.path_summary = path_summary
        self.path_stats = path_stats
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ paths
    def _res_dir(self, db: str, res: str) -> str:
        return os.path.join(self.root, db, res)

    def _manifest_path(self, db: str, res: str) -> str:
        return os.path.join(self._res_dir(db, res), "manifest.json")

    def _read_manifest(self, db: str, res: str) -> dict:
        p = self._manifest_path(db, res)
        if not os.path.exists(p):
            raise DocStoreError(f"unknown resource {db}/{res}")
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
            raise DocStoreError(f"unknown resource {db}/{res}")
        return writer_lock(self._res_dir(db, res))

    def recover(self, db: str, res: str) -> list[str]:
        """GC files orphaned by a commit killed before its manifest
        rename: r{n}.json / k{n}.json beyond the manifest head, and a
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
                m = re.fullmatch(r"[rk](\d+)\.json", name)
                if (m and int(m.group(1)) > head) or name == "manifest.json.tmp":
                    os.remove(os.path.join(d, name))
                    removed.append(os.path.join(d, name))
        return removed

    # ------------------------------------------------------------ store
    def exists(self, db: str, res: str) -> bool:
        return os.path.exists(self._manifest_path(db, res))

    def store(
        self,
        db: str,
        res: str,
        text: str,
        author: str | None = None,
        author_id: str | None = None,
        message: str | None = None,
        commit_ts: str | None = None,
    ) -> int:
        """jn:store — create the resource at revision 1 (the text is
        validated/canonicalized through one parse). `message` /
        `commit_ts` are the reference's jn:store/jn:load option-object
        fields commitMessage / commitTimestamp
        (json/BasicJsonDBStore options; LoadIntegrationTest.java) —
        recorded in the revision entry, where commit_ts overrides the
        wall-clock committed_at so jn:open(point-in-time) sees the
        caller-declared instant."""
        from sirix_spark.store.docnodes import dumps_doc, loads_doc

        canon = dumps_doc(loads_doc(text))
        os.makedirs(self._res_dir(db, res), exist_ok=True)
        if self.exists(db, res):
            # jn:store replaces an existing resource (Brackit store
            # createNew semantics — the reference drops and recreates)
            self.drop_resource(db, res)
            os.makedirs(self._res_dir(db, res), exist_ok=True)
        from sirix_spark.store.docnodes import enum_count

        n_slots = enum_count(loads_doc(canon))
        self._write_revision(db, res, 1, canon, keys=list(range(1, n_slots + 1)))
        self._write_manifest(
            db,
            res,
            {
                "revisions": [
                    self._rev_entry(1, author, author_id, message, commit_ts)
                ],
                "indexes": [],
                # the reference's monotonic nodeKey counter: never
                # reused, advanced by every insert (stable identity
                # across revisions — SirixDeweyID-free key allocation)
                "next_key": n_slots + 1,
            },
        )
        return 1

    def load(
        self,
        db: str,
        res: str,
        uri: str,
        message: str | None = None,
        commit_ts: str | None = None,
    ) -> int:
        """jn:load — read a JSON file (file:// URI or path)."""
        path = uri[7:] if uri.startswith("file://") else uri
        with open(path, encoding="utf-8-sig") as f:
            return self.store(
                db, res, f.read(), message=message, commit_ts=commit_ts
            )

    # the reference's default commit user (Databases.openJsonDatabase
    # without an explicit User — GetAuthorName.java serves "admin")
    DEFAULT_AUTHOR = "admin"
    DEFAULT_AUTHOR_ID = "00000000-0000-0000-0000-000000000000"

    @staticmethod
    def _rev_entry(
        n: int,
        author: str | None = None,
        author_id: str | None = None,
        message: str | None = None,
        commit_ts: str | None = None,
    ) -> dict:
        committed = datetime.now(timezone.utc).isoformat()
        if commit_ts:
            # commitTimestamp option: naive timestamps are UTC (the
            # reference parses LocalDateTime and stores it as the
            # revision instant)
            dt = datetime.fromisoformat(commit_ts.replace("Z", "+00:00"))
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            committed = dt.isoformat()
        entry = {
            "revision": n,
            "committed_at": committed,
            "author": author or DocumentStore.DEFAULT_AUTHOR,
            "author_id": author_id or DocumentStore.DEFAULT_AUTHOR_ID,
        }
        if message is not None:
            entry["message"] = message
        return entry

    def rev_entry(self, db: str, res: str, revision: int) -> dict:
        for e in self._read_manifest(db, res)["revisions"]:
            if e["revision"] == revision:
                return e
        raise DocStoreError(f"no revision {revision} of {db}/{res}")

    def _write_revision(
        self, db: str, res: str, n: int, text: str, keys: list[int] | None = None
    ) -> None:
        with open(os.path.join(self._res_dir(db, res), f"r{n}.json"), "w") as f:
            f.write(text)
        if keys is not None:
            with open(
                os.path.join(self._res_dir(db, res), f"k{n}.json"), "w"
            ) as f:
                json.dump(keys, f)

    def read_keys(self, db: str, res: str, revision: int) -> list[int] | None:
        """Pre-order nodeKey sequence of a revision (None → the keys
        are sequential 1..N, the pre-identity legacy layout)."""
        p = os.path.join(self._res_dir(db, res), f"k{revision}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def next_key(self, db: str, res: str) -> int:
        m = self._read_manifest(db, res)
        nk = m.get("next_key")
        if nk is None:
            # Legacy fallback must scan ALL revisions, not just the
            # latest: a key issued in an earlier revision and since
            # deleted must never be reissued, or node_revisions /
            # sdb:item-history would conflate two distinct nodes.
            high = 0
            for r in self.revisions(db, res):
                keys = self.read_keys(db, res, r)
                if keys is None:
                    from sirix_spark.store.docnodes import enum_count, loads_doc

                    high = max(
                        high,
                        enum_count(loads_doc(self.read_text(db, res, r))),
                    )
                else:
                    high = max(high, max(keys, default=0))
            nk = high + 1
        return nk

    def node_revisions(self, db: str, res: str, key: int) -> list[int]:
        """Revisions whose node table contains ``key`` — the probe
        behind jn:first-existing / jn:last-existing / sdb:item-history
        / sdb:is-deleted (RecordPersister node-history reads). Metadata-
        sized: one key-set per revision, read driver-side like any txn
        catalog lookup."""
        out = []
        for r in self.revisions(db, res):
            keys = self.read_keys(db, res, r)
            if keys is None:
                from sirix_spark.store.docnodes import enum_count, loads_doc

                n = enum_count(loads_doc(self.read_text(db, res, r)))
                if 1 <= key <= n:
                    out.append(r)
            elif key in keys:
                out.append(r)
        return out

    def read_text(self, db: str, res: str, revision: int) -> str:
        p = os.path.join(self._res_dir(db, res), f"r{revision}.json")
        if not os.path.exists(p):
            raise DocStoreError(f"no revision {revision} of {db}/{res}")
        with open(p) as f:
            return f.read()

    # ------------------------------------------------------- revisions
    def latest_revision(self, db: str, res: str) -> int:
        return self._read_manifest(db, res)["revisions"][-1]["revision"]

    def revisions(self, db: str, res: str) -> list[int]:
        return [e["revision"] for e in self._read_manifest(db, res)["revisions"]]

    def doc(self, db: str, res: str, revision: int | None = None) -> DocHandle:
        if revision is None:
            revision = self.latest_revision(db, res)
        return DocHandle(self, db, res, revision)

    def commit(
        self,
        db: str,
        res: str,
        text: str | None = None,
        keys: list[int] | None = None,
        author: str | None = None,
        author_id: str | None = None,
        message: str | None = None,
    ) -> int:
        """sdb:commit — write a new revision (same content unless an
        update supplies new text; index creation commits this way).

        ``keys`` is the pre-order nodeKey sequence of the new text
        (stable identity — the committer tracked keys through the
        mutation, store/docwtx.py). Omitted with unchanged text, the
        previous revision's keys carry over (an empty commit preserves
        every node's identity); omitted WITH new text, the revision
        renumbers sequentially (legacy, identity-breaking — no
        in-repo caller does this any more).

        Holds the resource's writer lock from the head read to the
        manifest write, so concurrent commits get distinct revisions
        and none is overwritten."""
        with self._writer(db, res):
            m = self._read_manifest(db, res)
            n = m["revisions"][-1]["revision"] + 1
            if text is None:
                text = self.read_text(db, res, n - 1)
                if keys is None:
                    keys = self.read_keys(db, res, n - 1)
            self._write_revision(db, res, n, text, keys=keys)
            if keys is not None:
                m["next_key"] = max(m.get("next_key", 1), max(keys, default=0) + 1)
            m["revisions"].append(self._rev_entry(n, author, author_id, message))
            self._write_manifest(db, res, m)
            return n

    # --------------------------------------------------------- indexes
    def create_index(
        self,
        db: str,
        res: str,
        kind: str,
        content_type: str | None,
        paths: tuple[str, ...],
    ) -> int:
        """jn:create-{cas,path,name}-index — register the definition.

        The node table's (path, json) columns already serve every scan
        the reference answers from its index trees (the columnar
        layout IS the index — SURVEY.md §7 'Do NOT port'); the
        registry preserves find-index numbering/commit semantics."""
        with self._writer(db, res):
            m = self._read_manifest(db, res)
            for e in m["indexes"]:
                if (
                    e["kind"] == kind
                    and e["content_type"] == content_type
                    and tuple(e["paths"]) == tuple(paths)
                ):
                    return e["number"]  # catalogues once (idempotent create)
            number = (
                max((e["number"] for e in m["indexes"]), default=-1) + 1
            )
            m["indexes"].append(
                {
                    "number": number,
                    "kind": kind,
                    "content_type": content_type,
                    "paths": list(paths),
                }
            )
            self._write_manifest(db, res, m)
            return number

    def drop_index(
        self,
        db: str,
        res: str,
        kind: str,
        number: int | None = None,
    ) -> int:
        """jn:drop-*-index — remove matching definitions (all of the
        kind when no number is given); returns how many dropped."""
        with self._writer(db, res):
            m = self._read_manifest(db, res)
            keep, dropped = [], 0
            for e in m["indexes"]:
                if e["kind"] == kind and (number is None or e["number"] == number):
                    dropped += 1
                else:
                    keep.append(e)
            m["indexes"] = keep
            self._write_manifest(db, res, m)
            return dropped

    def find_index(
        self,
        db: str,
        res: str,
        kind: str,
        content_type: str | None,
        paths: tuple[str, ...],
    ) -> int | None:
        """An index COVERS a request when every requested path is a
        registered pattern or is matched by one (e.g. a ``//[]`` index
        answers ``/[]/test/[]`` — the reference's findCASIndex path-
        class containment)."""
        import re as _re

        from sirix_spark.jsoniq.docindex import path_pattern_regex

        for e in self._read_manifest(db, res)["indexes"]:
            if e["kind"] != kind:
                continue
            if kind in ("cas", "projection") and e["content_type"] != content_type:
                continue
            def covered(p: str) -> bool:
                if p in e["paths"]:
                    return True
                # wildcard indexes subsume *pattern* requests too: a
                # `//*` index answers any request ending in a field
                # step, `//[]` any request ending in an array step
                # (the reference's findCASIndex path-class containment)
                last = p.rsplit("/", 1)[-1]
                for pat in e["paths"]:
                    if pat == "//*" and last not in ("[]", ""):
                        return True
                    if pat == "//[]" and last == "[]":
                        return True
                return any(
                    _re.fullmatch(path_pattern_regex(pat).strip("^$"), p)
                    for pat in e["paths"]
                )
            if all(covered(p) for p in paths):
                return e["number"]
        return None

    # ------------------------------------------------------ valid time
    def set_valid_time_paths(
        self, db: str, res: str, valid_from: str, valid_to: str
    ) -> None:
        """ResourceConfiguration.validTimePaths analog: record the
        member fields carrying the valid-time interval and auto-
        register the CAS indexes the reference builds for them
        (StoreValidTimeAutoIndex — xs:dateTime CAS on both paths).
        Leading '$.' is normalized away (ValidTimeConfig)."""
        frm = valid_from[2:] if valid_from.startswith("$.") else valid_from
        to = valid_to[2:] if valid_to.startswith("$.") else valid_to
        with self._writer(db, res):
            m = self._read_manifest(db, res)
            m["valid_time"] = {"from": frm, "to": to}
            self._write_manifest(db, res, m)
            self.create_index(
                db, res, "cas", "xs:dateTime", (f"//[]/{frm}", f"//[]/{to}")
            )

    def valid_time_config(self, db: str, res: str) -> dict | None:
        return self._read_manifest(db, res).get("valid_time")

    # -------------------------------------------------------- lifecycle
    def drop_resource(self, db: str, res: str) -> None:
        """jn:drop-resource (DropResource.java)."""
        import shutil

        if not self.exists(db, res):
            raise DocStoreError(f"unknown resource {db}/{res}")
        shutil.rmtree(self._res_dir(db, res))

    def drop_database(self, db: str) -> None:
        """jn:drop-database (DropDatabase.java)."""
        import shutil

        p = os.path.join(self.root, db)
        if not os.path.isdir(p):
            raise DocStoreError(f"unknown database {db}")
        shutil.rmtree(p)

    def database_exists(self, db: str) -> bool:
        return os.path.isdir(os.path.join(self.root, db))

    def resources(self, db: str) -> list[str]:
        p = os.path.join(self.root, db)
        if not os.path.isdir(p):
            return []
        return sorted(
            r for r in os.listdir(p)
            if os.path.exists(os.path.join(p, r, "manifest.json"))
        )

    # ------------------------------------------------------------- diff
    def diff_json(self, db: str, res: str, r1: int, r2: int) -> str:
        """jn:diff — node-level diff of two revisions in the
        reference's wire shape (Diff.java:200 createMetaInfo +
        JsonDiffSerializer.java op objects): ``{"database","resource",
        "old-revision","new-revision","diffs":[{"insert":{...}},
        {"delete":{...}},{"update":{...}},{"replace":{...}}]}``.

        The op set comes from the same set-based differ the record
        store uses (operators/diff.py — full-outer join over flattened
        node rows, parent-suppressed); nodeKeys are this store's
        pre-order keys resolved per revision."""
        from sirix_spark.operators.diff import json_node_diff

        old_text = self.read_text(db, res, r1)
        new_text = self.read_text(db, res, r2)
        meta = {
            "database": db,
            "resource": res,
            "old-revision": r1,
            "new-revision": r2,
            "diffs": [],
        }
        if old_text == new_text:
            return json.dumps(meta, separators=(",", ":"), ensure_ascii=False)
        df = self.spark.createDataFrame(
            [(1, old_text, new_text)], "id int, old string, new string"
        )
        ops = json_node_diff(df, ["id"], "old", "new").collect()

        def flatten_keys(text: str) -> dict[str, int]:
            rows = shred_text(text)
            by_key = {r[1]: r for r in rows}
            memo: dict[int, str] = {}

            def fp(key: int) -> str:
                if key in memo:
                    return memo[key]
                _, k, parent, kind, fname, cont, ordv = by_key[key][:7]
                if parent is None:
                    p = ""
                elif fname is not None:
                    base = parent if kind == "field" else cont
                    p = fp(base) + "/" + fname
                else:
                    p = fp(cont) + f"/[{ordv}]"
                memo[key] = p
                return p

            out: dict[str, int] = {}
            for r in rows:
                if r[3] == "field":
                    continue
                out.setdefault(fp(r[1]), r[1])
            return out

        old_keys = flatten_keys(old_text)
        new_keys = flatten_keys(new_text)
        diffs = []
        for row in sorted(ops, key=lambda r: r["path"]):
            path, op = row["path"], row["op"]
            if op == "insert":
                body = {
                    "nodeKey": new_keys.get(path),
                    "path": path,
                    "data": row["new_value"],
                }
            elif op == "delete":
                body = {"nodeKey": old_keys.get(path), "path": path}
            else:  # update | replace
                body = {
                    "nodeKey": new_keys.get(path),
                    "path": path,
                    "value": row["new_value"],
                }
            diffs.append({op: body})
        meta["diffs"] = diffs
        return json.dumps(meta, separators=(",", ":"), ensure_ascii=False)

    def index_def(self, db: str, res: str, number: int) -> IndexDef:
        for e in self._read_manifest(db, res)["indexes"]:
            if e["number"] == number:
                return IndexDef(
                    e["number"], e["kind"], e["content_type"], tuple(e["paths"])
                )
        raise DocStoreError(f"no index {number} on {db}/{res}")
