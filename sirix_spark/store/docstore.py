"""Text-revision stores: one document text per revision.

The record-mode `VersionedStore` (store.py) is the scale path for
tabular/record collections; the reference's other storage shape is a
single document per resource, with revisions, commits, stable node
identity and secondary-index metadata (BasicJsonDBStore.java /
JsonResourceSession, and BasicXmlDBStore for XML). `TextRevisionStore`
is that shape's one core, for JSON (`DocumentStore`, here) and XML
(`XmlStore`, xmlstore.py) alike; a subclass names its file extension,
error class, legacy node count and find-index rule. The revision
catalog itself — its format, atomic save, writer lock, orphan GC and
time lookups — is manifest.py's. Documents are query-able through the
node-table representation (sirix_spark/store/docnodes.py,
sources/xml_source.py) — all reads are Spark DataFrame plans; only the
transactional surface (commit files, catalog) is driver-side, as in
any engine's txn coordinator.

Layout::

    root/<db>/<res>/manifest.json     revisions + index registry
    root/<db>/<res>/r<N>.<ext>        document text per revision
    root/<db>/<res>/k<N>.json         its nodeKeys in pre-order
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Sequence
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from sirix_spark.store.docnodes import dumps_doc, enum_count, loads_doc, nodes_df, shred_text
from sirix_spark.store.manifest import CommitEntry, Manifest, stamp, writer_lock


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


class TextRevisionStore:
    """Revisions of one document text per resource: ``r{n}.<ext>``
    plus its nodeKey sidecar ``k{n}.json``, catalogued in the
    resource's manifest. A subclass sets `ext` and `error` and defines
    `_node_count` (the legacy layout's node count) and `find_index`."""

    ext: str  # of the revision text files
    error: type[ValueError]
    # commit user written into each entry (None: none is recorded)
    DEFAULT_AUTHOR: str | None = None
    DEFAULT_AUTHOR_ID: str | None = None

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ paths
    def _res_dir(self, db: str, res: str) -> str:
        return os.path.join(self.root, db, res)

    def _path(self, db: str, res: str, name: str) -> str:
        return os.path.join(self._res_dir(db, res), name)

    def _manifest(self, db: str, res: str) -> Manifest:
        """The resource's catalog. Every catalog read goes through
        here, so a subclass can guard them all in one place."""
        if not self.exists(db, res):
            raise self.error(f"unknown resource {db}/{res}")
        return Manifest(self._res_dir(db, res), CommitEntry)

    def _writer(self, db: str, res: str):
        """The resource's writer lock (manifest.writer_lock)."""
        if not self.exists(db, res):
            raise self.error(f"unknown resource {db}/{res}")
        return writer_lock(self._res_dir(db, res))

    def exists(self, db: str, res: str) -> bool:
        return Manifest.exists(self._res_dir(db, res))

    def recover(self, db: str, res: str) -> list[str]:
        """GC files orphaned by a commit killed before its manifest
        rename: r{n}.<ext> / k{n}.json beyond the manifest head, and a
        stranded manifest.json.tmp. The manifest always names a
        fully-committed prefix, so everything past it is garbage. Runs
        under the writer lock, so a commit in flight is never taken for
        an orphan."""
        if not self.exists(db, res):
            return []
        with self._writer(db, res):
            return self._manifest(db, res).gc_orphans(rf"[rk](\d+)\.(?:{self.ext}|json)")

    # ------------------------------------------------------------ write
    def _entry(
        self,
        n: int,
        author: str | None = None,
        author_id: str | None = None,
        message: str | None = None,
        commit_ts: str | None = None,
    ) -> CommitEntry:
        # commit_ts: the caller-declared instant, naive read as UTC
        # (the reference parses LocalDateTime as the revision instant)
        return CommitEntry(
            n,
            stamp(commit_ts),
            author or self.DEFAULT_AUTHOR,
            author_id or self.DEFAULT_AUTHOR_ID,
            message,
        )

    def _write_text(self, db: str, res: str, n: int, text: str) -> None:
        with open(self._path(db, res, f"r{n}.{self.ext}"), "w") as f:
            f.write(text)

    def _write_keys(self, db: str, res: str, n: int, keys: list[int]) -> None:
        with open(self._path(db, res, f"k{n}.json"), "w") as f:
            json.dump(keys, f)

    def _write(
        self, m: Manifest, db: str, res: str, text: str, keys: list[int] | None, e: CommitEntry
    ) -> int:
        """Write revision e.revision's text and keys, then append its
        entry — the catalog save is the commit point."""
        self._write_text(db, res, e.revision, text)
        if keys is not None:
            self._write_keys(db, res, e.revision, keys)
            m.advance_next_key(keys)
        m.append(e)
        return e.revision

    def store(
        self,
        db: str,
        res: str,
        text: str,
        keys: list[int] | None = None,
        author: str | None = None,
        author_id: str | None = None,
        message: str | None = None,
        commit_ts: str | None = None,
    ) -> int:
        """Create the resource at revision 1, replacing an existing one
        (Brackit store createNew semantics — the reference drops and
        recreates). ``keys`` is the text's pre-order nodeKey sequence
        (None: the legacy layout, keys 1..N). `message` / `commit_ts`
        are the reference's commitMessage / commitTimestamp options
        (LoadIntegrationTest.java); commit_ts overrides the wall-clock
        committed_at so a point-in-time open sees the declared
        instant."""
        if self.exists(db, res):
            self.drop_resource(db, res)
        os.makedirs(self._res_dir(db, res), exist_ok=True)
        m = Manifest(self._res_dir(db, res), CommitEntry)
        m.indexes = []
        return self._write(m, db, res, text, keys, self._entry(1, author, author_id, message, commit_ts))

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
        """sdb:commit — append a revision (same content unless an
        update supplies new text; index creation commits this way).

        ``keys`` is the pre-order nodeKey sequence of the new text
        (stable identity — the committer tracked keys through the
        mutation, docwtx.py / xmlwtx.py). Omitted with unchanged text,
        the previous revision's keys carry over (an empty commit
        preserves every node's identity).

        Holds the resource's writer lock from the head read to the
        manifest write, so concurrent commits get distinct revisions
        and none is overwritten."""
        with self._writer(db, res):
            m = self._manifest(db, res)
            n = m.latest_revision() + 1
            if text is None:
                text = self.read_text(db, res, n - 1)
                if keys is None:
                    keys = self.read_keys(db, res, n - 1)
            return self._write(m, db, res, text, keys, self._entry(n, author, author_id, message))

    # ------------------------------------------------------------- read
    def read_text(self, db: str, res: str, revision: int) -> str:
        p = self._path(db, res, f"r{revision}.{self.ext}")
        if not os.path.exists(p):
            raise self.error(f"no revision {revision} of {db}/{res}")
        with open(p) as f:
            return f.read()

    def read_keys(self, db: str, res: str, revision: int) -> list[int] | None:
        """Pre-order nodeKey sequence of a revision (None → the keys
        are sequential 1..N, the pre-identity legacy layout)."""
        p = self._path(db, res, f"k{revision}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _node_count(self, text: str) -> int:
        """Nodes of a text, document node excluded: a legacy
        revision's keys are 1..N."""
        raise NotImplementedError

    def node_keys(self, db: str, res: str, revision: int) -> Sequence[int]:
        """A revision's nodeKeys: its sidecar, or 1..N for a legacy
        revision written without one."""
        keys = self.read_keys(db, res, revision)
        if keys is None:
            return range(1, self._node_count(self.read_text(db, res, revision)) + 1)
        return keys

    def next_key(self, db: str, res: str) -> int:
        """The resource's monotonic nodeKey counter. A legacy catalog
        without one derives it from ALL revisions, not just the latest:
        a key issued in an earlier revision and since deleted must
        never be reissued, or node_revisions / sdb:item-history would
        conflate two distinct nodes."""
        m = self._manifest(db, res)
        if m.next_key is not None:
            return m.next_key
        return 1 + max((max(self.node_keys(db, res, r), default=0) for r in m.revisions()), default=0)

    def node_revisions(self, db: str, res: str, key: int) -> list[int]:
        """Revisions whose tree contains nodeKey ``key`` — the probe
        behind jn:first-existing / jn:last-existing / sdb:item-history
        / sdb:is-deleted (RecordPersister node-history reads). Metadata-
        sized: one key-set per revision, read driver-side like any txn
        catalog lookup."""
        return [r for r in self.revisions(db, res) if key in self.node_keys(db, res, r)]

    # ------------------------------------------------------- revisions
    def entries(self, db: str, res: str) -> list[CommitEntry]:
        """Every revision's commit entry, oldest first."""
        return self._manifest(db, res).entries

    def rev_entry(self, db: str, res: str, revision: int) -> CommitEntry:
        try:
            return self._manifest(db, res).entry(revision)
        except KeyError:
            raise self.error(f"no revision {revision} of {db}/{res}") from None

    def revisions(self, db: str, res: str) -> list[int]:
        return self._manifest(db, res).revisions()

    def latest_revision(self, db: str, res: str) -> int:
        return self._manifest(db, res).latest_revision()

    def open_at(self, db: str, res: str, instant: datetime | str) -> int | None:
        """Latest revision committed at-or-before the instant (None
        before the first revision — DocByPointInTime semantics)."""
        return self._manifest(db, res).revision_at(instant)

    def open_revisions(
        self, db: str, res: str, start: datetime | str, end: datetime | str
    ) -> list[int]:
        """Revisions committed in [start, end] (OpenRevisions)."""
        return self._manifest(db, res).revisions_between(start, end)

    # --------------------------------------------------------- indexes
    def create_index(
        self,
        db: str,
        res: str,
        kind: str,
        content_type: str | None,
        paths: tuple[str, ...],
    ) -> int:
        """jn:create-{cas,path,name}-index / xml:create-*-index —
        register the definition.

        The node table's columns already serve every scan the
        reference answers from its index trees (the columnar layout IS
        the index — SURVEY.md §7 'Do NOT port'); the registry preserves
        find-index numbering/commit semantics."""
        with self._writer(db, res):
            m = self._manifest(db, res)
            for e in m.indexes:
                if (
                    e["kind"] == kind
                    and e["content_type"] == content_type
                    and tuple(e["paths"]) == tuple(paths)
                ):
                    return e["number"]  # catalogues once (idempotent create)
            number = max((e["number"] for e in m.indexes), default=-1) + 1
            m.indexes.append(
                {"number": number, "kind": kind, "content_type": content_type, "paths": list(paths)}
            )
            m.save()
            return number

    def drop_index(self, db: str, res: str, kind: str, number: int | None = None) -> int:
        """jn:drop-*-index — remove matching definitions (all of the
        kind when no number is given); returns how many dropped."""
        with self._writer(db, res):
            m = self._manifest(db, res)
            keep = [
                e for e in m.indexes
                if not (e["kind"] == kind and (number is None or e["number"] == number))
            ]
            dropped = len(m.indexes) - len(keep)
            m.indexes = keep
            m.save()
            return dropped

    def index_def(self, db: str, res: str, number: int) -> IndexDef:
        for e in self._manifest(db, res).indexes:
            if e["number"] == number:
                return IndexDef(e["number"], e["kind"], e["content_type"], tuple(e["paths"]))
        raise self.error(f"no index {number} on {db}/{res}")

    # -------------------------------------------------------- lifecycle
    def drop_resource(self, db: str, res: str) -> None:
        """jn:drop-resource (DropResource.java)."""
        if not self.exists(db, res):
            raise self.error(f"unknown resource {db}/{res}")
        shutil.rmtree(self._res_dir(db, res))

    def drop_database(self, db: str) -> None:
        """jn:drop-database (DropDatabase.java)."""
        p = os.path.join(self.root, db)
        if not os.path.isdir(p):
            raise self.error(f"unknown database {db}")
        shutil.rmtree(p)

    def database_exists(self, db: str) -> bool:
        return os.path.isdir(os.path.join(self.root, db))

    def resources(self, db: str) -> list[str]:
        p = os.path.join(self.root, db)
        if not os.path.isdir(p):
            return []
        return sorted(r for r in os.listdir(p) if self.exists(db, r))


class DocumentStore(TextRevisionStore):
    """JSON documents (BasicJsonDBStore): `jn:` resources."""

    ext = "json"
    error = DocStoreError
    # the reference's default commit user (Databases.openJsonDatabase
    # without an explicit User — GetAuthorName.java serves "admin")
    DEFAULT_AUTHOR = "admin"
    DEFAULT_AUTHOR_ID = "00000000-0000-0000-0000-000000000000"

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
        super().__init__(root)

    def store(self, db: str, res: str, text: str, keys: list[int] | None = None, **meta) -> int:
        """jn:store — the text is validated/canonicalized through one
        parse; without ``keys`` its nodes are numbered 1..N and the
        sidecar is written all the same (see TextRevisionStore.store)."""
        value = loads_doc(text)
        if keys is None:
            keys = list(range(1, enum_count(value) + 1))
        return super().store(db, res, dumps_doc(value), keys, **meta)

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

    def _node_count(self, text: str) -> int:
        return enum_count(loads_doc(text))

    def doc(self, db: str, res: str, revision: int | None = None) -> DocHandle:
        if revision is None:
            revision = self.latest_revision(db, res)
        return DocHandle(self, db, res, revision)

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
        from sirix_spark.jsoniq.docindex import path_pattern_regex

        for e in self._manifest(db, res).indexes:
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
                    re.fullmatch(path_pattern_regex(pat).strip("^$"), p)
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
            m = self._manifest(db, res)
            m.valid_time = {"from": frm, "to": to}
            m.save()
            self.create_index(
                db, res, "cas", "xs:dateTime", (f"//[]/{frm}", f"//[]/{to}")
            )

    def valid_time_config(self, db: str, res: str) -> dict | None:
        return self._manifest(db, res).valid_time

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
