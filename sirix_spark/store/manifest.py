"""The revision catalog of every store: one `manifest.json` per
resource, and the only module that knows its format.

Reference parity: revision number + commit timestamp + author +
message per revision (SirixQueryContext.java:57-92 commit metadata;
GetRevisionTimestamp.java / GetAuthorID/Name.java accessors;
/history endpoint SirixVerticle.kt:508).

All three stores keep their catalog here: `VersionedStore` (record
mode, `RevisionEntry`) and the text-revision stores `DocumentStore`
and `XmlStore` (`CommitEntry`, plus the index registry, the nodeKey
counter and the valid-time paths). The catalog is tiny (one entry per
commit) and driver-side. It is the commit point: `save` is atomic via
tmp+rename, so after a kill it always names a fully-committed prefix
of revisions, and `gc_orphans` removes what an interrupted commit
left past the head. Single-writer semantics, like the reference's
one-write-transaction-per-resource model (JsonNodeTrx.java), are
enforced by `writer_lock`: a commit holds it from its head read to its
catalog append.

Time travel asks one question of the catalog: the latest revision
committed at or before an instant (`revision_at`, jn:open /
xml:open / DocByPointInTime), or every revision committed in a range
(`revisions_between`, jn:open-revisions). Zone-less instants read as
UTC in both.

Schemas live in the catalog, as in Delta's and Iceberg's table
metadata: each record-mode entry records the Spark schema of every
part its commit wrote (`data/`, `upserts/`, `deletes/`, `cum/`), so
opening a revision reads its parquet with a known schema instead of
launching one schema-inference Spark job per part. The schema is the
writing plan's, made nullable, which is exactly what a parquet write
stores, so recording it costs no job either. Entries written before
schemas were recorded carry none; readers infer theirs.
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import shutil
import threading
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from datetime import datetime, timezone

from pyspark.sql.types import StructType

MANIFEST = "manifest.json"


def utc(instant: datetime | str) -> datetime:
    """An instant as an aware datetime: ISO-8601 text ('Z' allowed) or
    a datetime; zone-less instants read as UTC."""
    if isinstance(instant, str):
        instant = datetime.fromisoformat(instant.replace("Z", "+00:00"))
    return instant if instant.tzinfo else instant.replace(tzinfo=timezone.utc)


def stamp(instant: datetime | str | None = None) -> str:
    """The `committed_at` text of a commit at `instant` (default now)."""
    return utc(instant or datetime.now(timezone.utc)).isoformat()


@dataclass
class _Entry:
    revision: int
    committed_at: str  # ISO-8601 UTC

    @property
    def committed_at_dt(self) -> datetime:
        return utc(self.committed_at)


@dataclass
class RevisionEntry(_Entry):
    """A record-mode (`VersionedStore`) commit."""

    author: str | None
    message: str | None
    kind: str  # "checkpoint" | "delta"
    n_upserts: int = 0
    n_deletes: int = 0
    # part name ("data" | "upserts" | "deletes" | "cum") → StructType JSON
    schemas: dict[str, str] | None = None

    def schema(self, part: str) -> StructType | None:
        """Recorded schema of a part, or None if the entry predates
        schema recording."""
        js = (self.schemas or {}).get(part)
        return None if js is None else StructType.fromJson(json.loads(js))

    def to_json(self) -> dict:
        return asdict(self)


@dataclass
class CommitEntry(_Entry):
    """A text-revision (`DocumentStore` / `XmlStore`) commit; unset
    fields are not written."""

    author: str | None = None
    author_id: str | None = None
    message: str | None = None

    def to_json(self) -> dict:
        return {k: v for k, v in asdict(self).items() if v is not None}


_held = threading.local()


@contextmanager
def writer_lock(res_dir: str):
    """Exclusive writer lock on one resource: an `flock` on the
    resource directory itself, so no lock file appears in its listing.
    Each holder opens its own descriptor, so the lock excludes threads
    of one process and other processes alike, and the kernel releases
    it when a holder dies. Re-entrant per thread: a read-modify-write
    commit (delete_where → _write_commit) takes it once."""
    held = _held.__dict__.setdefault("dirs", set())
    key = os.path.realpath(res_dir)
    if key in held:
        yield
        return
    fd = os.open(key, os.O_RDONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        held.add(key)
        try:
            yield
        finally:
            held.discard(key)
    finally:
        os.close(fd)  # closing the descriptor releases the lock


class Manifest:
    """One resource's catalog, loaded from `res_dir` (empty when the
    resource has none yet). `entries` are `entry` objects; `data` is
    the whole document, kept in step by `append`."""

    def __init__(self, res_dir: str, entry: type = RevisionEntry):
        self.res_dir = res_dir
        self.path = os.path.join(res_dir, MANIFEST)
        self.data: dict = {"revisions": []}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.data = json.load(f)
        self.entries = [entry(**e) for e in self.data["revisions"]]

    @staticmethod
    def exists(res_dir: str) -> bool:
        """Whether `res_dir` holds a committed resource."""
        return os.path.isfile(os.path.join(res_dir, MANIFEST))

    def save(self) -> None:
        # atomic tmp+rename: the manifest IS the commit point — a kill
        # mid-write must never corrupt the revision catalog
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.data, f, indent=1)
        os.replace(tmp, self.path)

    def append(self, entry: _Entry) -> None:
        if entry.revision != self.latest_revision() + 1:
            raise ValueError(
                f"revision {entry.revision} is not successor of {self.latest_revision()}"
            )
        self.entries.append(entry)
        self.data["revisions"].append(entry.to_json())
        self.save()

    def gc_orphans(self, pattern: str) -> list[str]:
        """Remove what a commit killed before its catalog rename left
        behind: every file or directory whose name fully matches
        `pattern` with a revision (its first group) past the head, and
        a stranded tmp. Returns the removed paths. Call it under the
        writer lock, so a commit in flight is never taken for an
        orphan."""
        head = self.latest_revision()
        removed: list[str] = []
        for name in sorted(os.listdir(self.res_dir)):
            m = re.fullmatch(pattern, name)
            if not ((m and int(m.group(1)) > head) or name == MANIFEST + ".tmp"):
                continue
            full = os.path.join(self.res_dir, name)
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            else:
                os.remove(full)
            removed.append(full)
        return removed

    # ----- lookups -----------------------------------------------------
    def latest_revision(self) -> int:
        return self.entries[-1].revision if self.entries else 0

    def revisions(self) -> list[int]:
        return [e.revision for e in self.entries]

    def entry(self, revision: int) -> _Entry:
        if not 1 <= revision <= len(self.entries):
            raise KeyError(f"revision {revision} not in [1, {len(self.entries)}]")
        return self.entries[revision - 1]

    def revision_at(self, instant: datetime | str) -> int | None:
        """Latest revision committed at or before `instant`, None
        before the first (jn:open semantics, DocByPointInTime.java)."""
        t = utc(instant)
        best = None
        for e in self.entries:
            if e.committed_at_dt <= t:
                best = e.revision
        return best

    def revisions_between(self, start: datetime | str, end: datetime | str) -> list[int]:
        """Every revision committed in [start, end] (OpenRevisions.java)."""
        t1, t2 = utc(start), utc(end)
        return [e.revision for e in self.entries if t1 <= e.committed_at_dt <= t2]

    def latest_checkpoint_at_or_before(self, revision: int) -> int:
        ckpt = 0
        for e in self.entries[:revision]:
            if e.kind == "checkpoint":
                ckpt = e.revision
        return ckpt

    # ----- text-store metadata -----------------------------------------
    @property
    def indexes(self) -> list[dict]:
        """The secondary-index registry (number, kind, content_type,
        paths per index)."""
        return self.data.setdefault("indexes", [])

    @indexes.setter
    def indexes(self, value: list[dict]) -> None:
        self.data["indexes"] = value

    @property
    def next_key(self) -> int | None:
        """The monotonic nodeKey counter (None in legacy catalogs)."""
        return self.data.get("next_key")

    def advance_next_key(self, keys: list[int]) -> None:
        """Move the counter past every key in `keys`: a key, once
        issued, is never reused."""
        self.data["next_key"] = max(self.data.get("next_key", 1), max(keys, default=0) + 1)

    @property
    def valid_time(self) -> dict | None:
        return self.data.get("valid_time")

    @valid_time.setter
    def valid_time(self, value: dict) -> None:
        self.data["valid_time"] = value
