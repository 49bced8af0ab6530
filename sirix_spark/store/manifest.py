"""Resource manifest: the revision catalog.

Reference parity: revision number + commit timestamp + author +
message per revision (SirixQueryContext.java:57-92 commit metadata;
GetRevisionTimestamp.java / GetAuthorID/Name.java accessors;
/history endpoint SirixVerticle.kt:508).

The manifest is tiny (one entry per commit) and driver-side; writes
are atomic via tmp+rename. Single-writer semantics, like the
reference's one-write-transaction-per-resource model
(JsonNodeTrx.java), enforced by `writer_lock`: a commit holds it from
its head read to its manifest append.

Schemas live in the catalog, as in Delta's and Iceberg's table
metadata: each entry records the Spark schema of every part its commit
wrote (`data/`, `upserts/`, `deletes/`, `cum/`), so opening a revision
reads its parquet with a known schema instead of launching one
schema-inference Spark job per part. The schema is the writing plan's,
made nullable, which is exactly what a parquet write stores, so
recording it costs no job either. Entries written before schemas were
recorded carry none; readers infer theirs.
"""

from __future__ import annotations

import fcntl
import json
import os
import threading
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from datetime import datetime, timezone

from pyspark.sql.types import StructType


@dataclass
class RevisionEntry:
    revision: int
    committed_at: str  # ISO-8601 UTC
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

    @property
    def committed_at_dt(self) -> datetime:
        dt = datetime.fromisoformat(self.committed_at)
        return dt if dt.tzinfo else dt.replace(tzinfo=timezone.utc)


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
    def __init__(self, path: str):
        self.path = path
        self.entries: list[RevisionEntry] = []
        if os.path.exists(path):
            with open(path) as f:
                data = json.load(f)
            self.entries = [RevisionEntry(**e) for e in data["revisions"]]

    def save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"revisions": [asdict(e) for e in self.entries]}, f, indent=1)
        os.replace(tmp, self.path)

    def append(self, entry: RevisionEntry) -> None:
        if entry.revision != self.latest_revision() + 1:
            raise ValueError(
                f"revision {entry.revision} is not successor of {self.latest_revision()}"
            )
        self.entries.append(entry)
        self.save()

    def latest_revision(self) -> int:
        return self.entries[-1].revision if self.entries else 0

    def entry(self, revision: int) -> RevisionEntry:
        if not 1 <= revision <= len(self.entries):
            raise KeyError(f"revision {revision} not in [1, {len(self.entries)}]")
        return self.entries[revision - 1]

    def revision_at(self, timestamp: datetime) -> int:
        """Most recent revision committed at or before `timestamp`
        (jn:open semantics, DocByPointInTime.java)."""
        if timestamp.tzinfo is None:
            timestamp = timestamp.replace(tzinfo=timezone.utc)
        best = 0
        for e in self.entries:
            if e.committed_at_dt <= timestamp:
                best = e.revision
        if best == 0:
            raise KeyError(f"no revision committed at or before {timestamp.isoformat()}")
        return best

    def latest_checkpoint_at_or_before(self, revision: int) -> int:
        ckpt = 0
        for e in self.entries[:revision]:
            if e.kind == "checkpoint":
                ckpt = e.revision
        return ckpt
