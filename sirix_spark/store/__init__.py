"""Versioned stores — the Spark-native re-expression of the
reference's bitemporal, append-only resource storage
(docs/ARCHITECTURE.md:66-160: Database → Resource → Revision → tree).

Design (SURVEY.md §1.5, §7):
- A *resource* is either a keyed record set (`VersionedStore`,
  store.py) or one JSON or XML document (`DocumentStore`,
  docstore.py; `XmlStore`, xmlstore.py). Every commit appends an
  immutable revision; all revisions stay queryable.
- Record sets are laid out as delta + periodic checkpoint
  (merge-on-read) — the Spark analog of the reference's
  sliding-snapshot page versioning (docs/ARCHITECTURE.md:1560):
  commits are O(delta), and read cost is bounded by the checkpoint
  interval, so time-travel opens stay flat in revision count (the
  reference's headline property, docs/BENCHMARKS.md:141-153).
- Documents share one text-revision core (docstore.TextRevisionStore):
  one text file plus one nodeKey sidecar per revision.
- Every store keeps one revision catalog per resource, manifest.py:
  revision, committed_at, author, message — the analog of
  RevisionRootPage metadata and the /history endpoint
  (crud/HistoryHandler.kt) — with its atomic save, writer lock,
  orphan GC and point-in-time lookup.
"""

from sirix_spark.store.store import VersionedStore

__all__ = ["VersionedStore"]
