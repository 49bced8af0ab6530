"""Keyed write transactions over document resources — the
JsonNodeTrx analog (reference:
bundles/sirix-core/src/main/java/io/sirix/access/trx/node/json/
JsonNodeTrxImpl.java — insertSubtreeAsFirstChild/AsRightSibling,
insertArrayAsRightSibling, setStringValue, setObjectKeyName, remove,
commit).

The document is held as a **keyed tree**: every node (and every
object-field record) carries its nodeKey. Unchanged nodes keep their
keys across commits; inserted subtrees draw fresh keys from the
resource's monotonic counter (DocumentStore manifest ``next_key``) in
their own pre-order — exactly the reference's key-allocation
discipline, which is what makes jn:first-existing / jn:last-existing
/ sdb:item-history / sdb:is-deleted meaningful.

Driver-side by design: this is the transactional coordinator surface
(single-document mutations), not the analytics path. Reads of the
committed revisions stay Spark DataFrame plans over the node tables.

Tree shape (plain dicts, enumeration order == shredder order,
docnodes.shred_value):

- scalar: {"key", "kind", "value"}
- array:  {"key", "kind": "array", "items": [node...]}
- object: {"key", "kind": "object", "fields": [[fkey, name, node]...]}
"""

from __future__ import annotations

from sirix_spark.store.docnodes import _kind_of, dumps_doc, loads_doc
from sirix_spark.store.docstore import DocStoreError, DocumentStore


def tree_from(value, keyiter) -> dict:
    """Build a keyed tree, consuming keys in shredder enumeration
    order (node first; objects then alternate field-record key /
    field-value subtree)."""
    key = next(keyiter)
    if isinstance(value, dict):
        fields = []
        for name, v in value.items():
            fkey = next(keyiter)
            fields.append([fkey, name, tree_from(v, keyiter)])
        return {"key": key, "kind": "object", "fields": fields}
    if isinstance(value, list):
        return {
            "key": key,
            "kind": "array",
            "items": [tree_from(v, keyiter) for v in value],
        }
    return {"key": key, "kind": _kind_of(value), "value": value}


def tree_value(node: dict):
    if node["kind"] == "object":
        return {name: tree_value(child) for _, name, child in node["fields"]}
    if node["kind"] == "array":
        return [tree_value(item) for item in node["items"]]
    return node["value"]


def tree_keys(node: dict) -> list[int]:
    """Pre-order key sequence in shredder enumeration order."""
    out = [node["key"]]
    if node["kind"] == "object":
        for fkey, _, child in node["fields"]:
            out.append(fkey)
            out.extend(tree_keys(child))
    elif node["kind"] == "array":
        for item in node["items"]:
            out.extend(tree_keys(item))
    return out


def find_node(root: dict, key: int):
    """Locate a node (or field record) by key.

    Returns (node, parent, slot) where slot describes the position in
    the parent: ("item", i) array member, ("field", i) object-field
    VALUE node, ("fieldkey", i) the field RECORD itself (node is the
    field's value node in that case too — the record and its value
    are mutated together, like the reference's OBJECT_KEY + value
    pair). Root → (root, None, None). None if absent."""
    if root["key"] == key:
        return root, None, None
    stack = [root]
    while stack:
        n = stack.pop()
        if n["kind"] == "object":
            for i, (fkey, _name, child) in enumerate(n["fields"]):
                if fkey == key:
                    return child, n, ("fieldkey", i)
                if child["key"] == key:
                    return child, n, ("field", i)
                stack.append(child)
        elif n["kind"] == "array":
            for i, item in enumerate(n["items"]):
                if item["key"] == key:
                    return item, n, ("item", i)
                stack.append(item)
    return None, None, None


class DocWtx:
    """One open write transaction on (db, res). Cursor semantics
    follow the reference trx: inserts position the cursor on the
    inserted node; subtree inserts auto-commit (JsonNodeTrx
    insertSubtree* commit-afterwards default), structural single-node
    inserts and value/name mutations do not."""

    def __init__(
        self,
        store: DocumentStore,
        db: str,
        res: str,
        author: str | None = None,
        author_id: str | None = None,
    ):
        self.store = store
        self.db = db
        self.res = res
        self.author = author
        self.author_id = author_id
        if store.exists(db, res):
            rev = store.latest_revision(db, res)
            value = loads_doc(store.read_text(db, res, rev))
            self.root: dict | None = tree_from(value, iter(store.node_keys(db, res, rev)))
            self._next = store.next_key(db, res)
        else:
            self.root = None
            self._next = 1
        self.cursor: int | None = self.root["key"] if self.root else None

    # ------------------------------------------------------------ keys
    def _fresh_tree(self, value) -> dict:
        from sirix_spark.store.docnodes import enum_count

        n = enum_count(value)
        t = tree_from(value, iter(range(self._next, self._next + n)))
        self._next += n
        return t

    # ---------------------------------------------------------- cursor
    def move_to(self, key: int) -> "DocWtx":
        node, _, _ = find_node(self.root, key) if self.root else (None, None, None)
        if node is None:
            raise DocStoreError(f"no node {key} in {self.db}/{self.res}")
        self.cursor = key
        return self

    def _cursor_node(self):
        node, parent, slot = find_node(self.root, self.cursor)
        if node is None:
            raise DocStoreError(f"cursor {self.cursor} is gone")
        return node, parent, slot

    # ---------------------------------------------------------- insert
    def insert_subtree_as_first_child(self, text: str, commit: bool = True):
        """Insert a parsed subtree as the first child of the cursor
        container — or as the document root when the resource is
        empty. Auto-commits (the reference's default)."""
        value = loads_doc(text)
        if self.root is None:
            self.root = self._fresh_tree(value)
            self.cursor = self.root["key"]
        else:
            node, _, _ = self._cursor_node()
            if node["kind"] == "array":
                sub = self._fresh_tree(value)
                node["items"].insert(0, sub)
                self.cursor = sub["key"]
            elif node["kind"] == "object":
                if not isinstance(value, dict):
                    raise DocStoreError("object insert needs an object subtree")
                # Merge fields without materializing (or keying) the
                # wrapper object — the reference's skipRootToken path
                # (JsonNodeTrxImpl.insertSubtreeInternal) never
                # allocates a key for the discarded wrapper, and the
                # cursor lands on the first inserted field.
                seen = {n for _, n, _ in node["fields"]}
                merged = []
                for name, v in value.items():
                    if name in seen:
                        raise DocStoreError(
                            f"duplicate object key {name!r} in "
                            f"{self.db}/{self.res}"
                        )
                    seen.add(name)
                    fkey = self._next
                    self._next += 1
                    merged.append([fkey, name, self._fresh_tree(v)])
                node["fields"][0:0] = merged
                self.cursor = merged[0][2]["key"] if merged else node["key"]
            else:
                raise DocStoreError("cursor is not a container")
        if commit:
            self.commit()
        return self

    def insert_subtree_as_right_sibling(self, text: str, commit: bool = True):
        value = loads_doc(text)
        node, parent, slot = self._cursor_node()
        if parent is None or slot[0] != "item":
            raise DocStoreError("right-sibling insert needs an array member")
        sub = self._fresh_tree(value)
        parent["items"].insert(slot[1] + 1, sub)
        self.cursor = sub["key"]
        if commit:
            self.commit()
        return self

    def insert_object_record_as_first_child(self, name: str, value):
        """Insert a single object record (field) at the FRONT of the
        cursor object (JsonNodeTrx.insertObjectRecordAsFirstChild);
        no auto-commit. Cursor moves to the new field's value node."""
        node, _, _ = self._cursor_node()
        if node["kind"] != "object":
            raise DocStoreError("object-record insert needs an object")
        if any(name == n for _, n, _ in node["fields"]):
            # The keyed tree is the single source of truth: a silent
            # duplicate would collapse in tree_value() while
            # tree_keys() still emits both records, misaligning the
            # keys sidecar for every node after the duplicate.
            raise DocStoreError(
                f"duplicate object key {name!r} in {self.db}/{self.res}"
            )
        fkey = self._next
        self._next += 1
        sub = self._fresh_tree(value)
        node["fields"].insert(0, [fkey, name, sub])
        self.cursor = sub["key"]
        return self

    def insert_array_as_right_sibling(self):
        node, parent, slot = self._cursor_node()
        if parent is None or slot[0] != "item":
            raise DocStoreError("right-sibling insert needs an array member")
        sub = self._fresh_tree([])
        parent["items"].insert(slot[1] + 1, sub)
        self.cursor = sub["key"]
        return self

    # --------------------------------------------------------- mutation
    def set_string_value(self, v: str) -> "DocWtx":
        node, _, _ = self._cursor_node()
        if node["kind"] not in ("string", "number", "boolean", "null"):
            raise DocStoreError("setValue needs a primitive node")
        node["kind"] = _kind_of(v)
        node["value"] = v
        return self

    def set_object_key_name(self, name: str) -> "DocWtx":
        _, parent, slot = self._cursor_node()
        if parent is None or slot[0] not in ("field", "fieldkey"):
            raise DocStoreError("setObjectKeyName needs an object field")
        parent["fields"][slot[1]][1] = name
        return self

    def remove(self) -> "DocWtx":
        node, parent, slot = self._cursor_node()
        if parent is None:
            raise DocStoreError("cannot remove the document root")
        if slot[0] == "item":
            parent["items"].pop(slot[1])
        else:  # field or fieldkey — the whole record goes
            parent["fields"].pop(slot[1])
        self.cursor = parent["key"]
        return self

    def rollback(self) -> "DocWtx":
        """Discard uncommitted tree state — reload from the last
        committed revision (JsonNodeTrx.rollback)."""
        self.__init__(
            self.store, self.db, self.res, self.author, self.author_id
        )
        return self

    # ----------------------------------------------------------- commit
    def commit(self, message: str | None = None) -> int:
        if self.root is None:
            raise DocStoreError("nothing to commit")
        write = self.store.commit if self.store.exists(self.db, self.res) else self.store.store
        return write(
            self.db, self.res, dumps_doc(tree_value(self.root)), keys=tree_keys(self.root),
            author=self.author, author_id=self.author_id, message=message,
        )
