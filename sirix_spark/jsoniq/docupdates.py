"""Transactional side of document-mode JSONiq: updates + DDL.

The reference applies JSONiq update primitives (insert/append/
replace/delete/rename json — JsonDBUpdater / JsonNodeTrx) inside a
single-document transaction and auto-commits at query end
(SirixQueryContext). That is coordinator work, not data-parallel
work: one document, one revision write. This module interprets the
side-effecting query shapes of the corpus driver-side against the
python document object, then commits a new revision through
DocumentStore — reads (including everything issued between commits)
always evaluate on the Spark path (docmodel.py).

Scale note: bulk updates over record collections are the record-mode
store's job (sirix_spark/store/store.py — fully distributed); this
path is for the reference's single-document transactional surface.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from sirix_spark.jsoniq import parser as P
from sirix_spark.jsoniq.compiler import JsoniqCompileError

_SIDE_EFFECT_FNS = {
    "jn:store",
    "jn:load",
    "xml:store",
    "xml:load",
    "xml:create-cas-index",
    "xml:create-path-index",
    "xml:create-name-index",
    "xml:import",
    "jn:create-cas-index",
    "jn:create-path-index",
    "jn:create-name-index",
    "jn:drop-database",
    "jn:drop-resource",
    "jn:create-projection-index",
    "jn:drop-projection-index",
    "jn:create-valid-time-index",
    "jn:drop-valid-time-index",
    "sdb:commit",
}


def has_side_effects(ast) -> bool:
    found = False

    def walk(n):
        nonlocal found
        if found or n is None or isinstance(n, (str, int, float, bool)):
            return
        if isinstance(n, P.UpdateExpr):
            found = True
            return
        if isinstance(n, P.Call) and n.name in _SIDE_EFFECT_FNS:
            found = True
            return
        for f in getattr(n, "__dataclass_fields__", {}):
            v = getattr(n, f)
            if isinstance(v, list):
                for item in v:
                    if isinstance(item, tuple):
                        for sub in item:
                            walk(sub)
                    else:
                        walk(item)
            else:
                walk(v)

    walk(ast)
    return found


@dataclass
class PyItem:
    value: object
    key: int | None = None
    hid: int | None = None


@dataclass
class _Txn:
    """Pending mutations per handle id."""

    ops: list = field(default_factory=list)  # (kind, hid, key, payload, pos, name)


class _PyInterp:
    """Driver-side interpreter for side-effecting queries (tiny single
    documents by construction — the transactional surface)."""

    def __init__(self, ev):
        self.ev = ev  # DocEvaluator (shares handle registry + store)
        self.txn = _Txn()

    # ------------------------------------------------------------ docs
    def _handle(self, hid: int):
        return self.ev.handles.get(hid)

    def _child_maps(self, hid: int):
        h = self._handle(hid)
        by_field: dict[tuple, int] = {}
        members: dict[int, list[int]] = {}
        kinds: dict[int, str] = {}
        jsons: dict[int, str] = {}
        for r in h.rows():
            _, key, parent, kind, fname, container, ord_ = r[:7]
            kinds[key] = kind
            jsons[key] = r[9]
            if kind == "field":
                continue
            if container is not None and fname is not None:
                by_field[(container, fname)] = key
            elif container is not None:
                members.setdefault(container, []).append(key)
        return by_field, members, kinds, jsons

    # ------------------------------------------------------- evaluate
    def eval(self, node, env: dict) -> list[PyItem]:
        if isinstance(node, P.Lit):
            return [PyItem(node.value)]
        if isinstance(node, P.Var):
            v = env.get(node.name)
            if v is None:
                raise JsoniqCompileError(f"unbound variable ${node.name}")
            return v
        if isinstance(node, P.SeqCtor):
            out = []
            for item in node.items:
                out.extend(self.eval(item, env))
            return out
        if isinstance(node, P.ArrayCtor):
            return [PyItem([self._one(self.eval(i, env)) for i in node.items])]
        if isinstance(node, P.ObjectCtor):
            obj = {}
            for entry in node.entries:
                if entry[0] == "merge":
                    src = self._one(self.eval(entry[1], env))
                    if isinstance(src, dict):
                        obj.update(src)
                else:
                    _, k, v = entry
                    key = k.value if isinstance(k, P.Lit) else self._one(self.eval(k, env))
                    obj[str(key)] = self._one(self.eval(v, env))
            return [PyItem(obj)]
        if isinstance(node, P.Path):
            items = self.eval(node.base, env)
            for step in node.steps:
                items = self._step(items, step, env)
            return items
        if isinstance(node, P.Flwor):
            return self._flwor(node, env)
        if isinstance(node, P.IfExpr):
            if self._ebv(node.cond, env):
                return self.eval(node.then, env)
            return self.eval(node.orelse, env)
        if isinstance(node, P.Binop):
            return self._binop(node, env)
        if isinstance(node, P.UpdateExpr):
            self._update(node, env)
            return []
        if isinstance(node, P.Call):
            return self._call(node, env)
        raise JsoniqCompileError(
            f"unsupported transactional expression {type(node).__name__}"
        )

    @staticmethod
    def _one(items: list[PyItem]):
        return items[0].value if items else None

    def _step(self, items: list[PyItem], step, env) -> list[PyItem]:
        kind = step[0]
        out: list[PyItem] = []
        for it in items:
            if kind in ("field", "field_var"):
                name = step[1] if kind == "field" else self._one(env.get(step[1], []))
                if not isinstance(it.value, dict) or name not in it.value:
                    continue
                child_key = None
                if it.key is not None and it.hid is not None:
                    by_field, _, _, _ = self._child_maps(it.hid)
                    child_key = by_field.get((it.key, name))
                out.append(PyItem(it.value[name], child_key, it.hid))
            elif kind == "unbox":
                if not isinstance(it.value, list):
                    continue
                member_keys = None
                if it.key is not None and it.hid is not None:
                    _, members, _, _ = self._child_maps(it.hid)
                    member_keys = members.get(it.key, [])
                for i, v in enumerate(it.value):
                    mk = member_keys[i] if member_keys else None
                    out.append(PyItem(v, mk, it.hid))
            elif kind == "index":
                i = int(self._one(self.eval(step[1], env)))
                if not isinstance(it.value, list) or i >= len(it.value):
                    continue
                mk = None
                if it.key is not None and it.hid is not None:
                    _, members, _, _ = self._child_maps(it.hid)
                    ms = members.get(it.key, [])
                    mk = ms[i] if i < len(ms) else None
                out.append(PyItem(it.value[i], mk, it.hid))
            elif kind == "pred":
                sub = dict(env)
                sub["$$"] = [it]
                if self._ebv(step[1], sub):
                    out.append(it)
            else:
                raise JsoniqCompileError(
                    f"unsupported transactional step {kind!r}"
                )
        return out

    def _flwor(self, f: P.Flwor, env: dict) -> list[PyItem]:
        streams: list[dict] = [dict(env)]
        for c in f.clauses:
            if isinstance(c, P.LetClause):
                for t in streams:
                    t[c.var] = self.eval(c.value, t)
            else:
                new = []
                for t in streams:
                    src = self.eval(c.source, t)
                    items: list[PyItem] = []
                    for it in src:
                        # stored/constructed single arrays iterate members
                        if isinstance(it.value, list) and len(src) == 1 and not isinstance(c.source, P.SeqCtor):
                            items.extend(
                                self._step([it], ("unbox",), t)
                            )
                        else:
                            items.append(it)
                    for pos, it in enumerate(items):
                        t2 = dict(t)
                        t2[c.var] = [it]
                        if c.pos_var:
                            t2[c.pos_var] = [PyItem(pos + 1)]
                        new.append(t2)
                streams = new
        if f.where is not None:
            streams = [t for t in streams if self._ebv(f.where, t)]
        if f.group_by:
            # JSONiq group by, python-side: tuples partition on the key
            # variables' values; other variables pack into sequences
            # (first-appearance group order)
            key_vars = []
            for gk in f.group_by:
                if gk.value is not None:
                    for t in streams:
                        t[gk.var] = self.eval(gk.value, t)
                key_vars.append(gk.var)
            groups: dict[str, dict] = {}
            for t in streams:
                gkey = json.dumps(
                    [self._one(t.get(kv, [])) for kv in key_vars]
                )
                if gkey not in groups:
                    groups[gkey] = dict(t)
                else:
                    g = groups[gkey]
                    for var, items in t.items():
                        if var in key_vars or not isinstance(items, list):
                            continue
                        g[var] = list(g.get(var, [])) + list(items)
            streams = list(groups.values())
            for c in f.post_group:
                if isinstance(c, P.LetClause):
                    for t in streams:
                        t[c.var] = self.eval(c.value, t)
                else:
                    raise JsoniqCompileError(
                        "for after group by unsupported in the "
                        "transactional interpreter"
                    )
        if f.order_by:
            def sk(t):
                keys = []
                for k in f.order_by:
                    v = self._one(self.eval(k.value, t))
                    keys.append((v is None, v if not k.descending else _Neg(v)))
                return keys
            streams.sort(key=sk)
        out: list[PyItem] = []
        for t in streams:
            out.extend(self.eval(f.ret, t))
        return out

    def _binop(self, node: P.Binop, env) -> list[PyItem]:
        if node.op in ("and", "or", "eq", "ne", "lt", "le", "gt", "ge"):
            return [PyItem(self._ebv(node, env))]
        l = self._one(self.eval(node.left, env))
        r = self._one(self.eval(node.right, env))
        ops = {
            "+": lambda: l + r,
            "-": lambda: l - r,
            "*": lambda: l * r,
            "div": lambda: l / r,
            "idiv": lambda: l // r,
            "mod": lambda: l % r,
        }
        return [PyItem(ops[node.op]())]

    def _ebv(self, node, env) -> bool:
        if isinstance(node, P.Binop) and node.op in ("and", "or"):
            l, r = self._ebv(node.left, env), self._ebv(node.right, env)
            return (l and r) if node.op == "and" else (l or r)
        if isinstance(node, P.Binop) and node.op in (
            "eq", "ne", "lt", "le", "gt", "ge",
        ):
            import operator

            pyop = {
                "eq": operator.eq, "ne": operator.ne, "lt": operator.lt,
                "le": operator.le, "gt": operator.gt, "ge": operator.ge,
            }[node.op]
            ls = [i.value for i in self.eval(node.left, env)]
            rs = [i.value for i in self.eval(node.right, env)]
            for lv in ls:
                for rv in rs:
                    try:
                        if pyop(lv, rv):
                            return True
                    except TypeError:
                        continue
            return False
        if isinstance(node, P.Call) and node.name in ("not", "fn:not"):
            return not self._ebv(node.args[0], env)
        if isinstance(node, P.Call) and node.name in ("exists", "fn:exists"):
            return len(self.eval(node.args[0], env)) > 0
        if isinstance(node, P.Call) and node.name in ("deep-equal", "fn:deep-equal"):
            l = self._one(self.eval(node.args[0], env))
            r = self._one(self.eval(node.args[1], env))
            return l == r
        if isinstance(node, P.Call) and node.name == "instance-of":
            v = self.eval(node.args[0], env)
            ty = node.args[1].value
            if not v:
                return False
            pyty = {"object": dict, "array": list, "string": str}[ty]
            return isinstance(v[0].value, pyty)
        items = self.eval(node, env)
        if not items:
            return False
        if isinstance(items[0].value, bool):
            return items[0].value
        return True

    # ------------------------------------------------------------ calls
    def _call(self, node: P.Call, env) -> list[PyItem]:
        name = node.name
        if name in ("jn:store", "store", "jn:load", "load"):
            db = self._one(self.eval(node.args[0], env))
            res = self._one(self.eval(node.args[1], env))
            texts = [it.value for it in self.eval(node.args[2], env)]
            # optional 4th arg: createNew boolean (default true —
            # replace the collection); optional 5th arg: options
            # object with commitMessage / commitTimestamp / author
            # (json/Store.java + LoadIntegrationTest.java)
            create_new = True
            if len(node.args) > 3:
                v = self._one(self.eval(node.args[3], env))
                if v is not None:
                    create_new = bool(v)
            opts: dict = {}
            if len(node.args) > 4:
                o = self._one(self.eval(node.args[4], env))
                if isinstance(o, dict):
                    opts = o
            kw = {
                "message": opts.get("commitMessage"),
                "commit_ts": opts.get("commitTimestamp"),
            }
            put = (
                self.ev.store.store
                if name in ("jn:store", "store")
                else self.ev.store.load
            )
            # createNew=true REPLACES the whole collection in BOTH the
            # res=() and the explicit-resource forms (Store.java:112
            # routes createIfNotExists straight to store.create(coll,
            # …), which removes an existing database); createNew=false
            # ADDS into the existing collection (Store.java:116-118).
            if create_new and self.ev.store.resources(db):
                self.ev.store.drop_database(db)
            if res is None:
                # collection form jn:store(db, (), (doc, doc, …)) —
                # auto-named resources (BasicJsonDBStore
                # .createCollection)
                start = len(self.ev.store.resources(db))
                for i, t in enumerate(texts):
                    put(db, f"resource{start + i + 1}", t, **kw)
            else:
                for t in texts:
                    put(db, res, t, **kw)
            return []
        if name in ("xml:store", "xml:load"):
            # io/Store.java (xml:store): store serialized XML as a new
            # versioned resource (createNew default) or commit onto an
            # existing one; keys assigned through the write trx so
            # node identity is stable from revision 1. xml:load reads
            # the document from a local file path/URI (io/Load.java).
            from sirix_spark.store.xmlwtx import tree_from_rows, tree_keys

            db = self._one(self.eval(node.args[0], env))
            res = self._one(self.eval(node.args[1], env))
            src = self._one(self.eval(node.args[2], env))
            if name == "xml:load":
                path = str(src)
                if path.startswith("file:"):
                    path = path[len("file:"):]
                    while path.startswith("//"):
                        path = path[1:]
                with open(path) as f:
                    src = f.read()
            from sirix_spark.sources.xml_source import _shred_one
            from sirix_spark.store.xmlwtx import serialize_tree

            t = tree_from_rows(_shred_one("f", str(src)), None)
            # store() replaces an existing resource (createNew semantics)
            self.ev.xml_store.store(db, res, serialize_tree(t), keys=tree_keys(t))
            return []
        if name == "xml:import":
            # io/Import.java: diff-import an externally-edited
            # document as the next revision; FMSE-lite matching keeps
            # unchanged nodes' keys (store/xmldiff.fmse_import)
            from sirix_spark.store.xmldiff import fmse_import

            db = self._one(self.eval(node.args[0], env))
            res = self._one(self.eval(node.args[1], env))
            src = str(self._one(self.eval(node.args[2], env)))
            if not src.lstrip().startswith("<"):
                path = src
                if path.startswith("file:"):
                    path = path[len("file:"):]
                    while path.startswith("//"):
                        path = path[1:]
                with open(path) as f:
                    src = f.read()
            fmse_import(self.ev.xml_store, db, res, src)
            return []
        if name == "jn:drop-database":
            self.ev.store.drop_database(self._one(self.eval(node.args[0], env)))
            return []
        if name == "jn:drop-resource":
            self.ev.store.drop_resource(
                self._one(self.eval(node.args[0], env)),
                self._one(self.eval(node.args[1], env)),
            )
            return []
        if name in ("jn:doc", "doc"):
            hid = self.ev._open_handle(node)
            h = self._handle(hid)
            return [PyItem(json.loads(h.text()), 1, hid)]
        if name in ("sdb:select-item", "select-item"):
            base = self.eval(node.args[0], env)
            key = int(self._one(self.eval(node.args[1], env)))
            it = base[0]
            _, _, _, jsons = self._child_maps(it.hid)
            if key not in jsons:
                return []
            return [PyItem(json.loads(jsons[key]), key, it.hid)]
        if name == "bit:fields":
            v = self._one(self.eval(node.args[0], env))
            return [PyItem(list(v.keys()) if isinstance(v, dict) else [])]
        if name in ("jn:parse", "parse"):
            return [PyItem(json.loads(self._one(self.eval(node.args[0], env))))]
        if name in ("jn:null",):
            return [PyItem(None)]
        if name in ("count", "fn:count"):
            return [PyItem(len(self.eval(node.args[0], env)))]
        if name in (
            "exists", "fn:exists", "not", "fn:not",
            "deep-equal", "fn:deep-equal", "instance-of",
        ):
            return [PyItem(self._ebv(node, env))]
        if name == "xs:string":
            v = self._one(self.eval(node.args[0], env))
            return [PyItem(v if isinstance(v, str) else _compact(v))]
        if name in ("contains", "fn:contains"):
            a = self._one(self.eval(node.args[0], env))
            b = self._one(self.eval(node.args[1], env))
            return [PyItem(b in a)]
        if name == "jn:drop-projection-index":
            it = self.eval(node.args[0], env)[0]
            h = self._handle(it.hid)
            number = None
            if len(node.args) > 1:
                number = int(self._one(self.eval(node.args[1], env)))
            self.ev.store.drop_index(h.db, h.res, "projection", number)
            return [PyItem(True)]
        if name == "jn:find-projection-index":
            it = self.eval(node.args[0], env)[0]
            h = self._handle(it.hid)
            record_set = self._one(self.eval(node.args[1], env))
            paths = tuple(
                str(v.value) for v in self.eval(node.args[2], env)
            )
            n = self.ev.store.find_index(
                h.db, h.res, "projection", record_set, paths
            )
            return [PyItem(n if n is not None else -1)]
        if name in ("sum", "fn:sum", "avg", "fn:avg", "min", "fn:min", "max", "fn:max"):
            vals = [
                it.value for it in self.eval(node.args[0], env)
                if isinstance(it.value, (int, float)) and not isinstance(it.value, bool)
            ]
            short = name.split(":", 1)[-1]
            if not vals:
                return [PyItem(0)] if short == "sum" else []
            if short == "sum":
                return [PyItem(sum(vals))]
            if short == "avg":
                a = sum(vals) / len(vals)
                return [PyItem(int(a) if float(a).is_integer() else a)]
            return [PyItem(min(vals) if short == "min" else max(vals))]
        if name.startswith("jn:create-") and name.endswith("-index"):
            return self._create_index(node, env)
        if name.startswith("jn:drop-") and name.endswith("-index"):
            # generic index drop (jn:drop-valid-time-index and the
            # cas/path/name family): remove the kind's definitions
            # from the catalog; jn:valid-at and the scans fall back
            # to the node-table path and stay correct
            kind = name[len("jn:drop-"):-len("-index")]
            it = self.eval(node.args[0], env)[0]
            h = self._handle(it.hid)
            number = None
            if len(node.args) > 1:
                number = int(self._one(self.eval(node.args[1], env)))
            self.ev.store.drop_index(h.db, h.res, kind, number)
            return [PyItem(True)]
        if name == "xml:doc":
            # opaque XML-resource reference for the DDL shapes below
            db = self._one(self.eval(node.args[0], env))
            res = self._one(self.eval(node.args[1], env))
            return [PyItem(("__xmldoc__", db, res))]
        if name.startswith("xml:create-") and name.endswith("-index"):
            # function/xml/index/create/*: register the definition in
            # the XmlStore catalogue (the node table serves the scans)
            kind = name[len("xml:create-"):-len("-index")]
            tgt = self._one(self.eval(node.args[0], env))
            if not (isinstance(tgt, tuple) and tgt[0] == "__xmldoc__"):
                raise JsoniqCompileError("xml index DDL needs an xml:doc target")
            _, db, res = tgt
            rest = node.args[1:]
            content_type = None
            if kind == "cas":
                content_type = self._one(self.eval(rest[0], env))
                rest = rest[1:]
            paths: tuple[str, ...] = ()
            if rest:
                paths = tuple(
                    str(v.value) for v in self.eval(rest[0], env)
                )
            self.ev.xml_store.create_index(
                db, res, kind, content_type, paths
            )
            return [PyItem({})]
        if name == "sdb:commit":
            it = self.eval(node.args[0], env)[0]
            h = self._handle(it.hid)
            rev = self._commit_handle(h)
            return [PyItem(rev)]
        if name == "sdb:nodekey":
            it = self.eval(node.args[0], env)
            return [PyItem(it[0].key)] if it else []
        if name == "sdb:revision":
            it = self.eval(node.args[0], env)
            return [PyItem(self._handle(it[0].hid).revision)] if it else []
        raise JsoniqCompileError(f"unknown transactional function {name}()")

    def _create_index(self, node: P.Call, env) -> list[PyItem]:
        kind = node.name[len("jn:create-"):-len("-index")]
        it = self.eval(node.args[0], env)[0]
        h = self._handle(it.hid)
        content_type = None
        paths: tuple[str, ...] = ()
        rest = node.args[1:]
        if kind == "valid-time":
            # jn:create-valid-time-index($doc) — the VALIDTIME
            # interval index over the resource's configured
            # validTimePaths (ValidTimeIndexDropTest.java /
            # ValidTimeIndexEndToEndTest.java). No path args: the
            # paths come from the resource config; creating without
            # a valid-time config is an error, as in the reference.
            cfg = self.ev.store.valid_time_config(h.db, h.res)
            if not cfg:
                raise JsoniqCompileError(
                    "jn:create-valid-time-index needs validTimePaths "
                    "resource config"
                )
            n = self.ev.store.create_index(
                h.db, h.res, "valid-time", None,
                (f"//[]/{cfg['from']}", f"//[]/{cfg['to']}"),
            )
            return [PyItem(n)]
        if kind == "cas":
            content_type = self._one(self.eval(rest[0], env))
            rest = rest[1:]
        elif kind == "projection":
            # jn:create-projection-index($doc, recordSetPath,
            # (columnPaths), (columnTypes)?) — the record-set path
            # rides in content_type; the registry IS the projection
            # (the parquet/columnar layout serves the scans)
            content_type = self._one(self.eval(rest[0], env))
            rest = rest[1:2]
        if rest:
            vals = self.eval(rest[0], env)
            paths = tuple(str(v.value) for v in vals)
        self.ev.store.create_index(h.db, h.res, kind, content_type, paths)
        return [PyItem({})]

    def _commit_handle(self, h) -> int:
        if self.txn.ops:
            new_rev = self._apply_ops(h)
        else:
            new_rev = self.ev.store.commit(h.db, h.res)
        return new_rev

    # ---------------------------------------------------------- updates
    def _update(self, u: P.UpdateExpr, env) -> None:
        if u.kind in ("insert", "append"):
            payload_items = self.eval(u.value, env)
            # appending a sequence appends it as one array (Brackit)
            payload = (
                payload_items[0].value
                if len(payload_items) == 1
                else [i.value for i in payload_items]
            )
            targets = self.eval(u.target, env)
            pos = (
                int(self._one(self.eval(u.position, env)))
                if u.position is not None
                else None
            )
            for t in targets:
                self.txn.ops.append((u.kind, t.hid, t.key, payload, pos, None))
            return
        if u.kind == "delete":
            for t in self.eval(u.target, env):
                self.txn.ops.append(("delete", t.hid, t.key, None, None, None))
            return
        if u.kind == "replace":
            payload = self._one(self.eval(u.value, env))
            for t in self.eval(u.target, env):
                self.txn.ops.append(("replace", t.hid, t.key, payload, None, None))
            return
        if u.kind == "rename":
            new_name = self._one(self.eval(u.value, env))
            for t in self.eval(u.target, env):
                self.txn.ops.append(("rename", t.hid, t.key, None, None, new_name))
            return
        raise JsoniqCompileError(f"unsupported update {u.kind!r}")

    def _apply_ops(self, h, hid: int | None = None) -> int:
        """Apply staged ops over the revision's **keyed tree** and
        commit with the tracked key sequence — unchanged nodes keep
        their nodeKeys, inserted/replacement subtrees draw fresh keys
        from the resource counter (the reference's JsonNodeTrx
        key-allocation discipline: insertSubtree* shreds with a
        monotonic counter, remove retires keys; powers item-history /
        first-existing / is-deleted over updated resources)."""
        from sirix_spark.store.docnodes import enum_count
        from sirix_spark.store.docwtx import (
            find_node,
            tree_from,
            tree_keys,
            tree_value,
        )

        mine = [
            op for op in self.txn.ops if hid is None or op[1] == hid
        ]
        self.txn.ops = [op for op in self.txn.ops if op not in mine]
        from sirix_spark.store.docnodes import dumps_doc, loads_doc

        value = loads_doc(h.text())
        keys = self.ev.store.read_keys(h.db, h.res, h.revision)
        if keys is None:
            keys = list(range(1, enum_count(value) + 1))
        root = tree_from(value, iter(keys))
        nxt = [self.ev.store.next_key(h.db, h.res)]

        def fresh(payload):
            n = enum_count(payload)
            t = tree_from(payload, iter(range(nxt[0], nxt[0] + n)))
            nxt[0] += n
            return t

        # document-order stability: apply deletes last-first (kept for
        # parity with the old path-based applier; key-addressed tree
        # ops are index-shift-proof either way)
        deletes = sorted(
            [op for op in mine if op[0] == "delete"], key=lambda o: -(o[2] or 0)
        )
        others = [op for op in mine if op[0] != "delete"]
        for op in others + deletes:
            kind, _hid, key, payload, pos, new_name = op
            node, parent, slot = find_node(root, key)
            if node is None:
                continue  # ancestor already removed by an earlier op
            if kind in ("insert", "append"):
                if node["kind"] == "array":
                    if kind == "append" or pos is None:
                        node["items"].append(fresh(payload))
                    else:
                        node["items"].insert(pos, fresh(payload))
                elif node["kind"] == "object":
                    if not isinstance(payload, dict):
                        raise JsoniqCompileError(
                            "insert json into object needs an object payload"
                        )
                    by_name = {f[1]: f for f in node["fields"]}
                    for k, v in payload.items():
                        if k in by_name:
                            # dict.update parity: replace in place,
                            # field record keeps its key
                            by_name[k][2] = fresh(v)
                        else:
                            fkey = nxt[0]
                            nxt[0] += 1
                            node["fields"].append([fkey, k, fresh(v)])
                else:
                    raise JsoniqCompileError(
                        "insert json needs an array or object target"
                    )
                continue
            if parent is None:
                raise JsoniqCompileError("cannot update the document root")
            if kind == "delete":
                if slot[0] == "item":
                    parent["items"].pop(slot[1])
                else:
                    parent["fields"].pop(slot[1])
            elif kind == "replace":
                if not isinstance(payload, (dict, list)) and node["kind"] not in (
                    "object",
                    "array",
                ):
                    # primitive→primitive value replace maps to the
                    # reference's setValue: SAME node, new value — the
                    # key survives, so sdb:item-history shows the full
                    # value chain (docs/ShellDemoQueryTest: history of
                    # the price node contains 999 AND 899)
                    node["kind"] = _kind_of_value(payload)
                    node["value"] = payload
                elif slot[0] == "item":
                    parent["items"][slot[1]] = fresh(payload)
                else:
                    # structural replace is a new node (fresh key); the
                    # field record (OBJECT_KEY) keeps its key
                    parent["fields"][slot[1]][2] = fresh(payload)
            elif kind == "rename":
                if slot[0] not in ("field", "fieldkey"):
                    raise JsoniqCompileError("rename json needs an object field")
                parent["fields"][slot[1]][1] = new_name
        return self.ev.store.commit(
            h.db, h.res, dumps_doc(tree_value(root)), keys=tree_keys(root)
        )


class _Neg:
    """Descending sort wrapper for heterogeneous keys."""

    def __init__(self, v):
        self.v = v

    def __lt__(self, other):
        try:
            return other.v < self.v
        except TypeError:
            return False


def _kind_of_value(v) -> str:
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, (int, float)):
        return "number"
    if v is None:
        return "null"
    return "string"


def _compact(v) -> str:
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


def run_transaction(ev, ast) -> str:
    """Execute a side-effecting query; auto-commit staged updates per
    touched handle (SirixQueryContext commit-on-close parity). Returns
    the serialized (usually empty) result."""
    interp = _PyInterp(ev)
    items = interp.eval(ast, {})
    # auto-commit pending mutations
    touched = {op[1] for op in interp.txn.ops}
    for hid in touched:
        interp._apply_ops(ev.handles.get(hid), hid)
    out = []
    for it in items:
        out.append(_compact(it.value))
    return " ".join(out)
