"""Node-level JSON diff: golden/model tests for operators/diff.py
(reference granularity: BasicJsonDiff.java:21 — one op per changed
node with its path) plus the Store.node_diff / diff_json wire shape
(JsonDiffSerializer.java)."""

from __future__ import annotations

import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sirix_spark.operators.diff import MAX_DEPTH, json_node_diff


def _kind(x):
    return "object" if isinstance(x, dict) else "array" if isinstance(x, list) else "leaf"


def _leafstr(x):
    if x is None:
        return None
    return x if isinstance(x, str) else json.dumps(x)


def _jtext(x):
    return json.dumps(x, separators=(",", ":"))


def _tree(x, depth, max_depth):
    """(kind, value, children) of a value as the operator sees it:
    containers carry their compact JSON text, a string whose text
    starts with '{' or '[' is a subtree (the documented caveat; text
    that does not parse has no children), and a node at the depth
    bound is an opaque leaf holding its text."""
    if isinstance(x, str) and x.strip(" ")[:1] in ("{", "["):
        text = x.strip(" ")
        kind = "object" if text[0] == "{" else "array"
        try:
            parsed = json.loads(text)
        except ValueError:
            parsed = None
        if not isinstance(parsed, dict if kind == "object" else list):
            parsed = {} if kind == "object" else []
    elif isinstance(x, (dict, list)):
        kind, text, parsed = _kind(x), _jtext(x), x
    else:  # the operator trims spaces off every node's text
        leaf = _leafstr(x)
        return ("leaf", leaf.strip(" ") if isinstance(x, str) else leaf, {})
    if depth == max_depth - 1:
        return ("leaf", text, {})
    items = parsed.items() if kind == "object" else (
        (f"[{i}]", v) for i, v in enumerate(parsed)
    )
    return (kind, text, {k: _tree(v, depth + 1, max_depth) for k, v in items})


def _tree_ops(o, n, path):
    (ok, ov, oc), (nk, nv, nc) = o, n
    if ok != nk:
        return [(path, "replace", ov, nv)]
    if ok == "leaf":
        return [(path, "update", ov, nv)] if ov != nv else []
    ops = []
    for k in {**oc, **nc}:
        p = f"{path}/{k}"
        if k not in oc:
            ops.append((p, "insert", None, nc[k][1]))
        elif k not in nc:
            ops.append((p, "delete", oc[k][1], None))
        else:
            ops += _tree_ops(oc[k], nc[k], p)
    return ops


def _doc(x, max_depth):
    # the root node is the document's JSON text (a scalar document is
    # a leaf holding that text, quotes included)
    return _tree(_jtext(x), 0, max_depth)


def model_diff(old, new, max_depth=MAX_DEPTH):
    """Python reference model of the operator's semantics for two
    present documents: top-most insert/delete, per-leaf update,
    kind-change replace, subtrees below the depth bound compared as
    text."""
    return _tree_ops(_doc(old, max_depth), _doc(new, max_depth), "")


def expected_ops(pairs, max_depth=MAX_DEPTH):
    """{(id, path): (op, old, new)} the operator must return for
    {id: (old_doc, new_doc)}; None is an absent document."""
    out = {}
    for i, (o, n) in pairs.items():
        if o is None and n is None:
            continue
        if o is None:
            out[(i, "")] = ("insert", None, _jtext(n))
        elif n is None:
            out[(i, "")] = ("delete", _jtext(o), None)
        else:
            for path, op, ov, nv in model_diff(o, n, max_depth):
                out[(i, path)] = (op, ov, nv)
    return out


def run_diff(spark, pairs, max_depth=MAX_DEPTH):
    rows = [
        (i, _jtext(o) if o is not None else None, _jtext(n) if n is not None else None)
        for i, (o, n) in pairs.items()
    ]
    df = spark.createDataFrame(rows, "id long, old_doc string, new_doc string")
    out = json_node_diff(df, ["id"], "old_doc", "new_doc", max_depth=max_depth)
    return {
        (r["id"], r["path"]): (r["op"], r["old_value"], r["new_value"])
        for r in out.collect()
    }


CASES = {
    # id: (old_doc, new_doc) — python values, serialized compact
    1: ({"a": 1, "b": "x"}, {"a": 2, "b": "x"}),                    # leaf update
    2: ({"a": 1}, {"a": 1, "c": {"d": [1, 2]}}),                    # subtree insert
    3: ({"a": {"b": 1, "c": 2}}, {"a": {"b": 1}}),                  # nested delete
    4: ({"a": [1, 2, 3]}, {"a": [1, 9]}),                           # array update+delete
    5: ({"a": 1}, {"a": {"b": 1}}),                                 # replace leaf→object
    6: ({"a": {"x": [{"deep": 1}]}}, {"a": {"x": [{"deep": 2}]}}),  # deep leaf
    7: (None, {"fresh": True}),                                     # whole-doc insert
    8: ({"gone": [1]}, None),                                       # whole-doc delete
    9: ({"same": {"s": [1, {"t": "u"}]}}, {"same": {"s": [1, {"t": "u"}]}}),  # no ops
}


@pytest.fixture(scope="module")
def diff_rows(spark):
    return run_diff(spark, CASES)


def test_node_diff_matches_model(diff_rows):
    assert diff_rows == expected_ops(CASES)


# --- property test: random documents against the model --------------
_KEYS = st.text(alphabet="abxy", min_size=1, max_size=2)
# Strings that look like JSON (valid, malformed, padded, empty
# containers) exercise the documented string-as-subtree caveat.
_JSONISH = st.sampled_from(
    ["{", "[", "{}", "[]", "{x", "[1,", " [1, 2]", '{"a": [true, null]}', "null", "7"]
)
_LEAVES = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(-3, 3),
    st.text(alphabet='ab {}[]":,', max_size=5),
    _JSONISH,
)


def _json(depth):
    if depth == 0:
        return _LEAVES
    sub = _json(depth - 1)
    return st.one_of(
        _LEAVES,
        st.lists(sub, max_size=3),
        st.dictionaries(_KEYS, sub, max_size=3),
        # JSON text of a real value, stored as a string leaf
        st.lists(sub, max_size=2).map(_jtext),
    )


def _chain(leaf, depth):
    """A document nested `depth` levels deep (past MAX_DEPTH)."""
    doc = leaf
    for d in range(depth):
        doc = {"k": doc} if d % 2 else [doc, d]
    return doc


_DOCS = st.one_of(
    st.dictionaries(_KEYS, _json(3), max_size=4),
    st.lists(_json(3), max_size=3),
    st.builds(_chain, _LEAVES, st.integers(1, 10)),
)


@st.composite
def _edit(draw, x):
    """`x` with random local edits, so pairs share most of their
    nodes (independent random documents mostly just replace)."""
    action = draw(st.sampled_from(["keep", "recurse", "recurse", "replace"]))
    if action == "replace":
        return draw(_json(2))
    if action == "recurse" and isinstance(x, dict):
        out = {k: draw(_edit(v)) for k, v in x.items() if draw(st.integers(0, 4))}
        out.update(draw(st.dictionaries(_KEYS, _json(1), max_size=1)))
        return out
    if action == "recurse" and isinstance(x, list):
        out = [draw(_edit(v)) for v in x[: draw(st.integers(0, len(x)))]]
        return out + draw(st.lists(_json(1), max_size=1))
    return x


@st.composite
def _pairs(draw):
    docs = draw(st.lists(st.one_of(st.none(), _DOCS), min_size=1, max_size=8))
    pairs = {}
    for i, old in enumerate(docs):
        new = draw(st.one_of(st.none(), _DOCS)) if old is None else draw(
            st.one_of(_edit(old), st.none(), _DOCS)
        )
        pairs[i] = (old, new)
    return pairs


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(pairs=_pairs(), max_depth=st.sampled_from([2, 3, MAX_DEPTH]))
def test_node_diff_property(spark, pairs, max_depth):
    assert run_diff(spark, pairs, max_depth) == expected_ops(pairs, max_depth)


def test_node_diff_plan_shape(spark):
    """Each side's nodes come from ONE generator over the (pruned)
    input — no per-level union re-deriving the input plan. The parent
    lookup joins the matched node set to itself, so the optimized plan
    holds two copies of the (id, path) full-outer join, each fed by
    exactly one Generate per side."""
    rows = [(1, _jtext(o), _jtext(n)) for o, n in [CASES[1], CASES[6]]]
    df = spark.createDataFrame(rows, "id long, old_doc string, new_doc string")
    plan = json_node_diff(df, ["id"], "old_doc", "new_doc")._jdf.queryExecution()
    text = plan.optimizedPlan().toString()
    assert "Union" not in text
    assert text.count("FullOuter") == 2
    assert text.count("Generate inline") == 4
    # the prune: each side flattens only rows whose documents differ
    assert text.count("Filter (NOT (old_doc#") == 4


def test_store_node_diff_wire_shape(spark, tmp_path):
    """One changed leaf in a multi-field record → exactly one update
    op at that leaf's path in the JsonDiffSerializer wire shape."""
    from sirix_spark.store import VersionedStore

    store = VersionedStore(spark, str(tmp_path / "nd_store"))
    db, res = "db", "r"
    df = spark.createDataFrame(
        [(1, "alice", 100), (2, "bob", 250)], "id long, customer string, amount long"
    )
    store.store(db, res, df, key="id", message="init")
    store.replace_where(
        db, res, F.col("record_key") == 2, {"amount": 300}, message="bump"
    )

    ops = store.node_diff(db, res, 1, 2).collect()
    assert len(ops) == 1
    (r,) = ops
    assert (r["path"], r["op"], r["old_value"], r["new_value"]) == (
        "/amount", "update", "250", "300"
    )

    wire = json.loads(store.diff_json(db, res, 1, 2))
    assert wire["old-revision"] == 1 and wire["new-revision"] == 2
    assert wire["diffs"] == [
        {"type": "update", "recordKey": 2, "path": "/amount", "old": "250", "new": "300"}
    ]


def test_store_diff_narrowed_to_changed_keys(spark, tmp_path):
    """Two revisions of one checkpoint cycle differ only in keys the
    later one's cum/ part holds, so diff and node_diff read only those
    records; the output is identical to the un-narrowed plan's for
    forward, backward and cross-checkpoint pairs (the last are not
    narrowed)."""
    from sirix_spark.store import VersionedStore

    root = str(tmp_path / "narrow")
    store = VersionedStore(spark, root, checkpoint_every=5)
    db, res = "db", "r"
    schema = "id long, name string, tags array<string>, addr struct<city:string,zip:long>"
    store.store(
        db, res,
        spark.createDataFrame(
            [(i, f"n{i}", [f"t{i}"], (f"c{i}", i)) for i in range(30)], schema
        ),
        key="id",
    )
    for r in range(2, 9):  # r5 is a cadence checkpoint
        if r == 4:
            store.delete_where(db, res, F.col("record_key").isin(3, 21))
            continue
        rows = [(r, f"u{r}", [f"t{r}", "x"], (f"c{r}", r + 1)), (100 + r, "new", None, None)]
        store.upsert_records(db, res, spark.createDataFrame(rows, schema), key="id")
    plain = VersionedStore(spark, root, checkpoint_every=5)
    plain._changed_keys = lambda *a: None
    # forward from a checkpoint, forward across a delete, backward,
    # and across a checkpoint both ways
    pairs = {(1, 3): True, (2, 4): True, (8, 6): True, (3, 7): False, (8, 2): False}
    for (r1, r2), narrowed in pairs.items():
        assert (store._changed_keys(db, res, r1, r2) is not None) == narrowed, (r1, r2)
        for mode in ("node", "record"):
            got = store.diff_json(db, res, r1, r2, mode)
            assert got == plain.diff_json(db, res, r1, r2, mode), (r1, r2, mode)
            assert json.loads(got)["diffs"], (r1, r2, mode)


def test_store_diff_across_schema_growth(spark, tmp_path):
    """Both diff modes read the payload columns of both revisions: a
    record-mode diff back across a commit that added a column runs,
    and the forward one carries the new column in its insert; NULL
    fields are left out of every payload."""
    from sirix_spark.store import VersionedStore

    store = VersionedStore(spark, str(tmp_path / "grow"))
    db, res = "db", "r"
    store.store(db, res, spark.createDataFrame([(1, 10), (2, 20)], "id long, a long"), key="id")
    store.upsert_records(
        db, res, spark.createDataFrame([(2, 21, None), (3, 30, "x")], "id long, a long, b string"),
        key="id",
    )

    fwd = json.loads(store.diff_json(db, res, 1, 2, mode="record"))["diffs"]
    assert fwd == [
        {"type": "update", "recordKey": 2, "old": {"a": 20}, "new": {"a": 21}},
        {"type": "insert", "recordKey": 3, "new": {"a": 30, "b": "x"}},
    ]
    back = json.loads(store.diff_json(db, res, 2, 1, mode="record"))["diffs"]
    assert back == [
        {"type": "update", "recordKey": 2, "old": {"a": 21}, "new": {"a": 20}},
        {"type": "delete", "recordKey": 3, "old": {"a": 30, "b": "x"}},
    ]
    node = json.loads(store.diff_json(db, res, 2, 1))["diffs"]
    assert node == [
        {"type": "update", "recordKey": 2, "path": "/a", "old": "21", "new": "20"},
        {"type": "delete", "recordKey": 3, "path": "", "old": '{"a":30,"b":"x"}'},
    ]
