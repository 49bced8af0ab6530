"""Node-level JSON diff — per-field ops with paths, the granularity of
the reference's BasicJsonDiff.java:21 / JsonDiffSerializer.java (a
changed leaf yields ONE op for that leaf, not a whole-record update).

Spark-first design: no recursion, no Python and no join. Like the
reference, the diff walks the two documents together and skips equal
subtrees; the walk is level by level, so the plan's size is fixed by
`max_depth`, never by the data:

1. Prune. Rows whose old and new documents are equal (`eqNullSafe`)
   cannot yield an op, so they are dropped before anything is
   parsed; an update that touches 1% of the records walks 1%.
2. Walk. Level 0 is the (path '', old, new) root pair; level d pairs
   up the children of the level d-1 pairs that are present on both
   sides, have the same internal kind and different text, with one
   `map_zip_with` of the two sides' child maps. `from_json(js,
   'map<string,string>')` keeps nested objects/arrays as their JSON
   text, and array positions become '[i]' map keys, so objects and
   arrays share one expression. Each child is wrapped in a struct, so
   a present JSON null (a struct holding NULL) stays apart from an
   absent key (a NULL struct). Each level is its own column, computed
   once however many later levels read it.
3. Classify and emit. Each pair gets its op from one `CASE`, and one
   `inline` emits the pairs that have an op. A one-sided pair or a
   kind change is never expanded, so only the top-most op of a
   subtree exists: no suppression step. Each side's children are
   matched within their own parent, so a key holding '/' or '[i]'
   that gives two nodes the same path cannot cross-match them.

Cost model: per changed document, O(size × depth) bytes of JSON
parsing, but only along differing paths (each internal node's text is
parsed once, at its own level, and only if its two sides differ), plus
O(nodes) map work: `map_zip_with` indexes string keys by hash, so a
single document with tens of thousands of keys stays linear. Across
documents: no shuffle; the operator is one `Generate` over the rows
whose documents differ. Plan size grows with max_depth (one projection
per level), never with the data.

Caveat (documented): scalar values are compared through the map's
string coercion, so a *string* leaf whose content looks like a JSON
object (e.g. "{\"a\":1}") is treated as a subtree. Acceptable for
data interchange; the reference's node store has typed nodes instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_DEPTH = 8

# Children of the JSON text `js` as map<key, struct<js>>, array
# positions keyed '[i]'; text that does not parse has no children.
_CHILDREN = """coalesce(
  CASE WHEN startswith({js}, '{{')
    THEN transform_values(from_json({js}, 'map<string,string>'), (k, v) -> named_struct('js', trim(v)))
    ELSE map_from_entries(transform(from_json({js}, 'array<string>'),
      (v, i) -> struct(concat('[', CAST(i AS STRING), ']'), named_struct('js', trim(v)))))
  END,
  CAST(map() AS map<string,struct<js:string>>))"""

# The kind of a present node.
_KIND = """CASE WHEN startswith({x}.js, '{{') THEN 'object'
  WHEN startswith({x}.js, '[') THEN 'array' ELSE 'leaf' END"""

_OP = """CASE WHEN p.o IS NULL THEN 'insert' WHEN p.n IS NULL THEN 'delete'
  WHEN {ko} != {kn} THEN 'replace'
  WHEN {ko} = 'leaf' AND NOT (p.o.js <=> p.n.js) THEN 'update' END"""


def _classify(pairs: str, last: bool) -> str:
    """`pairs` (path, o, n) with each pair's op, NULL for none. On the
    `last` level every node is an opaque leaf (value = its JSON text),
    so changes below the depth bound still surface as an update."""
    ko, kn = ("'leaf'", "'leaf'") if last else (_KIND.format(x="p.o"), _KIND.format(x="p.n"))
    op = _OP.format(ko=ko, kn=kn)
    return f"transform({pairs}, p -> named_struct('path', p.path, 'o', p.o, 'n', p.n, 'op', {op}))"


def json_node_diff(
    df: DataFrame,
    id_cols: list[str],
    old_col: str,
    new_col: str,
    max_depth: int = MAX_DEPTH,
) -> DataFrame:
    """Diff two JSON string columns per row → node-level ops
    (ids..., path, op, old_value, new_value) where op is:

    - insert  — path exists only in new (top-most such node only;
                its subtree is implied by new_value's JSON text)
    - delete  — path exists only in old (top-most only)
    - update  — leaf on both sides, value changed
    - replace — node kind changed (leaf↔object↔array); subtree ops
                beneath it are suppressed

    Parity: BasicJsonDiff.java:21 emits exactly these four op types
    with nodeKeys+paths; JsonDiffSerializer.java is the wire shape
    (see Store.diff_json). Paths are '/'-joined keys with '[i]' for
    array positions, root ''; a NULL document is absent (its root is
    inserted or deleted), not a null leaf. Internal nodes carry their
    JSON text as their value; below `max_depth` levels a subtree is
    compared as one leaf holding its text.
    """
    ids = [f"`{c}`" for c in id_cols]
    root = "CASE WHEN `{c}` IS NOT NULL THEN named_struct('js', trim(`{c}`)) END"
    out = df.filter(~F.col(old_col).eqNullSafe(F.col(new_col))).selectExpr(
        *ids,
        _classify(
            f"array(named_struct('path', '', 'o', {root.format(c=old_col)}, "
            f"'n', {root.format(c=new_col)}))",
            max_depth == 1,
        )
        + " AS _l0",
    )
    for d in range(1, max_depth):
        children = (
            f"map_values(map_zip_with({_CHILDREN.format(js='p.o.js')}, "
            f"{_CHILDREN.format(js='p.n.js')}, "
            "(k, a, b) -> named_struct('path', concat(p.path, '/', k), 'o', a, 'n', b)))"
        )
        # A pair with no op is present on both sides with the same
        # kind; it is expanded if that kind is internal and its text
        # differs.
        expand = f"p.op IS NULL AND {_KIND.format(x='p.o')} != 'leaf' AND p.o.js != p.n.js"
        out = out.selectExpr(
            "*",
            _classify(
                f"flatten(transform(filter(_l{d - 1}, p -> {expand}), p -> {children}))",
                d == max_depth - 1,
            )
            + f" AS _l{d}",
        )
    levels = ", ".join(f"_l{d}" for d in range(max_depth))
    return out.selectExpr(
        *ids,
        f"inline(transform(filter(concat({levels}), p -> p.op IS NOT NULL), "
        "p -> named_struct('path', p.path, 'op', p.op, 'old_value', p.o.js, 'new_value', p.n.js)))",
    )
