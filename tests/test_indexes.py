"""Projection/CAS index tests: routing correctness, differential vs
snapshot reads, zone-map pruning evidence on the sorted index."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sirix_spark.store import VersionedStore
from sirix_spark.store.indexes import ProjectionIndexes


@pytest.fixture(scope="module")
def ctx(spark, sf_dir, tmp_path_factory):
    store = VersionedStore(spark, str(tmp_path_factory.mktemp("idx_store")))
    from sirix_spark.tables import load

    # (l_orderkey, l_linenumber) repeats in the generated lineitem
    # data, and a commit holds each key at most once
    li = load(spark, sf_dir, "lineitem").withColumn("rid", F.monotonically_increasing_id())
    store.store("db", "li", li, key="rid")
    idx = ProjectionIndexes(store)
    entry = idx.create_projection_index(
        "db", "li", "by_qty", ["l_quantity", "l_extendedprice"], sort_by=["l_quantity"]
    )
    return store, idx, entry


def test_routing_picks_covering_index(ctx):
    store, idx, entry = ctx
    assert idx.find_index("db", "li", ["l_quantity"])["name"] == "by_qty"
    assert idx.find_index("db", "li", ["l_quantity", "l_extendedprice"])["name"] == "by_qty"
    # non-covered column → no index
    assert idx.find_index("db", "li", ["l_tax"]) is None


def test_covered_scan_matches_snapshot(ctx):
    store, idx, _ = ctx
    pred = F.col("l_quantity") > 45
    via_idx = idx.scan("db", "li", ["l_quantity", "l_extendedprice"], predicate=pred)
    via_snap = store.doc("db", "li").filter(pred).select(
        "record_key", "l_quantity", "l_extendedprice"
    )
    assert via_idx.exceptAll(via_snap).count() == 0
    assert via_snap.exceptAll(via_idx).count() == 0


def test_sorted_index_serves_value_ordered_scan(ctx):
    _, idx, entry = ctx
    # CAS-style value-ordered range scan straight off the sorted files
    rows = (
        idx.scan("db", "li", ["l_quantity"], predicate=F.col("l_quantity") <= 2)
        .orderBy("l_quantity")
        .collect()
    )
    assert rows and all(r["l_quantity"] <= 2 for r in rows)


def test_drop_index(ctx):
    store, idx, _ = ctx
    idx.create_cas_index("db", "li", "cas_price", "l_extendedprice")
    # narrowest covering index wins (cas_price has fewer columns)
    assert idx.find_index("db", "li", ["l_extendedprice"])["name"] == "cas_price"
    assert idx.drop_index("db", "li", "cas_price") is True
    # by_qty still covers the column after the drop (auto-rerouting)
    assert idx.find_index("db", "li", ["l_extendedprice"])["name"] == "by_qty"
    # and a never-indexed column has no route
    assert idx.find_index("db", "li", ["l_tax"]) is None


def test_fail_closed_fallback(ctx):
    store, idx, _ = ctx
    # request includes a non-covered column → served from snapshot
    out = idx.scan("db", "li", ["l_tax"])
    assert "l_tax" in out.columns and out.count() == store.doc("db", "li").count()


# ---------- vector index lifecycle (VectorIndex.java:37-93) ----------
@pytest.fixture(scope="module")
def vctx(spark, tmp_path_factory):
    """Small deterministic corpus: 60 vectors in dim 6, three visible
    clusters so IVF cells are meaningful."""
    import math

    store = VersionedStore(spark, str(tmp_path_factory.mktemp("vstore")))
    rows = []
    for i in range(60):
        c = i % 3
        base = [1.0 if d == c else 0.1 for d in range(6)]
        # deterministic per-vector wiggle
        vec = [round(b + 0.01 * math.sin(i * (d + 1)), 6) for d, b in enumerate(base)]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    store.store("db", "emb", df, key="id")
    queries = spark.createDataFrame(
        [(100, [1.0, 0.1, 0.1, 0.1, 0.1, 0.1]), (200, [0.1, 0.1, 1.0, 0.1, 0.1, 0.1])],
        "query_id long, qv array<double>",
    )
    return store, ProjectionIndexes(store), queries


def _result_set(df):
    return {(r["query_id"], r["rank"]): r["record_key"] for r in df.collect()}


def test_vector_index_build_route_matches_bruteforce(vctx):
    store, idx, queries = vctx
    brute = _result_set(idx.vector_search("db", "emb", queries, k=5))
    assert idx.find_vector_index("db", "emb", "embedding") is None

    entry = idx.create_vector_index("db", "emb", "ann", n_cells=3, method="ivf")
    assert idx.find_vector_index("db", "emb", "embedding")["name"] == "ann"
    # full probe (nprobe = n_cells) must equal exact brute force
    routed = idx.vector_search("db", "emb", queries, k=5, nprobe=3)
    assert _result_set(routed) == brute
    # narrow probe still finds the right cluster for clustered queries
    probed = idx.vector_search("db", "emb", queries, k=5, nprobe=1)
    assert _result_set(probed) == brute
    # the routed plan reads the index files, not the snapshot
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "vidx_ann" in plan
    assert entry["path"].endswith("vidx_ann_r000001")


def test_vector_index_partition_pruning(vctx):
    """The IVF probe must prune to the probed cell directories —
    the candidate-reduction that matters at corpus scale."""
    store, idx, queries = vctx
    one = queries.limit(1)
    plan = idx.vector_search("db", "emb", one, k=3, nprobe=1)._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*cell", plan)
    assert m, f"no cell partition filter in plan:\n{plan[:2000]}"


def test_vector_index_lsh_route(vctx):
    store, idx, queries = vctx
    brute = _result_set(idx.vector_search("db", "emb", queries, k=3, column="embedding"))
    # replace ivf with lsh under a different name, earlier one dropped
    assert idx.drop_index("db", "emb", "ann") is True
    idx.create_vector_index("db", "emb", "annlsh", method="lsh", n_tables=4, n_planes=6)
    routed = idx.vector_search("db", "emb", queries, k=3)
    # LSH is approximate, but with 4 tables × 6 planes on separated
    # clusters the top-1 per query must match exact search
    got, want = _result_set(routed), brute
    for q in {100, 200}:
        assert got[(q, 1)] == want[(q, 1)]


def test_vector_index_drop_falls_back(vctx):
    store, idx, queries = vctx
    assert idx.drop_index("db", "emb", "annlsh") is True
    assert idx.find_vector_index("db", "emb", "embedding") is None
    out = idx.vector_search("db", "emb", queries, k=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "vidx_ann" not in plan  # snapshot scan, no index files
    assert out.count() == 4
