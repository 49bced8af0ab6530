"""Interleaved A/B: dedup_clusters convergence-join removal.
Old: per-iteration labels join for the changed-count.
New: previous label rides through the aggregate (_min_label_propagate).
Counts Spark jobs via job groups and times each side, alternating
within ONE session.
"""
import sys, time
sys.path.insert(0, "/root/repo")
import os
os.environ.setdefault("SIRIX_SPARK_CACHE_TABLES", "1")
from pyspark.sql import functions as F
from sirix_spark import get_spark
from sirix_spark.queries.dedup import (
    CLUSTER_MAX_ITER, _docs, _min_label_propagate, minhash_lsh_pairs,
)

SF = "/root/testdata/sf0.1"
spark = get_spark("ab-clusters")
sc = spark.sparkContext


def edges_labels():
    pairs = minhash_lsh_pairs(spark, SF)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .persist()
    )
    labels = _docs(spark, SF).select("doc_id", F.col("doc_id").alias("cluster"))
    return edges, labels


def old_propagate(edges, labels):
    for _ in range(CLUSTER_MAX_ITER):
        prop = edges.join(
            labels.withColumnRenamed("doc_id", "dst_id"), edges.dst == F.col("dst_id")
        ).select(F.col("src").alias("doc_id"), "cluster")
        new_labels = (
            labels.unionByName(prop)
            .groupBy("doc_id")
            .agg(F.min("cluster").alias("cluster"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("cluster", "old"), "doc_id")
            .filter(F.col("cluster") < F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def run(tag, fn):
    edges, labels = edges_labels()
    grp = f"{tag}-{time.monotonic_ns()}"
    sc.setJobGroup(grp, tag)
    t0 = time.monotonic()
    out = fn(edges, labels)
    rows = out.count()
    t = time.monotonic() - t0
    sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(grp))
    edges.unpersist()
    return t, jobs, rows


# value identity once
eo, lo = edges_labels()
en, ln = edges_labels()
a = old_propagate(eo, lo)
b = _min_label_propagate(en, ln)
assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, "MISMATCH"
print("values identical")
eo.unpersist(); en.unpersist()

res = {"old": [], "new": []}
for i in range(3):
    for tag, fn in (("old", old_propagate), ("new", _min_label_propagate)):
        t, jobs, rows = run(tag, fn)
        res[tag].append((t, jobs))
        print(f"pass{i} {tag}: {t:.3f}s jobs={jobs} rows={rows}")
for tag in ("old", "new"):
    best = min(t for t, _ in res[tag])
    print(f"{tag}: best {best:.3f}s jobs={res[tag][0][1]}")
spark.stop()
