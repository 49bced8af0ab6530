"""Size-aware cache partitioning for compute-heavy tables (r11).

The fixed dim-table cap (8) serialized the shingle/explode map stages
of every dedup query once the corpus outgrew the bench SF (found by
the 30x scale proof: jaccard's posting-shuffle map stage ran 8-wide on
32 cores). Heavy tables now grow ~_HEAVY_ROWS_PER_PART rows/partition
up to the full core count, with the old 8 as the floor — so the sf0.1
bench layout is bit-for-bit the old one.
"""

from __future__ import annotations

import math
from types import SimpleNamespace

import pytest


def test_cache_parts_regimes(spark):
    from sirix_spark.tables import (
        _CACHE_TARGET_ROWS,
        _HEAVY_ROWS_PER_PART,
        _cache_parts,
    )

    cores = spark.sparkContext.defaultParallelism
    # compute-heavy floor: bench-SF row counts keep the old 8
    assert _cache_parts(spark, "documents", 5_000) == 8
    assert _cache_parts(spark, "embeddings", 2_000) == 8
    # growth: 30x-scale corpus uses every core
    assert _cache_parts(spark, "documents", 150_000) == max(
        8, min(cores, 150_000 // _HEAVY_ROWS_PER_PART)
    )
    # scan-bound dims: row-scaled under the dim cap
    assert _cache_parts(spark, "customer", _CACHE_TARGET_ROWS) == 1
    assert _cache_parts(spark, "customer", 10**9) == 8
    # fact tables: full cores
    assert _cache_parts(spark, "lineitem", 10**9) == cores


@pytest.mark.parametrize("cores", [2, 4, 8, 16, 32])
def test_cache_parts_rule_at_any_core_count(cores):
    """The documented rule, checked at core counts the runner may not
    have: a stand-in session carries only sparkContext.defaultParallelism."""
    from sirix_spark.tables import (
        _CACHE_TARGET_ROWS,
        _HEAVY_ROWS_PER_PART,
        _cache_parts,
    )

    session = SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=cores)
    )
    for rows in (0, 1, 2_000, 5_000, 16_000, 40_000, 150_000, 10**6):
        heavy = max(8, min(cores, rows // _HEAVY_ROWS_PER_PART))
        scaled = math.ceil(rows / _CACHE_TARGET_ROWS)
        for name in ("documents", "embeddings"):
            assert _cache_parts(session, name, rows) == heavy, (name, rows)
        for name in ("customer", "part"):
            assert _cache_parts(session, name, rows) == max(1, min(8, scaled))
        for name in ("lineitem", "orders", "events"):
            assert _cache_parts(session, name, rows) == max(1, min(cores, scaled))
    # bench SF keeps 8 everywhere; the 30x corpus grows with the cores
    assert _cache_parts(session, "documents", 5_000) == 8
    assert _cache_parts(session, "documents", 150_000) == {
        2: 8, 4: 8, 8: 8, 16: 16, 32: 32
    }[cores]
