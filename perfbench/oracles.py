"""Expected results, computed on DuckDB before timing starts, and the
comparison every timed result goes through."""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb


def _cell(v):
    """Canonical form of one value: floats to 12 significant digits, so
    two engines that sum in a different order still agree."""
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (float, decimal.Decimal)):
        v = float(v)
        return "nan" if math.isnan(v) else float(f"{v:.12g}")
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def canon(columns: list[str], rows: list) -> tuple:
    """Order-insensitive canonical result: columns sorted by name, rows
    as a sorted list of canonical tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(
        (tuple(_cell(r[i]) for i in order) for r in rows),
        key=repr,
    )
    return tuple(sorted(columns)), tuple(body)


def jsoniq(paths: dict[str, str], names: tuple[str, ...]) -> dict[str, tuple]:
    """Each registry query's own oracle SQL over the generated tables."""
    from sirix_spark.queries import registry

    reg = registry()
    con = duckdb.connect()
    try:
        for t, p in paths.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for name in names:
            cur = con.execute(reg[name].sql)
            out[name] = canon([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()
