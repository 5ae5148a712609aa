"""Output checks: every sink's tables against the generator's expected rows.

Rows are compared as multisets (order never matters). Values are put in
one canonical form per column first, because each sink stores types its
own way: SQLite keeps timestamps as text and integer columns with nulls as
REAL, DuckDB reads Parquet timestamps back as time-zone aware. Each table
(or mining output) is one operation; a mismatch in any sink fails it.
"""

from __future__ import annotations

import datetime
import json
import math
import sqlite3
from collections import Counter
from pathlib import Path

NUMERIC = ("number", "integer")


def _pk(spec: dict) -> list[str]:
    if spec["period_type"] == "instant":
        base = ["entity_id", "filing_name", "publication_time", "date"]
    else:
        base = ["entity_id", "filing_name", "publication_time", "start_date", "end_date"]
    return base + list(spec["axes"])


def columns_of(spec: dict) -> list[str]:
    return _pk(spec) + list(spec["columns"])


def _canon(value, kind: str):
    if value is None or (isinstance(value, float) and math.isnan(value)):
        return None
    if kind == "timestamp":
        if isinstance(value, str):
            value = datetime.datetime.fromisoformat(value)
        if value.tzinfo is not None:
            value = value.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return value.strftime("%Y-%m-%d %H:%M:%S")
    if kind in NUMERIC:
        return float(value)
    return str(value)


def _kinds(spec: dict) -> list[str]:
    return [
        "timestamp" if c == "publication_time" else spec["columns"].get(c, "string")
        for c in columns_of(spec)
    ]


def canon_rows(rows, spec: dict) -> Counter:
    kinds = _kinds(spec)
    return Counter(tuple(_canon(v, k) for v, k in zip(row, kinds)) for row in rows)


def _read_parquet(out_dir: Path, name: str):
    import pyarrow.dataset as pads

    path = out_dir / f"{name}.parquet"
    if not path.exists():
        return None, []
    table = pads.dataset(str(path), format="parquet").to_table()
    got = table.column_names
    return got, [list(r) for r in zip(*(table.column(c).to_pylist() for c in got))]


def _read_sql(conn, name: str):
    """(columns, rows) of one SQLite or DuckDB table; (None, []) if absent."""
    import duckdb

    try:
        cur = conn.execute(f'SELECT * FROM "{name}"')
    except (sqlite3.OperationalError, duckdb.CatalogException) as exc:
        if "no such table" in str(exc) or "does not exist" in str(exc):
            return None, []
        raise
    got = [d[0] for d in cur.description]
    return got, [list(r) for r in cur.fetchall()]


def _compare(sink: str, got_cols, got_rows, spec: dict, expected: Counter) -> str | None:
    want_cols = columns_of(spec)
    if got_cols is None:
        return None if not expected else f"{sink}: table missing"
    if not expected:
        return f"{sink}: empty table was written"
    if list(got_cols) != want_cols:
        return f"{sink}: columns {got_cols[:6]}... != {want_cols[:6]}..."
    got = canon_rows(got_rows, spec)
    if got != expected:
        extra = sum((got - expected).values())
        missing = sum((expected - got).values())
        return f"{sink}: {extra} unexpected and {missing} missing rows"
    return None


def check_extract(out: Path, inputs: Path, sinks: tuple[str, ...]) -> dict[str, str | None]:
    """Per table: None when every sink matches, else the first problem."""
    import duckdb

    catalog = json.loads((inputs / "catalog.json").read_text())
    doc = json.loads((inputs / "expected.json").read_text())
    expected = {
        name: canon_rows(doc["tables"].get(name, []), spec)
        for name, spec in catalog.items()
    }
    conflicts: dict[str, list] = {}
    for table, filing, _cid, col, a, b in doc["conflicts"]:
        conflicts.setdefault(table, []).append((filing, col, a, b))

    result: dict[str, str | None] = {}
    sq = sqlite3.connect(out / "ferc.sqlite") if "sqlite" in sinks else None
    dk = duckdb.connect(str(out / "ferc.duckdb"), read_only=True) if "duckdb" in sinks else None
    try:
        for name, spec in catalog.items():
            problems = []
            got_cols, rows = _read_parquet(out / "parquet", name)
            problems.append(_compare("parquet", got_cols, rows, spec, expected[name]))
            problems.append(_unresolved(got_cols, rows, conflicts.get(name, [])))
            for sink, conn in (("sqlite", sq), ("duckdb", dk)):
                if conn is not None:
                    problems.append(_compare(sink, *_read_sql(conn, name), spec, expected[name]))
            result[name] = next((p for p in problems if p), None)
    finally:
        if sq is not None:
            sq.close()
        if dk is not None:
            dk.close()
    if "datapackage" in sinks:
        result["datapackage"] = _check_datapackage(out, catalog, expected)
    return result


def _unresolved(cols, rows, conflicts) -> str | None:
    """An injected conflict must never surface as a resolved value."""
    if cols is None or not conflicts:
        return None
    at = {c: i for i, c in enumerate(cols)}
    fi = at["filing_name"]
    for filing, col, a, b in conflicts:
        bad = {a, b}
        for x in (a, b):
            try:
                bad.add(float(x))
            except ValueError:
                pass
        for row in rows:
            if row[fi] == filing and row[at[col]] in bad:
                return f"conflict {filing}/{col} resolved to {row[at[col]]!r}"
    return None


def _check_datapackage(out: Path, catalog: dict, expected: dict) -> str | None:
    kept = sorted(n for n in catalog if expected[n])
    for path, want in (
        (out / "datapackage.json", sorted(catalog)),
        (out / "parquet" / "datapackage.json", kept),
    ):
        if not path.exists():
            return f"{path.name} missing"
        names = sorted(r["name"] for r in json.loads(path.read_text())["resources"])
        if names != want:
            return f"{path.parent.name}/{path.name}: {len(names)} resources, want {len(want)}"
    return None


MINING_COLUMNS = {
    "topk": ["query_id", "neighbor_id", "sim", "rank"],
    "hard_neg": ["anchor_id", "neighbor_id", "role", "sim", "rank"],
    "knn": ["vec_id", "neighbor_id", "sim", "rank"],
    "margin": ["id_a", "id_b", "sim_micro", "margin_micro"],
}


def check_mining(out: Path, inputs: Path) -> dict[str, str | None]:
    import pyarrow.dataset as pads

    expected = json.loads((inputs / "expected.json").read_text())
    result: dict[str, str | None] = {}
    for job, cols in MINING_COLUMNS.items():
        path = out / job
        if not path.exists():
            result[job] = "output missing"
            continue
        table = pads.dataset(str(path), format="parquet").to_table()
        if table.column_names != cols:
            result[job] = f"columns {table.column_names} != {cols}"
            continue
        got = Counter(zip(*(table.column(c).to_pylist() for c in cols)))
        want = Counter(tuple(r) for r in expected[job])
        if got != want:
            result[job] = (
                f"{sum((got - want).values())} unexpected and "
                f"{sum((want - got).values())} missing rows"
            )
        else:
            result[job] = None
    return result
