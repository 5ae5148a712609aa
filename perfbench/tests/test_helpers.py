"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime
import json
import re
import sqlite3
import sys
import xml.etree.ElementTree as ET
import zipfile
from decimal import Decimal
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import check  # noqa: E402
import gen  # noqa: E402

SMALL_FORM1 = {**gen.SIZES["form1_annual"], "tables": 6, "filings": 4}
SMALL_EMBED = {
    **gen.SIZES["embed_mine"],
    "n": 300, "queries": 5, "anchors": 5, "knn_n": 150,
    "margin_left": 40, "margin_right": 40,
}


@pytest.fixture
def small_sizes(monkeypatch):
    monkeypatch.setitem(gen.SIZES, "form1_annual", SMALL_FORM1)
    monkeypatch.setitem(gen.SIZES, "embed_mine", SMALL_EMBED)


def _tree_bytes(root: Path) -> dict[str, bytes]:
    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in sorted(root.rglob("*")) if p.is_file()
    }


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_generator_is_deterministic(small_sizes, tmp_path, workload):
    a, meta_a = gen.generate(workload, 5, tmp_path / "a")
    b, meta_b = gen.generate(workload, 5, tmp_path / "b")
    assert meta_a == meta_b
    assert _tree_bytes(a) == _tree_bytes(b)
    c, _ = gen.generate(workload, 6, tmp_path / "c")
    assert _tree_bytes(a) != _tree_bytes(c)


def test_generator_reuses_its_cache(small_sizes, tmp_path):
    out, meta = gen.generate("form1_annual", 3, tmp_path)
    (out / "marker").write_text("kept")
    again, meta_again = gen.generate("form1_annual", 3, tmp_path)
    assert again == out and meta_again == meta
    assert (out / "marker").read_text() == "kept"


# --------------------------------------------------------------- expected rows

XI = "{http://www.xbrl.org/2003/instance}"


def _snake(name: str) -> str:
    return re.sub(r"(?<!^)([A-Z])", r"_\1", name).lower()


def _decimals(text: str) -> int:
    d = Decimal(text).normalize()
    return max(0, -d.as_tuple().exponent)


def _derive(inputs: Path) -> dict[str, list]:
    """Expected tables re-derived from the written filings alone, with a
    plain reading of the extract rules: a cell's facts resolve to their one
    distinct value, else to the single most precise number, else null."""
    catalog = json.loads((inputs / "catalog.json").read_text())
    col_table = {c: (t, ty) for t, s in catalog.items() for c, ty in s["columns"].items()}
    meta = json.loads((inputs / "meta.json").read_text())
    tables: dict[str, list] = {}
    for zname in meta["zips"]:
        with zipfile.ZipFile(inputs / zname) as zf:
            rss = json.loads(zf.read("rssfeed"))
            pub = {}
            for filers in rss.values():
                for f in filers:
                    pub[f["filename"]] = f["rss_metadata"]["published_parsed"]
            for member in zf.namelist():
                if not member.endswith(".xbrl"):
                    continue
                try:
                    root = ET.fromstring(zf.read(member))
                except ET.ParseError:
                    continue
                _derive_filing(root, member, pub[member], catalog, col_table, tables)
    return tables


def _derive_filing(root, member, pub_iso, catalog, col_table, tables):
    filing = member[: -len(".xbrl")]
    pub = check._canon(pub_iso, "timestamp")
    ctx = {}
    for c in root.iter(f"{XI}context"):
        entity = c.find(f"{XI}entity/{XI}identifier").text
        dims = {}
        for m in c.iter():
            if m.tag.endswith("Member") and "dimension" in m.attrib:
                axis = _snake(m.attrib["dimension"].split(":", 1)[1])
                dims[axis] = m.text if m.tag.endswith("explicitMember") else m[0].text
        inst = c.find(f"{XI}period/{XI}instant")
        period = (inst.text,) if inst is not None else (
            c.find(f"{XI}period/{XI}startDate").text,
            c.find(f"{XI}period/{XI}endDate").text,
        )
        ctx[c.attrib["id"]] = (entity, period, dims)
    cells: dict[tuple, set] = {}
    for el in root:
        ref = el.attrib.get("contextRef")
        name = _snake(el.tag.split("}", 1)[1])
        if ref in ctx and name in col_table:
            cells.setdefault((ref, name), set()).add(el.text)
    rows: dict[tuple, dict] = {}
    for (ref, name), values in cells.items():
        table, ftype = col_table[name]
        entity, period, dims = ctx[ref]
        spec = catalog[table]
        if (len(period) == 1) != (spec["period_type"] == "instant"):
            continue
        if not set(dims) <= set(spec["axes"]):
            continue
        if ftype == "number":
            values = {float(v) for v in values}
        if len(values) == 1:
            value = values.pop()
        elif ftype == "number":
            prec = sorted(((_decimals(repr(v)), v) for v in values), reverse=True)
            value = prec[0][1] if prec[0][0] > prec[1][0] else None
        else:
            value = None
        if ftype == "integer" and value is not None:
            value = int(value)
        key = (table, ref)
        axes = [dims.get(a, "total") for a in spec["axes"]]
        rows.setdefault(key, {"pk": [entity, filing, pub, *period, *axes]})[name] = value
    for (table, _ref), row in rows.items():
        values = [row.get(c) for c in catalog[table]["columns"]]
        if any(v is not None for v in values):
            tables.setdefault(table, []).append(row["pk"] + values)


def test_expected_rows_match_a_rederivation_from_the_filings(small_sizes, tmp_path):
    inputs, meta = gen.generate("form1_annual", 8, tmp_path)
    doc = json.loads((inputs / "expected.json").read_text())
    catalog = json.loads((inputs / "catalog.json").read_text())
    derived = _derive(inputs)
    assert set(derived) == set(doc["tables"])
    for name, spec in catalog.items():
        assert check.canon_rows(derived.get(name, []), spec) == check.canon_rows(
            doc["tables"].get(name, []), spec
        ), name
    assert meta["conflicts"] == len(doc["conflicts"]) > 0


def test_spark_round_is_half_up_on_the_shortest_decimal():
    assert gen.spark_round(0.12345, 4) == 0.1235  # binary value is below .12345
    assert gen.spark_round(-0.12345, 4) == -0.1235
    assert gen.spark_round(0.99995, 4) == 1.0
    assert gen.spark_round(1e-5, 4) == 0.0


def test_fold_dot_is_a_sequential_left_fold():
    rng = np.random.default_rng(0)
    a = rng.normal(size=(3, 17)).astype(np.float32)
    b = rng.normal(size=(4, 17)).astype(np.float32)
    got = gen.fold_dot(a, b)
    for i in range(3):
        for j in range(4):
            acc = 0.0
            for x, y in zip(a[i].tolist(), b[j].tolist()):
                acc = acc + x * y
            assert got[i, j] == acc


# --------------------------------------------------------------------- checker


def _write_sinks(out: Path, inputs: Path, corrupt: str | None = None) -> None:
    """Materialize the expected tables the way the program's sinks lay them
    out, optionally changing one value of one table in every sink."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    catalog = json.loads((inputs / "catalog.json").read_text())
    doc = json.loads((inputs / "expected.json").read_text())
    (out / "parquet").mkdir(parents=True)
    con = sqlite3.connect(out / "ferc.sqlite")
    dk = duckdb.connect(str(out / "ferc.duckdb"))
    kept = []
    for name, spec in catalog.items():
        rows = [list(r) for r in doc["tables"].get(name, [])]
        if not rows:
            continue
        kept.append(name)
        cols = check.columns_of(spec)
        if name == corrupt:
            last = len(cols) - 1
            rows[0][last] = "tampered" if isinstance(rows[0][last], str) else 12345.5
        arrays = {}
        for i, c in enumerate(cols):
            vals = [r[i] for r in rows]
            if c == "publication_time":
                arrays[c] = pa.array(
                    [datetime.datetime.fromisoformat(v) for v in vals],
                    pa.timestamp("us", tz="UTC"),
                )
            elif spec["columns"].get(c) in ("number", "integer"):
                arrays[c] = pa.array([None if v is None else float(v) for v in vals])
            else:
                arrays[c] = pa.array([None if v is None else str(v) for v in vals])
        table = pa.table(arrays)
        target = out / "parquet" / f"{name}.parquet"
        target.mkdir()
        pq.write_table(table, target / "part-0.parquet")
        table.to_pandas().to_sql(name, con, index=False)
        dk.execute(
            f"CREATE TABLE \"{name}\" AS SELECT * FROM read_parquet('{target}/*.parquet')"
        )
    con.commit()
    con.close()
    dk.close()
    for path, names in ((out / "datapackage.json", list(catalog)),
                        (out / "parquet" / "datapackage.json", kept)):
        path.write_text(json.dumps({"resources": [{"name": n} for n in names]}))


def test_checker_accepts_expected_and_rejects_one_corrupted_table(small_sizes, tmp_path):
    inputs, _ = gen.generate("form1_annual", 9, tmp_path / "cache")
    _write_sinks(tmp_path / "good", inputs)
    good = check.check_extract(tmp_path / "good", inputs, ("sqlite", "duckdb", "datapackage"))
    assert all(v is None for v in good.values()), good

    victim = sorted(json.loads((inputs / "expected.json").read_text())["tables"])[0]
    _write_sinks(tmp_path / "bad", inputs, corrupt=victim)
    bad = check.check_extract(tmp_path / "bad", inputs, ("sqlite", "duckdb", "datapackage"))
    assert [k for k, v in bad.items() if v] == [victim]
    assert "parquet" in bad[victim]


def test_checker_flags_a_resolved_conflict():
    cols = ["entity_id", "filing_name", "v"]
    rows = [["e", "f1", 10.25], ["e", "f2", 10.25]]
    assert check._unresolved(cols, rows, [("f1", "v", "10.25", "10.75")])
    assert check._unresolved(cols, rows, [("f3", "v", "10.25", "10.75")]) is None


def test_mining_checker_rejects_a_changed_row(small_sizes, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    inputs, _ = gen.generate("embed_mine", 4, tmp_path / "cache")
    expected = json.loads((inputs / "expected.json").read_text())
    for corrupt in (False, True):
        out = tmp_path / f"out{int(corrupt)}"
        for job, cols in check.MINING_COLUMNS.items():
            rows = [list(r) for r in expected[job]]
            if corrupt and job == "knn":
                rows[0][2] = rows[0][2] + 0.0001
            (out / job).mkdir(parents=True)
            pq.write_table(
                pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}),
                out / job / "part-0.parquet",
            )
        result = check.check_mining(out, inputs)
        assert [k for k, v in result.items() if v] == (["knn"] if corrupt else [])
