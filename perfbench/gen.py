"""Seeded inputs and expected outputs for the product-path benchmark.

``generate(workload, seed, cache_root)`` writes one workload's inputs and
the outputs the program must produce from them, and returns a metadata
dict. The same (workload, seed) always yields byte-identical files; results
are cached under ``cache_root/<workload>-<seed>-<generator hash>``, so
repeated runs skip generation.

Expected outputs are built from the generator's own ground truth, never
by running the program:

- ``form1_annual``: the generator decides every output row (context,
  axis values, one value per cell) first and only then writes the XBRL
  facts that encode it, adding exact duplicates, less-precise duplicates,
  unresolvable conflicts, dangling ``contextRef``s, unused concepts and a
  corrupt member as the workload asks. A conflicting cell is expected to
  be null; a row whose every cell is null is expected to be absent.
- ``embed_mine``: a NumPy reference that folds every dot product
  sequentially from 0.0 in double precision (the same IEEE sequence as a
  left fold) and rounds half-up on the shortest decimal form, as Spark's
  ``round`` does.

Run as a script to print the metadata of one generated input:
``python3 perfbench/gen.py form1_annual 7 perfbench/_work/cache``.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import random
import shutil
import statistics
import sys
import zipfile
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import numpy as np

# Input sizes per workload. Tables and filings of form1_annual are the
# 255-table x 40-filing Form 1 scaled down together (width distribution
# kept) so that a cold and several warm runs fit one measured run. The
# seed picks values, rows and which tables each filing reports; the
# catalog's shape (widths, axis counts) is the same for every seed, so
# the work per run does not drift with the seed.
SIZES: dict[str, dict] = {
    "form1_annual": {
        "tables": 8,
        "filings": 8,
        "report_share": 0.6,
        "rows_axis": 5,
        "fill": 0.6,
        "exact_dup": 0.03,
        "prec_dup": 0.01,
        "conflicts": 3,
        "dangling": 0.01,
        "unused": 0.02,
        "corrupt": 1,
    },
    "embed_mine": {
        "n": 3000,
        "dim": 64,
        "labels": 12,
        "shards": 8,
        "queries": 32,
        "anchors": 32,
        "k": 5,
        "k_neg": 5,
        "n_pos": 2,
        "knn_n": 800,
        "nlist": 8,
        "nprobe": 2,
        "margin_left": 200,
        "margin_right": 200,
        "margin_k": 4,
    },
}

WORKLOADS = tuple(SIZES)
XBRLI = "http://www.xbrl.org/2003/instance"
FERC_NS = "http://ferc.gov/form/2022-01-01/ferc"
TYPES = ("number", "integer", "string", "date")
TYPE_WEIGHTS = (0.7, 0.1, 0.15, 0.05)


# --------------------------------------------------------------------------
# extract workloads
# --------------------------------------------------------------------------


def _quantiles(n: int, inv_cdf) -> list:
    return [inv_cdf((i + 0.5) / n) for i in range(n)]


def make_catalog(rng: random.Random, size: dict) -> dict:
    """Frozen catalog in ``specs_to_json`` form.

    Widths are the n quantiles of a log-normal (most Form 1 schedules are
    narrow, a long tail is over 100 columns wide) and axis counts follow
    fixed shares of 0-3 axes; the seed picks only the column types."""
    n = size["tables"]
    normal = statistics.NormalDist(2.8, 1.3)
    widths = [max(5, min(130, round(math.exp(z)))) for z in _quantiles(n, normal.inv_cdf)]
    axes = [
        0 if q < 0.45 else 1 if q < 0.75 else 2 if q < 0.9 else 3
        for q in _quantiles(n, lambda q: q)
    ]
    # One fixed pairing of widths with axis counts for every seed: which
    # wide table carries axes decides most of the fact count.
    random.Random(0).shuffle(axes)
    catalog: dict[str, dict] = {}
    for t in range(n):
        period = "duration" if t % 2 == 0 else "instant"
        n_axes = axes[t]
        columns = {}
        for j in range(widths[t]):
            columns[f"tbl{t}_col{j}"] = rng.choices(TYPES, weights=TYPE_WEIGHTS)[0]
        catalog[f"t{t:03d}_schedule_{period}"] = {
            "period_type": period,
            "axes": [f"tbl{t}_dim{a}_axis" for a in range(n_axes)],
            "columns": columns,
        }
    return catalog


def _tag(snake: str) -> str:
    """Element local name whose snakecase is ``snake`` (tbl3_col7 -> Tbl3Col7)."""
    return "".join(part[:1].upper() + part[1:] for part in snake.split("_"))


def _number(rng: random.Random) -> tuple[str, bool]:
    """A number fact as text; True when it has two significant decimals."""
    if rng.random() < 0.25:
        return str(rng.randrange(-10_000, 5_000_000)), False
    cents = rng.randrange(-1_000_000, 900_000_000)
    if cents % 10 == 0:
        cents += 1
    sign = "-" if cents < 0 else ""
    cents = abs(cents)
    return f"{sign}{cents // 100}.{cents % 100:02d}", True


def _value(rng: random.Random, ftype: str) -> tuple[str, object, bool]:
    """(fact text, expected output value, precision-duplicable)."""
    if ftype == "number":
        text, two_dp = _number(rng)
        return text, float(text), two_dp
    if ftype == "integer":
        v = rng.randrange(0, 10**7)
        return str(v), v, False
    if ftype == "string":
        text = f"item {rng.randrange(10**6)} {rng.choice('abcdefgh')}"
        return text, text, False
    text = f"2021-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    return text, text, False


def _conflict_pair(rng: random.Random, ftype: str) -> tuple[str, str]:
    """Two distinct values the dedup must not resolve: same precision for
    numbers, two different strings otherwise."""
    if ftype == "number":
        whole = rng.randrange(1, 10**6)
        return f"{whole}.25", f"{whole}.75"
    return f"left {rng.randrange(10**6)}", f"right {rng.randrange(10**6)}"


def _context_xml(cid: str, entity: str, period: tuple, dims: tuple) -> str:
    seg = ""
    if dims:
        members = []
        for axis, value in dims:
            dim = f"ferc:{_tag(axis)}"
            if value.startswith("ferc:"):
                members.append(
                    f'<xbrldi:explicitMember dimension="{dim}">{value}'
                    "</xbrldi:explicitMember>"
                )
            else:
                dom = _tag(axis[: -len("_axis")]) + "Domain"
                members.append(
                    f'<xbrldi:typedMember dimension="{dim}"><ferc:{dom}>{value}'
                    f"</ferc:{dom}></xbrldi:typedMember>"
                )
        seg = "<xbrli:segment>" + "".join(members) + "</xbrli:segment>"
    if len(period) == 1:
        per = f"<xbrli:instant>{period[0]}</xbrli:instant>"
    else:
        per = (
            f"<xbrli:startDate>{period[0]}</xbrli:startDate>"
            f"<xbrli:endDate>{period[1]}</xbrli:endDate>"
        )
    return (
        f'<xbrli:context id="{cid}"><xbrli:entity>'
        f'<xbrli:identifier scheme="http://www.ferc.gov/CID">{entity}'
        f"</xbrli:identifier>{seg}</xbrli:entity><xbrli:period>{per}"
        "</xbrli:period></xbrli:context>"
    )


def _pub_time(rng: random.Random, year: int) -> tuple[str, str]:
    """(rssfeed ISO timestamp with offset, expected naive-UTC text)."""
    local = datetime.datetime(
        year + 1, rng.randint(1, 6), rng.randint(1, 28),
        rng.randint(0, 23), rng.randint(0, 59), rng.randint(0, 59),
    )
    offset = datetime.timedelta(hours=rng.choice((-5, -4, 0, 1)))
    aware = local.replace(tzinfo=datetime.timezone(offset))
    utc = aware.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return aware.isoformat(), utc.strftime("%Y-%m-%d %H:%M:%S")


def _filing(rng, catalog, size, reported, filing_name, entity, year, pub_text,
            expected, conflicts, conflict_budget):
    """One filing's XML text and fact count; appends its expected rows."""
    cur_d = (f"{year}-01-01", f"{year}-12-31")
    pri_d = (f"{year - 1}-01-01", f"{year - 1}-12-31")
    contexts: dict[tuple, str] = {}
    facts: list[tuple[str, str, str]] = []  # (tag, contextRef, text)

    def context(period, dims):
        key = (period, dims)
        if key not in contexts:
            contexts[key] = f"c{len(contexts)}"
        return contexts[key]

    for tname, spec in catalog.items():
        if tname not in reported:
            continue
        axes = spec["axes"]
        cols = list(spec["columns"].items())
        # A table without axes has one row per period (this year, last
        # year); one with axes has a fixed number of axis rows.
        seen: set = set()
        for r in range(size["rows_axis"] if axes else 2):
            current = rng.random() < 0.7 if axes else r == 0
            if spec["period_type"] == "instant":
                period = (cur_d[1],) if current else (pri_d[1],)
            else:
                period = cur_d if current else pri_d
            axis_vals = []
            for a, axis in enumerate(axes):
                if rng.random() < 0.1:
                    axis_vals.append("total")
                elif a == 1:
                    axis_vals.append(f"ferc:Member{rng.randrange(12)}")
                else:
                    axis_vals.append(f"v{rng.randrange(40)}")
            if (period, tuple(axis_vals)) in seen:
                continue
            seen.add((period, tuple(axis_vals)))
            dims = tuple((ax, v) for ax, v in zip(axes, axis_vals) if v != "total")
            cid = context(period, dims)
            row_vals = []
            for cname, ftype in cols:
                tag = _tag(cname)
                if rng.random() >= size["fill"]:
                    row_vals.append(None)
                    continue
                if conflict_budget[0] > 0 and ftype in ("number", "string") and (
                    rng.random() < 0.02
                ):
                    conflict_budget[0] -= 1
                    a_text, b_text = _conflict_pair(rng, ftype)
                    facts.append((tag, cid, a_text))
                    facts.append((tag, cid, b_text))
                    conflicts.append([tname, filing_name, cid, cname, a_text, b_text])
                    row_vals.append(None)
                    continue
                text, value, two_dp = _value(rng, ftype)
                facts.append((tag, cid, text))
                if rng.random() < size["exact_dup"]:
                    facts.append((tag, cid, text))
                if two_dp and rng.random() < size["prec_dup"]:
                    facts.append((tag, cid, text[:-1]))
                row_vals.append(value)
            if all(v is None for v in row_vals):
                continue
            pk = [entity, filing_name, pub_text, *period, *axis_vals]
            expected.setdefault(tname, []).append(pk + row_vals)
    # Facts the catalog does not consume, and facts whose context is absent.
    n_table_facts = len(facts)
    any_ctx = next(iter(contexts.values())) if contexts else context((cur_d[1],), ())
    for i in range(int(n_table_facts * size["unused"])):
        facts.append((f"UnusedConcept{i % 50}", any_ctx, str(rng.randrange(10**5))))
    for i in range(int(n_table_facts * size["dangling"])):
        facts.append((_tag(rng.choice(list(next(iter(catalog.values()))["columns"]))),
                      f"missing{i}", str(rng.randrange(10**5))))
    rng.shuffle(facts)
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        f'<xbrli:xbrl xmlns:xbrli="{XBRLI}" xmlns:ferc="{FERC_NS}" '
        'xmlns:xbrldi="http://xbrl.org/2006/xbrldi">\n'
    ]
    for (period, dims), cid in contexts.items():
        parts.append(_context_xml(cid, entity, period, dims) + "\n")
    for tag, cid, text in facts:
        parts.append(f'<ferc:{tag} contextRef="{cid}">{text}</ferc:{tag}>\n')
    parts.append("</xbrli:xbrl>\n")
    return "".join(parts), len(facts)


def generate_extract(workload: str, seed: int, out: Path) -> dict:
    """One zip archive of filings (plus ``rssfeed``), the catalog, and the
    expected tables; the corrupt members come last and add no rows."""
    size = SIZES[workload]
    rng = random.Random(f"{workload}:{seed}")
    catalog = make_catalog(rng, size)
    (out / "catalog.json").write_text(json.dumps(catalog, indent=1))
    expected: dict[str, list] = {}
    conflicts: list = []
    budget = [size["conflicts"]]
    facts_total = 0
    xml_bytes = 0
    n_good = size["filings"]
    # Every table is reported by the same number of filings, so the fact
    # count does not swing with whether a seed's filings hit the wide tables.
    n_reporting = round(n_good * size["report_share"])
    reporters = {t: set(rng.sample(range(n_good), n_reporting)) for t in catalog}
    year = 2021
    zpath = out / "filings" / f"ferc1-{year}.zip"
    zpath.parent.mkdir(parents=True)
    rss: dict[str, list] = {}
    members: list[tuple[str, bytes]] = []
    for i in range(n_good + size["corrupt"]):
        corrupt = i >= n_good
        entity = f"C{seed % 1000:03d}{i:03d}"
        filing_name = f"{entity.lower()}-{year}-q4"
        pub_iso, pub_text = _pub_time(rng, year)
        reported = {t for t, who in reporters.items() if i in who or corrupt}
        text, n_facts = _filing(
            rng, catalog, size, reported, filing_name, entity, year, pub_text,
            {} if corrupt else expected,
            [] if corrupt else conflicts,
            [0] if corrupt else budget,
        )
        data = text.encode()
        if corrupt:
            data = data[: len(data) * 3 // 5]
        member = f"{filing_name}.xbrl"
        members.append((member, data))
        rss.setdefault(entity, []).append({
            "filename": member,
            "rss_metadata": {"published_parsed": pub_iso},
            "taxonomy_zip_name": f"taxonomy-{year}.zip",
        })
        facts_total += n_facts
        xml_bytes += len(data)
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("rssfeed", json.dumps(rss))
        for member, data in members:
            zf.writestr(member, data)
    for rows in expected.values():
        rows.sort(key=repr)
    (out / "expected.json").write_text(
        json.dumps({"tables": expected, "conflicts": conflicts})
    )
    return {
        "workload": workload,
        "seed": seed,
        "tables": len(catalog),
        "nonempty_tables": len(expected),
        "filings": len(members),
        "zips": [str(zpath.relative_to(out))],
        "items": facts_total,
        "input_bytes": xml_bytes,
        "expected_rows": sum(len(r) for r in expected.values()),
        "conflicts": len(conflicts),
    }


# --------------------------------------------------------------------------
# embedding mining
# --------------------------------------------------------------------------


def spark_round(x: float, places: int) -> float:
    """Spark ``round(double, n)``: HALF_UP on the shortest decimal form."""
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """All-pairs dot products folded sequentially from 0.0 in double:
    out[i, j] = (((0 + a[i,0]b[j,0]) + a[i,1]b[j,1]) + ...)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    acc = np.zeros((a.shape[0], b.shape[0]))
    for d in range(a.shape[1]):
        acc = acc + np.multiply.outer(a[:, d], b[:, d])
    return acc


def fold_norm(a: np.ndarray) -> np.ndarray:
    a = np.asarray(a, dtype=np.float64)
    acc = np.zeros(a.shape[0])
    for d in range(a.shape[1]):
        acc = acc + a[:, d] * a[:, d]
    return np.sqrt(acc)


def _topk(raw: np.ndarray, ids: np.ndarray, allowed: np.ndarray, k: int):
    """Per row of ``raw``: the k best (rounded sim desc, id asc) among the
    allowed columns, rounding exactly only the candidates that can rank."""
    out = []
    for i in range(raw.shape[0]):
        cols = np.flatnonzero(allowed[i])
        if cols.size == 0:
            out.append([])
            continue
        sims = raw[i, cols]
        kth = np.sort(sims)[::-1][min(k, sims.size) - 1]
        cand = cols[sims >= kth - 2e-4]
        ranked = sorted(
            ((spark_round(raw[i, c], 4), int(ids[c])) for c in cand),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        out.append(ranked)
    return out


def cosine_topk_ref(corpus, c_ids, queries, q_ids, k, exclude_self=True):
    raw = fold_dot(queries, corpus) / np.multiply.outer(
        fold_norm(queries), fold_norm(corpus)
    )
    allowed = np.ones(raw.shape, dtype=bool)
    if exclude_self:
        allowed &= np.not_equal.outer(q_ids, c_ids)
    return [
        [int(q), n, s, r + 1]
        for q, ranked in zip(q_ids, _topk(raw, c_ids, allowed, k))
        for r, (s, n) in enumerate(ranked)
    ]


def hard_negative_ref(corpus, c_ids, c_lbl, anchors, a_ids, a_lbl, k_neg, n_pos):
    raw = fold_dot(anchors, corpus) / np.multiply.outer(
        fold_norm(anchors), fold_norm(corpus)
    )
    not_self = np.not_equal.outer(a_ids, c_ids)
    same = np.equal.outer(a_lbl, c_lbl)
    rows = []
    for role, mask, k in (("pos", same, n_pos), ("neg", ~same, k_neg)):
        ranked = _topk(raw, c_ids, mask & not_self, k)
        for a, rk in zip(a_ids, ranked):
            rows.extend([int(a), n, role, s, r + 1] for r, (s, n) in enumerate(rk))
    return rows


def unit_rows(a: np.ndarray) -> np.ndarray:
    a = np.asarray(a, dtype=np.float64)
    n = fold_norm(a)
    return np.where(n[:, None] > 0, a / np.where(n > 0, n, 1.0)[:, None], a)


def knn_join_ref(vecs, ids, centroids, k, nprobe):
    ucent = []
    for c in centroids:  # driver-side normalisation, in plain Python floats
        acc = 0.0
        for x in c:
            acc += float(x) * float(x)
        n = math.sqrt(acc)
        ucent.append([float(x) / n for x in c])
    nv = unit_rows(vecs)
    cdots = fold_dot(nv, np.array(ucent))
    order = np.lexsort((np.broadcast_to(np.arange(len(ucent)), cdots.shape), -cdots))
    probes = order[:, :nprobe]
    home = probes[:, 0]
    raw = fold_dot(nv, nv)
    allowed = np.zeros(raw.shape, dtype=bool)
    for p in range(nprobe):
        allowed |= np.equal.outer(probes[:, p], home)
    allowed &= np.not_equal.outer(ids, ids)
    return int(allowed.sum()), [
        [int(q), n, s, r + 1]
        for q, ranked in zip(ids, _topk(raw, ids, allowed, k))
        for r, (s, n) in enumerate(ranked)
    ]


def _micro(sim: float) -> int:
    return int(Decimal(repr(sim * 1_000_000)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _div(a: int, b: int) -> int:
    """Integral division truncating toward zero (Spark ``div``)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def margin_ref(left, l_ids, right, r_ids, k, threshold=1_000_000):
    fwd = cosine_topk_ref(right, r_ids, left, l_ids, k, exclude_self=False)
    bwd = cosine_topk_ref(left, l_ids, right, r_ids, k, exclude_self=False)
    sums_a: dict[int, list] = {}
    sums_b: dict[int, list] = {}
    cands: dict[tuple, int] = {}
    for a, b, s, _ in fwd:
        m = _micro(s)
        sums_a.setdefault(a, []).append(m)
        cands[(a, b)] = max(cands.get((a, b), m), m)
    for b, a, s, _ in bwd:
        m = _micro(s)
        sums_b.setdefault(b, []).append(m)
        cands[(a, b)] = max(cands.get((a, b), m), m)
    mean_a = {a: _div(sum(v), len(v)) for a, v in sums_a.items()}
    mean_b = {b: _div(sum(v), len(v)) for b, v in sums_b.items()}
    rows = []
    for (a, b), sm in cands.items():
        if a not in mean_a or b not in mean_b:
            continue
        den = mean_a[a] + mean_b[b]
        if den <= 0:
            continue
        margin = _div(2 * sm * 1_000_000, den)
        if margin >= threshold:
            rows.append([a, b, sm, margin])
    return rows


def _write_shards(path: Path, ids, vecs, labels, shards: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir(parents=True, exist_ok=True)
    for s, part in enumerate(np.array_split(np.arange(len(ids)), shards)):
        flat = pa.array(vecs[part].reshape(-1), type=pa.float32())
        emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
            pa.list_(pa.float32())
        )
        cols = {"vec_id": pa.array(ids[part], type=pa.int64()), "embedding": emb}
        if labels is not None:
            cols["label"] = pa.array(labels[part], type=pa.int32())
        pq.write_table(pa.table(cols), path / f"part-{s:03d}.parquet")


def generate_embed(seed: int, out: Path) -> dict:
    size = SIZES["embed_mine"]
    rng = np.random.default_rng(seed)
    n, dim, n_lbl = size["n"], size["dim"], size["labels"]
    centers = rng.normal(0.0, 1.0, (n_lbl, dim))
    labels = rng.integers(0, n_lbl, n).astype(np.int32)
    vecs = (0.7 * centers[labels] + rng.normal(0.0, 1.0, (n, dim))).astype(np.float32)
    ids = np.arange(n, dtype=np.int64)
    _write_shards(out / "corpus", ids, vecs, labels, size["shards"])

    q_idx = np.sort(rng.choice(n, size["queries"], replace=False))
    a_idx = np.sort(rng.choice(n, size["anchors"], replace=False))
    knn_idx = np.arange(size["knn_n"])
    ml, mr = size["margin_left"], size["margin_right"]
    left = rng.normal(0.0, 1.0, (ml, dim)).astype(np.float32)
    right = rng.normal(0.0, 1.0, (mr, dim)).astype(np.float32)
    paired = int(min(ml, mr) * 0.8)
    right[:paired] = (left[:paired] + 0.5 * rng.normal(0.0, 1.0, (paired, dim))).astype(
        np.float32
    )
    l_ids = np.arange(ml, dtype=np.int64)
    r_ids = np.arange(mr, dtype=np.int64) + 1_000_000
    _write_shards(out / "left", l_ids, left, None, 4)
    _write_shards(out / "right", r_ids, right, None, 4)
    centroids = centers[rng.choice(n_lbl, size["nlist"], replace=False)].tolist()

    c64 = vecs.astype(np.float64)
    knn_pairs, knn_rows = knn_join_ref(
        c64[knn_idx], ids[knn_idx], centroids, size["k"], size["nprobe"]
    )
    expected = {
        "topk": cosine_topk_ref(c64, ids, c64[q_idx], ids[q_idx], size["k"]),
        "hard_neg": hard_negative_ref(
            c64, ids, labels, c64[a_idx], ids[a_idx], labels[a_idx],
            size["k_neg"], size["n_pos"],
        ),
        "knn": knn_rows,
        "margin": margin_ref(left, l_ids, right, r_ids, size["margin_k"]),
    }
    (out / "expected.json").write_text(json.dumps(expected))
    params = {
        "query_ids": ids[q_idx].tolist(),
        "anchor_ids": ids[a_idx].tolist(),
        "knn_max_id": int(size["knn_n"]),
        "centroids": centroids,
        **{k: size[k] for k in ("k", "k_neg", "n_pos", "nprobe", "margin_k")},
    }
    (out / "params.json").write_text(json.dumps(params))
    pairs = n * (size["queries"] + size["anchors"]) + 2 * ml * mr + knn_pairs
    return {
        "workload": "embed_mine",
        "seed": seed,
        "corpus": n,
        "dim": dim,
        "items": pairs,
        "input_bytes": int((n + ml + mr) * dim * 4),
        "expected_rows": {k: len(v) for k, v in expected.items()},
    }


def generate(workload: str, seed: int, cache_root: str | Path) -> tuple[Path, dict]:
    """Generate (or reuse) one workload's inputs; returns (dir, metadata)."""
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    # The generator's own source is part of the key: an edited generator
    # never reuses inputs it would no longer write.
    version = hashlib.sha1(Path(__file__).read_bytes()).hexdigest()[:10]
    out = Path(cache_root) / f"{workload}-{seed}-{version}"
    meta_path = out / "meta.json"
    if meta_path.exists():
        return out, json.loads(meta_path.read_text())
    tmp = Path(cache_root) / f".{out.name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    if workload == "embed_mine":
        meta = generate_embed(seed, tmp)
    else:
        meta = generate_extract(workload, seed, tmp)
    (tmp / "meta.json").write_text(json.dumps(meta, indent=1))
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out, meta


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])[1], indent=1))
