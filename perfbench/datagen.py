"""Seeded input generator for the benchmark.

Everything the package sees is made here from ``--seed`` alone: the
TPC-H-like star schema plus ``events``/``documents``/``embeddings`` tables
for ``query_mix``, the flat lineitem-like Parquet inputs for ``bulk_load``
and the nested arrival files for ``live_collection``.  The same seed gives
byte-identical inputs; sizes and layouts are drawn from fixed strata so
that the per-run mix of work is the same for every seed and only the
values, the order and small size jitters change.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.13, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
P_ADJ = ("small", "red", "blue", "hot", "cold", "big", "green", "shiny")
P_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "cog")
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")

_EPOCH = dt.datetime(1970, 1, 1)
_DAY_US = 86_400_000_000


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH) / dt.timedelta(microseconds=1))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str, row_group_size: int | None = None):
    pq.write_table(table, path, row_group_size=row_group_size)


def input_stats(path: str) -> dict:
    """Rows, bytes, files and row groups of a Parquet file or directory."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))
              if f.endswith(".parquet")] if os.path.isdir(path) else [path])
    rows = groups = size = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        groups += md.num_row_groups
        size += os.path.getsize(f)
    return {"rows": rows, "bytes": size, "files": len(files),
            "row_groups": groups}


# ---------------------------------------------------------------------------
# query_mix tables
# ---------------------------------------------------------------------------

def _lineitem(rng, orderkeys, orderdates_us, n_part, n_supp) -> pa.Table:
    lines = rng.integers(1, 8, len(orderkeys))
    ok = np.repeat(orderkeys, lines)
    od = np.repeat(orderdates_us, lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    n = len(ok)
    ship = od + rng.integers(1, 122, n) * _DAY_US
    cutoff = _us(dt.datetime(1998, 6, 17))
    return pa.table({
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 901.0, 104999.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.where(ship > cutoff, "O", "F")),
        "l_shipdate": _ts(ship),
    })


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:      # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.07:    # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            words = np.array(WORDS)[rng.integers(0, len(WORDS), k)]
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    x = 0.6 * centers[labels] + rng.normal(0.0, 0.125, (n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype("float32")
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim), pa.int32()),
        pa.array(x.ravel(), pa.float32()))
    return pa.table({"vec_id": pa.array(np.arange(n), pa.int64()),
                     "embedding": emb,
                     "label": pa.array(labels, pa.int32())})


def write_tables(out_dir: str, seed: int, scale: float) -> dict:
    """Write the ten query tables (one Parquet file each) into ``out_dir``.

    ``scale`` follows the TPC-H scale factor for the star schema (1.0 =
    6M lineitem rows); documents and embeddings stay at the fixed sizes
    the similarity and dedup operators are tuned for."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * scale), max(10, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_ev = int(1_000_000 * scale)
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[
                rng.integers(0, 5, n_cust)])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(
                rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                900.0 + (np.arange(n_part) % 1000) / 10.0)}),
    }
    start, end = _us(dt.datetime(1995, 1, 1)), _us(dt.datetime(2001, 8, 1))
    odate = start + rng.integers(0, (end - start) // _DAY_US, n_ord) * _DAY_US
    okeys = np.arange(n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, 5, n_ord)])})
    tables["lineitem"] = _lineitem(rng, okeys, odate, n_part, n_supp)
    ev_ts = np.sort(_us(dt.datetime(2024, 1, 1)) + rng.integers(
        0, 30 * _DAY_US, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[
            rng.integers(0, 5, n_ev)]),
        "value": pa.array(_money(rng, 0.01, 490.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)])})
    tables["documents"] = _documents(rng, 500)
    tables["embeddings"] = _embeddings(rng, 500)
    stats = {}
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(tbl, path)
        stats[name] = input_stats(path)
    return stats


# ---------------------------------------------------------------------------
# bulk_load inputs
# ---------------------------------------------------------------------------

# (layout, files, rows per file, row-group rows): one stratum per layout so
# every seed loads the same mix of shapes; the seed jitters sizes +-10 %.
LOAD_STRATA = (
    ("one_file_one_group", 1, 24_000, None),
    ("one_file_many_groups", 1, 24_000, 4_000),
    ("dir_many_small_files", 16, 1_500, None),
)


def lineitem_like(rng, n: int, key0: int) -> pa.Table:
    """Flat lineitem-shaped rows with globally unique ``l_orderkey``."""
    ship = _us(dt.datetime(1995, 1, 2)) + rng.integers(0, 2500, n) * _DAY_US
    return pa.table({
        "l_orderkey": pa.array(np.arange(key0, key0 + n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 901.0, 104999.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(ship),
        "l_comment": pa.array(np.array(WORDS)[rng.integers(0, len(WORDS), n)]),
    })


def write_load_inputs(out_dir: str, seed: int) -> list[dict]:
    """One input per stratum: ``[{"name", "path", "layout", **stats}]``."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    inputs, key0 = [], 0
    for layout, files, rows, group in LOAD_STRATA:
        path = os.path.join(out_dir, layout)
        jitter = rng.uniform(0.9, 1.1)
        if files == 1:
            n = int(rows * jitter)
            _write(lineitem_like(rng, n, key0), path + ".parquet", group)
            path += ".parquet"
            key0 += n
        else:
            os.makedirs(path)
            for i in range(files):
                n = int(rows * jitter * rng.uniform(0.5, 1.5))
                _write(lineitem_like(rng, n, key0),
                       os.path.join(path, f"part-{i:03d}.parquet"), group)
                key0 += n
        inputs.append({"name": layout, "path": path, "layout": layout,
                       **input_stats(path)})
    return inputs


def load_plan(seed: int, n: int, n_inputs: int) -> list[tuple[int, bool]]:
    """Seeded sequence of ``(input index, into a fresh collection)``: each
    block of ``n_inputs`` loads visits every input once in shuffled order,
    a third of the loads append to the previous collection."""
    rng = np.random.default_rng([seed, 3])
    plan = []
    while len(plan) < n:
        for i in rng.permutation(n_inputs):
            plan.append((int(i), bool(rng.random() >= 1 / 3)))
    return plan[:n]


# ---------------------------------------------------------------------------
# live_collection arrivals
# ---------------------------------------------------------------------------

_ODD = "tab\there \"q\" back\\slash \x01ctl \u2003em\u2003 \u2028ls \u20acuro"


def nested_schema() -> pa.Schema:
    return pa.schema([
        ("id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("title", pa.string()),
        ("score", pa.float64()),
        ("meta", pa.struct([("src", pa.string()), ("rank", pa.int32())])),
        ("embedding", pa.list_(pa.float32())),
        ("tags", pa.map_(pa.string(), pa.int64())),
        ("blob", pa.binary()),
    ])


def nested_rows(rng, n: int, id0: int, dim: int = 16) -> pa.Table:
    """Nested documents with every shape the fidelity encoder handles:
    struct, array<float>, map, binary, NaN/+-Inf, timestamps and strings
    with control and U+2000-block characters."""
    ids = np.arange(id0, id0 + n)
    score = np.round(rng.normal(0, 100, n), 3)
    special = rng.random(n)
    score[special < 0.02] = np.nan
    score[(special >= 0.02) & (special < 0.03)] = np.inf
    score[(special >= 0.03) & (special < 0.04)] = -np.inf
    words = np.array(WORDS)
    titles = [" ".join(words[rng.integers(0, len(words), 4)]) +
              (" " + _ODD if k % 7 == 0 else "") for k in ids]
    emb = rng.normal(0, 1, (n, dim)).astype("float32")
    ts = _us(dt.datetime(2024, 1, 1)) + rng.integers(0, 30 * _DAY_US, n)
    tags = [[(str(words[j]), int(v)) for j, v in zip(
        rng.integers(0, len(words), 2), rng.integers(0, 1000, 2))]
        for _ in range(n)]
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "ts": _ts(ts),
        "title": pa.array(titles),
        "score": pa.array(score),
        "meta": pa.StructArray.from_arrays(
            [pa.array([f"src{k % 5}" for k in ids]),
             pa.array(rng.integers(0, 100, n), pa.int32())],
            names=["src", "rank"]),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim), pa.int32()),
            pa.array(emb.ravel(), pa.float32())),
        "tags": pa.array(tags, pa.map_(pa.string(), pa.int64())),
        "blob": pa.array([rng.bytes(8) for _ in range(n)], pa.binary()),
    }, schema=nested_schema())


def write_arrivals(out_dir: str, seed: int, n_files: int,
                   rows: int) -> list[dict]:
    """Pre-build ``n_files`` arrival files in a staging dir; the workload
    moves each one into the watched directory when it is due."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    out, id0 = [], 0
    for i in range(n_files):
        n = int(rows * rng.uniform(0.8, 1.2))
        path = os.path.join(out_dir, f"drop-{i:05d}.parquet")
        _write(nested_rows(rng, n, id0), path)
        out.append({"path": path, "rows": n, "id0": id0,
                    "bytes": os.path.getsize(path)})
        id0 += n
    return out


def query_order(seed: int, names: list[str], passes: int) -> list[str]:
    """Seeded shuffle of the query names, one full permutation per pass."""
    rng = np.random.default_rng([seed, 5])
    return [names[i] for _ in range(passes)
            for i in rng.permutation(len(names))]
