"""Seeded input generator for the benchmark workloads.

Writes the canonical table set (``region`` .. ``embeddings``) with the
schema, types and value distributions of the engine's sf-scaled test
tables: TPC-H-like uniform keys and measures, a 30-day event stream
and a synthetic text corpus in which one document in twenty is a
near-duplicate of an earlier one.

The seed fixes every random draw: row values, row order within each
file, file split points of the lake layout, and which orders are held
back as incremental drops. The same (workload, seed) always yields the
same files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
EMB_DIM = 64
# bump when a change to this file changes the generated data
_GEN_VERSION = 1

EPOCH = np.datetime64("1970-01-01", "D")
ORDER_DAYS = (np.datetime64("1995-01-01"), np.datetime64("2001-08-01"))
SHIP_DAYS = (np.datetime64("1995-01-02"), np.datetime64("2001-11-04"))
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


@dataclass(frozen=True)
class Layout:
    """How one workload's inputs are sized and laid out on disk.

    ``sf`` scales every table like the TPC-H scale factor (sf 0.1 is
    600k lineitem rows). ``lake`` splits the fact tables into
    ``files`` parquet files of several row groups each, with seeded
    split points; otherwise each table is one file with one row group.
    ``drops`` orders batches are held back from ``orders`` and written
    under ``drops/`` for incremental loading.
    """
    sf: float
    tables: tuple[str, ...]
    lake: bool = False
    files: int = 1
    row_groups_per_file: int = 1
    drops: int = 0
    drop_share: float = 0.0


def _days(rng, lo, hi, n):
    span = int((hi - lo).astype(int))
    d = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)], pa.string())


def _ids(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _region(rng, sizes):
    names = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(names, pa.string())})


def _nation(rng, sizes):
    keys = np.arange(25, dtype=np.int32)
    return pa.table({"n_nationkey": keys,
                     "n_name": pa.array([f"NATION_{k}" for k in keys]),
                     "n_regionkey": keys % 5})


def _customer(rng, sizes):
    n = sizes["customer"]
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": _ids("Customer", n),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})


def _supplier(rng, sizes):
    n = sizes["supplier"]
    return pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": _ids("Supplier", n),
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})


def _part(rng, sizes):
    n = sizes["part"]
    keys = np.arange(n, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return pa.table({
        "p_partkey": keys,
        "p_name": _pick(rng, names, n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})


def _orders(rng, sizes):
    n = sizes["orders"]
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, sizes["customer"], n).astype(np.int64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, *ORDER_DAYS, n),
        "o_orderpriority": _pick(rng, PRIORITIES, n)})


def _lineitem(rng, sizes, orderkeys):
    n = sizes["lineitem"]
    return pa.table({
        "l_orderkey": rng.choice(orderkeys, n).astype(np.int64),
        "l_partkey": rng.integers(0, sizes["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, sizes["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _days(rng, *SHIP_DAYS, n)})


def _events(rng, sizes):
    n = sizes["events"]
    ts = np.sort(rng.integers(0, EVENTS_SPAN_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(EVENTS_START + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, sizes["users"], n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string())})


def _documents(rng, sizes):
    """Bag-of-words documents of 10-100 tokens; one in twenty repeats
    an earlier document's text with a trailing ``dup`` token, the
    near-duplicate share the dedup operators are built to find."""
    n = sizes["documents"]
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    is_dup = rng.random(n) < 0.05
    is_dup[0] = False
    sources = rng.integers(0, np.arange(n) + 1)  # any earlier doc
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    pos = 0
    for i in range(n):
        k = int(lengths[i])
        if is_dup[i] and sources[i] < i:
            texts.append(texts[int(sources[i])] + " dup")
        else:
            texts.append(" ".join(vocab[words[pos:pos + k]]))
        pos += k
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": doc_id,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in doc_id], pa.string()),
        "n_chars": np.fromiter((len(t) for t in texts), np.int64, n)})


def _embeddings(rng, sizes):
    n = sizes["embeddings"]
    v = rng.standard_normal((n, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)),
            flat),
        "label": rng.integers(0, 10, n).astype(np.int32)})


def table_sizes(sf: float) -> dict[str, int]:
    return {"customer": int(150_000 * sf), "supplier": int(10_000 * sf),
            "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
            "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
            "users": int(15_000 * sf), "documents": int(50_000 * sf),
            "embeddings": int(20_000 * sf)}


_BUILDERS = {"region": _region, "nation": _nation, "customer": _customer,
             "supplier": _supplier, "part": _part, "orders": _orders,
             "events": _events, "documents": _documents,
             "embeddings": _embeddings}

FACT_TABLES = ("orders", "lineitem", "events", "documents", "embeddings")


def _write(table: pa.Table, path: Path, rng, layout: Layout,
           name: str) -> None:
    """Write ``table`` after a seeded row permutation. Lake-layout fact
    tables become a directory of ``files`` files cut at seeded split
    points; everything else is a single one-row-group file."""
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    if not (layout.lake and name in FACT_TABLES):
        pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
        return
    path.mkdir()
    n = table.num_rows
    cuts = np.sort(rng.choice(np.arange(1, n), layout.files - 1,
                              replace=False))
    bounds = [0, *cuts.tolist(), n]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        part = table.slice(lo, hi - lo)
        rg = max(1, -(-part.num_rows // layout.row_groups_per_file))
        pq.write_table(part, path / f"part-{i:05d}.parquet",
                       row_group_size=rg)


def generate(out_dir: Path, layout: Layout, seed: int) -> dict:
    """Write every table of ``layout`` under ``out_dir`` (replacing it)
    and return a manifest: row counts per table and per drop file."""
    rng = np.random.default_rng(seed)
    sizes = table_sizes(layout.sf)
    tmp = out_dir.with_name(out_dir.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    rows: dict[str, int] = {}
    drops: dict[str, int] = {}
    orders = _orders(rng, sizes)
    if layout.drops:
        held = rng.random(orders.num_rows) < layout.drop_share
        drop_of = rng.integers(0, layout.drops, orders.num_rows)
        (tmp / "drops").mkdir()
        for k in range(layout.drops):
            mask = pa.array(held & (drop_of == k))
            f = tmp / "drops" / f"drop-{k:03d}.parquet"
            drop = orders.filter(mask)
            pq.write_table(drop, f)
            drops[f"drops/{f.name}"] = drop.num_rows
        orders = orders.filter(pa.array(~held))
    for name in layout.tables:
        if name == "orders":
            table = orders
        elif name == "lineitem":
            table = _lineitem(rng, sizes, orders["o_orderkey"].to_numpy())
        else:
            table = _BUILDERS[name](rng, sizes)
        _write(table, tmp / f"{name}.parquet", rng, layout, name)
        rows[name] = table.num_rows
    manifest = {"seed": seed, "sf": layout.sf, "rows": rows, "drops": drops}
    (tmp / "manifest.json").write_text(json.dumps(manifest))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return manifest


def cached(root: Path, workload: str, layout: Layout, seed: int,
           keep: int = 6) -> tuple[Path, dict]:
    """Generate (workload, seed) under ``root`` unless already there;
    keep only the ``keep`` most recently used input sets."""
    key = hashlib.sha1(repr((layout, _GEN_VERSION)).encode()).hexdigest()
    out = root / f"{workload}-seed{seed}-{key[:10]}"
    mf = out / "manifest.json"
    if mf.is_file():
        manifest = json.loads(mf.read_text())
        os.utime(mf)
    else:
        manifest = generate(out, layout, seed)
    sets = sorted((p for p in root.iterdir()
                   if (p / "manifest.json").is_file()),
                  key=lambda p: (p / "manifest.json").stat().st_mtime)
    for old in sets[:-keep]:
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out, manifest
