"""Deterministic inputs for the benchmark.

Two kinds of input, both written as Parquet with pyarrow (no Spark):

* ``write_tables(out_dir, sf, seed)`` — the ten-table star schema the
  query registry reads (``catalog.TABLES``), in the shape of the TPC-H-ish
  test tiers: same column names, types and value domains, one file and one
  row group per table.  The queries workload uses one fixed base, so the
  DuckDB oracle results can be cached across runs.
* ``write_etl_input(out_dir, base_dir, seed, replicas, n_files)`` — the
  medallion pipeline's input: ``replicas`` copies of the base lineitem,
  each with a seeded ``l_orderkey`` offset, shuffled into a seeded row
  order and cut into ``n_files`` files at seeded split points.  Replicas
  keep every defect of the base rows, so the quarantine share is the
  base's (about 23.5 %: quantity above 45 or discount above 0.08), and
  the pipeline's 75 % governance gate passes.

The same arguments give byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
SHIP_DAYS = 2498  # 1995-01-02 .. 2001-11-04
EMBED_DIM = 64
N_CLUSTERS = 10
KEY_OFFSET = 100_000_000  # replica r's orderkeys live in [r * KEY_OFFSET, (r + 1) * KEY_OFFSET)


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf`` (sf0.1 = 600 k lineitem rows)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(50, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(100, int(200_000 * sf)),
        "orders": max(500, int(1_500_000 * sf)),
        "lineitem": max(2_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary; 5 % are near
    duplicates (an earlier document plus the token ``dup``) and a few are
    exact copies, so the dedup and span operators have clusters to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.053:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(len(WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(WORDS[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{k}" for k in np.arange(n) % 20], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 vectors around ``N_CLUSTERS`` centers; ``label`` is
    the center each vector was drawn from."""
    centers = rng.normal(size=(N_CLUSTERS, EMBED_DIM))
    labels = rng.integers(0, N_CLUSTERS, n)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    n = table_sizes(sf)
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array(_names("Customer", nc)),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array([SEGMENTS[k] for k in rng.integers(0, 5, nc)])})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array(_names("Supplier", ns)),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, ns))})
    npart = n["part"]
    pk = np.arange(npart)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npart)]),
        "p_type": pa.array([PART_TYPES[k] for k in rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pa.array([("F", "O", "P")[k] for k in rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, ORDER_DAYS, no) * DAY_US),
        "o_orderpriority": pa.array([PRIORITIES[k] for k in rng.integers(0, 5, no)])})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900.0, 104999.99, nl)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, nl), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, nl), 2)),
        "l_returnflag": pa.array([("A", "N", "R")[k] for k in rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array([("F", "O")[k] for k in rng.integers(0, 2, nl)]),
        "l_shipdate": _ts(EPOCH_1995 + DAY_US + rng.integers(0, SHIP_DAYS, nl) * DAY_US)})
    ne = n["events"]
    users = max(100, int(15_000 * sf))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": _ts(np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, users, ne), i64),
        "event_type": pa.array([EVENT_TYPES[k] for k in rng.integers(0, 5, ne)]),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(sf, seed).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def etl_layout(base_rows: int, seed: int, replicas: int, n_files: int):
    """The seeded choices behind one medallion input: per-replica orderkey
    offsets, the row permutation and the file cut points."""
    rng = np.random.default_rng([seed, 7])
    offsets = np.arange(replicas, dtype=np.int64) * KEY_OFFSET + rng.integers(
        0, KEY_OFFSET // 2, replicas)
    total = base_rows * replicas
    order = rng.permutation(total)
    inner = np.sort(rng.choice(np.arange(1, total), n_files - 1, replace=False))
    cuts = np.concatenate([[0], inner, [total]])
    return offsets, order, cuts


def write_etl_input(out_dir: str, base_dir: str, seed: int, replicas: int, n_files: int) -> int:
    """Write the pipeline's ``lineitem.parquet`` directory (``n_files``
    part files) plus the ``supplier`` and ``nation`` dims it joins, copied
    from ``base_dir``.  Returns the number of lineitem rows written."""
    base = pq.read_table(os.path.join(base_dir, "lineitem.parquet"))
    offsets, order, cuts = etl_layout(base.num_rows, seed, replicas, n_files)
    keys = base.column("l_orderkey").to_numpy()
    reps = pa.concat_tables([
        base.set_column(0, "l_orderkey", pa.array(keys + off, pa.int64())) for off in offsets
    ]).take(pa.array(order))
    li_dir = os.path.join(out_dir, "lineitem.parquet")
    os.makedirs(li_dir, exist_ok=True)
    for i in range(n_files):
        _write(reps.slice(cuts[i], cuts[i + 1] - cuts[i]), os.path.join(li_dir, f"part-{i:03d}.parquet"))
    for dim in ("supplier", "nation"):
        _write(pq.read_table(os.path.join(base_dir, f"{dim}.parquet")),
               os.path.join(out_dir, f"{dim}.parquet"))
    return reps.num_rows
