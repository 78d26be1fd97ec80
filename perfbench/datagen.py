"""Deterministic synthetic inputs for the benchmark, generated from a seed.

Writes the ten tables the engine reads (``region nation customer supplier
part orders lineitem events documents embeddings``) as one parquet file
each, with the schemas and value distributions of the repository's test
fixtures (FIXTURES.md): a TPC-H-like star schema, a 30-day event stream,
word-salad documents with ~5% planted near-duplicates, and unit-norm
64-dimensional embeddings. Row counts depend only on ``scale`` (the
fixture's scale factor), so every seed gives the same amount of work;
values depend only on ``seed``.

    python3 perfbench/datagen.py OUT_DIR --seed 7 --scale 0.01
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
NEAR_DUP_SHARE = 0.05


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at a fixture scale factor (FIXTURES.md row counts)."""
    orders = max(100, round(1_500_000 * scale))
    return {
        "region": 5,
        "nation": 25,
        "supplier": max(10, round(10_000 * scale)),
        "customer": max(50, round(150_000 * scale)),
        "part": max(100, round(200_000 * scale)),
        "orders": orders,
        "lineitem": 4 * orders,
        "events": max(200, round(1_000_000 * scale)),
        "documents": max(500, round(50_000 * scale)),
        "embeddings": max(500, round(20_000 * scale)),
    }


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    days = lo + rng.integers(0, int((hi - lo) / np.timedelta64(1, "D")) + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < NEAR_DUP_SHARE:
            # planted near-duplicate: an earlier text plus one token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    return pa.table(
        {
            "doc_id": _keys(n),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": _keys(n),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """Build every table in memory; the same (seed, scale) gives the same bytes."""
    rng = np.random.default_rng(seed)
    n = row_counts(scale)
    n_users = max(10, n["customer"] // 10)
    ts0 = np.datetime64("2024-01-01", "us")
    span_us = 30 * 86_400 * 1_000_000
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": _keys(n["supplier"]),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": _keys(n["customer"]),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": _keys(n["part"]),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n["part"], 2))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
                "p_type": _pick(rng, PART_TYPES, n["part"]),
                "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
                "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": _keys(n["orders"]),
                "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"])),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n["orders"]),
                "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n["orders"]),
                "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"])),
                "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"])),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"])),
                "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]).astype(np.int32)),
                "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105000, n["lineitem"]),
                "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
                "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
                "l_returnflag": _pick(rng, ("A", "N", "R"), n["lineitem"]),
                "l_linestatus": _pick(rng, ("F", "O"), n["lineitem"]),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n["lineitem"]),
            }
        ),
        "events": pa.table(
            {
                "event_id": _keys(n["events"]),
                "ts": pa.array(
                    ts0 + np.sort(rng.integers(0, span_us, n["events"])).astype("timedelta64[us]"),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, n_users, n["events"])),
                "event_type": _pick(rng, EVENT_TYPES, n["events"]),
                "value": np.maximum(0.01, np.round(rng.exponential(50.0, n["events"]), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]),
            }
        ),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, dict[str, int]]:
    """Write every table to ``out_dir/<table>.parquet``; return rows and bytes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in make_tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return sizes


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--scale", type=float, default=0.01)
    args = ap.parse_args()
    for name, info in write_tables(args.out_dir, args.seed, args.scale).items():
        print(f"{name}: {info['rows']} rows, {info['bytes']} bytes")


if __name__ == "__main__":
    main()
