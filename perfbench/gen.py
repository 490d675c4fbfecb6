"""Seeded input generator for the benchmark.

Every table is synthesized from ``numpy.random.default_rng(seed)`` alone, with
the schemas and the measured shape of the engine's test tables
(``sf0.001``, ``sf0.01``, ``sf0.1``: TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings``). The program only ever sees the parquet
files written here. Same seed and scale give byte-identical files: values
come from one seeded generator, and pyarrow writes no timestamps into the
footer.

The shape, measured on the test tables and the same at all three scales:

- ``events``: one user per ten customers (15, 150, 1,500 users), 66.7
  events per user (1,000, 10,000, 100,000 events), users, item ids
  (``props`` = ``{"k": <0..99>}``, a 100-item catalog) and the five event
  types all uniform (the most popular item at sf0.1 has 1.2x the events of
  the least), ``value`` exponential with mean 50 (measured mean 49.9, sd
  49.6) rounded to cents, timestamps uniform over 30 days in event-id order.
- ``documents``: 10 to 99 words drawn uniformly from a 30-word vocabulary;
  5% of the documents (25 of 500, 250 of 5,000) are a copy of another one
  with the word ``dup`` appended, the near-duplicates the MinHash stages
  find; ``lang`` en 3/7 (measured 41%), the other four 1/7 each; ``source``
  ``src<doc_id mod 20>``; ``n_chars`` the text length.
- ``embeddings``: 64-dimensional unit vectors with no cluster structure (the
  ten label means have norm 0.07 over 2,000 vectors, what uniform
  directions give) and no near-duplicates (no pair with cosine above 0.9),
  labels uniform over ten classes.
- TPC-H columns uniform over the measured ranges and independent of each
  other (``l_shipdate`` of ``o_orderdate``, ``l_extendedprice`` of
  ``l_quantity``, ``l_linestatus`` of both); every foreign key resolves.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts of the test tables, by scale
SCALES = {
    "sf0.001": {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
                "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500},
    "sf0.01": {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
               "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500},
    "sf0.1": {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
              "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000},
}
CUSTOMERS_PER_USER = 10
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
ADJ = ["small", "red", "blue", "hot", "old", "large", "big", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "valve"]
WORDS = np.array(
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small big customer query order group "
    "filter stream vector".split()
)
LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
EMB_DIM = 64
N_ITEMS = 100  # item catalog width of the events table
DUP_SHARE = 20  # one document in twenty is a near-duplicate
_EPOCH_US = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def _write(path: Path, cols: dict) -> dict:
    table = pa.table(cols)
    pq.write_table(table, path, compression="snappy")
    return {"rows": table.num_rows, "bytes": path.stat().st_size}


def _props(items: np.ndarray) -> list[str]:
    return [f'{{"k": {int(i)}}}' for i in items]


def _events(rng: np.random.Generator, n_events: int, n_users: int, n_items: int) -> dict:
    ts = np.sort(rng.integers(0, 30 * _DAY_US, size=n_events))
    return {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(_EPOCH_US + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, size=n_events).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n_events)],
        "value": np.round(rng.exponential(50.0, size=n_events), 2),
        "props": _props(rng.integers(0, n_items, size=n_events)),
    }


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts = [" ".join(rng.choice(WORDS, size=int(rng.integers(10, 100)))) for _ in range(n)]
    dups = rng.choice(n, size=n // DUP_SHARE, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i, j in zip(dups, rng.choice(originals, size=len(dups))):
        texts[i] = texts[j] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.integers(0, len(LANGS), size=n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    vecs = rng.normal(0.0, 1.0, size=(n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, size=n).astype(np.int32),
    }


def _tpch(rng: np.random.Generator, n: dict[str, int]) -> dict[str, dict]:
    n_cust, n_supp, n_part = n["customer"], n["supplier"], n["part"]
    n_ord, n_li = n["orders"], n["lineitem"]
    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + rng.integers(0, 2404, size=n_ord).astype("timedelta64[D]")
    o_key = rng.integers(0, n_ord, size=n_li)
    p_key = rng.integers(0, n_part, size=n_li)
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    ship = (np.datetime64("1995-01-02", "us")
            + rng.integers(0, 2499, size=n_li).astype("timedelta64[D]"))
    return {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=n_cust), 2),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, size=n_cust)],
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, size=n_supp), 2),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{ADJ[a]} {NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, size=n_part), rng.integers(0, 8, size=n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
            "p_type": PART_TYPES[rng.integers(0, 6, size=n_part)],
            "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
            "p_retailprice": retail,
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, size=n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, size=n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, size=n_ord), 2),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, size=n_ord)],
        },
        "lineitem": {
            "l_orderkey": o_key.astype(np.int64),
            "l_partkey": p_key.astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, size=n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, size=n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, size=n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, size=n_li), 2),
            "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=n_li)],
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        },
    }


def write_sf(out_dir: str | Path, seed: int, scale: str) -> dict:
    """Write all ten tables at the row counts of test scale ``scale`` into
    ``out_dir`` and return the size record {table: {rows, bytes}}."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = SCALES[scale]
    tables = _tpch(rng, n)
    tables["events"] = _events(rng, n["events"], n["customer"] // CUSTOMERS_PER_USER, N_ITEMS)
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    return {name: _write(out / f"{name}.parquet", cols) for name, cols in tables.items()}


def digest(path: str | Path) -> str:
    """sha256 over every file under ``path`` (names and bytes, sorted)."""
    import hashlib

    h = hashlib.sha256()
    root = Path(path)
    for f in sorted(p for p in root.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()

