"""Seeded input generators. The same seed gives the same inputs; the
program under test only ever receives what these functions return.

- ``EmitGen``: raw emit calls for the ingest path (live_tail, replay):
  a seeded mix of the four resource types with 0-3 object groups each,
  touching a few Zipf-popular projects per call, sized to a fixed
  routed-row count. It also predicts, by the routing fan-out
  arithmetic, how many routed rows each call produces per project.
- ``write_tables``: the star-schema, events, documents and embeddings
  tables the batch queries read, with the column types and value
  shapes of the shipped test data (two-decimal money, ``{"k": n}``
  props, a 31-word document vocabulary with planted near-duplicates,
  unit-norm 64-d embeddings).
"""

from __future__ import annotations

import datetime
import os

import numpy as np

PROJECT, COLLECTION, OBJECT, OBJECT_GROUP = 1, 2, 3, 4
TOKEN = "t"
TOUCH = 4  # projects per emit call
COLLECTIONS = 8  # per project
OBJECTS = 6  # object ids per project, reused so exact object-group subjects recur
ZIPF_S = 1.1  # project popularity exponent


def project_name(i: int) -> str:
    return f"p{i:02d}"


class EmitGen:
    """Emit calls for ``n_projects`` projects with Zipf(``ZIPF_S``)
    popularity. Each call touches ``TOUCH`` distinct projects."""

    def __init__(self, seed: int, n_projects: int):
        self.rng = np.random.default_rng(seed)
        self.n_projects = n_projects
        w = 1.0 / np.arange(1, n_projects + 1) ** ZIPF_S
        self.weights = w / w.sum()

    def call(self, call_id: int, routed: int) -> tuple[list[tuple], dict[str, int]]:
        """One emit call whose emits route to exactly ``routed`` rows:
        the raw rows (``RAW_EMITS_SCHEMA`` order) and the routed-row
        count each project receives. An emit whose fan-out would
        overshoot becomes a project or collection emit (fan-out 1)."""
        rng = self.rng
        projects = rng.choice(self.n_projects, size=TOUCH, replace=False, p=self.weights)
        rows, per_project, total = [], {}, 0
        while total < routed:
            i = len(rows)
            p = project_name(int(projects[rng.integers(TOUCH)]))
            rtype = int(rng.integers(1, 5))
            event_type = int(rng.integers(1, 6))
            coll = f"c{rng.integers(COLLECTIONS)}"
            shared = f"s{rng.integers(3)}"
            groups = [(f"g{rng.integers(4)}",) for _ in range(int(rng.integers(4)))]
            fanout = {PROJECT: 1, COLLECTION: 1, OBJECT: len(groups) + 1,
                      OBJECT_GROUP: len(groups)}[rtype]
            if total + fanout > routed:
                rtype, fanout = PROJECT + i % 2, 1
            rid = {PROJECT: p, COLLECTION: coll}.get(rtype, f"o{rng.integers(OBJECTS)}")
            relation = (p, coll, shared, groups)
            rows.append((call_id * 100_000 + i, TOKEN, rtype, rid, event_type, [relation]))
            if fanout:
                per_project[p] = per_project.get(p, 0) + fanout
                total += fanout
        return rows, per_project


# ------------------------------------------------------------ batch tables

VOCAB = (
    "a agg batch big column customer data filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window fast"
).split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
P_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, built from integer cents so they are exact."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    a = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - a).astype(int)
    return (a + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _documents(rng, n: int) -> dict:
    """Random-word documents; 5% are an earlier original plus a marker
    word (near-duplicates) and 0.2% exact copies of one. Copies are
    only ever made of originals, so every duplicate cluster is a star
    and the dedup graph has the same depth whatever the seed."""
    texts, originals = [], []
    for i in range(n):
        r = rng.random()
        if originals and r < 0.05:
            texts.append(texts[originals[int(rng.integers(len(originals)))]] + " dup")
        elif originals and r < 0.052:
            texts.append(texts[originals[int(rng.integers(len(originals)))]])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(len(VOCAB), size=k)))
            originals.append(i)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), size=n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every batch table as ``<out_dir>/<name>.parquet``; returns
    the row count per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf), "embeddings": int(20_000 * sf),
    }
    tables: dict[str, dict] = {}
    tables["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
    }
    tables["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    c = n["customer"]
    tables["customer"] = {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(25, size=c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(5, size=c)],
    }
    s = n["supplier"]
    tables["supplier"] = {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(25, size=s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    }
    p = n["part"]
    tables["part"] = {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(8, size=(p, 2))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, size=p)],
        "p_type": [P_TYPES[j] for j in rng.integers(6, size=p)],
        "p_size": rng.integers(1, 51, size=p).astype(np.int32),
        "p_retailprice": (90_000 + np.arange(p) % 1000 * 10) / 100.0,
    }
    o = n["orders"]
    tables["orders"] = {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(c, size=o),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(3, size=o)],
        "o_totalprice": _money(rng, 1000, 500_000, o),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(5, size=o)],
    }
    li = n["lineitem"]
    qty = rng.integers(1, 51, size=li).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": rng.integers(o, size=li),
        "l_partkey": rng.integers(p, size=li),
        "l_suppkey": rng.integers(s, size=li),
        "l_linenumber": rng.integers(1, 8, size=li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900, 105_000, li),
        "l_discount": rng.integers(0, 11, size=li) / 100.0,
        "l_tax": rng.integers(0, 9, size=li) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(3, size=li)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(2, size=li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li),
    }
    e = n["events"]
    start = np.datetime64(datetime.datetime(2024, 1, 1), "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, size=e))
    tables["events"] = {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(int(15_000 * sf), size=e),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(5, size=e)],
        "value": np.maximum(np.round(rng.exponential(50, size=e), 2), 0.01),
        "props": [f'{{"k": {j}}}' for j in rng.integers(100, size=e)],
    }
    tables["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    vec = rng.standard_normal((m, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(10, size=m).astype(np.int32),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}
