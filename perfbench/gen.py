"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical files. The program under test only ever sees the files.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np


def _simple_edges(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """``(m, 2)`` int64 array of distinct directed pairs without self-loops,
    in a canonical (sorted) row order."""
    keep = src != dst
    pairs = np.stack([src[keep], dst[keep]], axis=1).astype(np.int64)
    return np.unique(pairs, axis=0)


def planted_partition(
    seed: int,
    n_comm: int,
    comm_size: int,
    deg_in: float,
    deg_out: float,
) -> np.ndarray:
    """Undirected planted-partition graph as ``(m, 2)`` edges, ``src < dst``.

    ``n_comm`` communities of ``comm_size`` vertices; each vertex gets
    about ``deg_in`` neighbours inside its community and ``deg_out``
    outside it. Sizes and edge budgets are fixed, so seeds change only the
    wiring. Vertex ids are shuffled so that community membership is not
    readable from the id order."""
    rng = np.random.default_rng([seed, 1])
    n = n_comm * comm_size
    m_in = int(comm_size * deg_in / 2)
    base = np.repeat(np.arange(n_comm) * comm_size, m_in)
    a = base + rng.integers(0, comm_size, len(base))
    b = base + rng.integers(0, comm_size, len(base))
    m_out = int(n * deg_out / 2)
    c = rng.integers(0, n, m_out)
    d = rng.integers(0, n, m_out)
    cross = c // comm_size != d // comm_size
    src = np.concatenate([a, c[cross]])
    dst = np.concatenate([b, d[cross]])
    perm = rng.permutation(n)
    src, dst = perm[src], perm[dst]
    return _simple_edges(np.minimum(src, dst), np.maximum(src, dst))


def chung_lu(seed: int, n: int, avg_deg: float, gamma: float) -> np.ndarray:
    """Heavy-tailed Chung–Lu graph as directed ``(m, 2)`` edges.

    Expected degrees follow a power law with exponent ``gamma``, capped at
    ``sqrt(Σw)`` so that edge probabilities stay below one. Endpoints are
    drawn in proportion to the expected degree; duplicate pairs and
    self-loops are dropped."""
    rng = np.random.default_rng([seed, 2])
    w = (np.arange(n) + 10.0) ** (-1.0 / (gamma - 1.0))
    w *= avg_deg * n / w.sum()
    w = np.minimum(w, np.sqrt(w.sum()))
    p = w / w.sum()
    m = int(n * avg_deg / 2)
    src = rng.choice(n, m, p=p)
    dst = rng.choice(n, m, p=p)
    perm = rng.permutation(n)
    return _simple_edges(perm[src], perm[dst])


def write_snap(edges: np.ndarray, path: str, comment: str) -> None:
    """SNAP text format: ``# comment`` header, then ``"<src> <dst>"`` lines."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(f"# {comment}\n")
        np.savetxt(f, edges, fmt="%d", delimiter=" ")


# ---------------------------------------------------------------------------
# Relational tables for the query board: the star schema the registry's
# queries read (region … embeddings), with value ranges and categorical
# domains matching the repository's sf-scaled test tables.
# ---------------------------------------------------------------------------

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_PART_ADJ = "red new hot small cold large old big".split()
_PART_NOUN = "bolt anvil ring rod plate gear widget nut".split()


def _ts(base: dt.datetime, seconds: np.ndarray) -> np.ndarray:
    return np.datetime64(base, "us") + (seconds * 1e6).astype("timedelta64[us]")


def tables(seed: int, sf: float) -> dict:
    """``{name: pyarrow.Table}`` for the ten registry tables at scale ``sf``
    (sf 0.1 ≈ 600k lineitem rows)."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 3])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = 5000 if sf >= 0.05 else 1000
    n_emb = 2000
    out = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": ptypes[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }
    )
    day = 86400.0
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _ts(
                dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord) * day
            ),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    partkey = rng.integers(0, n_part, n_li)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(
                qty * (900.0 + (partkey % 1000) * 0.1) * rng.uniform(0.5, 2.1, n_li), 2
            ),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(
                dt.datetime(1995, 1, 2), rng.integers(0, 2499, n_li) * day
            ),
        }
    )
    ev_secs = np.sort(rng.uniform(0, 30 * day, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(dt.datetime(2024, 1, 1), ev_secs),
            "user_id": rng.integers(0, max(15, n_ev // 66), n_ev),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n_ev)
            ],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = []
    for _ in range(n_doc):
        texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), rng.integers(8, 90))]))
    # planted near-duplicates (one appended token) and exact duplicates,
    # so the dedup queries have something to find
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[(i + 1) % n_doc] + " dup"
    for i in rng.choice(n_doc, 8, replace=False):
        texts[i] = texts[(i + 2) % n_doc]
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centers[label] + rng.normal(scale=1.5, size=(n_emb, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
