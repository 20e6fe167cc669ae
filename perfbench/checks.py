"""Output checks: each operation's result against an independent reference.

- Queries with an ``oracle_sql()`` entry: DuckDB over the same parquet files.
- The MapReduce plugins: a sequential pure-Python wc / ii over the same
  text files (the reference's ``mainseq``), compared with the KV text the
  sink wrote.
- Iterative queries without an oracle: small sequential references
  (numpy PageRank, Python k-core peeling).
"""

from __future__ import annotations

import collections
import datetime as dt
import decimal
import math
import os
import re

import numpy as np

# Relative tolerance for float cells. Both engines are designed to agree
# exactly; the slack only absorbs last-ulp summation order.
REL_TOL = 1e-9


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.replace(tzinfo=None)
    return v


def _key(row):
    return tuple((v is None, str(type(v).__name__) if v is not None else "", v if v is not None else 0) for v in row)


def _cells_equal(a, b, abs_tol: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=abs_tol)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_equal(x, y, abs_tol) for x, y in zip(a, b))
    return a == b


def compare_rows(cols_a, rows_a, cols_b, rows_b, abs_tol: float = 0.0) -> str | None:
    """Order-insensitive comparison of two results by column name.
    Returns None when equal, else a one-line description."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns differ: {sorted(cols_a)} vs {sorted(cols_b)}"
    names = sorted(cols_a)
    ia = [list(cols_a).index(c) for c in names]
    ib = [list(cols_b).index(c) for c in names]
    ra = sorted((tuple(_norm(r[i]) for i in ia) for r in rows_a), key=_key)
    rb = sorted((tuple(_norm(r[i]) for i in ib) for r in rows_b), key=_key)
    if len(ra) != len(rb):
        return f"row count {len(ra)} vs {len(rb)}"
    for x, y in zip(ra, rb):
        if not all(_cells_equal(p, q, abs_tol) for p, q in zip(x, y)):
            return f"first differing row {x} vs {y}"
    return None


def spark_rows(df):
    return list(df.columns), [tuple(r) for r in df.collect()]


def duckdb_rows(con, sql: str):
    rel = con.sql(sql)
    return list(rel.columns), rel.fetchall()


# -- MapReduce: the reference's sequential oracle ---------------------------

_LETTER_RUN = re.compile(r"[^\W\d_]+")


def sequential_mapreduce(paths: list[str]) -> tuple[dict[str, str], dict[str, str]]:
    """Word count and inverted index over whole files, one pass each, as
    the reference's sequential driver computes them."""
    counts: collections.Counter[str] = collections.Counter()
    postings: dict[str, set[str]] = collections.defaultdict(set)
    for path in paths:
        name = os.path.basename(path)
        with open(path, encoding="utf-8") as fh:
            words = _LETTER_RUN.findall(fh.read().lower())
        counts.update(words)
        for w in set(words):
            postings[w].add(name)
    wc = {k: str(v) for k, v in counts.items()}
    ii = {k: ",".join(sorted(v)) for k, v in postings.items()}
    return wc, ii


def read_sink_dir(path: str) -> list[tuple[str, str]]:
    """Parse a sorted-KV text sink directory into (key, value) pairs and
    check each part file is sorted by key."""
    pairs: list[tuple[str, str]] = []
    for name in sorted(os.listdir(path)):
        if not name.startswith("part-"):
            continue
        with open(os.path.join(path, name), encoding="utf-8") as fh:
            part = [tuple(line.rstrip("\n").split(" ", 1)) for line in fh if line.strip()]
        keys = [k for k, _ in part]
        if keys != sorted(keys):
            raise AssertionError(f"{name} is not sorted by key")
        pairs.extend(part)
    return pairs


def check_kv(path: str, expected: dict[str, str]) -> str | None:
    got = read_sink_dir(path)
    if len(got) != len({k for k, _ in got}):
        return "duplicate keys across part files"
    got_map = dict(got)
    if got_map == expected:
        return None
    missing = expected.keys() - got_map.keys()
    extra = got_map.keys() - expected.keys()
    wrong = [k for k in expected.keys() & got_map.keys() if expected[k] != got_map[k]]
    return f"{len(missing)} missing, {len(extra)} extra, {len(wrong)} wrong of {len(expected)} keys"


# -- iterative references ---------------------------------------------------

COPURCHASE_PAIRS_SQL = """
SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""


def _undirected_edges(con) -> np.ndarray:
    return np.array(con.sql(COPURCHASE_PAIRS_SQL).fetchall(), dtype=np.int64).reshape(-1, 2)


def pagerank_reference(con, damping: float = 0.85, n_iter: int = 10):
    """(part_id, out_deg, rank) with a plain numpy power iteration from the
    uniform start, no dangling nodes (every node has an edge)."""
    und = _undirected_edges(con)
    src = np.concatenate([und[:, 0], und[:, 1]])
    dst = np.concatenate([und[:, 1], und[:, 0]])
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src) :]
    n = len(nodes)
    deg = np.bincount(s, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        mass = np.bincount(d, weights=rank[s] / deg[s], minlength=n)
        rank = (1.0 - damping) / n + damping * mass
    cols = ["part_id", "out_deg", "rank"]
    return cols, [(int(p), int(g), round(float(r), 6)) for p, g, r in zip(nodes, deg, rank)]


def kcore_reference(con, k: int = 3):
    adj: dict[int, set[int]] = collections.defaultdict(set)
    for a, b in _undirected_edges(con):
        adj[int(a)].add(int(b))
        adj[int(b)].add(int(a))
    queue = [v for v, ns in adj.items() if len(ns) < k]
    while queue:
        v = queue.pop()
        if v not in adj:
            continue
        for u in adj.pop(v):
            if u in adj:
                adj[u].discard(v)
                if len(adj[u]) < k:
                    queue.append(u)
    return ["part_id", "core_degree"], [(v, len(ns)) for v, ns in adj.items()]
