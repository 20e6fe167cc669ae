"""Seeded input generation for the benchmark.

Two kinds of input, both written under a per-seed directory:

- ``tables(out_dir, seed, sf)``: the TPC-H-shaped star schema plus the
  ``events`` table, one parquet file each, with the
  column names, types and value domains of the engine's fixture tables
  (uniform keys and measures, the same categorical vocabularies, dates in
  the same ranges). ``sf`` scales the row counts as the fixtures do
  (lineitem = 6,000,000 x sf).
- ``text_corpus(out_dir, seed, ...)``: ``pg-*.txt`` files for the
  MapReduce plugins. Words are a Zipf draw
  over a generated vocabulary, with mixed case, punctuation, digits and
  non-ASCII letters, so keys are skewed and tokenization has work to do.

The same seed always gives byte-identical files. numpy and pyarrow only:
no Spark session is needed to make inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "green", "hot", "large", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "spring", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# Rows per unit scale factor, as in the fixture tables.
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _days(rng: np.random.Generator, n: int, first: dt.date, last: dt.date) -> np.ndarray:
    span = (last - first).days + 1
    start = np.datetime64(first, "D")
    return (start + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), values).cast(pa.string())


def tables(out_dir: str, seed: int, sf: float, names: tuple[str, ...]) -> dict[str, str]:
    """Write the named tables for ``seed`` at scale ``sf``; return name -> path.

    Each table draws from its own child generator, so the rows of one
    table do not depend on which other tables were requested."""
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(10, int(round(r * sf))) for t, r in ROWS_PER_SF.items()}
    children = dict(
        zip(sorted(ROWS_PER_SF) + ["nation", "region"], np.random.SeedSequence(seed).spawn(8))
    )

    def build(name: str) -> pa.Table:
        rng = np.random.default_rng(children[name])
        if name == "region":
            return pa.table(
                {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
            )
        if name == "nation":
            keys = list(range(25))
            return pa.table(
                {
                    "n_nationkey": pa.array(keys, pa.int32()),
                    "n_name": [f"NATION_{k}" for k in keys],
                    "n_regionkey": pa.array([k % 5 for k in keys], pa.int32()),
                }
            )
        rows = n[name]
        keys = np.arange(rows, dtype=np.int64)
        if name == "customer":
            return pa.table(
                {
                    "c_custkey": keys,
                    "c_name": [f"Customer#{k:09d}" for k in keys],
                    "c_nationkey": rng.integers(0, 25, rows).astype(np.int32),
                    "c_acctbal": _money(rng, rows, -999.99, 9999.99),
                    "c_mktsegment": _pick(rng, SEGMENTS, rows),
                }
            )
        if name == "supplier":
            return pa.table(
                {
                    "s_suppkey": keys,
                    "s_name": [f"Supplier#{k:09d}" for k in keys],
                    "s_nationkey": rng.integers(0, 25, rows).astype(np.int32),
                    "s_acctbal": _money(rng, rows, -999.99, 9999.99),
                }
            )
        if name == "part":
            names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
            return pa.table(
                {
                    "p_partkey": keys,
                    "p_name": _pick(rng, names, rows),
                    "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], rows),
                    "p_type": _pick(rng, PART_TYPES, rows),
                    "p_size": rng.integers(1, 51, rows).astype(np.int32),
                    "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
                }
            )
        if name == "orders":
            return pa.table(
                {
                    "o_orderkey": keys,
                    "o_custkey": rng.integers(0, n["customer"], rows),
                    "o_orderstatus": _pick(rng, ["F", "O", "P"], rows),
                    "o_totalprice": _money(rng, rows, 1000.0, 500000.0),
                    "o_orderdate": _days(rng, rows, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                    "o_orderpriority": _pick(rng, PRIORITIES, rows),
                }
            )
        if name == "lineitem":
            return pa.table(
                {
                    "l_orderkey": rng.integers(0, n["orders"], rows),
                    "l_partkey": rng.integers(0, n["part"], rows),
                    "l_suppkey": rng.integers(0, n["supplier"], rows),
                    "l_linenumber": rng.integers(1, 8, rows).astype(np.int32),
                    "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
                    "l_extendedprice": _money(rng, rows, 900.0, 105000.0),
                    "l_discount": rng.integers(0, 11, rows) / 100.0,
                    "l_tax": rng.integers(0, 9, rows) / 100.0,
                    "l_returnflag": _pick(rng, ["A", "N", "R"], rows),
                    "l_linestatus": _pick(rng, ["F", "O"], rows),
                    "l_shipdate": _days(rng, rows, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
                }
            )
        if name == "events":
            start = np.datetime64("2024-01-01T00:00:00", "us")
            offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, rows))
            return pa.table(
                {
                    "event_id": keys,
                    "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
                    "user_id": rng.integers(0, max(10, rows // 67), rows),
                    "event_type": _pick(rng, EVENT_TYPES, rows),
                    "value": np.round(rng.exponential(50.0, rows), 2),
                    "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
                }
            )
        raise KeyError(name)

    paths = {}
    for name in names:
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(build(name), path)
        paths[name] = path
    return paths


_LETTERS = list("abcdefghijklmnopqrstuvwxyz") * 6 + list("éèüöäñçøåßíó")
_PUNCT = [",", ".", ";", ":", "!", "?", "—", "'s", ")"]


def text_corpus(
    out_dir: str,
    seed: int,
    n_files: int,
    words_per_file: int,
    vocab_size: int = 50_000,
    zipf_s: float = 1.1,
) -> list[str]:
    """Write ``n_files`` ``pg-*.txt`` files into ``out_dir``; return their
    paths. Total size is about 6.5 bytes x words."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
    lengths = rng.integers(2, 12, vocab_size)
    letters = np.array(_LETTERS)[rng.integers(0, len(_LETTERS), int(lengths.sum()))]
    vocab = np.array(["".join(w) for w in np.split(letters, np.cumsum(lengths)[:-1])])
    weights = 1.0 / np.arange(1, vocab_size + 1) ** zipf_s
    weights /= weights.sum()
    paths = []
    for f in range(n_files):
        words = vocab[rng.choice(vocab_size, size=words_per_file, p=weights)].astype(object)
        style = rng.random(words_per_file)
        words[style < 0.08] = [w.capitalize() for w in words[style < 0.08]]
        words[style > 0.98] = [w.upper() for w in words[style > 0.98]]
        punct = rng.random(words_per_file) < 0.1
        words[punct] = [w + _PUNCT[i] for w, i in zip(words[punct], rng.integers(0, len(_PUNCT), punct.sum()))]
        digits = rng.random(words_per_file) < 0.01
        words[digits] = [str(d) for d in rng.integers(0, 2000, digits.sum())]
        lines = [" ".join(words[i : i + 12]) for i in range(0, words_per_file, 12)]
        path = os.path.join(out_dir, f"pg-{f:05d}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths
