"""Seeded input generation for the benchmark.

Every workload's inputs derive from the small TPC-H-shaped corpus in
``perfbench/corpus`` (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings) by a transformation that keeps
each query's meaning and only moves what a seed should move:

- keys are remapped by a seeded permutation inside blocks of ``BLOCK``
  consecutive keys, applied to every column of the same key domain, so
  joins keep their fan-out and literal range predicates in the queries
  (``user_id < 20``, ``doc_id % 50 = 0``) keep their selectivity;
- rows are shuffled, so scan order changes while every table stays one
  file, as the program's own source tables are;
- text, embeddings, dates and measures are untouched: the quality,
  near-duplicate and calendar logic sees the same statistics.

The program under test only ever sees the generated files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
BLOCK = 10
LANDING_FILES = 4

# key column -> (domain, the table whose key column defines the domain)
KEY_DOMAINS = {
    "c_custkey": "cust", "o_custkey": "cust", "user_id": "cust",
    "s_suppkey": "supp", "l_suppkey": "supp",
    "p_partkey": "part", "l_partkey": "part",
    "o_orderkey": "order", "l_orderkey": "order",
    "event_id": "event", "doc_id": "doc", "vec_id": "vec",
}
DOMAIN_KEY = {
    "cust": ("customer", "c_custkey"), "supp": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"), "order": ("orders", "o_orderkey"),
    "event": ("events", "event_id"), "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}


def _block_permutation(cap: int, rng: np.random.Generator) -> np.ndarray:
    perm = np.arange(cap, dtype=np.int64)
    for lo in range(0, cap, BLOCK):
        rng.shuffle(perm[lo:lo + BLOCK])
    return perm


def generate(seed: int) -> "dict[str, pa.Table]":
    """The seeded tables, in memory (same seed, same tables)."""
    rng = np.random.default_rng(seed)
    base = {t: pq.read_table(os.path.join(CORPUS, f"{t}.parquet")) for t in TABLES}
    perms = {}
    for dom in sorted(DOMAIN_KEY):
        table, col = DOMAIN_KEY[dom]
        cap = int(pc.max(base[table][col]).as_py()) + 1
        perms[dom] = pa.array(_block_permutation(cap, rng))
    out = {}
    for t in TABLES:
        tab = base[t]
        for i, name in enumerate(tab.column_names):
            if name in KEY_DOMAINS:
                col = tab[name]
                mapped = pc.take(perms[KEY_DOMAINS[name]], col).cast(col.type)
                tab = tab.set_column(i, tab.field(i), mapped)
        out[t] = tab.take(pa.array(rng.permutation(tab.num_rows)))
    return out


def write_source(tables: "dict[str, pa.Table]", src_dir: str) -> None:
    """Lay ``tables`` out the way the program reads a source dir:
    ``<src_dir>/<table>.parquet``."""
    for t, tab in tables.items():
        path = os.path.join(src_dir, f"{t}.parquet")
        os.makedirs(path)
        pq.write_table(tab, os.path.join(path, "part-00000.parquet"))


def event_dates(events: pa.Table) -> "list[dt.date]":
    days = pc.unique(pc.cast(events["ts"], pa.date32())).to_pylist()
    return sorted(days)


def split_increment(
    events: pa.Table, seed: int, last_days: int = 7, dup_share: float = 0.1
) -> "tuple[dt.date, pa.Table, pa.Table, list[pa.Table]]":
    """Split the events for the nightly increment.

    The seed picks the cutoff day among the last ``last_days`` days.
    Returns ``(cutoff, base, full, landing)``: the events before the
    cutoff, the events up to and including it (the from-scratch
    reference input), and the cutoff day's events as LANDING_FILES
    files, with ``dup_share`` of them re-delivered a second time in
    another file (exact copies, the at-least-once landing)."""
    rng = np.random.default_rng([seed, 1])
    days = event_dates(events)
    cutoff = days[-last_days:][int(rng.integers(last_days))]
    ev_date = pc.cast(events["ts"], pa.date32())
    cut = pa.scalar(cutoff, pa.date32())
    base = events.filter(pc.less(ev_date, cut))
    day = events.filter(pc.equal(ev_date, cut))
    full = pa.concat_tables([base, day])
    n = day.num_rows
    file_of = rng.integers(LANDING_FILES, size=n)
    dups = rng.choice(n, size=int(round(n * dup_share)), replace=False)
    landing = []
    for f in range(LANDING_FILES):
        rows = np.flatnonzero(file_of == f)
        # a re-delivered row lands again in the file after its own
        again = dups[(file_of[dups] + 1) % LANDING_FILES == f]
        landing.append(day.take(pa.array(np.concatenate([rows, again]))))
    return cutoff, base, full, landing
