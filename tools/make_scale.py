"""Deterministic scale-up of the driver's synthetic testdata.

Usage: python tools/make_scale.py [src_dir] [dst_dir] [factor]
Default: /root/testdata/sf0.1 -> /root/repo/.scale/sf1 at 10x.

Purpose (r3 VERDICT "Next round" #1): every 100 TB claim in PLANS.md
is plan-shape-locked but measured at one scale point; this produces a
10x point to record the sf0.1 -> sf1 slope per query against.
The driver's generator isn't available, so we scale by replication
with the statistics that MATTER for the measured queries held fixed:

- Replica r gets every key offset by r * (max_key + 1), applied
  consistently across fact/dim so join fan-outs keep their shape
  (orders per customer, lineitems per order, events per user).
- region/nation stay fixed (they are fixed-size in TPC-H too);
  customer/supplier/part scale with the factor, as TPC-H scales them.
- documents: the text of replica r goes through a per-replica AFFINE
  letter bijection (letters only; length, punctuation, whitespace
  and digits untouched), so replicas share ~ZERO shingles — the
  near-duplicate rate per doc stays what it was at sf0.1 instead of
  every doc gaining fake near-dups, which would quadratically
  inflate LSH verify work and fake a bad slope. 312 distinct maps
  cover factor 100 (caesar's 26 would repeat and mint exact twins).
  Word-length/punct statistics (quality filters) are preserved
  exactly; stopword-based scores shift for r > 0 — acceptable
  because no scale-bench query selects on them.
- embeddings: replica r rolls each vector by r mod dim and negates
  every second dim-cycle (2*dim=128 distinct variants at dim 64) —
  same norm and component distribution, uncorrelated direction, so
  the sign-LSH bucket occupancy and near-dup rate stay flat.
- timestamps/dates are unchanged: scale adds DENSITY to the same
  time window (how a bigger corpus actually looks), so calendar
  aggregations grow rows-per-group, not groups.
"""

from __future__ import annotations

import os
import string
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
FIXED = {"region", "nation"}


# Units mod 26 — multipliers for the affine letter maps below.
_UNITS_26 = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]


def _letter_table(r: int) -> dict[int, int]:
    """Per-replica AFFINE letter bijection i -> (a*i + b) mod 26
    (r=0 -> identity). Caesar (a=1) gives only 26 distinct maps, so
    at factor > 26 replicas r and r+26 would share every shingle
    and each doc would gain exact twins — faking a quadratic
    near-dup blow-up at the sf10 decade. Affine maps give 12*26 =
    312 distinct bijections; any two replicas differ by a
    non-identity affine map (at most ONE fixed letter), so shingle
    overlap stays ~zero while length/punct/digit statistics are
    preserved exactly (same acceptance as caesar for stopword-based
    scores)."""
    a = _UNITS_26[r % len(_UNITS_26)]
    b = (r // len(_UNITS_26)) % 26
    lower, upper = string.ascii_lowercase, string.ascii_uppercase
    t = {}
    for alpha in (lower, upper):
        for i, ch in enumerate(alpha):
            t[ord(ch)] = ord(alpha[(a * i + b) % 26])
    return t


def _embedding_variant(v: "np.ndarray", r: int) -> "np.ndarray":
    """Replica-r embedding: roll by r mod dim, negate every second
    dim-cycle. Plain roll repeats after dim (=64) replicas — r and
    r+dim would be IDENTICAL vectors, faking exact near-dups at
    factor 100. The sign flip doubles the family to 2*dim distinct
    variants with the same norm and component distribution (sign-LSH
    occupancy and near-dup rate stay flat)."""
    out = np.roll(v, r % v.shape[0])
    if (r // v.shape[0]) % 2:
        out = -out
    return out


def scale(src: str, dst: str, factor: int) -> None:
    os.makedirs(dst, exist_ok=True)
    base = {t: pq.read_table(f"{src}/{t}.parquet") for t in TABLES}
    caps = {
        "cust": int(pa.compute.max(base["customer"]["c_custkey"]).as_py()) + 1,
        "supp": int(pa.compute.max(base["supplier"]["s_suppkey"]).as_py()) + 1,
        "part": int(pa.compute.max(base["part"]["p_partkey"]).as_py()) + 1,
        "order": int(pa.compute.max(base["orders"]["o_orderkey"]).as_py()) + 1,
        "event": int(pa.compute.max(base["events"]["event_id"]).as_py()) + 1,
        "doc": int(pa.compute.max(base["documents"]["doc_id"]).as_py()) + 1,
        "vec": int(pa.compute.max(base["embeddings"]["vec_id"]).as_py()) + 1,
    }
    # key column -> cap name; every occurrence remaps with one offset
    key_caps = {
        "c_custkey": "cust", "o_custkey": "cust", "user_id": "cust",
        "s_suppkey": "supp", "l_suppkey": "supp",
        "p_partkey": "part", "l_partkey": "part",
        "o_orderkey": "order", "l_orderkey": "order",
        "event_id": "event", "doc_id": "doc", "vec_id": "vec",
    }
    for t in TABLES:
        src_schema = base[t].schema
        if t in FIXED:
            pq.write_table(base[t], f"{dst}/{t}.parquet")
            print(f"{t}: copied ({base[t].num_rows} rows)")
            continue
        pdf = base[t].to_pandas()
        parts = []
        for r in range(factor):
            rep = pdf.copy(deep=False)
            for col in rep.columns:
                if col in key_caps:
                    rep[col] = pdf[col] + r * caps[key_caps[col]]
            if t == "documents" and r:
                rep["text"] = pdf["text"].str.translate(_letter_table(r))
            if t == "embeddings" and r:
                rep["embedding"] = pdf["embedding"].map(
                    lambda v, r=r: _embedding_variant(np.asarray(v), r)
                )
            parts.append(rep)
        out = pd.concat(parts, ignore_index=True)
        table = pa.Table.from_pandas(out, schema=src_schema, preserve_index=False)
        # Split into ~64 row groups: pyarrow's default (1 Mi rows per
        # group) would write most tables as ONE row group, and Spark
        # cannot split a parquet file below row-group granularity —
        # the scaled fact scans would run nearly single-threaded and
        # bill serialization, not the engine, to the slope.
        rg = max(1024, table.num_rows // 64)
        pq.write_table(table, f"{dst}/{t}.parquet", row_group_size=rg)
        print(f"{t}: {base[t].num_rows} -> {table.num_rows} rows "
              f"({max(1, table.num_rows // rg)} row groups)")


if __name__ == "__main__":
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/.scale/sf1"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    scale(src, dst, factor)
