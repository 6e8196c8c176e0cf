"""Correctness checks the benchmark runs on the program's outputs.

- ad-hoc queries: the collected Spark result against the query's DuckDB
  oracle (``QuerySpec.oracle``) on the same generated inputs, compared
  the way ``tools/verify_queries.py`` does (columns sorted by name, rows
  sorted, exact values);
- warehouse tables: multiset equality with a reference frame (the
  promoted model's registry query, or a from-scratch build).
"""

from __future__ import annotations

import os

import duckdb

from . import inputs


def _sortkey(row):
    return tuple((v is None, str(type(v)), repr(v)) for v in row)


def duckdb_views(src_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for t in inputs.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(src_dir, t + '.parquet')}/*.parquet')"
        )
    return con


def oracle_problem(columns, rows, con, oracle: "str | None") -> "str | None":
    """None when the Spark result ``rows`` (collected, with ``columns``)
    matches the oracle, else a one-line description. A query without an
    oracle must return rows; an empty match on both sides fails, because
    it proves nothing."""
    if not rows:
        return "no rows"
    if oracle is None:
        return None
    scols = sorted(columns)
    pos = {c: i for i, c in enumerate(columns)}
    srows = [tuple(r[pos[c]] for c in scols) for r in rows]
    res = con.execute(oracle)
    ocols = [d[0] for d in res.description]
    if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
        return f"schema spark={scols} oracle={sorted(ocols)}"
    idx = {c.lower(): i for i, c in enumerate(ocols)}
    orows = [tuple(r[idx[c.lower()]] for c in scols) for r in res.fetchall()]
    if len(srows) != len(orows):
        return f"rowcount spark={len(srows)} oracle={len(orows)}"
    srows.sort(key=_sortkey)
    orows.sort(key=_sortkey)
    for i, (a, b) in enumerate(zip(srows, orows)):
        for j, (x, y) in enumerate(zip(a, b)):
            if x != y and not (x != x and y != y):  # NaN equals NaN here
                return f"row {i} column {scols[j]}: spark={x!r} oracle={y!r}"
    return None


def _fingerprint(df, cols):
    """Row count and the sum of per-row 64-bit hashes over the rows'
    values in ``cols`` order: equal for equal multisets of rows, in any
    order, in one Spark job."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\u0000null")) for c in cols])
    return tuple(df.agg(F.count(F.lit(1)), F.sum(h.cast("decimal(38,0)"))).first())


def same_rows(got, want, drop=()) -> bool:
    """Whether two DataFrames hold the same multiset of rows (columns
    matched by name, values compared as strings, ``drop`` ignored on
    ``got``)."""
    cols = sorted(c for c in got.columns if c not in drop)
    if cols != sorted(want.columns):
        return False
    return _fingerprint(got, cols) == _fingerprint(want, cols)
