"""Order-insensitive digests of engine outputs."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, functions as F


def triples_digest(df: DataFrame) -> str:
    """'count:sum' of per-row xxhash64 over (subj, pred, obj).

    The sum is taken as a decimal so it cannot overflow, and is independent
    of row order and partitioning."""
    row = df.select(
        F.xxhash64("subj", "pred", "obj").cast("decimal(38,0)").alias("h")
    ).agg(F.count("*").alias("n"), F.sum("h").alias("s")).collect()[0]
    return f"{row['n']}:{row['s'] or 0}"


def normalize(rows, cols):
    """Order-insensitive canonical form, tolerant to int/float repr: the
    form tests/test_oracle_parity.py compares Spark and DuckDB results in."""
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c] if isinstance(row, dict) else row[cols.index(c)]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = round(v, 6)
                    if v == int(v):
                        v = int(v)
            if isinstance(v, (list, tuple)):
                v = tuple(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def rows_digest(rows, cols) -> str:
    """sha256 over the normalized rows and their sorted column names."""
    cols = sorted(cols)
    body = repr((cols, normalize(rows, cols)))
    return hashlib.sha256(body.encode()).hexdigest()

