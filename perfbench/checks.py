"""Output checks against the engine's DuckDB oracle twins.

An output with a twin in ``oracles.ORACLES`` is compared the way the
engine's oracle harness compares a query: the same column-name set, the
same row count, and the same order-insensitive multiset of canonical values,
floats bit-exact. The oracle SQL runs over the generated bronze tables. An
output without a twin is compared as an exact count.

Checks run after the timed region; each returns a list of problems, empty
when the output is correct.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import math
import os
from decimal import Decimal

import duckdb

from dataengineeringpipeline_spark.oracles import ORACLES


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def canonical(cols: list[str], rows) -> list[tuple]:
    """Columns sorted by name, values normalized, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple((v is None, str(v)) for v in r))


def value_hash(canon: list[tuple]) -> str:
    """Order-insensitive hash of a canonical result. ``repr`` of a float
    is its shortest round-trip form, so equal hashes mean bit-equal
    values."""
    return hashlib.sha256(repr(canon).encode()).hexdigest()[:16]


def _connect(inputs: str, deltas_landed: int | None):
    """DuckDB views named like the bronze tables over the generated files.
    With ``deltas_landed``, ``orders`` also holds the first that many
    delta batches, as the streamed refresh saw them."""
    con = duckdb.connect()
    for d in sorted(glob.glob(os.path.join(inputs, "*"))):
        name = os.path.basename(d)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{d}/*.parquet')")
    if deltas_landed is not None:
        con.execute(
            "CREATE OR REPLACE VIEW orders AS "
            f"SELECT * FROM read_parquet('{inputs}/orders/*.parquet') UNION ALL "
            f"SELECT * EXCLUDE (delta_id) FROM deltas WHERE delta_id < {deltas_landed}"
        )
    return con


def oracle_result(name: str, inputs: str, deltas_landed: int | None = None):
    cur = _connect(inputs, deltas_landed).execute(ORACLES[name])
    return [d[0] for d in cur.description], cur.fetchall()


def oracle_count(name: str, inputs: str) -> int:
    return _connect(inputs, None).execute(f"SELECT count(*) FROM ({ORACLES[name]})").fetchone()[0]


def lake_rows(path: str) -> int:
    """Row count of a lake table from its Parquet footers."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def compare_count(got: int, want: int, label: str) -> list[str]:
    return [] if got == want else [f"{label}: got {got}, expected {want}"]


def compare_frame(df, oracle: str, inputs: str, label: str,
                  deltas_landed: int | None = None) -> list[str]:
    """Compare a Spark output with its oracle twin; returns problems."""
    return compare_rows(df.columns, df.collect(), oracle, inputs, label, deltas_landed)


def compare_rows(scols: list[str], srows, oracle: str, inputs: str, label: str,
                 deltas_landed: int | None = None) -> list[str]:
    """Compare collected rows with the oracle twin's; returns problems."""
    ocols, orows = oracle_result(oracle, inputs, deltas_landed)
    if sorted(scols) != sorted(ocols):
        return [f"{label}: columns {sorted(scols)} != oracle {sorted(ocols)}"]
    if len(srows) != len(orows):
        return [f"{label}: {len(srows)} rows, oracle {len(orows)}"]
    got, want = canonical(scols, srows), canonical(ocols, orows)
    if got != want:  # == as the oracle harness compares: 1 == 1.0, floats exact
        bad = sum(a != b for a, b in zip(got, want))
        return [f"{label}: {bad}/{len(got)} rows differ, value hash "
                f"{value_hash(got)} != oracle {value_hash(want)}"]
    return []
