"""Output checks, run outside the timed region after each call."""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pandas as pd
import pyarrow.parquet as pq

def duck_views(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with every generated table as a view."""
    con = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name)
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def frames_match(
    con: duckdb.DuckDBPyConnection, actual: pd.DataFrame, expected: pd.DataFrame, tolerant: bool
) -> str | None:
    """The repo's oracle rule: same column names and row count, then rows
    equal as multisets with floats bit-for-bit, or to 6 decimals for queries
    tagged tolerant. Compared in DuckDB (EXCEPT ALL both ways) so large
    results stay cheap. Returns a reason on mismatch, else None."""
    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} vs {sorted(expected.columns)}"
    if len(actual) != len(expected):
        return f"row count {len(actual)} vs {len(expected)}"
    con.register("_actual", actual)
    con.register("_expected", expected)
    try:
        for rounded in (False, True) if tolerant else (False,):
            sel = ", ".join(
                f'round("{c}", 6)' if rounded and actual[c].dtype.kind == "f" else f'"{c}"'
                for c in sorted(actual.columns)
            )
            differing = con.execute(
                f"SELECT count(*) FROM ((SELECT {sel} FROM _actual EXCEPT ALL "
                f"SELECT {sel} FROM _expected) UNION ALL (SELECT {sel} FROM _expected "
                f"EXCEPT ALL SELECT {sel} FROM _actual))"
            ).fetchone()[0]
            if differing == 0:
                return None
        return f"{differing} rows differ"
    finally:
        con.unregister("_actual")
        con.unregister("_expected")


def _cents(v: float) -> int:
    # engine's scaled_sum: round(x * 100.0, 0) half-up on the double's
    # decimal representation, then cast to long
    return int(Decimal(repr(v * 100.0)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def check_sealed_cache(cache_dir: str, n_exposures: int) -> str | None:
    """Row and EAD conservation over a sealed results cache: the ledger
    holds one row per exposure, and the approach summary's n_exposures and
    total_ead equal the ledger's own count and exact fixed-point EAD sum per
    approach. Returns a reason on failure, else None."""
    ledger = pq.read_table(
        os.path.join(cache_dir, "results"), columns=["approach", "ead_after_crm"]
    ).to_pydict()
    summary = pq.read_table(os.path.join(cache_dir, "summary_approach")).to_pylist()
    n = len(ledger["approach"])
    if n != n_exposures:
        return f"ledger rows {n} != exposures {n_exposures}"
    count: dict[str, int] = {}
    cents: dict[str, int] = {}
    for approach, ead in zip(ledger["approach"], ledger["ead_after_crm"]):
        count[approach] = count.get(approach, 0) + 1
        if ead is not None:
            cents[approach] = cents.get(approach, 0) + _cents(ead)
    for r in summary:
        a = r["approach"]
        if r["n_exposures"] != count.get(a, 0):
            return f"summary n_exposures[{a}] {r['n_exposures']} != ledger {count.get(a)}"
        if round(r["total_ead"] * 100) != cents.get(a, 0):
            return f"summary total_ead[{a}] {r['total_ead']} != ledger {cents.get(a, 0) / 100}"
    if sum(r["n_exposures"] for r in summary) != n:
        return "summary n_exposures do not sum to the ledger rows"
    return None
