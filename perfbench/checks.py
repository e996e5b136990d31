"""Output checks against the engine's DuckDB oracles (``oracle_sql()``).

Both checks run outside the timed window:

- ``SinkChecker`` compares the parquet tables ``run_pipeline`` writes with
  the ``fifo_matching``/``balance_history``/``current_balances`` oracles by
  row count plus an order-insensitive hash computed inside DuckDB, so it
  is cheap enough to run after every pipeline operation.
- query_mix compares each query's collected result with its oracle by
  ``tools/check_correctness.compare_frames``, the engine's value-hash
  rule (row count, column set, hash of sorted rows).
"""

from __future__ import annotations

import os

import duckdb

#: pipeline sink directory -> oracle whose result it must equal
SINKS = {
    "tc_data_with_redemptions": "fifo_matching",
    "customer_balance_history": "balance_history",
    "customer_current_balances": "current_balances",
}


def connect(inputs_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB session with one view per generated input table."""
    con = duckdb.connect(config={"threads": 2})
    con.execute("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(inputs_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-len('.parquet')]} AS "
                f"SELECT * FROM read_parquet('{inputs_dir}/{f}')"
            )
    return con


def _digest(con, relation: str) -> tuple:
    """(row count, column names, order-insensitive hash) of a relation.
    Money is compared at cents, as the registered queries round it;
    timestamps as epoch microseconds, so naive and UTC-adjusted parquet
    timestamps compare equal."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    parts = []
    for name, dtype, *_ in sorted(cols):
        if dtype in ("DOUBLE", "FLOAT"):
            # + 0.0 folds -0.0 into 0.0, as the engine's value hash does
            expr = f"printf('%.6f', round(\"{name}\", 2) + 0.0)"
        elif dtype.startswith("TIMESTAMP"):
            expr = f"CAST(epoch_us(\"{name}\") AS VARCHAR)"
        else:
            expr = f"CAST(\"{name}\" AS VARCHAR)"
        parts.append(f"coalesce({expr}, '<NULL>')")
    n, h = con.execute(
        f"SELECT count(*), CAST(sum(hash(concat_ws('|', {', '.join(parts)})))"
        f" AS VARCHAR) FROM {relation}"
    ).fetchone()
    return n, tuple(sorted(c[0] for c in cols)), h


class SinkChecker:
    """Oracle digests of the three pipeline sinks, computed once."""

    def __init__(self, con, oracles: dict[str, str]):
        self.con = con
        self.expected = {
            sink: _digest(con, f"({oracles[name]})")
            for sink, name in SINKS.items()
        }

    def mismatches(self, output_dir: str) -> list[str]:
        bad = []
        for sink, want in self.expected.items():
            got = _digest(
                self.con, f"read_parquet('{output_dir}/{sink}/*.parquet')"
            )
            if got != want:
                bad.append(f"{SINKS[sink]}: {got[:2]} != {want[:2]}")
        return bad
