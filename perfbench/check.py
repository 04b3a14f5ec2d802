"""Output check: each op's captured result against its ``oracle_sql()``
run by DuckDB over the same parquet tables. Row count, column names and
an order-insensitive hash, normalised by ``tools/check_oracle.py``'s own
fingerprint so the two checks cannot drift apart."""

from __future__ import annotations

import math
import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def summary(cols: list[str], rows: list[tuple]) -> tuple[list[str], int, str]:
    """What the check compares of a result: columns, row count and hash.
    Taken as soon as the result is collected, so the rows are not held."""
    from check_oracle import _fingerprint

    return cols, len(rows), _fingerprint(cols, rows)


def mismatches(
    captured: dict[str, tuple[list[str], int, str]],
    oracles: dict[str, str],
    sf_dirs: dict[str, str],
) -> dict[str, str]:
    """Ops whose result summary differs from the oracle's, with what differs."""
    import duckdb
    import pandas as pd

    cons: dict[str, duckdb.DuckDBPyConnection] = {}
    wrong = {}
    try:
        for name, (cols, n_rows, fingerprint) in captured.items():
            sf_dir = sf_dirs[name]
            if sf_dir not in cons:
                con = cons[sf_dir] = duckdb.connect()
                for t in TABLES:
                    path = os.path.join(sf_dir, f"{t}.parquet")
                    if os.path.exists(path):
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            # fetchdf() like the oracle gate: DuckDB HUGEINT sums arrive
            # as float64 there, and the normalisation depends on it
            odf = cons[sf_dir].execute(oracles[name]).fetchdf()
            ocols = list(odf.columns)
            orows = [
                tuple(None if (isinstance(v, float) and math.isnan(v)) or v is pd.NaT else v for v in r)
                for r in odf.itertuples(index=False, name=None)
            ]
            if n_rows != len(orows):
                wrong[name] = f"{n_rows} rows, oracle {len(orows)}"
            elif sorted(cols) != sorted(ocols):
                wrong[name] = f"columns {sorted(cols)}, oracle {sorted(ocols)}"
            elif fingerprint != summary(ocols, orows)[2]:
                wrong[name] = "value hash differs from the oracle"
    finally:
        for con in cons.values():
            con.close()
    return wrong
