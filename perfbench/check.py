"""Output checks, run outside every timed span.

Registry entries are compared with their DuckDB oracle through the
repository's comparator (``tests/oracle_harness.py``); entries without
an oracle get a rows-only check. Warehouse tables written by the ETL
are read back with DuckDB and compared with the ``plans.etl`` oracles
on the same input.
"""

from __future__ import annotations

import os

from tests.oracle_harness import compare, duck_connection

# Warehouse table -> registry oracle name (plans.etl.ORACLES).
WAREHOUSE_ORACLES = {
    "dim_client": "etl_dim_client",
    "dim_film": "etl_dim_film",
    "dim_date": "etl_dim_date",
    "fact_paiement": "etl_fact_paiement",
    "v_agg_mensuel_magasin": "etl_agg_mensuel_magasin",
    "v_agg_mensuel_magasin_m": "etl_agg_mensuel_magasin",
    "v_dim_mois": "etl_dim_mois",
}


class Collected:
    """The slice of the DataFrame API the comparator reads, over rows
    already collected, so a check never executes a plan again."""

    def __init__(self, columns: list[str], dtypes: list[tuple[str, str]], rows: list):
        self.columns = columns
        self.dtypes = dtypes
        self._rows = rows

    @classmethod
    def from_spark(cls, df, rows) -> Collected:
        return cls(list(df.columns), df.dtypes, rows)

    def collect(self):
        return self._rows


class Checker:
    def __init__(self, oracles: dict[str, str]):
        self.oracles = oracles
        self._cons: dict[str, object] = {}

    def _con(self, sf_dir: str):
        if sf_dir not in self._cons:
            self._cons[sf_dir] = duck_connection(sf_dir)
        return self._cons[sf_dir]

    def entry(self, name: str, result: Collected, sf_dir: str) -> tuple[bool, str]:
        sql = self.oracles.get(name)
        if sql is None:
            return True, f"rows-only: {len(result.collect())} rows"
        return compare(result, self._con(sf_dir), sql)

    def warehouse(self, dw_root: str, sf_dir: str) -> dict[str, tuple[bool, str]]:
        """Each warehouse table against its oracle, as multisets of
        typed rows, inside DuckDB (the fact table has one row per
        lineitem). Decimals are cast to double, as the registry's
        output contract does."""
        out = {}
        con = self._con(sf_dir)
        for table, oracle in WAREHOUSE_ORACLES.items():
            path = os.path.join(dw_root, table)
            if not os.path.isdir(path):
                out[table] = (False, "table missing")
                continue
            src = f"read_parquet('{path}/**/*.parquet', hive_partitioning=true)"
            described = con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
            got = {name: dtype for name, dtype, *_ in described}
            want = [d[0] for d in con.execute(f"DESCRIBE {self.oracles[oracle]}").fetchall()]
            if sorted(got) != sorted(want):
                out[table] = (False, f"columns differ: {sorted(got)} vs {sorted(want)}")
                continue
            cols = sorted(want)
            mine = ", ".join(
                f'CAST("{c}" AS DOUBLE)' if got[c].startswith("DECIMAL") else f'"{c}"'
                for c in cols
            )
            theirs = ", ".join(f'"{c}"' for c in cols)
            a = f"SELECT {mine} FROM {src}"
            b = f"SELECT {theirs} FROM ({self.oracles[oracle]})"
            extra, missing = con.execute(
                f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})),"
                f" (SELECT count(*) FROM ({b} EXCEPT ALL {a}))"
            ).fetchone()
            out[table] = (
                (extra == 0 and missing == 0),
                f"{extra} rows not in the oracle, {missing} oracle rows missing",
            )
        return out

    def close(self) -> None:
        for con in self._cons.values():
            con.close()
        self._cons.clear()
