"""Output checks. Spark results are compared with DuckDB over the same
files, normalized the way ``tools/check_oracle.py`` normalizes them:
sorted columns, order-insensitive rows, timestamps as microsecond
strings, exact values with NULL equal to NULL."""

from __future__ import annotations

import datetime as dt
import os
import pickle
import subprocess
import sys

import pandas as pd

from crypto_price_tracker_with_etl_dashboard_spark.queries import ORACLE_SQL
from crypto_price_tracker_with_etl_dashboard_spark.sources.tables import PRICES_CTE_SQL, TABLES

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
from check_oracle import normalize  # noqa: E402

_PRICE_COLS = "symbol, name, current_price, market_cap, total_volume, timestamp"


def mismatch(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str | None:
    """None when equal; otherwise a one-line reason."""
    s, o = normalize(spark_df), normalize(oracle_df)
    if len(s) != len(o):
        return f"row count {len(s)} vs {len(o)}"
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} vs {list(o.columns)}"
    for c in s.columns:
        if s[c].dtype.kind != o[c].dtype.kind:
            return f"{c}: dtype {s[c].dtype} vs {o[c].dtype}"
        a, b = s[c].to_numpy(), o[c].to_numpy()
        same = (a == b) | (pd.isna(a) & pd.isna(b))
        if not same.all():
            return f"{c}: {int((~same).sum())} cells differ"
    return None


def rows_frame(rows: list, dtypes: list[tuple[str, str]]) -> pd.DataFrame:
    """Collected Rows as pandas, typed like ``toPandas()``: a double
    column stays float64 even when every value is NULL."""
    df = pd.DataFrame([tuple(r) for r in rows], columns=[c for c, _ in dtypes])
    for c, t in dtypes:
        if t in ("double", "float"):
            df[c] = df[c].astype("float64")
    return df


class PricesOracle:
    """DuckDB twins of the ``PriceTracker`` reads over a prices table
    directory. The reference queries reuse the registry's oracle SQL
    with its events-derived ``prices`` CTE swapped for the table."""

    def __init__(self, table: str, upto: dt.datetime):
        """The table as it stood when its newest rows were ``upto``."""
        import duckdb

        self.con = duckdb.connect()
        self.cte = (
            "prices AS (SELECT symbol, name, current_price, market_cap, total_volume, "
            "CAST(timestamp AS TIMESTAMP) AS timestamp, event_id FROM read_parquet("
            f"'{table}/*/*/*.parquet', hive_partitioning = true) "
            f"WHERE CAST(timestamp AS TIMESTAMP) <= TIMESTAMP '{upto.isoformat(sep=' ')}')"
        )

    def _registry(self, name: str) -> pd.DataFrame:
        sql = ORACLE_SQL[name]
        if PRICES_CTE_SQL not in sql:
            raise ValueError(f"oracle SQL of {name} no longer embeds the prices CTE")
        return self.con.execute(sql.replace(PRICES_CTE_SQL, self.cte)).fetchdf()

    def latest(self) -> pd.DataFrame:
        return self._registry("latest_snapshot")

    def top_symbols(self) -> pd.DataFrame:
        return self._registry("topk_other")

    def market_distribution(self) -> pd.DataFrame:
        return self._registry("market_share")

    def symbols(self) -> pd.DataFrame:
        return self.con.execute(f"WITH {self.cte} SELECT DISTINCT symbol FROM prices").fetchdf()

    def history(self, symbol: str, start: str, end: str) -> pd.DataFrame:
        return self.con.execute(
            f"WITH {self.cte} SELECT {_PRICE_COLS} FROM prices WHERE symbol = lower(?) "
            "AND timestamp >= CAST(? AS TIMESTAMP) "
            "AND timestamp < CAST(? AS TIMESTAMP) + INTERVAL 1 DAY",
            [symbol, start, end],
        ).fetchdf()


class CatalogOracle:
    """DuckDB views over a generated dataset directory, for the
    registry's ``ORACLE_SQL`` twins."""

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def run(self, name: str) -> pd.DataFrame:
        return self.con.execute(ORACLE_SQL[name]).fetchdf()


def catalog_oracle(sf_dir: str, names, out: str) -> dict[str, pd.DataFrame]:
    """The oracle results of ``names`` over ``sf_dir``, computed in a
    child process that writes them to ``out``; DuckDB never loads here."""
    subprocess.run([sys.executable, os.path.abspath(__file__), sf_dir, out, *names], check=True)
    with open(out, "rb") as f:
        return pickle.load(f)


if __name__ == "__main__":
    data, path, *queries = sys.argv[1:]
    oracle = CatalogOracle(data)
    with open(path, "wb") as f:
        pickle.dump({q: oracle.run(q) for q in queries}, f)
