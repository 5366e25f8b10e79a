"""Correctness checks, run outside every timed region.

The ingest checks recompute the serving tables independently in DuckDB
from the generated files; the query checks compare each lane with its
registered oracle SQL using the comparison helpers of
``tools/check_oracle.py``.  Every check returns a list of problems; an
empty list is a pass.
"""

from __future__ import annotations

import glob
import importlib.util
import math
import os

import duckdb
import pandas as pd

from . import gen

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SQL_TYPES = {
    "uuid": "BIGINT", "UnitsSold": "BIGINT", "UnitPrice": "DOUBLE",
    "UnitCost": "DOUBLE", "TotalRevenue": "DOUBLE", "TotalCost": "DOUBLE",
    "TotalProfit": "DOUBLE",
}
_COLS = ", ".join(f'"{c}"' for c in gen.COLUMNS)
#: The summary's means come from differently ordered float sums in Spark
#: and DuckDB, so they are compared to a relative tolerance; the max and
#: the set of countries must match exactly.
SUMMARY_REL_TOL = 1e-9


def _oracle_tools():
    path = os.path.join(REPO, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _parquet(path: str) -> str:
    """A DuckDB scan of every data file under ``path``."""
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def _raw_file(path: str) -> str:
    """A DuckDB scan of one generated sales file, dates re-rendered the
    way the serving tables store them (ISO strings)."""
    cols = "{" + ", ".join(
        f"'{c}': '{_SQL_TYPES.get(c, 'VARCHAR')}'" for c in gen.COLUMNS
    ) + "}"
    if path.endswith(".csv"):
        scan = f"read_csv('{path}', header = true, columns = {cols})"
    else:
        scan = (f"read_json('{path}', format = 'newline_delimited', "
                f"columns = {cols})")
    dates = {
        c: f"strftime(strptime(\"{c}\", '%m/%d/%Y'), '%Y-%m-%d') AS \"{c}\""
        for c in ("OrderDate", "ShipDate")
    }
    sel = ", ".join(dates.get(c, f'"{c}"') for c in gen.COLUMNS)
    return f"SELECT {sel} FROM {scan}"


def expected_target(con, preseed, valid_files: list[str]) -> None:
    """Create table ``exp_tgt``: keep-last per uuid over the pre-seed
    then the valid files in arrival order."""
    con.register("preseed", preseed)
    parts = [f"SELECT {_COLS}, -1 AS _seq FROM preseed"] + [
        f"SELECT *, {i} AS _seq FROM ({_raw_file(p)})"
        for i, p in enumerate(valid_files)
    ]
    con.sql(
        "CREATE OR REPLACE TABLE exp_tgt AS SELECT * EXCLUDE (_seq) FROM ("
        + " UNION ALL ".join(parts)
        + ") QUALIFY row_number() OVER (PARTITION BY uuid ORDER BY _seq DESC) = 1"
    )


def compare_target(con, actual_sql: str) -> list[str]:
    row = con.sql(
        f"SELECT (SELECT count(*) FROM (SELECT {_COLS} FROM exp_tgt EXCEPT ALL "
        f"SELECT {_COLS} FROM ({actual_sql}))), "
        f"(SELECT count(*) FROM (SELECT {_COLS} FROM ({actual_sql}) EXCEPT ALL "
        f"SELECT {_COLS} FROM exp_tgt))"
    ).fetchone()
    if row == (0, 0):
        return []
    return [f"sales_tgt: {row[0]} expected rows missing, {row[1]} unexpected rows"]


def expected_summary(con) -> pd.DataFrame:
    return con.sql(
        'SELECT "Country", max("UnitsSold") AS max_units_sold, '
        'avg("TotalRevenue") AS average_total_revenue, '
        'avg("TotalCost") AS average_total_cost, '
        'avg("TotalProfit") AS average_total_profit '
        'FROM exp_tgt GROUP BY "Country"'
    ).df()


def compare_summary(expected: pd.DataFrame, actual: pd.DataFrame) -> list[str]:
    exp = expected.set_index("Country").sort_index()
    act = actual.set_index("Country").sort_index()
    if list(exp.index) != list(act.index) or set(exp.columns) != set(act.columns):
        return [f"sales_summary: countries/columns {list(act.index)} "
                f"{sorted(act.columns)} != {list(exp.index)} {sorted(exp.columns)}"]
    problems = []
    for country, e in exp.iterrows():
        a = act.loc[country]
        if int(a["max_units_sold"]) != int(e["max_units_sold"]):
            problems.append(f"sales_summary[{country}].max_units_sold "
                            f"{a['max_units_sold']} != {e['max_units_sold']}")
        for c in ("average_total_revenue", "average_total_cost",
                  "average_total_profit"):
            if not math.isclose(a[c], e[c], rel_tol=SUMMARY_REL_TOL):
                problems.append(f"sales_summary[{country}].{c} {a[c]!r} != {e[c]!r}")
    return problems


def check_ingest(wh: str, lake: str, quarantine: str, preseed,
                 valid_files: list[str], invalid_files: list[str],
                 rows_per_file: dict[str, int]) -> dict[str, list[str]]:
    """Every ingest check, by name -> problems."""
    con = duckdb.connect()
    try:
        expected_target(con, preseed, valid_files)
        out = {
            "sales_tgt": compare_target(con, f"SELECT * FROM {_parquet(wh + '/sales_tgt')}"),
            "sales_summary": compare_summary(
                expected_summary(con),
                con.sql(f"SELECT * FROM {_parquet(wh + '/sales_summary')}").df(),
            ),
        }
        want = sum(rows_per_file[p] for p in valid_files)
        for name, path in (("lake", lake), ("sales", wh + "/sales")):
            got = con.sql(f"SELECT count(*) FROM {_parquet(path)}").fetchone()[0]
            out[name] = [] if got == want else [f"{name}: {got} rows, want {want}"]
        out["quarantine"] = check_quarantine(con, quarantine, invalid_files, rows_per_file)
        return out
    finally:
        con.close()


def check_quarantine(con, quarantine: str, invalid_files: list[str],
                     rows_per_file: dict[str, int]) -> list[str]:
    if not invalid_files:
        has = glob.glob(f"{quarantine}/**/*.parquet", recursive=True)
        return [f"quarantine: {len(has)} files, want none"] if has else []
    got = dict(con.sql(
        f"SELECT _source_file, count(*) FROM {_parquet(quarantine)} GROUP BY 1"
    ).fetchall())
    want = {p: rows_per_file[p] for p in invalid_files}
    return [] if got == want else [f"quarantine holds {got}, want {want}"]


class QueryOracle:
    """DuckDB views over a star-schema directory plus the comparison of
    ``tools/check_oracle.py``."""

    def __init__(self, star_dir: str, tables):
        self.tools = _oracle_tools()
        self.con = duckdb.connect()
        for t in tables:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{star_dir}/{t}.parquet'")

    def close(self) -> None:
        self.con.close()

    def check(self, spark_pdf: pd.DataFrame, oracle_sql: str) -> list[str]:
        return compare_frames(self.tools, spark_pdf, self.con.sql(oracle_sql).df())


def compare_frames(tools, spdf: pd.DataFrame, opdf: pd.DataFrame) -> list[str]:
    """Row count, column names, integer/float drift and the
    order-insensitive float-exact row sets, as ``check_oracle`` judges."""
    if len(spdf) != len(opdf):
        return [f"rowcount spark={len(spdf)} oracle={len(opdf)}"]
    if sorted(spdf.columns) != sorted(opdf.columns):
        return [f"cols spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}"]
    drift = tools.dtype_drift(spdf, opdf)
    if drift:
        return [f"numeric dtype drift: {drift}"]
    try:
        sset, oset = tools.frame_rowset(spdf), tools.frame_rowset(opdf)
    except tools.UnhashableOutput as e:
        return [f"unhashable output: {e}"]
    if sset != oset:
        diff = [(a, b) for a, b in zip(sset, oset) if a != b][:3]
        return [f"values differ, first diffs: {diff}"]
    return []
