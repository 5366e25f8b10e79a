"""The correctness checks accept right answers and reject planted wrong
ones (DuckDB only, no Spark)."""

import duckdb
import numpy as np
import pandas as pd

from perfbench import checks, gen


def _summary():
    return pd.DataFrame({
        "Country": ["Brazil", "Canada"],
        "max_units_sold": [9000, 8000],
        "average_total_revenue": [1.0e6 / 3, 2.0e6 / 3],
        "average_total_cost": [5.0e5 / 3, 6.0e5 / 3],
        "average_total_profit": [5.0e5 / 3, 1.4e6 / 3],
    })


def test_summary_check_rejects_a_planted_wrong_row():
    exp = _summary()
    assert checks.compare_summary(exp, exp.copy()) == []
    ulp = exp.copy()
    ulp.loc[0, "average_total_cost"] = np.nextafter(ulp.loc[0, "average_total_cost"], 0)
    assert checks.compare_summary(exp, ulp) == []  # float sum order only
    bad = exp.copy()
    bad.loc[1, "average_total_revenue"] += 0.01
    assert checks.compare_summary(exp, bad)
    bad = exp.copy()
    bad.loc[0, "max_units_sold"] = 8999
    assert checks.compare_summary(exp, bad)
    assert checks.compare_summary(exp, exp.iloc[:1])


def test_query_check_rejects_a_planted_wrong_row():
    tools = checks._oracle_tools()
    oracle = pd.DataFrame({"k": ["A", "N", "R"], "v": [1.25, 2.5, 3.75]})
    spark_like = oracle.iloc[::-1].reset_index(drop=True)  # order-insensitive
    assert checks.compare_frames(tools, spark_like, oracle) == []
    bad = spark_like.copy()
    bad.loc[0, "v"] = 3.76
    assert checks.compare_frames(tools, bad, oracle)
    as_int = pd.DataFrame({"k": ["A"], "v": [1]})
    as_float = pd.DataFrame({"k": ["A"], "v": [1.0]})
    assert checks.compare_frames(tools, as_int, as_float)  # dtype drift


def test_expected_target_keeps_the_last_arrival(tmp_path):
    space = gen.UuidSpace(1)
    rng = np.random.default_rng(0)
    pre_rows = gen.sales_rows(rng, space(np.arange(0, 4)))
    first = gen.sales_rows(rng, space(np.array([1, 4])))
    second = gen.sales_rows(rng, space(np.array([4, 5])))
    gen.write_sales(str(tmp_path / "a.csv"), first, "csv")
    gen.write_sales(str(tmp_path / "b.json"), second, "json")
    con = duckdb.connect()
    checks.expected_target(con, gen.serving_table(pre_rows),
                           [str(tmp_path / "a.csv"), str(tmp_path / "b.json")])
    got = dict(con.sql('SELECT uuid, "UnitsSold" FROM exp_tgt').fetchall())
    uu = space(np.arange(6)).tolist()
    assert got == {
        uu[0]: pre_rows["UnitsSold"][0], uu[1]: first["UnitsSold"][0],
        uu[2]: pre_rows["UnitsSold"][2], uu[3]: pre_rows["UnitsSold"][3],
        uu[4]: second["UnitsSold"][0], uu[5]: second["UnitsSold"][1],
    }
    dates = con.sql('SELECT DISTINCT length("OrderDate") FROM exp_tgt').fetchall()
    assert dates == [(10,)]  # ISO strings, as the serving tables store them
