"""End-to-end flow parity (reference: tests/e2e_test.py — mocked
sources → lake → warehouse models → checks, incl. two-run increment)."""

import datetime as dt

from securities_data_pipeline_spark.pipeline import etl_flow, resolve_dates

D = dt.date


def _wide_fx(spark, with_gap_day=False):
    rows = [(dt.datetime(2025, 1, 1), 1.1234567, 1.2, 1.0, 1.1534567, 0)]
    if with_gap_day:
        rows.append((dt.datetime(2025, 1, 2), None, None, None, None, None))
    return spark.createDataFrame(
        rows,
        "date timestamp, `Open_EURUSD=X` double, `High_EURUSD=X` double, "
        "`Low_EURUSD=X` double, `Close_EURUSD=X` double, `Volume_EURUSD=X` long",
    )


def _wide_stock(spark):
    return spark.createDataFrame(
        [(dt.datetime(2025, 1, 1), 10.004, 11.0, 9.0, 10.506, 100)],
        "date timestamp, Open_AAA double, High_AAA double, Low_AAA double, "
        "Close_AAA double, Volume_AAA long",
    )


def _raw_symbols(spark):
    return spark.createDataFrame(
        [("AAA", "Aaa Corp", "Tech", "Software", None, True, None)],
        "Symbol string, Security string, `GICS Sector` string, `GICS Sub-Industry` string, "
        "in_sp400 boolean, in_sp500 boolean, in_sp600 boolean",
    )


def test_resolve_dates():
    today = D(2025, 6, 15)
    assert resolve_dates(today=today) == (D(2025, 6, 14), today)
    assert resolve_dates("2024-01-01", "2024-02-01") == (D(2024, 1, 1), D(2024, 2, 1))
    assert resolve_dates(None, "2024-02-01", today=today) == (D(2000, 1, 1), D(2024, 2, 1))


def test_etl_flow_end_to_end(spark, tmp_path):
    res = etl_flow(
        spark,
        str(tmp_path / "lake"),
        raw_fx_prices_wide=_wide_fx(spark),
        raw_stock_prices_wide=_wide_stock(spark),
        raw_stock_symbols=_raw_symbols(spark),
        date_stamp=D(2025, 1, 1),
    )
    assert all(c.passed for c in res.checks), [c.name for c in res.checks if not c.passed]
    fct = {(str(r.date_stamp), r.symbol): r for r in res.models["fct_prices"].collect()}
    # FX '=X' stripped, 5 dp rounding; stock 2 dp rounding
    assert fct[("2025-01-01", "EURUSD")].close == 1.15346
    assert fct[("2025-01-01", "AAA")].close == 10.51
    dim = {r.symbol: r.asset_type for r in res.models["dim_symbols"].collect()}
    assert dim == {"EURUSD": "FX", "AAA": "Stock"}
    # SQL surface registered
    assert spark.sql("SELECT count(*) n FROM fct_prices").first().n == 2


def test_etl_flow_incremental_second_run(spark, tmp_path):
    """Two-run increment (reference tests/e2e_test.py:246-291): day-2
    batch merges into the same lake; gap day forward-fills in staging."""
    lake = str(tmp_path / "lake")
    common = dict(
        raw_stock_prices_wide=_wide_stock(spark),
        raw_stock_symbols=_raw_symbols(spark),
        date_stamp=D(2025, 1, 1),
    )
    etl_flow(spark, lake, raw_fx_prices_wide=_wide_fx(spark), **common)
    res2 = etl_flow(spark, lake, raw_fx_prices_wide=_wide_fx(spark, with_gap_day=True), **common)
    fct = {(str(r.date_stamp), r.symbol): r for r in res2.models["fct_prices"].collect()}
    assert len(fct) == 3  # idempotent remerge of day-1 rows + new day-2 row
    gap = fct[("2025-01-02", "EURUSD")]
    assert gap.close == 1.15346  # ffilled from day-1 rounded close
    assert gap.volume == 0


def test_etl_flow_flags_stock_missing_from_symbols(spark, tmp_path):
    """A priced stock absent from the symbols scrape is a fct orphan:
    only relationships(fct->dim) fails, once per fct row of that ticker."""
    stock = spark.createDataFrame(
        [
            (dt.datetime(2025, 1, 1), 10.0, 11.0, 9.0, 10.5, 100, 5.0, 6.0, 4.0, 5.5, 7),
            (dt.datetime(2025, 1, 2), 10.1, 11.1, 9.1, 10.6, 101, 5.1, 6.1, 4.1, 5.6, 8),
        ],
        "date timestamp, Open_AAA double, High_AAA double, Low_AAA double, "
        "Close_AAA double, Volume_AAA long, Open_ZZZ double, High_ZZZ double, "
        "Low_ZZZ double, Close_ZZZ double, Volume_ZZZ long",
    )
    res = etl_flow(
        spark,
        str(tmp_path / "lake"),
        raw_fx_prices_wide=_wide_fx(spark),
        raw_stock_prices_wide=stock,
        raw_stock_symbols=_raw_symbols(spark),
        date_stamp=D(2025, 1, 1),
    )
    failed = [c for c in res.checks if not c.passed]
    assert [c.name for c in failed] == ["relationships(symbol->symbol)"]
    assert failed[0] is res.checks[5]  # fct -> dim, not dim -> fct
    zzz_rows = res.models["fct_prices"].where("symbol = 'ZZZ'").count()
    assert zzz_rows == 2
    assert failed[0].violations == zzz_rows
    assert "ZZZ" in {r[0] for r in failed[0].sample}
