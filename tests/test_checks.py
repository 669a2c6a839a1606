"""Check framework: pandera-style structural validation + dbt-style
declarative tests (reference: py_pipeline/validate.py, dbt
properties.yml)."""

import pytest
from pyspark.sql import types as T

from securities_data_pipeline_spark.checks import (
    SchemaErrors,
    check_accepted_values,
    check_not_null,
    check_relationships,
    check_unique,
    run_checks,
    validate_schema,
)

SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType(), False),
        T.StructField("price", T.DoubleType(), True),
    ]
)


def test_validate_coerces_types(spark):
    df = spark.createDataFrame([("A", "1.5")], "symbol string, price string")
    out = validate_schema(df, SCHEMA)
    assert out.schema["price"].dataType == T.DoubleType()
    assert out.collect()[0].price == 1.5


def test_validate_collects_all_missing_columns(spark):
    df = spark.createDataFrame([(1,)], "other int")
    with pytest.raises(SchemaErrors) as ei:
        validate_schema(df, SCHEMA)
    assert len(ei.value.errors) == 2  # both missing columns reported


def test_validate_null_constraint(spark):
    df = spark.createDataFrame([(None, 1.0), ("A", 2.0)], "symbol string, price double")
    with pytest.raises(SchemaErrors, match="non-nullable column symbol"):
        validate_schema(df, SCHEMA)


def test_validate_strict_mode_rejects_extras(spark):
    df = spark.createDataFrame([("A", 1.0, 9)], "symbol string, price double, extra int")
    with pytest.raises(SchemaErrors, match="unexpected column: extra"):
        validate_schema(df, SCHEMA, allow_extra=False)


def test_row_checks(spark):
    df = spark.createDataFrame(
        [("A", "FX"), ("A", "Stock"), ("B", None), ("C", "Bond")],
        "symbol string, asset_type string",
    )
    assert not check_unique(df, "symbol").passed
    assert check_unique(df.where("symbol <> 'A'"), "symbol").passed
    assert not check_not_null(df, "asset_type").passed
    bad = check_accepted_values(df, "asset_type", ["FX", "Stock"])
    assert not bad.passed and bad.violations == 2  # null + 'Bond'


def test_relationships_bidirectional(spark):
    dim = spark.createDataFrame([("A",), ("B",)], "symbol string")
    fct = spark.createDataFrame([("A",), ("A",), ("C",)], "symbol string")
    assert not check_relationships(fct, "symbol", dim, "symbol").passed  # C orphan
    assert not check_relationships(dim, "symbol", fct, "symbol").passed  # B childless
    ok = spark.createDataFrame([("A",), ("B",)], "symbol string")
    assert check_relationships(ok, "symbol", dim, "symbol").passed


def test_run_checks_raises_with_all_failures(spark):
    df = spark.createDataFrame([("A",), ("A",)], "symbol string")
    with pytest.raises(SchemaErrors, match="unique"):
        run_checks([check_unique(df, "symbol")], raise_on_failure=True)


def test_observed_counts_piggyback_on_action(spark):
    """df.observe metrics accumulate during the consuming action —
    row + null accounting with zero extra scans."""
    from pyspark.sql import functions as F

    from securities_data_pipeline_spark.checks import with_observed_counts

    df = spark.createDataFrame(
        [("A", 1.0), (None, 2.0), ("C", None)], "symbol string, price double"
    )
    observed, obs = with_observed_counts(
        df, "load_metrics",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("symbol").isNull().cast("long")).alias("null_symbols"),
    )
    assert observed.count() == 3  # the action that drives the metrics
    assert obs.get == {"n_rows": 3, "null_symbols": 1}


def _broken_star(spark):
    """A dim/fct pair that breaks each of the flow's seven checks."""
    import datetime as dt

    D = dt.date
    dim = spark.createDataFrame(
        [("A", "Stock"), ("A", "FX"), (None, "Stock"), ("B", "Bond"), ("C", "FX")],
        "symbol string, asset_type string",
    )  # duplicate A, NULL symbol, 'Bond', childless C
    fct = spark.createDataFrame(
        [
            ("A", D(2025, 1, 1)),
            ("B", D(2025, 1, 1)),
            (None, D(2025, 1, 2)),
            ("A", None),
            ("Z", D(2025, 1, 1)),
            ("Z", D(2025, 1, 2)),
        ],
        "symbol string, date_stamp date",
    )  # NULL symbol, NULL date, orphan Z (two rows)
    return dim, fct


def _suite(dim, fct):
    return [
        check_unique(dim, "symbol"),
        check_not_null(dim, "symbol"),
        check_accepted_values(dim, "asset_type", ["FX", "Stock"]),
        check_not_null(fct, "symbol"),
        check_not_null(fct, "date_stamp"),
        check_relationships(fct, "symbol", dim, "symbol"),
        check_relationships(dim, "symbol", fct, "symbol"),
    ]


def test_fused_suite_on_failing_data(spark):
    """One fused count for the suite gives every check the violations
    and sample it gets when evaluated alone."""
    import datetime as dt

    checks = _suite(*_broken_star(spark))
    assert checks[0].violations == 1  # read before run_checks: evaluates alone
    results = run_checks(checks)
    got = [(c.name, c.passed, c.violations, {tuple(r) for r in c.sample}) for c in results]
    assert got == [
        ("unique(symbol)", False, 1, {("A", 2)}),
        ("not_null(symbol)", False, 1, {(None, "Stock")}),
        ("accepted_values(asset_type)", False, 1, {("Bond",)}),
        ("not_null(symbol)", False, 1, {(None, dt.date(2025, 1, 2))}),
        ("not_null(date_stamp)", False, 1, {("A", None)}),
        ("relationships(symbol->symbol)", False, 2, {("Z",)}),
        ("relationships(symbol->symbol)", False, 1, {("C",)}),
    ]


def test_run_checks_results_outlive_their_input(spark, tmp_path):
    """After run_checks every result is evaluated: rewriting the files
    the checks read does not change it."""
    path = str(tmp_path / "dim")
    spark.createDataFrame([("A",), ("A",), ("B",)], "symbol string").write.parquet(path)
    results = run_checks([check_unique(spark.read.parquet(path), "symbol")])
    spark.createDataFrame([("C",)], "symbol string").write.mode("overwrite").parquet(path)
    assert [(c.passed, c.violations, [tuple(r) for r in c.sample]) for c in results] == [
        (False, 1, [("A", 2)])
    ]
