"""Two-level-header CSV source — the yfinance wide-matrix format.

Reference: raw price fixtures are CSVs with a 2-level column header
(``Price`` row then ``Ticker`` row) read via
``pd.read_csv(..., header=[0,1], index_col=[0], parse_dates=True)``
(tests/transform_test.py:76-81; shape declared at
py_pipeline/validate.py:51-72). Spark CSV has no multi-header support,
so:

1. the two header lines are read driver-side (they are two lines —
   no data volume);
2. column names are flattened to ``{Field}_{TICKER}``;
3. the bulk load is a normal ``spark.read.csv`` with an explicit
   schema, and the two header rows are dropped by a null-date filter
   (header rows can't parse as timestamps).

The data path stays fully distributed — only the 2-line header peek is
driver-side, which holds at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_wide_price_csv(
    spark: SparkSession, path: str, date_col: str = "date"
) -> DataFrame:
    with open(path) as f:
        fields = [c.strip() for c in f.readline().rstrip("\n").split(",")]
        tickers = [c.strip() for c in f.readline().rstrip("\n").split(",")]

    if len(fields) != len(tickers):
        raise ValueError(
            f"ragged 2-level header: {len(fields)} field cells vs "
            f"{len(tickers)} ticker cells in {path}"
        )
    names: list[str] = []
    for i, (field, ticker) in enumerate(zip(fields, tickers)):
        if i == 0:
            names.append(date_col)  # index column: header cell is 'Price'/'Ticker'
        else:
            names.append(f"{field}_{ticker}")
    dupes = {n for n in names if names.count(n) > 1}
    if dupes:
        # a repeated (field, ticker) header pair would create ambiguous
        # columns every downstream select trips over — fail at the scan
        raise ValueError(f"duplicate flattened columns in {path}: {sorted(dupes)}")

    # Volume parses as DOUBLE, not LONG: pandas serializes a volume
    # column as floats ('53228400.0') whenever the ticker has any
    # missing bar (NaN forces float dtype), and a LongType field would
    # silently NULL every such value under PERMISSIVE mode. The
    # integer cast happens after the parse, where floats convert
    # instead of vanishing.
    schema = T.StructType(
        [T.StructField(date_col, T.StringType(), True)]
        + [T.StructField(n, T.DoubleType(), True) for n in names[1:]]
    )
    raw = spark.read.csv(path, schema=schema, header=False, mode="PERMISSIVE")
    # ONE projection for every cast: a withColumn per column re-analyses
    # the whole plan each call, quadratic in the ticker count. Backtick-
    # quote: real tickers contain dots (BRK.B, BF.B), and a bare
    # F.col("Volume_BRK.B") parses the dot as struct access and fails
    raw = raw.withColumns(
        {
            n: F.col(f"`{n}`").cast(T.LongType())
            for n in names[1:]
            if n.startswith("Volume_")
        }
    )
    # try_to_timestamp: header rows yield NULL instead of an ANSI cast
    # error, and get filtered out
    ts = F.try_to_timestamp(F.col(date_col))
    return raw.where(ts.isNotNull()).withColumn(date_col, ts)
