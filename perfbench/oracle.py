"""Correctness verdicts, computed outside the timed region.

Query workloads: each query's collected rows are compared with its
DuckDB oracle (``all_oracles()``) run over the same seeded files, using
the canonicalisation of ``tools/check_oracle.py``.

etl_daily: ``fct_prices`` and ``dim_symbols`` must equal a DuckDB twin
of the star-schema models computed over the long rows the generator
says the lake must hold.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

from perfbench.gen import PriceScenario, content_digest

TABLES = ("documents", "embeddings", "events")


def tables_read(query: str) -> list[str]:
    from securities_data_pipeline_spark.registry import all_oracles

    return [t for t in TABLES if re.search(rf"\b{t}\b", all_oracles()[query])]


def compare(scols, srows, stypes: dict, ocols, orows, otypes) -> str:
    """'' when the Spark result matches the oracle's, else the first
    difference: column names, type families, then rows. ``orows`` are
    already in ``canon`` form (that is how the cache keeps them)."""
    from tools.check_oracle import canon, type_family

    if sorted(scols) != sorted(ocols):
        return f"columns {sorted(scols)} != {sorted(ocols)}"
    tmism = [(c, stypes[c], t) for c, t in zip(ocols, otypes) if type_family(stypes[c]) != type_family(t)]
    if tmism:
        return f"type families differ: {tmism}"
    return first_diff(canon(srows, scols), orows)


def first_diff(cs: list, co: list) -> str:
    """'' when two canonical row lists are equal, else the first difference."""
    if len(cs) != len(co):
        return f"rowcount {len(cs)} != {len(co)}"
    for i, (a, b) in enumerate(zip(cs, co)):
        if a != b:
            return f"values differ at sorted row {i}: {a} != {b}"
    return ""


class OracleCache:
    """DuckDB oracle answers for the corpus queries, kept on disk.

    The corpus rows are the same for every seed (only their layout
    changes), so each oracle answer is computed once per checkout and
    reused. An entry is keyed by the corpus content digest, the oracle
    SQL text and the DuckDB version, so changing any of them recomputes
    it. Answers are stored in canonical form (``canon``), which is all
    the comparison needs."""

    def __init__(self, root: str, tables: dict):
        self.root = root
        self.tables = tables
        self.digest = content_digest(tables)
        os.makedirs(root, exist_ok=True)

    def complete(self, names) -> bool:
        from securities_data_pipeline_spark.registry import all_oracles

        oracles = all_oracles()
        return all(os.path.exists(self._path(n, oracles[n])) for n in names)

    def _path(self, name: str, sql: str) -> str:
        import duckdb

        key = hashlib.sha256(f"{self.digest}\0{sql}\0{duckdb.__version__}".encode()).hexdigest()[:24]
        return os.path.join(self.root, f"{name}-{key}.json")

    def answers(self, data_dir: str, names: list[str]) -> dict[str, dict]:
        """query -> {"columns", "types", "rows"} (canonical rows)."""
        import duckdb

        from securities_data_pipeline_spark.registry import all_oracles
        from tools.check_oracle import canon

        oracles = all_oracles()
        out, missing = {}, []
        for name in names:
            path = self._path(name, oracles[name])
            if os.path.exists(path):
                with open(path) as f:
                    out[name] = json.load(f)
            else:
                missing.append(name)
        if not missing:
            return out
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory = '{data_dir}.duckdb_tmp'")
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')")
            for name in missing:
                try:
                    res = con.sql(oracles[name])
                    cols, types, rows = list(res.columns), [str(t) for t in res.types], res.fetchall()
                except duckdb.Error as ex:  # reported as that query's failure, never cached
                    out[name] = {"error": f"oracle error: {ex}"[:300]}
                    continue
                ans = {"columns": cols, "types": types, "rows": canon(rows, cols)}
                path = self._path(name, oracles[name])
                with open(path + ".tmp", "w") as f:
                    json.dump(ans, f)
                os.replace(path + ".tmp", path)
                out[name] = ans
        finally:
            con.close()
        return out


def check_queries(cache: OracleCache, data_dir: str, results: dict[str, tuple]) -> dict[str, str]:
    """query -> error ('' when it matches its oracle)."""
    answers = cache.answers(data_dir, list(results))
    errs = {}
    for name, (scols, srows, stypes) in results.items():
        a = answers[name]
        if "error" in a:
            errs[name] = a["error"]
            continue
        # ``canon`` rows are tuples of strings; JSON gave them back as lists
        orows = [tuple(r) for r in a["rows"]]
        errs[name] = compare(scols, srows, stypes, a["columns"], orows, a["types"])
    return errs


# DuckDB twin of plans/models.py (the dbt staging + core models)
_STAR_SQL = """
WITH stg_stock AS (
  SELECT date_stamp, symbol,
    CAST(round(CAST(open AS DECIMAL(38,12)), 2) AS DOUBLE) AS open,
    CAST(round(CAST(high AS DECIMAL(38,12)), 2) AS DOUBLE) AS high,
    CAST(round(CAST(low AS DECIMAL(38,12)), 2) AS DOUBLE) AS low,
    CAST(round(CAST(close AS DECIMAL(38,12)), 2) AS DOUBLE) AS close,
    volume
  FROM lake WHERE kind = 'sp_stocks'
), stg_fx AS (
  SELECT date_stamp, symbol,
    CASE WHEN symbol = 'USDJPY' THEN CAST(round(CAST(open AS DECIMAL(38,12)), 3) AS DOUBLE)
         ELSE CAST(round(CAST(open AS DECIMAL(38,12)), 5) AS DOUBLE) END AS open,
    CASE WHEN symbol = 'USDJPY' THEN CAST(round(CAST(high AS DECIMAL(38,12)), 3) AS DOUBLE)
         ELSE CAST(round(CAST(high AS DECIMAL(38,12)), 5) AS DOUBLE) END AS high,
    CASE WHEN symbol = 'USDJPY' THEN CAST(round(CAST(low AS DECIMAL(38,12)), 3) AS DOUBLE)
         ELSE CAST(round(CAST(low AS DECIMAL(38,12)), 5) AS DOUBLE) END AS low,
    CASE WHEN symbol = 'USDJPY' THEN CAST(round(CAST(close AS DECIMAL(38,12)), 3) AS DOUBLE)
         ELSE CAST(round(CAST(close AS DECIMAL(38,12)), 5) AS DOUBLE) END AS close,
    volume
  FROM lake WHERE kind = 'fx'
), base AS (SELECT * FROM stg_stock UNION ALL SELECT * FROM stg_fx)
SELECT date_stamp, symbol,
  coalesce(open, last_value(close) OVER w) AS open,
  coalesce(high, last_value(close) OVER w) AS high,
  coalesce(low, last_value(close) OVER w) AS low,
  coalesce(close, last_value(close) OVER w) AS close,
  CAST(coalesce(volume, 0) AS BIGINT) AS volume
FROM base
WINDOW w AS (PARTITION BY symbol ORDER BY date_stamp ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


def star_twin(expected: dict, scn: PriceScenario, snapshot) -> tuple[list, list, list, list]:
    """(fct columns, fct rows, dim columns, dim rows) from the expected lake."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE lake (kind VARCHAR, date_stamp DATE, symbol VARCHAR, open DOUBLE, "
            "high DOUBLE, low DOUBLE, close DOUBLE, volume BIGINT)"
        )
        con.executemany(
            "INSERT INTO lake VALUES (?, ?, ?, ?, ?, ?, ?, ?)",
            [(k, d, s, *bar) for (k, d, s), bar in expected.items()],
        )
        fct = con.sql(_STAR_SQL)
        fct_cols, fct_rows = list(fct.columns), fct.fetchall()
        fx_syms = con.sql("SELECT DISTINCT symbol FROM lake WHERE kind = 'fx'").fetchall()
    finally:
        con.close()
    dim_cols = ["symbol", "name", "sector", "industry", "asset_type", "in_sp400", "in_sp500", "in_sp600", "date_stamp"]
    dim_rows = [(s, None, None, None, "FX", False, False, False, None) for (s,) in fx_syms]
    for sym, name, sector, industry, f4, f5, f6 in scn.symbols_rows():
        dim_rows.append(
            (sym.replace(".", "-"), name, sector or "Missing", industry or "Missing", "Stock",
             bool(f4), bool(f5), bool(f6), snapshot)
        )
    return fct_cols, fct_rows, dim_cols, dim_rows


def check_star_schema(models: dict, expected: dict, scn: PriceScenario, snapshot) -> str:
    from tools.check_oracle import canon

    fct_cols, fct_rows, dim_cols, dim_rows = star_twin(expected, scn, snapshot)
    for name, cols, rows in (("fct_prices", fct_cols, fct_rows), ("dim_symbols", dim_cols, dim_rows)):
        df = models[name]
        got = [tuple(r) for r in df.collect()]
        if sorted(df.columns) != sorted(cols):
            return f"{name}: columns {sorted(df.columns)} != {sorted(cols)}"
        err = first_diff(canon(got, df.columns), canon(rows, cols))
        if err:
            return f"{name} vs DuckDB twin: {err}"
    return ""
