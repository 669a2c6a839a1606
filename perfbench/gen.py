"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes files only under the directory it is given, so
the same seed always yields byte-identical inputs.

- ``write_corpus``: the three tables the LLM-data and streaming queries
  read (``documents``, ``embeddings``, ``events``), shaped like the
  engine's sf0.1 test tables: same schemas, row counts and value
  distributions. The table contents are drawn once from
  ``CONTENT_SEED``; the run's seed shuffles the rows before each table
  is split into equal parquet files under ``<name>.parquet/``. Every
  seed thus holds the same rows in a different physical order, so query
  answers (and their oracle results) are seed-independent while the
  engine never reads the same files twice.
- ``PriceScenario``: the daily securities ETL input. Wide
  ``{Field}_{TICKER}`` CSVs with the yfinance 2-level header, one file
  per batch, plus the long rows the lake must hold after each batch
  (the expected-state twin the correctness check compares against).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 shapes (see the engine's TESTDATA.md)
N_DOCUMENTS = 5000
N_EMBEDDINGS = 2000
N_EVENTS = 100_000
EMBED_DIM = 64
N_LABELS = 10
N_USERS = 1500
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05  # docs that copy an earlier doc and append " dup"
EXACT_DUPS = 8
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENTS_T0 = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86400
FILES_PER_TABLE = {"documents": 4, "embeddings": 4, "events": 8}
CONTENT_SEED = 20240101


def _write_split(rng: np.random.Generator, table: pa.Table, dest: str, n_files: int) -> None:
    """Shuffle the rows and write them as ``n_files`` equal parts (equal
    sizes keep task balance, and so timing, the same for every seed)."""
    os.makedirs(dest, exist_ok=True)
    table = table.take(rng.permutation(table.num_rows))
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int).tolist()
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(table.slice(lo, hi - lo), os.path.join(dest, f"part-{i:04d}.parquet"))


def _documents(rng: np.random.Generator) -> pa.Table:
    n = N_DOCUMENTS
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # near duplicates: a later doc repeats an earlier one plus a marker
    # token, so MinHash/LSH and the component labelling find real pairs
    n_near = int(n * NEAR_DUP_SHARE)
    dst = rng.choice(np.arange(n // 2, n), n_near + EXACT_DUPS, replace=False)
    for i, d in enumerate(dst):
        src = int(rng.integers(0, n // 2))
        texts[d] = texts[src] + (" dup" if i < n_near else "")
    langs = rng.choice(LANGS, n, p=LANG_P)
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": langs.tolist(),
            "source": [f"src{i % N_SOURCES}" for i in ids],
            "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    v = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": rng.integers(0, N_LABELS, N_EMBEDDINGS).astype(np.int32),
        }
    )


def _events(rng: np.random.Generator) -> pa.Table:
    n = N_EVENTS
    offs_us = np.sort(rng.integers(0, EVENTS_SPAN_S * 1_000_000, n))
    t0_us = int(EVENTS_T0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(t0_us + offs_us, type=pa.timestamp("us")),
            "user_id": rng.integers(0, N_USERS, n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n).tolist(),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


CORPUS_TABLES = {"documents": _documents, "embeddings": _embeddings, "events": _events}


def corpus_content() -> dict[str, pa.Table]:
    """The corpus tables in generation order (identical for every run)."""
    rng = np.random.default_rng(CONTENT_SEED)
    return {name: make(rng) for name, make in CORPUS_TABLES.items()}


def content_digest(tables: dict[str, pa.Table]) -> str:
    """Fingerprint of the corpus rows, independent of layout."""
    h = hashlib.sha256()
    for name, tbl in tables.items():
        h.update(name.encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tbl.schema) as w:
            w.write_table(tbl)
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write_corpus(rng: np.random.Generator, root: str, tables: dict[str, pa.Table]) -> dict[str, dict[str, int]]:
    """Write ``tables`` under ``root`` in a layout drawn from ``rng``;
    return per-table row, column, file and byte counts."""
    stats: dict[str, dict[str, int]] = {}
    for name, tbl in tables.items():
        dest = os.path.join(root, f"{name}.parquet")
        _write_split(rng, tbl, dest, FILES_PER_TABLE[name])
        stats[name] = {
            "rows": tbl.num_rows,
            "columns": tbl.num_columns,
            "files": FILES_PER_TABLE[name],
            "bytes": sum(os.path.getsize(os.path.join(dest, f)) for f in os.listdir(dest)),
        }
    return stats


# ---------------------------------------------------------------------------
# daily securities ETL input

FIELDS = ("Open", "High", "Low", "Close", "Volume")
FX_PAIRS = ("EURUSD=X", "GBPUSD=X", "AUDUSD=X", "NZDUSD=X", "JPY=X", "CHF=X", "CAD=X")
FX_RECODE = {"CHF": "USDCHF", "CAD": "USDCAD", "JPY": "USDJPY"}
GAP_P = 0.03  # share of missing (all-null) bars
NULL_TICKER_EVERY = 20  # every 20th stock column set is a failed download


def fx_symbol(ticker: str) -> str:
    s = ticker.replace("=X", "")
    return FX_RECODE.get(s, s)


def trading_days(start: dt.date, n: int) -> list[dt.date]:
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


Bar = tuple  # (open, high, low, close, volume) with None for a gap


@dataclass
class PriceScenario:
    """Seeded T-ticker market over H backfill days plus D daily batches.

    Stock tickers use the vendor's '-' spelling; every 10th one is
    listed with a '.' in the symbols scrape (``BRK.B`` style) so the
    symbols transform's literal replace does real work. Every
    ``NULL_TICKER_EVERY``-th ticker is a failed download: its columns
    are entirely null and it is absent from the scrape. Each daily
    batch covers ``[day-1, day]`` and revises the overlapping day's
    bars, so the merge replaces rows it ingested the day before.
    """

    rng: np.random.Generator
    n_tickers: int
    backfill_days: int
    daily_batches: int
    start: dt.date = dt.date(2024, 1, 2)
    stocks: list[str] = field(init=False)
    dead: set[str] = field(init=False)
    days: list[dt.date] = field(init=False)

    def __post_init__(self) -> None:
        self.stocks = [
            f"T{i:03d}-B" if i % 10 == 3 else f"T{i:03d}" for i in range(self.n_tickers)
        ]
        self.dead = {t for i, t in enumerate(self.stocks) if i % NULL_TICKER_EVERY == 7}
        self.days = trading_days(self.start, self.backfill_days + self.daily_batches)
        self._level = {t: float(self.rng.uniform(20, 400)) for t in self.stocks}
        self._level.update({t: float(self.rng.uniform(0.5, 1.5)) for t in FX_PAIRS})
        self._level["JPY=X"] = float(self.rng.uniform(100, 160))

    def _bar(self, ticker: str) -> Bar:
        if ticker in self.dead or self.rng.random() < GAP_P:
            return (None,) * 5
        fx = ticker in FX_PAIRS
        lvl = self._level[ticker] * float(np.exp(self.rng.normal(0, 0.01)))
        self._level[ticker] = lvl
        o = lvl * float(1 + self.rng.normal(0, 0.003))
        hi = max(o, lvl) * float(1 + abs(self.rng.normal(0, 0.004)))
        lo = min(o, lvl) * float(1 - abs(self.rng.normal(0, 0.004)))
        dp = 6 if fx else 4
        vol = 0 if fx else int(self.rng.integers(10_000, 5_000_000))
        return (round(o, dp), round(hi, dp), round(lo, dp), round(lvl, dp), vol)

    def symbols_rows(self) -> list[tuple]:
        """Raw constituents scrape rows (RAW_STOCK_SYMBOLS order)."""
        rows = []
        for i, t in enumerate(self.stocks):
            if t in self.dead:
                continue
            idx = i % 3
            rows.append(
                (
                    t.replace("-", "."),
                    f"Company {t}",
                    None if i % 11 == 0 else f"Sector{i % 11}",
                    None if i % 13 == 0 else f"Industry{i % 13}",
                    idx == 0 or None,
                    idx == 1 or None,
                    idx == 2 or None,
                )
            )
        return rows

    def batches(self) -> list[list[dt.date]]:
        """The backfill window, then one ``[day-1, day]`` window per day."""
        h = self.backfill_days
        out = [self.days[:h]]
        out += [self.days[h + k - 1 : h + k + 1] for k in range(self.daily_batches)]
        return out

    def write_batch(self, days: list[dt.date], root: str, tag: str) -> dict:
        """Draw fresh bars for ``days`` (a re-drawn day is the vendor's
        revision), write the stock and FX wide CSVs, and return their
        paths with the long rows the lake must take from them."""
        out: dict = {"rows": {}}
        for kind, tickers in (("sp_stocks", self.stocks), ("fx", list(FX_PAIRS))):
            grid = {d: [self._bar(t) for t in tickers] for d in days}
            path = os.path.join(root, f"{tag}_{kind}.csv")
            with open(path, "w") as f:
                f.write(",".join(["Price"] + [fl for fl in FIELDS for _ in tickers]) + "\n")
                f.write(",".join(["Ticker"] + [t for _ in FIELDS for t in tickers]) + "\n")
                f.write("Date" + "," * (len(FIELDS) * len(tickers)) + "\n")
                for d in days:
                    cells = [
                        "" if grid[d][j][k] is None else repr(grid[d][j][k])
                        for k in range(len(FIELDS))
                        for j in range(len(tickers))
                    ]
                    f.write(f"{d.isoformat()} 00:00:00+00:00," + ",".join(cells) + "\n")
            out[kind] = path
            for j, t in enumerate(tickers):
                # a column set that is null on every row of this file is
                # pruned by the transform, so it lands nothing
                if all(grid[d][j][3] is None for d in days):
                    continue
                sym = fx_symbol(t) if kind == "fx" else t
                for d in days:
                    out["rows"][(kind, d, sym)] = grid[d][j]
        return out
