"""Unit tests for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pytest

from perfbench import gen
from perfbench.trace import Span, innermost, layer_counters, merge_intervals, self_intervals, subtract


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            h.update(os.path.relpath(os.path.join(d, f), root).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _etl_inputs(seed: int, root: str) -> tuple[str, dict]:
    scn = gen.PriceScenario(np.random.default_rng(seed), 12, 5, 2)
    os.makedirs(root)
    rows: dict = {}
    for i, days in enumerate(scn.batches()):
        rows.update(scn.write_batch(days, root, f"b{i}")["rows"])
    return _digest(root), rows


def test_corpus_generator_is_deterministic_per_seed(tmp_path):
    content = gen.corpus_content()
    stats = gen.write_corpus(np.random.default_rng(7), str(tmp_path / "a"), content)
    gen.write_corpus(np.random.default_rng(7), str(tmp_path / "b"), content)
    gen.write_corpus(np.random.default_rng(8), str(tmp_path / "c"), content)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert stats["events"]["rows"] == gen.N_EVENTS
    assert len(os.listdir(tmp_path / "a" / "events.parquet")) == gen.FILES_PER_TABLE["events"]


def test_etl_generator_is_deterministic_per_seed(tmp_path):
    a, rows_a = _etl_inputs(3, str(tmp_path / "a"))
    b, rows_b = _etl_inputs(3, str(tmp_path / "b"))
    c, _ = _etl_inputs(4, str(tmp_path / "c"))
    assert a == b and rows_a == rows_b
    assert a != c


def test_etl_batches_overlap_and_revise(tmp_path):
    scn = gen.PriceScenario(np.random.default_rng(1), 40, 5, 3)
    batches = scn.batches()
    assert len(batches[0]) == 5
    assert all(len(b) == 2 and b[0] == prev[-1] for prev, b in zip(batches, batches[1:]))
    first = scn.write_batch(batches[0], str(tmp_path), "b0")["rows"]
    second = scn.write_batch(batches[1], str(tmp_path), "b1")["rows"]
    day = batches[1][0]
    shared = [k for k in second if k[1] == day and k in first]
    assert shared and any(first[k] != second[k] for k in shared)
    # failed downloads never reach the lake and are absent from the scrape
    dead = {t for t in scn.dead}
    assert dead and not any(k[2] in dead for k in first)
    listed = {r[0].replace(".", "-") for r in scn.symbols_rows()}
    assert not listed & dead
    # some bars are missing but their tickers still land (null rows)
    assert any(v[3] is None for v in first.values())


def test_oracle_compare_rejects_a_perturbed_row():
    from perfbench.oracle import compare
    from tools.check_oracle import canon

    cols, types, otypes = ["k", "v"], {"k": "bigint", "v": "double"}, ["BIGINT", "DOUBLE"]
    rows = [(1, 0.5), (2, 1.25), (3, 2.0)]
    oracle = canon(list(reversed(rows)), cols)
    assert compare(cols, rows, types, cols, oracle, otypes) == ""
    bad = [(1, 0.5), (2, 1.2500001), (3, 2.0)]
    assert "values differ" in compare(cols, bad, types, cols, oracle, otypes)
    assert "rowcount" in compare(cols, rows[:2], types, cols, oracle, otypes)
    assert "type families" in compare(cols, rows, types, cols, oracle, ["BIGINT", "VARCHAR"])
    assert "columns" in compare(["k", "w"], rows, {"k": "bigint", "w": "double"}, cols, oracle, otypes)


def test_star_twin_forward_fills_from_previous_close():
    import datetime as dt

    from perfbench.oracle import star_twin

    scn = gen.PriceScenario(np.random.default_rng(0), 10, 2, 1)
    d1, d2, d3 = dt.date(2024, 1, 2), dt.date(2024, 1, 3), dt.date(2024, 1, 4)
    none = (None,) * 5
    expected = {
        ("sp_stocks", d1, "T000"): (1.004, 2.0, 0.5, 1.006, 10),
        ("sp_stocks", d2, "T000"): none,
        ("sp_stocks", d3, "T000"): none,
        ("fx", d1, "USDJPY"): (150.12345, 151.0, 149.0, 150.98765, 0),
    }
    cols, rows, _, dim = star_twin(expected, scn, d1)
    got = {r[cols.index("date_stamp")]: r for r in rows if r[cols.index("symbol")] == "T000"}
    close = cols.index("close")
    assert got[d1][close] == 1.01  # rounded to 2 dp before the fill
    assert got[d2][cols.index("open")] == 1.01 and got[d2][cols.index("volume")] == 0
    assert got[d3][close] is None  # the fill source is the previous row's raw close
    jpy = next(r for r in rows if r[cols.index("symbol")] == "USDJPY")
    assert jpy[close] == 150.988  # USDJPY keeps 3 dp
    assert ("USDJPY", None, None, None, "FX", False, False, False, None) in dim


def test_interval_arithmetic():
    assert merge_intervals([(3, 4), (0, 1), (0.5, 2), (5, 5)]) == [(0, 2), (3, 4)]
    assert subtract([(0, 10)], [(2, 3), (2.5, 4), (9, 12)]) == [(0, 2), (4, 9)]
    assert subtract([(0, 1)], [(-1, 2)]) == []


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span(0, "etl_flow", "pipeline", 0.0, 10.0, None),
        Span(1, "load_prices", "load", 1.0, 4.0, 0),
        Span(2, "inner", "load", 2.0, 3.0, 1),
        Span(3, "check_unique", "checks", 5.0, 9.0, 0),
    ]
    selfs = self_intervals(spans)
    assert sum(b - a for a, b in selfs[0]) == pytest.approx(3.0)
    assert sum(b - a for a, b in selfs[1]) == pytest.approx(2.0)
    assert sum(b - a for a, b in selfs[2]) == pytest.approx(1.0)
    # self times partition the root span exactly
    assert sum(b - a for iv in selfs.values() for a, b in iv) == pytest.approx(10.0)
    assert innermost(spans, 2.5).sid == 2 and innermost(spans, 4.5).sid == 0
    assert innermost(spans, 11.0) is None


def test_layer_counters_attribute_jobs_and_driver_time():
    spans = [
        Span(0, "etl_flow", "pipeline", 0.0, 10.0, None),
        Span(1, "load_prices", "load", 1.0, 4.0, 0),
    ]
    jobs = [
        {"id": 0, "group": "pb-1", "start": 1.5, "end": 2.5, "stages": [0, 1]},
        # a job from a thread the benchmark does not own: attributed by time
        {"id": 1, "group": "stream-run", "start": 6.0, "end": 7.0, "stages": [1, 2]},
        {"id": 2, "group": None, "start": 20.0, "end": 21.0, "stages": [3]},
    ]
    st = {i: {"cpu_s": 1.0, "shuffle_bytes": 10, "spill_bytes": 0, "input_bytes": 5} for i in range(4)}
    out = layer_counters(spans, jobs, st)
    assert out["load.jobs"] == 1 and out["pipeline.jobs"] == 1
    assert out["load.cpu_s"] == 2.0
    assert out["pipeline.cpu_s"] == 1.0  # stage 1 counted once, with its first job
    assert out["load.self_s"] == pytest.approx(3.0) and out["load.driver_s"] == pytest.approx(2.0)
    assert out["pipeline.self_s"] == pytest.approx(7.0) and out["pipeline.driver_s"] == pytest.approx(6.0)


def test_benchmark_json_declares_exactly_the_traced_metrics():
    import json

    from perfbench.trace import per_layer_names

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == per_layer_names()
    assert {m["name"] for m in spec["end_to_end"]} == {
        "setup_s", "run_s", "op_p50_s", "peak_rss_mb", "backfill_s", "rows_per_s"
    }
