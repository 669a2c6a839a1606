"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()``
exposes every implemented operator from SURVEY.md §2 as
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` gives the DuckDB
equivalent for the correctness gate. Registries live in the engine
package — this file only aggregates them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The driver checks queries in registry order and may only reach the first
# ~50 per round. Policy since round 5: NEW/CHANGED queries first, then
# LEAST-RECENTLY-DRIVER-GREEN. Rounds 5-6 narrated the staleness order in
# a hand-written tuple, and the round-6 comment drifted from the actual
# coverage (VERDICT r6 "what's wrong" #3) — so since round 7 the stale
# tail is COMPUTED from the CORRECTNESS_r*.json history at import time
# (tools/staleness.py holds the same logic as a CLI). Only the
# new/changed head remains hand-maintained, per round:
_NEW_OR_CHANGED: tuple[str, ...] = (
    # a query joins when a round adds or changes it, and leaves once
    # it has a green driver row
)

#: hard cap on the hand-maintained head (VERDICT r7 item 1) — enforced
#: by tests/test_registry.py together with window coverage of every
#: ≥4-rounds-stale query, so a late-round head addition that would
#: push stale queries out of the ~50-query driver window fails CI
#: instead of silently invalidating the round's coverage claim.
#: Round 11: lowered 7 → 5 (VERDICT r10 item: post-landing window math
#: head + (head + 40) ≤ 50).
NEW_OR_CHANGED_CAP = 5
DRIVER_WINDOW = 50


def _last_green_rounds() -> dict[str, int]:
    """query -> latest round with a green driver row (0 = never).
    The green predicate and history scan live in ONE place —
    ``tools.staleness`` (ADVICE r7: the duplicated copy here could
    drift from the CLI's); the inline fallback below only covers a
    driver checkout without ``tools/`` and mirrors it verbatim."""
    import os
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    if here not in sys.path:
        sys.path.insert(0, here)
    try:
        from tools.staleness import last_green_rounds

        return last_green_rounds()
    except Exception:
        pass

    import glob
    import json
    import re

    out: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            ok = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") is not False
                and not row.get("err")
            )
            if ok:
                out[name] = max(out.get(name, 0), int(m.group(1)))
            else:
                out.setdefault(name, 0)
    return out


def _prioritized(entries: dict) -> dict:
    head = {n: i for i, n in enumerate(_NEW_OR_CHANGED)}
    greens = _last_green_rounds()

    def rank(name: str):
        if name in head:
            return (0, head[name], name)
        return (1, greens.get(name, 0), name)

    return dict(sorted(entries.items(), key=lambda kv: rank(kv[0])))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: TPC-H Q1-style pricing summary at sf0.001."""
    from securities_data_pipeline_spark.plans.relational import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from securities_data_pipeline_spark.registry import all_queries

    return _prioritized(all_queries())


def oracle_sql() -> dict[str, str]:
    from securities_data_pipeline_spark.registry import all_oracles

    return _prioritized(all_oracles())
