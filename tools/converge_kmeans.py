"""Rounds-to-convergence for sim_kmeans_train (SCALE.md, VERDICT r8
item 5): per Lloyd round, the assignment CHURN — the fraction of
vectors whose nearest-centroid changed versus the previous round — at
1x (sf0.1) and at an amplified factor, plus wall time per round of the
shipped trainer (``_lloyd`` with the ``_assign_literal`` E-step). Churn
hitting ~0 is the convergence signal; the point of the measurement is
that the ROUND COUNT, not the per-round cost, is what scale does not
change (each round stays one map + one bounded aggregate).

Usage: python tools/converge_kmeans.py [sf_dir] [factor] [max_rounds]
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, ".")


def churn_per_round(spark, sf_dir: str, max_rounds: int) -> list[dict]:
    from pyspark.sql import functions as F

    from securities_data_pipeline_spark.operators.similarity import (
        _assign_literal,
        _collect_centroid_rows,
        _lloyd,
        emb_table,
    )
    from securities_data_pipeline_spark.sources.tables import (
        materialize_eager,
        spread,
    )

    # the corpus and seeding of kmeans_train_roster
    emb = spread(emb_table(spark, sf_dir)).transform(materialize_eager)
    n = emb.count()
    cents = dict(_collect_centroid_rows(emb))

    def assign(roster):
        return _assign_literal(emb, list(roster.items()))

    prev = None
    out = []
    for rnd in range(1, max_rounds + 1):
        # churn: this round's E-step against the previous round's
        assigned = assign(cents).select("vec_id", "centroid_id").localCheckpoint()
        if prev is None:
            changed = n  # round 1: everything is newly assigned
        else:
            changed = (
                assigned.alias("a")
                .join(prev.alias("p"), "vec_id")
                .where(F.col("a.centroid_id") != F.col("p.centroid_id"))
                .count()
            )
        # one round of the shipped trainer, timed alone
        t0 = time.time()
        cents = _lloyd(cents, assign, ["centroid_id"], "embedding", 1)
        out.append(
            {
                "round": rnd,
                "changed": changed,
                "churn": round(changed / n, 4),
                "sec": round(time.time() - t0, 2),
            }
        )
        print(f"round {rnd}: changed={changed}/{n} ({out[-1]['churn']})"
              f" in {out[-1]['sec']}s", file=sys.stderr)
        prev = assigned
    return out


def main() -> int:
    from securities_data_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    max_rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 5

    spark = get_spark("kmeans-converge")
    res = {"sf_dir": sf_dir, "rounds_1x": churn_per_round(spark, sf_dir, max_rounds)}
    if factor > 1:
        from tools.stress_sim import amplify_embeddings

        scratch = os.path.join("/tmp", "sdp_kmeans_converge")
        os.makedirs(scratch, exist_ok=True)
        amplify_embeddings(spark, sf_dir, factor, scratch)
        res["factor"] = factor
        res[f"rounds_{factor}x"] = churn_per_round(spark, scratch, max_rounds)
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
