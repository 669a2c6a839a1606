"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed`` under ``.perfbench_work/`` in the checkout, sets up the
engine several times (``setup_s`` is the median), runs the workload's
operations closed-loop until ``--seconds`` have passed (always at least
one full pass; ``run_s`` and ``backfill_s`` are per-pass medians),
checks every operation's output, and prints one JSON line last:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
SETUPS = 3


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_ticks() -> list[int]:
    """System-wide CPU time counters (user, nice, system, idle, ..., steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def pin_environment(work: str) -> dict[str, str]:
    """Environment and Spark conf for the run; everything the engine
    or Spark writes lands under ``work``."""
    ncpu = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(work, k) for k in ("local", "tmp", "clean", "ckpt", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update(
        {
            # Python workers import engine modules by name (pandas UDFs, state functions)
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "SPARK_GRAFT_CPUS": str(ncpu),
            "SPARK_LOCAL_DIRS": dirs["local"],
            "TMPDIR": dirs["tmp"],
            "SPARK_GRAFT_CLEAN_DIR": dirs["clean"],
            "SPARK_GRAFT_STREAM_CKPT": dirs["ckpt"],
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            # no hsperfdata files in /tmp, from the launcher JVM or the driver
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
    )
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_MATERIALIZE",
              "SPARK_GRAFT_GATE_MODE", "SPARK_GRAFT_STREAM_PARTITIONS"):
        os.environ.pop(k, None)
    return {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={work} -XX:-UsePerfData",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # the engine must be importable from the checkout; fail before any work otherwise
    import securities_data_pipeline_spark  # noqa: F401
    import tools.check_oracle  # noqa: F401

    import numpy as np

    from perfbench import trace
    from perfbench.workloads import WORKLOADS, build_oracle_cache

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        conf = pin_environment(work)
        from securities_data_pipeline_spark.session import get_spark

        cache = build_oracle_cache(work, os.path.join(ROOT, ".perfbench_cache"))
        wl = WORKLOADS[args.workload]()
        sizes = wl.prepare(np.random.default_rng(args.seed), work, cache)
        print(f"# inputs: {json.dumps(sizes)}", file=sys.stderr)

        tracer = trace.Tracer(enabled=bool(args.trace))
        wl.instrument(tracer)
        setup_s = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
                shutil.rmtree(os.environ["SPARK_GRAFT_CLEAN_DIR"])
                os.makedirs(os.environ["SPARK_GRAFT_CLEAN_DIR"])
            tracer.reset()  # keep only the spans of the session the run uses
            t0 = time.perf_counter()
            spark = get_spark("perfbench", extra_conf=conf)
            wl.setup(spark)
            setup_s.append(time.perf_counter() - t0)

        listener = None
        if args.trace:
            listener = trace.ProgressListener()
            spark.streams.addListener(listener)

        passes = []
        deadline = time.perf_counter() + args.seconds
        while not passes or time.perf_counter() < deadline:
            st0 = _cpu_ticks()
            passes.append(wl.run(spark, tracer))
            # host contention explains most run-to-run spread on shared boxes
            d = [b - a for a, b in zip(st0, _cpu_ticks())]
            print(f"# pass: steal {d[7] / sum(d):.3f} idle {d[3] / sum(d):.3f}", file=sys.stderr)
            wl.verify(passes[-1])
        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0

        ops = [op for p in passes for op in p.ops]
        failed = [op for op in ops if not op.ok]
        for op in failed:
            print(f"# FAILED {op.name}: {op.error}", file=sys.stderr)
        run_s = statistics.median(p.run_s for p in passes)
        if args.trace:
            jobs, stages = trace.read_status_store(spark)
            metrics = trace.layer_counters(tracer.spans, jobs, stages)
            for p in passes:
                for k, v in p.extra.items():
                    metrics[k] += v
            metrics.update(listener.counters())
            metrics["traced.run_s"] = run_s
        else:
            rows = passes[0].rows
            metrics = {
                "setup_s": statistics.median(setup_s),
                "run_s": run_s,
                "op_p50_s": statistics.median(op.seconds for op in ops),
                "peak_rss_mb": peak_mb,
                "backfill_s": statistics.median(p.backfill_s for p in passes),
                "rows_per_s": rows / run_s,
            }
        declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
        if set(metrics) != set(declared):
            raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(declared))}")
        print(f"# setups: {[round(s, 3) for s in setup_s]} passes: {len(passes)}", file=sys.stderr)
        print(f"# ops: {[(op.name, round(op.seconds, 2)) for op in ops]} backfill: {[round(p.backfill_s, 2) for p in passes]}", file=sys.stderr)
        result = {
            "correct": not failed,
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": {k: {"value": float(v), "unit": declared[k]} for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work dir is still there
            pass
    print(json.dumps(result))
    return 0


def _stop(spark) -> None:
    """Stop Spark, then the gateway JVM (which takes its Python workers
    with it), and wait for the JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
