"""Spans, interval arithmetic and Spark-side counters for the traced run.

Everything here observes the engine from outside: spans wrap calls into
the engine's public functions, Spark job groups name the span that
submitted a job, and the per-stage counters come from Spark's status
store after the timed work is over. Streaming counters come from a
``StreamingQueryListener`` registered by the benchmark.
"""

from __future__ import annotations

import functools
import itertools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql.streaming import StreamingQueryListener

LAYERS = (
    "pipeline",
    "sources.wide_csv",
    "functions.cleaning",
    "load",
    "plans.models",
    "checks",
    "operators.dedup",
    "operators.similarity",
    "operators.textops",
    "operators.curation",
    "sources.tables",
    "sources.validated",
    "streaming.ingest",
)
COMMON = ("self_s", "driver_s", "jobs", "cpu_s", "shuffle_bytes", "spill_bytes", "input_bytes")
LOAD_EXTRA = ("bytes_written", "files_written", "write_amplification", "lake_files")
STREAM_EXTRA = (
    "query_planning_ms",
    "add_batch_ms",
    "wal_commit_ms",
    "state_commit_ms",
    "state_rows",
    "state_mem_bytes",
    "batches",
)
PACKAGE = "securities_data_pipeline_spark"


def per_layer_names() -> list[str]:
    names = [f"{layer}.{c}" for layer in LAYERS for c in COMMON]
    names += [f"load.{c}" for c in LOAD_EXTRA]
    names += [f"streaming.ingest.{c}" for c in STREAM_EXTRA]
    return names + ["traced.run_s"]


def layer_of(module: str) -> str:
    """``securities_data_pipeline_spark.operators.dedup`` -> ``operators.dedup``."""
    return module[len(PACKAGE) + 1 :] if module.startswith(PACKAGE + ".") else module


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None


# ---------------------------------------------------------------------------
# interval arithmetic (pure; unit-tested)


def merge_intervals(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(iv):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def subtract(base: list[tuple[float, float]], cut: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Parts of the ``base`` intervals not covered by any ``cut`` interval."""
    cut = merge_intervals(cut)
    out = []
    for a, b in merge_intervals(base):
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
            if cur >= b:
                break
        if cur < b:
            out.append((cur, b))
    return out


def length(iv: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in iv)


def self_intervals(spans: list[Span]) -> dict[int, list[tuple[float, float]]]:
    """Each span's interval minus the parts its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {s.sid: [] for s in spans}
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.sid: subtract([(s.start, s.end)], kids[s.sid]) for s in spans}


def innermost(spans: list[Span], t: float) -> Span | None:
    """The latest-starting span open at time ``t`` (spans nest on one thread)."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


# ---------------------------------------------------------------------------
# span recording


class Tracer:
    """In-memory span recorder. Each span sets the Spark job group
    ``pb-<sid>`` on the calling thread, so jobs it submits are
    attributable from the status store afterwards."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: list[int] = []

    def reset(self) -> None:
        """Drop recorded spans (their jobs died with a stopped SparkContext)."""
        self.spans.clear()

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sc = SparkContext._active_spark_context
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        sc.setJobGroup(f"pb-{sid}", name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(sid, name, layer, t0, time.time(), parent))
            self._stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", f"pb-{self._stack[-1]}" if self._stack else None)

    def wrap(self, fn, layer: str | None = None):
        layer = layer or layer_of(fn.__module__)

        @functools.wraps(fn)
        def inner(*a, **kw):
            with self.span(fn.__name__, layer):
                return fn(*a, **kw)

        return inner

    def patch(self, module, names: list[str], layer: str | None = None) -> None:
        """Replace ``module.<name>`` with a span-recording wrapper."""
        if self.enabled:
            for n in names:
                setattr(module, n, self.wrap(getattr(module, n), layer))


# ---------------------------------------------------------------------------
# Spark status store


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def read_status_store(spark) -> tuple[list[dict], dict[int, dict]]:
    """All jobs (id, group, submit/complete epoch seconds, stage ids) and
    the last attempt of every stage with its task-metric totals."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = []
    for j in _seq(store.jobsList(None)):
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is None:
            continue
        jobs.append(
            {
                "id": j.jobId(),
                "group": _opt(j.jobGroup()),
                "start": sub.getTime() / 1000.0,
                "end": (done.getTime() if done is not None else sub.getTime()) / 1000.0,
                "stages": [int(x) for x in _seq(j.stageIds())],
            }
        )
    stages: dict[int, dict] = {}
    for sid in sorted({st for j in jobs for st in j["stages"]}):
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a skipped stage never ran an attempt
            continue
        stages[sid] = {
            "cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "input_bytes": s.inputBytes(),
        }
    return jobs, stages


def layer_counters(spans: list[Span], jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Fold spans and jobs into ``<layer>.<counter>`` sums; every
    per-layer metric is present, extras at 0 for the caller to fill.

    A job belongs to the span whose job group it carries; a job from a
    thread the benchmark does not own (stream executions, engine worker
    threads) belongs to the innermost span open when it was submitted.
    ``driver_s`` is self time during which no job of any span ran.
    """
    out = dict.fromkeys(per_layer_names(), 0.0)
    by_id = {s.sid: s for s in spans}
    selfs = self_intervals(spans)
    busy = merge_intervals([(j["start"], j["end"]) for j in jobs])
    for s in spans:
        out[f"{s.layer}.self_s"] += length(selfs[s.sid])
        out[f"{s.layer}.driver_s"] += length(subtract(selfs[s.sid], busy))
    seen: set[int] = set()
    for j in jobs:
        g = j["group"]
        owner = by_id.get(int(g[3:])) if g and g.startswith("pb-") else innermost(spans, j["start"])
        if owner is None:
            continue
        out[f"{owner.layer}.jobs"] += 1
        for st in j["stages"]:
            if st in seen or st not in stages:
                continue
            seen.add(st)
            for c in ("cpu_s", "shuffle_bytes", "spill_bytes", "input_bytes"):
                out[f"{owner.layer}.{c}"] += stages[st][c]
    return out


# ---------------------------------------------------------------------------
# streaming progress


class ProgressListener(StreamingQueryListener):
    """Sums per-trigger durations and keeps each query's last state size."""

    def __init__(self):
        self.batches = 0
        self.durations = {"queryPlanning": 0, "addBatch": 0, "walCommit": 0}
        self.state_commit_ms = 0
        self.last_state: dict[str, tuple[int, int]] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches += 1
        for k in self.durations:
            self.durations[k] += int(p.durationMs.get(k, 0) or 0)
        ops = p.stateOperators or []
        self.state_commit_ms += sum(int(o.commitTimeMs) for o in ops)
        self.last_state[str(p.id)] = (
            sum(int(o.numRowsTotal) for o in ops),
            sum(int(o.memoryUsedBytes) for o in ops),
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def counters(self) -> dict[str, float]:
        pre = "streaming.ingest."
        return {
            pre + "query_planning_ms": self.durations["queryPlanning"],
            pre + "add_batch_ms": self.durations["addBatch"],
            pre + "wal_commit_ms": self.durations["walCommit"],
            pre + "state_commit_ms": self.state_commit_ms,
            pre + "state_rows": sum(r for r, _ in self.last_state.values()),
            pre + "state_mem_bytes": sum(m for _, m in self.last_state.values()),
            pre + "batches": self.batches,
        }


# ---------------------------------------------------------------------------
# files written (load layer)


def parquet_files(root: str, since: float = 0.0) -> tuple[int, int]:
    """(files, bytes) of data files under ``root`` modified at or after ``since``."""
    n = b = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(d, f))
            if st.st_mtime >= since:
                n, b = n + 1, b + st.st_size
    return n, b


class WriteRecorder:
    """Counts the data files and bytes each DataFrameWriter.parquet call
    leaves behind, including merge stage copies deleted later."""

    def __init__(self):
        self.files = 0
        self.bytes = 0

    @contextmanager
    def installed(self, enabled: bool):
        if not enabled:
            yield
            return
        from pyspark.sql.readwriter import DataFrameWriter

        orig = DataFrameWriter.parquet
        rec = self

        @functools.wraps(orig)
        def parquet(writer, path, *a, **kw):
            t0 = time.time() - 1.0  # file mtimes have coarse resolution on some filesystems
            out = orig(writer, path, *a, **kw)
            n, b = parquet_files(path, t0)
            rec.files += n
            rec.bytes += b
            return out

        DataFrameWriter.parquet = parquet
        try:
            yield
        finally:
            DataFrameWriter.parquet = orig
