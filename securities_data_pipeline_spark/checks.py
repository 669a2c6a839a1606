"""Declarative data-quality framework.

One mechanism covering both of the reference's validation layers:

- pandera stage schemas with ``lazy=True`` error collection
  (py_pipeline/validate.py:9-85, raises ``SchemaErrors`` with *all*
  violations — asserted by tests/transform_test.py:23-29);
- dbt's declarative tests: ``not_null``, ``unique``,
  ``accepted_values``, bidirectional ``relationships``
  (dw_transformer/models/properties.yml:10-52,96-170), which dbt
  compiles to SQL and runs **in production on every pipeline run**.

Every check compiles to a filter, aggregate or anti-join over the
DataFrame and runs nothing when called: it records its violating-rows
frame and a bounded sample projection. ``run_checks`` counts a whole
suite in one action (a union of the violating frames tagged by check,
grouped and counted), then fetches samples only for the checks that
failed. No data rows reach the driver beyond those samples, so the
framework is safe to run on 100 TB tables, and a suite over the same
star schema plans and scans it once instead of twice per check.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class SchemaErrors(Exception):
    """All violations from one validation pass (pandera parity:
    lazy=True collects every failure before raising)."""

    def __init__(self, errors: list[str]):
        self.errors = errors
        super().__init__("; ".join(errors))


class CheckResult:
    """One check's outcome. Built lazily: the check records its
    violating-rows frame and its sample frame, and ``violations`` /
    ``sample`` are computed on first read — by that read alone, or for
    a whole suite at once by ``run_checks``. Once the sample is read,
    the frames are dropped and the result no longer depends on its
    input."""

    def __init__(self, name: str, bad: DataFrame, sample: DataFrame):
        self.name = name
        self._bad, self._sample_df = bad, sample
        self._violations: int | None = None
        self._sample: list | None = None

    @property
    def violations(self) -> int:
        if self._violations is None:
            self._violations = self._bad.count()
        return self._violations

    @property
    def passed(self) -> bool:
        return self.violations == 0

    @property
    def sample(self) -> list:
        if self._sample is None:
            self._sample = self._sample_df.collect() if self.violations else []
            self._bad = self._sample_df = None
        return self._sample

    def __repr__(self) -> str:
        return f"CheckResult({self.name!r}, violations={self._violations})"


# ---------------------------------------------------------------------------
# structural validation (pandera-schema parity)


def validate_schema(
    df: DataFrame,
    schema: T.StructType,
    *,
    coerce: bool = True,
    allow_extra: bool = True,
) -> DataFrame:
    """Structural validate + coerce against a declared StructType.

    Collects *all* problems (missing columns, un-coercible types,
    null-constraint breaches) then raises ``SchemaErrors`` — matching
    pandera's lazy validation. On success returns the DataFrame cast to
    the declared types with columns in schema order (pandera
    ``coerce=True`` semantics, py_pipeline/validate.py).
    """
    errors: list[str] = []
    have = {f.name for f in df.schema.fields}
    for f in schema.fields:
        if f.name not in have:
            errors.append(f"missing column: {f.name}")
    if not allow_extra:
        declared = {f.name for f in schema.fields}
        for c in df.columns:
            if c not in declared:
                errors.append(f"unexpected column: {c}")
    if errors:
        raise SchemaErrors(errors)

    out = df
    if coerce:
        out = out.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields])
    else:
        out = out.select(*[f.name for f in schema.fields])

    # nullability: one aggregate pass over all non-nullable columns
    required = [f.name for f in schema.fields if not f.nullable]
    if required:
        counts = out.agg(
            *[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in required]
        ).first()
        for c in required:
            if counts[c]:
                errors.append(f"null values in non-nullable column {c}: {counts[c]} rows")
    if errors:
        raise SchemaErrors(errors)
    return out


# ---------------------------------------------------------------------------
# row-level declarative checks (dbt-test parity)


def check_not_null(df: DataFrame, column: str, sample: int = 5) -> CheckResult:
    """dbt ``not_null`` (properties.yml:26-52). The sample carries the
    offending ROWS (the null column itself is uninformative) so the
    diagnostic identifies which records broke the constraint."""
    bad = df.where(F.col(column).isNull())
    return CheckResult(f"not_null({column})", bad, bad.limit(sample))


def check_unique(df: DataFrame, columns: str | list[str], sample: int = 5) -> CheckResult:
    """dbt ``unique`` (properties.yml:11-21): group by key, count>1."""
    cols = [columns] if isinstance(columns, str) else list(columns)
    dupes = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("n")).where(F.col("n") > 1)
    return CheckResult(f"unique({','.join(cols)})", dupes, dupes.limit(sample))


def check_accepted_values(
    df: DataFrame, column: str, values: list, sample: int = 5
) -> CheckResult:
    """dbt ``accepted_values`` (properties.yml:117-142)."""
    bad = df.where(~F.col(column).isin(values) | F.col(column).isNull())
    return CheckResult(
        f"accepted_values({column})", bad, bad.select(column).distinct().limit(sample)
    )


def check_relationships(
    child: DataFrame, child_key: str, parent: DataFrame, parent_key: str, sample: int = 5
) -> CheckResult:
    """dbt ``relationships`` (properties.yml:100-107,153-159): every
    child key must exist in the parent — a left-anti join whose right
    side is a distinct key projection (broadcastable when the parent
    key set is small; AQE decides)."""
    orphans = child.select(F.col(child_key).alias("k")).where(F.col("k").isNotNull()).join(
        parent.select(F.col(parent_key).alias("k")).distinct(), "k", "left_anti"
    )
    return CheckResult(
        f"relationships({child_key}->{parent_key})", orphans, orphans.distinct().limit(sample)
    )


def quarantine_split(
    df: DataFrame, predicates: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """Split rows into (valid, quarantined) by named validity
    predicates — the error-channel side output (reference: failed
    symbol downloads accumulate in YF_ERRORS and load continues with
    the good subset, py_pipeline/extract.py:122-137 +
    orchestration.py:110-119).

    The quarantine frame carries a ``__violations`` array naming every
    failed predicate. Both outputs are lazy filters over the same scan
    (no extra pass); at scale write the quarantine side to its own
    table and keep loading the valid side.
    """
    viols = F.array_compact(
        F.array(
            *[
                F.when(~F.coalesce(pred, F.lit(False)), F.lit(name))
                for name, pred in predicates.items()
            ]
        )
    )
    tagged = df.withColumn("__violations", viols)
    valid = tagged.where(F.size("__violations") == 0).drop("__violations")
    quarantined = tagged.where(F.size("__violations") > 0)
    return valid, quarantined


def run_checks(checks: list[CheckResult], *, raise_on_failure: bool = False) -> list[CheckResult]:
    """Check-suite runner — the ``dbt test`` step of the flow
    (py_pipeline/orchestration.py:274).

    Counts every not-yet-evaluated check in ONE action: each violating
    frame projects to its check's index, the union is grouped by index
    and counted, and an index absent from the answer had no violations.
    Checks over the same star schema share its scans and exchanges
    inside that one plan instead of re-planning and re-running it twice
    per check. Samples are then fetched for failed checks only, so on
    return every result is fully evaluated: a later run that rewrites
    the lake cannot change it."""
    pending = [c for c in checks if c._violations is None]
    if pending:
        tagged = reduce(
            DataFrame.union, [c._bad.select(F.lit(i).alias("check")) for i, c in enumerate(pending)]
        )
        counts = dict(tagged.groupBy("check").count().collect())
        for i, c in enumerate(pending):
            c._violations = counts.get(i, 0)
    for c in checks:
        c.sample  # evaluated now: a failure fetches its rows, all release their frames
    failed = [c for c in checks if not c.passed]
    if failed and raise_on_failure:
        raise SchemaErrors([f"{c.name}: {c.violations} violations" for c in failed])
    return checks


def with_observed_counts(df, name: str, *metrics):
    """Attach free pipeline metrics to a DataFrame: ``df.observe``
    accumulates the given aggregate expressions DURING whatever action
    consumes the frame — no second scan, no cached materialization.
    The production use is load-time row/null accounting on a 100 TB
    write, where a separate counting pass would double the job.

    Returns (df, observation); read ``observation.get`` AFTER an
    action has run. Default metrics: row count.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(name)
    if not metrics:
        metrics = (F.count(F.lit(1)).alias("n_rows"),)
    return df.observe(obs, *metrics), obs
