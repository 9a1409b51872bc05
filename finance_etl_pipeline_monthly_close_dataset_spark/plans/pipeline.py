"""End-to-end monthly-close orchestration (SURVEY.md §3.1).

Mirrors the reference's ``run_month`` (``src/finance_etl/pipeline.py:50-191``):

read typed inputs -> collect ALL DQ exceptions -> severity -> write
audit CSVs (ALWAYS, even when about to fail) -> gate -> month-window
filter -> FX prep -> fact build -> KPI pivot -> Parquet sinks.

``plan_close`` builds the close as two lazy plans (DQ exceptions and
fact); ``run_month`` executes them.  Validation is a side channel, not
a transform (SURVEY.md §7.4 item 7, Q17): the fact is built from the
same typed inputs the DQ sweep checks.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import Settings
from ..functions.datetime_fns import month_window
from ..schemas import COA_SCHEMA, DQ_EXCEPTIONS_SCHEMA, RAW_SCHEMAS
from ..sources.raw_lake import read_lake_unique_exceptions, read_raw_lake
from ..sources.readers import ROW_ID_COL, read_csv, read_csv_typed
from ..sources.writers import write_csv_single_file, write_parquet
from .quality import (
    DATASETS,
    account_in_coa_exceptions,
    add_severity,
    build_dataset_specs,
    checked_slice,
    coa_membership_check,
    collect_exceptions,
    dq_summary_table,
    schema_shape_exceptions,
)
from .transforms import (
    MissingFxRatesError,
    build_dim_accounts,
    fx_to_base,
    kpi_monthly,
    to_fact_transactions,
)


class DataQualityGateError(ValueError):
    """Raised when the DQ gate fails (reference pipeline.py:145-146)."""


def plan_has_month_partition_filter(plan: str) -> bool:
    """True iff the formatted plan's PartitionFilters entry ITSELF
    carries the month predicate.  'month' appearing anywhere in the
    plan text is weak -- it also shows up in PushedFilters and the
    output schema, so a reader that scans every partition could still
    pass the loose check (ADVICE r12).  Shared by the lake-pruning
    assertion in tools/stress_pipeline.py and the golden-scale e2e."""
    import re

    return bool(re.search(r"PartitionFilters: \[[^\]]*month", plan))


# The chart of accounts is collected to the driver and inlined as a
# literal isin ONLY below this row count; over the cap the close falls
# back to the broadcast anti-join so an unexpectedly large chart can't
# bloat codegen or OOM the driver.  Module-level so tests can
# monkeypatch it to force the fallback path.
COA_FUSION_CAP = 10_000


@dataclass(frozen=True)
class ClosePlan:
    """One month's close as lazy plans; nothing has been written.

    ``persisted`` holds the frames ``plan_close`` marked for caching;
    whoever runs the plans must unpersist them."""

    dim_accounts: DataFrame
    dq_exceptions: DataFrame
    fact: DataFrame
    persisted: tuple[DataFrame, ...]


def plan_close(
    spark: SparkSession,
    settings: Settings,
    month: str,
    raw_dir: str | Path | None,
    reference_dir: str | Path,
    raw_lake_dir: str | Path | None = None,
) -> ClosePlan:
    """Build the close's plans from exactly one source: the raw CSVs in
    ``raw_dir``, or the typed raw lake in ``raw_lake_dir`` that
    ``sources.raw_lake.ingest_raw_to_lake`` wrote (partition-pruned to
    ``month``).  Every stage downstream of the read is the same code in
    both modes, so the two are output-equal by construction (pinned by
    tests/test_raw_lake.py).

    Returns the severity-tagged DQ exceptions of all five datasets and
    the month-window-filtered, FX-enriched fact, whose missing rates
    show as a NULL ``rate`` for the caller to turn into an error.  In
    CSV mode the sales and expenses slices are persisted; lake mode
    persists nothing.  Runs one small job: the chart-of-accounts
    collect."""
    if raw_dir is None and raw_lake_dir is None:
        raise ValueError("one of raw_dir / raw_lake_dir is required")
    if raw_dir is not None and raw_lake_dir is not None:
        # a stale lake path must not silently shadow fresh CSVs
        raise ValueError(
            "ambiguous input source: both raw_dir and raw_lake_dir were "
            "provided; pass exactly one"
        )
    lake_mode = raw_lake_dir is not None
    if lake_mode:
        frames = {name: read_raw_lake(spark, raw_lake_dir, name, month) for name in DATASETS}
    else:
        frames = {
            name: read_csv_typed(
                spark, str(Path(raw_dir) / f"{name}.csv"), RAW_SCHEMAS[name], with_row_id=True
            )
            for name in DATASETS
        }
    coa = read_csv(spark, str(Path(reference_dir) / "chart_of_accounts.csv"), COA_SCHEMA)
    dim_accounts = build_dim_accounts(coa)
    specs = build_dataset_specs(settings.allowed_currencies, settings.base_currency)

    # A driver-sized chart of accounts turns Q12 into a literal
    # membership check inside the row-level scan instead of an
    # anti-join pass per dataset; collect at most cap+1 rows to find out.
    coa_rows = (
        dim_accounts.select(F.col("account_code").cast("string"))
        .limit(COA_FUSION_CAP + 1)
        .collect()
    )
    coa_fused = len(coa_rows) <= COA_FUSION_CAP
    if coa_fused:
        coa_check = coa_membership_check([r[0] for r in coa_rows])
        for name in ("sales", "expenses"):
            specs[name].checks.append(coa_check)

    # sales+expenses (80% of close rows) feed three consumers: the
    # row-level explode, the uniqueness group-by and the fact.  In CSV
    # mode their slices are persisted so one parse serves all three.
    # Persisting payroll/inventory too was measured at the 100M close:
    # the storage pool outgrew the driver heap and eviction churn took
    # dq_sweep from 31 to 95 s (PLANS.md r12), so those re-parse once
    # for the fact.  Lake mode persists nothing: re-reading
    # column-pruned parquet pages costs less than caching 80M wide rows.
    slices = {name: checked_slice(frames[name], specs[name]) for name in ("sales", "expenses")}
    persisted = () if lake_mode else tuple(df.persist() for df in slices.values())

    exceptions = spark.createDataFrame([], DQ_EXCEPTIONS_SCHEMA)
    for name, df in frames.items():
        checked = slices.get(name, df)
        # a lake month's uniqueness exceptions were computed at ingest;
        # None (no valid side table) makes collect_exceptions group-by
        pre_unique = (
            read_lake_unique_exceptions(spark, raw_lake_dir, name, month)
            if lake_mode and specs[name].unique_keys
            else None
        )
        exceptions = exceptions.unionByName(
            schema_shape_exceptions(spark, df, specs[name])
        ).unionByName(
            collect_exceptions(
                checked, specs[name], persist_intermediates=False, precomputed_unique=pre_unique
            )
        )
        if not coa_fused and name in slices:
            exceptions = exceptions.unionByName(
                account_in_coa_exceptions(checked, name, dim_accounts)
            )

    start_ts, end_ts = month_window(month)
    in_window = (F.col("date") >= F.lit(start_ts)) & (F.col("date") < F.lit(end_ts))
    fact = to_fact_transactions(
        slices["sales"].filter(in_window).drop(ROW_ID_COL),
        slices["expenses"].filter(in_window).drop(ROW_ID_COL),
        frames["payroll"].filter(F.col("month") == F.lit(month)).drop(ROW_ID_COL),
        frames["inventory_movements"].filter(in_window).drop(ROW_ID_COL),
        fx_to_base(frames["fx_rates"].drop(ROW_ID_COL), settings.base_currency),
        settings.base_currency,
        check_missing_rates=False,
    )
    return ClosePlan(dim_accounts, add_severity(exceptions), fact, persisted)


def _fact_stats() -> list[Column]:
    """Close-run metrics of the fact, plus the missing-FX row count."""
    return [
        F.count(F.lit(1)).alias("fact_rows"),
        F.sum(F.col("amount_base").cast("decimal(28,2)")).cast("double").alias("total_amount_base"),
        F.approx_count_distinct("source").alias("n_sources"),
        F.sum(F.col("rate").isNull().cast("long")).alias("_missing_fx_rows"),
    ]


def run_month(
    spark: SparkSession,
    settings: Settings,
    month: str,
    raw_dir: str | Path | None,
    curated_dir: str | Path,
    reference_dir: str | Path,
    fail_on: str = "ERROR",
    lake_dir: str | Path | None = None,
    raw_lake_dir: str | Path | None = None,
) -> dict[str, Path]:
    """Run the monthly close from ``raw_dir`` (CSV) or ``raw_lake_dir``
    (the typed raw lake; see ``plan_close``).  ``lake_dir``, if given,
    additionally upserts this month's fact rows into a month-partitioned
    parquet lake (``fact_transactions/month=YYYY-MM/``): with dynamic
    partition overwrite only the processed month's partition is
    replaced.

    Caches: in CSV mode the close persists the sales and expenses
    slices, and in both modes it caches the severity-tagged DQ
    exceptions.  One ``finally`` unpersists them and removes the fact's
    scratch dir on every outcome.

    A close that fails at the DQ gate or on missing FX rates leaves the
    audit CSVs (``dq_exceptions.csv``, ``dq_summary.csv``) in
    ``curated_dir`` and no curated fact of this run; a close that fails
    anywhere leaves no scratch dir and no cache of its own.

    Returns the five output paths plus ``metrics`` and per-stage wall
    seconds (``stage_seconds``)."""
    fail_on = (fail_on or "ERROR").upper().strip()
    if fail_on not in {"ERROR", "WARN", "NEVER"}:
        raise ValueError("fail_on must be one of: ERROR, WARN, NEVER")

    stages: dict[str, float] = {}
    t0 = time.perf_counter()

    def mark(stage: str) -> None:
        nonlocal t0
        now = time.perf_counter()
        stages[stage] = round(now - t0, 2)
        t0 = now

    plan = plan_close(spark, settings, month, raw_dir, reference_dir, raw_lake_dir)
    curated_dir = Path(curated_dir)
    dq_exceptions_path = curated_dir / "dq_exceptions.csv"
    dq_summary_path = curated_dir / "dq_summary.csv"
    out_fact = curated_dir / "fact_transactions.parquet"
    out_dim = curated_dir / "dim_accounts.parquet"
    out_kpi = curated_dir / "kpi_monthly.parquet"
    tmp_fact = str(out_fact) + "._building"

    dq_exceptions = plan.dq_exceptions.cache()
    try:
        os.makedirs(curated_dir, exist_ok=True)
        # Materialize the cache with FULL parallelism before the
        # single-file (coalesce(1)) audit sinks consume it, so their
        # cost tracks the exception count, not the input row count.
        # Measured at the 10M-row stress month (PLANS.md): parallel
        # count 10.6 s + warm single-file write 0.5 s, vs 13.8 s for a
        # cold single-task write; a single-partition aggregate over the
        # cold plan cost 118 s vs 31 s.
        n_exceptions = dq_exceptions.count()
        mark("dq_sweep")

        summary = dq_summary_table(dq_exceptions, fail_on=fail_on).toArrow()
        # the audit trail is written BEFORE the gate can raise
        # (reference pipeline.py:141-146)
        write_csv_single_file(dq_exceptions, str(dq_exceptions_path))
        write_csv_single_file(spark.createDataFrame(summary), str(dq_summary_path))
        mark("dq_audit_write")
        if "FAIL" in summary.column("status").to_pylist():
            raise DataQualityGateError(
                f"Data quality checks failed. See {dq_exceptions_path} and {dq_summary_path}"
            )

        # The missing-FX hard error rides the write itself: the write's
        # Observation counts NULL rates, the fact lands in a scratch dir,
        # and only a zero count promotes it (rename), so no curated fact
        # exists after the error -- without an extra pass over the inputs.
        obs = Observation("fact_stats")
        write_parquet(plan.fact.observe(obs, *_fact_stats()), tmp_fact)
        try:
            fact_metrics = dict(obs.get)
        except Exception:  # noqa: BLE001
            # zero-row month: with the fact build a pure map pipeline (no
            # exchange), empty-relation propagation can collapse the write
            # plan and leave the observation with no metrics row (obs.get
            # raises from the JVM).  Recompute from the written parquet --
            # by definition a tiny (usually empty) table here.
            fact_metrics = spark.read.parquet(tmp_fact).agg(*_fact_stats()).first().asDict()
        if fact_metrics.pop("_missing_fx_rows", 0):
            pairs = [
                (str(r["date_key"]), r["currency"])
                for r in spark.read.parquet(tmp_fact)
                .filter(F.col("rate").isNull())
                .select(F.to_date("date").alias("date_key"), "currency")
                .distinct()
                .limit(20)
                .collect()
            ]
            raise MissingFxRatesError(f"Missing FX rates for: {pairs}")
        if os.path.exists(out_fact):
            shutil.rmtree(out_fact)
        os.rename(tmp_fact, out_fact)
        mark("fact_write")

        # The KPI (and the lake copy) read the WRITTEN fact, not its
        # plan: the written fact is columnar and FX-enriched, so the KPI
        # scan is a column-pruned parquet read instead of a re-parse
        # plus FX join (10M close: 41.8 -> 35.2 s).  kpi_monthly runs
        # its one scan eagerly ("kpi_agg"); "kpi_dim_write" is the pivot
        # over the pre-aggregate plus the two sinks.
        fact_r = spark.read.parquet(str(out_fact))
        kpi = kpi_monthly(fact_r, plan.dim_accounts)
        mark("kpi_agg")

        write_parquet(plan.dim_accounts, str(out_dim))
        write_parquet(kpi, str(out_kpi))
        mark("kpi_dim_write")

        if lake_dir is not None:
            write_parquet(
                fact_r.withColumn("month", F.date_format("date", "yyyy-MM")),
                str(Path(lake_dir) / "fact_transactions"),
                partition_by=["month"],
            )
            mark("lake_write")
    finally:
        shutil.rmtree(tmp_fact, ignore_errors=True)
        for df in (*plan.persisted, dq_exceptions):
            df.unpersist()

    return {
        "dq_exceptions": dq_exceptions_path,
        "dq_summary": dq_summary_path,
        "fact": out_fact,
        "dim_accounts": out_dim,
        "kpi": out_kpi,
        "metrics": {"dq_exception_rows": n_exceptions, **fact_metrics},
        "stage_seconds": stages,
    }


def kpi_from_lake(
    spark: SparkSession,
    lake_dir: str | Path,
    reference_dir: str | Path,
    months: list[str] | None = None,
) -> DataFrame:
    """All-months KPI table straight from the partitioned lake.

    The per-month closes build the lake; this reads it back (partition
    pruning when ``months`` is given), joins the chart of accounts and
    reuses the same pivot -- one call summarizes every closed month
    without re-running any close.
    """
    from ..sources.readers import read_parquet

    coa = read_csv(spark, str(Path(reference_dir) / "chart_of_accounts.csv"), COA_SCHEMA)
    dim_accounts = build_dim_accounts(coa)
    fact = read_parquet(spark, str(Path(lake_dir) / "fact_transactions"))
    if months:
        fact = fact.filter(F.col("month").isin(months))
    return kpi_monthly(fact.drop("month"), dim_accounts)
