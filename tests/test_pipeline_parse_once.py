"""Parse-once close (r12): the fact builds from the persisted DQ
slices with the missing-FX check riding the write's Observation, and
the written fact is promoted by rename only when clean.  These tests
pin the contracts that redesign leans on:

* ``collect_exceptions`` must treat raw shadows correctly whether they
  are DENSE (``read_csv_typed``: raw text for every row) or SPARSE
  (raw text only where the typed value is null -- the layout a staged
  or cached materialization may use), because the not_nullable check
  distinguishes "absent" from "coercion failure" through them;
* ``run_month`` must leave no scratch behind (the ``._building`` fact
  dir) on success;
* on missing FX rates, ``run_month`` must raise AND leave no curated
  fact at all (the reference's hard-error contract, now enforced by
  rename-promotion instead of an eager pre-pass);
* every close outcome, in CSV and lake-fed mode, releases every cache
  it made;
* the close's own plans keep the shapes the stress tool asserts at
  volume.
"""

from __future__ import annotations

import contextlib
import shutil
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from finance_etl_pipeline_monthly_close_dataset_spark.config import Settings
from finance_etl_pipeline_monthly_close_dataset_spark.plans import quality
from finance_etl_pipeline_monthly_close_dataset_spark.plans.pipeline import DataQualityGateError
from finance_etl_pipeline_monthly_close_dataset_spark.plans.transforms import MissingFxRatesError
from finance_etl_pipeline_monthly_close_dataset_spark.schemas import SALES_SCHEMA
from finance_etl_pipeline_monthly_close_dataset_spark.sources.readers import (
    RAW_PREFIX,
    read_csv_typed,
)


@pytest.fixture(scope="module")
def reference_month(tmp_path_factory):
    from finance_etl_pipeline_monthly_close_dataset_spark.sample_data import (
        generate_synthetic_raw,
        write_chart_of_accounts,
    )

    root = tmp_path_factory.mktemp("parse_once")
    generate_synthetic_raw(root / "raw", month="2025-12", seed=42)
    write_chart_of_accounts(root / "ref")
    return root


DIRTY_SALES = """date,entity,invoice_id,account_code,currency,amount,description
2025-12-01,TLM,INV-1,40000001,USD,10.00,ok row
not-a-date,TLM,INV-2,40000001,USD,5.00,coercion failure on date
2025-12-03,TLM,INV-3,40000001,USD,,absent amount
2025-12-04,TLM,INV-4,40000001,XXX,oops,bad currency and bad amount text
2025-12-05,TLM,INV-5,40000001,USD,3.00,dup A
2025-12-05,TLM,INV-5,40000001,USD,4.00,dup B
"""


def _exception_set(df):
    return {
        (r["dataset"], r["index"], r["column"], r["check"], r["failure_case"])
        for r in df.collect()
    }


def test_sparse_raw_shadows_match_dense(spark, tmp_path):
    """The not_nullable/coerce_dtype pair must emit identical
    exceptions for dense shadows (raw text everywhere) and sparse
    shadows (raw text only where the typed value is null) -- the
    typed-null conjunct in collect_exceptions is what makes the sparse
    layout safe."""
    (tmp_path / "sales.csv").write_text(DIRTY_SALES)
    dense = read_csv_typed(spark, str(tmp_path / "sales.csv"), SALES_SCHEMA, with_row_id=True)
    sparse = dense.select(
        *[
            F.when(F.col(c[len(RAW_PREFIX):]).isNull(), F.col(c)).otherwise(F.lit(None)).alias(c)
            if c.startswith(RAW_PREFIX)
            else F.col(c)
            for c in dense.columns
        ]
    )
    spec = quality.build_dataset_specs(("USD", "TZS", "EUR"), "USD")["sales"]
    dense_exc = _exception_set(quality.collect_exceptions(dense, spec, persist_intermediates=False))
    sparse_exc = _exception_set(quality.collect_exceptions(sparse, spec, persist_intermediates=False))
    assert sparse_exc == dense_exc
    checks = {c for (_, _, _, c, _) in dense_exc}
    # the dirty file must actually exercise every family the shadows
    # participate in
    assert any(c.startswith("coerce_dtype") for c in checks)
    assert "not_nullable" in checks
    assert any(c.startswith("isin") for c in checks)
    assert any(c.startswith("unique_keys") for c in checks)
    # the coercion failure reports the ORIGINAL offending text
    assert ("sales", 1, "date", "coerce_dtype(timestamp)", "not-a-date") in dense_exc


def test_run_month_promotes_fact_and_cleans_scratch(spark, tmp_path, reference_month):
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.pipeline import run_month

    root = reference_month
    curated = tmp_path / "curated"
    out = run_month(
        spark,
        Settings(),
        month="2025-12",
        raw_dir=root / "raw",
        curated_dir=curated,
        reference_dir=root / "ref",
        fail_on="ERROR",
    )
    assert not (curated / "fact_transactions.parquet._building").exists()
    assert (curated / "fact_transactions.parquet").exists()
    # the observed metrics came from the write action itself
    assert out["metrics"]["fact_rows"] == 236
    assert "_missing_fx_rows" not in out["metrics"]


def test_missing_fx_leaves_no_curated_fact(spark, tmp_path, reference_month):
    """Single-pass write + rename-promotion: a missing FX rate must
    still be a hard error AND must not leave a curated fact behind
    (reference transform.py:40-42 raises before any output exists; we
    write to scratch and only promote when the observed missing count
    is zero)."""
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.pipeline import run_month
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.transforms import (
        MissingFxRatesError,
    )

    root = reference_month
    bad = tmp_path / "raw_fx"
    bad.mkdir()
    for f in (root / "raw").iterdir():
        (bad / f.name).write_text(f.read_text())
    with (bad / "sales.csv").open("a") as fh:
        fh.write("2025-12-10,TLM,INV-XXX,40000001,XXX,5.0,no rate\n")
    curated = tmp_path / "curated_fx"
    with pytest.raises(MissingFxRatesError) as exc_info:
        run_month(
            spark,
            Settings(),
            month="2025-12",
            raw_dir=bad,
            curated_dir=curated,
            reference_dir=root / "ref",
            fail_on="NEVER",
        )
    # error message carries the offending (date, currency) pairs
    assert "XXX" in str(exc_info.value) and "2025-12-10" in str(exc_info.value)
    assert not (curated / "fact_transactions.parquet").exists()
    assert not (curated / "fact_transactions.parquet._building").exists()
    # audit trail was still written before the failure
    assert (curated / "dq_exceptions.csv").exists()


def test_gate_failure_still_writes_audit(spark, tmp_path, reference_month):
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.pipeline import (
        DataQualityGateError,
        run_month,
    )

    root = reference_month
    bad = tmp_path / "raw_bad"
    bad.mkdir()
    for f in (root / "raw").iterdir():
        (bad / f.name).write_text(f.read_text())
    with (bad / "sales.csv").open("a") as fh:
        fh.write("2025-12-10,TLM,INV-BAD,99999999,USD,5.0,unknown account\n")
    curated = tmp_path / "curated_bad"
    with pytest.raises(DataQualityGateError):
        run_month(
            spark,
            Settings(),
            month="2025-12",
            raw_dir=bad,
            curated_dir=curated,
            reference_dir=root / "ref",
            fail_on="ERROR",
        )
    assert (curated / "dq_exceptions.csv").exists()
    assert not (curated / "fact_transactions.parquet").exists()


# per close outcome: the appended sales row, the gate mode, the error
CLOSE_OUTCOMES = {
    "success": (None, "ERROR", None),
    "gate_failure": (
        "2025-12-10,TLM,INV-BAD,99999999,USD,5.0,unknown account", "ERROR", DataQualityGateError
    ),
    "missing_fx": ("2025-12-10,TLM,INV-XXX,40000001,XXX,5.0,no rate", "NEVER", MissingFxRatesError),
}


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("outcome", sorted(CLOSE_OUTCOMES))
@pytest.mark.parametrize("mode", ["csv", "lake"])
def test_close_leaves_no_persisted_rdd(spark, tmp_path, reference_month, mode, outcome):
    """No persisted RDD survives a close, whatever its outcome.  Compared
    by RDD id, since the session's map of persisted RDDs holds them
    weakly and an unrelated one may be collected meanwhile."""
    from finance_etl_pipeline_monthly_close_dataset_spark.plans.pipeline import run_month
    from finance_etl_pipeline_monthly_close_dataset_spark.sources.raw_lake import (
        ingest_raw_to_lake,
    )

    bad_row, fail_on, expected_error = CLOSE_OUTCOMES[outcome]
    raw = tmp_path / "raw"
    shutil.copytree(reference_month / "raw", raw)
    if bad_row:
        with (raw / "sales.csv").open("a") as fh:
            fh.write(bad_row + "\n")
    source = {"raw_dir": raw}
    if mode == "lake":
        ingest_raw_to_lake(spark, "2025-12", raw, tmp_path / "lake")
        source = {"raw_dir": None, "raw_lake_dir": tmp_path / "lake"}

    before = _persistent_rdd_ids(spark)
    with pytest.raises(expected_error) if expected_error else contextlib.nullcontext():
        run_month(
            spark, Settings(), month="2025-12", curated_dir=tmp_path / "curated",
            reference_dir=reference_month / "ref", fail_on=fail_on, **source,
        )
    assert _persistent_rdd_ids(spark) - before == set()
    assert not (tmp_path / "curated" / "fact_transactions.parquet._building").exists()


def test_close_plan_shapes(spark, reference_month):
    """The stress tool's plan-shape checks on the close's own plans for
    the seed-42 month: the fact plan has no hash or range Exchange, a
    broadcast FX join and one sales.csv scan; the DQ plan has no
    BatchEvalPython, no CartesianProduct, and one row-level sales scan."""
    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from stress_pipeline import assert_plan_shapes

    checks = assert_plan_shapes(
        spark, Settings(), str(reference_month / "raw"), str(reference_month / "ref")
    )
    assert all(v for k, v in checks.items() if not k.endswith("_scans")), checks
