"""Seeded generator for one month of raw close inputs.

The shape follows ``tools/stress_pipeline.generate``: the same five raw
schemas, the 50/30/10/10 sales/expenses/payroll/inventory row mix, a
0.01% rate of WARN rows (amount <= 0 on sales and expenses) and FX rates
for every day of the month in both non-base currencies.  The seed drives
every value and assignment (day, entity, account, currency, amounts,
rates); the WARN rows sit at fixed row ids, so every seed gives the same
row counts and the same number of DQ exceptions.

The generator is numpy + pyarrow only: the engine under test receives the
written CSV files and nothing else.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

MONTH = "2025-12"
ENTITIES = np.array(["TLM", "UPE", "KGA", "MWZ"])
CURRENCIES = np.array(["USD", "TZS", "EUR"])
# 12-account chart (the reference's data/reference/chart_of_accounts.csv)
CHART_OF_ACCOUNTS = [
    ("40000001", "Sales - Export", "Revenue"),
    ("40000002", "Sales - Local", "Revenue"),
    ("50000001", "COGS - Inventory", "COGS"),
    ("61000001", "Salaries & Wages", "Expense"),
    ("61000002", "Payroll Taxes", "Expense"),
    ("62000001", "Rent", "Expense"),
    ("63000001", "Travel & Subsistence", "Expense"),
    ("64000001", "Bank Charges", "Expense"),
    ("10000001", "Cash at Bank", "Asset"),
    ("11000001", "Accounts Receivable", "Asset"),
    ("20000001", "Accounts Payable", "Liability"),
    ("21000001", "VAT Payable", "Liability"),
]
BAD_EVERY = 10_000  # one WARN row per 10k sales / expenses rows
_WRITE = pacsv.WriteOptions(quoting_style="none")


def split_rows(total_rows: int) -> dict[str, int]:
    """Row mix 50/30/10/10 (sales/expenses/payroll/inventory)."""
    n_sales = total_rows // 2
    n_exp = total_rows * 3 // 10
    n_pay = total_rows // 10
    return {
        "sales": n_sales,
        "expenses": n_exp,
        "payroll": n_pay,
        "inventory_movements": total_rows - n_sales - n_exp - n_pay,
    }


def expected_warn_rows(total_rows: int) -> int:
    """DQ exception rows the close must report for this size: one per
    WARN row, independent of the seed."""
    n = split_rows(total_rows)
    return sum(-(-n[d] // BAD_EVERY) for d in ("sales", "expenses"))


def _write(path: str, columns: dict) -> None:
    pacsv.write_csv(pa.table(columns), path, _WRITE)


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    days = rng.integers(1, 29, n)
    return np.char.add(f"{MONTH}-", np.char.zfill(days.astype(str), 2))


def _ids(prefix: str, n: int) -> np.ndarray:
    return np.char.add(prefix, np.arange(n).astype(str))


def generate(raw_dir: str, ref_dir: str, total_rows: int, seed: int) -> dict[str, int]:
    """Write ``raw_dir/{sales,expenses,payroll,inventory_movements,
    fx_rates}.csv`` and ``ref_dir/chart_of_accounts.csv``; return the
    row count of each raw dataset."""
    os.makedirs(raw_dir, exist_ok=True)
    os.makedirs(ref_dir, exist_ok=True)
    _write(
        os.path.join(ref_dir, "chart_of_accounts.csv"),
        {k: [r[i] for r in CHART_OF_ACCOUNTS]
         for i, k in enumerate(("account_code", "account_name", "account_type"))},
    )
    counts = split_rows(total_rows)

    def rng(salt: int) -> np.random.Generator:
        return np.random.default_rng([seed, salt])

    def money(r: np.random.Generator, n: int, cents: int, floor: float) -> np.ndarray:
        return np.round(r.integers(0, cents, n) / 100.0 + floor, 2)

    for salt, (name, id_col, prefix, codes, bad_amount, description) in enumerate((
        ("sales", "invoice_id", "INV-", ["40000001", "40000002"], 0.0, "Synthetic sale"),
        ("expenses", "bill_id", "BILL-", ["62000001", "63000001", "64000001"], -1.0,
         "Synthetic expense"),
    )):
        n, r = counts[name], rng(salt)
        amount = money(r, n, 100_000, 0.01)
        amount[::BAD_EVERY] = bad_amount
        _write(os.path.join(raw_dir, f"{name}.csv"), {
            "date": _dates(r, n),
            "entity": ENTITIES[r.integers(0, 4, n)],
            id_col: _ids(prefix, n),
            "account_code": np.array(codes)[r.integers(0, len(codes), n)],
            "currency": CURRENCIES[r.integers(0, 3, n)],
            "amount": amount,
            "description": np.full(n, description),
        })

    n, r = counts["payroll"], rng(2)
    gross = money(r, n, 500_000, 100.0)
    ded = np.round(gross * 0.2, 2)
    _write(os.path.join(raw_dir, "payroll.csv"), {
        "month": np.full(n, MONTH),
        "entity": ENTITIES[r.integers(0, 4, n)],
        "employee_id": _ids("EMP-", n),
        "currency": CURRENCIES[r.integers(0, 3, n)],
        "gross": gross,
        "deductions": ded,
        "net": np.round(gross - ded, 2),
    })

    n, r = counts["inventory_movements"], rng(3)
    _write(os.path.join(raw_dir, "inventory_movements.csv"), {
        "date": _dates(r, n),
        "entity": ENTITIES[r.integers(0, 4, n)],
        "sku": np.char.add("SKU-", r.integers(0, 5000, n).astype(str)),
        "movement_type": np.array(["receipt", "issue", "adjustment"])[r.integers(0, 3, n)],
        "qty": r.integers(1, 51, n).astype(float),
        "unit_cost": money(r, n, 10_000, 0.5),
        "currency": CURRENCIES[r.integers(0, 3, n)],
    })

    # full coverage: every day of the month x {TZS, EUR} -> USD
    r = rng(4)
    days = np.arange(1, 32)
    fx_dates, fx_from, fx_rate = [], [], []
    for ccy, base in (("TZS", 0.0004), ("EUR", 1.08)):
        jitter = 1 + r.integers(0, 50, days.size) / 1000.0
        fx_dates += [f"{MONTH}-{d:02d}" for d in days]
        fx_from += [ccy] * days.size
        fx_rate += list(np.round(base * jitter, 6))
    _write(os.path.join(raw_dir, "fx_rates.csv"), {
        "date": fx_dates,
        "from_currency": fx_from,
        "to_currency": ["USD"] * len(fx_dates),
        "rate": fx_rate,
    })
    return counts
