"""The seeded close-input generator."""

import csv
import os

import closegen


def _rows(path):
    with open(path) as fh:
        return list(csv.DictReader(fh))


def test_seed_changes_values_but_not_counts_or_warn_rows(tmp_path):
    counts, sales = {}, {}
    for seed in (1, 2):
        raw, ref = (os.path.join(tmp_path, f"s{seed}", d) for d in ("raw", "ref"))
        counts[seed] = closegen.generate(raw, ref, 4_000, seed)
        sales[seed] = _rows(os.path.join(raw, "sales.csv"))
    assert counts[1] == counts[2] == {
        "sales": 2_000, "expenses": 1_200, "payroll": 400, "inventory_movements": 400}
    assert [r["amount"] for r in sales[1]] != [r["amount"] for r in sales[2]]
    for seed in (1, 2):
        warn = [r for r in sales[seed] if float(r["amount"]) <= 0]
        assert len(warn) == 1  # one WARN row per 10k, rounded up
    assert closegen.expected_warn_rows(4_000) == 2


def test_same_seed_same_files(tmp_path):
    out = []
    for d in ("a", "b"):
        raw = os.path.join(tmp_path, d)
        closegen.generate(raw, os.path.join(tmp_path, d + "ref"), 1_000, 7)
        out.append({f: open(os.path.join(raw, f)).read() for f in sorted(os.listdir(raw))})
    assert out[0] == out[1]


def test_fx_covers_every_day_of_the_month(tmp_path):
    raw = os.path.join(tmp_path, "raw")
    closegen.generate(raw, os.path.join(tmp_path, "ref"), 1_000, 3)
    fx = _rows(os.path.join(raw, "fx_rates.csv"))
    pairs = {(r["date"], r["from_currency"]) for r in fx}
    assert len(pairs) == 62 and {c for _, c in pairs} == {"TZS", "EUR"}
