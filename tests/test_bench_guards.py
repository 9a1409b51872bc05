"""Unit tests for bench.py's honesty machinery: the distinct-slice
width construction behind the stream_state replay-order gate, and
(r12) the machine-checked regression budgets."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import _distinct_slice_widths  # noqa: E402


def test_widths_distinct_positive_and_sum():
    for n_seq, n_batches in [(40, 4), (50_000 // 500, 4), (41, 4), (43, 4), (100, 7), (9, 2)]:
        w = _distinct_slice_widths(n_seq, n_batches)
        assert len(w) == n_batches
        assert sum(w) == n_seq
        assert min(w) > 0
        assert len(set(w)) == n_batches, w


def test_widths_default_bench_shape():
    # the bench default: n_events=50k, n_users=500, n_batches=4
    assert _distinct_slice_widths(100, 4) == [22, 24, 26, 28]


def test_widths_remainder_goes_to_largest():
    w = _distinct_slice_widths(43, 4)
    assert w == [7, 9, 11, 16] and sum(w) == 43


def test_widths_refuses_degenerate():
    # n_seq//n_batches <= n_batches-1 -> smallest width would be <= 0;
    # must raise, never silently fall back to equal/zero widths
    with pytest.raises(ValueError, match="distinct positive"):
        _distinct_slice_widths(12, 4)
    with pytest.raises(ValueError, match="distinct positive"):
        _distinct_slice_widths(3, 4)


def test_stress_repeats_missing_value_is_usage_error():
    # ADVICE r14: `--repeats` as the last token used to raise an
    # uncaught IndexError; argparse now exits with a usage message
    import sys as _sys
    from pathlib import Path as _Path

    import pytest

    _sys.path.insert(0, str(_Path(__file__).resolve().parents[1] / "tools"))
    from stress_pipeline import _parse_args

    with pytest.raises(SystemExit):
        _parse_args(["--repeats"])
    assert _parse_args(["--repeats", "3", "--matrix"]).repeats == 3
    assert _parse_args(["5000000", "--lakefed"]).total_rows == 5_000_000


def test_graft_cpus_is_the_one_parser(monkeypatch):
    # get_spark and bench.py both size themselves from SPARK_GRAFT_CPUS
    # through this parser: unset or empty means unset, anything but an
    # integer >= 1 raises and names the variable
    from finance_etl_pipeline_monthly_close_dataset_spark.session import graft_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert graft_cpus() is None
    for value, expected in (("", None), ("  ", None), ("4", 4), (" 8 ", 8)):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
        assert graft_cpus() == expected, value
    for value in ("abc", "0", "-2", "2.5"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            graft_cpus()
