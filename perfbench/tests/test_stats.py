"""Percentile helper and digest comparison (no Spark)."""

from __future__ import annotations

import pytest

from perfbench.stats import TooFewSamples, digest_mismatch, percentile, summary


def test_summary_reports_sample_count_and_quartiles():
    s = summary([4.0, 1.0, 3.0, 2.0, 5.0])
    assert s["n"] == 5
    assert s["median"] == 3.0
    assert s["q1"] == 2.0 and s["q3"] == 4.0


def test_median_of_few_samples_is_allowed():
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([7.5], 50) == 7.5


def test_tail_percentile_needs_ten_samples_beyond_it():
    xs = [float(i) for i in range(100)]
    assert percentile(xs, 90) == pytest.approx(89.1)
    with pytest.raises(TooFewSamples):
        percentile(xs[:99], 91)  # 9 samples beyond p91 of 99
    with pytest.raises(TooFewSamples):
        percentile([1.0] * 14, 90)
    assert percentile([float(i) for i in range(40)], 75) == pytest.approx(29.25)


def test_percentile_rejects_out_of_range_and_empty():
    with pytest.raises(ValueError):
        percentile([1.0, 2.0], 100)
    with pytest.raises(TooFewSamples):
        percentile([], 50)


def test_digest_mismatch():
    good = {"n": 10, "h": 1234}
    assert digest_mismatch(good, dict(good)) is None
    assert "row count" in digest_mismatch(good, {"n": 9, "h": 1234})
    assert "digest" in digest_mismatch(good, {"n": 10, "h": 1235})
