"""Catalog-table generator against the pinned digests (no Spark)."""

from __future__ import annotations

import os

import pytest

from perfbench import datagen


def test_catalog_tables_are_the_pinned_test_data(tmp_path):
    out = datagen.tpch_tables(str(tmp_path))
    assert sorted(os.listdir(out)) == sorted(f"{t}.parquet" for t in datagen.TPCH_SHA256)


def test_catalog_tables_that_differ_are_refused(tmp_path, monkeypatch):
    monkeypatch.setitem(datagen.TPCH_SHA256, "events", "0" * 64)
    with pytest.raises(RuntimeError, match="events.parquet differs"):
        datagen.tpch_tables(str(tmp_path))
    assert os.listdir(tmp_path) == []  # nothing half-built is left to reuse
