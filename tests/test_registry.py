"""The driver registry's shape, checked without a Spark session."""

import pytest

import __spark_entry__ as entry


def test_queries_window_leads_the_registry():
    q = entry.queries()
    assert list(q)[:len(entry._R06_WINDOW)] == entry._R06_WINDOW
    assert set(q) == set(entry._RAW_QUERIES)


def test_queries_names_a_window_entry_missing_from_the_registry(
        monkeypatch):
    monkeypatch.setattr(entry, '_R06_WINDOW',
                        [*entry._R06_WINDOW, 'renamed_away'])
    with pytest.raises(ValueError, match="'renamed_away'"):
        entry.queries()
