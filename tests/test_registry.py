"""The query registry's declaration contract: one ``@query`` per name,
and ``tools/check.py`` reads the same names from source that the
registry builds at import."""

from __future__ import annotations

import glob
import os

import pytest

from stockpy_spark.registry import QUERIES, _common

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_query_rejects_a_name_declared_twice(monkeypatch):
    monkeypatch.setattr(_common, "REGISTERED", {})

    def build(spark, sf_dir):
        return None

    assert _common.query("dup_name", oracle="SELECT 1")(build) is build
    with pytest.raises(ValueError, match="dup_name"):
        _common.query("dup_name", oracle=None)(build)
    assert _common.REGISTERED["dup_name"].oracle == "SELECT 1"


def test_check_reads_every_declared_query_from_source():
    from tools.check import keys_in_source

    keys: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "stockpy_spark/registry/*.py")):
        with open(path) as fh:
            keys |= keys_in_source(fh.read())
    assert keys == set(QUERIES)
