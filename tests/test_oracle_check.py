"""Query-name resolution of scripts/oracle_check.py (pure, no Spark)."""

from __future__ import annotations

import importlib.util
import os

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "scripts", "oracle_check.py")
_spec = importlib.util.spec_from_file_location("oracle_check", _PATH)
oracle_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(oracle_check)

NAMES = ["q01_pricing_summary", "q1_short", "q10_a", "q19_b", "t05_exact_dedup"]


def test_resolve_names_exact_or_underscore_prefix():
    resolve = oracle_check.resolve_names
    assert resolve(["q1"], NAMES) == ["q1_short"]          # not q10/q19
    assert resolve(["q01"], NAMES) == ["q01_pricing_summary"]
    assert resolve(["t05_exact_dedup", "q10_a"], NAMES) == [
        "q10_a", "t05_exact_dedup"]
    assert resolve([], NAMES) == sorted(NAMES)


def test_resolve_names_unknown_raises():
    with pytest.raises(ValueError, match="q2"):
        oracle_check.resolve_names(["q01", "q2"], NAMES)
    with pytest.raises(ValueError):
        oracle_check.resolve_names(["q"], NAMES)   # bare prefix, no '_'
