"""Harness self-test: the oracle comparator must CATCH corruption.

A green sweep only means something if the checker would have gone red
on a wrong answer — so pin its sensitivity: value flips, row drops,
row additions, column renames, and sub-rounding float jitter must
each produce the verdict the methodology claims (first four caught,
the last tolerated by design). The verdict is the tool's own
check_oracle.verdict, so a change to its tolerance turns these red."""

import importlib.util
import sys
from pathlib import Path

import pandas as pd

CHECKER = Path(__file__).resolve().parents[1] / "tools" / "check_oracle.py"


def checker():
    """tools/check_oracle.py as a module (it only reads argv in main())."""
    spec = importlib.util.spec_from_file_location("check_oracle", CHECKER)
    m = importlib.util.module_from_spec(spec)
    saved = sys.argv
    sys.argv = ["check_oracle"]
    try:
        spec.loader.exec_module(m)
    finally:
        sys.argv = saved
    return m


BASE = pd.DataFrame(
    {"k": ["a", "b", "c"], "n": [1, 2, 3], "x": [1.5, 2.5, 3.5]}
)


def test_identical_and_reordered_pass():
    m = checker()
    assert m.verdict(BASE, BASE.copy())
    shuffled = BASE.iloc[[2, 0, 1]].reset_index(drop=True)
    assert m.verdict(BASE, shuffled)  # order-insensitive by design
    recol = BASE[["x", "k", "n"]]
    assert m.verdict(BASE, recol)  # column order canonicalized


def test_value_flip_caught():
    m = checker()
    bad = BASE.copy()
    bad.loc[1, "n"] = 99
    assert not m.verdict(BASE, bad)
    badf = BASE.copy()
    badf.loc[0, "x"] = 1.5000001  # 1e-7 off: above atol, and
    # rtol is pinned to 0 so relative slack cannot mask it
    assert not m.verdict(BASE, badf)


def test_row_drop_and_add_caught():
    m = checker()
    assert not m.verdict(BASE, BASE.iloc[:2])
    extra = pd.concat(
        [BASE, pd.DataFrame({"k": ["d"], "n": [4], "x": [4.5]})],
        ignore_index=True,
    )
    assert not m.verdict(BASE, extra)


def test_column_rename_caught():
    m = checker()
    renamed = BASE.rename(columns={"n": "count"})
    assert not m.verdict(BASE, renamed)


def test_subrounding_jitter_tolerated():
    m = checker()
    jit = BASE.copy()
    jit["x"] = jit["x"] + 1e-12  # below the 1e-9 design tolerance
    assert m.verdict(BASE, jit)
