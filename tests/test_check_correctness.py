"""tools/check_correctness.py argument parsing: `[sf_dir] [query ...]`.
Pure python — no Spark session."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "check_correctness",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "check_correctness.py"),
)
check_correctness = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_correctness)


def test_query_names_without_sf_dir_are_all_graded():
    assert check_correctness.query_names(["x_pagerank", "x_ppr"]) == {"x_pagerank", "x_ppr"}


def test_sf_dir_then_query_names(tmp_path):
    got = check_correctness.query_names([str(tmp_path), "x_pagerank", "x_ppr"])
    assert got == {"x_pagerank", "x_ppr"}


def test_no_query_names_grades_everything(tmp_path):
    assert check_correctness.query_names([]) is None
    assert check_correctness.query_names([str(tmp_path)]) is None
