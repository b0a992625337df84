"""Static checks on the test-tier lists in conftest.py (no Spark).

A name in ``_SLOW_TESTS`` that matches no test function marks nothing:
after a rename the renamed test silently joins the default tier and can
push it past its time budget. The same holds for a
``_SLOW_ORACLE_QUERIES`` name that is not a registered query.
"""

from __future__ import annotations

import ast
import importlib.util
import pathlib

TESTS = pathlib.Path(__file__).resolve().parent


def _conftest():
    spec = importlib.util.spec_from_file_location("_tier_conftest", TESTS / "conftest.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _test_functions() -> set[str]:
    names = set()
    for path in TESTS.glob("test_*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            is_def = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            if is_def and node.name.startswith("test_"):
                names.add(node.name)
    return names


def test_slow_tests_are_defined_test_functions():
    missing = sorted(_conftest()._SLOW_TESTS - _test_functions())
    assert not missing, f"_SLOW_TESTS names without a test function: {missing}"


def test_slow_oracle_queries_are_registered():
    from flink_1_16_0_src_spark.registry import all_queries

    missing = sorted(_conftest()._SLOW_ORACLE_QUERIES - set(all_queries()))
    assert not missing, f"_SLOW_ORACLE_QUERIES names that are not registered: {missing}"
