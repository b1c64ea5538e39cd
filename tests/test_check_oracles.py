"""The oracle gate's pipelined compare (tools/check_oracles.py) records
every error as a failure instead of raising: a raise would kill the
consumer thread and leave the producer blocked on the bounded queue."""

import importlib.util
import os

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _check_oracles():
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(REPO, "tools", "check_oracles.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_compare_one_records_unnormalizable_spark_rows():
    co = _check_oracles()
    failures = []
    # a 1-tuple row under 2 column names: normalize() raises KeyError
    co._compare_one(duckdb.connect(), "q_bad_rows", "SELECT 1 AS a, 2 AS b",
                    [(1,)], ["a", "b"], 0.0, failures)
    assert failures == ["q_bad_rows"]
