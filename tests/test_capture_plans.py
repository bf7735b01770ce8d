"""scripts/capture_plans.py writes plans with their run-dependent ids
normalized, so `diff -r` of two captures is the plan-identity check.
Session-free: the normalizer is plain text rewriting."""

from __future__ import annotations

import importlib.util
import pathlib

SCRIPT = (pathlib.Path(__file__).resolve().parent.parent / "scripts"
          / "capture_plans.py")


def _normalize():
    spec = importlib.util.spec_from_file_location("capture_plans", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def test_normalize_replaces_run_dependent_ids():
    normalize = _normalize()
    a = ("Output [2]: [o_orderkey#1070L, __gw_pid#1116]\n"
         "Arguments: hashpartitioning(__gw_pid#1116, 32), "
         "ENSURE_REQUIREMENTS, [plan_id=6387]\n"
         "Arguments: [x#12], MapPartitionsRDD[326] at localCheckpoint at "
         "NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)")
    b = ("Output [2]: [o_orderkey#2L, __gw_pid#99]\n"
         "Arguments: hashpartitioning(__gw_pid#99, 32), "
         "ENSURE_REQUIREMENTS, [plan_id=7]\n"
         "Arguments: [x#5], MapPartitionsRDD[4] at localCheckpoint at "
         "NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)")
    assert normalize(a) == normalize(b)
    assert normalize(a) == (
        "Output [2]: [o_orderkey#NL, __gw_pid#N]\n"
        "Arguments: hashpartitioning(__gw_pid#N, 32), "
        "ENSURE_REQUIREMENTS, [plan_id=N]\n"
        "Arguments: [x#N], MapPartitionsRDD[N] at localCheckpoint at "
        "NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)")


def test_normalize_keeps_plan_content():
    """Everything but the ids still differs: partition counts, literals,
    operator numbers."""
    normalize = _normalize()
    assert normalize("hashpartitioning(k#1, 32)") != \
        normalize("hashpartitioning(k#1, 16)")
    assert normalize("(3) Window") != normalize("(4) Window")
    assert normalize("Output [2]: [a#1]") != normalize("Output [3]: [a#1]")


def test_normalize_lambda_variables():
    """pyspark numbers lambda variables from a JVM-wide counter, so the
    same plan reads x_5 or x_1 depending on the rows captured before
    it; both normalize to x_N. Parameter names still differ."""
    normalize = _normalize()
    later = ("filter(toks#12, lambdafunction(StartsWith(lambda x_5#1004, s), "
             "lambda x_5#1004, false)), lambda acc_12#7")
    first = ("filter(toks#3, lambdafunction(StartsWith(lambda x_1#98, s), "
             "lambda x_1#98, false)), lambda acc_2#99")
    assert normalize(later) == normalize(first) == (
        "filter(toks#N, lambdafunction(StartsWith(lambda x_N, s), "
        "lambda x_N, false)), lambda acc_N")
    assert normalize("lambda x_1#2") != normalize("lambda y_1#2")
