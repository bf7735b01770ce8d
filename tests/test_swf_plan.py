"""The $setWindowFields planner is a pure function of the stage spec and
sortBy: these tests run without a SparkSession. `_swf_plans` is the one
planner both compiles read; `_swf_plan` is its unpartitioned view (the
scaffold kinds). One table-driven case per unpartitioned kind and per
partitioned family, one case per shape error the planner raises
(matched on message text)."""

from __future__ import annotations

import pytest

from maggma_spark.functions.agg_pipeline import (
    _PW_ASSEMBLERS,
    _swf_plan,
    _swf_plans,
)

TS = {"t": 1}
UNB, CUR = "unbounded", "current"


def plan_one(odoc: dict, sort: dict = TS) -> dict:
    return _swf_plan({"output": {"o": odoc}}, sort)["o"]


KIND_CASES = [
    ("rank", {"$denseRank": {}}, TS,
     {"kind": "rank", "op": "$denseRank"}),
    ("fwd", {"$sum": "$v", "window": {"documents": [UNB, CUR]}}, TS,
     {"kind": "fwd", "op": "$sum", "arg": "$v", "dir": "fwd"}),
    ("bwd", {"$avg": "$v", "window": {"documents": [CUR, UNB]}}, TS,
     {"kind": "bwd", "op": "$avg", "arg": "$v", "dir": "bwd"}),
    ("whole", {"$max": "$v"}, {},
     {"kind": "whole", "op": "$max", "arg": "$v"}),
    ("self", {"$stdDevPop": "$v", "window": {"documents": [CUR, CUR]}},
     TS, {"kind": "self", "op": "$stdDevPop", "arg": "$v"}),
    ("count_is_sum", {"$count": {}, "window": {"documents": [UNB, CUR]}},
     TS, {"kind": "fwd", "op": "$sum", "arg": 1, "dir": "fwd"}),
    ("rfwd", {"$sum": "$v", "window": {"range": [UNB, 0]}}, TS,
     {"kind": "rfwd", "op": "$sum", "arg": "$v", "dir": "fwd",
      "unit": None}),
    ("rbwd", {"$min": "$v", "window": {"range": [CUR, UNB], "unit": "day"}},
     TS, {"kind": "rbwd", "op": "$min", "arg": "$v", "dir": "bwd",
          "unit": "day"}),
    ("rfin", {"$covariancePop": ["$a", "$b"],
              "window": {"range": [-1, 0.5], "unit": "second"}}, TS,
     {"kind": "rfin", "op": "$covariancePop", "arg": ["$a", "$b"],
      "unit": "second", "range": (-1, 0.5), "offsets": (-1000, 500)}),
    ("dfin", {"$sum": "$v", "window": {"documents": [-3, CUR]}}, TS,
     {"kind": "dfin", "op": "$sum", "arg": "$v", "frame": (-3, 0)}),
    ("firstlast", {"$last": "$v", "window": {"documents": [UNB, CUR]}},
     TS, {"kind": "firstlast", "op": "$last", "arg": "$v", "dir": "fwd",
          "frame": (UNB, CUR)}),
    ("ema", {"$expMovingAvg": {"input": "$v", "N": 3}}, TS,
     {"kind": "ema", "op": "$expMovingAvg", "arg": "$v", "alpha": 0.5}),
    ("pctl_whole", {"$median": {"input": "$v", "method": "approximate"}},
     {}, {"kind": "pctl_whole", "op": "$pctl", "arg": "$v", "ps": [0.5],
          "scalar": True}),
    ("pctl_run", {"$percentile": {"input": "$v", "p": [0.25, 1]},
                  "window": {"documents": [CUR, UNB]}}, TS,
     {"kind": "pctl_run", "op": "$pctl", "arg": "$v", "ps": [0.25, 1.0],
      "scalar": False, "dir": "bwd"}),
    ("pctl_rrun", {"$median": {"input": "$v"},
                   "window": {"range": [UNB, CUR]}}, TS,
     {"kind": "pctl_rrun", "op": "$pctl", "arg": "$v", "ps": [0.5],
      "scalar": True, "dir": "fwd", "unit": None}),
    ("pctl_dfin", {"$median": {"input": "$v"},
                   "window": {"documents": [CUR, CUR]}}, TS,
     {"kind": "dfin", "op": "$pctl", "arg": "$v", "ps": [0.5],
      "scalar": True, "frame": (0, 0)}),
    ("deriv_run", {"$derivative": {"input": "$v", "unit": "hour"},
                   "window": {"documents": [UNB, CUR]}}, TS,
     {"kind": "deriv_run", "op": "$deriv", "arg": "$v", "tunit": "hour",
      "dir": "fwd"}),
    ("deriv_rrun", {"$derivative": {"input": "$v"},
                    "window": {"range": [CUR, UNB]}}, TS,
     {"kind": "deriv_rrun", "op": "$deriv", "arg": "$v", "tunit": None,
      "dir": "bwd", "unit": None}),
    ("deriv_whole", {"$derivative": {"input": "$v"},
                     "window": {"range": [UNB, UNB]}}, TS,
     {"kind": "deriv_whole", "op": "$deriv", "arg": "$v", "tunit": None,
      "unit": None}),
    ("deriv_rfin", {"$derivative": {"input": "$v"},
                    "window": {"range": [-2, 0]}}, TS,
     {"kind": "rfin", "op": "$deriv", "arg": "$v", "tunit": None,
      "unit": None, "range": (-2, 0), "offsets": (-2, 0)}),
    ("integ_run", {"$integral": {"input": "$v"},
                   "window": {"documents": [CUR, UNB]}}, TS,
     {"kind": "integ_run", "op": "$integ", "arg": "$v", "tunit": None,
      "dir": "bwd"}),
    ("integ_rrun", {"$integral": {"input": "$v"},
                    "window": {"range": [UNB, CUR]}}, TS,
     {"kind": "integ_rrun", "op": "$integ", "arg": "$v", "tunit": None,
      "dir": "fwd", "unit": None}),
    ("integ_whole", {"$integral": {"input": "$v"},
                     "window": {"documents": [UNB, UNB]}}, TS,
     {"kind": "integ_whole", "op": "$integ", "arg": "$v", "tunit": None}),
    ("integ_dfin", {"$integral": {"input": "$v"},
                    "window": {"documents": [-1, 2]}}, TS,
     {"kind": "dfin", "op": "$integ", "arg": "$v", "tunit": None,
      "frame": (-1, 2)}),
]


@pytest.mark.parametrize("odoc,sort,want",
                         [c[1:] for c in KIND_CASES],
                         ids=[c[0] for c in KIND_CASES])
def test_plan_kinds(odoc, sort, want):
    assert plan_one(odoc, sort) == want


def test_plan_covers_every_kind():
    kinds = {c[3]["kind"] for c in KIND_CASES}
    assert kinds == {
        "rank", "fwd", "bwd", "whole", "self", "rfwd", "rbwd", "rfin",
        "dfin", "firstlast", "ema", "pctl_whole", "pctl_run", "pctl_rrun",
        "deriv_run", "deriv_rrun", "deriv_whole", "integ_run",
        "integ_rrun", "integ_whole"}


def test_plan_keeps_output_order():
    spec = {"output": {"b": {"$rank": {}}, "a": {"$sum": "$v"}}}
    assert list(_swf_plan(spec, TS)) == ["b", "a"]


def _med(win):
    return {"$median": {"input": "$v"}, "window": win}


def _deriv(win, **arg):
    return {"$derivative": {"input": "$v", **arg}, "window": win}


ERROR_CASES = [
    ("rank_no_sort", {"$rank": {}}, {}, r"\$rank requires sortBy"),
    ("running_no_sort", {"$sum": "$v", "window": {"documents": [UNB, CUR]}},
     {}, r"\$sum requires sortBy"),
    ("dfin_no_sort", {"$sum": "$v", "window": {"documents": [-1, 1]}}, {},
     r"\$sum requires sortBy"),
    ("pctl_run_no_sort", _med({"documents": [UNB, CUR]}), {},
     r"\$median requires sortBy"),
    ("first_no_sort", {"$first": "$v"}, {}, r"\$first requires sortBy"),
    ("ema_no_sort", {"$expMovingAvg": {"input": "$v", "N": 2}}, {},
     r"\$expMovingAvg requires sortBy"),
    ("ema_no_alpha", {"$expMovingAvg": {"input": "$v"}}, TS,
     "needs alpha or N"),
    ("ema_alpha_range", {"$expMovingAvg": {"input": "$v", "alpha": 1.5}},
     TS, r"alpha must be in \(0, 1\)"),
    ("deriv_unit", _deriv({"documents": [UNB, CUR]}, unit="month"), TS,
     r"\$derivative unit 'month' has no fixed width"),
    ("deriv_two_sorts", _deriv({"documents": [UNB, CUR]}),
     {"t": 1, "u": 1}, r"\$derivative requires exactly one sortBy field"),
    ("deriv_descending", _deriv({"documents": [UNB, CUR]}), {"t": -1},
     r"\$derivative requires an ascending sortBy"),
    ("deriv_no_window", {"$integral": {"input": "$v"}}, TS,
     r"\$integral requires a window"),
    ("order_dependent", {"$push": "$v"}, TS,
     "order-dependent and not distributable"),
    ("unknown_op", {"$shiftLeft": "$v"}, TS,
     "unsupported unpartitioned window operator"),
    ("range_unit", {"$sum": "$v", "window": {"range": [-1, 0],
                                             "unit": "month"}}, TS,
     "range unit 'month' has no fixed width"),
    ("bool_documents", {"$sum": "$v", "window": {"documents": [True, 5]}},
     TS, "window bounds must be numbers"),
    ("bool_range", {"$sum": "$v", "window": {"range": [False, 3]}}, TS,
     "window bounds must be numbers"),
    ("moment_range_offset", {"$sum": "$v", "window": {"range": [UNB, 5]}},
     TS, r"\$sum over the range frame \['unbounded', 5\] is not supported "
     r"\(supported: running .*finite \[lo, hi\]\)"),
    ("moment_reversed_documents",
     {"$sum": "$v", "window": {"documents": [2, -2]}}, TS,
     r"\$sum over the documents frame \[2, -2\] is not supported"),
    ("pctl_range_whole", _med({"range": [UNB, UNB]}), TS,
     r"\$median over the range frame .* is not supported"),
    ("pctl_documents_offset", _med({"documents": [-3, UNB]}), TS,
     r"\$median over the documents frame .*whole-frame"),
    ("first_range", {"$first": "$v", "window": {"range": [UNB, CUR]}}, TS,
     r"\$first over the range frame .*\(supported: none\)"),
    ("last_finite", {"$last": "$v", "window": {"documents": [-1, 0]}}, TS,
     r"\$last over the documents frame \[-1, 0\] is not supported"),
    ("deriv_documents", _deriv({"documents": [UNB, 3]}), TS,
     r"\$derivative over the documents frame .* is not supported"),
    ("rfin_fraction", {"$sum": "$v", "window": {"range": [-0.5, 0]}}, TS,
     "must scale to integers on the window axis"),
    ("range_two_sorts", {"$sum": "$v", "window": {"range": [-1, 1]}},
     {"t": 1, "u": 1}, "a range window requires exactly one sortBy field"),
    ("range_descending", {"$sum": "$v", "window": {"range": [-1, 1]}},
     {"t": -1}, "a range window requires an ascending sortBy"),
]


@pytest.mark.parametrize("odoc,sort,match",
                         [c[1:] for c in ERROR_CASES],
                         ids=[c[0] for c in ERROR_CASES])
def test_plan_errors(odoc, sort, match):
    with pytest.raises(ValueError, match=match):
        plan_one(odoc, sort)


def test_plan_rejects_mixed_unit_ranges():
    spec = {"output": {
        "a": {"$sum": "$v", "window": {"range": [-1, 0], "unit": "day"}},
        "b": {"$sum": "$v", "window": {"range": [UNB, CUR]}}}}
    with pytest.raises(ValueError, match="cannot mix `unit`"):
        _swf_plan(spec, TS)


def shared_one(odoc: dict, sort: dict = TS) -> dict:
    return _swf_plans({"output": {"o": odoc}}, sort)["o"]


DOCS_WHOLE = {"axis": "documents", "shape": "whole",
              "bounds": [UNB, UNB], "fin": None, "offsets": (UNB, UNB)}
DOCS_RUN = {"axis": "documents", "shape": "fwd", "bounds": [UNB, CUR],
            "fin": None, "offsets": (UNB, 0)}

# one case per partitioned family: the whole shared plan
FAMILY_CASES = [
    ("rank", {"$documentNumber": {}}, TS,
     {"name": "$documentNumber", "family": "rank", "op": "$documentNumber",
      "arg": {}, **DOCS_WHOLE}),
    ("shift", {"$shift": {"output": "$v", "by": -2, "default": 0}}, TS,
     {"name": "$shift", "family": "shift", "op": "$shift",
      "arg": {"output": "$v", "by": -2, "default": 0}, **DOCS_WHOLE}),
    ("locf", {"$locf": "$v"}, TS,
     {"name": "$locf", "family": "locf", "op": "$locf", "arg": "$v",
      **DOCS_WHOLE}),
    ("linearFill", {"$linearFill": "$v"}, {"t": -1},
     {"name": "$linearFill", "family": "linearFill", "op": "$linearFill",
      "arg": "$v", **DOCS_WHOLE}),
    ("ema", {"$expMovingAvg": {"input": "$v", "alpha": 0.25}}, TS,
     {"name": "$expMovingAvg", "family": "ema", "op": "$expMovingAvg",
      "arg": "$v", "alpha": 0.25, **DOCS_WHOLE}),
    ("deriv", {"$derivative": {"input": "$v", "unit": "second"},
               "window": {"range": [-2, CUR], "unit": "minute"}}, TS,
     {"name": "$derivative", "family": "deriv", "op": "$deriv",
      "arg": "$v", "tunit": "second", "axis": "range", "shape": None,
      "bounds": [-2, CUR], "fin": None, "unit": "minute",
      "offsets": (-120_000, 0)}),
    ("integ", {"$integral": {"input": "$v"},
               "window": {"documents": [-3, CUR]}}, TS,
     {"name": "$integral", "family": "integ", "op": "$integ", "arg": "$v",
      "tunit": None, "axis": "documents", "shape": "fin",
      "bounds": [-3, CUR], "fin": (-3, 0), "offsets": (-3, 0)}),
    ("pctl", {"$percentile": {"input": "$v", "p": [0.1, 0.9]},
              "window": {"range": [UNB, 0]}}, TS,
     {"name": "$percentile", "family": "pctl", "op": "$pctl", "arg": "$v",
      "ps": [0.1, 0.9], "scalar": False, "axis": "range", "shape": "fwd",
      "bounds": [UNB, 0], "fin": None, "unit": None, "offsets": (UNB, 0)}),
    ("moment", {"$count": {}, "window": {"range": [-1.5, 2],
                                         "unit": "hour"}}, TS,
     {"name": "$count", "family": "moment", "op": "$sum", "arg": 1,
      "axis": "range", "shape": "fin", "bounds": [-1.5, 2],
      "fin": (-1.5, 2), "unit": "hour",
      "offsets": (-5_400_000, 7_200_000)}),
    ("firstlast", {"$first": "$v"}, {},
     {"name": "$first", "family": "firstlast", "op": "$first",
      "arg": "$v", **DOCS_WHOLE}),
    ("acc", {"$push": "$v", "window": {"documents": [UNB, CUR]}}, TS,
     {"name": "$push", "family": "acc", "op": "$push", "arg": "$v",
      **DOCS_RUN}),
]


@pytest.mark.parametrize("odoc,sort,want",
                         [c[1:] for c in FAMILY_CASES],
                         ids=[c[0] for c in FAMILY_CASES])
def test_shared_plan_families(odoc, sort, want):
    assert shared_one(odoc, sort) == want


def test_shared_plan_covers_every_partitioned_family():
    assert {c[3]["family"] for c in FAMILY_CASES} == set(_PW_ASSEMBLERS)


def test_unpartitioned_view_projects_the_shared_plan():
    """`_swf_plan` keeps only the keys of its kind; the frame keys stay
    in the shared plan."""
    odoc = {"$sum": "$v", "window": {"documents": [-3, CUR]}}
    assert plan_one(odoc) == {"kind": "dfin", "op": "$sum", "arg": "$v",
                              "frame": (-3, 0)}
    assert shared_one(odoc)["offsets"] == (-3, 0)


WINDOWLESS = ["$rank", "$denseRank", "$documentNumber", "$shift", "$locf",
              "$linearFill"]


@pytest.mark.parametrize("op", WINDOWLESS)
def test_windowless_operators_reject_window(op):
    odoc = {op: {"output": "$v", "by": 1} if op == "$shift" else {},
            "window": {"documents": [-1, 0]}}
    with pytest.raises(ValueError, match=rf"\{op} takes no window bounds"):
        shared_one(odoc)


SHARED_ERROR_CASES = [
    ("inverted_documents", {"$sum": "$v", "window": {"documents": [1, -1]}},
     r"\$sum over the documents frame \[1, -1\] is not supported: its "
     "lower bound is above its upper bound"),
    ("inverted_documents_current",
     {"$max": "$v", "window": {"documents": [2, CUR]}},
     r"\$max over the documents frame \[2, 'current'\] is not supported"),
    ("inverted_range", {"$avg": "$v", "window": {"range": [2, 1]}},
     r"\$avg over the range frame \[2, 1\] is not supported: its lower "
     "bound is above its upper bound"),
    ("inverted_range_current",
     {"$push": "$v", "window": {"range": [CUR, -1], "unit": "day"}},
     r"\$push over the range frame \['current', -1\] is not supported"),
    ("bound_string", {"$sum": "$v", "window": {"documents": ["first", 0]}},
     "window bounds must be numbers"),
    ("documents_fraction", {"$sum": "$v",
                            "window": {"documents": [-1.5, 0]}},
     "documents frame offsets .* must scale to integers"),
    ("linear_fill_two_sorts", {"$linearFill": "$v"},
     r"\$linearFill requires exactly one sortBy field"),
]


@pytest.mark.parametrize("odoc,match",
                         [c[1:] for c in SHARED_ERROR_CASES],
                         ids=[c[0] for c in SHARED_ERROR_CASES])
def test_shared_plan_errors(odoc, match):
    sort = {"t": 1, "u": 1} if "$linearFill" in odoc else TS
    with pytest.raises(ValueError, match=match):
        shared_one(odoc, sort)
