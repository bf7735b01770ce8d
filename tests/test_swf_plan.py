"""The unpartitioned $setWindowFields planner (`_swf_plan`) is a pure
function of the stage spec and sortBy: these tests run without a
SparkSession. One table-driven case per plan kind, one case per
shape error the planner raises (matched on message text)."""

from __future__ import annotations

import pytest

from maggma_spark.functions.agg_pipeline import _swf_plan

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
