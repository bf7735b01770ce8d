"""Tests of the $search planner (_search_plan): one case per operator,
one per option or clause-shape error, and the corpus-stats requirements
it registers in walk order. All but the last are session-free; the last
checks that a malformed clause fails before any Spark job."""

from __future__ import annotations

import pytest

from maggma_spark.functions.agg_pipeline import (
    _SEARCH_BUILDERS,
    _SEARCH_OPTIONS,
    _search_plan,
)

OPERATOR_CASES = {
    "text": ({"query": "Spark  shuffle spark", "path": ["a", "b"],
              "fuzzy": {"maxEdits": 1, "prefixLength": 2}},
             {"paths": ["a", "b"], "terms": ["spark", "shuffle"],
              "fuzzy": (1, 2)}),
    "phrase": ({"query": " Slow   FAST ", "path": "t"},
               {"paths": ["t"], "phrase": "slow fast"}),
    "equals": ({"path": "lang", "value": "en"},
               {"path": "lang", "value": "en"}),
    "range": ({"path": "n", "lte": 9, "gt": 1},
              {"path": "n", "bounds": [("gt", 1), ("lte", 9)]}),
    "exists": ({"path": "t"}, {"path": "t", "value": None}),
    "in": ({"path": "k", "value": [1, 2]},
           {"path": "k", "value": [1, 2]}),
    "wildcard": ({"query": "e*_?\\*", "path": "lang"},
                 {"paths": ["lang"], "pattern": "e%\\__*"}),
    "regex": ({"query": "a|b", "path": "lang"},
              {"paths": ["lang"], "pattern": "^(?:a|b)$"}),
    "autocomplete": ({"query": "Tab se", "path": "t",
                      "tokenOrder": "sequential"},
                     {"paths": ["t"], "terms": ["tab", "se"],
                      "order": "sequential"}),
    "near": ({"path": "n", "origin": 300, "pivot": 150},
             {"paths": ["n"], "origin": 300, "pivot": 150.0}),
}


def test_search_plan_per_operator():
    assert set(OPERATOR_CASES) | {"compound"} == set(_SEARCH_OPTIONS) \
        == set(_SEARCH_BUILDERS)
    for op, (args, want) in OPERATOR_CASES.items():
        root = _search_plan({"index": "x", "sort": {"n": 1},
                             op: dict(args, score={"boost": {"value": 2}})}
                            )["root"]
        assert root == {"op": op, "score": ("boost", 2.0), **want}, op


def test_search_plan_compound_and_requirements():
    plan = _search_plan({"compound": {
        "must": [{"text": {"query": "spark shuffle", "path": "t"}}],
        "mustNot": [{"phrase": {"query": "slow fast", "path": "t"}}],
        "should": [{"text": {"query": "spark", "path": ["t", "u"],
                             "fuzzy": {}}},
                   {"range": {"path": "n", "gte": 200,
                              "score": {"constant": {"value": 3}}}}],
        "filter": [{"equals": {"path": "lang", "value": "en"}}]}})
    root = plan["root"]
    assert root["op"] == "compound" and root["score"] is None
    assert [len(root["groups"][k]) for k in
            ("must", "mustNot", "should", "filter")] == [1, 1, 2, 1]
    assert root["msm"] == 0  # must/filter present
    assert root["groups"]["should"][1]["score"] == ("constant", 3.0)
    assert plan["len_paths"] == ["t", "u"]
    assert plan["term_reqs"] == [("t", "spark", None), ("t", "shuffle", None),
                                 ("t", "spark", (2, 0)), ("u", "spark", (2, 0))]
    assert plan["phrase_reqs"] == [("t", "slow fast")]
    only_should = _search_plan({"compound": {"should": [
        {"exists": {"path": "t"}}]}})
    assert only_should["root"]["msm"] == 1
    assert only_should["len_paths"] == []  # no stats action needed


@pytest.mark.parametrize("spec, match", [
    ({}, "exactly one operator"),
    ({"text": {"query": "a", "path": "t"},
      "exists": {"path": "t"}}, "exactly one operator"),
    ({"moreLikeThis": {"like": {}}}, "unsupported \\$search operator"),
    ({"compound": {"must": [{"geoWithin": {}}]}},
     "unsupported \\$search operator"),
    ({"text": {"query": "a", "path": "t", "synonyms": "s"}},
     "text options \\['synonyms'\\]"),
    ({"text": {"query": "a", "path": "t", "fuzzy": {"bogus": 1}}},
     "fuzzy options"),
    ({"text": {"query": "a", "path": "t", "fuzzy": {"maxEdits": 3}}},
     "maxEdits must be 1 or 2"),
    ({"exists": {"path": "t", "score": {"boost": {"value": 1},
                                        "constant": {"value": 1}}}},
     "exactly one of boost/constant"),
    ({"text": {"query": "a", "path": "t",
               "score": {"boost": {"path": "n"}}}}, "score option"),
    ({"near": {"path": "n", "pivot": 1,
               "origin": {"type": "Point", "coordinates": [0, 0]}}},
     "geo"),
    ({"near": {"path": "n", "origin": 1, "pivot": 0}}, "pivot must be > 0"),
    ({"phrase": {"query": "a b", "path": "t", "slop": 2}}, "slop"),
    ({"phrase": {"query": "  ", "path": "t"}}, "phrase query must be"),
    ({"autocomplete": {"query": " ", "path": "t"}},
     "autocomplete query must be"),
    ({"compound": {"must": [{"text": {"query": "a", "path": "t"}}],
                   "should": [{"autocomplete": {
                       "query": "a", "path": "t",
                       "tokenOrder": "bogus"}}]}}, "tokenOrder"),
    ({"compound": {"should": [{"text": {"query": "a", "path": "t"},
                               "exists": {"path": "t"}}]}},
     "compound should clause .* exactly one operator"),
    ({"compound": {"filter": [{}]}},
     "compound filter clause \\{\\} must hold exactly one operator"),
    ({"text": {"query": "a"}}, "text clause .* has no path"),
    ({"phrase": {"query": "a b"}}, "phrase clause .* has no path"),
    ({"compound": {"must": [{"range": {"gte": 1}}]}},
     "range clause \\{'gte': 1\\} has no path"),
    ({"compound": {"filter": [{"equals": {"value": 1}}]}},
     "equals clause .* has no path"),
])
def test_search_plan_errors(spec, match):
    with pytest.raises(ValueError, match=match):
        _search_plan(spec)



@pytest.mark.parametrize("bad", [
    {"text": {"query": "a", "path": "t"}, "exists": {"path": "t"}},
    {"text": {"query": "a"}},
    {"range": {"gte": 1}},
])
def test_search_malformed_clauses_fail_before_any_job(spark, jobs_of, bad):
    """A malformed clause beside a BM25 clause is a planning error
    naming the clause: compiling the stage runs no Spark job (a late
    check would run the corpus-stats aggregate first)."""
    from maggma_spark.functions.agg_pipeline import compile_pipeline

    df = spark.createDataFrame([(1, "a b", 3)], "k long, t string, n long")
    spec = {"compound": {"must": [{"text": {"query": "a", "path": "t"}}],
                         "should": [bad]}}

    def run():
        with pytest.raises(ValueError, match="clause"):
            compile_pipeline(df, [{"$search": spec}])
    _, jobs = jobs_of(run)
    assert jobs == []
