"""Criteria-compiler contract tests, mirroring the reference's query_101
docs and store tests (reference:docs/getting_started/query_101.md,
reference:tests/stores/test_mongolike.py:82-127)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from maggma_spark.functions.criteria import compile_criteria


@pytest.fixture(scope="module")
def tmnt(spark):
    # query_101.md turtle docs: disjoint key sets are intentional.
    docs = [
        Row(name="Leonardo", color="blue", tool="sword", occupation="ninja"),
        Row(name="Donatello", color="purple", tool="staff", occupation="ninja"),
        Row(name="Michelangelo", color="orange", tool="nunchuks", occupation="ninja"),
        Row(name="Raphael", color="red", tool="sai", occupation="ninja"),
        Row(name="Splinter", color=None, tool=None, occupation="sensei"),
    ]
    return spark.createDataFrame(docs)


def names(df, crit):
    out = df.filter(compile_criteria(crit, schema=df.schema))
    return sorted(r["name"] for r in out.select("name").collect())


def test_bare_equality(tmnt):
    assert names(tmnt, {"color": "blue"}) == ["Leonardo"]
    assert names(tmnt, {"occupation": "ninja", "color": "red"}) == ["Raphael"]


def test_null_matches_missing(tmnt):
    # Mongo {f: None} matches missing-or-null
    assert names(tmnt, {"tool": None}) == ["Splinter"]


def test_ne_matches_missing(tmnt):
    assert names(tmnt, {"color": {"$ne": "blue"}}) == [
        "Donatello", "Michelangelo", "Raphael", "Splinter"]


def test_in_nin(tmnt):
    assert names(tmnt, {"color": {"$in": ["blue", "red"]}}) == ["Leonardo", "Raphael"]
    assert names(tmnt, {"color": {"$nin": ["blue", "red"]}}) == [
        "Donatello", "Michelangelo", "Splinter"]
    assert names(tmnt, {"color": {"$in": ["blue", None]}}) == ["Leonardo", "Splinter"]


def test_exists(tmnt):
    assert names(tmnt, {"tool": {"$exists": True}}) == [
        "Donatello", "Leonardo", "Michelangelo", "Raphael"]
    assert names(tmnt, {"tool": {"$exists": False}}) == ["Splinter"]
    # field absent from schema entirely
    assert names(tmnt, {"shell": {"$exists": False}}) == [
        "Donatello", "Leonardo", "Michelangelo", "Raphael", "Splinter"]
    assert names(tmnt, {"shell": {"$exists": True}}) == []
    assert names(tmnt, {"shell": None}) == [
        "Donatello", "Leonardo", "Michelangelo", "Raphael", "Splinter"]


def test_and_or_nor(tmnt):
    crit = {"$or": [{"color": "blue"}, {"color": "red"}]}
    assert names(tmnt, crit) == ["Leonardo", "Raphael"]
    crit = {"$and": [{"occupation": "ninja"}, {"color": {"$ne": "blue"}}]}
    assert names(tmnt, crit) == ["Donatello", "Michelangelo", "Raphael"]
    crit = {"$nor": [{"color": "blue"}, {"color": "red"}]}
    assert names(tmnt, crit) == ["Donatello", "Michelangelo", "Splinter"]


def test_not_operator_doc(tmnt):
    # $not matches missing too (Mongo)
    assert names(tmnt, {"color": {"$not": {"$eq": "blue"}}}) == [
        "Donatello", "Michelangelo", "Raphael", "Splinter"]


def test_regex(tmnt):
    assert names(tmnt, {"name": {"$regex": "^Don"}}) == ["Donatello"]
    assert names(tmnt, {"name": {"$regex": "don", "$options": "i"}}) == ["Donatello"]
    assert names(tmnt, {"name": {"$regex": "lo$"}}) == ["Donatello", "Michelangelo"]


@pytest.fixture(scope="module")
def nested(spark):
    # reference:tests/stores/test_mongolike.py:98-127 + submission arrays
    import datetime as dt

    docs = [
        Row(task_id="t1", a=4, g=Row(h=1), tags=["x", "y"],
            state=["submitted", "running"],
            updated=[dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)]),
        Row(task_id="t2", a=5, g=Row(h=2), tags=["y", "z"],
            state=["submitted"], updated=[dt.datetime(2024, 1, 3)]),
        Row(task_id="t3", a=6, g=Row(h=3), tags=[],
            state=["submitted", "done"],
            updated=[dt.datetime(2024, 1, 4), dt.datetime(2024, 1, 5)]),
    ]
    return spark.createDataFrame(docs)


def ids(df, crit):
    out = df.filter(compile_criteria(crit, schema=df.schema))
    return sorted(r["task_id"] for r in out.select("task_id").collect())


def test_dotted_path(nested):
    assert ids(nested, {"g.h": {"$gte": 2}}) == ["t2", "t3"]
    assert ids(nested, {"g.h": 1}) == ["t1"]


def test_array_scalar_equality(nested):
    # Mongo: scalar equality on array field matches any element
    assert ids(nested, {"tags": "y"}) == ["t1", "t2"]
    assert ids(nested, {"tags": {"$in": ["z", "q"]}}) == ["t2"]
    assert ids(nested, {"tags": {"$all": ["x", "y"]}}) == ["t1"]
    assert ids(nested, {"tags": {"$size": 0}}) == ["t3"]


def test_elem_match(nested):
    assert ids(nested, {"state": {"$elemMatch": {"$eq": "done"}}}) == ["t3"]


def test_expr_array_elem_at(nested):
    # latest state == 'running' (reference submission.py $arrayElemAt -1)
    crit = {"$expr": {"$eq": [{"$arrayElemAt": ["$state", -1]}, "running"]}}
    assert ids(nested, crit) == ["t1"]
    crit = {"$expr": {"$gt": [{"$size": "$tags"}, 1]}}
    assert ids(nested, crit) == ["t1", "t2"]


def test_mod(nested):
    assert ids(nested, {"a": {"$mod": [2, 0]}}) == ["t1", "t3"]


def test_unsupported_raises(nested):
    with pytest.raises(ValueError):
        compile_criteria({"$where": "1"}, schema=nested.schema)
    with pytest.raises(ValueError):
        compile_criteria({"a": {"$near": 1}}, schema=nested.schema)


def test_exact_subdoc_match(spark):
    docs = [
        Row(task_id="t1", g=Row(h=1, z=None)),
        Row(task_id="t2", g=Row(h=1, z=5)),
        Row(task_id="t3", g=None),
    ]
    df = spark.createDataFrame(docs, schema="task_id string, g struct<h:int,z:int>")

    def match(crit):
        return sorted(r["task_id"] for r in df.filter(
            compile_criteria(crit, schema=df.schema)).collect())

    # exact match: named fields equal, unnamed schema fields must be null
    assert match({"g": {"h": 1}}) == ["t1"]
    assert match({"g": {"h": 1, "z": 5}}) == ["t2"]
    # field order in the criteria dict is irrelevant (see DEVIATIONS.md)
    assert match({"g": {"z": 5, "h": 1}}) == ["t2"]
    assert match({"g": {"h": 2}}) == []


def test_expr_extended_ops(spark):
    import datetime as dt

    df = spark.createDataFrame([
        Row(task_id="t1", s="Hello", n=7, ts=dt.datetime(2024, 3, 15)),
        Row(task_id="t2", s="world", n=10, ts=dt.datetime(2023, 3, 15)),
    ])

    def ids(crit):
        return sorted(r["task_id"] for r in df.filter(
            compile_criteria(crit, schema=df.schema)).collect())

    assert ids({"$expr": {"$eq": [{"$toLower": "$s"}, "hello"]}}) == ["t1"]
    assert ids({"$expr": {"$eq": [{"$strLenCP": "$s"}, 5]}}) == ["t1", "t2"]
    assert ids({"$expr": {"$eq": [{"$mod": ["$n", 5]}, 0]}}) == ["t2"]
    assert ids({"$expr": {"$eq": [{"$year": "$ts"}, 2024]}}) == ["t1"]
    cond = {"$expr": {"$eq": [
        {"$cond": {"if": {"$gte": ["$n", 10]}, "then": "big", "else": "small"}},
        "big"]}}
    assert ids(cond) == ["t2"]


def test_json_schema_operator(spark):
    docs = [
        Row(task_id="t1", e=5, s="ok"),
        Row(task_id="t2", e=None, s="ok"),
        Row(task_id="t3", e=50, s="bad"),
    ]
    df = spark.createDataFrame(docs, schema="task_id string, e bigint, s string")

    def ids(crit):
        return sorted(r["task_id"] for r in df.filter(
            compile_criteria(crit, schema=df.schema)).collect())

    crit = {"$jsonSchema": {
        "required": ["e"],
        "properties": {"e": {"type": "integer", "minimum": 0, "maximum": 10},
                       "s": {"enum": ["ok"]}}}}
    assert ids(crit) == ["t1"]
    # a mistyped column means no documents conform (plan-time fact)
    assert ids({"$jsonSchema": {"properties": {"e": {"type": "string"}}}}) == []


def test_edge_cases(spark, tmnt):
    # empty $in matches nothing; empty $nin matches everything
    assert names(tmnt, {"color": {"$in": []}}) == []
    assert len(names(tmnt, {"color": {"$nin": []}})) == 5
    # empty criteria dict matches everything
    assert len(names(tmnt, {})) == 5
    # $and with a single clause
    assert names(tmnt, {"$and": [{"color": "blue"}]}) == ["Leonardo"]
    # multiple range ops on one field AND together
    df = spark.createDataFrame([Row(name=str(i), v=i) for i in range(10)])
    out = df.filter(compile_criteria(
        {"v": {"$gte": 3, "$lt": 7, "$ne": 5}}, schema=df.schema)).collect()
    assert sorted(r["v"] for r in out) == [3, 4, 6]


def test_text_operator(spark):
    docs = spark.createDataFrame([
        Row(doc_id=1, text="spark shuffles data across the cluster"),
        Row(doc_id=2, text="pandas is a dataframe library"),
        Row(doc_id=3, text="SHUFFLE heavy workloads need tuning"),
    ])
    pred = compile_criteria({"$text": {"$search": "spark shuffle"}},
                            schema=docs.schema)
    got = sorted(r["doc_id"] for r in docs.filter(pred).collect())
    assert got == [1, 3]  # case-insensitive OR-of-terms
    # explicit field override
    named = docs.withColumnRenamed("text", "body")
    pred2 = compile_criteria(
        {"$text": {"$search": "pandas", "$field": "body"}},
        schema=named.schema)
    assert [r["doc_id"] for r in named.filter(pred2).collect()] == [2]
    with pytest.raises(ValueError):
        compile_criteria({"$text": {"$search": "x"}}, schema=named.schema)
    with pytest.raises(ValueError):
        compile_criteria({"$text": "bare"}, schema=docs.schema)


def test_expr_round2_ops(spark):
    """Round-2 $expr widening: math, string, date-part, casts, $switch,
    $in, $split."""
    import datetime as dt

    df = spark.createDataFrame([
        Row(k=1, x=2.7, s="Hello World", ts=dt.datetime(2024, 3, 15, 14, 30, 45)),
        Row(k=2, x=-9.0, s="a,b,c", ts=dt.datetime(2023, 12, 31, 23, 59, 59)),
    ])

    def ev(expr, key=1):
        pred = compile_criteria({"$expr": expr}, schema=df.schema)
        return {r["k"] for r in df.filter(pred).collect()}

    assert ev({"$eq": [{"$floor": "$x"}, 2]}) == {1}
    assert ev({"$eq": [{"$ceil": "$x"}, 3]}) == {1}
    assert ev({"$eq": [{"$round": ["$x", 1]}, 2.7]}) == {1}
    assert ev({"$eq": [{"$trunc": ["$x"]}, 2]}) == {1}
    assert ev({"$eq": [{"$sqrt": {"$abs": "$x"}}, 3.0]}) == {2}
    assert ev({"$eq": [{"$pow": [{"$abs": "$x"}, 2]}, 81.0]}) == {2}
    assert ev({"$eq": [{"$hour": "$ts"}, 14]}) == {1}
    assert ev({"$eq": [{"$minute": "$ts"}, 59]}) == {2}
    assert ev({"$eq": [{"$second": "$ts"}, 45]}) == {1}
    assert ev({"$eq": [{"$dayOfYear": "$ts"}, 365]}) == {2}
    assert ev({"$eq": [{"$substrCP": ["$s", 0, 5]}, "Hello"]}) == {1}
    assert ev({"$eq": [{"$size": {"$split": ["$s", ","]}}, 3]}) == {2}
    assert ev({"$eq": [{"$toString": "$k"}, "2"]}) == {2}
    assert ev({"$eq": [{"$toInt": "$x"}, -9]}) == {2}
    assert ev({"$in": ["b", {"$split": ["$s", ","]}]}) == {2}
    assert ev({"$eq": [
        {"$switch": {"branches": [
            {"case": {"$gt": ["$x", 0]}, "then": "pos"},
            {"case": {"$lt": ["$x", 0]}, "then": "neg"}],
            "default": "zero"}},
        "neg"]}) == {2}


def test_expr_trunc_place_and_round_edges(spark):
    """$trunc honors Mongo's place argument (toward zero at `place`
    decimal digits, left of the point for place<0); $round accepts
    1- and 2-element lists and rejects malformed arglists."""
    df = spark.createDataFrame([
        Row(k=1, x=3.14159), Row(k=2, x=-1234.567)])

    def ev(expr):
        pred = compile_criteria({"$expr": expr}, schema=df.schema)
        return {r["k"] for r in df.filter(pred).collect()}

    assert ev({"$eq": [{"$trunc": ["$x", 2]}, 3.14]}) == {1}
    assert ev({"$eq": [{"$trunc": ["$x", 2]}, -1234.56]}) == {2}
    assert ev({"$eq": [{"$trunc": ["$x", -2]}, -1200]}) == {2}
    assert ev({"$eq": [{"$trunc": ["$x"]}, -1234]}) == {2}
    assert ev({"$eq": [{"$round": ["$x"]}, 3]}) == {1}
    assert ev({"$eq": [{"$round": ["$x", 2]}, -1234.57]}) == {2}
    import pytest as _pytest

    with _pytest.raises(ValueError, match=r"\$round"):
        compile_criteria({"$expr": {"$eq": [{"$round": ["$x", 1, 2]}, 0]}},
                         schema=df.schema)
    with _pytest.raises(ValueError, match=r"\$trunc"):
        compile_criteria({"$expr": {"$eq": [{"$trunc": ["$x", "two"]}, 0]}},
                         schema=df.schema)


def test_type_operator(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [(1, "x", 1.5, ["a"], None), (2, None, 2.0, None, None)],
        "k bigint, s string, n double, arr array<string>, ts timestamp")
    from maggma_spark.functions.criteria import compile_criteria

    def run(crit):
        return sorted(r["k"] for r in
                      df.filter(compile_criteria(crit, schema=df.schema))
                      .collect())

    assert run({"s": {"$type": "string"}}) == [1]       # null s excluded
    assert run({"s": {"$type": "null"}}) == [2]
    assert run({"n": {"$type": "double"}}) == [1, 2]
    assert run({"n": {"$type": "number"}}) == [1, 2]
    assert run({"n": {"$type": "string"}}) == []        # wrong static type
    assert run({"arr": {"$type": "array"}}) == [1]
    assert run({"k": {"$type": ["long", "null"]}}) == [1, 2]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="type alias"):
        run({"k": {"$type": "javascript"}})


# ---------------------------------------------------------------------------
# VARIANT paths (Spark-4 semi-structured column = the schemaless doc tail)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def variant_store(spark):
    from maggma_spark.sources.memory import MemoryStore

    df = spark.createDataFrame([
        (1, '{"color": "red", "n": 5, "nested": {"depth": 2.5}, "ok": true}'),
        (2, '{"color": "blue", "n": 7.5}'),
        (3, '{"n": null, "tag": "x"}'),
        (4, '{}'),
    ], ["task_id", "j"]).select(
        "task_id", F.parse_json("j").alias("meta"))
    return MemoryStore(spark, df, key="task_id", name="vdocs")


def _ids(st, crit):
    return sorted(r["task_id"] for r in st.query(criteria=crit).collect())


def test_variant_equality_and_comparisons(variant_store):
    st = variant_store
    assert _ids(st, {"meta.color": "red"}) == [1]
    # int criteria matches stored double and stored int (double compare)
    assert _ids(st, {"meta.n": {"$gte": 5}}) == [1, 2]
    assert _ids(st, {"meta.n": 7.5}) == [2]
    assert _ids(st, {"meta.nested.depth": {"$lt": 3}}) == [1]
    assert _ids(st, {"meta.ok": True}) == [1]


def test_variant_null_missing_exists(variant_store):
    st = variant_store
    # Mongo {f: null} matches JSON null AND missing
    assert _ids(st, {"meta.n": None}) == [3, 4]
    assert _ids(st, {"meta.tag": {"$exists": True}}) == [3]
    assert _ids(st, {"meta.color": {"$exists": False}}) == [3, 4]
    # mistyped comparison -> non-match, not an error
    assert _ids(st, {"meta.color": {"$gt": 100}}) == []


def test_variant_in_regex_ne(variant_store):
    st = variant_store
    assert _ids(st, {"meta.color": {"$in": ["red", "green"]}}) == [1]
    assert _ids(st, {"meta.color": {"$in": ["red", None]}}) == [1, 3, 4]
    assert _ids(st, {"meta.color": {"$regex": "^RE", "$options": "i"}}) == [1]
    # $ne matches missing too (Mongo semantics)
    assert _ids(st, {"meta.color": {"$ne": "red"}}) == [2, 3, 4]


def test_variant_projection_and_unsupported_ops(variant_store):
    st = variant_store
    rows = {r["task_id"]: r["meta.color"]
            for r in st.query(criteria={"meta.n": {"$exists": True}},
                              properties=["task_id", "meta.color"]).collect()}
    assert set(rows) == {1, 2, 3}
    assert str(rows[1]).strip('"') == "red"
    with pytest.raises(ValueError, match="VARIANT"):
        st.query(criteria={"meta.n": {"$mod": [2, 0]}}).collect()
    with pytest.raises(ValueError, match="VARIANT"):
        st.query(criteria={"meta.nested": {"depth": 2.5}}).collect()


def test_expr_array_hofs_and_sets(spark):
    """$map/$filter/$reduce compile to JVM lambda functions; set ops,
    $slice/$indexOfArray/$range/$first/$last follow Mongo conventions
    (0-based, exclusive range end, -1 for absent)."""
    from pyspark.sql import Row

    from maggma_spark.functions.criteria import compile_criteria

    df = spark.createDataFrame(
        [Row(k=1, xs=[1, 2, 3, 4], ys=[3, 4, 5])])

    def val(expr):
        from maggma_spark.functions.criteria import compile_expr
        return df.select(compile_expr(
            expr, lambda n: df[n]).alias("v")).first()["v"]

    assert val({"$map": {"input": "$xs", "as": "x",
                         "in": {"$multiply": ["$$x", 10]}}}) == \
        [10, 20, 30, 40]
    assert val({"$filter": {"input": "$xs", "as": "x",
                            "cond": {"$gte": ["$$x", 3]}}}) == [3, 4]
    assert val({"$reduce": {"input": "$xs", "initialValue": 0,
                            "in": {"$add": ["$$value", "$$this"]}}}) == 10
    assert val({"$setUnion": ["$xs", "$ys"]}) == [1, 2, 3, 4, 5]
    assert val({"$setIntersection": ["$xs", "$ys"]}) == [3, 4]
    assert val({"$setDifference": ["$xs", "$ys"]}) == [1, 2]
    assert val({"$concatArrays": ["$xs", "$ys"]}) == [1, 2, 3, 4, 3, 4, 5]
    assert val({"$slice": ["$xs", 2]}) == [1, 2]
    assert val({"$slice": ["$xs", -2]}) == [3, 4]
    assert val({"$slice": ["$xs", 1, 2]}) == [2, 3]
    assert val({"$indexOfArray": ["$xs", 3]}) == 2
    assert val({"$indexOfArray": ["$xs", 99]}) == -1
    assert val({"$range": [0, 7, 2]}) == [0, 2, 4, 6]
    assert val({"$range": [5, 5]}) == []
    assert val({"$range": [5, 0, -2]}) == [5, 3, 1]
    assert val({"$first": "$xs"}) == 1
    assert val({"$last": "$xs"}) == 4
    assert val({"$regexMatch": {"input": {"$literal": "Spark"},
                                "regex": "spa", "options": "i"}}) is True


def test_expr_date_operators(spark):
    """$dateTrunc/$dateAdd/$dateDiff — boundary-crossing diff semantics."""
    import datetime as dt

    from pyspark.sql import Row

    from maggma_spark.functions.criteria import compile_expr

    df = spark.createDataFrame([Row(
        a=dt.datetime(2024, 1, 31, 23, 59, 0),
        b=dt.datetime(2024, 2, 1, 0, 1, 0))])

    def val(expr):
        return df.select(compile_expr(
            expr, lambda n: df[n]).alias("v")).first()["v"]

    # 2 minutes apart but crossing one day/month boundary
    assert val({"$dateDiff": {"startDate": "$a", "endDate": "$b",
                              "unit": "day"}}) == 1
    assert val({"$dateDiff": {"startDate": "$a", "endDate": "$b",
                              "unit": "month"}}) == 1
    assert val({"$dateDiff": {"startDate": "$a", "endDate": "$b",
                              "unit": "minute"}}) == 2
    assert val({"$dateTrunc": {"date": "$b", "unit": "hour"}}) == \
        dt.datetime(2024, 2, 1, 0, 0, 0)
    assert val({"$dateAdd": {"startDate": "$a", "unit": "hour",
                             "amount": 2}}) == \
        dt.datetime(2024, 2, 1, 1, 59, 0)


def test_expr_hof_struct_access_and_nesting(spark):
    """$$this.field walks struct fields of the lambda element; inner
    HOFs can reference outer lambda variables; Mongo edge conventions:
    last-N slice beyond length returns the whole array, single-arg set
    ops still dedupe."""
    from pyspark.sql import Row

    from maggma_spark.functions.criteria import compile_expr

    df = spark.createDataFrame([Row(
        items=[Row(sku="a", qty=2), Row(sku="b", qty=7)],
        xs=[1, 2], dups=["a", "a", "b"])])

    def val(expr):
        return df.select(compile_expr(
            expr, lambda n: df[n]).alias("v")).first()["v"]

    got = val({"$filter": {"input": "$items",
                           "cond": {"$gte": ["$$this.qty", 5]}}})
    assert [r["sku"] for r in got] == ["b"]
    assert val({"$map": {"input": "$items", "as": "it",
                         "in": {"$toUpper": "$$it.sku"}}}) == ["A", "B"]
    # nested HOF referencing the OUTER lambda variable
    assert val({"$map": {"input": "$xs", "as": "x",
                         "in": {"$map": {"input": "$xs", "as": "y",
                                         "in": {"$add": ["$$x", "$$y"]}}}}}) \
        == [[2, 3], [3, 4]]
    assert val({"$slice": ["$xs", -5]}) == [1, 2]
    assert val({"$setUnion": ["$dups"]}) == ["a", "b"]
    assert val({"$setIntersection": ["$dups"]}) == ["a", "b"]


def test_slice_empty_array_and_indexof_range_args(spark):
    """$slice [arr, -n] on an EMPTY array returns [] (the naive
    greatest(n, -size) start is 0 there and Spark's slice raises);
    $indexOfArray's unsupported start/end range args fail loudly."""
    import pytest as _pt
    from pyspark.sql import Row

    from maggma_spark.functions.criteria import compile_expr

    df = spark.createDataFrame([Row(k=1, xs=[1, 2])])
    empty = {"$filter": {"input": "$xs",
                         "cond": {"$gt": ["$$this", 99]}}}

    def val(expr):
        return df.select(compile_expr(
            expr, lambda n: df[n]).alias("v")).first()["v"]

    assert val({"$slice": [empty, -2]}) == []
    assert val({"$slice": [empty, 2]}) == []
    assert val({"$slice": ["$xs", -2]}) == [1, 2]
    with _pt.raises(ValueError, match="start/end"):
        val({"$indexOfArray": ["$xs", 2, 1]})


def test_expr_object_array_zip_date_ops(spark):
    """Round-6 expression wave: $objectToArray (MapType), $arrayToObject,
    $getField, $sortArray (direction + field-doc comparator), $zip
    (shortest + longest/defaults), $dateFromString (ISO + %-format)."""
    import datetime as dt

    import pytest as _pt
    from pyspark.sql import Row

    from maggma_spark.functions.criteria import compile_expr

    df = spark.createDataFrame([Row(
        m={"a": 1, "b": 2},
        pairs=[Row(k="x", v=10), Row(k="y", v=20)],
        s=Row(f1=5, f2="hello"),
        arr=[3, 1, 2],
        structs=[Row(a=2, b="p"), Row(a=1, b="q"), Row(a=2, b="a")],
        xs=[1, 2, 3], ys=[10, 20],
        dstr="2024-03-05 06:07:08", dfmt="05/03/2024")])

    def val(expr):
        return df.select(compile_expr(
            expr, lambda n: df[n]).alias("v")).first()["v"]

    o2a = val({"$objectToArray": "$m"})
    assert sorted((e["k"], e["v"]) for e in o2a) == [("a", 1), ("b", 2)]
    assert val({"$arrayToObject": "$pairs"}) == {"x": 10, "y": 20}
    assert val({"$getField": {"field": "f2", "input": "$s"}}) == "hello"
    # round-trip through a map; missing key -> null, not an error
    assert val({"$getField": {
        "field": "zz",
        "input": {"$arrayToObject": "$pairs"}}}) is None
    assert val({"$sortArray": {"input": "$arr", "sortBy": 1}}) == [1, 2, 3]
    assert val({"$sortArray": {"input": "$arr", "sortBy": -1}}) == [3, 2, 1]
    got = val({"$sortArray": {"input": "$structs",
                              "sortBy": {"a": 1, "b": -1}}})
    assert [(r["a"], r["b"]) for r in got] == [(1, "q"), (2, "p"),
                                              (2, "a")]
    assert val({"$zip": {"inputs": ["$xs", "$ys"]}}) == [[1, 10], [2, 20]]
    assert val({"$zip": {"inputs": ["$xs", "$ys"],
                         "useLongestLength": True,
                         "defaults": [0, -1]}}) == \
        [[1, 10], [2, 20], [3, -1]]
    assert val({"$dateFromString": {"dateString": "$dstr"}}) == \
        dt.datetime(2024, 3, 5, 6, 7, 8)
    assert val({"$dateFromString": {"dateString": "$dfmt",
                                    "format": "%d/%m/%Y"}}) == \
        dt.datetime(2024, 3, 5)
    with _pt.raises(ValueError, match="unsupported"):
        val({"$dateFromString": {"dateString": "$dfmt", "format": "%q"}})
    with _pt.raises(ValueError, match="onError"):
        val({"$dateFromString": {"dateString": "$dfmt", "onError": 0}})


def test_expr_string_math_date_batch2(spark):
    """Round-6 expression batch 2: $toDate, $dateToString, $replaceAll/
    $replaceOne (literal find, never regex), $ltrim/$rtrim chars sets,
    $log with expression base, $log10, $reverseArray, $setIsSubset,
    $anyElementTrue/$allElementsTrue, $isoWeek/$isoDayOfWeek/
    $millisecond."""
    import datetime as dt

    from pyspark.sql import Row

    from maggma_spark.functions.criteria import compile_expr

    df = spark.createDataFrame([Row(
        s="banana-bread", ts=dt.datetime(2024, 3, 6, 7, 8, 9, 123456),
        v=8.0, xs=[1, 2, 3], bs=[True, False], allb=[True, True],
        sub=[2, 1], sup=[1, 2, 3])])

    def val(expr):
        return df.select(compile_expr(
            expr, lambda n: df[n]).alias("v")).first()["v"]

    assert val({"$toDate": "2024-03-06 01:02:03"}) == \
        dt.datetime(2024, 3, 6, 1, 2, 3)
    assert val({"$dateToString": {"date": "$ts",
                                  "format": "%Y/%m/%d %H:%M"}}) == \
        "2024/03/06 07:08"
    assert val({"$replaceAll": {"input": "$s", "find": "a",
                                "replacement": "@"}}) == "b@n@n@-bre@d"
    assert val({"$replaceOne": {"input": "$s", "find": "an",
                                "replacement": "AN"}}) == "bANana-bread"
    assert val({"$replaceOne": {"input": "$s", "find": "zz",
                                "replacement": "X"}}) == "banana-bread"
    assert val({"$ltrim": {"input": "  hi "}}) == "hi "
    # chars are a SET (any order), escaped per-char — '-' is literal
    assert val({"$rtrim": {"input": "$s", "chars": "dbaer-"}}) == "banan"
    assert abs(val({"$log": [{"$add": ["$v", 0]}, 2]}) - 3.0) < 1e-12
    assert abs(val({"$log10": 100}) - 2.0) < 1e-12
    assert val({"$reverseArray": "$xs"}) == [3, 2, 1]
    assert val({"$setIsSubset": ["$sub", "$sup"]}) is True
    assert val({"$setIsSubset": ["$sup", "$sub"]}) is False
    assert val({"$anyElementTrue": ["$bs"]}) is True
    assert val({"$allElementsTrue": ["$bs"]}) is False
    assert val({"$allElementsTrue": ["$allb"]}) is True
    assert val({"$isoWeek": "$ts"}) == 10
    assert val({"$isoDayOfWeek": "$ts"}) == 3  # Wednesday
    assert val({"$millisecond": "$ts"}) == 123


def test_date_format_literal_quoting(spark):
    """Round-7 (ADVICE): Mongo's DEFAULT $dateToString format
    "%Y-%m-%dT%H:%M:%S.%LZ" contains literal letters (T, Z) that a
    Java pattern must quote — the naive translation raised
    INVALID_DATETIME_PATTERN at execution. %% is a literal percent,
    not an "unsupported specifier"; a trailing bare % raises."""
    import datetime as dt

    import pytest as _pt
    from pyspark.sql import Row

    from maggma_spark.functions.criteria import (
        _mongo_fmt_to_java,
        compile_expr,
    )

    assert _mongo_fmt_to_java("%Y-%m-%dT%H:%M:%S.%LZ") == \
        "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
    assert _mongo_fmt_to_java("100%% of %Y") == "'100% of 'yyyy"
    assert _mongo_fmt_to_java("%Y/%m/%d %H:%M") == "yyyy/MM/dd HH:mm"
    with _pt.raises(ValueError, match="unsupported"):
        _mongo_fmt_to_java("%Y %q")
    with _pt.raises(ValueError, match="bare"):
        _mongo_fmt_to_java("%Y %")

    df = spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 3, 6, 7, 8, 9, 123000))])

    def val(expr):
        return df.select(compile_expr(
            expr, lambda n: df[n]).alias("v")).first()["v"]

    # the no-format default path must EXECUTE (round-6 raised here)
    assert val({"$dateToString": {"date": "$ts"}}) == \
        "2024-03-06T07:08:09.123Z"
    assert val({"$dateToString": {"date": "$ts",
                                  "format": "%j day, %H%%"}}) == \
        "066 day, 07%"


def test_expr_round7_wave(spark):
    """Round-7 expression wave: $sum/$avg (expression form), $cmp/
    $strcasecmp, $substr/$strLenBytes, $isArray/$isNumber, $convert
    (onError/onNull), $degreesToRadians/$radiansToDegrees, $week,
    $isoWeekYear, $let, $setEquals, bit operators, $mergeObjects
    (expression form), $dateSubtract, $dateFromParts, $dateToParts."""
    import datetime as dt
    import math

    import pytest as _pt
    from pyspark.sql import Row

    from maggma_spark.functions.criteria import compile_expr

    df = spark.createDataFrame([Row(
        s="Hello", t="hello", xs=[1.0, None, 3.0],
        m1={"a": 1, "b": 2}, m2={"b": 9, "c": 3},
        ts=dt.datetime(2024, 3, 6, 7, 8, 9, 123000), n=7, txt="42x")])

    def val(expr):
        return df.select(compile_expr(
            expr, lambda nm: df[nm]).alias("v")).first()["v"]

    assert val({"$sum": "$xs"}) == 4.0
    assert val({"$sum": ["$n", None, 3]}) == 10.0
    assert val({"$sum": []}) == 0.0
    assert val({"$avg": "$xs"}) == 2.0
    assert val({"$avg": []}) is None
    assert val({"$cmp": ["$n", 9]}) == -1
    assert val({"$cmp": [None, 0]}) == -1  # null lowest
    assert val({"$strcasecmp": ["$s", "$t"]}) == 0
    assert val({"$substr": ["$s", 1, 3]}) == "ell"
    assert val({"$strLenBytes": "$s"}) == 5
    assert val({"$isArray": "$xs"}) is True
    assert val({"$isArray": "$n"}) is False
    assert val({"$isNumber": "$n"}) is True
    assert val({"$isNumber": "$s"}) is False
    assert val({"$convert": {"input": "$txt", "to": "int",
                             "onError": -1}}) == -1
    assert val({"$convert": {"input": None, "to": "int",
                             "onNull": 0}}) == 0
    with _pt.raises(ValueError, match="not supported"):
        val({"$convert": {"input": "$n", "to": "objectId"}})
    assert abs(val({"$degreesToRadians": 180}) - math.pi) < 1e-12
    assert abs(val({"$radiansToDegrees": math.pi}) - 180) < 1e-12
    assert val({"$week": "$ts"}) == 9  # strftime %U of 2024-03-06
    assert val({"$isoWeekYear": "$ts"}) == 2024
    # ISO-year boundary: 2024-12-30 belongs to ISO week 1 of 2025
    assert val({"$isoWeekYear": {"$dateFromParts": {
        "year": 2024, "month": 12, "day": 30}}}) == 2025
    assert val({"$let": {"vars": {"two": 2},
                         "in": {"$multiply": ["$$two", "$n"]}}}) == 14
    assert val({"$setEquals": [[1, 2, 2], [2, 1]]}) is True
    assert val({"$setEquals": [[1, 2], [2, 3]]}) is False
    assert val({"$bitAnd": [12, 10]}) == 8
    assert val({"$bitOr": [12, 10]}) == 14
    assert val({"$bitXor": [12, 10]}) == 6
    assert val({"$bitNot": 0}) == -1
    assert val({"$mergeObjects": ["$m1", "$m2"]}) == \
        {"a": 1, "b": 9, "c": 3}
    assert val({"$dateSubtract": {"startDate": "$ts", "unit": "day",
                                  "amount": 6}}) == \
        dt.datetime(2024, 2, 29, 7, 8, 9, 123000)
    assert val({"$dateFromParts": {"year": 2024, "month": 3,
                                   "day": 6}}) == dt.datetime(2024, 3, 6)
    parts = val({"$dateToParts": {"date": "$ts"}})
    assert parts["year"] == 2024 and parts["millisecond"] == 123


def test_expr_round7b_wave(spark):
    """Round-7b expression wave: trig family, $atan2, $indexOfCP/
    $indexOfBytes, $regexFind/$regexFindAll, $setField/$unsetField,
    $maxN/$minN/$firstN/$lastN (array expression forms), $median/
    $percentile (array expression forms), $binarySize, $rand."""
    import math

    import pytest as _pt
    from pyspark.sql import Row

    from maggma_spark.functions.criteria import compile_expr

    df = spark.createDataFrame(
        [(1, "abc12de345", [3.0, 1.0, None, 2.0, 5.0], {"a": 1, "b": 2})],
        "id int, s string, arr array<double>, m map<string,int>")

    def val(expr):
        return df.select(compile_expr(
            expr, lambda nm: df[nm]).alias("v")).first()["v"]

    assert val({"$sin": 0.5}) == _pt.approx(math.sin(0.5))
    assert val({"$acos": 1}) == _pt.approx(0.0)
    assert val({"$tanh": 2}) == _pt.approx(math.tanh(2))
    assert val({"$asinh": 2}) == _pt.approx(math.asinh(2))
    assert val({"$atan2": ["$id", 2]}) == _pt.approx(math.atan2(1, 2))
    # out-of-domain -> NaN (deviation: Mongo raises)
    assert math.isnan(val({"$asin": 2}))

    assert val({"$indexOfCP": ["$s", "12"]}) == 3
    assert val({"$indexOfCP": ["$s", "zz"]}) == -1
    assert val({"$indexOfCP": ["$s", "3", 4]}) == 7
    assert val({"$indexOfCP": ["$s", "345", 0, 5]}) == -1  # end-bounded
    assert val({"$indexOfBytes": [None, "x"]}) is None

    r = val({"$regexFind": {"input": "$s", "regex": r"(\d)(\d+)"}})
    assert (r["match"], r["idx"], list(r["captures"])) == \
        ("12", 3, ["1", "2"])
    assert val({"$regexFind": {"input": "$s", "regex": "zz"}}) is None
    alls = val({"$regexFindAll": {"input": "$s", "regex": r"\d+"}})
    assert [(m["match"], m["idx"]) for m in alls] == [("12", 3), ("345", 7)]
    assert val({"$regexFindAll": {"input": None, "regex": "x"}}) == []
    # case-insensitive option
    assert val({"$regexFind": {"input": "$s", "regex": "ABC",
                               "options": "i"}})["idx"] == 0

    assert val({"$setField": {"field": "a", "input": "$m",
                              "value": 42}}) == {"a": 42, "b": 2}
    assert val({"$setField": {"field": "c", "input": "$m",
                              "value": 9}}) == {"a": 1, "b": 2, "c": 9}
    assert val({"$setField": {"field": "a", "input": "$m",
                              "value": "$$REMOVE"}}) == {"b": 2}
    assert val({"$unsetField": {"field": "b", "input": "$m"}}) == {"a": 1}

    assert val({"$maxN": {"n": 2, "input": "$arr"}}) == [5.0, 3.0]
    assert val({"$minN": {"n": 2, "input": "$arr"}}) == [1.0, 2.0]
    assert val({"$firstN": {"n": 2, "input": "$arr"}}) == [3.0, 1.0]
    assert val({"$lastN": {"n": 2, "input": "$arr"}}) == [2.0, 5.0]
    assert val({"$lastN": {"n": 9, "input": "$arr"}}) == \
        [3.0, 1.0, None, 2.0, 5.0]

    # continuous interpolation over the non-null elements {1,2,3,5}
    assert val({"$median": {"input": "$arr",
                            "method": "approximate"}}) == 2.5
    assert val({"$percentile": {
        "input": "$arr", "p": [0.25, 0.5, 1.0],
        "method": "approximate"}}) == [1.75, 2.5, 5.0]
    assert val({"$median": {"input": [],
                            "method": "approximate"}}) is None

    assert val({"$binarySize": "$s"}) == 10
    assert 0.0 <= val({"$rand": {}}) < 1.0
    with _pt.raises(ValueError):
        val({"$percentile": {"input": "$arr", "p": "x"}})
    with _pt.raises(ValueError):
        val({"$maxN": {"n": 0, "input": "$arr"}})


def test_expr_unary_list_unwrap_and_trim_chars(spark):
    """Every one-argument operator takes Mongo's one-element argument
    list ({op: [x]} is {op: x}), and $trim honours `chars` like
    $ltrim/$rtrim."""
    from maggma_spark.functions.criteria import compile_expr

    df = spark.createDataFrame([("xxhixx", "Mixed", [1, 2, 3])],
                               "p string, t string, arr array<bigint>")

    def val(expr):
        return df.select(compile_expr(
            expr, lambda nm: df[nm]).alias("v")).first()["v"]

    assert val({"$trim": {"input": "$p", "chars": "x"}}) == "hi"
    assert val({"$trim": {"input": " a b ", "chars": " "}}) == "a b"
    assert val({"$size": ["$arr"]}) == 3
    assert val({"$toLower": ["$t"]}) == "mixed"
    assert val({"$first": ["$arr"]}) == 1
    assert val({"$sin": [0]}) == 0.0
    with pytest.raises(ValueError, match="takes one argument"):
        val({"$abs": [1, 2]})


def test_expr_trim_default_whitespace(spark):
    """$trim/$ltrim/$rtrim without `chars` strip Mongo's whitespace set
    (NUL, \\t\\n\\v\\f\\r, space and the Unicode spaces), not only ' '."""
    from maggma_spark.functions.criteria import compile_expr

    df = spark.createDataFrame([(1,)], "k int")

    def val(expr):
        return df.select(compile_expr(
            expr, lambda nm: df[nm]).alias("v")).first()["v"]

    assert val({"$trim": {"input": "\thi\n"}}) == "hi"
    assert val({"$trim": {"input": "\xa0hi"}}) == "hi"
    assert val({"$trim": {"input": "\x00hi "}}) == "hi"
    assert val({"$ltrim": {"input": "\u3000\u2002 hi\u2028"}}) \
        == "hi\u2028"
    assert val({"$rtrim": {"input": "\x0b hi\x0c\r\u205f"}}) == "\x0b hi"


_EXPR_ROW_DDL = (
    "n bigint, q bigint, x double, f double, s string, u string, "
    "p string, t string, num string, ds string, z string, "
    "bits bigint, bits2 bigint, arr array<bigint>, ys array<bigint>, "
    "bs array<boolean>, d timestamp, m map<string,bigint>, "
    "m2 map<string,bigint>, kv array<struct<k:string,v:bigint>>, "
    "__search_score double")


def _expr_row():
    import datetime as dt

    return (4, 7, -2.5, 0.5, "Hello, World", "héllo", "xxhixx",
            "Mixed Case", "42", "2024-03-10", None, 12, 10, [3, 1, 2],
            [2, 5], [True, False],
            dt.datetime(2024, 3, 10, 14, 35, 21, 250000),
            {"a": 1, "b": 2}, {"b": 20, "c": 30}, [("a", 1), ("b", 2)], 1.5)


def _expr_cases() -> dict:
    """op -> (expression over _expr_row(), expected value from Python)."""
    import datetime as dt
    import math

    d = _expr_row()[16]
    day = dt.datetime(2024, 3, 10)
    cases = {
        "$not": ([{"$gt": ["$n", 5]}], True),
        "$abs": ("$x", 2.5), "$sqrt": ("$n", 2.0),
        "$exp": ("$f", math.exp(0.5)), "$ln": ("$n", math.log(4)),
        "$log10": (1000, 3.0), "$floor": ("$x", -3), "$ceil": ("$x", -2),
        "$acosh": ("$n", math.acosh(4)),
        "$degreesToRadians": (180, math.pi),
        "$radiansToDegrees": ("$f", math.degrees(0.5)),
        "$bitNot": ("$bits", ~12),
        "$toLower": ("$t", "mixed case"), "$toUpper": ("$t", "MIXED CASE"),
        "$strLenCP": ("$u", 5), "$strLenBytes": ("$u", 6),
        "$binarySize": ("$u", 6),
        "$toString": ("$n", "4"), "$toInt": ("$num", 42),
        "$toLong": ("$num", 42), "$toDouble": ("$num", 42.0),
        "$toDecimal": ("$num", 42.0), "$toBool": ("$n", True),
        "$toDate": ("$ds", day),
        "$year": ("$d", 2024), "$month": ("$d", 3),
        "$dayOfMonth": ("$d", 10), "$hour": ("$d", 14),
        "$minute": ("$d", 35), "$second": ("$d", 21),
        "$millisecond": ("$d", 250),
        "$dayOfWeek": ("$d", d.isoweekday() % 7 + 1),
        "$dayOfYear": ("$d", d.timetuple().tm_yday),
        "$isoDayOfWeek": ("$d", d.isoweekday()),
        "$isoWeek": ("$d", d.isocalendar()[1]),
        "$isoWeekYear": ("$d", d.isocalendar()[0]),
        "$week": ("$d", int(d.strftime("%U"))),
        "$size": ("$arr", 3), "$reverseArray": ("$arr", [2, 1, 3]),
        "$first": ("$arr", 3), "$last": ("$arr", 2),
        "$isArray": ("$arr", True), "$isNumber": ("$x", True),
        "$anyElementTrue": (["$bs"], True),
        "$allElementsTrue": (["$bs"], False),
        "$objectToArray": ("$m", [("a", 1), ("b", 2)]),
        "$arrayToObject": ("$kv", {"a": 1, "b": 2}),
        "$gt": (["$n", 3], True), "$gte": (["$n", 4], True),
        "$lt": (["$n", 4], False), "$lte": (["$n", 4], True),
        "$eq": (["$z", None], True), "$ne": (["$n", 5], True),
        "$cmp": (["$n", "$q"], -1),
        "$strcasecmp": (["$t", "MIXED CASE"], 0),
        "$add": (["$n", "$x"], 1.5), "$subtract": (["$n", 1], 3),
        "$multiply": (["$n", "$x"], -10.0), "$divide": (["$n", 8], 0.5),
        "$mod": (["$q", "$n"], 3), "$pow": (["$n", 2], 16.0),
        "$log": ([100, 10], 2.0), "$atan2": (["$f", 1], math.atan2(0.5, 1)),
        "$in": ([1, "$arr"], True),
        "$setDifference": (["$arr", "$ys"], [3, 1]),
        "$setIsSubset": ([[1, 2], "$arr"], True),
        "$ifNull": (["$z", "dflt"], "dflt"),
        "$max": (["$n", "$q", 1], 7), "$min": (["$n", "$q", 1], 1),
        "$concat": (["$t", "!"], "Mixed Case!"),
        "$concatArrays": (["$arr", "$ys"], [3, 1, 2, 2, 5]),
        "$setEquals": (["$arr", [2, 3, 1, 1]], True),
        "$mergeObjects": (["$m", "$m2"], {"a": 1, "b": 20, "c": 30}),
        "$and": ([True, {"$gt": ["$n", 1]}], True),
        "$or": ([False, {"$lt": ["$n", 1]}], False),
        "$setUnion": (["$arr", "$ys"], [3, 1, 2, 5]),
        "$setIntersection": (["$arr", "$ys"], [2]),
        "$bitAnd": (["$bits", "$bits2"], 12 & 10),
        "$bitOr": (["$bits", "$bits2"], 12 | 10),
        "$bitXor": (["$bits", "$bits2"], 12 ^ 10),
        "$literal": ("$n", "$n"),
        "$cond": ({"if": {"$gt": ["$n", 3]}, "then": "big",
                   "else": "small"}, "big"),
        "$switch": ({"branches": [
            {"case": {"$lt": ["$n", 2]}, "then": "lo"},
            {"case": {"$lt": ["$n", 6]}, "then": "mid"}],
            "default": "hi"}, "mid"),
        "$let": ({"vars": {"k": {"$multiply": ["$n", 2]}},
                  "in": {"$add": ["$$k", 1]}}, 9),
        "$map": ({"input": "$arr", "as": "v",
                  "in": {"$multiply": ["$$v", 10]}}, [30, 10, 20]),
        "$filter": ({"input": "$arr", "cond": {"$gt": ["$$this", 1]}},
                    [3, 2]),
        "$reduce": ({"input": "$arr", "initialValue": 0,
                     "in": {"$add": ["$$value", "$$this"]}}, 6),
        "$arrayElemAt": (["$arr", -1], 2),
        "$slice": (["$arr", 1, 2], [1, 2]),
        "$indexOfArray": (["$arr", 2], 2),
        "$range": ([0, "$n"], [0, 1, 2, 3]),
        "$sortArray": ({"input": "$arr", "sortBy": -1}, [3, 2, 1]),
        "$zip": ({"inputs": ["$arr", "$ys"]}, [[3, 2], [1, 5]]),
        "$sum": ("$arr", 6.0), "$avg": (["$n", "$q"], 5.5),
        "$maxN": ({"n": 2, "input": "$arr"}, [3, 2]),
        "$minN": ({"n": 2, "input": "$arr"}, [1, 2]),
        "$firstN": ({"n": 2, "input": "$arr"}, [3, 1]),
        "$lastN": ({"n": 2, "input": "$arr"}, [1, 2]),
        "$median": ({"input": "$arr", "method": "approximate"}, 2.0),
        "$percentile": ({"input": "$arr", "p": [0.5, 1.0],
                         "method": "approximate"}, [2.0, 3.0]),
        "$round": ([3.14159, 2], 3.14), "$trunc": ([3.14159, 2], 3.14),
        "$substrCP": (["$s", 7, 5], "World"),
        "$substr": (["$s", 7, 5], "World"),
        "$substrBytes": (["$s", 7, 5], "World"),
        "$split": (["$s", ", "], ["Hello", "World"]),
        "$trim": ({"input": "$p", "chars": "x"}, "hi"),
        "$ltrim": ({"input": "$p", "chars": "x"}, "hixx"),
        "$rtrim": ({"input": "$p", "chars": "x"}, "xxhi"),
        "$replaceAll": ({"input": "$p", "find": "x", "replacement": "y"},
                        "yyhiyy"),
        "$replaceOne": ({"input": "$p", "find": "x", "replacement": "y"},
                        "yxhixx"),
        "$indexOfCP": (["$s", "o"], 4),
        "$indexOfBytes": (["$s", "World"], 7),
        "$regexMatch": ({"input": "$s", "regex": "world",
                         "options": "i"}, True),
        "$regexFind": ({"input": "$s", "regex": "(o)r"},
                       ("or", 8, ["o"])),
        "$regexFindAll": ({"input": "$s", "regex": "l+"},
                          [("ll", 2, []), ("l", 10, [])]),
        "$convert": ({"input": "$num", "to": "int"}, 42),
        "$dateFromString": ({"dateString": "$ds"}, day),
        "$dateToString": ({"date": "$d", "format": "%Y-%m-%d"},
                          "2024-03-10"),
        "$dateAdd": ({"startDate": "$d", "unit": "day", "amount": 1},
                     d + dt.timedelta(days=1)),
        "$dateSubtract": ({"startDate": "$d", "unit": "day", "amount": 1},
                          d - dt.timedelta(days=1)),
        "$dateDiff": ({"startDate": {"$toDate": "$ds"}, "endDate": "$d",
                       "unit": "hour"}, 14),
        "$dateTrunc": ({"date": "$d", "unit": "day"}, day),
        "$dateFromParts": ({"year": 2024, "month": 3, "day": "$n"},
                           dt.datetime(2024, 3, 4)),
        "$dateToParts": ({"date": "$d"}, (2024, 3, 10, 14, 35, 21, 250)),
        "$getField": ({"field": "b", "input": "$m"}, 2),
        "$setField": ({"field": "c", "input": "$m", "value": 3},
                      {"a": 1, "b": 2, "c": 3}),
        "$unsetField": ({"field": "a", "input": "$m"}, {"b": 2}),
        "$meta": ("searchScore", 1.5),
        "$rand": ({}, None),  # checked as a range below
    }
    for op, fn in [("$sin", math.sin), ("$cos", math.cos),
                   ("$tan", math.tan), ("$asin", math.asin),
                   ("$acos", math.acos), ("$atan", math.atan),
                   ("$sinh", math.sinh), ("$cosh", math.cosh),
                   ("$tanh", math.tanh), ("$asinh", math.asinh),
                   ("$atanh", math.atanh)]:
        cases[op] = ("$f", fn(0.5))
    return cases


_EXPR_CASES = _expr_cases()


@pytest.fixture(scope="module")
def expr_results(spark):
    """Every case's value, computed in one select over _expr_row()."""
    from maggma_spark.functions.criteria import compile_expr

    df = spark.createDataFrame([_expr_row()], _EXPR_ROW_DDL)
    ops = sorted(_EXPR_CASES)
    row = df.select(*[
        compile_expr({op: _EXPR_CASES[op][0]},
                     lambda nm: df[nm]).alias(f"c{i}")
        for i, op in enumerate(ops)]).first()
    return dict(zip(ops, row))


@pytest.mark.parametrize("op", sorted(_EXPR_CASES))
def test_expr_operator_table(expr_results, op):
    """One case per key of the operator table, and no key without
    one: an operator cannot land untested."""
    from maggma_spark.functions.criteria import _EXPR_OPS

    assert set(_EXPR_CASES) == set(_EXPR_OPS)
    got, want = expr_results[op], _EXPR_CASES[op][1]
    if op == "$rand":
        assert 0.0 <= got < 1.0
    elif isinstance(want, float) or (
            isinstance(want, list) and want
            and isinstance(want[0], float)):
        assert got == pytest.approx(want)
    else:
        assert got == want
