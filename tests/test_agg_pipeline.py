"""Mongo aggregation-pipeline compiler tests (reference parity:
AggregationResource pipelines, api/resource/aggregation.py:65-101)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from maggma_spark.functions.agg_pipeline import (
    compile_pipeline,
    serve_aggregation,
)
from maggma_spark.sources.memory import MemoryStore


@pytest.fixture()
def sales(spark):
    return spark.createDataFrame([
        Row(sku="a", region="east", qty=2, price=10.0, tags=["new", "hot"]),
        Row(sku="b", region="east", qty=1, price=20.0, tags=["hot"]),
        Row(sku="c", region="west", qty=5, price=8.0, tags=[]),
        Row(sku="d", region="west", qty=3, price=12.0, tags=None),
        Row(sku="e", region="north", qty=1, price=99.0, tags=["rare"]),
    ])


def test_match_group_sort_limit(sales):
    out = compile_pipeline(sales, [
        {"$match": {"qty": {"$gte": 2}}},
        {"$group": {"_id": "$region",
                    "n": {"$sum": 1},
                    "revenue": {"$sum": {"$multiply": ["$qty", "$price"]}}}},
        {"$sort": {"revenue": -1}},
        {"$limit": 1},
    ]).collect()
    assert len(out) == 1
    assert out[0]["_id"] == "west" and out[0]["revenue"] == 76.0
    assert out[0]["n"] == 2


def test_group_compound_id_and_accumulators(sales):
    rows = compile_pipeline(sales, [
        {"$group": {"_id": {"r": "$region"},
                    "skus": {"$addToSet": "$sku"},
                    "maxp": {"$max": "$price"}}},
        {"$sort": {"maxp": 1}},
    ]).collect()
    by = {r["_id"]["r"]: r for r in rows}
    assert sorted(by["east"]["skus"]) == ["a", "b"]
    assert by["north"]["maxp"] == 99.0


def test_group_null_id_is_single_group(sales):
    out = compile_pipeline(sales, [
        {"$group": {"_id": None, "total_qty": {"$sum": "$qty"}}},
    ]).collect()
    assert len(out) == 1 and out[0]["total_qty"] == 12


def test_project_addfields_unset_skip_count(sales):
    out = compile_pipeline(sales, [
        {"$addFields": {"value": {"$multiply": ["$qty", "$price"]}}},
        {"$unset": "tags"},
        {"$project": {"sku": 1, "value": 1}},
        {"$sort": {"value": -1}},
        {"$skip": 1},
    ]).collect()
    assert [r["sku"] for r in out][:2] == ["c", "d"]
    assert set(out[0].asDict()) == {"sku", "value"}
    n = compile_pipeline(sales, [{"$count": "n_docs"}]).first()
    assert n["n_docs"] == 5


def test_unwind_preserve_semantics(sales):
    strict = compile_pipeline(sales, [{"$unwind": "$tags"}]).collect()
    assert sorted(r["tags"] for r in strict) == ["hot", "hot", "new", "rare"]
    kept = compile_pipeline(
        sales, [{"$unwind": {"path": "$tags",
                             "preserveNullAndEmptyArrays": True}}]).collect()
    skus = {r["sku"] for r in kept}
    assert {"c", "d"} <= skus  # empty/null-array docs survive with null tag


def test_lookup_and_sort_by_count(spark, sales):
    regions = spark.createDataFrame(
        [Row(name="east", tz="ET"), Row(name="west", tz="PT")])
    out = compile_pipeline(sales, [
        {"$lookup": {"from": regions, "localField": "region",
                     "foreignField": "name", "as": "region_info"}},
    ]).collect()
    by = {r["sku"]: r["region_info"] for r in out}
    assert by["a"][0]["tz"] == "ET"
    assert by["e"] == []  # no match -> empty array, not null

    counts = compile_pipeline(sales, [{"$sortByCount": "$region"}]).collect()
    assert (counts[0]["_id"], counts[0]["count"]) in {("east", 2), ("west", 2)}
    assert counts[-1]["count"] == 1


def test_replace_root_and_store_resolution(spark, sales):
    nested = compile_pipeline(sales, [
        {"$project": {"doc": {"$literal": None}}},
    ])  # placeholder: build a struct then replace root
    df = compile_pipeline(sales, [
        {"$addFields": {"doc": {"$literal": 1}}},
    ])
    # $lookup resolving a named store
    st = MemoryStore(spark, [Row(name="east", tz="ET")], key="name")
    out = compile_pipeline(sales, [
        {"$lookup": {"from": "regions", "localField": "region",
                     "foreignField": "name", "as": "ri"}},
    ], stores={"regions": st}).collect()
    assert {r["sku"]: len(r["ri"]) for r in out}["a"] == 1
    with pytest.raises(ValueError, match="stores"):
        compile_pipeline(sales, [
            {"$lookup": {"from": "nope", "localField": "region",
                         "foreignField": "name", "as": "x"}}])
    with pytest.raises(ValueError, match="unsupported"):
        compile_pipeline(sales, [{"$redact": {}}])
    with pytest.raises(ValueError, match="at least one facet"):
        compile_pipeline(sales, [{"$facet": {}}])


def test_serve_aggregation_meta(spark, sales):
    st = MemoryStore(spark, sales, key="sku")
    resp = serve_aggregation(st, [
        {"$match": {"region": "east"}},
        {"$group": {"_id": "$region", "n": {"$sum": 1}}},
    ])
    assert resp["meta"]["total_doc"] == 1
    assert resp["data"][0]["n"] == 2


def test_bucket_stage(sales):
    out = compile_pipeline(sales, [
        {"$bucket": {"groupBy": "$price",
                     "boundaries": [0, 10, 50],
                     "default": "other",
                     "output": {"n": {"$sum": 1},
                                "skus": {"$push": "$sku"}}}},
        {"$sort": {"n": -1}},
    ]).collect()
    by = {str(r["_id"]): r for r in out}
    assert by["0"]["n"] == 1            # price 8
    assert by["10"]["n"] == 3           # 10, 20, 12
    assert by["other"]["n"] == 1        # 99
    with pytest.raises(ValueError, match="outside boundaries"):
        compile_pipeline(sales, [
            {"$bucket": {"groupBy": "$price",
                         "boundaries": [0, 10]}}]).collect()


def test_facet_stage(sales):
    row = compile_pipeline(sales, [
        {"$facet": {
            "by_region": [{"$sortByCount": "$region"}],
            "expensive": [{"$match": {"price": {"$gte": 20}}},
                          {"$project": {"sku": 1}}],
        }},
    ]).first()
    assert {f["_id"]: f["count"] for f in row["by_region"]} == {
        "east": 2, "west": 2, "north": 1}
    assert sorted(f["sku"] for f in row["expensive"]) == ["b", "e"]


def test_store_aggregate_method(spark, sales):
    st = MemoryStore(spark, sales, key="sku")
    out = st.aggregate([
        {"$match": {"region": "east"}},
        {"$group": {"_id": None, "qty": {"$sum": "$qty"}}},
    ]).first()
    assert out["qty"] == 3


def test_merge_stage_upserts_into_store(spark, sales):
    tgt = MemoryStore(spark, [Row(region="east", revenue=1.0)], key="region")
    out = compile_pipeline(sales, [
        {"$group": {"_id": "$region",
                    "revenue": {"$sum": {"$multiply": ["$qty", "$price"]}}}},
        {"$project": {"region": "$_id", "revenue": "$revenue"}},
        {"$merge": {"into": "tgt", "on": "region"}},
    ], stores={"tgt": tgt})
    got = {r["region"]: r["revenue"] for r in tgt.df.collect()}
    assert got["east"] == 40.0          # replaced, not kept
    assert got["north"] == 99.0
    assert len(got) == 3

    # keepExisting: existing keys survive untouched
    tgt2 = MemoryStore(spark, [Row(region="east", revenue=-5.0)], key="region")
    compile_pipeline(sales, [
        {"$group": {"_id": "$region", "revenue": {"$sum": "$price"}}},
        {"$project": {"region": "$_id", "revenue": "$revenue"}},
        {"$merge": {"into": "tgt2", "on": "region",
                    "whenMatched": "keepExisting"}},
    ], stores={"tgt2": tgt2})
    got2 = {r["region"]: r["revenue"] for r in tgt2.df.collect()}
    assert got2["east"] == -5.0 and "west" in got2

    # fail mode raises on clash
    with pytest.raises(ValueError, match="already exists"):
        compile_pipeline(sales, [
            {"$project": {"region": 1}},
            {"$merge": {"into": "tgt", "on": "region",
                        "whenMatched": "fail"}},
        ], stores={"tgt": tgt})


def test_out_stage_replaces_store(spark, sales):
    tgt = MemoryStore(
        spark,
        spark.createDataFrame(
            [("zz", "gone", 0, 0.0, None)],
            "sku string, region string, qty bigint, price double, "
            "tags array<string>"),
        key="sku")
    compile_pipeline(sales, [
        {"$match": {"region": "east"}},
        {"$out": "tgt"},
    ], stores={"tgt": tgt})
    assert sorted(r["sku"] for r in tgt.df.collect()) == ["a", "b"]

    # $out must be final
    with pytest.raises(ValueError, match="final"):
        compile_pipeline(sales, [{"$out": "tgt"}, {"$count": "n"}],
                         stores={"tgt": tgt})


def test_graph_lookup_reports_chain(spark):
    staff = spark.createDataFrame(
        [("ceo", None), ("vp", "ceo"), ("mgr", "vp"), ("eng", "mgr"),
         ("intern", "eng"), ("other", None)],
        "name string, reports_to string")
    people = spark.createDataFrame(
        [("eng",), ("other",)], "who string")
    out = compile_pipeline(people, [
        {"$graphLookup": {"from": staff, "startWith": "$who",
                          "connectFromField": "reports_to",
                          "connectToField": "name",
                          "as": "chain", "depthField": "lvl"}},
    ]).collect()
    by = {r["who"]: r["chain"] for r in out}
    # eng -> mgr -> vp -> ceo chain, each at its BFS depth
    chain = {c["name"]: c["lvl"] for c in by["eng"]}
    assert chain == {"eng": 0, "mgr": 1, "vp": 2, "ceo": 3}
    assert {c["name"] for c in by["other"]} == {"other"}

    # maxDepth truncates the walk
    shallow = compile_pipeline(people, [
        {"$graphLookup": {"from": staff, "startWith": "$who",
                          "connectFromField": "reports_to",
                          "connectToField": "name",
                          "as": "chain", "maxDepth": 1}},
    ]).collect()
    sc = {r["who"]: {c["name"] for c in r["chain"]} for r in shallow}
    assert sc["eng"] == {"eng", "mgr"}


def test_graph_lookup_cycle_terminates(spark):
    ring = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "name string, nxt string")
    seed = spark.createDataFrame([("a",)], "who string")
    out = compile_pipeline(seed, [
        {"$graphLookup": {"from": ring, "startWith": "$who",
                          "connectFromField": "nxt",
                          "connectToField": "name", "as": "cycle"}},
    ]).first()
    assert {c["name"] for c in out["cycle"]} == {"a", "b", "c"}


def test_union_with_and_sample(spark, sales):
    extra = spark.createDataFrame(
        [("z1", "south", 7, 1.0, None)],
        "sku string, region string, qty bigint, price double, "
        "tags array<string>")
    out = compile_pipeline(sales, [
        {"$unionWith": {"coll": extra,
                        "pipeline": [{"$match": {"qty": {"$gte": 7}}}]}},
        {"$sortByCount": "$region"},
    ]).collect()
    assert {r["_id"] for r in out} >= {"south", "east"}
    # deterministic $sample: stable across runs, bounded size
    a = compile_pipeline(sales, [{"$sample": {"size": 3}}]).collect()
    b = compile_pipeline(sales, [{"$sample": {"size": 3}}]).collect()
    assert sorted(r["sku"] for r in a) == sorted(r["sku"] for r in b)
    assert len(a) <= 5


def test_set_window_fields(sales):
    out = compile_pipeline(sales, [
        {"$setWindowFields": {
            "partitionBy": "$region",
            "sortBy": {"price": -1},
            "output": {
                "rank_in_region": {"$rank": {}},
                "running_qty": {"$sum": "$qty",
                                "window": {"documents":
                                           ["unbounded", "current"]}},
                "region_total": {"$sum": "$qty"},
            }}},
    ]).collect()
    by = {r["sku"]: r for r in out}
    assert by["b"]["rank_in_region"] == 1        # 20 > 10 in east
    assert by["a"]["rank_in_region"] == 2
    assert by["b"]["running_qty"] == 1 and by["a"]["running_qty"] == 3
    assert by["a"]["region_total"] == 3 == by["b"]["region_total"]
    with pytest.raises(ValueError, match="requires sortBy"):
        compile_pipeline(sales, [
            {"$setWindowFields": {"output": {"r": {"$rank": {}}}}}])


def test_densify_and_fill_timeseries(spark):
    import datetime as dt

    rows = [("s1", dt.datetime(2024, 1, 1, 0), 10.0),
            ("s1", dt.datetime(2024, 1, 1, 3), 13.0),
            ("s2", dt.datetime(2024, 1, 1, 1), 21.0),
            ("s2", dt.datetime(2024, 1, 1, 2), 22.0)]
    df = spark.createDataFrame(rows, "sensor string, ts timestamp, v double")
    out = compile_pipeline(df, [
        {"$densify": {"field": "ts",
                      "partitionByFields": ["sensor"],
                      "range": {"step": 1, "unit": "hour",
                                "bounds": "partition"}}},
        {"$fill": {"partitionBy": "$sensor", "sortBy": {"ts": 1},
                   "output": {"v": {"method": "locf"}}}},
    ]).collect()
    s1 = {r["ts"].hour: r["v"] for r in out if r["sensor"] == "s1"}
    assert s1 == {0: 10.0, 1: 10.0, 2: 10.0, 3: 13.0}  # gaps locf-filled
    s2 = {r["ts"].hour: r["v"] for r in out if r["sensor"] == "s2"}
    assert s2 == {1: 21.0, 2: 22.0}                     # no gaps invented


def test_densify_numeric_full_bounds_and_value_fill(spark):
    df = spark.createDataFrame(
        [(1, "a"), (4, "b")], "step long, label string")
    out = compile_pipeline(df, [
        {"$densify": {"field": "step", "range": {"step": 1,
                                                 "bounds": "full"}}},
        {"$fill": {"output": {"label": {"value": "?"}}}},
    ]).collect()
    got = {r["step"]: r["label"] for r in out}
    assert got == {1: "a", 2: "?", 3: "?", 4: "b"}


def test_densify_keeps_off_grid_originals(spark):
    import datetime as dt

    # 0:30 is OFF the hourly grid anchored at 0:00 — it must survive
    rows = [("s1", dt.datetime(2024, 1, 1, 0, 0), 1.0),
            ("s1", dt.datetime(2024, 1, 1, 0, 30), 2.0),
            ("s1", dt.datetime(2024, 1, 1, 2, 0), 3.0)]
    df = spark.createDataFrame(rows, "sensor string, ts timestamp, v double")
    out = compile_pipeline(df, [
        {"$densify": {"field": "ts", "partitionByFields": ["sensor"],
                      "range": {"step": 1, "unit": "hour",
                                "bounds": "partition"}}},
    ]).collect()
    times = sorted((r["ts"].hour, r["ts"].minute) for r in out)
    assert times == [(0, 0), (0, 30), (1, 0), (2, 0)]
    vals = {(r["ts"].hour, r["ts"].minute): r["v"] for r in out}
    assert vals[(0, 30)] == 2.0 and vals[(1, 0)] is None


def test_lookup_with_sub_pipeline(spark, sales):
    regions = spark.createDataFrame(
        [Row(name="east", tz="ET", active=True),
         Row(name="west", tz="PT", active=False)])
    out = compile_pipeline(sales, [
        {"$lookup": {"from": regions, "localField": "region",
                     "foreignField": "name", "as": "ri",
                     "pipeline": [{"$match": {"active": True}},
                                  {"$project": {"name": 1, "tz": 1}}]}},
    ]).collect()
    by = {r["sku"]: r["ri"] for r in out}
    assert by["a"][0]["tz"] == "ET"
    assert by["c"] == []  # west filtered out by the sub-pipeline
    with pytest.raises(ValueError, match="let"):
        compile_pipeline(sales, [
            {"$lookup": {"from": regions, "let": {"r": "$region"},
                         "pipeline": [], "localField": "region",
                         "foreignField": "name", "as": "x"}}])


def test_group_id_expression_doc(sales):
    out = compile_pipeline(sales, [
        {"$group": {"_id": {"$toUpper": "$region"}, "n": {"$sum": 1}}},
    ]).collect()
    got = {r["_id"]: r["n"] for r in out}
    assert got == {"EAST": 2, "WEST": 2, "NORTH": 1}


def test_merge_into_versioned_store_publishes_version(spark, sales, tmp_path):
    from maggma_spark.sources.versioned import VersionedParquetStore

    vst = VersionedParquetStore(spark, str(tmp_path / "v"), key="region")
    vst.update(spark.createDataFrame(
        [("east", 0.0)], "region string, revenue double"))
    compile_pipeline(sales, [
        {"$group": {"_id": "$region", "revenue": {"$sum": "$price"}}},
        {"$project": {"region": "$_id", "revenue": "$revenue"}},
        {"$merge": {"into": "v", "on": "region"}},
    ], stores={"v": vst})
    assert vst.versions() == [1, 2]          # the merge published v2
    assert vst.df_at(1).count() == 1          # v1 untouched
    got = {r["region"]: r["revenue"] for r in vst.df.collect()}
    assert got["east"] == 30.0 and len(got) == 3


def test_merge_when_not_matched_discard(spark, sales):
    tgt = MemoryStore(spark, [Row(region="east", revenue=0.0)], key="region")
    compile_pipeline(sales, [
        {"$group": {"_id": "$region", "revenue": {"$sum": "$price"}}},
        {"$project": {"region": "$_id", "revenue": "$revenue"}},
        {"$merge": {"into": "t", "on": "region",
                    "whenNotMatched": "discard"}},
    ], stores={"t": tgt})
    got = {r["region"]: r["revenue"] for r in tgt.df.collect()}
    assert got == {"east": 30.0}  # only the pre-existing key updated


def test_fill_linear_interpolation(spark):
    """$fill method=linear: interpolate along the sortBy field between
    surrounding known values; edges (before first / after last known)
    stay null, exactly as Mongo documents."""
    from pyspark.sql import Row

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    df = spark.createDataFrame(
        [(0, None), (1, None), (2, 10.0), (4, None), (8, 40.0),
         (9, None)], "x bigint, v double")
    out = compile_pipeline(df, [
        {"$fill": {"sortBy": {"x": 1},
                   "output": {"v": {"method": "linear"}}}}])
    got = {r["x"]: r["v"] for r in out.collect()}
    assert got[0] is None and got[1] is None          # before first known
    assert got[2] == 10.0
    assert got[4] == pytest.approx(20.0)              # 10 + 30*(2/6)
    assert got[8] == 40.0
    assert got[9] is None                             # after last known


def test_bucket_auto_equal_counts_and_tie_cohesion(spark):
    """$bucketAuto: ~equal-count buckets with data-derived {min, max}
    boundaries; tied values never split across buckets; last bucket's
    max is the global max."""
    from pyspark.sql import Row

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    rows = [Row(v=i // 2, w=1) for i in range(40)]  # values 0..19, x2 each
    df = spark.createDataFrame(rows)
    out = compile_pipeline(df, [{"$bucketAuto": {
        "groupBy": "$v", "buckets": 4,
        "output": {"n": {"$sum": 1}, "sw": {"$sum": "$w"}}}}])
    got = sorted((r["_id"]["min"], r["_id"]["max"], r["n"])
                 for r in out.collect())
    assert got == [(0, 5, 10), (5, 10, 10), (10, 15, 10), (15, 19, 10)]

    # ties held together even when counts can't split evenly
    df2 = spark.createDataFrame([Row(v=1)] * 7 + [Row(v=2)] * 1)
    out2 = compile_pipeline(df2, [{"$bucketAuto": {
        "groupBy": "$v", "buckets": 2}}])
    got2 = sorted((r["_id"]["min"], r["_id"]["max"], r["count"])
                  for r in out2.collect())
    assert got2 == [(1, 2, 7), (2, 2, 1)]


def test_replace_with_and_documents_stages(spark):
    from pyspark.sql import Row

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    df = spark.createDataFrame(
        [Row(k=1, sub=Row(a=10, b="x")), Row(k=2, sub=Row(a=20, b="y"))])
    out = compile_pipeline(df, [{"$replaceWith": "$sub"}])
    assert sorted((r["a"], r["b"]) for r in out.collect()) == \
        [(10, "x"), (20, "y")]

    out2 = compile_pipeline(df, [
        {"$documents": [{"v": 3}, {"v": 5}]},
        {"$match": {"v": {"$gt": 3}}}])
    assert [r["v"] for r in out2.collect()] == [5]

    import pytest as _pt

    with _pt.raises(ValueError, match="first stage"):
        compile_pipeline(df, [{"$limit": 1},
                              {"$documents": [{"v": 1}]}])


def test_partitioned_window_rejects_boolean_bounds(spark):
    """Python counts True as the int 1, so a boolean bound used to
    compile as a row or range offset; Mongo rejects non-numeric bounds
    and so does the partitioned compile (the unpartitioned planner's
    twin cases live in tests/test_swf_plan.py)."""
    import pytest as _pt

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    df = spark.createDataFrame([("a", 1, 10)], "g string, x int, v int")
    for win in ({"documents": [True, 5]}, {"range": [False, 3]},
                {"documents": ["unbounded", False]}):
        with _pt.raises(ValueError, match="window bounds must be numbers"):
            compile_pipeline(df, [{"$setWindowFields": {
                "partitionBy": "$g", "sortBy": {"x": 1},
                "output": {"s": {"$sum": "$v", "window": win}}}}])


def test_partitioned_window_rejects_inverted_frame_and_bounds(spark):
    """An inverted frame used to answer from a differenced empty frame
    (the partitioned $sum over documents [1, -1] returned -v), and a
    window on $shift was silently ignored; both now raise from the
    planner before any Spark work."""
    from maggma_spark.functions.agg_pipeline import compile_pipeline

    df = spark.createDataFrame([("a", i, float(i)) for i in range(4)],
                               "g string, t int, v double")

    def run(output):
        return compile_pipeline(df, [{"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"t": 1}, "output": output}}])

    with pytest.raises(ValueError, match="lower bound is above"):
        run({"s": {"$sum": "$v", "window": {"documents": [1, -1]}}})
    with pytest.raises(ValueError, match="takes no window bounds"):
        run({"s": {"$shift": {"output": "$v", "by": 1},
                   "window": {"documents": [-1, 0]}}})


def test_partitioned_linear_fill_descending_sort(spark):
    """$linearFill interpolates along its single sortBy field in either
    direction, like the unpartitioned path."""
    from maggma_spark.functions.agg_pipeline import compile_pipeline

    df = spark.createDataFrame(
        [("a", 0, 0.0), ("a", 1, None), ("a", 3, None), ("a", 4, 8.0),
         ("a", 5, None)], "g string, t int, v double")
    for direction in (1, -1):
        out = compile_pipeline(df, [{"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"t": direction},
            "output": {"f": {"$linearFill": "$v"}}}}]).collect()
        assert {r["t"]: r["f"] for r in out} == {
            0: 0.0, 1: 2.0, 3: 6.0, 4: 8.0, 5: None}


def test_set_window_fields_range_frame(spark):
    """Value-based `range` window: sum over sortBy-field offsets
    [-2, 0] — rows within value distance 2, not row positions."""
    from pyspark.sql import Row

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    df = spark.createDataFrame(
        [Row(g="a", x=1, v=10), Row(g="a", x=2, v=20),
         Row(g="a", x=10, v=40), Row(g="b", x=1, v=7)])
    out = compile_pipeline(df, [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"x": 1},
        "output": {"s": {"$sum": "$v",
                         "window": {"range": [-2, "current"]}}}}}])
    got = {(r["g"], r["x"]): r["s"] for r in out.collect()}
    # x=10 is far from x=1,2 -> only itself; x=2 sees x=1 (distance 1)
    assert got == {("a", 1): 10, ("a", 2): 30, ("a", 10): 40,
                   ("b", 1): 7}

    import pytest as _pt

    # calendar units have no fixed width -> raise; unpartitioned range
    # frames have no bounded carry decomposition -> raise
    with _pt.raises(ValueError, match="fixed width"):
        compile_pipeline(df, [{"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"x": 1},
            "output": {"s": {"$sum": "$v",
                             "window": {"range": [-1, 0],
                                        "unit": "month"}}}}}])
    with _pt.raises(ValueError, match="partitionBy"):
        compile_pipeline(df, [{"$setWindowFields": {
            "sortBy": {"x": 1},
            "output": {"s": {"$sum": "$v",
                             "window": {"range": [-1, 0],
                                        "unit": "hour"}}}}}])


def test_set_window_fields_unit_range_frame(spark):
    """Date-`unit` range frames (Mongo 5.0): window {range: [-1, 0],
    unit: "day"} compiles to rangeBetween over epoch-ms of the
    timestamp sortBy, scaled by the unit width."""
    import datetime as dt

    from pyspark.sql import Row

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    base = dt.datetime(2024, 1, 1)
    rows = [Row(g="a", ts=base + dt.timedelta(hours=h), v=1.0)
            for h in (0, 5, 23, 25, 49)]
    df = spark.createDataFrame(rows)
    out = compile_pipeline(df, [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"ts": 1},
        "output": {"s": {"$sum": "$v",
                         "window": {"range": [-1, 0], "unit": "day"}}}}}])
    got = {int((r["ts"] - base).total_seconds() // 3600): r["s"]
           for r in out.collect()}
    # [-24h, 0]: h0 alone; h5 sees h0; h23 sees both; h25 sees h5+h23
    # (h25-24=h1 excludes h0); h49 sees h25
    assert got == {0: 1.0, 5: 2.0, 23: 3.0, 25: 3.0, 49: 2.0}

    # sub-second precision: millisecond unit
    rows2 = [Row(g="a", ts=base + dt.timedelta(milliseconds=m), v=1.0)
             for m in (0, 40, 100)]
    out2 = compile_pipeline(spark.createDataFrame(rows2), [
        {"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"ts": 1},
            "output": {"s": {"$sum": "$v",
                             "window": {"range": [-50, 0],
                                        "unit": "millisecond"}}}}}])
    got2 = {int((r["ts"] - base).total_seconds() * 1000): r["s"]
            for r in out2.collect()}
    # 0 alone; 40 sees 0 (dist 40); 100 sees neither (dist 60, 100)
    assert got2 == {0: 1.0, 40: 2.0, 100: 1.0}


def test_global_windows_distributed_plan(spark):
    """Plan pin: unpartitioned $fill (locf/linear) and unpartitioned
    $setWindowFields compile to range-partitioned per-partition
    windows + a broadcast carry — NEVER an `Exchange SinglePartition`
    feeding a Window (the single-task global sort the scaffold
    exists to avoid)."""
    from pyspark.sql import Row

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    df = spark.createDataFrame(
        [Row(k=i, v=float(i) if i % 3 == 0 else None) for i in range(9)])

    def assert_no_single_partition_window(out):
        plan = out._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" in ln:
                # a Window above a SinglePartition exchange = the
                # banned single-task global-order window
                assert not any("Window" in up for up in lines[:i]), plan
        # windows run per deterministic range id, hash-shuffled
        assert "hashpartitioning(__gw_pid" in plan, plan

    assert_no_single_partition_window(compile_pipeline(df, [
        {"$fill": {"sortBy": {"k": 1},
                   "output": {"v": {"method": "locf"}}}}]))
    assert_no_single_partition_window(compile_pipeline(df, [
        {"$fill": {"sortBy": {"k": 1},
                   "output": {"v": {"method": "linear"}}}}]))
    assert_no_single_partition_window(compile_pipeline(df, [
        {"$setWindowFields": {
            "sortBy": {"k": 1},
            "output": {"dn": {"$documentNumber": {}},
                       "run": {"$sum": "$v",
                               "window": {"documents":
                                          ["unbounded", "current"]}}}}}]))


def test_swf_global_matches_single_partition_reference(spark):
    """Distributed unpartitioned $setWindowFields equals the naive
    single-partition compile value-for-value (ranks, running fwd/bwd
    sums, whole-frame avg, running min/max) on data with tied sort
    keys and nulls spanning partition boundaries."""
    from pyspark.sql import Row, Window, functions as F

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    rows = [Row(k=i % 7, v=(float(i) if i % 4 else None))
            for i in range(60)]
    df = spark.createDataFrame(rows)
    out = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "r": {"$rank": {}},
            "dr": {"$denseRank": {}},
            "dn": {"$documentNumber": {}},
            "run": {"$sum": "$v",
                    "window": {"documents": ["unbounded", "current"]}},
            "runb": {"$sum": "$v",
                     "window": {"documents": ["current", "unbounded"]}},
            "mn": {"$min": "$v",
                   "window": {"documents": ["unbounded", "current"]}},
            "mx": {"$max": "$v",
                   "window": {"documents": ["current", "unbounded"]}},
            "avg_all": {"$avg": "$v"},
        }}}])
    got = sorted(out.collect(), key=lambda r: r["dn"])
    # reference: trusted single-partition window over the SAME dn order
    vals = [r["v"] for r in got]
    known = [v for v in vals if v is not None]
    import math

    for i, r in enumerate(got):
        pre = [v for v in vals[:i + 1] if v is not None]
        post = [v for v in vals[i:] if v is not None]
        # Mongo window $sum: 0 over an empty/all-null frame
        assert r["run"] == (sum(pre) if pre else 0)
        assert r["runb"] == (sum(post) if post else 0)
        assert r["mn"] == (min(pre) if pre else None)
        assert r["mx"] == (max(post) if post else None)
        assert math.isclose(r["avg_all"], sum(known) / len(known))
    # rank/denseRank vs a trusted single-partition reference
    ref = {tuple(r[:2]): (r["r"], r["dr"]) for r in df.coalesce(1)
           .withColumn("r", F.rank().over(Window.orderBy("k")))
           .withColumn("dr", F.dense_rank().over(Window.orderBy("k")))
           .select("k", "v", "r", "dr").collect()}
    for r in got:
        er, edr = ref[(r["k"], r["v"])]
        assert (r["r"], r["dr"]) == (er, edr)


def test_fill_global_matches_partitioned_semantics(spark):
    """Distributed unpartitioned $fill: locf carries across range
    partitions; linear interpolates between known points that live in
    DIFFERENT partitions; leading/trailing nulls stay null."""
    from pyspark.sql import Row

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    n = 200  # spans several of the 8 shuffle partitions
    rows = [Row(k=i, v=(float(i) if i % 37 == 0 and i else None))
            for i in range(n)]
    df = spark.createDataFrame(rows)
    locf = {r["k"]: r["v"] for r in compile_pipeline(df, [
        {"$fill": {"sortBy": {"k": 1},
                   "output": {"v": {"method": "locf"}}}}]).collect()}
    lin = {r["k"]: r["v"] for r in compile_pipeline(df, [
        {"$fill": {"sortBy": {"k": 1},
                   "output": {"v": {"method": "linear"}}}}]).collect()}
    knowns = [i for i in range(n) if i % 37 == 0 and i]
    for i in range(n):
        prev = max((k for k in knowns if k <= i), default=None)
        nxt = min((k for k in knowns if k >= i), default=None)
        assert locf[i] == (float(prev) if prev is not None else None), i
        if prev is None or nxt is None:
            exp = float(i) if i in knowns else None
            assert lin[i] == (None if i not in knowns else exp), i
        else:
            assert abs(lin[i] - float(i)) < 1e-9, i  # collinear data


def test_bucket_auto_null_groupby_counted(spark):
    """Null groupBy values survive the bucket-assignment join (it is
    null-safe — a plain equi-join silently dropped them) and fold into
    the first bucket with _id.min null, per BSON sort order."""
    from maggma_spark.functions.agg_pipeline import compile_pipeline

    df = spark.createDataFrame(
        [(1,), (2,), (3,), (4,), (None,), (None,)], "v int")
    out = compile_pipeline(df, [{"$bucketAuto": {
        "groupBy": "$v", "buckets": 2}}])
    rows = sorted(out.collect(),
                  key=lambda r: (r["_id"]["min"] is not None,
                                 r["_id"]["min"] or 0))
    assert sum(r["count"] for r in rows) == 6      # nothing dropped
    assert rows[0]["_id"]["min"] is None           # null fold bucket
    assert rows[0]["count"] == 3                   # 2 nulls + value 1


def test_bucket_auto_single_driver_action(spark, monkeypatch):
    """The default $bucketAuto path runs exactly ONE driver action
    (the fused stats aggregate) — no separate count()/max() scans."""
    from maggma_spark.functions.agg_pipeline import compile_pipeline

    # patch the CONCRETE class (Spark 4: pyspark.sql.DataFrame is the
    # abstract facade; instances are classic.dataframe.DataFrame)
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover - older Spark
        from pyspark.sql import DataFrame

    calls, depth = [], [0]
    for name in ("count", "collect", "first", "head", "take"):
        orig = getattr(DataFrame, name)

        def wrapper(self, *a, _orig=orig, _n=name, **kw):
            if depth[0] == 0:  # first() delegates to head/take/collect
                calls.append(_n)
            depth[0] += 1
            try:
                return _orig(self, *a, **kw)
            finally:
                depth[0] -= 1

        monkeypatch.setattr(DataFrame, name, wrapper)
    df = spark.createDataFrame([(i % 7,) for i in range(40)], "v int")
    compile_pipeline(df, [{"$bucketAuto": {"groupBy": "$v", "buckets": 3}}])
    assert calls == ["first"]


def test_bucket_auto_granularity(spark):
    """granularity rounds boundaries to the preferred-number series:
    first min rounds DOWN, every max rounds strictly UP, colliding
    buckets merge (fewer than `buckets` may return, as in Mongo);
    nulls/negatives raise."""
    import pytest as _pt

    from maggma_spark.functions.agg_pipeline import (
        _granularity_round, compile_pipeline)

    df = spark.createDataFrame([(float(x),) for x in range(1, 51)],
                               "v double")
    out = compile_pipeline(df, [{"$bucketAuto": {
        "groupBy": "$v", "buckets": 5, "granularity": "R5"}}])
    got = sorted((r["_id"]["min"], r["_id"]["max"], r["count"])
                 for r in out.collect())
    # prelim maxes 10/20/30/40/50 -> roundUp 16/25/40/63/63 (merge)
    assert got == [(1.0, 16.0, 15), (16.0, 25.0, 9),
                   (25.0, 40.0, 15), (40.0, 63.0, 11)]

    out2 = compile_pipeline(df, [{"$bucketAuto": {
        "groupBy": "$v", "buckets": 4, "granularity": "POWERSOF2"}}])
    got2 = sorted((r["_id"]["min"], r["_id"]["max"], r["count"])
                  for r in out2.collect())
    assert got2 == [(1.0, 16.0, 15), (16.0, 32.0, 16),
                    (32.0, 64.0, 19)]

    # strict-upper rule: an exact series value rounds past itself
    assert _granularity_round(100.0, "R5", up=True) == 160.0
    assert _granularity_round(100.0, "R5", up=False) == 100.0
    assert _granularity_round(0.0, "E12", up=False) == 0.0

    with _pt.raises(ValueError, match="non-null"):
        compile_pipeline(
            spark.createDataFrame([(1.0,), (None,)], "v double"),
            [{"$bucketAuto": {"groupBy": "$v", "buckets": 2,
                              "granularity": "R5"}}])
    with _pt.raises(ValueError, match="not supported"):
        compile_pipeline(df, [{"$bucketAuto": {
            "groupBy": "$v", "buckets": 2, "granularity": "R13"}}])


def test_swf_global_whole_frame_only_no_carry_join(spark):
    """Whole-frame-only unpartitioned specs (no sortBy) fold the
    boundary rows to literals — no carry join at all, because without
    the sort scaffold the partition id is the NATURAL id, which is
    not stable across jobs; an inner join on it could drop rows."""
    from pyspark.sql import Row

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(10)])
    out = compile_pipeline(df, [{"$setWindowFields": {
        "output": {"tot": {"$sum": "$v"}, "m": {"$max": "$v"},
                   "a": {"$avg": "$v"}}}}])
    rows = out.collect()
    assert len(rows) == 10
    assert all(r["tot"] == 45.0 and r["m"] == 9.0
               and abs(r["a"] - 4.5) < 1e-9 for r in rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_densify_full_grid_is_distributed_range(spark):
    """bounds='full' (and explicit bounds) generate the grid with a
    DISTRIBUTED spark.range over the step count — never one
    sequence+explode task materializing the whole global span."""
    from pyspark.sql import Row

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    df = spark.createDataFrame([Row(x=0), Row(x=9), Row(x=21)])
    out = compile_pipeline(df, [
        {"$densify": {"field": "x", "range": {"step": 3,
                                              "bounds": "full"}}}])
    got = sorted(r["x"] for r in out.collect())
    assert got == sorted({0, 9, 21} | set(range(0, 22, 3)))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Range (0" in plan, plan  # spark.range, not a 1-row explode

    # explicit bounds, with partitions: per-partition copies of the
    # same distributed grid
    df2 = spark.createDataFrame([Row(g="a", x=5), Row(g="b", x=6)])
    out2 = compile_pipeline(df2, [
        {"$densify": {"field": "x", "partitionByFields": ["g"],
                      "range": {"step": 2, "bounds": [0, 4]}}}])
    got2 = sorted((r["g"], r["x"]) for r in out2.collect())
    assert got2 == [("a", 0), ("a", 2), ("a", 4), ("a", 5),
                    ("b", 0), ("b", 2), ("b", 4), ("b", 6)]


def test_group_accumulator_wave(spark):
    """Round-6 accumulators: $count/$stdDevPop/$stdDevSamp/$median/
    $percentile/$top/$topN/$bottom/$bottomN (multi-field sortBy via
    the shared array_sort comparator)/$firstN/$lastN/$mergeObjects
    (later-wins map fold)."""
    import math

    from pyspark.sql import Row

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    df = spark.createDataFrame([
        Row(g="a", v=1.0, k=1, m={"x": 1}),
        Row(g="a", v=5.0, k=2, m={"x": 2, "y": 9}),
        Row(g="a", v=3.0, k=3, m={"z": 7}),
        Row(g="b", v=2.0, k=4, m={"x": 0}),
    ])
    out = compile_pipeline(df, [{"$group": {
        "_id": "$g",
        "n": {"$count": {}},
        "sd": {"$stdDevPop": "$v"},
        "sds": {"$stdDevSamp": "$v"},
        "med": {"$median": {"input": "$v"}},
        "pct": {"$percentile": {"input": "$v", "p": [0.0, 1.0]}},
        "top": {"$top": {"sortBy": {"v": -1}, "output": "$k"}},
        "top2": {"$topN": {"n": 2, "sortBy": {"v": -1},
                           "output": "$k"}},
        "bot": {"$bottom": {"sortBy": {"v": -1}, "output": "$k"}},
        "bot2": {"$bottomN": {"n": 2, "sortBy": {"v": -1},
                              "output": "$k"}},
        "l5": {"$lastN": {"n": 5, "input": "$k"}},
        "mo": {"$mergeObjects": "$m"},
    }}])
    rows = {r["_id"]: r for r in out.collect()}
    a = rows["a"]
    assert a["n"] == 3
    assert abs(a["sd"] - math.sqrt(8 / 3)) < 1e-9
    assert abs(a["sds"] - 2.0) < 1e-9
    assert a["med"] == 3.0 and a["pct"] == [1.0, 5.0]
    assert a["top"] == 2 and a["top2"] == [2, 3]
    assert a["bot"] == 1 and a["bot2"] == [1, 3]
    assert len(a["l5"]) == 3  # n beyond group size -> whole group
    assert a["mo"] == {"x": 2, "y": 9, "z": 7}
    assert rows["b"]["top"] == 4 and rows["b"]["mo"] == {"x": 0}

    import pytest as _pt

    with _pt.raises(ValueError, match="takes"):
        compile_pipeline(df, [{"$group": {"_id": None,
                                          "n": {"$count": "$v"}}}])
    with _pt.raises(ValueError, match="unsupported accumulator"):
        compile_pipeline(df, [{"$group": {"_id": None,
                                          "x": {"$nope": "$v"}}}])


def test_lookup_with_let_correlated_pipeline(spark):
    """$lookup let-form: $eq conjunct -> join key, var-referencing
    residual conjunct -> post-join filter, trailing $sort+$limit ->
    per-doc array_sort+slice; unmatched locals get []; unsupported
    shapes raise with guidance."""
    from pyspark.sql import Row

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    orders = spark.createDataFrame([
        Row(okey=1, cut=5.0), Row(okey=2, cut=100.0),
        Row(okey=3, cut=0.0)])
    items = spark.createDataFrame([
        Row(ikey=1, qty=10.0, nm="a"), Row(ikey=1, qty=3.0, nm="b"),
        Row(ikey=2, qty=50.0, nm="c"), Row(ikey=1, qty=7.0, nm="d")])
    out = compile_pipeline(orders, [{"$lookup": {
        "from": items, "as": "hits",
        "let": {"ok": "$okey", "c": "$cut"},
        "pipeline": [
            {"$match": {"$expr": {"$and": [
                {"$eq": ["$ikey", "$$ok"]},
                {"$gt": ["$qty", "$$c"]}]}}},
            {"$sort": {"qty": -1}},
            {"$limit": 2},
        ]}}])
    rows = {r["okey"]: [(h["nm"], h["qty"]) for h in r["hits"]]
            for r in out.collect()}
    assert rows == {1: [("a", 10.0), ("d", 7.0)], 2: [], 3: []}

    with pytest.raises(ValueError, match="cross join"):
        compile_pipeline(orders, [{"$lookup": {
            "from": items, "as": "x", "let": {"c": "$cut"},
            "pipeline": [{"$match": {"$expr":
                                     {"$gt": ["$qty", "$$c"]}}}]}}])
    with pytest.raises(ValueError, match="project"):
        compile_pipeline(orders, [{"$lookup": {
            "from": items, "as": "x", "let": {"ok": "$okey"},
            "pipeline": [
                {"$match": {"$expr": {"$eq": ["$ikey", "$$ok"]}}},
                {"$group": {"_id": None, "n": {"$sum": 1}}}]}}])

    # round 7: non-trailing $project prunes the foreign side; sort
    # keys stay usable and are stripped from the output structs
    proj = compile_pipeline(orders, [{"$lookup": {
        "from": items, "as": "hits",
        "let": {"ok": "$okey"},
        "pipeline": [
            {"$match": {"$expr": {"$eq": ["$ikey", "$$ok"]}}},
            {"$project": {"nm": 1}},
            {"$sort": {"qty": -1}},
            {"$limit": 2},
        ]}}])
    prows = {r["okey"]: [h.asDict() for h in r["hits"]]
             for r in proj.collect()}
    assert prows[1] == [{"nm": "a"}, {"nm": "d"}]  # qty stripped
    with pytest.raises(ValueError, match="inclusion"):
        compile_pipeline(orders, [{"$lookup": {
            "from": items, "as": "x", "let": {"ok": "$okey"},
            "pipeline": [
                {"$match": {"$expr": {"$eq": ["$ikey", "$$ok"]}}},
                {"$project": {"nm": 0}}]}}])
    with pytest.raises(ValueError, match="unknown variable"):
        compile_pipeline(orders, [{"$lookup": {
            "from": items, "as": "x", "let": {"ok": "$okey"},
            "pipeline": [{"$match": {"$expr":
                                     {"$eq": ["$ikey", "$$nope"]}}}]}}])


def test_vector_search_stage(spark):
    """$vectorSearch: exact ENN ranks by double cosine with the score
    surfaced via {"$meta": "vectorSearchScore"}; the approximate path
    prefilters by LSH signature buckets (always finds the query's own
    vector); filter applies before scoring; guards raise."""
    import math
    import random

    from pyspark.sql import Row

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    rng = random.Random(11)
    base = [rng.uniform(-1, 1) for _ in range(16)]

    def near(eps):
        return [b + rng.uniform(-eps, eps) for b in base]

    rows = [Row(vid=0, emb=[float(x) for x in base], lab=0)]
    rows += [Row(vid=i, emb=[float(x) for x in near(0.05)], lab=i % 2)
             for i in range(1, 5)]
    rows += [Row(vid=i, emb=[rng.uniform(-1, 1) for _ in range(16)],
                 lab=i % 2) for i in range(5, 40)]
    df = spark.createDataFrame(rows)

    out = compile_pipeline(df, [
        {"$vectorSearch": {"path": "emb", "queryVector": base,
                           "limit": 5, "exact": True}},
        {"$project": {"vid": 1,
                      "score": {"$meta": "vectorSearchScore"}}}])
    got = out.collect()
    assert got[0]["vid"] == 0
    assert math.isclose(got[0]["score"], 1.0, abs_tol=1e-9)
    assert {r["vid"] for r in got} == {0, 1, 2, 3, 4}  # planted cluster

    ann = compile_pipeline(df, [
        {"$vectorSearch": {"path": "emb", "queryVector": base,
                           "limit": 5, "numCandidates": 20}}]).collect()
    assert any(r["vid"] == 0 for r in ann)  # own bucket always matches

    filt = compile_pipeline(df, [
        {"$vectorSearch": {"path": "emb", "queryVector": base,
                           "limit": 3, "exact": True,
                           "filter": {"lab": 1}}}]).collect()
    assert filt and all(r["lab"] == 1 for r in filt)

    with pytest.raises(ValueError, match="first stage"):
        compile_pipeline(df, [
            {"$limit": 5},
            {"$vectorSearch": {"path": "emb", "queryVector": base,
                               "limit": 2}}])
    with pytest.raises(ValueError, match="numCandidates"):
        compile_pipeline(df, [
            {"$vectorSearch": {"path": "emb", "queryVector": base,
                               "limit": 5, "numCandidates": 2}}])


def test_window_operator_wave(spark):
    """Round-6 $setWindowFields operators: $shift (lead/lag +
    default), $locf/$linearFill window forms, $derivative/$integral
    (trapezoid; single-point windows integrate to 0), $covariancePop,
    $expMovingAvg (sequential Arrow kernel), and INTEGER documents
    bounds (previously silently treated as current-row)."""
    import math

    from pyspark.sql import Row

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    rows = [Row(g="a", t=float(i),
                v=(float(i * i) if i % 2 == 0 else None),
                y=float(3 * i)) for i in range(8)]
    rows.append(Row(g="b", t=1.0, v=4.0, y=1.0))
    df = spark.createDataFrame(rows)
    out = compile_pipeline(df, [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"t": 1},
        "output": {
            "nxt": {"$shift": {"output": "$v", "by": 1,
                               "default": -1.0}},
            "prv": {"$shift": {"output": "$t", "by": -1}},
            "lf": {"$locf": "$v"},
            "lin": {"$linearFill": "$v"},
            "cv": {"$covariancePop": ["$t", "$y"],
                   "window": {"documents": ["unbounded", "current"]}},
            "der": {"$derivative": {"input": "$y"},
                    "window": {"documents": [-1, "current"]}},
            "itg": {"$integral": {"input": "$y"},
                    "window": {"documents": ["unbounded", "current"]}},
            "itg2": {"$integral": {"input": "$y"},
                     "window": {"documents": [-2, "current"]}},
            "win3": {"$sum": "$y", "window": {"documents": [-1, 1]}},
            "ew": {"$expMovingAvg": {"input": "$y", "alpha": 0.5}},
        }}}])
    a = sorted([r for r in out.collect() if r["g"] == "a"],
               key=lambda r: r["t"])
    assert [r["nxt"] for r in a] == [None, 4.0, None, 16.0, None,
                                     36.0, None, -1.0]
    assert [r["prv"] for r in a][:3] == [None, 0.0, 1.0]
    assert [r["lf"] for r in a] == [0.0, 0.0, 4.0, 4.0, 16.0, 16.0,
                                    36.0, 36.0]
    # knowns at even t are t^2; odd-t interp = t^2+1; trailing null
    assert [r["lin"] for r in a] == [0.0, 2.0, 4.0, 10.0, 16.0, 26.0,
                                     36.0, None]
    assert a[0]["der"] is None  # single-row frame: dt = 0
    assert all(abs(r["der"] - 3.0) < 1e-9 for r in a[1:])
    for r in a:  # trapezoid of y=3t from 0: 1.5 t^2 (0 at the head)
        assert abs(r["itg"] - 1.5 * r["t"] ** 2) < 1e-9
    for r in a[2:]:  # [-2, current]: 1.5(t^2-(t-2)^2) = 6t-6
        assert abs(r["itg2"] - (6 * r["t"] - 6)) < 1e-9
    assert a[3]["win3"] == 3.0 * (2 + 3 + 4)  # integer bounds [-1, 1]
    s = None
    for r in a:
        s = r["y"] if s is None else 0.5 * r["y"] + 0.5 * s
        assert math.isclose(r["ew"], s)
    b = [r for r in out.collect() if r["g"] == "b"][0]
    assert b["ew"] == 1.0 and b["lin"] == 4.0 and b["itg"] == 0.0

    with pytest.raises(ValueError, match="alpha"):
        compile_pipeline(df, [{"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"t": 1},
            "output": {"e": {"$expMovingAvg": {"input": "$y",
                                               "alpha": 1.5}}}}}])
    with pytest.raises(ValueError, match="window"):
        compile_pipeline(df, [{"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"t": 1},
            "output": {"d": {"$derivative": {"input": "$y"}}}}}])


def test_global_windows_descending_sort(spark):
    """Descending unpartitioned sort through the scaffold: range ids
    follow the DESC order (pid 0 = highest keys), ranks/documentNumber
    offsets and locf carries stitch correctly."""
    from pyspark.sql import Row

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    df = spark.createDataFrame([Row(k=i % 10, v=float(i))
                                for i in range(200)])
    out = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": -1},
        "output": {"dn": {"$documentNumber": {}},
                   "r": {"$rank": {}},
                   "run": {"$sum": "$v",
                           "window": {"documents":
                                      ["unbounded", "current"]}}}}}])
    got = sorted(out.collect(), key=lambda r: r["dn"])
    ks = [r["k"] for r in got]
    assert ks == sorted(ks, reverse=True)
    assert [r["dn"] for r in got] == list(range(1, 201))
    assert (got[0]["r"], got[20]["r"], got[199]["r"]) == (1, 21, 181)
    assert abs(got[-1]["run"] - sum(r["v"] for r in got)) < 1e-9

    df2 = spark.createDataFrame(
        [Row(k=i, v=(float(i) if i % 3 == 0 else None))
         for i in range(30)])
    locf = compile_pipeline(df2, [{"$fill": {
        "sortBy": {"k": -1}, "output": {"v": {"method": "locf"}}}}])
    gl = {r["k"]: r["v"] for r in locf.collect()}
    for i in range(30):  # desc traversal carries the NEXT higher known
        nxt = min((j for j in range(30) if j % 3 == 0 and j >= i),
                  default=None)
        assert gl[i] == (float(nxt) if nxt is not None else None)


def test_densify_calendar_units(spark):
    """$densify month/quarter/year: steps add k*months to the
    ORIGINAL bound (no cumulative month-end clamp drift — Jan 31
    +2mo*k walks 31sts, clamping each independently), partition
    bounds expand per group, full/explicit bounds use the distributed
    range grid."""
    import datetime as dt

    from pyspark.sql import Row

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    rows = [Row(g="a", d=dt.datetime(2024, 1, 31, 5), v=1.0),
            Row(g="a", d=dt.datetime(2024, 6, 10), v=2.0),
            Row(g="b", d=dt.datetime(2024, 2, 5), v=3.0),
            Row(g="b", d=dt.datetime(2024, 8, 5), v=4.0)]
    out = compile_pipeline(spark.createDataFrame(rows), [{"$densify": {
        "field": "d", "partitionByFields": ["g"],
        "range": {"step": 2, "unit": "month",
                  "bounds": "partition"}}}])
    got = sorted((r["g"], r["d"]) for r in out.collect())
    assert [d for g, d in got if g == "a"] == [
        dt.datetime(2024, 1, 31, 5), dt.datetime(2024, 3, 31, 5),
        dt.datetime(2024, 5, 31, 5), dt.datetime(2024, 6, 10)]
    assert [d for g, d in got if g == "b"] == [
        dt.datetime(2024, 2, 5), dt.datetime(2024, 4, 5),
        dt.datetime(2024, 6, 5), dt.datetime(2024, 8, 5)]

    df2 = spark.createDataFrame([Row(d=dt.datetime(2020, 3, 1)),
                                 Row(d=dt.datetime(2024, 5, 1))])
    out2 = compile_pipeline(df2, [{"$densify": {
        "field": "d",
        "range": {"step": 1, "unit": "year", "bounds": "full"}}}])
    got2 = sorted(r["d"] for r in out2.collect())
    assert got2 == sorted(
        [dt.datetime(y, 3, 1) for y in range(2020, 2025)]
        + [dt.datetime(2024, 5, 1)])
    plan = out2._jdf.queryExecution().executedPlan().toString()
    assert "Range (0" in plan  # distributed grid, not a 1-row explode

    with pytest.raises(ValueError, match="not supported"):
        compile_pipeline(df2, [{"$densify": {
            "field": "d", "range": {"step": 1, "unit": "fortnight",
                                    "bounds": "full"}}}])


def test_group_topn_prefilter_and_collect_guard(spark, monkeypatch):
    """Round-7 scale guards: $topN/$bottomN pre-filter with a per-group
    rank window (row_number <= n stamped before the aggregation), so
    they stay correct even when the whole-group collect guard would
    trip; the list-materializing accumulators ($push/$firstN/...)
    raise past MAX_GROUP_ELEMENTS instead of OOMing the task."""
    import maggma_spark.functions.agg_pipeline as ap
    from maggma_spark.functions.agg_pipeline import compile_pipeline

    df = spark.range(1000).select(
        (F.col("id") % 4).alias("g"), F.col("id").alias("k"),
        (F.col("id") % 97).cast("double").alias("v"))

    out = compile_pipeline(df, [{"$group": {
        "_id": "$g",
        "top3": {"$topN": {"n": 3, "sortBy": {"v": -1, "k": 1},
                           "output": "$k"}}}}])
    # plan pin: the rank prefilter window runs BEFORE the aggregate
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "row_number" in plan.lower()
    rows = {r["_id"]: r["top3"] for r in out.collect()}
    assert len(rows) == 4 and all(len(v) == 3 for v in rows.values())

    # with the collect cap below the group size, $topN must STILL work
    # (it never collects the group) while $push must raise
    monkeypatch.setattr(ap, "MAX_GROUP_ELEMENTS", 10)
    ok = compile_pipeline(df, [{"$group": {
        "_id": "$g",
        "top2": {"$topN": {"n": 2, "sortBy": {"v": -1, "k": 1},
                           "output": "$k"}}}}])
    assert all(len(r["top2"]) == 2 for r in ok.collect())
    import pytest as _pt

    for acc in ({"$push": "$k"}, {"$firstN": {"n": 3, "input": "$k"}},
                {"$addToSet": "$k"}):
        bad = compile_pipeline(df, [{"$group": {"_id": "$g",
                                                "x": acc}}])
        with _pt.raises(Exception, match="MAX_GROUP_ELEMENTS"):
            bad.collect()


def test_group_global_topn_is_take_ordered(spark):
    """$group {_id: null} with $topN compiles to a TakeOrdered subplan
    (per-partition heaps + driver merge of n rows) cross-joined onto
    the single-row main aggregate — never a whole-data collect."""
    from maggma_spark.functions.agg_pipeline import compile_pipeline

    df = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 13).cast("double")
        .alias("v"))
    out = compile_pipeline(df, [{"$group": {
        "_id": None,
        "cnt": {"$count": {}},
        "top3": {"$topN": {"n": 3, "sortBy": {"k": -1},
                           "output": "$k"}},
        "bot": {"$bottom": {"sortBy": {"k": -1}, "output": "$k"}}}}])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan
    r = out.collect()[0]
    assert r["cnt"] == 500 and r["top3"] == [499, 498, 497]
    assert r["bot"] == 0


def test_vector_search_similarity_variants_and_score_hygiene(spark):
    """Round-7 $vectorSearch parity: euclidean/dotProduct score
    formulas (Atlas normalization), the internal score column never
    leaks without a $meta projection, and the ANN candidate set GROWS
    with numCandidates (the round-6 inversion is fixed)."""
    import math
    import random

    from pyspark.sql import Row

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    rng = random.Random(3)
    rows = [Row(vid=i, emb=[rng.uniform(-1, 1) for _ in range(16)])
            for i in range(60)]
    df = spark.createDataFrame(rows)
    q = rows[0]["emb"]

    # no $meta projection -> no __vector_search_score in the output
    bare = compile_pipeline(df, [
        {"$vectorSearch": {"path": "emb", "queryVector": q,
                           "limit": 5, "exact": True}}])
    assert bare.columns == ["vid", "emb"]

    ecl = compile_pipeline(df, [
        {"$vectorSearch": {"path": "emb", "queryVector": q, "limit": 1,
                           "exact": True, "similarity": "euclidean"}},
        {"$project": {"vid": 1,
                      "score": {"$meta": "vectorSearchScore"}}}]
    ).collect()[0]
    assert ecl["vid"] == 0 and math.isclose(ecl["score"], 1.0)

    dot = compile_pipeline(df, [
        {"$vectorSearch": {"path": "emb", "queryVector": q, "limit": 1,
                           "exact": True, "similarity": "dotProduct"}},
        {"$project": {"vid": 1,
                      "score": {"$meta": "vectorSearchScore"}}}]
    ).collect()[0]
    self_dot = sum(x * x for x in q)
    assert dot["vid"] == 0 or dot["score"] >= (1 + self_dot) / 2 - 1e-9

    import pytest as _pt

    with _pt.raises(ValueError, match="similarity"):
        compile_pipeline(df, [
            {"$vectorSearch": {"path": "emb", "queryVector": q,
                               "limit": 1, "similarity": "hamming"}}])

    # candidate-set monotonicity: limit = |data| makes the result the
    # full LSH candidate set; more numCandidates must never shrink it
    def n_cands(nc):
        return len(compile_pipeline(df, [
            {"$vectorSearch": {"path": "emb", "queryVector": q,
                               "limit": 60, "numCandidates": nc}}])
            .collect())

    c_small, c_big = n_cands(60), n_cands(4096)
    assert c_big >= c_small
    assert c_big > 0


def test_swf_global_range_frames_and_first_last(spark):
    """Round-7 _swf_global extension: running range sums carry across
    ranges, finite [lo, hi] frames replicate into overlapping
    neighbors, $first/$last fold to global scalars; unsupported shapes
    raise with partitionBy guidance."""
    import math
    import random

    import pytest as _pt

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    rng = random.Random(11)
    data = [(i, rng.randint(0, 40),
             float(i % 23) if i % 9 else None) for i in range(400)]
    df = spark.createDataFrame(data, "i int, k int, v double")
    out = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "runr": {"$sum": "$v",
                     "window": {"range": ["unbounded", "current"]}},
            "fin": {"$sum": "$v", "window": {"range": [-4, 4]}},
            "fmx": {"$max": "$v", "window": {"range": [-4, 0]}},
            "gf": {"$first": "$k",
                   "window": {"documents": ["unbounded", "current"]}},
            "gl": {"$last": "$k",
                   "window": {"documents": ["current", "unbounded"]}},
        }}}])
    got = {r["i"]: r for r in out.collect()}
    vals = [(k, v) for _, k, v in data]
    kmin = min(k for k, _ in vals)
    kmax = max(k for k, _ in vals)
    for i, k, v in data:
        r = got[i]
        inr = [vv for kk, vv in vals if kk <= k and vv is not None]
        assert math.isclose(r["runr"], sum(inr), abs_tol=1e-9) \
            if inr else r["runr"] == 0
        fin = [vv for kk, vv in vals
               if k - 4 <= kk <= k + 4 and vv is not None]
        assert math.isclose(r["fin"], sum(fin), abs_tol=1e-9) \
            if fin else r["fin"] == 0
        fmx = [vv for kk, vv in vals
               if k - 4 <= kk <= k and vv is not None]
        assert (r["fmx"] == max(fmx)) if fmx else r["fmx"] is None
        assert r["gf"] == kmin and r["gl"] == kmax

    with _pt.raises(ValueError, match="partitionBy"):
        compile_pipeline(df, [{"$setWindowFields": {
            "sortBy": {"k": 1},
            "output": {"x": {"$sum": "$v",
                             "window": {"range": ["unbounded", 5]}}}}}])
    with _pt.raises(ValueError, match="partitionBy"):
        compile_pipeline(df, [{"$setWindowFields": {
            "sortBy": {"k": 1},
            "output": {"x": {"$push": "$v"}}}}])
    with _pt.raises(ValueError, match="MAX_RANGE_REPLICATION"):
        compile_pipeline(df, [{"$setWindowFields": {
            "sortBy": {"k": 1},
            "output": {"x": {"$sum": "$v",
                             "window": {"range": [-100000,
                                                  100000]}}}}}]).collect()


def test_group_topn_null_ordering_matches_comparator(spark):
    """The rank-prefilter window and the struct_comparator must agree
    on null placement in BOTH directions (null = lowest key, direction
    applied after) — a disagreement would prefilter away a row the
    comparator ranks inside the top n."""
    from maggma_spark.functions.agg_pipeline import compile_pipeline

    rows = [(1, 1, None), (1, 2, 5.0), (1, 3, 1.0), (1, 4, None),
            (1, 5, 3.0)]
    df = spark.createDataFrame(rows, "g int, k int, v double")
    out = compile_pipeline(df, [{"$group": {
        "_id": "$g",
        "t3d": {"$topN": {"n": 3, "sortBy": {"v": -1, "k": 1},
                          "output": "$k"}},
        "b3d": {"$bottomN": {"n": 3, "sortBy": {"v": -1, "k": 1},
                             "output": "$k"}},
        "t3a": {"$topN": {"n": 3, "sortBy": {"v": 1, "k": 1},
                          "output": "$k"}},
    }}]).collect()[0]
    # v desc (nulls last): [2(5.0), 5(3.0), 3(1.0), 1(null), 4(null)]
    assert out["t3d"] == [2, 5, 3]
    assert out["b3d"] == [4, 1, 3]  # reversed tail
    # v asc (nulls first): [1, 4, 3, 5, 2]
    assert out["t3a"] == [1, 4, 3]


def test_swf_global_finite_documents_frames(spark):
    """Round-7 "dfin": finite row-offset documents frames through the
    global scaffold (replication on the global row-number axis) match
    the closed-form sliding window; over-wide frames raise."""
    import math

    import pytest as _pt

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    data = [(i, i * 2, float(i % 11) if i % 5 else None)
            for i in range(300)]
    df = spark.createDataFrame(data, "i int, k int, v double")
    out = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "ma": {"$avg": "$v", "window": {"documents": [-3, 0]}},
            "ms": {"$sum": "$v", "window": {"documents": [-2, 2]}},
        }}}])
    got = {r["i"]: r for r in out.collect()}
    ordered = sorted(data, key=lambda t: t[1])
    for pos, (i, k, v) in enumerate(ordered):
        w = [vv for _, _, vv in ordered[max(0, pos - 3):pos + 1]
             if vv is not None]
        if w:
            assert math.isclose(got[i]["ma"], sum(w) / len(w),
                                abs_tol=1e-9)
        else:
            assert got[i]["ma"] is None
        w2 = [vv for _, _, vv in ordered[max(0, pos - 2):pos + 3]
              if vv is not None]
        assert math.isclose(got[i]["ms"], sum(w2), abs_tol=1e-9) \
            if w2 else got[i]["ms"] == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan

    with _pt.raises(ValueError, match="MAX_RANGE_REPLICATION"):
        compile_pipeline(df, [{"$setWindowFields": {
            "sortBy": {"k": 1},
            "output": {"x": {"$sum": "$v",
                             "window": {"documents":
                                        [-100000, 100000]}}}}}]).collect()


def test_swf_global_stddev_windows(spark):
    """Round-7c: unpartitioned $stdDevPop/$stdDevSamp decompose through
    (count, sum, sum-of-squares) carries for running/whole frames and
    the replication machinery for finite range/documents frames; every
    shape matches a two-pass Python reference. Plan stays distributed
    (no single-partition Exchange under the Window)."""
    import math
    import random

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    rnd = random.Random(3)
    vals = [rnd.randint(0, 50) for _ in range(400)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k int, x int"
    ).repartition(8)
    out = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "sdp": {"$stdDevPop": "$x",
                    "window": {"documents": ["unbounded", "current"]}},
            "sds": {"$stdDevSamp": "$x",
                    "window": {"documents": ["current", "unbounded"]}},
            "sdw": {"$stdDevPop": "$x"},
            "sdr": {"$stdDevSamp": "$x", "window": {"range": [-10, 10]}},
            "sdf": {"$stdDevPop": "$x",
                    "window": {"documents": [-5, 5]}},
        }}}])

    def sd(vs, samp):
        n = len(vs)
        if n < (2 if samp else 1):
            return None
        m = sum(vs) / n
        return math.sqrt(sum((v - m) ** 2 for v in vs)
                         / ((n - 1) if samp else n))

    rows = {r["k"]: r for r in out.collect()}
    for i in range(len(vals)):
        exp = {
            "sdp": sd(vals[:i + 1], False),
            "sds": sd(vals[i:], True),
            "sdw": sd(vals, False),
            "sdr": sd(vals[max(0, i - 10):i + 11], True),
            "sdf": sd(vals[max(0, i - 5):i + 6], False),
        }
        for cname, e in exp.items():
            got = rows[i][cname]
            if e is None:
                assert got is None, (i, cname, got)
            else:
                assert math.isclose(got, e, abs_tol=1e-9), (i, cname)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_window_median_percentile(spark):
    """Mongo 7.0 $median/$percentile WINDOW operators: partitioned
    frames run the exact continuous percentile over the frame; the
    unpartitioned path supports whole-frame (one dedicated action,
    driver-folded), finite frames (replication machinery) and — since
    round 8 — running prefix frames (distributed order statistics,
    _global_running_pctl); the reverse running form still raises."""
    import pytest as _pt

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    vals = [float((i * 37) % 100) for i in range(30)]
    df = spark.createDataFrame(
        [(i, i % 2, v) for i, v in enumerate(vals)],
        "k int, g int, v double")

    def pctl(xs, p):  # linear interpolation (R-7), the engine method
        xs = sorted(xs)
        pos = (len(xs) - 1) * p
        lo = int(pos)
        frac = pos - lo
        return xs[lo] if frac == 0 else \
            xs[lo] * (1 - frac) + xs[lo + 1] * frac

    part = compile_pipeline(df, [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"k": 1},
        "output": {"m": {"$median": {"input": "$v",
                                     "method": "approximate"},
                         "window": {"documents": ["unbounded",
                                                  "current"]}}}}}])
    got = {(r["g"], r["k"]): r["m"] for r in part.collect()}
    for g in (0, 1):
        seq = [(i, vals[i]) for i in range(30) if i % 2 == g]
        for pos, (i, _) in enumerate(seq):
            exp = pctl([x for _, x in seq[:pos + 1]], 0.5)
            assert abs(got[(g, i)] - exp) < 1e-9, (g, i)

    glob = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "mw": {"$median": {"input": "$v",
                               "method": "approximate"}},
            "qf": {"$percentile": {"input": "$v", "p": [0.25, 0.75],
                                   "method": "approximate"},
                   "window": {"documents": [-2, 2]}}}}}])
    rows = {r["k"]: r for r in glob.collect()}
    exp_w = pctl(vals, 0.5)
    for i in range(30):
        assert abs(rows[i]["mw"] - exp_w) < 1e-9
        w = vals[max(0, i - 2):i + 3]
        assert abs(rows[i]["qf"][0] - pctl(w, 0.25)) < 1e-9
        assert abs(rows[i]["qf"][1] - pctl(w, 0.75)) < 1e-9

    # round-8: the global RUNNING median computes (prefix order
    # statistics, _global_running_pctl) instead of raising
    run = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {"x": {"$median": {"input": "$v",
                                     "method": "approximate"},
                         "window": {"documents": ["unbounded",
                                                  "current"]}}}}}])
    got_run = {r["k"]: r["x"] for r in run.collect()}
    for i in range(30):
        assert abs(got_run[i] - pctl(vals[:i + 1], 0.5)) < 1e-9, i

    # the REVERSE running form computes too (suffix order statistics
    # — the same machinery on the mirrored axis)
    rev = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {"x": {"$median": {"input": "$v",
                                     "method": "approximate"},
                         "window": {"documents": ["current",
                                                  "unbounded"]}}}}}])
    got_rev = {r["k"]: r["x"] for r in rev.collect()}
    for i in range(30):
        assert abs(got_rev[i] - pctl(vals[i:], 0.5)) < 1e-9, i

    # an asymmetric-offset documents frame with an unbounded end
    # still raises — house guard style
    with _pt.raises(ValueError, match="running|finite|whole-frame"):
        compile_pipeline(df, [{"$setWindowFields": {
            "sortBy": {"k": 1},
            "output": {"x": {"$median": {"input": "$v",
                                         "method": "approximate"},
                             "window": {"documents": [-3,
                                                      "unbounded"]}}}}}])


def test_swf_global_covariance_windows(spark):
    """Unpartitioned $covariancePop/$covarianceSamp decompose through
    (n, Σx, Σy, Σxy) carries — the cross-moment analog of the stddev
    carries; finite frames ride the replication machinery. All five
    frame shapes match a two-pass reference; no single-partition
    Exchange."""
    import random

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    rnd = random.Random(9)
    rows = [(i, rnd.randint(0, 50), rnd.randint(0, 50))
            for i in range(300)]
    df = spark.createDataFrame(rows, "k int, x int, y int") \
        .repartition(8)
    out = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {
            "cp_run": {"$covariancePop": ["$x", "$y"],
                       "window": {"documents": ["unbounded",
                                                "current"]}},
            "cs_bwd": {"$covarianceSamp": ["$x", "$y"],
                       "window": {"documents": ["current",
                                                "unbounded"]}},
            "cp_all": {"$covariancePop": ["$x", "$y"]},
            "cs_fin": {"$covarianceSamp": ["$x", "$y"],
                       "window": {"documents": [-4, 4]}},
            "cp_rng": {"$covariancePop": ["$x", "$y"],
                       "window": {"range": [-7, 7]}},
        }}}])

    def cov(pairs, samp):
        n = len(pairs)
        if n < (2 if samp else 1):
            return None
        mx = sum(p[0] for p in pairs) / n
        my = sum(p[1] for p in pairs) / n
        s = sum((a - mx) * (b - my) for a, b in pairs)
        return s / ((n - 1) if samp else n)

    xs = [(r[1], r[2]) for r in rows]
    got = {r["k"]: r for r in out.collect()}
    for i in range(300):
        exp = {
            "cp_run": cov(xs[:i + 1], False),
            "cs_bwd": cov(xs[i:], True),
            "cp_all": cov(xs, False),
            "cs_fin": cov(xs[max(0, i - 4):i + 5], True),
            "cp_rng": cov([xs[j] for j in range(300)
                           if abs(j - i) <= 7], False),
        }
        for c, e in exp.items():
            g = got[i][c]
            if e is None:
                assert g is None, (i, c)
            else:
                assert abs(g - e) < 1e-8, (i, c)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_merge_when_matched_merge_field_fold(spark):
    """$merge whenMatched='merge' (Mongo's field-wise default): batch
    non-null values win, batch nulls keep the existing value, and
    columns only the target has survive untouched."""
    from pyspark.sql import Row

    from maggma_spark.sources.memory import MemoryStore

    tgt = MemoryStore(spark, [
        Row(k="a", x=1, note="keep-me"),
        Row(k="b", x=2, note="old-b")], key="k")
    batch = spark.createDataFrame(
        [Row(k="a", x=10, extra="n1"),
         Row(k="b", x=None, extra="n2"),
         Row(k="c", x=30, extra="n3")],
        "k string, x int, extra string")
    compile_pipeline(batch, [
        {"$merge": {"into": "tgt", "on": "k",
                    "whenMatched": "merge"}}], stores={"tgt": tgt})
    got = {r["k"]: r.asDict() for r in tgt.df.collect()}
    assert got["a"]["x"] == 10 and got["a"]["note"] == "keep-me"
    assert got["a"]["extra"] == "n1"
    assert got["b"]["x"] == 2          # batch null -> existing wins
    assert got["c"]["x"] == 30 and got["c"]["note"] is None


def test_merge_when_matched_update_pipeline(spark):
    """$merge whenMatched as an update pipeline (Mongo 4.2 form):
    $set/$addFields/$unset with $$new.<field> and custom `let`
    variables; unmatched batch rows insert unchanged, unmatched
    target rows are untouched; one equi-join, no per-row path."""
    import pytest as _pt
    from pyspark.sql import Row

    from maggma_spark.sources.memory import MemoryStore

    def fresh_target():
        t = MemoryStore(spark, key="k", last_updated_field="lu")
        t.update([{"k": 1, "v": 10, "n_seen": 1, "lu": "a"},
                  {"k": 2, "v": 20, "n_seen": 5, "lu": "a"}])
        return t

    batch = spark.createDataFrame([(2, 99, "b"), (3, 7, "b")],
                                  "k int, v int, lu string")

    tgt = fresh_target()
    compile_pipeline(batch, [
        {"$merge": {"into": "t", "on": "k", "whenMatched": [
            {"$set": {"n_seen": {"$add": ["$n_seen", 1]},
                      "v": {"$max": ["$v", "$$new.v"]},
                      "lu": "$$new.lu"}}]}}], stores={"t": tgt})
    got = {r["k"]: r.asDict() for r in tgt.df.collect()}
    assert got[1] == {"k": 1, "v": 10, "n_seen": 1, "lu": "a"}
    assert got[2]["n_seen"] == 6 and got[2]["v"] == 99
    assert got[2]["lu"] == "b"
    assert got[3]["v"] == 7 and got[3]["n_seen"] is None  # fresh insert

    # custom let: variables are expressions over the incoming doc;
    # $unset drops a field from matched docs only
    tgt = fresh_target()
    compile_pipeline(batch, [
        {"$merge": {"into": "t", "on": "k",
                    "let": {"delta": {"$multiply": ["$v", 2]}},
                    "whenMatched": [
                        {"$set": {"v": {"$add": ["$v", "$$delta"]}}},
                        {"$unset": "n_seen"}]}}], stores={"t": tgt})
    got = {r["k"]: r.asDict() for r in tgt.df.collect()}
    assert got[2]["v"] == 20 + 99 * 2
    assert got[2]["n_seen"] is None      # unset on the matched doc
    assert got[1]["n_seen"] == 1         # unmatched target untouched
    assert got[3]["v"] == 7              # fresh insert, no pipeline

    # with a custom let, $$new is not implicitly defined (Mongo rule)
    tgt = fresh_target()
    with _pt.raises(ValueError, match="unknown variable"):
        compile_pipeline(batch, [
            {"$merge": {"into": "t", "on": "k", "let": {"d": 1},
                        "whenMatched": [
                            {"$set": {"v": "$$new.v"}}]}}],
            stores={"t": tgt})
    with _pt.raises(ValueError, match="merge key"):
        compile_pipeline(batch, [
            {"$merge": {"into": "t", "on": "k", "whenMatched": [
                {"$set": {"k": 0}}]}}], stores={"t": fresh_target()})
    with _pt.raises(ValueError, match="supports"):
        compile_pipeline(batch, [
            {"$merge": {"into": "t", "on": "k", "whenMatched": [
                {"$replaceWith": "$$new"}]}}],
            stores={"t": fresh_target()})


def test_coll_stats_stage(spark):
    """$collStats (first stage): exact count + Catalyst size estimate;
    unsupported server diagnostics raise."""
    import pytest as _pt

    df = spark.createDataFrame([(i,) for i in range(7)], "k int")
    r = compile_pipeline(df, [
        {"$collStats": {"count": {}, "storageStats": {}}}]).first()
    assert r["count"] == 7 and r["size_bytes_estimate"] > 0
    assert compile_pipeline(
        df, [{"$collStats": {"count": {}}}]).first()["count"] == 7
    with _pt.raises(ValueError, match="latencyStats"):
        compile_pipeline(df, [{"$collStats": {"latencyStats": {}}}])
    with _pt.raises(ValueError, match="first stage"):
        compile_pipeline(df, [{"$limit": 1},
                              {"$collStats": {"count": {}}}])


def test_window_count_operator(spark):
    """Mongo window $count (== $sum of 1): partitioned running count,
    unpartitioned finite frame through the scaffold."""
    from maggma_spark.functions.agg_pipeline import compile_pipeline

    df = spark.createDataFrame([(i, i % 3) for i in range(20)],
                               "k int, g int")
    part = compile_pipeline(df, [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"k": 1},
        "output": {"c": {"$count": {},
                         "window": {"documents": ["unbounded",
                                                  "current"]}}}}}])
    got = {(r["g"], r["k"]): r["c"] for r in part.collect()}
    assert got[(0, 0)] == 1 and got[(0, 18)] == 7
    glob = compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1},
        "output": {"c": {"$count": {},
                         "window": {"documents": [-2, 2]}}}}}])
    by_k = {r["k"]: r["c"] for r in glob.collect()}
    assert by_k[0] == 3 and by_k[10] == 5 and by_k[19] == 3


def test_search_stage(spark):
    """Atlas $search/$searchMeta: text (BM25 ranked), phrase, compound
    must/mustNot/should/filter, minimumShouldMatch, $meta searchScore,
    score column hygiene (dropped unless projected)."""
    import pytest as _pt

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    rows = [
        (1, "spark shuffle joins are fast", "eng", 10),
        (2, "window functions in spark", "eng", 20),
        (3, "the cat sat on the mat", "misc", 30),
        (4, "shuffle partitions and spark shuffle tuning", "eng", 40),
        (5, "cats and windows", "misc", 50),
    ]
    df = spark.createDataFrame(
        rows, "doc_id int, text string, cat string, score int")

    # text: BM25-ranked, ordered by score desc; folds into
    # TakeOrderedAndProject when a $limit follows
    out = compile_pipeline(df, [
        {"$search": {"index": "default",
                     "text": {"query": "spark shuffle", "path": "text"}}},
        {"$limit": 3},
    ])
    assert [r["doc_id"] for r in out.collect()] == [4, 1, 2]
    assert "TakeOrderedAndProject" in \
        out._jdf.queryExecution().executedPlan().toString()
    assert "__search_score" not in out.columns  # hygiene

    # phrase: contiguous tokens only — doc 2 has both words, no phrase
    ph = compile_pipeline(df, [
        {"$search": {"phrase": {"query": "spark shuffle",
                                "path": "text"}}}])
    assert sorted(r["doc_id"] for r in ph.collect()) == [1, 4]

    # compound: must(text) + mustNot(phrase) + should(range boosts) +
    # filter(equals, non-scoring); $meta searchScore projection
    out2 = compile_pipeline(df, [
        {"$search": {"compound": {
            "must": [{"text": {"query": "spark", "path": "text"}}],
            "mustNot": [{"phrase": {"query": "window functions",
                                    "path": "text"}}],
            "should": [{"range": {"path": "score", "gte": 40}}],
            "filter": [{"equals": {"path": "cat", "value": "eng"}}]}}},
        {"$project": {"doc_id": 1,
                      "s": {"$round": [{"$meta": "searchScore"}, 3]}}},
    ])
    got = {r["doc_id"]: r["s"] for r in out2.collect()}
    assert set(got) == {1, 4}
    assert got[4] > got[1]  # the should-range boost (+1) dominates

    # only-should compound requires >= 1 should match (Atlas default)
    only_should = compile_pipeline(df, [
        {"$search": {"compound": {
            "should": [{"text": {"query": "cat", "path": "text"}},
                       {"in": {"path": "doc_id", "value": [5]}}]}}}])
    assert sorted(r["doc_id"] for r in only_should.collect()) == [3, 5]
    msm2 = compile_pipeline(df, [
        {"$search": {"compound": {
            "minimumShouldMatch": 2,
            "should": [{"text": {"query": "cat", "path": "text"}},
                       {"in": {"path": "doc_id", "value": [3, 5]}}]}}}])
    assert [r["doc_id"] for r in msm2.collect()] == [3]

    # $searchMeta: exact count facet
    meta = compile_pipeline(df, [{"$searchMeta": {
        "exists": {"path": "text"}}}]).first()
    assert meta["count"]["total"] == 5 and meta["count"]["lowerBound"] == 5

    with _pt.raises(ValueError, match="first stage"):
        compile_pipeline(df, [{"$limit": 1},
                              {"$search": {"exists": {"path": "text"}}}])
    with _pt.raises(ValueError, match="slop"):
        compile_pipeline(df, [{"$search": {"phrase": {
            "query": "a b", "path": "text", "slop": 2}}}])


def test_search_invalid_specs_fail_before_any_job(spark, jobs_of):
    """An unsupported $search option raises while planning, before the
    corpus-stats aggregate runs: zero Spark jobs for each spec (every
    one holds a BM25 clause, so a late check would run the stats job
    first)."""
    import pytest as _pt

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    df = spark.createDataFrame([(1, "spark shuffle", 10), (2, "cat", 20)],
                               "doc_id int, text string, n int")
    text = {"query": "spark", "path": "text"}
    bad = [
        {"text": dict(text, synonyms="words")},
        {"phrase": {"query": "spark shuffle", "path": "text", "slop": 2}},
        {"compound": {"must": [{"text": text}],
                      "should": [{"autocomplete": {
                          "query": "sp", "path": "text",
                          "tokenOrder": "bogus"}}]}},
        {"text": dict(text, score={"boost": {"path": "n"}})},
    ]
    for spec in bad:
        def run(spec=spec):
            with _pt.raises(ValueError):
                compile_pipeline(df, [{"$search": spec}])
        _, jobs = jobs_of(run)
        assert jobs == [], (spec, jobs)


def test_search_meta_facets_and_unwind_index(spark):
    """$searchMeta facet collector (string top-N by count desc / _id
    asc, number boundary buckets + default, operator prefilter, exact
    total) and $unwind includeArrayIndex (position column, null for
    preserved docs)."""
    import pytest as _pt

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    rows = [(i, ["en", "de", "fr", "en", "en", "de"][i % 6],
             (i * 37) % 500) for i in range(60)]
    df = spark.createDataFrame(rows, "k int, lang string, n int")
    out = compile_pipeline(df, [{"$searchMeta": {"facet": {
        "operator": {"range": {"path": "n", "gte": 50}},
        "facets": {
            "langs": {"type": "string", "path": "lang",
                      "numBuckets": 2},
            "sizes": {"type": "number", "path": "n",
                      "boundaries": [0, 100, 300],
                      "default": "big"},
        }}}}]).first()
    assert out["count"]["total"] == 54
    assert [(b["_id"], b["count"])
            for b in out["facet"]["langs"]["buckets"]] == \
        [("en", 28), ("de", 17)]
    assert [(b["_id"], b["count"])
            for b in out["facet"]["sizes"]["buckets"]] == \
        [("0", 7), ("100", 25), ("big", 22)]
    with _pt.raises(ValueError, match="string|number"):
        compile_pipeline(df, [{"$searchMeta": {"facet": {
            "facets": {"d": {"type": "date", "path": "n"}}}}}])

    au = spark.createDataFrame([(1, ["a", "b"]), (2, None)],
                               "k int, xs array<string>")
    got = compile_pipeline(au, [{"$unwind": {
        "path": "$xs", "includeArrayIndex": "i",
        "preserveNullAndEmptyArrays": True}}]).collect()
    tup = sorted((r["k"], r["xs"], r["i"]) for r in got)
    assert tup == [(1, "a", 0), (1, "b", 1), (2, None, None)]

    # dotted path: the struct LEAF is replaced in place (no new
    # top-level column), preserved docs leave the leaf null
    nest = spark.createDataFrame(
        [(1, ([1, 2], "x")), (2, (None, "y"))],
        "k int, a struct<xs: array<int>, t: string>")
    out = compile_pipeline(nest, [{"$unwind": {
        "path": "$a.xs", "preserveNullAndEmptyArrays": True}}])
    assert out.columns == ["k", "a"]
    vals = sorted((r["k"], r["a"]["xs"], r["a"]["t"])
                  for r in out.collect())
    assert vals == [(1, 1, "x"), (1, 2, "x"), (2, None, "y")]


def test_search_wildcard_regex_autocomplete_near(spark):
    """Round-7c $search operators: wildcard/regex (keyword semantics),
    autocomplete (token-prefix, any/sequential), near (pivot decay,
    numeric + date origins), per-clause score boost/constant."""
    import pytest as _pt

    from maggma_spark.functions.agg_pipeline import compile_pipeline

    rows = [
        (1, "spark shuffle tuning guide", 100, "2026-01-01T00:00:00"),
        (2, "sparkle and shine", 250, "2026-02-10T00:00:00"),
        (3, "shuffle free plans", 400, "2026-03-05T00:00:00"),
        (4, None, 50, "2026-01-21T00:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id int, text string, n_chars int, dt string"
    ).withColumn("dt", F.col("dt").cast("timestamp"))

    def ids(pipe):
        return sorted(r["doc_id"] for r in
                      compile_pipeline(df, pipe).collect())

    # wildcard: whole-value LIKE, * -> %, ? -> _; escapes survive
    assert ids([{"$search": {"wildcard": {
        "query": "spark*", "path": "text"}}}]) == [1, 2]
    assert ids([{"$search": {"wildcard": {
        "query": "spark?e and *", "path": "text"}}}]) == [2]

    # regex: anchored whole-value match
    assert ids([{"$search": {"regex": {
        "query": "s.*guide", "path": "text"}}}]) == [1]
    assert ids([{"$search": {"regex": {
        "query": "guide", "path": "text"}}}]) == []  # anchored

    # autocomplete: token-prefix; any vs sequential order
    assert ids([{"$search": {"autocomplete": {
        "query": "shuf spa", "path": "text"}}}]) == [1]
    assert ids([{"$search": {"autocomplete": {
        "query": "spark shuf", "path": "text",
        "tokenOrder": "sequential"}}}]) == [1]
    assert ids([{"$search": {"autocomplete": {
        "query": "shuf spark", "path": "text",
        "tokenOrder": "sequential"}}}]) == []

    # near numeric: score = pivot/(pivot+|x-origin|), boost multiplies
    out = compile_pipeline(df, [
        {"$search": {"near": {"path": "n_chars", "origin": 250,
                              "pivot": 100,
                              "score": {"boost": {"value": 2.0}}}}},
        {"$project": {"doc_id": 1,
                      "s": {"$round": [{"$meta": "searchScore"}, 4]}}}])
    got = {r["doc_id"]: r["s"] for r in out.collect()}
    assert got == {2: 2.0, 1: 0.8, 3: 0.8, 4: round(2 * 100 / 300, 4)}

    # near date origin: pivot in milliseconds
    day = 86_400_000
    out = compile_pipeline(df, [
        {"$search": {"near": {"path": "dt", "origin": "2026-01-21",
                              "pivot": 20 * day}}},
        {"$project": {"doc_id": 1,
                      "s": {"$round": [{"$meta": "searchScore"}, 4]}}}])
    got = {r["doc_id"]: r["s"] for r in out.collect()}
    assert got[4] == 1.0 and got[1] == 0.5  # 20 days off -> 20/(20+20)

    # constant score replaces BM25; compound still ranks by it
    out = compile_pipeline(df, [
        {"$search": {"compound": {
            "must": [{"text": {"query": "shuffle", "path": "text",
                               "score": {"constant": {"value": 5.0}}}}],
            "filter": [{"range": {"path": "n_chars", "gte": 200}}]}}},
        {"$project": {"doc_id": 1,
                      "s": {"$round": [{"$meta": "searchScore"}, 4]}}}])
    assert {(r["doc_id"], r["s"]) for r in out.collect()} == {(3, 5.0)}

    # Atlas sort option: field order replaces score order, and a
    # following $limit still folds into TakeOrderedAndProject
    srt = compile_pipeline(df, [
        {"$search": {"wildcard": {"query": "*", "path": "text"},
                     "sort": {"n_chars": -1}}},
        {"$limit": 2}])
    assert [r["doc_id"] for r in srt.collect()] == [3, 2]
    assert "TakeOrderedAndProject" in \
        srt._jdf.queryExecution().executedPlan().toString()

    # unsupported shapes raise
    with _pt.raises(ValueError, match="geo"):
        compile_pipeline(df, [{"$search": {"near": {
            "path": "n_chars", "pivot": 1,
            "origin": {"type": "Point", "coordinates": [0, 0]}}}}])
    with _pt.raises(ValueError, match="tokenOrder"):
        compile_pipeline(df, [{"$search": {"autocomplete": {
            "query": "a", "path": "text", "tokenOrder": "fuzzy"}}}])
    with _pt.raises(ValueError, match="score option"):
        compile_pipeline(df, [{"$search": {"text": {
            "query": "a", "path": "text",
            "score": {"boost": {"path": "n_chars"}}}}}])
    with _pt.raises(ValueError, match="not.*supported|options"):
        compile_pipeline(df, [{"$search": {"autocomplete": {
            "query": "a", "path": "text", "fuzzy": {}}}}])
