"""Property-based upsert invariants: for ANY old/new doc sets, the merged
store is key-unique, new docs win, and untouched old docs survive."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from maggma_spark.operators.merge import upsert_by_key

docs = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 10**6)),
    min_size=0, max_size=25,
).map(lambda lst: [{"k": k, "v": v, "src": None} for k, v in lst])


@given(old=docs, new=docs)
def test_upsert_invariants(spark, old, new):
    for d in old:
        d["src"] = "old"
    for d in new:
        d["src"] = "new"
    schema = "k bigint, v bigint, src string"
    old_df = spark.createDataFrame(old, schema=schema) if old else None
    new_df = spark.createDataFrame(new, schema=schema)
    if not new and old_df is None:
        return
    merged = upsert_by_key(old_df, new_df, "k").collect()

    keys = [r["k"] for r in merged]
    assert len(keys) == len(set(keys)), "merged store must be key-unique"
    new_keys = {d["k"] for d in new}
    old_keys = {d["k"] for d in old}
    assert set(keys) == new_keys | old_keys
    for r in merged:
        if r["k"] in new_keys:
            assert r["src"] == "new", "new docs must win on key clash"
        else:
            assert r["src"] == "old", "untouched old docs must survive"


def test_cdc_delta_apply_roundtrip_property(spark):
    """apply_cdc(old, snapshot_delta(old, new)) == new for arbitrary
    drift, including delete-everything and no-op deltas."""
    from pyspark.sql import Row, functions as F

    from maggma_spark.operators.merge import apply_cdc, snapshot_delta

    new = spark.createDataFrame(
        [Row(k=i, v=f"v{i}", n=i * 10) for i in range(50)])
    old = (new.filter(F.col("k") % 5 != 0)          # inserts
           .withColumn("n", F.when(F.col("k") % 7 == 0,
                                   F.col("n") + 1).otherwise(F.col("n")))
           .unionByName(spark.createDataFrame(
               [Row(k=999, v="gone", n=0)])))       # delete
    delta = snapshot_delta(old, new, "k")
    applied = apply_cdc(old, delta, "k").select("k", "v", "n")
    assert applied.exceptAll(new).count() == 0
    assert new.exceptAll(applied).count() == 0
    # no-op delta: empty changelog leaves the snapshot untouched
    empty = snapshot_delta(new, new, "k")
    assert empty.count() == 0
    same = apply_cdc(new, empty, "k").select("k", "v", "n")
    assert same.exceptAll(new).count() == 0
    # unknown op rejected — at execution since round 13 (the check
    # rides the main pass; the eager distinct().collect() validation
    # was a dedicated full scan of the changelog per call)
    import pytest as _pt

    bad = delta.withColumn("change_type", F.lit("upsert"))
    with _pt.raises(Exception, match="unknown change_type"):
        apply_cdc(old, bad, "k").collect()


def test_apply_cdc_null_op_message(spark):
    """A NULL op value fails with a readable message: the in-plan
    raise_error message must not collapse to NULL with its op."""
    import pytest as _pt
    from pyspark.sql import Row

    from maggma_spark.operators.merge import apply_cdc

    base = spark.createDataFrame([Row(k=1, v="a")])
    bad = spark.createDataFrame([(2, "b", None)],
                                "k long, v string, change_type string")
    with _pt.raises(Exception, match="unknown change_type value: null"):
        apply_cdc(base, bad, "k").collect()


def test_table_checksums_detect_single_row_drift(spark):
    from pyspark.sql import Row, functions as F

    from maggma_spark.operators.merge import table_checksums

    df = spark.createDataFrame([Row(k=i, v=i * 2) for i in range(500)])
    a = table_checksums(df, "k", buckets=32)
    assert a.agg(F.sum("n")).collect()[0][0] == 500
    # identical tables -> identical checksum frames, any layout
    b = table_checksums(df.repartition(9), "k", buckets=32)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # one corrupted value -> exactly one divergent bucket
    mut = df.withColumn("v", F.when(F.col("k") == 123, -1)
                        .otherwise(F.col("v")))
    c = table_checksums(mut, "k", buckets=32)
    div = (a.alias("a").join(c.alias("c"), on="bucket")
           .filter(F.col("a.checksum") != F.col("c.checksum")))
    assert div.count() == 1


def test_incremental_agg_update_matches_direct(spark):
    """Maintained aggregate == direct aggregate under inserts, deletes,
    updates, group moves, and group birth/death."""
    from pyspark.sql import Row, functions as F

    from maggma_spark.operators.merge import (incremental_agg_update,
                                              snapshot_delta)

    old_rows = [Row(k=i, g="a" if i < 10 else "b", v=float(i))
                for i in range(20)]
    new_rows = (
        [Row(k=i, g="a", v=float(i)) for i in range(5)]       # 5-9 deleted
        + [Row(k=i, g="c", v=float(i) + 1) for i in range(10, 20)]  # b->c
        + [Row(k=99, g="d", v=7.0)])                          # new group
    old = spark.createDataFrame(old_rows)
    new = spark.createDataFrame(new_rows)
    old_agg = old.groupBy("g").agg(F.count("*").alias("n"),
                                   F.sum("v").alias("v"))
    delta = snapshot_delta(old, new, "k", include_old=True)
    upd = incremental_agg_update(old_agg, delta, "g", ["v"])
    got = {r["g"]: (r["n"], r["v"]) for r in upd.collect()}
    want = {r["g"]: (r["n"], r["v"]) for r in
            new.groupBy("g").agg(F.count("*").alias("n"),
                                 F.sum("v").alias("v")).collect()}
    assert got == want
    assert "b" not in got          # emptied group dropped


def test_incremental_agg_update_null_group_keys(spark):
    """A NULL group key is a real group: its contributions must merge
    with the existing null-group aggregate row, not duplicate it."""
    from pyspark.sql import Row, functions as F

    from maggma_spark.operators.merge import (incremental_agg_update,
                                              snapshot_delta)

    old = spark.createDataFrame([
        Row(k=1, g=None, v=1.0), Row(k=2, g=None, v=2.0),
        Row(k=3, g="a", v=3.0)])
    new = spark.createDataFrame([
        Row(k=1, g=None, v=1.0), Row(k=4, g=None, v=9.0),  # 2 deleted
        Row(k=3, g="a", v=3.0)])
    old_agg = old.groupBy("g").agg(F.count("*").alias("n"),
                                   F.sum("v").alias("v"))
    delta = snapshot_delta(old, new, "k", include_old=True)
    upd = incremental_agg_update(old_agg, delta, "g", ["v"]).collect()
    assert len(upd) == 2                      # exactly one null-group row
    got = {r["g"]: (r["n"], r["v"]) for r in upd}
    assert got[None] == (2, 10.0)
    assert got["a"] == (1, 3.0)


def test_update_rename_is_per_row(spark):
    """$rename moves the value only on MATCHED rows (Mongo update_many
    semantics) — the old column survives carrying non-matching rows'
    values, mirroring the $unset convention."""
    from pyspark.sql import Row

    from maggma_spark.operators.merge import apply_update_operators

    df = spark.createDataFrame([Row(k=1, a=10), Row(k=2, a=20)])
    out = apply_update_operators(df, {"k": 1}, {"$rename": {"a": "b"}})
    rows = {r["k"]: (r["a"], r["b"]) for r in out.collect()}
    assert rows == {1: (None, 10), 2: (20, None)}

    # renaming onto an EXISTING column keeps its value on non-matches
    df2 = spark.createDataFrame([Row(k=1, a=10, b=99), Row(k=2, a=20, b=88)])
    out2 = apply_update_operators(df2, {"k": 1}, {"$rename": {"a": "b"}})
    rows2 = {r["k"]: (r["a"], r["b"]) for r in out2.collect()}
    assert rows2 == {1: (None, 10), 2: (20, 88)}


def test_set_matching_criteria_column_self_set(spark):
    """Setting a column the criteria itself references must not flip
    the match for later $set paths (predicate frozen pre-rewrite)."""
    from pyspark.sql import Row

    from maggma_spark.operators.merge import set_matching

    df = spark.createDataFrame([Row(k=1, a=10, b=0), Row(k=2, a=1, b=0)])
    out = set_matching(df, {"a": {"$gte": 5}}, {"a": 0, "b": 7})
    rows = {r["k"]: (r["a"], r["b"]) for r in out.collect()}
    assert rows == {1: (0, 7), 2: (1, 0)}


def test_update_rename_null_source_is_noop(spark):
    """Mongo $rename does nothing when the source field is missing — a
    matched row with a null source must not clobber the target."""
    from maggma_spark.operators.merge import apply_update_operators

    df = spark.createDataFrame(
        [(1, None, "keep"), (2, "new", "gone")],
        "k bigint, a string, b string")
    out = apply_update_operators(df, {}, {"$rename": {"a": "b"}})
    rows = {r["k"]: (r["a"], r["b"]) for r in out.collect()}
    assert rows[1] == (None, "keep")   # null source: target untouched
    assert rows[2] == (None, "new")    # present source: value moves


def test_update_array_and_date_operators(spark):
    """Round-7 update operators with per-row semantics the SQL twin
    can't express mechanically: $push $each, $addToSet (no dup),
    $pop both ends, $pull scalar + comparison doc, $pullAll
    (duplicates of survivors PRESERVED — not array_except), $mul on
    a missing column, $currentDate."""
    import pytest as _pt

    from maggma_spark.operators.merge import apply_update_operators

    df = spark.createDataFrame(
        [(1, [1, 2, 2, 3]), (2, [5]), (3, None)],
        "k int, arr array<int>")

    out = {r["k"]: r["arr"] for r in apply_update_operators(
        df, {"k": {"$lte": 2}},
        {"$push": {"arr": {"$each": [7, 8]}}}).collect()}
    assert out[1] == [1, 2, 2, 3, 7, 8] and out[2] == [5, 7, 8]
    assert out[3] is None  # unmatched rows pass through

    out = {r["k"]: r["arr"] for r in apply_update_operators(
        df, {}, {"$addToSet": {"arr": {"$each": [2, 9]}}}).collect()}
    assert out[1] == [1, 2, 2, 3, 9]      # 2 already present
    assert out[2] == [5, 2, 9]
    assert out[3] == [2, 9]               # null array -> created

    out = {r["k"]: r["arr"] for r in apply_update_operators(
        df, {}, {"$pop": {"arr": 1}}).collect()}
    assert out[1] == [1, 2, 2] and out[2] == [] and out[3] is None
    out = {r["k"]: r["arr"] for r in apply_update_operators(
        df, {}, {"$pop": {"arr": -1}}).collect()}
    assert out[1] == [2, 2, 3]

    out = {r["k"]: r["arr"] for r in apply_update_operators(
        df, {}, {"$pull": {"arr": 2}}).collect()}
    assert out[1] == [1, 3]
    out = {r["k"]: r["arr"] for r in apply_update_operators(
        df, {}, {"$pull": {"arr": {"$gte": 2}}}).collect()}
    assert out[1] == [1] and out[2] == []

    out = {r["k"]: r["arr"] for r in apply_update_operators(
        df, {}, {"$pullAll": {"arr": [1, 3]}}).collect()}
    assert out[1] == [2, 2]  # surviving duplicates preserved

    # $mul creates a missing-per-row null field as 0; $currentDate
    got = apply_update_operators(
        spark.createDataFrame([(1, None), (2, 4)], "k int, x int"),
        {"k": 1}, {"$mul": {"x": 3}}).collect()
    by_k = {r["k"]: r["x"] for r in got}
    assert by_k[1] == 0 and by_k[2] == 4
    stamped = apply_update_operators(
        spark.createDataFrame([(1,)], "k int"),
        {}, {"$currentDate": {"ts": True,
                              "d": {"$type": "date"}}}).first()
    assert stamped["ts"] is not None and stamped["d"] is not None

    with _pt.raises(ValueError, match="takes 1"):
        apply_update_operators(df, {}, {"$pop": {"arr": 2}})
    with _pt.raises(ValueError, match="unsupported update"):
        apply_update_operators(df, {}, {"$bit": {"arr": 1}})
