"""Deterministic range ids (functions/partitioning.py) — the
foundation under every two-pass carry pattern (global $fill /
$setWindowFields, select_token_budget, assign_global_ids).

The property that matters: the id is a PURE FUNCTION OF THE ROW, so
the boundary-aggregate job and the final job agree on every row's
range. spark_partition_id() over repartitionByRange does NOT have
this property — its boundary sample reseeds per job submission — which
is exactly how carries get mis-stitched near every range boundary.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row, functions as F

from maggma_spark.functions.partitioning import (
    range_boundaries,
    range_pid,
    with_deterministic_range_pid,
)


def test_pid_is_stable_across_jobs_and_ordered(spark):
    df = spark.range(0, 5000).select(
        (F.col("id") * 37 % 4999).alias("k"))
    out = with_deterministic_range_pid(df, "k", "pid", 8)
    a = {r["pid"]: (r["mn"], r["mx"]) for r in out.groupBy("pid").agg(
        F.min("k").alias("mn"), F.max("k").alias("mx")).collect()}
    b = {r["pid"]: (r["mn"], r["mx"]) for r in out.groupBy("pid").agg(
        F.min("k").alias("mn"), F.max("k").alias("mx")).collect()}
    assert a == b  # two jobs, identical assignment
    pids = sorted(a)
    assert len(pids) >= 4  # actually split
    for p, q in zip(pids, pids[1:]):
        assert a[p][1] < a[q][0]  # contiguous, non-overlapping ranges


def test_ties_colocate_and_nulls_sort_first(spark):
    rows = [Row(k=v) for v in [None, None, 1, 1, 1, 2, 2, 3, 3, 3, 3]]
    df = spark.createDataFrame(rows, "k int")
    bs = range_boundaries(df, "k", 4)
    out = df.withColumn("pid", range_pid(df, "k", bs))
    got = [(r["k"], r["pid"]) for r in out.collect()]
    by_val = {}
    for k, p in got:
        by_val.setdefault(k, set()).add(p)
    for k, ps in by_val.items():
        assert len(ps) == 1, (k, ps)  # equal keys share one range id
    assert by_val[None] == {0}  # nulls first (asc)
    # descending: nulls last, order reversed
    out_d = df.withColumn("pid", range_pid(df, "k", bs, descending=True))
    got_d = {r["k"]: r["pid"] for r in out_d.collect()}
    assert got_d[None] == max(got_d.values())
    assert got_d[3] <= got_d[1]


def test_timestamp_and_string_keys(spark):
    base = dt.datetime(2024, 1, 1)
    ts_df = spark.createDataFrame(
        [Row(t=base + dt.timedelta(minutes=i)) for i in range(100)])
    out = with_deterministic_range_pid(ts_df, "t", "pid", 4)
    stats = {r["pid"]: (r["mn"], r["mx"]) for r in out.groupBy("pid").agg(
        F.min("t").alias("mn"), F.max("t").alias("mx")).collect()}
    pids = sorted(stats)
    assert len(pids) >= 2
    for p, q in zip(pids, pids[1:]):
        assert stats[p][1] < stats[q][0]

    # strings go through the fixed-seed sample path
    s_df = spark.createDataFrame(
        [Row(s=f"doc-{i:05d}") for i in range(500)])
    out_s = with_deterministic_range_pid(s_df, "s", "pid", 4)
    stats_s = {r["pid"]: (r["mn"], r["mx"]) for r in
               out_s.groupBy("pid").agg(
                   F.min("s").alias("mn"), F.max("s").alias("mx"))
               .collect()}
    pids_s = sorted(stats_s)
    assert len(pids_s) >= 2
    for p, q in zip(pids_s, pids_s[1:]):
        assert stats_s[p][1] < stats_s[q][0]


def test_string_key_total_counts_null_keys(spark):
    """with_total on the sample path (non-numeric keys) returns the
    FULL row count — null keys included — because callers size
    join-back broadcast bounds with it."""
    df = spark.createDataFrame(
        [Row(s=None if i % 4 else f"doc-{i:04d}") for i in range(400)],
        "s string")
    bs, total = range_boundaries(df, "s", 4, with_total=True)
    assert total == df.count() == 400
    assert bs and bs == sorted(bs)
    nulls = spark.createDataFrame([Row(s=None)] * 5, "s string")
    assert range_boundaries(nulls, "s", 4, with_total=True) == ([], 5)


def test_token_budget_and_global_ids_still_exact(spark):
    """The carry consumers produce exactly the single-partition truth
    (they were silently boundary-corrupted under repartitionByRange
    when the two jobs sampled different boundaries)."""
    from maggma_spark.operators.corpus import (
        assign_global_ids,
        select_token_budget,
    )

    df = spark.createDataFrame(
        [Row(doc_id=i, score=float((i * 31) % 997), n_tok=10 + i % 7)
         for i in range(3000)])
    got = select_token_budget(df, 9000, "score", "n_tok",
                              key_col="doc_id")
    rows = sorted(got.collect(),
                  key=lambda r: (-r["score"], r["doc_id"]))
    ordered = sorted(df.collect(), key=lambda r: (-r["score"], r["doc_id"]))
    acc, keep = 0, []
    for r in ordered:
        acc += r["n_tok"]
        if acc > 9000:
            break
        keep.append((r["doc_id"], acc))
    assert [(r["doc_id"], r["cum_tokens"]) for r in rows] == keep

    ids = assign_global_ids(df, ["score", "doc_id"], id_col="gid")
    got_ids = sorted((r["score"], r["doc_id"], r["gid"])
                     for r in ids.collect())
    exp_sorted = sorted((r["score"], r["doc_id"]) for r in df.collect())
    assert [g for _, _, g in got_ids] == [
        exp_sorted.index((s, d)) for s, d, _ in got_ids]
