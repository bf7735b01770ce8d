"""Scale probes of the global-order window family on synthetic data
(default 10M rows): each probe times one operator shape and checks a
closed-form invariant over ALL rows (one filter-count, no sampling)
unless noted. SCALE.md records the measured runs.

Probes:
  group_topn           $group $topN/$bottomN over 4 groups: exact ids
  fill_locf            unpartitioned $fill locf: no nulls after the
                       first known, max = last known
  fill_linear          unpartitioned $fill linear over collinear knowns
                       (v = k): reproduces k exactly
  documentnumber       $documentNumber is a permutation of 1..n and the
                       running $sum ends at the global sum
  running_range_sum    running range $sum over unique keys ends at
                       n(n-1)/2; global $first/$last are 0 and n-1
  finite_range_band    [-W, W] range count = min(k,W)+min(n-1-k,W)+1
  finite_documents     [-3, 0] documents $sum = sum of the 4 trailing ids
  running_stddev       running $stdDevPop = sqrt(k(k+2)/12) to 1e-6
  running_median       running $median of v = k is k/2
  reverse_median       suffix $median of v = k is (k+n-1)/2
  ema_deriv_integral   global $expMovingAvg + running $derivative /
                       $integral; spot checks against a driver replay
                       of the first 100k rows
  partitioned_approx   partitioned approximate running $median over 32
                       groups (timing only)
  pctl_kernels         global running $median/$percentile: approximate
                       cold and warm (min of 2), heavily tied range
                       sortBy, exact (timing only)
  token_budget         select_token_budget keeps the greedy boundary

Prints one JSON line of seconds per probe.
Run: python scripts/scale_probe_windows.py [n_rows] [probe ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from maggma_spark.functions.agg_pipeline import (  # noqa: E402
    compile_pipeline,
)

UNB, CUR = "unbounded", "current"


def swf(df, output, **stage):
    return compile_pipeline(df, [{"$setWindowFields": {
        "sortBy": {"k": 1}, "output": output, **stage}}])


def bad_rows(out, expected_ok) -> int:
    bad = out.filter(~expected_ok).count()
    assert bad == 0, bad
    return bad


def keyed(spark, n):
    """k = v = 0..n-1 (unique keys), one = 1."""
    return spark.range(n).select(F.col("id").alias("k"),
                                 F.col("id").alias("v"),
                                 F.lit(1).alias("one"))


def group_topn(spark, n):
    df = spark.range(n).select((F.col("id") % 4).alias("g"),
                               F.col("id").alias("k"))
    out = compile_pipeline(df, [{"$group": {
        "_id": "$g",
        "top3": {"$topN": {"n": 3, "sortBy": {"k": -1}, "output": "$k"}},
        "bot2": {"$bottomN": {"n": 2, "sortBy": {"k": -1},
                              "output": "$k"}},
        "cnt": {"$count": {}}}}])
    rows = {r["_id"]: r for r in out.collect()}
    for g in range(4):
        top = [x for x in range(n - 1, n - 40, -1) if x % 4 == g][:3]
        bot = [x for x in range(0, 40) if x % 4 == g][:2]
        assert rows[g]["top3"] == top, (g, rows[g]["top3"], top)
        assert rows[g]["bot2"] == bot, (g, rows[g]["bot2"], bot)
        assert rows[g]["cnt"] == n // 4


def sparse(spark, n):
    """v = k on every 37th row, null elsewhere."""
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 37 == 0, F.col("id").cast("double")).alias("v"))


def fill_locf(spark, n):
    out = compile_pipeline(sparse(spark, n), [{"$fill": {
        "sortBy": {"k": 1}, "output": {"v": {"method": "locf"}}}}])
    row = out.agg(F.sum(F.col("v").isNull().cast("long")).alias("nulls"),
                  F.max("v").alias("mx")).first()
    assert row["nulls"] == 0, row  # k=0 is known; the carry covers all
    assert row["mx"] == float((n - 1) // 37 * 37)


def fill_linear(spark, n):
    out = compile_pipeline(sparse(spark, n), [{"$fill": {
        "sortBy": {"k": 1}, "output": {"v": {"method": "linear"}}}}])
    last_known = (n - 1) // 37 * 37
    bad_rows(out, (F.col("k") > last_known)
             | (F.abs(F.col("v") - F.col("k")) <= 1e-9))


def documentnumber(spark, n):
    base = sparse(spark, n)
    out = swf(base, {"dn": {"$documentNumber": {}},
                     "run": {"$sum": "$v",
                             "window": {"documents": [UNB, CUR]}}})
    row = out.agg(F.min("dn").alias("mn"), F.max("dn").alias("mx"),
                  F.countDistinct("dn").alias("dnd"),
                  F.max("run").alias("maxrun")).first()
    assert (row["mn"], row["mx"], row["dnd"]) == (1, n, n), row
    total = base.agg(F.sum("v")).first()[0]
    assert abs(row["maxrun"] - total) < 1e-3, (row["maxrun"], total)


def running_range_sum(spark, n):
    out = swf(keyed(spark, n), {
        "run": {"$sum": "$v", "window": {"range": [UNB, CUR]}},
        "gf": {"$first": "$k", "window": {"documents": [UNB, CUR]}},
        "gl": {"$last": "$k", "window": {"documents": [CUR, UNB]}}})
    row = out.agg(F.min("run").alias("mn"), F.max("run").alias("mx"),
                  F.min("gf").alias("gf0"), F.max("gf").alias("gf1"),
                  F.min("gl").alias("gl0"), F.max("gl").alias("gl1")).first()
    assert row["mn"] == 0 and row["mx"] == n * (n - 1) // 2, row
    assert row["gf0"] == row["gf1"] == 0, row
    assert row["gl0"] == row["gl1"] == n - 1, row


def finite_range_band(spark, n, W=1000):
    out = swf(keyed(spark, n),
              {"band": {"$sum": "$one", "window": {"range": [-W, W]}}})
    bad_rows(out, F.col("band") == (F.least(F.col("k"), F.lit(W))
                                    + F.least(F.lit(n - 1) - F.col("k"),
                                              F.lit(W)) + 1))


def finite_documents(spark, n):
    out = swf(keyed(spark, n),
              {"ms": {"$sum": "$v", "window": {"documents": [-3, 0]}}})
    lo = F.greatest(F.col("k") - 3, F.lit(0))
    bad_rows(out, F.col("ms") == ((F.col("k") + lo)
                                  * (F.col("k") - lo + 1) / 2).cast("long"))


def running_stddev(spark, n):
    # the variance of the uniform integers 0..k; the sum-of-squares
    # carries hold ~1e-11 relative error at 10M rows
    out = swf(keyed(spark, n), {"sd": {
        "$stdDevPop": "$v", "window": {"documents": [UNB, CUR]}}})
    expected = F.sqrt(F.col("k").cast("double") * (F.col("k") + 2) / 12.0)
    bad_rows(out, F.abs(F.col("sd") - expected)
             <= 1e-6 * (expected + 1e-9))


def _median(spark, n, frame):
    base = keyed(spark, n).withColumn("v", F.col("v").cast("double"))
    return swf(base, {"med": {
        "$median": {"input": "$v", "method": "approximate"},
        "window": {"documents": frame}}})


def running_median(spark, n):
    bad_rows(_median(spark, n, [UNB, CUR]),
             F.col("med") == F.col("k").cast("double") / 2.0)


def reverse_median(spark, n):
    bad_rows(_median(spark, n, [CUR, UNB]),
             F.col("med") == (F.col("k") + n - 1).cast("double") / 2.0)


def noisy(spark, n):
    """x: hashed values with a null every 1009th row."""
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 1009 != 3,
               (F.hash(F.col("id")) % 100000).cast("double")).alias("x"))


def ema_deriv_integral(spark, n):
    base = noisy(spark, n).withColumn(
        "ve", F.when((F.col("k") % 4096 == 7) & (F.col("k") < 131072),
                     (F.col("k") % 1000).cast("double")))
    gdf = swf(base, {
        "ema": {"$expMovingAvg": {"input": "$ve", "N": 3}},
        "d_run": {"$derivative": {"input": "$x"},
                  "window": {"documents": [UNB, CUR]}},
        "i_run": {"$integral": {"input": "$x"},
                  "window": {"documents": [UNB, CUR]}}})
    gdf.write.format("noop").mode("overwrite").save()
    last = min(n - 1, 99_999)
    probes = sorted({min(1000, last), last})
    rows = {r["k"]: r for r in gdf.filter(F.col("k").isin(*probes))
            .collect()}
    pre = base.filter(F.col("k") <= last).orderBy("k").select(
        "k", "x").collect()
    xs, ks = [r["x"] for r in pre], [r["k"] for r in pre]
    for k in probes:
        i = ks.index(k)
        acc = 0.0
        for j in range(1, i + 1):
            if xs[j] is not None and xs[j - 1] is not None:
                acc += (xs[j] + xs[j - 1]) / 2 * (ks[j] - ks[j - 1])
        got = rows[k]["i_run"]
        assert abs(got - acc) <= 1e-6 * max(1.0, abs(acc)), (k, got, acc)
        if xs[i] is not None and xs[0] is not None and i > 0:
            want = (xs[i] - xs[0]) / (ks[i] - ks[0])
            assert abs(rows[k]["d_run"] - want) < 1e-9, (k, want)


def partitioned_approx(spark, n):
    df = spark.range(n).select(
        (F.col("id") % 32).alias("g"), F.col("id").alias("k"),
        (F.hash(F.col("id")) % 100000).cast("double").alias("v"))
    spark.conf.set("spark.maggma.windowPctl.method", "approximate")
    try:
        swf(df, {"med": {"$median": {"input": "$v",
                                     "method": "approximate"},
                         "window": {"documents": [UNB, CUR]}}},
            partitionBy="$g").write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.unset("spark.maggma.windowPctl.method")


def pctl_kernels(spark, n):
    out = {}
    output = {
        "med": {"$median": {"input": "$x", "method": "approximate"},
                "window": {"documents": [UNB, CUR]}},
        "qs": {"$percentile": {"input": "$x", "p": [0.25, 0.75],
                               "method": "approximate"},
               "window": {"documents": [UNB, CUR]}}}

    def run(df, o):
        t0 = time.perf_counter()
        swf(df, o).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 1)

    spark.conf.set("spark.maggma.windowPctl.method", "approximate")
    try:
        out["approx_cold_s"] = run(noisy(spark, n), output)
        out["approx_warm_s"] = min(run(noisy(spark, n), output)
                                   for _ in range(2))
        # ~40 distinct keys: every tie group shares one scaffold range
        tied = spark.range(n).select(
            (F.col("id") % 40).cast("double").alias("k"),
            (F.hash(F.col("id")) % 100000).cast("double").alias("x"))
        out["approx_tied_range_s"] = run(tied, {"med": {
            "$median": {"input": "$x", "method": "approximate"},
            "window": {"range": [UNB, CUR]}}})
    finally:
        spark.conf.unset("spark.maggma.windowPctl.method")
    out["exact_s"] = run(noisy(spark, n), output)
    return out


def token_budget(spark, n):
    from maggma_spark.operators.corpus import select_token_budget

    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.hash(F.col("id").cast("string")) % 100000)
        .cast("double").alias("score"),
        (F.col("id") % 7 + 10).alias("n_tok"))
    kept = select_token_budget(docs, n, "score", "n_tok")
    row = kept.agg(F.max("cum_tokens").alias("mx")).first()
    # greedy: within budget and short of it by less than one max doc
    assert row["mx"] <= n and n - row["mx"] <= 16, row


PROBES = {f.__name__: f for f in (
    group_topn, fill_locf, fill_linear, documentnumber, running_range_sum,
    finite_range_band, finite_documents, running_stddev, running_median,
    reverse_median, ema_deriv_integral, partitioned_approx, pctl_kernels,
    token_budget)}


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    names = sys.argv[2:] or list(PROBES)
    from maggma_spark.session import get_spark

    spark = get_spark("scale-probe-windows")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"rows": n}
    for name in names:
        t0 = time.perf_counter()
        extra = PROBES[name](spark, n)
        out[f"{name}_s"] = round(time.perf_counter() - t0, 2)
        if extra:
            out.update({f"{name}.{k}": v for k, v in extra.items()})
    out["loadavg"] = [round(x, 1) for x in os.getloadavg()]
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
