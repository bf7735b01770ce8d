"""Capture .explain("formatted") for named catalog queries and time each
row's two phases:

  compile  — driver-side plan build, including any driver actions the
             operators issue while compiling (boundary aggregates,
             range-boundary sketches);
  execute  — materializing the result into the noop sink.

Each plan is written to <out_dir>/<tag>/<row>.txt with its run-dependent
ids normalized (see normalize), so two captures of the same plan are
byte-identical and `diff -r <out_dir>/<tag1> <out_dir>/<tag2>` is the
plan-identity check between two checkouts. One line per row reports
the seconds of both phases. The catalog reads its tables from the
scale-factor directory named by SPARK_GRAFT_SF_DIR.

Usage: python scripts/capture_plans.py <out_dir> <tag> [row ...]
       (no rows -> the default set: the heavy rows plus every
       $setWindowFields row)
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

ROWS = [
    "swf_global_covariance_running",
    "swf_global_frames_suite",
    "swf_global_ema_deriv_integral",
    "stream_dedup_ingest_e2e",
    "fuzzy_entity_resolution",
    "window_pctl_approx_bound",
    "window_operators_wave",
    "window_median_percentile",
    "clustering_keys_orders",
    "mask_repeated_spans_rebuild",
    "embedding_pq_topk",
    "local_clustering_coefficients",
    "search_fuzzy_text",
    "search_compound_bm25",
    "search_meta_facets",
    "media_perceptual_neardup",
    "pagerank_mass_conservation",
    "semantic_dedup_planted",
    "agg_pipeline_window_fields",
    "exp_moving_avg_events",
    "window_unit_range_trailing_day",
]

# ids that differ between runs of one plan: lambda variable names
# (pyspark numbers them from a counter global to the JVM, so x_5 depends
# on which rows ran before), expression ids (name#12L), physical plan
# ids, and RDD ids (a localCheckpoint scans one)
_VOLATILE_IDS = ((re.compile(r"(lambda \w+)_\d+#\d+"), r"\1_N"),
                 (re.compile(r"#\d+"), "#N"),
                 (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
                 (re.compile(r"RDD\[\d+\]"), "RDD[N]"))


def normalize(plan: str) -> str:
    """A plan string with its run-dependent ids replaced by N."""
    for pattern, repl in _VOLATILE_IDS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir, tag = sys.argv[1], sys.argv[2]
    rows = sys.argv[3:] or ROWS
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(os.path.join(out_dir, tag), exist_ok=True)

    from maggma_spark.plans.catalog import QUERIES
    from maggma_spark.session import get_spark

    spark = get_spark("maggma_spark-plans")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()

    for row in rows:
        spark.sparkContext.setJobDescription(f"plan-capture: {row}")
        t0 = time.perf_counter()
        try:
            df = QUERIES[row](spark, sf_dir)
            t1 = time.perf_counter()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            timing = (f"compile={t1 - t0:.2f}s "
                      f"execute={time.perf_counter() - t2:.2f}s")
        except Exception as exc:  # capture the failure, keep going
            plan = f"EXPLAIN FAILED: {type(exc).__name__}: {exc}"
            timing = "failed"
        path = os.path.join(out_dir, tag, f"{row}.txt")
        with open(path, "w") as fh:
            fh.write(normalize(plan))
        print(f"{row}: {timing} -> {path} ({len(plan)} chars)", flush=True)


if __name__ == "__main__":
    main()
