"""Deterministic range partitioning for two-pass carry patterns.

The distributed decomposition of a global-order computation (running
sums, global row numbers, locf carries) is: split the data into sorted
ranges, compute per-range partials, fold the N partial rows driver-side
into per-range carries, broadcast them back, finish per range. That
decomposition is only sound if BOTH passes — the partial aggregate and
the final query — agree on which range every row belongs to.

`repartitionByRange` + `spark_partition_id()` does NOT guarantee that:
Spark's RangePartitioner derives its boundary sample seed from the
shuffle RDD id, which changes on every job submission, so two actions
over the same lazy plan can assign the same row to DIFFERENT partition
ids (measured here: two identical aggregations over one
repartitionByRange frame returned two different boundary sets).
Carries folded under one boundary set and applied under another produce
silently wrong rows near every range boundary.

The fix: make the range id a PURE FUNCTION OF THE ROW — compute
boundary values once (a single driver-side scalar action), bake them
into the plan as literals, and derive the id with a comparison ladder.
Every job then agrees by construction, nothing needs to be cached or
checkpointed, and the boundary action is O(num_ranges) driver bytes at
any data scale.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    DateType,
    NumericType,
    TimestampNTZType,
    TimestampType,
)

_SAMPLE_ROWS = 100_000  # cap for the orderable-but-not-numeric path


def _numeric_key(df: DataFrame, field: str) -> Optional[Column]:
    """A percentile-compatible numeric view of the field, or None."""
    try:
        dtype = df.schema[field].dataType
    except KeyError:
        return None
    if isinstance(dtype, NumericType):
        return F.col(field)
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        # exact integer microseconds; a double epoch loses sub-ms bits
        return F.unix_micros(F.col(field).cast("timestamp"))
    if isinstance(dtype, DateType):
        return F.datediff(F.col(field), F.lit("1970-01-01"))
    if isinstance(dtype, BooleanType):
        return F.col(field).cast("int")
    return None


def thin_boundaries(bs: list, total: int, num_ranges: int,
                    min_rows_per_range: int | None) -> list:
    """Thin ascending split values `bs` (the fine i/num_ranges grid)
    so each range holds at least `min_rows_per_range` of `total` rows,
    floored at 8 ranges and capped at `num_ranges`: keeps the
    quantiles at j/want, j = 1..want-1 (closest index). A falsy
    `min_rows_per_range` or an empty grid returns `bs` unchanged."""
    if not min_rows_per_range or not bs:
        return bs
    want = max(8, min(num_ranges, total // min_rows_per_range))
    if want >= len(bs) + 1:
        return bs
    return sorted({bs[min(len(bs) - 1, round(j * (len(bs) + 1) / want) - 1)]
                   for j in range(1, want)})


def range_boundaries(df: DataFrame, field: str, num_ranges: int,
                     min_rows_per_range: int | None = None,
                     with_total: bool = False):
    """`num_ranges - 1` ascending split values of `field`, computed in
    ONE driver action. Numeric/timestamp/date/boolean fields use a
    percentile_approx sketch; other orderable types (strings, ...)
    fall back to a fixed-seed sample of <= ~100k scalars (two actions:
    a count to size the fraction, then the sample collect).

    `with_total` (round-13): return `(boundaries, total)` where
    `total` is the full row count (null keys included) the probe
    already computed — None when the probe collapsed to no action.
    Callers use it to bound broadcast decisions without paying a
    second action.

    `min_rows_per_range` (round-9): when set, the row count piggybacks
    on the same action and the split grid is THINNED (thin_boundaries)
    so each range holds at least that many rows (floored at 8 ranges,
    capped at `num_ranges`). Rationale: every downstream per-range
    stage schedules one task per range, and at small data the fixed
    task latency dominates the work — measured at sf0.1, 32 -> 8
    ranges cut the three global-window bench rows ~25-35% with
    identical results. At large data `total / min_rows` exceeds
    `num_ranges`, so the cap keeps full parallelism — the thinning
    only ever shrinks SMALL jobs. The sample path thins and sizes its
    sample fraction by the non-null-key count."""
    if num_ranges < 2:
        return ([], None) if with_total else []

    key = _numeric_key(df, field)
    if key is not None:
        qs = [i / num_ranges for i in range(1, num_ranges)]
        row = df.select(
            F.percentile_approx(
                key, F.array(*[F.lit(q) for q in qs]), F.lit(10_000))
            .alias("qs"),
            F.count(F.lit(1)).alias("n")).first()
        vals = row["qs"] if row and row["qs"] is not None else []
        n_total = row["n"] if row else 0
        bs_out = thin_boundaries(sorted({v for v in vals if v is not None}),
                                 n_total, num_ranges, min_rows_per_range)
        return (bs_out, n_total) if with_total else bs_out
    counts = df.agg(F.count(F.lit(1)).alias("n"),
                    F.count(F.col(field)).alias("nn")).first()
    n_total, nn_total = counts["n"], counts["nn"]
    if nn_total == 0:
        return ([], n_total) if with_total else []
    frac = min(1.0, _SAMPLE_ROWS / nn_total)
    nn = df.select(F.col(field).alias("k")).filter(F.col("k").isNotNull())
    sample = sorted(r["k"] for r in nn.sample(False, frac, seed=42)
                    .collect())
    if not sample:
        return ([], n_total) if with_total else []
    bs = {sample[(len(sample) * i) // num_ranges]
          for i in range(1, num_ranges)}
    bs_out = thin_boundaries(sorted(bs), nn_total, num_ranges,
                             min_rows_per_range)
    return (bs_out, n_total) if with_total else bs_out


def range_pid(df: DataFrame, field: str, boundaries: list,
              descending: bool = False) -> Column:
    """Deterministic range id for `field` given literal `boundaries`
    (ascending): id = number of boundaries the row has passed in sort
    direction. Equal keys always share an id (ties stay co-located,
    which rank()/denseRank offsets and carry folds rely on); nulls
    sort first for ascending and last for descending, matching
    Spark's default window null ordering."""
    key = _numeric_key(df, field)
    if key is None:  # sample-path boundaries are raw field values
        key = F.col(field)
    n_null_pid = 0 if not descending else len(boundaries)
    pid = F.lit(0)
    for b in boundaries:
        passed = (key < F.lit(b)) if descending else (key > F.lit(b))
        pid = pid + passed.cast("int")
    return F.when(F.col(field).isNull(),
                  F.lit(n_null_pid)).otherwise(pid).cast("int")


def with_deterministic_range_pid(
    df: DataFrame,
    field: str,
    pid_col: str,
    num_ranges: int,
    descending: bool = False,
) -> DataFrame:
    """Stamp `pid_col` with a range id that is a pure function of the
    row (boundaries computed once, baked in as literals) — safe to
    aggregate in one job and join carries back in another, unlike
    spark_partition_id() over repartitionByRange."""
    bs = range_boundaries(df, field, num_ranges)
    return df.withColumn(pid_col, range_pid(df, field, bs, descending))
