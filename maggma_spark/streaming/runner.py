"""Structured Streaming runners — incremental builders as streams.

The reference's incremental recomputation is batch watermark diffing
(`newer_in`, reference:src/maggma/core/store.py:239-275) driven by cron.
The Spark-native upgrade is Structured Streaming with
`Trigger.AvailableNow`: the checkpoint IS the high watermark (exact
file/offset tracking instead of timestamp comparison), and `foreachBatch`
applies the same key-merge the batch path uses — so a builder can run
either way with identical semantics.

Late data: event-time windows get `withWatermark(ts, allowed_lateness)`;
rows later than the watermark are dropped from open aggregates (a
capability the reference lacks entirely — its last_updated comparison
silently reprocesses or misses).
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from maggma_spark.operators.merge import upsert_by_key


def stream_parquet_source(
    spark: SparkSession,
    path: str,
    schema: Optional[str] = None,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """File-stream source over a parquet directory (new files = new data)."""
    reader = spark.readStream.format("parquet")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.schema(spark.read.parquet(path).schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def run_incremental(
    stream_df: DataFrame,
    checkpoint_dir: str,
    merge_fn: Callable[[DataFrame, int], None],
    transform: Optional[Callable[[DataFrame], DataFrame]] = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Run a builder incrementally: transform each micro-batch then hand
    it to `merge_fn(batch_df, batch_id)` (typically a key-merge into the
    target store). With available_now=True this processes exactly the
    backlog and stops — the streaming analog of one `mrun` invocation."""
    if transform is not None:
        stream_df = transform(stream_df)
    writer = (
        stream_df.writeStream.foreachBatch(merge_fn)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup(
    stream_df: DataFrame,
    keys: list[str],
    ts_col: str,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: duplicates arriving within the watermark
    window are dropped with bounded state (state expires as the
    watermark advances — the streaming counterpart of exact_dedup; the
    reference could only dedup by full-store upsert)."""
    return stream_df.withWatermark(ts_col, watermark_delay) \
        .dropDuplicatesWithinWatermark(keys)


def merge_into_store(store) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: upsert the micro-batch into a writable store by
    its key — dedups within the batch by last_updated first so replayed
    batches (at-least-once) stay idempotent."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        deduped = upsert_by_key(None, batch_df, store.key, store.last_updated_field)
        store.update(deduped, key=store.key)

    return _merge


def dedup_ingest_sink(
    index,
    target_store,
    jaccard_threshold: float = 0.8,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body for CONTINUOUS ingestion dedup — the "every
    day, dedup the new batch against the already-deduped corpus"
    workflow as an actual stream: each micro-batch is near-dup-checked
    against the persistent MinHashIndex (operators/index.py), survivors
    upsert into `target_store` and their signatures append to the
    index, so the next batch (or day) checks against them too.

        run_incremental(stream, ckpt,
                        dedup_ingest_sink(index, corpus_store))

    Replay-safe under at-least-once by construction, with NO batch
    bookkeeping: a replayed survivor matches only its own indexed
    signature (self-pairs are excluded by key), so it survives again;
    a replayed duplicate still matches its indexed partner and drops
    again; `index.add` anti-joins on already-indexed keys and the
    store update is a key-upsert. Every path converges to the same
    state.
    """

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        # upsert_into routes the survivor upsert through
        # dedup_increment, which runs it after the signature append
        # and takes the store's micro-batch `_small_new` merge
        index.dedup_increment(
            batch_df, jaccard_threshold=jaccard_threshold,
            add_survivors=True, upsert_into=target_store)

    return fn


def maintain_aggregate(
    agg_path: str,
    group_cols,
    sum_cols,
    count_col: str = "n",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body for CONTINUOUS materialized-view maintenance:
    each micro-batch is a before-image CDC changelog
    (snapshot_delta(..., include_old=True) shape: new image + old_*
    columns + change_type), and the parquet aggregate at `agg_path`
    advances by incremental_agg_update — cost per batch ∝ batch size,
    never a rescan of the base table.

    Pair with run_incremental over a delta feed:

        run_incremental(delta_stream, ckpt,
                        maintain_aggregate("/agg", "g", ["v"]))

    The maintained aggregate equals the direct aggregate of the
    current snapshot after every batch (pinned by
    tests/test_windows.py::test_streaming_view_maintenance).

    Replay-safe and crash-safe under foreachBatch's at-least-once
    contract:

    * the last applied ``batch_id`` is recorded in a ``_last_batch_id``
      sidecar inside the snapshot directory (underscore-prefixed files
      are invisible to Spark's parquet listing), and a replayed batch
      with ``batch_id <= last`` is skipped instead of double-applied;
    * each new snapshot is written to a sibling ``.inprogress``
      directory and swapped in by rename, never overwrite-in-place —
      a crash mid-swap leaves either the old or the fully-written new
      snapshot recoverable, and the next batch's read path promotes
      whichever survives.

    The sidecar/swap logic is driver-local file I/O (os.rename /
    shutil), so `agg_path` must be a LOCAL filesystem path — a URI
    scheme (hdfs://, s3a://, abfss://...) raises up front rather than
    silently treating the URI as a nonexistent local dir (same policy
    as MinHashIndex, operators/index.py). On HDFS/object stores deploy
    the view as a transactional table (Delta/Iceberg) instead, where
    foreachBatch MERGE gives the same idempotency via the table's own
    log.
    """
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from maggma_spark.operators.merge import incremental_agg_update

    if "://" in agg_path:
        raise NotImplementedError(
            "maintain_aggregate's snapshot swap uses driver-local file "
            "I/O; keep the aggregate on a local/mounted path, or use a "
            "transactional table (Delta/Iceberg) on remote filesystems")
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    base = agg_path.rstrip("/")
    new_dir, old_dir = base + ".inprogress", base + ".old"
    marker = "_last_batch_id"

    def _applied(path: str) -> int:
        try:
            with open(os.path.join(path, marker)) as fh:
                return int(json.load(fh)["batch_id"])
        except (OSError, ValueError, KeyError):
            return -1

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # crash recovery: if the live snapshot vanished mid-swap,
        # promote the fully-written .inprogress (post-swap crash) else
        # restore .old (pre-completion crash). A .inprogress WITHOUT
        # its marker is a partial first-batch write — promoting it
        # would double-count the replay over half-written aggregates,
        # so it is garbage, not a snapshot.
        if not os.path.exists(base):
            if _applied(new_dir) >= 0:
                os.rename(new_dir, base)
            elif os.path.exists(old_dir):
                os.rename(old_dir, base)
            else:
                shutil.rmtree(new_dir, ignore_errors=True)
        if batch_id <= _applied(base):
            return  # replayed micro-batch — already folded in
        if os.path.exists(base):
            # a READ error here must propagate: swallowing it would
            # silently rebuild the view as empty and every prior batch's
            # contribution would vanish
            old = spark.read.parquet(base)
        else:
            old = spark.createDataFrame(
                [], batch_df.select(
                    *groups,
                    F.lit(0).cast("long").alias(count_col),
                    *[F.col(c).cast("double").alias(c)
                      for c in sum_cols]).schema)
        updated = incremental_agg_update(
            old, batch_df, groups, sum_cols, count_col=count_col)
        shutil.rmtree(new_dir, ignore_errors=True)
        updated.write.mode("overwrite").parquet(new_dir)
        with open(os.path.join(new_dir, marker), "w") as fh:
            json.dump({"batch_id": batch_id}, fh)
        # atomic swap: live -> .old, .inprogress -> live, drop .old
        shutil.rmtree(old_dir, ignore_errors=True)
        if os.path.exists(base):
            os.rename(base, old_dir)
        os.rename(new_dir, base)
        shutil.rmtree(old_dir, ignore_errors=True)

    return fn
