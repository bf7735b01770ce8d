"""MinHashIndex — persisted LSH signatures for INCREMENTAL dedup.

The 100 TB dedup workflow is not "dedup the corpus once"; it is "every
day, dedup a new batch against a corpus that was already deduped". The
batch operators (operators/dedup.py) re-sign the full corpus on every
call — fine for one-shot jobs, quadratic waste for ingestion. This
index persists the per-doc MinHash signatures (key, shingle hashes,
band hashes) as parquet, so an increment signs ONLY the new batch and
joins its bands against the stored corpus bands:

    cost(increment) = sign(batch) + join(batch_bands x corpus_bands)

with the corpus side a columnar scan of (key, band_hashes) — no text
re-tokenization, no signature recompute. Signature parameters are
pinned in a sidecar meta file; opening with different parameters
raises (mixing signature spaces silently produces garbage candidates).

Beyond-reference capability: the reference's incremental story is
watermark-based recompute (reference:src/maggma/core/store.py:239);
this is the LSH analog — reuse of previously computed derived state.

Scale notes:
- `add` appends new parquet files only (no rewrite of existing
  signatures); `compact()` folds small increments together.
- the candidate join carries (key, band, bhash) rows exploded from the
  stored arrays — same shuffle shape as minhash_lsh_candidates, with
  the bucket cap applied to the UNION of both sides so a degenerate
  band can't go quadratic across batch x corpus.
- within-batch duplicates are resolved in the same pass (self-join of
  the batch bands), so an increment containing its own copies does not
  admit both.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from maggma_spark.operators.dedup import minhash_signatures
from maggma_spark.sources.parquet import dataset_exists, read_parquet

_META = "_index_meta.json"
_SIGS = "signatures"


class MinHashIndex:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str = "doc_id",
        text_col: str = "text",
        num_hashes: int = 64,
        bands: int = 16,
        shingle_words: int = 3,
        max_bucket_size: Optional[int] = 500,
    ):
        if "://" in path:
            raise NotImplementedError(
                "MinHashIndex sidecar meta uses local file I/O; for "
                "object stores keep the index on a mounted path")
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.text_col = text_col
        self.params = {
            "num_hashes": num_hashes,
            "bands": bands,
            "shingle_words": shingle_words,
        }
        self.max_bucket_size = max_bucket_size
        meta_path = os.path.join(path, _META)
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                stored = json.load(fh)
            if stored != self.params:
                raise ValueError(
                    f"index at {path} was built with {stored}; opening "
                    f"with {self.params} would mix signature spaces — "
                    "rebuild or match the parameters")

    # -- storage ---------------------------------------------------------
    @property
    def _sig_path(self) -> str:
        return os.path.join(self.path, _SIGS)

    def exists(self) -> bool:
        self._recover_sigs()
        return dataset_exists(self.spark, self._sig_path)

    @property
    def signatures(self) -> DataFrame:
        self._recover_sigs()
        return read_parquet(self.spark, self._sig_path)

    def count(self) -> int:
        return self.signatures.count() if self.exists() else 0

    def _write_meta(self) -> None:
        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, _META), "w") as fh:
            json.dump(self.params, fh)

    def _sign(self, df: DataFrame) -> DataFrame:
        return minhash_signatures(df, self.text_col, self.key_col,
                                  **self.params)

    def _overwrite_sigs(self, df: DataFrame) -> None:
        """Replace the signature dataset by stage-and-swap, never
        overwrite-in-place: a crash mid-rewrite must leave a complete
        index recoverable (losing the accumulated corpus signatures
        would silently let every historical duplicate back in). The
        staged dataset is stamped `_complete` only after a full write;
        the swap is live -> .__old, staging -> live, drop .__old —
        every crash window leaves either the old or the stamped new
        dataset for `_recover_sigs` to promote. Local paths only
        (enforced in __init__), so renames are atomic."""
        import shutil

        live = self._sig_path.rstrip("/")
        staging, old = live + ".__staging", live + ".__old"
        shutil.rmtree(staging, ignore_errors=True)
        df.write.mode("overwrite").parquet(staging)
        with open(os.path.join(staging, "_complete"), "w") as fh:
            fh.write("1")
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(live):
            os.rename(live, old)
        os.replace(staging, live)
        shutil.rmtree(old, ignore_errors=True)

    def _recover_sigs(self) -> None:
        """Promote survivors of a crashed swap: a fully-written staged
        dataset (has `_complete`) wins, else the displaced old one;
        the loser (stale old copy / torn partial) is dropped."""
        import shutil

        live = self._sig_path.rstrip("/")
        if os.path.exists(live):
            return
        staging, old = live + ".__staging", live + ".__old"
        if os.path.exists(os.path.join(staging, "_complete")):
            os.rename(staging, live)
            shutil.rmtree(old, ignore_errors=True)
        elif os.path.exists(old):
            os.rename(old, live)
            shutil.rmtree(staging, ignore_errors=True)

    def build(self, df: DataFrame) -> "MinHashIndex":
        """(Re)build the index from a corpus frame: sign every doc and
        replace the signature dataset."""
        self._write_meta()
        self._overwrite_sigs(self._sign(df))
        return self

    def add(self, df: DataFrame) -> None:
        """Append signatures for docs whose keys are not yet indexed.
        The key anti-join shuffles keys only (signatures stay put);
        the write appends files — existing signatures never rewrite."""
        self._add_sigs(self._sign(df))

    def _add_sigs(self, sigs: DataFrame,
                  _sigs: Optional[DataFrame] = None) -> None:
        """Append ALREADY-COMPUTED signatures (same anti-join contract
        as add) — lets dedup_increment reuse the batch's one signing
        pass instead of re-running the kernel on the survivors.
        `_sigs` is an optional caller-held snapshot of the stored
        signatures (one dataset listing per ingest call, round-12)."""
        if _sigs is None:
            _sigs = self.signatures if self.exists() else None
        if _sigs is not None:
            sigs = sigs.join(_sigs.select("key"), on="key",
                             how="left_anti")
        else:
            self._write_meta()
        sigs.write.mode("append").parquet(self._sig_path)

    def compact(self, files: int = 0) -> None:
        """Fold accreted small increment files together (metadata-bound
        scans are the failure mode of a million tiny appends)."""
        import math

        sigs = self.signatures
        n = files or max(1, math.ceil(sigs.count() / 500_000))
        # the staging write reads the live files — no lineage conflict,
        # and the swap keeps the old index until the new one is complete
        self._overwrite_sigs(sigs.repartition(n))

    # -- query -----------------------------------------------------------
    @staticmethod
    def _explode(sigs: DataFrame, key_alias: str) -> DataFrame:
        return sigs.select(
            F.col("key").alias(key_alias),
            F.posexplode("band_hashes").alias("band", "bhash"))

    def query_candidates(
        self,
        batch: DataFrame,
        jaccard_threshold: Optional[float] = None,
        within_batch: bool = True,
        _presigned: Optional[DataFrame] = None,
        _sigs: Optional[DataFrame] = None,
        _keys_only: bool = False,
    ) -> DataFrame:
        """Candidate near-dup pairs between `batch` and the indexed
        corpus (and, with `within_batch`, inside the batch itself).

        Returns (key_new, key_old[, jaccard]) where key_old is an
        indexed corpus key, or — for within-batch pairs — the smaller
        batch key (so key_new is always the doc a dedup would drop
        relative to its partner).

        ``_keys_only`` (round-12, dedup_increment's private fast
        path): return just the DISTINCT ``key_new`` column. The two
        pair-level dedup exchanges (pair dropDuplicates + sh_old
        key dedup) exist to give the PAIR output exact multiplicity;
        a keys-only consumer gets the same key set from the final
        distinct, two shuffles cheaper — a key is dropped iff ANY of
        its candidate pairs verifies, so verifying a band-duplicated
        pair twice cannot change membership.
        """
        # eager checkpoint, not persist(): the frame is consumed on
        # both sides of the band join AND (with a threshold) by the
        # verify joins, possibly long after this call returns — a
        # persist() handle either leaks or gets unpersisted before the
        # caller consumes the result (silently re-running the signing
        # kernel). Checkpoint blocks are freed by the context cleaner
        # when the frame goes out of scope. `_presigned` lets
        # dedup_increment share ITS checkpointed signing pass.
        bsigs = (_presigned if _presigned is not None
                 else self._sign(batch).localCheckpoint(eager=True))
        # ONE corpus-signature snapshot per call (round-12): each
        # `self.signatures` read re-lists the parquet dataset and
        # re-reads footers for schema on the driver — three reads per
        # ingest call was ~0.1-0.4 s of pure driver latency per
        # micro-batch. Callers holding a snapshot pass it in.
        if _sigs is None:
            _sigs = self.signatures if self.exists() else None
        b = self._explode(bsigs, "key_new")
        # __ib marks within-batch rows: those pairs keep one orientation
        # (key_new > key_old) while batch-vs-corpus pairs keep BOTH key
        # orders (the corpus doc always wins regardless of key value)
        c = (self._explode(bsigs, "key_old")
             .withColumn("__ib", F.lit(True))) if within_batch else None
        if _sigs is not None:
            corpus = self._explode(_sigs, "key_old").withColumn(
                "__ib", F.lit(False))
            c = corpus if c is None else c.unionByName(corpus)
        if c is None:
            raise ValueError(
                "index is empty and within_batch=False: nothing to "
                "compare against — build()/add() first")
        # cap on the union: a degenerate band hash present on both
        # sides would otherwise blow up the batch x corpus join. The
        # oversized-bucket list is tiny (each entry accounts for
        # > max_bucket_size rows), so both anti-joins broadcast.
        if self.max_bucket_size is not None:
            union = b.select("band", "bhash").unionByName(
                c.select("band", "bhash"))
            oversized = (
                union.groupBy("band", "bhash")
                .agg(F.count(F.lit(1)).alias("__bn"))
                .filter(F.col("__bn") > self.max_bucket_size)
                .select("band", "bhash")
            )
            b = b.join(oversized, on=["band", "bhash"], how="left_anti")
            c = c.join(oversized, on=["band", "bhash"], how="left_anti")
        # ingest-path static broadcast hints (round-12): on the
        # _keys_only (dedup_increment micro-batch) path, the b side of
        # the band join and the sh_new verify side are bounded by the
        # BATCH (a streaming micro-batch, not the corpus), and the
        # pairs frame is bounded by batch x bands x max_bucket_size.
        # Hinting them broadcast statically means the CORPUS side —
        # exploded band rows here, signature arrays in the verify
        # join — is never exchanged: AQE reaches the same join shape
        # at bench SF but only after materializing both shuffle map
        # sides first (one extra job + exchange per join), and at
        # 100 TB the static hint is the difference between shuffling
        # the corpus per micro-batch and not.
        pairs = (
            (F.broadcast(b) if _keys_only else b)
            .join(c, on=["band", "bhash"])
            .filter(F.col("key_new") != F.col("key_old"))
            # within-batch pairs: one orientation only (larger key is
            # the drop candidate); corpus pairs: any orientation
            .filter((~F.col("__ib")) | (F.col("key_new") > F.col("key_old")))
            .select("key_new", "key_old")
        )
        if not _keys_only:
            pairs = pairs.dropDuplicates(["key_new", "key_old"])
        if jaccard_threshold is None:
            return (pairs.select("key_new").distinct()
                    if _keys_only else pairs)
        sh_new = bsigs.select(F.col("key").alias("key_new"),
                              F.col("sh_hashes").alias("__sh_a"))
        sh_old = None
        if _sigs is not None:
            sh_old = _sigs.select(
                F.col("key").alias("key_old"),
                F.col("sh_hashes").alias("__sh_b"))
        if within_batch:
            batch_sh = bsigs.select(F.col("key").alias("key_old"),
                                    F.col("sh_hashes").alias("__sh_b"))
            sh_old = batch_sh if sh_old is None else sh_old.unionByName(batch_sh)
        if not _keys_only:
            sh_old = sh_old.dropDuplicates(["key_old"])
        # same batch-bounded hints for the verify joins: sh_new is the
        # batch's signatures, and the pairs-with-__sh_a frame is
        # cap-bounded (batch x bands x max_bucket_size) — broadcasting
        # it means the corpus sh_hashes arrays (sh_old) never shuffle,
        # which is the "signatures never shuffle" layout contract
        # applied to the verify join too
        if _keys_only:
            joined = F.broadcast(
                pairs.join(F.broadcast(sh_new), on="key_new")
            ).join(sh_old, on="key_old")
        else:
            joined = pairs.join(sh_new, on="key_new") \
                .join(sh_old, on="key_old")
        jac = F.size(F.array_intersect("__sh_a", "__sh_b")) / F.size(
            F.array_union("__sh_a", "__sh_b"))
        out = (
            joined.withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= jaccard_threshold)
        )
        if _keys_only:
            return out.select("key_new").distinct()
        return out.select("key_new", "key_old", "jaccard")

    def dedup_increment(
        self,
        batch: DataFrame,
        jaccard_threshold: float = 0.8,
        add_survivors: bool = False,
        upsert_into=None,
    ) -> DataFrame:
        """The ingestion step: return the rows of `batch` that are NOT
        near-duplicates of the indexed corpus or of a surviving earlier
        batch row (within-batch ties keep the smaller key), optionally
        appending the survivors' signatures to the index.

        Note the within-batch rule is greedy-by-key (a chain a~b~c with
        a<b<c keeps only a), matching resolve_dup_clusters' min-key
        representative for chains fully inside one batch.

        Lineage contract: the returned `survivors` frame is the RAW
        `batch` anti-joined with the (checkpointed, tiny) drop-key
        set — `batch`'s own upstream lineage is NOT materialized here.
        A caller that consumes survivors in more than one action (e.g.
        a corpus upsert plus a count) should persist/localCheckpoint
        it, or pass an already-materialized batch; the streaming
        runner's micro-batch frames are already local, which is why
        this method doesn't pay an unconditional checkpoint of the
        wide frame.

        ``upsert_into`` (round-12): a writable store to receive the
        survivors, upserted after the signature append. Stores
        exposing the ``_small_new`` merge (broadcast anti-join — the
        store side is never exchanged) take it, since survivors are
        micro-batch-bounded; others get the plain upsert.
        """
        # LAZY signing checkpoint (round-11): the drop-key set's eager
        # checkpoint just below consumes bsigs through the band+verify
        # joins and materializes its blocks as a side effect — the
        # signing kernel still runs exactly once per batch, one
        # dedicated driver action cheaper than the eager form
        bsigs = self._sign(batch).localCheckpoint(eager=False)
        # one stored-signature snapshot for the whole increment: the
        # candidate join, verify join, and signature append all read
        # the same listing (round-12 — three dataset reads per call
        # were pure driver latency; also the consistent choice, since
        # the append below mutates the dataset)
        sigs_snap = self.signatures if self.exists() else None
        # materialize the DROP-KEY set (tiny), not the wide survivors:
        # the band+verify joins behind it are consumed by the survivor
        # anti-join, the signature append, AND the caller's corpus
        # upsert — each would re-run them otherwise
        # Tried and rejected (round-12): collecting the drop-key set
        # to the driver and expressing both exclusions as a literal
        # NOT-isin filter. The extra count/fetch driver actions per
        # micro-batch cost MORE than the broadcast anti-joins they
        # removed (same-session conf A/B, min-of-4: 6.3 s isin vs
        # 4.25 s anti-join on the bench row), and a persist() variant
        # was worse still — caching compiles the band+verify subtree
        # without AQE's runtime broadcast conversions. The
        # checkpointed-tiny-frame anti-join stays.
        # LAZY (round-13): the first write's action materializes the
        # drop-key blocks as a side effect, so the increment does not
        # pay a dedicated checkpoint job per micro-batch (each action
        # has a ~0.3-0.5 s fixed floor).
        dropped = self.query_candidates(
            batch, jaccard_threshold=jaccard_threshold,
            _presigned=bsigs, _sigs=sigs_snap, _keys_only=True,
        ).select(F.col("key_new").alias("__drop_key")) \
            .localCheckpoint(eager=False)
        # dropped <= the batch's keys (micro-batch-bounded): hint the
        # anti-joins' build side statically so neither the raw batch
        # nor the signature frame waits on an AQE materialization
        # round to discover the broadcast (round-12)
        dropped = F.broadcast(dropped)
        survivors = batch.join(
            dropped, batch[self.key_col] == dropped["__drop_key"],
            "left_anti")
        if add_survivors:
            # reuse the checkpointed signing pass for the index append
            # (round-10: add() re-signed the survivors — the signing
            # kernel is the expensive step, it must run ONCE per batch).
            # surv_sigs' lineage is the checkpointed bsigs + the tiny
            # checkpointed drop-key set, so the append re-reads blocks,
            # not the signing kernel. survivors' lineage is the raw
            # `batch` frame — see the docstring's lineage contract.
            surv_sigs = bsigs.join(
                dropped, bsigs["key"] == dropped["__drop_key"],
                "left_anti")
            self._add_sigs(surv_sigs, sigs_snap)
        if upsert_into is not None:
            import inspect

            try:
                small_ok = "_small_new" in inspect.signature(
                    upsert_into.update).parameters
            except (TypeError, ValueError):
                small_ok = False
            if small_ok:
                upsert_into.update(survivors, _small_new=True)
            else:
                upsert_into.update(survivors)
        return survivors
