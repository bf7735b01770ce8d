"""MinHashIndex — persisted-signature incremental dedup tests."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from maggma_spark.operators.index import MinHashIndex


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


TEXTS = {
    "alpha": "the quick brown fox jumps over the lazy dog every day",
    "beta": "spark compiles declarative plans into distributed physical stages",
    "gamma": "minhash signatures approximate jaccard similarity between sets",
    "delta": "completely unrelated sentence about cooking pasta with garlic",
}


def test_index_build_add_and_corpus_candidates(spark, tmp_path):
    idx = MinHashIndex(spark, str(tmp_path / "idx"), num_hashes=16, bands=4)
    corpus = _docs(spark, [(1, TEXTS["alpha"]), (2, TEXTS["beta"])])
    idx.build(corpus)
    assert idx.count() == 2

    # add only appends unseen keys
    idx.add(_docs(spark, [(2, TEXTS["beta"]), (3, TEXTS["gamma"])]))
    assert idx.count() == 3

    # an identical copy of doc 1 in a new batch must be found
    batch = _docs(spark, [(100, TEXTS["alpha"]), (101, TEXTS["delta"])])
    pairs = idx.query_candidates(batch, jaccard_threshold=0.99)
    got = {(r["key_new"], r["key_old"]) for r in pairs.collect()}
    assert (100, 1) in got
    assert not any(k == 101 for k, _ in got)


def test_dedup_increment_drops_corpus_and_batch_dups(spark, tmp_path):
    idx = MinHashIndex(spark, str(tmp_path / "idx"), num_hashes=16, bands=4)
    idx.build(_docs(spark, [(1, TEXTS["alpha"])]))
    batch = _docs(spark, [
        (10, TEXTS["alpha"]),   # dup of corpus doc 1 -> dropped
        (11, TEXTS["gamma"]),   # novel -> kept
        (12, TEXTS["gamma"]),   # within-batch dup of 11 -> dropped
        (13, TEXTS["delta"]),   # novel -> kept
    ])
    survivors = idx.dedup_increment(batch, jaccard_threshold=0.9,
                                    add_survivors=True)
    assert sorted(r["doc_id"] for r in survivors.collect()) == [11, 13]
    # survivors' signatures were appended: re-ingesting gamma now dedups
    assert idx.count() == 3
    again = idx.dedup_increment(
        _docs(spark, [(20, TEXTS["gamma"])]), jaccard_threshold=0.9)
    assert again.count() == 0


def test_empty_index_within_batch_only(spark, tmp_path):
    idx = MinHashIndex(spark, str(tmp_path / "fresh"), num_hashes=16, bands=4)
    batch = _docs(spark, [(1, TEXTS["alpha"]), (2, TEXTS["alpha"]),
                          (3, TEXTS["beta"])])
    survivors = idx.dedup_increment(batch, jaccard_threshold=0.9)
    assert sorted(r["doc_id"] for r in survivors.collect()) == [1, 3]
    with pytest.raises(ValueError, match="index is empty"):
        idx.query_candidates(batch, within_batch=False)


def test_param_mismatch_raises(spark, tmp_path):
    p = str(tmp_path / "idx")
    MinHashIndex(spark, p, num_hashes=16, bands=4).build(
        _docs(spark, [(1, TEXTS["alpha"])]))
    with pytest.raises(ValueError, match="signature spaces"):
        MinHashIndex(spark, p, num_hashes=32, bands=8)


def test_streaming_dedup_ingest_sink(spark, tmp_path):
    """Continuous ingestion dedup: batches dedup against the persistent
    index AND earlier batches; a replayed batch converges to the same
    state with no batch bookkeeping."""
    from maggma_spark.sources.parquet import ParquetStore
    from maggma_spark.streaming.runner import dedup_ingest_sink

    idx = MinHashIndex(spark, str(tmp_path / "idx"),
                       num_hashes=16, bands=4)
    idx.build(_docs(spark, [(1, TEXTS["alpha"])]))
    store = ParquetStore(spark, str(tmp_path / "corpus"), key="doc_id")
    sink = dedup_ingest_sink(idx, store, jaccard_threshold=0.9)

    # batch 0: a corpus dup + a novel doc -> only the novel survives
    b0 = _docs(spark, [(100, TEXTS["alpha"]), (101, TEXTS["beta"])])
    sink(b0, 0)
    assert {r["doc_id"] for r in store.query().collect()} == {101}
    assert idx.count() == 2  # alpha + the surviving beta

    # replay of batch 0 (at-least-once) converges: survivor matches
    # only its own indexed signature (self-pair excluded) and survives
    # again; the dup still drops; index/store unchanged
    sink(b0, 0)
    assert {r["doc_id"] for r in store.query().collect()} == {101}
    assert idx.count() == 2

    # batch 1: a dup of batch-0's survivor + a new novel doc
    b1 = _docs(spark, [(200, TEXTS["beta"]), (201, TEXTS["gamma"])])
    sink(b1, 1)
    assert {r["doc_id"] for r in store.query().collect()} == {101, 201}
    assert idx.count() == 3


def test_index_rebuild_crash_recovery(spark, tmp_path):
    """A crash mid-swap must leave a complete signature dataset
    recoverable: a fully-written staged dataset (stamped _complete)
    wins; a partial one is garbage and the displaced old index
    restores."""
    import os
    import shutil

    idx = MinHashIndex(spark, str(tmp_path / "idx"),
                       num_hashes=16, bands=4)
    idx.build(_docs(spark, [(1, TEXTS["alpha"])]))
    live = idx._sig_path

    # crash AFTER live -> .__old, BEFORE staging -> live, with a
    # COMPLETE staging: the staged (2-doc) dataset must promote
    idx2_src = _docs(spark, [(1, TEXTS["alpha"]), (2, TEXTS["beta"])])
    staged = idx._sign(idx2_src)
    staged.write.mode("overwrite").parquet(live + ".__staging")
    open(os.path.join(live + ".__staging", "_complete"), "w").write("1")
    os.rename(live, live + ".__old")
    assert idx.count() == 2            # recovery promoted the staging
    assert not os.path.exists(live + ".__staging")

    # crash with a PARTIAL staging (no _complete): old restores
    os.makedirs(live + ".__staging")   # torn write, no marker
    os.rename(live, live + ".__old")
    assert idx.count() == 2            # .__old restored, garbage ignored


def test_dedup_increment_concurrent_upsert_matches_sequential(
        spark, tmp_path):
    """`upsert_into` appends the signatures and upserts the store in
    one call: the end state (store contents, index count, survivors)
    must be IDENTICAL to the separate add_survivors + update form."""
    from maggma_spark.sources.parquet import ParquetStore

    batch = _docs(spark, [
        (10, TEXTS["alpha"]),   # corpus dup -> dropped
        (11, TEXTS["gamma"]),   # novel -> kept
        (12, TEXTS["gamma"]),   # within-batch dup -> dropped
        (13, TEXTS["delta"]),   # novel -> kept
    ])

    # sequential reference
    idx_a = MinHashIndex(spark, str(tmp_path / "ia"),
                         num_hashes=16, bands=4)
    idx_a.build(_docs(spark, [(1, TEXTS["alpha"])]))
    store_a = ParquetStore(spark, str(tmp_path / "ca"), key="doc_id")
    surv_a = idx_a.dedup_increment(batch, jaccard_threshold=0.9,
                                   add_survivors=True)
    store_a.update(surv_a)

    # upsert_into form — same end state
    idx_d = MinHashIndex(spark, str(tmp_path / "id"),
                         num_hashes=16, bands=4)
    idx_d.build(_docs(spark, [(1, TEXTS["alpha"])]))
    store_d = ParquetStore(spark, str(tmp_path / "cd"), key="doc_id")
    surv_d = idx_d.dedup_increment(batch, jaccard_threshold=0.9,
                                   add_survivors=True,
                                   upsert_into=store_d)

    keys = lambda st: sorted(
        r["doc_id"] for r in st.query().collect())
    assert keys(store_a) == keys(store_d) == [11, 13]
    assert idx_a.count() == idx_d.count() == 3
    assert sorted(r["doc_id"] for r in surv_d.collect()) == [11, 13]

    # upsert_into WITHOUT add_survivors: store updated, index not
    idx_c = MinHashIndex(spark, str(tmp_path / "ic"),
                         num_hashes=16, bands=4)
    idx_c.build(_docs(spark, [(1, TEXTS["alpha"])]))
    store_c = ParquetStore(spark, str(tmp_path / "cc"), key="doc_id")
    idx_c.dedup_increment(batch, jaccard_threshold=0.9,
                          upsert_into=store_c)
    assert keys(store_c) == [11, 13]
    assert idx_c.count() == 1
