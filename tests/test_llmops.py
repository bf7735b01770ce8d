"""LLM-data operator tests: dedup families, similarity search, text
analysis, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from maggma_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_candidates,
)
from maggma_spark.operators.similarity import (
    cosine_neardup_pairs,
    cosine_topk,
    lsh_topk,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = base.replace("lazy", "sleepy")
    rows = [
        Row(doc_id=1, text=base),
        Row(doc_id=2, text="  The  quick brown fox jumps over the lazy dog and runs far away today "),
        Row(doc_id=3, text=near),
        Row(doc_id=4, text="completely different content about spark dataframes and shuffles here now"),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup(docs):
    kept = exact_dedup(docs, "text", "doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 3, 4]  # 2 is a whitespace/case variant of 1


def test_minhash_lsh(docs):
    pairs = minhash_lsh_candidates(docs, num_hashes=32, bands=16,
                                   jaccard_threshold=0.3)
    got = {(r["key_a"], r["key_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) in got or (2, 3) in got  # near-dup caught
    assert all(4 not in p for p in got)


def test_ngram_jaccard(docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    got = {(r["key_a"], r["key_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0  # identical after normalization
    assert (1, 4) not in got


def test_simhash(docs):
    pairs = simhash_candidates(docs, max_hamming=10)
    got = {(r["key_a"], r["key_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 2)] == 0
    assert all(4 not in p for p in got)


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1, 0.0, 0.0]),   # close to 0
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0, 0.0]),   # orthogonal
        Row(vec_id=3, embedding=[1.0, 0.05, 0.0, 0.0]),  # closest to 0
        Row(vec_id=4, embedding=[-1.0, 0.0, 0.0, 0.0]),  # opposite
    ]
    return spark.createDataFrame(rows)


def test_cosine_topk(vecs):
    out = cosine_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=2)
    got = [r["vec_id"] for r in out.orderBy(F.desc("cosine_sim")).collect()]
    assert got == [3, 1]


def test_cosine_topk_multi_query(vecs):
    out = cosine_topk(vecs, vecs.filter(F.col("vec_id").isin([0, 2])), k=1)
    got = {r["q_id"]: r["vec_id"] for r in out.collect()}
    assert got[0] == 3
    assert len(got) == 2


def test_lsh_topk_recall(vecs):
    out = lsh_topk(vecs, vecs.filter(F.col("vec_id") == 0), dim=4, k=2,
                   bits=4, tables=4)
    got = [r["vec_id"] for r in out.collect()]
    assert 3 in got  # the nearest neighbor shares a bucket


def test_cosine_neardup(vecs):
    out = cosine_neardup_pairs(vecs, threshold=0.99, exact=True)
    got = {(r["key_a"], r["key_b"]) for r in out.collect()}
    assert (0, 3) in got
    assert (0, 4) not in got


def test_text_functions(spark):
    from maggma_spark.functions.text import (
        bpe_ish_token_count,
        fingerprint,
        predict_lang,
        token_count,
    )

    df = spark.createDataFrame([
        Row(doc_id=1, text="the cat and the dog"),
        Row(doc_id=2, text="el gato y la casa de los perros"),
        Row(doc_id=3, text="dog the the and cat"),  # permutation of 1
    ])
    out = {r["doc_id"]: r.asDict() for r in df.select(
        "doc_id",
        token_count("text").alias("n"),
        bpe_ish_token_count("text").alias("nb"),
        predict_lang("text").alias("lang"),
        fingerprint("text").alias("fp"),
    ).collect()}
    assert out[1]["n"] == 5
    assert out[1]["lang"] == "en"
    assert out[2]["lang"] == "es"
    assert out[1]["fp"] == out[3]["fp"]  # order-insensitive fingerprint
    df2 = spark.createDataFrame([Row(text="a1b,c 22")])
    assert df2.select(bpe_ish_token_count("text").alias("n")).first()["n"] == 7


def test_multimodal_plumbing(spark, tmp_path):
    """Full Spark-side media pipeline with the deterministic fake
    decoder (injection contract); the REAL default codecs are covered
    in tests/test_codecs.py."""
    from maggma_spark.operators.multimodal import (
        balance_by_size,
        decode_image,
        deterministic_fake_decoder,
        feature_extract,
        read_media_dir,
    )

    d = tmp_path / "media"
    d.mkdir()
    (d / "a.bin").write_bytes(b"\x00\x01\x02" * 100)
    (d / "b.bin").write_bytes(b"\xff\xfe" * 200)
    df = read_media_dir(spark, str(d))
    assert {"path", "content", "length", "modificationTime"} <= set(df.columns)
    balanced = balance_by_size(df, "path", num_buckets=4)
    feats = feature_extract(balanced, decoder=deterministic_fake_decoder)
    rows = {r["key"].rsplit("/", 1)[-1]: r for r in feats.collect()}
    assert rows["a.bin"]["feat_dim"] == 8
    assert rows["a.bin"]["error"] is None
    # determinism
    again = {r["key"].rsplit("/", 1)[-1]: r["feature"]
             for r in feature_extract(df, decoder=deterministic_fake_decoder).collect()}
    assert again["a.bin"] == rows["a.bin"]["feature"]
    # the real default decoder rejects non-media bytes clearly
    with pytest.raises(ValueError, match="PNG"):
        decode_image(b"123")
    # error capture: decoder failure lands in the error column
    def bad(payload):
        raise RuntimeError("corrupt blob")
    errs = feature_extract(df, decoder=bad).collect()
    assert all(r["error"] == "corrupt blob" for r in errs)


def test_ivf_index(spark):
    """IVF recall vs brute force on clustered synthetic vectors."""
    import numpy as np

    from maggma_spark.operators.similarity import IVFIndex, cosine_topk

    rng = np.random.RandomState(7)
    rows = []
    for c in range(4):
        center = rng.randn(8) * 5
        for i in range(50):
            rows.append(Row(vec_id=c * 50 + i,
                            embedding=(center + rng.randn(8) * 0.3).tolist()))
    vecs = spark.createDataFrame(rows)
    q = vecs.filter(F.col("vec_id") == 0)

    idx = IVFIndex(n_clusters=4, seed=1).fit(vecs)
    approx = {r["vec_id"] for r in idx.search(q, k=10, nprobe=1).collect()}
    exact = {r["vec_id"] for r in cosine_topk(vecs, q, k=10).collect()}
    # tight clusters: probing the single nearest cluster achieves full recall
    assert approx == exact


def test_lsh_recall_on_real_embeddings(spark):
    """ANN quality gate: LSH top-10 recall vs brute force on the driver's
    real embeddings table must clear a sanity floor."""
    from maggma_spark.operators.similarity import cosine_topk, lsh_topk

    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = vecs.filter(F.col("vec_id") < 5)
    exact = cosine_topk(vecs, q, k=10).collect()
    # uniform-ish synthetic vectors are the hard case for LSH — use wide
    # buckets (few bits, many tables); real clustered embeddings need
    # fewer candidates for the same recall
    approx = lsh_topk(vecs, q, dim=64, k=10, bits=3, tables=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["q_id"], set()).add(r["vec_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["q_id"], set()).add(r["vec_id"])
    recalls = [len(approx_sets.get(qid, set()) & s) / len(s)
               for qid, s in exact_sets.items()]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_ivf_save_load(spark, tmp_path):
    """Persisted IVF index: reload gives identical search results, and
    the on-disk layout is cluster-partitioned (probe = partition prune)."""
    import os

    from maggma_spark.operators.similarity import IVFIndex

    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = vecs.filter(F.col("vec_id") == 0)
    idx = IVFIndex(n_clusters=4, seed=3).fit(vecs)
    before = {(r["vec_id"], round(r["cosine_sim"], 9))
              for r in idx.search(q, k=5, nprobe=2).collect()}

    path = str(tmp_path / "ivf")
    idx.save(path)
    assert any(d.startswith("cluster=") for d in os.listdir(f"{path}/vectors"))

    idx2 = IVFIndex.load(spark, path)
    search_df = idx2.search(q, k=5, nprobe=2)
    after = {(r["vec_id"], round(r["cosine_sim"], 9))
             for r in search_df.collect()}
    assert before == after

    # the probe must STATICALLY prune the cluster-partitioned layout:
    # the scan reads nprobe partitions, not the whole index
    plan = search_df._jdf.queryExecution().executedPlan().toString()
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cluster" in m.group(1), plan[:2000]


def test_lsh_bucket_cap_no_quadratic_blowup(spark):
    """10k identical tiny docs: without the bucket cap every band
    bucket holds all 10k keys -> ~50M pair rows per band. The cap drops
    oversized buckets (they carry no near-dup signal — mass-identical
    text belongs to exact_dedup), so the op completes with zero pairs."""
    rows = [Row(doc_id=i, text="tiny identical document body here") for i in range(10_000)]
    df = spark.createDataFrame(rows)
    out = minhash_lsh_candidates(df, num_hashes=16, bands=4)
    assert out.count() == 0
    out_sim = simhash_candidates(df, max_hamming=0)
    assert out_sim.count() == 0


def test_lsh_bucket_cap_disabled_keeps_pairs(docs):
    """max_bucket_size=None restores uncapped behavior; small buckets
    are never dropped either way."""
    pairs = minhash_lsh_candidates(docs, max_bucket_size=None,
                                   jaccard_threshold=0.9)
    got = {(r["key_a"], r["key_b"]) for r in pairs.collect()}
    assert (1, 2) in got


def test_exact_dedup_string_keys(spark):
    """min-key representative must hold for STRING keys (a -key ordering
    trick yields NULL under ANSI-off and broke determinism)."""
    rows = [
        Row(doc_id="b", text="same text"),
        Row(doc_id="a", text="same text"),
        Row(doc_id="c", text="other text"),
    ]
    out = exact_dedup(spark.createDataFrame(rows))
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == ["a", "c"]


def test_lsh_topk_is_hash_join(vecs):
    """The bucket match must be a hash equi-join on (table, signature) —
    a BroadcastNestedLoopJoin would re-scan all n vectors per query."""
    out = lsh_topk(vecs, vecs.filter(F.col("vec_id") == 0), dim=4, k=2,
                   bits=4, tables=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_oversized_block_falls_back(spark):
    """A block over max_block_rows must NOT hit the quadratic in-task
    kernel; the LSH fallback still finds the planted identical pair with
    the same integer (n_common, n_union) output columns."""
    from maggma_spark.operators.dedup import ngram_jaccard_blocked

    filler = [Row(doc_id=i, blk="big",
                  text=f"unique filler document number {i} with words {i*7} {i*13} {i*31} present")
              for i in range(200)]
    planted = [
        Row(doc_id=9001, blk="big",
            text="planted duplicate content appears twice in this oversized block today"),
        Row(doc_id=9002, blk="big",
            text="planted duplicate content appears twice in this oversized block today"),
        Row(doc_id=9003, blk="small",
            text="planted duplicate content appears twice in this oversized block today"),
        Row(doc_id=9004, blk="small",
            text="planted duplicate content appears twice in this oversized block today"),
    ]
    df = spark.createDataFrame(filler + planted)
    out = ngram_jaccard_blocked(df, "blk", min_ratio=(9, 10),
                                max_block_rows=100)
    got = {(r["key_a"], r["key_b"]): (r["n_common"], r["n_union"])
           for r in out.collect()}
    assert (9001, 9002) in got          # found via LSH fallback (big block)
    assert (9003, 9004) in got          # found via exact kernel (small block)
    c, u = got[(9001, 9002)]
    assert c == u                        # identical docs: intersection == union
    # cross-block pairs must never appear
    assert (9002, 9003) not in got and (9001, 9003) not in got


def test_cosine_neardup_exact_is_distributed_blocked(vecs):
    """exact=True must not collect the table to the driver; with a tiny
    block size the 2-D grid still finds each pair exactly once."""
    out = cosine_neardup_pairs(vecs, threshold=0.99, exact=True,
                               exact_block_rows=2)
    rows = out.collect()
    got = {(r["key_a"], r["key_b"]) for r in rows}
    assert (0, 3) in got
    assert len(rows) == len(got)  # no duplicate pairs across grid cells


def test_ivf_search_rejects_unbounded_query_frame(spark):
    import pytest

    from maggma_spark.operators.similarity import IVFIndex

    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = IVFIndex(n_clusters=2).fit(df)
    with pytest.raises(ValueError, match="query rows"):
        idx.search(df, k=2, max_query_rows=10)
    # under the cap it works
    out = idx.search(df.limit(3), k=2, max_query_rows=10)
    assert out.count() > 0


def test_semantic_dedup_planted_copies(spark):
    import pytest

    from maggma_spark.operators.graph import resolve_dup_clusters
    from maggma_spark.operators.similarity import semantic_dedup_candidates

    # well-separated base vectors + identical planted copies
    rows = []
    for i in range(30):
        v = [0.0] * 8
        v[i % 8] = 1.0
        v[(i * 3) % 8] += 0.25 * (1 + i % 4)
        rows.append((i, v))
    base = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    doubled = base.unionByName(
        base.selectExpr("vec_id + 100 AS vec_id", "embedding"))
    pairs = semantic_dedup_candidates(
        doubled, threshold=0.999, n_clusters=4, seed=7)
    got = {(r["key_a"], r["key_b"]) for r in pairs.collect()}
    # every planted identical pair is found (same vector -> same cluster)
    assert {(i, i + 100) for i in range(30)} <= got
    # compose with cluster resolution: only originals survive
    resolved = resolve_dup_clusters(
        doubled, "vec_id", pairs.select("key_a", "key_b"))
    kept = sorted(r["vec_id"] for r in resolved.filter("keep").collect())
    assert all(k < 100 for k in kept)
    # oversized-cluster guard names the fix
    with pytest.raises(Exception, match="n_clusters"):
        semantic_dedup_candidates(
            doubled, n_clusters=2, max_cluster_rows=10).collect()


def test_redact_pii_and_contains(spark):
    from maggma_spark.functions.text import contains_pii, redact_pii

    df = spark.createDataFrame(
        [(1, "mail sam.doe+x@ex.org now"),
         (2, "server at 10.0.255.7 down"),
         (3, "call +1 555-123-4567 today"),
         (4, "clean text, no pii here")],
        "id long, text string")
    out = {r["id"]: r["red"] for r in df.select(
        "id", redact_pii("text").alias("red")).collect()}
    assert out[1] == "mail [EMAIL] now"
    assert out[2] == "server at [IPV4] down"
    assert out[3] == "call +1 [PHONE] today" or out[3] == "call [PHONE] today"
    assert out[4] == "clean text, no pii here"
    flags = {r["id"]: r["f"] for r in df.select(
        "id", contains_pii("text").alias("f")).collect()}
    assert flags == {1: True, 2: True, 3: True, 4: False}


def test_pq_index_recall_and_exact_code_match(spark):
    import numpy as np

    from maggma_spark.operators.similarity import PQIndex, cosine_topk

    rng = np.random.RandomState(11)
    rows = []
    for c in range(4):
        center = rng.randn(16) * 4
        for i in range(40):
            rows.append((c * 40 + i, (center + rng.randn(16) * 0.3).tolist()))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = PQIndex(m=4, k=8, seed=3).fit(vecs)

    # identical-vector query (id offset, not in index): ADC distance to
    # its original is the global minimum -> original must rank top-1
    q = vecs.filter(F.col("vec_id").isin([0, 45, 90])).selectExpr(
        "vec_id + 1000 AS vec_id", "embedding")
    # tight clusters quantize to shared codes, so the original may TIE
    # with cluster-mates — the invariants are: top-1 comes from the
    # original's cluster, and the original is within the tied-min set
    top1 = {r["q_id"]: r for r in idx.search(q, topk=1).collect()}
    full = idx.search(q, topk=40).collect()
    best_dist = {r["q_id"]: r["adc_dist"] for r in top1.values()}
    orig_dist = {r["q_id"]: r["adc_dist"] for r in full
                 if r["vec_id"] == r["q_id"] - 1000}
    for qid, orig in ((1000, 0), (1045, 45), (1090, 90)):
        assert top1[qid]["vec_id"] // 40 == orig // 40
        assert orig_dist[qid] == best_dist[qid], "original must tie the min"

    # recall gate vs brute force on the real embeddings table (unit-norm
    # vectors: squared-L2 rank == cosine rank reversed); fine codebooks
    # (m=8, k=32) so ADC resolves between genuine neighbors — the tight-
    # cluster frame above is the degenerate case PQ cannot rank within
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx2 = PQIndex(m=32, k=64, seed=5).fit(emb)
    q2 = emb.filter(F.col("vec_id") == 7)
    exact = [r["vec_id"] for r in cosine_topk(emb, q2, k=10).collect()]
    approx = [r["vec_id"] for r in idx2.search(q2, topk=11).collect()
              if r["vec_id"] != 7]
    overlap = len(set(exact) & set(approx)) / 10
    assert overlap >= 0.5, f"PQ recall too low: {overlap}"

    # unbounded query guard
    import pytest as _pytest
    with _pytest.raises(ValueError, match="query rows"):
        idx.search(vecs, topk=1, max_query_rows=10)


def test_bm25_rank_orders_by_relevance(spark):
    from maggma_spark.functions.text import bm25_rank

    df = spark.createDataFrame(
        [(1, "spark spark spark shuffle"),
         (2, "spark appears once in this much longer document about "
             "many other completely unrelated topics and padding words"),
         (3, "nothing relevant here at all"),
         (4, "shuffle only")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["score"]
           for r in bm25_rank(df, "spark shuffle").collect()}
    assert 3 not in out                      # zero-score docs dropped
    assert out[1] > out[2]                   # higher tf, shorter doc wins
    assert out[1] > out[4]                   # two terms beat one
    import pytest as _pytest
    with _pytest.raises(ValueError):
        bm25_rank(df, "   ")


def test_canonicalize_url(spark):
    from maggma_spark.functions.web import canonicalize_url

    df = spark.createDataFrame(
        [(1, "HTTPS://WWW.Example.COM/Articles/7/?utm_source=f&ref=2&utm_campaign=x#sec"),
         (2, "http://Example.com/a/b///"),
         (3, "https://example.com/a?utm_medium=mail"),
         (4, "https://site.org/Keep/CaseInPath?q=Mixed")],
        "id long, url string")
    out = {r["id"]: r["c"] for r in
           df.select("id", canonicalize_url("url").alias("c")).collect()}
    assert out[1] == "https://example.com/Articles/7/?ref=2"
    assert out[2] == "http://example.com/a/b"
    assert out[3] == "https://example.com/a"
    assert out[4] == "https://site.org/Keep/CaseInPath?q=Mixed"


def test_repeated_spans_finds_planted_passage(spark):
    from maggma_spark.operators.dedup import repeated_spans

    passage = "all your base are belong to us now and forever more"  # 11 toks
    rows = [(1, "unique alpha text one two three four five six " + passage),
            (2, passage + " unique beta text seven eight nine ten eleven"),
            (3, "completely unrelated document with its own words here "
                "nothing shared at all between these")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = repeated_spans(df, span_tokens=8, min_doc_freq=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], set()).add(r["span_hash"])
    # the 4 pure-passage 8-grams repeat across docs 1 and 2; doc 3 clean
    assert 3 not in by_doc
    assert by_doc[1] == by_doc[2]
    assert len(by_doc[1]) == 4  # 11 - 8 + 1


def test_mask_repeated_spans_removes_passage(spark):
    from maggma_spark.operators.dedup import mask_repeated_spans, repeated_spans

    passage = "shared spam passage repeated across documents again and again"
    rows = [(1, "alpha one two three four five six seven " + passage),
            (2, passage + " beta eight nine ten eleven twelve thirteen asdf"),
            (3, "totally unique words that nobody else uses anywhere today")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = repeated_spans(df, span_tokens=8, min_doc_freq=2)
    out = {r["doc_id"]: r for r in
           mask_repeated_spans(df, spans, span_tokens=8).collect()}
    # the repeated passage vanished from both docs, unique text survives
    assert "spam" not in out[1]["text"] and "spam" not in out[2]["text"]
    assert out[1]["text"].startswith("alpha one two")
    assert out[2]["text"].endswith("thirteen asdf")
    assert out[1]["n_tokens_removed"] == 9  # the 9-token passage
    assert out[3]["n_tokens_removed"] == 0


def test_self_perplexity_ranks_rare_text_higher(spark):
    from maggma_spark.functions.text import self_perplexity_scores

    common = "the cat sat on the mat " * 5
    rows = [(1, common), (2, common), (3, common),
            (4, "zxqv wkjh qpzm vbnx ghjk")]  # gibberish, all-rare tokens
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           self_perplexity_scores(df).collect()}
    assert out[4]["avg_nll"] > out[1]["avg_nll"]
    assert out[1]["n_tokens"] == 30
    assert abs(out[1]["avg_nll"] - out[2]["avg_nll"]) < 1e-12


def test_embedding_quantize_roundtrip_and_dot(spark):
    from maggma_spark.functions.embeddings import (
        dequantize_int8,
        l2_norm,
        l2_normalize,
        quantize_int8,
        quantized_dot,
    )
    from pyspark.sql import Row, functions as F

    df = spark.createDataFrame([
        Row(id=1, a=[3.0, 4.0, 0.0], b=[1.0, 0.0, 0.0]),
        Row(id=2, a=[-1.5, 2.5, 127.0], b=[0.5, -0.5, 1.0]),
        Row(id=3, a=[0.0, 0.0, 0.0], b=[2.0, 2.0, 2.0]),  # zero vector
    ])
    out = df.select(
        "id",
        l2_norm(l2_normalize("a")).alias("un"),
        quantize_int8("a").alias("qa"),
        quantize_int8("b").alias("qb"),
    ).withColumn("deq", dequantize_int8("qa")) \
     .withColumn("qdot", quantized_dot("qa", "qb"))
    rows = {r["id"]: r for r in out.collect()}
    # unit norm (zero vector stays zero)
    assert abs(rows[1]["un"] - 1.0) < 1e-12
    assert rows[3]["un"] == 0.0
    # zero vector: scale 0, all-zero codes
    assert rows[3]["qa"]["scale"] == 0.0
    assert rows[3]["qa"]["codes"] == [0, 0, 0]
    # reconstruction bound: |x - deq| <= scale/2
    for rid in (1, 2):
        scale = rows[rid]["qa"]["scale"]
        orig = {1: [3.0, 4.0, 0.0], 2: [-1.5, 2.5, 127.0]}[rid]
        for x, y in zip(orig, rows[rid]["deq"]):
            assert abs(x - y) <= scale / 2 + 1e-9
    # quantized dot tracks the true dot within the quantization error
    import numpy as np
    for rid in (1, 2):
        a = np.array({1: [3.0, 4.0, 0.0], 2: [-1.5, 2.5, 127.0]}[rid])
        b = np.array({1: [1.0, 0.0, 0.0], 2: [0.5, -0.5, 1.0]}[rid])
        true = float(a @ b)
        assert abs(rows[rid]["qdot"] - true) <= (
            np.abs(a).max() / 127 * np.abs(b).sum()
            + np.abs(b).max() / 127 * np.abs(a).sum() + 1e-6)


def test_bigram_perplexity_detects_unpredictable_order(spark):
    """Two docs with IDENTICAL unigram distributions: the perfectly
    alternating one is bigram-predictable (low nll); the irregular one
    uses rare bigrams (high nll). A unigram model scores them equal —
    this is exactly the signal the bigram order adds."""
    from pyspark.sql import Row

    from maggma_spark.functions.text import (
        bigram_perplexity_scores,
        self_perplexity_scores,
    )

    df = spark.createDataFrame([
        Row(doc_id=1, text="x y x y x y x y"),
        Row(doc_id=2, text="x x y y x y y x"),
    ])
    bi = {r["doc_id"]: r["avg_nll"]
          for r in bigram_perplexity_scores(df).collect()}
    uni = {r["doc_id"]: r["avg_nll"]
           for r in self_perplexity_scores(df).collect()}
    assert abs(uni[1] - uni[2]) < 1e-9          # unigram-blind
    assert bi[2] > bi[1] + 0.1                  # bigram sees the disorder


def test_decontaminate_semantic_flag_and_drop(spark):
    from pyspark.sql import Row

    from maggma_spark.operators.similarity import decontaminate_semantic

    rows = [Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[0.0, 1.0]),
            Row(vec_id=3, embedding=[0.9999, 0.01])]
    corpus = spark.createDataFrame(rows)
    bench = spark.createDataFrame([Row(vec_id=99, embedding=[1.0, 0.0])])
    kept = {r["vec_id"] for r in decontaminate_semantic(
        corpus, bench, threshold=0.95).collect()}
    assert kept == {2}  # 1 is an exact copy, 3 a near-copy
    flagged = {r["vec_id"]: r["contaminated"] for r in decontaminate_semantic(
        corpus, bench, threshold=0.95, mode="flag").collect()}
    assert flagged == {1: True, 2: False, 3: True}


def test_gopher_quality_flags_rules(spark):
    from pyspark.sql import Row

    from maggma_spark.functions.text import gopher_quality_flags

    good = "the cat and the dog have fun with toys " * 8   # 80 words, stopwords
    rows = [
        Row(doc_id=1, text=good.strip()),
        Row(doc_id=2, text="short doc only"),                    # word count
        Row(doc_id=3, text=("#### " * 60).strip()),              # symbols+alpha
        Row(doc_id=4, text=("zq " * 60).strip()),                # mean len + stopwords
    ]
    out = {r["doc_id"]: r for r in gopher_quality_flags(
        spark.createDataFrame(rows)).collect()}
    assert out[1]["gopher_pass"] is True
    assert out[2]["rule_word_count"] is False and out[2]["gopher_pass"] is False
    assert out[3]["rule_symbol_ratio"] is False
    assert out[3]["rule_alpha_words"] is False
    assert out[4]["rule_mean_word_len"] is False
    assert out[4]["rule_stopwords"] is False


def test_resize_images_contract(spark):
    from pyspark.sql import Row

    from maggma_spark.operators.multimodal import (
        deterministic_fake_resizer, resize_images)

    media = spark.createDataFrame([
        Row(path="a", content=b"abc"),
        Row(path="b", content=None),
    ])
    out = {r["key"]: r for r in resize_images(
        media, 4, 2, resizer=deterministic_fake_resizer).collect()}
    assert bytes(out["a"]["content"]) == b"abcabcab"  # tiled to 4*2 bytes
    assert (out["a"]["width"], out["a"]["height"]) == (4, 2)
    assert out["a"]["error"] is None
    assert out["b"]["content"] is None and out["b"]["error"] is not None
    # the default resizer is the REAL codec: non-PNG bytes fail
    # per-row with a clear message, never failing the job
    failed = resize_images(media, 4, 2).collect()
    assert all(r["error"] is not None for r in failed)
    assert any("PNG" in r["error"] for r in failed)


def test_rrf_fuse_ranks_and_missing_sources(spark):
    from pyspark.sql import Row

    from maggma_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame([Row(doc=1, score=9.0), Row(doc=2, score=5.0)])
    b = spark.createDataFrame([Row(doc=2, score=1.0), Row(doc=3, score=2.0)])
    out = {r["doc"]: r for r in rrf_fuse(
        {"a": a, "b": b}, "doc", score_col="score", rrf_k=10).collect()}
    assert out[1]["rank_a"] == 1 and out[1]["rank_b"] is None
    assert out[2]["rank_a"] == 2 and out[2]["rank_b"] == 2
    assert out[3]["rank_b"] == 1 and out[3]["rank_a"] is None
    assert abs(out[2]["rrf_score"] - (1 / 12 + 1 / 12)) < 1e-12
    assert abs(out[1]["rrf_score"] - 1 / 11) < 1e-12
    # doc in both sources beats docs in one
    assert out[2]["rrf_score"] > out[1]["rrf_score"]


def test_rrf_fuse_per_query_partitioned(spark):
    from pyspark.sql import Row

    from maggma_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame([
        Row(q=1, doc=10, score=3.0), Row(q=1, doc=11, score=2.0),
        Row(q=2, doc=10, score=1.0),
    ])
    out = {(r["q"], r["doc"]): r["rank_a"] for r in rrf_fuse(
        {"a": a}, "doc", score_col="score", query_col="q").collect()}
    # ranks restart per query
    assert out[(1, 10)] == 1 and out[(1, 11)] == 2 and out[(2, 10)] == 1


def test_fuzzy_pairs_blocking_and_guard(spark):
    from pyspark.sql import Row, functions as F

    from maggma_spark.operators.dedup import fuzzy_pairs

    df = spark.createDataFrame([
        Row(k=1, name="jon smith"), Row(k=2, name="john smith"),
        Row(k=3, name="jane doe"),  Row(k=4, name="zzzz"),
        Row(k=5, name="jon smyth"),
    ])
    out = {(r["key_a"], r["key_b"]): r["dist"] for r in fuzzy_pairs(
        df, "k", "name", max_dist=2,
        block=F.substring("name", 1, 2)).collect()}
    assert out[(1, 2)] == 1 and out[(1, 5)] == 1 and out[(2, 5)] == 2
    # different block ("ja"/"zz") never pairs, regardless of distance
    assert not any(3 in p or 4 in p for p in out)
    # oversized block rejected — at execution since round 13 (the
    # guard rides the join's own exchange+sort instead of a dedicated
    # full-scan driver action)
    with pytest.raises(Exception, match="max_block_rows"):
        fuzzy_pairs(df, "k", "name", block=F.lit("x"),
                    max_block_rows=3).collect()
    # the message names the block and its size
    with pytest.raises(Exception, match=r"block x has 5 rows \(> "
                       r"max_block_rows=3\); refine the blocking"):
        fuzzy_pairs(df, "k", "name", block=F.lit("x"),
                    max_block_rows=3).collect()
    # NULL block keys never pair, and the join's inferred not-null
    # filter drops them before the guard counts them
    nulls = spark.createDataFrame(
        [(i, None) for i in range(4)], "k long, name string")
    assert fuzzy_pairs(nulls, "k", "name", max_block_rows=3).count() == 0
