"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Beyond-reference capability (BASELINE.json north star). Every operator is
a declarative DataFrame plan designed for the 100 TB shape of the
problem:

- **exact**: hash-groupBy on a digest of normalized text — one shuffle on
  the digest, no text comparison.
- **MinHash+LSH**: shingles -> k minhashes -> b bands; candidate pairs
  come from an equi-join on (band_id, band_hash) — the only join is on
  short hash keys, never on full signatures; verification (true Jaccard)
  runs only on candidates. This is the textbook shuffle-minimal layout:
  cost ~ O(docs x k) map-side + a join whose fan-in is the collision
  rate, not O(n^2).
- **SimHash**: 64-bit signature via per-bit majority vote of token
  hashes; near-dups found by banding the signature into chunks (any
  equal chunk => candidate, Hamming-verify after).
- **n-gram Jaccard**: exact verified similarity on candidate pairs via
  array_intersect/array_union sizes.
- **embedding cosine**: see operators.similarity.

All hashing uses Spark's deterministic built-ins (xxhash64 / murmur3
hash); no Python in the hot path.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F

from maggma_spark.functions.text import normalized_text, word_shingles


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Keep one representative (min key) per identical text. The digest
    groupBy shuffles 16-byte hashes, not documents."""
    from pyspark.sql import Window

    norm = normalized_text(text_col) if normalize else F.col(text_col)
    with_digest = df.withColumn("__digest", F.md5(norm))
    # order ascending on the key directly — a `-key` trick would yield
    # NULL (ANSI off) or error (ANSI on) for string keys, making the
    # representative nondeterministic
    w = Window.partitionBy("__digest").orderBy(F.col(key_col).asc())
    return (
        with_digest.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__digest", "__rn")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _minhash_batch_mapper(key_col: str, text_col: str, num_hashes: int,
                          bands: int, shingle_words: int):
    """Arrow-batched shingle->minhash->band kernel, fully vectorized.

    Why not pure Column expressions: Spark's higher-order functions
    (transform/filter/aggregate) are interpreted per element — 64 hash
    passes per shingle never enter codegen. Here ALL shingles of a doc
    chunk hash in ONE pd.util.hash_array call (C siphash, process-
    deterministic), the k affine permutations are one (k, total)
    broadcast, per-doc minima come from np.minimum.reduceat over segment
    offsets, and band hashes are a vectorized integer mix of each band's
    signature rows — no per-shingle or per-band Python hashing."""
    rows = num_hashes // bands

    def mapper(batches):
        import numpy as np
        import pandas as pd

        # deterministic affine permutation constants (odd multipliers)
        rng = np.random.RandomState(42)
        A = (rng.randint(1, 2**31, size=num_hashes).astype(np.uint64) * 2 + 1)
        B = rng.randint(0, 2**31, size=num_hashes).astype(np.uint64)
        MUL = np.uint64(0x9E3779B97F4A7C15)
        buf = None  # reused permutation buffer — the naive broadcast
        # expression allocates two ~50 MB temporaries per chunk and was
        # 25x slower than multiply/add with out=

        for pdf in batches:
            keys_in = pdf[key_col].tolist()
            texts = pdf[text_col].tolist()
            keys, sh_out, band_out = [], [], []
            # sub-chunk so the (k, total_shingles) matrix stays ~tens of MB
            for s0 in range(0, len(texts), 2048):
                sh_lists, chunk_keys = [], []
                for key, text in zip(keys_in[s0:s0 + 2048],
                                     texts[s0:s0 + 2048]):
                    toks = str(text).lower().split()
                    if len(toks) >= shingle_words:
                        sh = {" ".join(toks[i:i + shingle_words])
                              for i in range(len(toks) - shingle_words + 1)}
                    else:
                        sh = {" ".join(toks)} if toks else set()
                    if not sh:
                        continue
                    sh_lists.append(list(sh))
                    chunk_keys.append(key)
                if not sh_lists:
                    continue
                counts = np.array([len(s) for s in sh_lists])
                offsets = np.zeros(len(counts), dtype=np.int64)
                np.cumsum(counts[:-1], out=offsets[1:])
                flat = np.array(
                    [x for s in sh_lists for x in s], dtype=object)
                hs = pd.util.hash_array(flat)  # uint64, one C pass
                total = len(flat)
                if buf is None or buf.shape[1] < total:
                    buf = np.empty((num_hashes, total), dtype=np.uint64)
                perms = buf[:, :total]
                np.multiply(A[:, None], hs[None, :], out=perms)
                np.add(perms, B[:, None], out=perms)
                sigs = np.minimum.reduceat(perms, offsets, axis=1)
                # (n_docs, bands, rows) -> mixed band hash, vectorized
                bv = sigs.T.reshape(len(chunk_keys), bands, rows)
                bh = np.zeros((len(chunk_keys), bands), dtype=np.uint64)
                for j in range(rows):
                    bh = bh * MUL ^ bv[:, :, j]
                bh_i = (bh.astype(np.int64)).tolist()
                hs_i = hs.astype(np.int64)
                bounds = np.append(offsets[1:], len(flat))
                start = 0
                for i, key in enumerate(chunk_keys):
                    keys.append(key)
                    sh_out.append(hs_i[start:bounds[i]].tolist())
                    band_out.append(bh_i[i])
                    start = bounds[i]
            yield pd.DataFrame({
                "key": keys, "sh_hashes": sh_out, "band_hashes": band_out})

    return mapper


def _cap_buckets(banded: DataFrame, bucket_cols: list[str],
                 max_bucket_size: Optional[int]) -> DataFrame:
    """Drop LSH buckets larger than `max_bucket_size` members.

    A degenerate band hash (e.g. thousands of near-empty docs sharing one
    shingle) makes one join key quadratic — a straggler-or-OOM at 100 TB.
    Oversized buckets carry no near-dup signal (standard LSH practice:
    mass-identical docs belong to exact_dedup, not LSH), so dropping them
    is both safe and the scale-correct behavior.

    Shape: the OVERSIZED-bucket list is tiny by construction (every
    entry accounts for > max_bucket_size banded rows), so the anti-join
    against it is broadcastable; the aggregation shrinks map-side to one
    row per bucket. This beats a window count, which shuffles the FULL
    banded frame."""
    if max_bucket_size is None:
        return banded
    oversized = (
        banded.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") > max_bucket_size)
        .select(*bucket_cols)
    )
    return banded.join(oversized, on=bucket_cols, how="left_anti")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
) -> DataFrame:
    """(key, sh_hashes, band_hashes) signature frame — the reusable
    unit shared by minhash_lsh_candidates and the persisted
    MinHashIndex (signatures are deterministic for fixed parameters,
    so a signature computed once is valid forever)."""
    key_t = df.schema[key_col].dataType.simpleString()
    return df.select(key_col, text_col).mapInPandas(
        _minhash_batch_mapper(key_col, text_col, num_hashes, bands,
                              shingle_words),
        schema=(f"key {key_t}, sh_hashes array<bigint>, "
                "band_hashes array<bigint>"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    jaccard_threshold: Optional[float] = None,
    max_bucket_size: Optional[int] = 500,
) -> DataFrame:
    """Candidate near-duplicate pairs (key_a < key_b) via banded MinHash.

    Layout (shuffle-minimal for 100 TB): the band join carries ONLY
    (key, band, bhash) — signatures and shingle sets never shuffle; the
    exact-Jaccard verification re-joins shingle-hash arrays for the
    (few) candidate pairs. With `jaccard_threshold`, output is
    key_a, key_b, jaccard; otherwise key_a, key_b. Buckets with more
    than `max_bucket_size` members are dropped before the self-join
    (see _cap_buckets) — pass None to disable.
    """
    docs = minhash_signatures(df, text_col, key_col, num_hashes, bands,
                              shingle_words)
    # the self-join below references this frame twice; persist so the
    # hashing kernel runs once (signatures are small: key + k longs)
    from pyspark import StorageLevel

    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    banded = docs.select(
        "key", F.posexplode("band_hashes").alias("band", "bhash"))
    banded = _cap_buckets(banded, ["band", "bhash"], max_bucket_size)
    left = banded.select(F.col("key").alias("key_a"), "band", "bhash")
    right = banded.select(F.col("key").alias("key_b"), "band", "bhash")
    pairs = (
        left.join(right, on=["band", "bhash"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .dropDuplicates(["key_a", "key_b"])
    )
    if jaccard_threshold is None:
        return pairs
    sh = docs.select("key", "sh_hashes")
    pairs = (
        pairs.join(sh.withColumnsRenamed({"key": "key_a", "sh_hashes": "__sh_a"}),
                   on="key_a")
        .join(sh.withColumnsRenamed({"key": "key_b", "sh_hashes": "__sh_b"}),
              on="key_b")
    )
    jac = F.size(F.array_intersect("__sh_a", "__sh_b")) / F.size(
        F.array_union("__sh_a", "__sh_b"))
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("key_a", "key_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for oracle-checkable small candidate sets)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    shingle_words: int = 3,
    threshold: float = 0.5,
    block_col: Optional[str] = None,
) -> DataFrame:
    """Exact pairwise Jaccard over word shingles. O(n^2) within a block —
    pass `block_col` (e.g. a language or fingerprint prefix) to bound the
    blow-up; the LSH path above is the scale route."""
    docs = (
        df.select(F.col(key_col), F.col(text_col),
                  *([F.col(block_col)] if block_col else []))
        .withColumn("__sh", word_shingles(text_col, shingle_words))
        .drop(text_col)
    )
    a = docs.select(
        *( [F.col(block_col).alias("__blk")] if block_col else [] ),
        F.col(key_col).alias("key_a"), F.col("__sh").alias("__sh_a"))
    b = docs.select(
        *( [F.col(block_col).alias("__blk")] if block_col else [] ),
        F.col(key_col).alias("key_b"), F.col("__sh").alias("__sh_b"))
    on = ["__blk"] if block_col else None
    joined = a.join(b, on=on) if on else a.crossJoin(b)
    jac = F.size(F.array_intersect("__sh_a", "__sh_b")) / F.size(
        F.array_union("__sh_a", "__sh_b"))
    return (
        joined.filter(F.col("key_a") < F.col("key_b"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("key_a", "key_b", "jaccard")
    )


def ngram_jaccard_blocked(
    df: DataFrame,
    block_col: str,
    text_col: str = "text",
    key_col: str = "doc_id",
    shingle_words: int = 3,
    min_ratio: tuple[int, int] = (1, 10),
    max_block_rows: int = 10_000,
) -> DataFrame:
    """Exact within-block pairwise Jaccard, computed entirely INSIDE each
    block's task (applyInPandas): shingle sets live once per doc in task
    memory and the quadratic pair loop is Python set ops — versus the
    join formulation, which shuffles both shingle arrays per pair
    (O(pairs x shingles) network) and scores them in interpreted
    higher-order expressions (~30x slower, measured at sf0.1).

    min_ratio=(p, q) keeps pairs with n_common * q >= n_union * p
    (integer predicate, no float). Output: key_a, key_b, n_common,
    n_union.

    Blocks larger than `max_block_rows` do NOT go through the quadratic
    task (a 1M-row block would OOM one executor at 100 TB); they are
    routed through banded MinHash candidate generation (same shingle
    definition) with exact set verification — same output columns and
    precision, approximate recall on the oversized blocks only.
    """
    num, den = min_ratio

    def score_block(pdf):
        import pandas as pd

        keys = pdf[key_col].tolist()
        shingles = []
        for text in pdf[text_col].tolist():
            toks = str(text).lower().split()
            if len(toks) >= shingle_words:
                sh = {" ".join(toks[i:i + shingle_words])
                      for i in range(len(toks) - shingle_words + 1)}
            else:
                sh = {" ".join(toks)} if toks else set()
            shingles.append(sh)
        out_a, out_b, out_c, out_u = [], [], [], []
        order = sorted(range(len(keys)), key=lambda i: keys[i])
        for ii in range(len(order)):
            i = order[ii]
            for jj in range(ii + 1, len(order)):
                j = order[jj]
                common = len(shingles[i] & shingles[j])
                union = len(shingles[i]) + len(shingles[j]) - common
                if union and common * den >= union * num:
                    out_a.append(keys[i])
                    out_b.append(keys[j])
                    out_c.append(common)
                    out_u.append(union)
        return pd.DataFrame({"key_a": out_a, "key_b": out_b,
                             "n_common": out_c, "n_union": out_u})

    key_t = df.schema[key_col].dataType.simpleString()
    out_schema = f"key_a {key_t}, key_b {key_t}, n_common bigint, n_union bigint"
    base = df.select(key_col, text_col, block_col)

    # block sizing via a window count: the window's (block) exchange is
    # the SAME partitioning the per-block kernel needs, so Spark reuses
    # it — one scan + one shuffle total (an aggregated-counts join was
    # measured slower: it scans the input twice).
    # Explicit partition count (round-13): the blocked frame is tiny
    # BY BYTES but the per-block kernel is a quadratic Python loop, so
    # AQE's byte-based coalescing collapsed the applyInPandas stage to
    # 2 tasks on a 32-core box (measured 1.05 s while 30 cores idled).
    # An explicit numPartitions repartition is exempt from coalescing
    # (same fix as fuzzy_pairs and the round-9 percentile router); the
    # window AND the kernel reuse this one exchange.
    from pyspark.sql import Window

    base = base.repartition(
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        block_col)
    w = Window.partitionBy(block_col)
    sized = base.withColumn("__bn", F.count(F.lit(1)).over(w))
    small = sized.filter(F.col("__bn") <= max_block_rows).drop("__bn")
    big = sized.filter(F.col("__bn") > max_block_rows).drop("__bn")

    small_pairs = small.groupBy(block_col).applyInPandas(
        score_block, schema=out_schema)
    big_pairs = _ngram_jaccard_lsh_fallback(
        big, block_col, text_col, key_col, shingle_words, num, den)
    return small_pairs.unionByName(big_pairs)


def _ngram_jaccard_lsh_fallback(
    big: DataFrame,
    block_col: str,
    text_col: str,
    key_col: str,
    shingle_words: int,
    num: int,
    den: int,
) -> DataFrame:
    """Oversized-block route for ngram_jaccard_blocked: banded MinHash
    candidates (bucket-capped, shuffle-minimal) + exact shingle-set
    verification producing the same integer (n_common, n_union) columns.
    Uses the SAME shingle definition as score_block (the shared
    _minhash_batch_mapper kernel), so precision is exact; recall is the
    LSH collision probability (r=2 rows/band, 32 bands) instead of 1.
    Cross-block candidate pairs are filtered out to preserve the
    within-block contract."""
    key_t = big.schema[key_col].dataType.simpleString()
    sig = big.select(key_col, text_col).mapInPandas(
        _minhash_batch_mapper(key_col, text_col, 64, 32, shingle_words),
        schema=f"key {key_t}, sh_hashes array<bigint>, band_hashes array<bigint>",
    )
    from pyspark import StorageLevel

    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    banded = sig.select("key", F.posexplode("band_hashes").alias("band", "bhash"))
    banded = _cap_buckets(banded, ["band", "bhash"], 500)
    left = banded.select(F.col("key").alias("key_a"), "band", "bhash")
    right = banded.select(F.col("key").alias("key_b"), "band", "bhash")
    pairs = (
        left.join(right, on=["band", "bhash"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .dropDuplicates(["key_a", "key_b"])
    )
    blocks = big.select(F.col(key_col).alias("key"), F.col(block_col).alias("__blk"))
    pairs = (
        pairs.join(blocks.withColumnsRenamed({"key": "key_a", "__blk": "__blk_a"}),
                   on="key_a")
        .join(blocks.withColumnsRenamed({"key": "key_b", "__blk": "__blk_b"}),
              on="key_b")
        .filter(F.col("__blk_a").eqNullSafe(F.col("__blk_b")))
    )
    sh = sig.select("key", "sh_hashes")
    pairs = (
        pairs.join(sh.withColumnsRenamed({"key": "key_a", "sh_hashes": "__sh_a"}),
                   on="key_a")
        .join(sh.withColumnsRenamed({"key": "key_b", "sh_hashes": "__sh_b"}),
              on="key_b")
    )
    common = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size("__sh_a") + F.size("__sh_b") - common
    return (
        pairs.withColumn("n_common", common.cast("bigint"))
        .withColumn("n_union", union.cast("bigint"))
        .filter((F.col("n_union") > 0)
                & (F.col("n_common") * den >= F.col("n_union") * num))
        .select("key_a", "key_b", "n_common", "n_union")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_batch_mapper(key_col: str, text_col: str):
    """Arrow-batched SimHash kernel, fully vectorized: ALL tokens of the
    batch hash in one pd.util.hash_array call, the bit matrix unpacks
    once, and per-doc majority votes are np.add.reduceat over segment
    offsets — no per-token Python hashing (was the dominant cost,
    round-1 verdict)."""

    def mapper(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            keys, tok_lists = [], []
            for key, text in zip(pdf[key_col], pdf[text_col]):
                toks = str(text).lower().split()
                if not toks:
                    continue
                keys.append(key)
                tok_lists.append(toks)
            if not keys:
                yield pd.DataFrame({"key": [], "__sim": []})
                continue
            counts = np.array([len(t) for t in tok_lists])
            offsets = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=offsets[1:])
            flat = np.array([t for ts in tok_lists for t in ts], dtype=object)
            hs = pd.util.hash_array(flat)  # uint64
            raw = hs.astype(">u8").view(np.uint8).reshape(len(flat), 8)
            bits = np.unpackbits(raw, axis=1)  # (total_tokens, 64)
            # dtype on the reduceat avoids materializing an int64 copy
            # of the (total_tokens, 64) bit matrix
            sums = np.add.reduceat(bits, offsets, axis=0, dtype=np.int64)
            maj = (sums * 2 > counts[:, None]).astype(np.uint8)
            packed = np.packbits(maj, axis=1)            # (n_docs, 8) bytes
            sims_u = packed.view(">u8").reshape(-1)      # big-endian u64/row
            # two's-complement wrap preserves the bit pattern, which is
            # all chunk-extraction and xor-hamming care about
            sims_i = sims_u.astype(np.uint64).astype(np.int64)
            yield pd.DataFrame({"key": keys, "__sim": sims_i})

    return mapper


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket_size: Optional[int] = 500,
) -> DataFrame:
    """Near-dup pairs by SimHash banding: split the 64-bit signature into
    `chunks` pieces; pairs sharing any piece are candidates (guaranteed
    to include all pairs with Hamming distance < chunks); verify with the
    true Hamming distance. Only (key, chunk, chash) shuffles. Buckets
    above `max_bucket_size` are dropped (see _cap_buckets)."""
    key_t = df.schema[key_col].dataType.simpleString()
    docs = df.select(key_col, text_col).mapInPandas(
        _simhash_batch_mapper(key_col, text_col),
        schema=f"key {key_t}, __sim bigint",
    ).withColumnRenamed("key", key_col)
    from pyspark import StorageLevel

    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)  # self-join reuse
    return hamming_band_pairs(docs, key_col, "__sim", max_hamming,
                              chunks, max_bucket_size)


def hamming_band_pairs(
    docs: DataFrame,
    key_col: str,
    sig_col: str,
    max_hamming: int,
    chunks: int,
    max_bucket_size: Optional[int],
    enforce_guarantee: bool = False,
) -> DataFrame:
    """Near-dup pairs of 64-bit signatures by Hamming banding: split
    the signature into `chunks` pieces; pairs sharing any piece are
    candidates (guaranteed to include every pair with Hamming distance
    < chunks — a pair differing in fewer than `chunks` bits must agree
    on at least one whole piece); verify with the true bit_count
    distance. Only (key, chunk, chash) shuffles; oversized buckets are
    dropped by _cap_buckets. Shared by the SimHash text path and the
    perceptual image/audio paths. `max_hamming >= chunks` is allowed
    as a best-effort approximate mode (SimHash callers use it);
    `enforce_guarantee=True` raises instead — callers that promise
    full recall at their threshold opt in."""
    if enforce_guarantee and max_hamming >= chunks:
        raise ValueError(
            f"banding guarantees recall only for max_hamming < chunks "
            f"(got max_hamming={max_hamming}, chunks={chunks})")
    width = 64 // chunks
    banded = docs.select(
        key_col,
        sig_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.shiftright(F.col(sig_col), c * width)
                    .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                    .alias("chash"),
                )
                for c in range(chunks)
            ])
        ).alias("cc"),
    ).select(key_col, sig_col, F.col("cc.chunk").alias("chunk"),
             F.col("cc.chash").alias("chash"))
    banded = _cap_buckets(banded, ["chunk", "chash"], max_bucket_size)
    a = banded.select(F.col(key_col).alias("key_a"),
                      F.col(sig_col).alias("__sig_a"), "chunk", "chash")
    b = banded.select(F.col(key_col).alias("key_b"),
                      F.col(sig_col).alias("__sig_b"), "chunk", "chash")
    pairs = (
        a.join(b, on=["chunk", "chash"])
        .filter(F.col("key_a") < F.col("key_b"))
        .dropDuplicates(["key_a", "key_b"])
    )
    hamming = F.bit_count(F.col("__sig_a").bitwiseXOR(F.col("__sig_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("key_a", "key_b", "hamming")
    )


def repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    span_tokens: int = 8,
    min_doc_freq: int = 2,
    stride: int = 1,
) -> DataFrame:
    """Cross-document repeated-span detection — the signal behind exact-
    substring dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL 2022): a token window appearing in
    >= `min_doc_freq` DISTINCT documents marks a duplicated passage
    (boilerplate, licence block, copy-pasted text) for masking/removal.

    Plan shape (the suffix-array construction of the paper is replaced
    by a fixed-width rolling window, which is what a distributed engine
    can do in ONE linear pass): an Arrow kernel emits
    (key, pos, span_hash) per window — linear in corpus tokens /
    stride; one partial-agg groupBy counts DISTINCT docs per hash; the
    repeated-hash set joins back as an equi-join. Nothing quadratic,
    nothing driver-side.

    Returns (key, pos, span_hash) for every occurrence of a repeated
    span (pos = 0-based token offset of the window start).
    """
    import hashlib

    key_t = df.schema[key_col].dataType.simpleString()

    def spans(batches):
        import pandas as pd

        for pdf in batches:
            keys, poss, hs = [], [], []
            for key, text in zip(pdf[key_col], pdf[text_col]):
                toks = str(text).lower().split()
                for i in range(0, len(toks) - span_tokens + 1, stride):
                    keys.append(key)
                    poss.append(i)
                    hs.append(hashlib.md5(
                        " ".join(toks[i:i + span_tokens]).encode()
                    ).hexdigest())
            yield pd.DataFrame({key_col: keys, "pos": poss,
                                "span_hash": hs})

    all_spans = df.select(key_col, text_col).mapInPandas(
        spans, schema=f"{key_col} {key_t}, pos int, span_hash string")
    # the doc-frequency aggregate AND the occurrence join-back both
    # consume the kernel output — persist so the tokenize+md5 pass
    # runs ONCE (round-13: the un-persisted form executed the Python
    # kernel twice per query, measured as two back-to-back ~0.8 s
    # single-task jobs at bench SF). Same precedent as
    # minhash_lsh_candidates' signature persist; MEMORY_AND_DISK so a
    # corpus-sized span frame spills instead of evicting, and the
    # frame stays recomputable (no lineage truncation).
    from pyspark import StorageLevel

    all_spans = all_spans.persist(StorageLevel.MEMORY_AND_DISK)
    repeated = (all_spans.groupBy("span_hash")
                .agg(F.countDistinct(key_col).alias("__df"))
                .filter(F.col("__df") >= min_doc_freq)
                .select("span_hash"))
    return all_spans.join(repeated, on="span_hash").select(
        key_col, "pos", "span_hash")


def mask_repeated_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    span_tokens: int = 8,
) -> DataFrame:
    """Remove the tokens covered by flagged repeated spans (the ACTION
    half of exact-substring dedup — repeated_spans() is the signal).

    `spans` is (key, pos, ...) from repeated_spans with the SAME
    span_tokens. Covered token positions [pos, pos+span_tokens) are
    dropped; surviving tokens re-join in order. Shape: one groupBy on
    the key collapses each doc's flagged positions into one array
    (small — positions, not text), then an Arrow kernel rewrites the
    doc in a single pass. Output: (key, text, n_tokens_removed).
    """
    key_t = df.schema[key_col].dataType.simpleString()
    pos_sets = spans.groupBy(key_col).agg(
        F.collect_set("pos").alias("__starts"))
    joined = df.select(key_col, text_col).join(pos_sets, on=key_col,
                                               how="left")

    def rewrite(batches):
        import pandas as pd

        for pdf in batches:
            keys, texts, removed = [], [], []
            for key, text, starts in zip(pdf[key_col], pdf[text_col],
                                         pdf["__starts"]):
                toks = str(text).lower().split()
                cover = set()
                if starts is not None:
                    for s in starts:
                        cover.update(range(int(s),
                                           int(s) + span_tokens))
                kept = [t for i, t in enumerate(toks) if i not in cover]
                keys.append(key)
                texts.append(" ".join(kept))
                removed.append(len(toks) - len(kept))
            yield pd.DataFrame({key_col: keys, text_col: texts,
                                "n_tokens_removed": removed})

    return joined.mapInPandas(
        rewrite,
        schema=f"{key_col} {key_t}, {text_col} string, "
               "n_tokens_removed int")


def fuzzy_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str,
    max_dist: int = 2,
    block: Column | None = None,
    max_block_rows: int = 10_000,
) -> DataFrame:
    """Blocked edit-distance candidate pairs — the entity-resolution
    primitive ("Jon Smith" vs "John Smith"): rows sharing a blocking
    key pair up and keep `levenshtein(text_a, text_b) <= max_dist`,
    with key_a < key_b so each pair appears once.

    `block` defaults to the lowercased first 4 chars — swap in any
    Column (first token, soundex-alike, zip code). The join is an
    EQUI-join on the block key: nothing quadratic across blocks; the
    per-block cross is the classic blocking trade-off, guarded by
    `max_block_rows` (a block larger than that raises with a pointer
    to refine the blocking key, same policy as ngram_jaccard_blocked).
    Output feeds resolve_dup_clusters like every other candidate
    generator.
    """
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    blk = block if block is not None else F.lower(
        F.substring(F.col(text_col), 1, 4))
    base = df.select(blk.alias("__blk"), F.col(key_col), F.col(text_col))
    a = base.select(F.col("__blk"),
                    F.col(key_col).alias("key_a"),
                    F.col(text_col).alias("__ta"))
    b = base.select(F.col("__blk"),
                    F.col(key_col).alias("key_b"),
                    F.col(text_col).alias("__tb"))
    # Pin the join stage's parallelism (round-13): the block-join
    # output is tiny BY BYTES (keys + short strings) but heavy PER
    # BYTE (a levenshtein per candidate pair), so AQE's byte-based
    # partition coalescing collapsed the whole stage into ONE task —
    # measured 2.48 s serial on a 32-core box inside
    # fuzzy_entity_resolution while 31 cores idled. An explicit
    # numPartitions repartition is exempt from AQE coalescing (same
    # fix as the percentile router, round-9); the join reuses the
    # partitioning, so this adds no exchange beyond the one the
    # equi-join needs. At scale the stage is data-sized and the
    # explicit count equals what the planner would pick anyway.
    n_blk = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    a = a.repartition(n_blk, "__blk")
    b = b.repartition(n_blk, "__blk")
    # max_block_rows guard as an IN-PLAN raise (round-13): the eager
    # groupBy + limit(1).collect() form was a dedicated driver action
    # and a FULL extra scan of the input per call. The window count
    # rides the explicit (__blk) exchange above, and its (__blk) sort
    # is exactly the sort-merge join's required ordering, so the
    # guard's marginal cost is one branch per row; an oversized block
    # still fails the job (at execution, before its quadratic pair
    # stream is consumed).
    from pyspark.sql import Window

    bn = F.count(F.lit(1)).over(Window.partitionBy("__blk"))
    a = (a.withColumn("__bn", bn)
         .filter(F.when(F.col("__bn") <= F.lit(max_block_rows),
                        F.lit(True))
                 .otherwise(F.raise_error(F.concat(
                     F.lit("block "),
                     # a NULL block key would null the whole message
                     # (the join's inferred not-null filter normally
                     # drops NULL keys before this count)
                     F.coalesce(F.col("__blk").cast("string"),
                                F.lit("null")),
                     F.lit(" has "), F.col("__bn").cast("string"),
                     F.lit(f" rows (> max_block_rows="
                           f"{max_block_rows}); refine the blocking "
                           "column or raise the guard")))))
         .drop("__bn"))
    # banded levenshtein (threshold arg): O(max_dist·len) per pair
    # instead of O(len·len), returns -1 above the threshold. On short
    # strings it measures even with the plain form; on long fields it
    # bounds the per-pair cost. The REAL cost lever is the blocking
    # key: per-block pair count is quadratic in block size, so refine
    # `block` (e.g. add a length component) before raising
    # max_block_rows.
    return (
        a.join(b, on="__blk")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("dist",
                    F.levenshtein("__ta", "__tb", max_dist))
        .filter(F.col("dist") >= 0)
        .select("key_a", "key_b", "dist")
    )
