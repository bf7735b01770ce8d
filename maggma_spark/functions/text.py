"""Text-analysis column expressions — language-ID, quality scoring, token
counting, fingerprinting, shingling.

Beyond-reference capability (BASELINE.json north star): the reference has
no text operators at all; these are the primitives a large-scale
training-data pipeline needs, built exclusively from JVM-side
`pyspark.sql.functions` (no Python UDFs) so they run inside whole-stage
codegen over 100 TB of documents.

All functions return `Column`s and compose into any DataFrame plan.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Minimal per-language marker lexicons for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "los", "y"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "les", "et", "une", "est"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}

STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "that"]


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (split on runs of whitespace, trimmed)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count: splits on whitespace AND
    letter/digit/punctuation boundaries — a cheap, deterministic stand-in
    for BPE used for budget estimation (regexp only, JVM-side)."""
    c = F.col(text) if isinstance(text, str) else text
    pieces = F.split(
        F.trim(F.regexp_replace(c, r"([^\sA-Za-z]|\d+)", r" $1 ")), r"\s+"
    )
    return F.size(F.filter(pieces, lambda p: p != F.lit("")))


def count_in_vocab(toks: Column, vocab: list[str]) -> Column:
    """How many tokens fall in a fixed vocabulary (JVM higher-order fn)."""
    arr = F.array(*[F.lit(w) for w in vocab])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def stopword_count(text: Column | str) -> Column:
    return count_in_vocab(tokens(text), STOPWORDS)


def sum_token_chars(text: Column | str) -> Column:
    """Total characters across tokens (for avg-token-length metrics,
    kept as an exact integer so downstream ratios stay oracle-exact)."""
    return F.aggregate(
        F.transform(tokens(text), lambda t: F.length(t)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Marker-token counts per language (the n-gram heuristic's integer
    evidence; argmax via `predict_lang`)."""
    toks = tokens(text)
    return {lang: count_in_vocab(toks, words) for lang, words in LANG_MARKERS.items()}


def predict_lang(text: Column | str) -> Column:
    """argmax over lang_scores with deterministic alphabetical tie-break
    (first language in sorted order wins ties)."""
    scores = lang_scores(text)
    langs = sorted(scores)
    best = scores[langs[0]]
    for lg in langs[1:]:
        best = F.greatest(best, scores[lg])
    out = F.lit(None).cast("string")
    # first (alphabetical) language reaching the max wins — build reversed
    for lg in reversed(langs):
        out = F.when(scores[lg] == best, F.lit(lg)).otherwise(out)
    return out


def text_search_score(text: Column | str, query: str) -> Column:
    """$text/Atlas-$search analog (reference:src/maggma/api/resource/
    utils.py:69-115 compiles $search pipelines): OR-of-terms match with a
    matched-term-count score. No index needed — the scan is the index in
    a columnar engine; at 100 TB pair with partition/file pruning on a
    coarser predicate. Returns the score (0 = no match)."""
    terms = [t for t in query.lower().split() if t]
    toks = tokens(normalized_text(text))
    score = F.lit(0)
    for t in terms:
        score = score + F.when(F.array_contains(toks, t), 1).otherwise(0)
    return score


def fingerprint(text: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted token
    multiset — the classic "fingerprint" key for clustering near-identical
    docs that differ only in token order/whitespace."""
    return F.md5(F.concat_ws(" ", F.array_sort(tokens(text))))


def normalized_text(text: Column | str) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Array of word n-grams (distinct)."""
    toks = tokens(normalized_text(text))
    k = F.size(toks)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(k - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


# PII patterns restricted to syntax valid in BOTH Java regex (Spark) and
# RE2 (DuckDB/Go tooling): no backrefs, no lookaround — so the same
# pattern literals drive the engine and any cross-checking system.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+?\d[\d\- ]{7,}\d",
}


def redact_pii(text: Column | str,
               kinds: tuple[str, ...] = ("email", "ipv4", "phone")) -> Column:
    """Replace PII spans with [EMAIL]/[IPV4]/[PHONE] tokens — a standard
    pre-training scrub pass. Pure JVM regexp_replace chain (codegen-
    friendly at 100 TB; no Python in the path). Order matters: emails
    first (they contain digits a phone pattern could nibble), then
    IPv4, then phones."""
    col = F.col(text) if isinstance(text, str) else text
    for kind in kinds:
        col = F.regexp_replace(col, PII_PATTERNS[kind],
                               f"[{kind.upper()}]")
    return col


def contains_pii(text: Column | str,
                 kinds: tuple[str, ...] = ("email", "ipv4", "phone")) -> Column:
    """Boolean: any PII pattern present (the filter-out variant of the
    scrub — some pipelines drop rather than redact)."""
    col = F.col(text) if isinstance(text, str) else text
    pred = F.lit(False)
    for kind in kinds:
        pred = pred | col.rlike(PII_PATTERNS[kind])
    return pred


def bm25_rank(df, query: str, text_col: str = "text",
              key_col: str = "doc_id", k1: float = 1.2, b: float = 0.75,
              extra_cols: tuple[str, ...] = ()):
    """BM25-ranked full-text search (Robertson/Sparck Jones; the scoring
    Lucene/Atlas use under $search) as a two-job DataFrame plan:

    1. ONE aggregate over the corpus computes N, average doc length and
       per-term document frequencies (a single row collected to the
       driver — scalars, not data).
    2. The scoring pass is pure JVM column arithmetic with the IDF
       constants folded in as literals — no joins, no shuffle; at
       100 TB it is one scan that pipelines into the top-k or filter
       that follows.

    Returns df's key (+extra_cols) with a `score` column (docs with
    score 0 dropped). Scores are plain doubles; round before hashing
    across engines.
    """
    terms = sorted({t for t in query.lower().split() if t})
    if not terms:
        raise ValueError("empty query")
    toks = tokens(normalized_text(text_col))
    base = df.select(key_col, *extra_cols, toks.alias("__toks"),
                     F.size(toks).alias("__len"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__len").alias("sumlen"),
        *[F.sum(F.array_contains("__toks", t).cast("long")).alias(f"df_{i}")
          for i, t in enumerate(terms)]).first()
    n_docs = stats["n"]
    # exact-integer sum / exact count -> bit-identical avgdl everywhere
    avgdl = stats["sumlen"] / n_docs if n_docs else 1.0
    import math

    score = F.lit(0.0)
    for i, t in enumerate(terms):
        df_t = stats[f"df_{i}"]
        idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        tf = F.size(F.filter("__toks", lambda x: x == F.lit(t)))
        score = score + F.lit(idf) * (
            tf * (k1 + 1.0)
            / (tf + k1 * (1.0 - b + b * F.col("__len") / F.lit(avgdl))))
    return (base.withColumn("score", score)
            .filter(F.col("score") > 0)
            .drop("__toks", "__len"))


def self_perplexity_scores(df, text_col: str = "text",
                           key_col: str = "doc_id",
                           smoothing: float = 1.0):
    """Corpus-self-trained unigram surprisal scoring — the CCNet-style
    LM-perplexity quality signal with the corpus itself as the model
    (an external KenLM belongs in a real deployment; the PLUMBING —
    count model, join-based scoring, per-doc aggregation — is identical
    and is what the engine owns).

    avg_nll per doc = mean over tokens of -ln P(tok), with add-k
    smoothed unigram probabilities P = (c + k) / (N + k*V). Gibberish /
    rare-token documents score HIGH, templated text scores LOW — the
    filter threshold is a percentile of this column.

    Plan: one token explode + count groupBy builds the model (partial
    agg), scoring re-joins counts on the token (hash join, shuffles the
    token column only), one per-doc aggregation. No broadcast of the
    vocabulary (unbounded at 100 TB), no driver materialization.
    Returns (key, n_tokens, avg_nll).
    """
    from pyspark.sql import functions as F

    toks = df.select(F.col(key_col), F.explode(tokens(text_col))
                     .alias("__tok"))
    counts = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__c"))
    totals = counts.agg(
        F.sum("__c").alias("__n"), F.count(F.lit(1)).alias("__v")).first()
    n_total, vocab = totals["__n"], totals["__v"]
    denom = float(n_total) + smoothing * float(vocab)
    scored = toks.join(counts, on="__tok")
    nll = -F.log((F.col("__c") + F.lit(smoothing)) / F.lit(denom))
    return (scored.groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.avg(nll).alias("avg_nll")))


def bigram_perplexity_scores(df, text_col: str = "text",
                             key_col: str = "doc_id",
                             lam: float = 0.7,
                             smoothing: float = 1.0):
    """Interpolated-bigram surprisal scoring — one order closer to the
    CCNet KenLM signal than self_perplexity_scores (which is the
    unigram special case). Per token at position i:

        -ln( lam * c(w_{i-1}, w_i)/c(w_{i-1}·) + (1-lam) * P_uni(w_i) )

    with P_uni add-k smoothed and c(w·) the bigram-context total (so
    the MLE term sums to 1 per context); the first token of a doc
    scores unigram-only. Repetitive/templated text scores LOW (its
    bigrams are predictable), shuffled-word or gibberish text scores
    HIGH even when its unigram distribution looks normal — the signal
    a unigram model cannot see.

    Plan: one posexplode, one lag window (shuffle on the doc key), two
    count aggregations for the model, then hash joins on token /
    bigram keys. No vocabulary broadcast, nothing on the driver except
    the two model totals. Returns (key, n_tokens, avg_nll).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    toks = df.select(
        F.col(key_col),
        F.posexplode(tokens(text_col)).alias("__pos", "__tok"))
    w = Window.partitionBy(key_col).orderBy("__pos")
    pairs = toks.withColumn("__prev", F.lag("__tok").over(w))
    uni = pairs.groupBy("__tok").agg(F.count(F.lit(1)).alias("__c"))
    tot = uni.agg(F.sum("__c").alias("n"),
                  F.count(F.lit(1)).alias("v")).first()
    denom = float(tot["n"]) + smoothing * float(tot["v"])
    big = (pairs.filter(F.col("__prev").isNotNull())
           .groupBy("__prev", "__tok")
           .agg(F.count(F.lit(1)).alias("__cb")))
    ctx = big.groupBy("__prev").agg(F.sum("__cb").alias("__cp"))
    scored = (
        pairs.join(uni, on="__tok")
        .join(big, on=["__prev", "__tok"], how="left")
        .join(ctx, on="__prev", how="left")
    )
    p_uni = (F.col("__c") + F.lit(smoothing)) / F.lit(denom)
    p = F.when(F.col("__prev").isNull(), p_uni).otherwise(
        F.lit(lam) * F.col("__cb") / F.col("__cp")
        + F.lit(1.0 - lam) * p_uni)
    return (scored.groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.avg(-F.log(p)).alias("avg_nll")))


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(
    df,
    text_col: str = "text",
    key_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
):
    """Gopher-style heuristic document quality rules (Rae et al. 2021,
    §A1.1 — the standard pre-filter every LLM corpus pipeline runs
    before the expensive dedup/scoring passes). Emits one row per doc
    with the measured statistics, one boolean per rule, and the overall
    ``gopher_pass`` conjunction — flags, not drops, so downstream can
    mix rule subsets.

    Everything is built-in-function arithmetic over the tokenized text
    (zero shuffle, zero Python): the whole operator is a projection and
    fuses into whatever scan precedes it.
    """
    t = tokens(F.col(text_col))
    n_words = F.size(t)
    mean_wl = sum_token_chars(F.col(text_col)) / n_words
    hash_cnt = F.length(text_col) - F.length(F.regexp_replace(F.col(text_col), "#", ""))
    ell_cnt = ((F.length(text_col)
                - F.length(F.regexp_replace(F.col(text_col), r"\.\.\.", "")))
               / F.lit(3)).cast("bigint")
    symbol_ratio = (hash_cnt + ell_cnt) / n_words
    alpha_frac = (F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]"))) / n_words)
    stop_hits = count_in_vocab(t, GOPHER_STOPWORDS)
    rules = {
        "rule_word_count": (n_words >= min_words) & (n_words <= max_words),
        "rule_mean_word_len": (mean_wl >= min_mean_word_len)
                              & (mean_wl <= max_mean_word_len),
        "rule_symbol_ratio": symbol_ratio < max_symbol_ratio,
        "rule_alpha_words": alpha_frac > min_alpha_word_frac,
        "rule_stopwords": stop_hits >= min_stopword_hits,
    }
    out = df.select(
        key_col,
        n_words.alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        F.round(alpha_frac, 4).alias("alpha_word_frac"),
        stop_hits.alias("stopword_hits"),
        *[c.alias(name) for name, c in rules.items()],
    )
    pass_all = None
    for name in rules:
        pass_all = F.col(name) if pass_all is None else pass_all & F.col(name)
    return out.withColumn("gopher_pass", pass_all)
