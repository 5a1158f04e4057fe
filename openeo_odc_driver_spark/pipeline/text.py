"""Text analysis operators over the `documents` table: language ID,
quality scoring, token counting, fingerprinting. All pure JVM expressions
(regex/string built-ins) — zero Python in the row path, so they pipeline
inside whole-stage codegen with the scan at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .parallel import ensure_min_parallelism

from .dedup import md5_int_expr

# tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "and", "a", "of", "to"],
    "de": ["der", "die", "und", "das", "ist"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "et", "les", "des"],
}


# GPT-2-style pre-tokenizer shape, restricted to constructs that parse
# identically in Java regex (Spark) and RE2 (DuckDB): letter runs, single
# digits, non-space punctuation
BPE_SPLIT_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace tokens, a BPE-ish regex piece count (letters/digit/punct
    pre-tokenization), and the bytes/4 estimate — all pure expressions,
    codegen-fused with the scan."""
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit(BPE_SPLIT_RE), F.lit(0))
        ).alias("n_bpe_pieces"),
        (F.length("text") / F.lit(4.0)).alias("est_bpe_tokens"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features with a
    composite score — the C4/Gopher-style filter shape."""
    docs = ensure_min_parallelism(docs)
    toks = F.size(F.split(F.trim("text"), r"\s+"))
    n_chars = F.length("text")
    # punctuation count = length minus length with punctuation removed
    n_punct = n_chars - F.length(F.regexp_replace("text", r"[.,;:!?]", ""))
    stop_arr = [w for ws in STOPWORDS.values() for w in ws]
    stop_hits = F.size(
        F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t.isin(stop_arr))
    )
    mean_word_len = (n_chars - toks + 1) / F.nullif(toks.cast("double"), F.lit(0.0))
    out = docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        toks.alias("n_tokens"),
        (n_punct / F.nullif(n_chars.cast("double"), F.lit(0.0))).alias("punct_ratio"),
        (stop_hits / F.nullif(toks.cast("double"), F.lit(0.0))).alias("stopword_ratio"),
        mean_word_len.alias("mean_word_len"),
    )
    score = (
        F.when(F.col("n_tokens") >= 5, F.lit(1.0)).otherwise(F.lit(0.0))
        * (F.lit(1.0) - F.col("punct_ratio"))
        * F.least(F.col("stopword_ratio") * 4 + F.lit(0.2), F.lit(1.0))
    )
    return out.withColumn("quality", score)


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-vote language ID: score each language by stopword hits in
    the token stream, pick the argmax (ties → lexicographic language code;
    no hits → 'und')."""
    toks = F.split(F.trim("text"), r"\s+")
    scores = [
        F.size(F.filter(toks, lambda t: t.isin(STOPWORDS[lang]))).alias(f"s_{lang}")
        for lang in sorted(STOPWORDS)
    ]
    scored = docs.select("doc_id", "lang", *scores)
    langs = sorted(STOPWORDS)
    best = F.greatest(*[F.col(f"s_{l}") for l in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier lang wins ties → apply in reverse
        pred = F.when((F.col(f"s_{lang}") == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return scored.select("doc_id", F.col("lang").alias("lang_true"), pred.alias("lang_pred"))


def doc_fingerprint(docs: DataFrame, gram: int = 8) -> DataFrame:
    """Winnowing-style fingerprint: the minimum hash over all character
    `gram`-grams (one representative per document — robust to small edits,
    used for fast near-dup blocking)."""
    docs = ensure_min_parallelism(docs)
    grams = F.expr(
        f"transform(sequence(1, greatest(length(text) - {gram - 1}, 1)),"
        f" i -> substring(text, i, {gram}))"
    )
    g = docs.select("doc_id", F.explode(grams).alias("g"))
    return (
        g.withColumn("h", F.expr(md5_int_expr("g")))
        .groupBy("doc_id")
        .agg(F.min("h").alias("fingerprint"))
    )


def chunk_documents(
    docs: DataFrame,
    window: int = 64,
    stride: int = 48,
    carry: list[str] | None = None,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the step a
    training pipeline runs between cleaning and tokenization so long
    documents become model-sized sequences.

    Chunks start every ``stride`` tokens; a final ALIGNED chunk starting
    at ``n_tokens - window + 1`` is always included so trailing tokens
    are never dropped (documents shorter than ``window`` yield exactly
    one chunk). ``carry`` names extra input columns to keep on every
    chunk row (e.g. ``["lang"]``) so downstream rollups need no join
    back to the corpus. Pure JVM expressions: split → start sequence →
    slice/array_join under one explode; the only shuffle-free wide op is
    the explode itself, which preserves the scan partitioning — no data
    movement at any scale.
    """
    carry = carry or []
    toks = F.split(F.trim("text"), r"\s+")
    n = F.size(toks)
    last = F.greatest(n - F.lit(window) + 1, F.lit(1))
    starts = F.array_union(
        F.sequence(F.lit(1), last, F.lit(stride)), F.array(last)
    )
    with_toks = docs.select(
        "doc_id", *carry, toks.alias("_toks"), starts.alias("_starts")
    )
    return with_toks.select(
        "doc_id",
        *carry,
        F.explode("_starts").alias("chunk_start"),
        F.col("_toks"),
    ).select(
        "doc_id",
        *carry,
        "chunk_start",
        F.size(F.slice("_toks", F.col("chunk_start"), window)).alias(
            "n_chunk_tokens"
        ),
        F.array_join(
            F.slice("_toks", F.col("chunk_start"), window), " "
        ).alias("chunk_text"),
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF (smoothed:
    idf = ln((N+1)/(df+1)) + 1) — the classic corpus-statistics join a
    data pipeline uses for topic tagging and boilerplate detection.

    Plan shape at scale: one explode + (doc,term) aggregation for TF
    [shuffle 1], a term-level rollup for DF that is tiny and broadcast
    back [no corpus shuffle], the corpus size as a 1-row broadcast
    cross-join, then the per-doc top-k window [shuffle 2, partitioned by
    doc_id — never global]. No Python anywhere.
    """
    term = F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term")
    tf = (
        docs.select("doc_id", term)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    # ln differs by 1 ulp between JVM and glibc libm on ~8% of df values;
    # quantize the score to 7 decimals on both engines (registry.py idiom)
    # so ranking and the oracle hash are bit-stable, not fixture-lucky
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term", "tf", F.round(F.col("tf") * idf, 7).alias("score")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def repetition_scores(docs: DataFrame, gram: int = 10) -> DataFrame:
    """Gopher-style repetition filters: the fraction of a document made of
    duplicate lines and duplicate word ``gram``-grams — boilerplate and
    template spam score high and get filtered before training.

    dup_line_frac   = 1 − distinct(lines)/count(lines)
    dup_ngram_frac  = 1 − distinct(grams)/count(grams)

    Pure expressions: split → array_distinct → size arithmetic, no
    explode, no shuffle — per-document scalars computed inline with the
    scan (the filter itself is then a `where` on the output).

    The token array is STAGED in a projection before the gram transform
    references it: a `split(...)` written inline inside the lambda is
    re-evaluated per gram index (no common-subexpression elimination
    inside higher-order lambdas) — O(tokens²) per document, measured
    5.2 s → 0.9 s at sf0.1 for the staged form.
    """
    docs = ensure_min_parallelism(docs)
    staged = docs.select(
        "doc_id",
        F.split("text", r"\n").alias("_lines"),
        F.split(F.trim("text"), r"\s+").alias("_toks"),
    )
    grams = F.expr(
        f"transform(sequence(1, greatest(size(_toks) - {gram - 1}, 1)),"
        f" i -> array_join(slice(_toks, i, {gram}), ' '))"
    )
    n_lines = F.size("_lines")
    n_grams = F.size(grams)
    return staged.select(
        "doc_id",
        n_lines.alias("n_lines"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct("_lines"))
            / F.nullif(n_lines.cast("double"), F.lit(0.0))
        ).alias("dup_line_frac"),
        F.size("_toks").alias("n_tokens"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct(grams))
            / F.nullif(n_grams.cast("double"), F.lit(0.0))
        ).alias("dup_ngram_frac"),
    )


# deliberately simple patterns that parse identically in Java regex
# (Spark) and RE2 (DuckDB): no backrefs, no lookaround
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_scan(docs: DataFrame) -> DataFrame:
    """Per-document PII pattern census (emails / phone shapes / IPv4) —
    the redaction-triage pass a corpus runs before release. Counts only;
    actual redaction is a regexp_replace with the same patterns.

    One pass of JVM `regexp_count` per pattern, codegen-fused — no UDFs,
    no shuffle. Patterns go through Column literals (not interpolated SQL
    text) so backslashes survive un-mangled."""
    docs = ensure_min_parallelism(docs)
    counts = [
        F.regexp_count("text", F.lit(pat)).alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    out = docs.select("doc_id", *counts)
    any_pii = None
    for name in PII_PATTERNS:
        c = F.col(f"n_{name}") > 0
        any_pii = c if any_pii is None else (any_pii | c)
    return out.withColumn("has_pii", any_pii)


def vocab_top_terms(docs: DataFrame, k: int = 100) -> DataFrame:
    """Global corpus vocabulary: the top-k terms by document-wide count
    (the frequency table a tokenizer build starts from).

    Plan: explode tokens → one hash-aggregate on term → TakeOrdered for
    the global top-k (Spark computes per-partition top-k heaps and merges
    on the driver — no single-partition global sort, unlike a
    row_number() over an unpartitioned window). Deterministic tie-break
    on the term itself.
    """
    term = F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term")
    counts = (
        docs.select(term)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.orderBy(F.desc("n"), F.asc("term")).limit(k)


def dsir_importance_weights(
    corpus: DataFrame, target: DataFrame
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score each raw-corpus document by log p_target(doc)/p_raw(doc) under
    add-1-smoothed unigram bag-of-words models — documents distributed
    like the target domain get high weights, and the selection step
    resamples the corpus by weight.

    Returns ``(doc_id, n_tokens, logweight_fp)`` with the log-weight in
    fixed-point micro-units (the unigram_logprob money-sum idiom: each
    token's delta is quantized to BIGINT BEFORE summing, so the per-doc
    sum is order-free exact integer arithmetic).

    Plan at scale: BOTH models come out of one aggregation over the
    tagged union of the two token streams (one map-side-combined
    shuffle, no model-model join); vocab size and both totals come from
    an unpartitioned window over the MODEL (vocab-sized — never the
    corpus; a scalar subquery would re-execute the token aggregation,
    Catalyst does not reuse subplans). The model broadcasts back onto
    the corpus token stream, which reaches the per-doc aggregate with
    ZERO shuffles.
    """
    from pyspark.sql import Window

    term = F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term")
    toks_c = corpus.select("doc_id", term)
    toks_t = target.select(term)
    # both models in ONE aggregation over a tagged union — a full-outer
    # join of two separately-aggregated models would sort-merge (Spark
    # cannot broadcast a full outer); the union form is a single
    # map-side-combined shuffle and no join at all
    tagged = toks_c.select(
        "term", F.lit(1).alias("_r"), F.lit(0).alias("_t")
    ).unionByName(toks_t.select("term", F.lit(0).alias("_r"), F.lit(1).alias("_t")))
    w = Window.partitionBy()
    model = (
        tagged.groupBy("term")
        .agg(F.sum("_r").alias("n_raw"), F.sum("_t").alias("n_tgt"))
        .withColumn("v", F.count(F.lit(1)).over(w))
        .withColumn("tot_r", F.sum("n_raw").over(w))
        .withColumn("tot_t", F.sum("n_tgt").over(w))
    )
    delta_fp = F.round(
        (
            F.log(
                (F.col("n_tgt") + F.lit(1)).cast("double")
                / (F.col("tot_t") + F.col("v")).cast("double")
            )
            - F.log(
                (F.col("n_raw") + F.lit(1)).cast("double")
                / (F.col("tot_r") + F.col("v")).cast("double")
            )
        )
        * F.lit(LOGPROB_FP)
    ).cast("bigint")
    scored = toks_c.join(F.broadcast(model), "term").select(
        "doc_id", delta_fp.alias("_d")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("_d").alias("logweight_fp"),
    )


BIGRAM_LAMBDA = 0.7  # interpolation weight on the bigram ML estimate
# written as its own literal, NOT computed as 1.0 - BIGRAM_LAMBDA: the
# IEEE result of 1.0 - 0.7 (0.30000000000000004) is a DIFFERENT double
# from the literal 0.3 the oracle SQL parses — parity demands the same
# bits on both engines
BIGRAM_UNI_W = 0.3


def bigram_logprob(docs: DataFrame, top_m: int = 50_000) -> DataFrame:
    """Interpolated-bigram LM quality proxy — the step up from
    :func:`unigram_logprob` toward the KenLM filter: each document
    scored by its mean token log-prob under the corpus's own bigram
    model, p(b|a) = λ·c(a,b)/c(a) + (1−λ)·c(b)/N (first token:
    unigram only). The bigram model is PRUNED to the ``top_m`` most
    frequent bigrams (count desc, pair asc — deterministic), which is
    both the standard production practice and what keeps the model
    broadcast-able at 100 TB; pruned-away bigrams back off to the
    unigram term (λ·0 + (1−λ)·p_uni).

    Fixed-point parity: per-token log-probs quantized to BIGINT
    micro-units before summing (order-free exact integer aggregation).

    Plan: one pass builds (prev, cur) pairs INSIDE the token array (no
    self-join of the token stream for adjacency); ONE corpus-pass
    (a, b) pair-count rollup feeds BOTH models (round-15 optimization,
    guide §2.3 "aggregate before you shuffle" / §2.4: the unigram
    model is an exact re-aggregation of the bigram counts —
    n_term(b) = Σ_a n(a,b) including the NULL-a first-token rows — so
    the second corpus tokenize+explode pass disappears; the pair-count
    table is localCheckpointed once per call because both model
    reductions and nothing else read it, and it is vocab²-bounded —
    never corpus-scale). Unigram totals by an unpartitioned window
    over the model; bigram pruning by TakeOrdered. Both models
    broadcast back — the corpus pair stream reaches the per-doc
    aggregate with zero shuffles. Counts are exact integers either
    way, so the rollup cannot move a value.
    """
    from pyspark.sql import Window

    staged = docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("_toks")
    )
    pairs = F.expr(
        "transform(sequence(1, size(_toks)), i -> struct("
        "CASE WHEN i = 1 THEN NULL ELSE element_at(_toks, i - 1) END AS a,"
        " element_at(_toks, i) AS b))"
    )
    stream = staged.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b")
    )
    # eager=False (round-16, ADVICE r15): constructing the
    # DataFrame no longer runs a corpus-scale job at call time —
    # the pair-count table materializes inside the first action
    # and both model tables then read the persisted rows.
    pair_counts = (
        stream.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .localCheckpoint(eager=False)
    )
    uni = (
        pair_counts.groupBy(F.col("b").alias("term"))
        .agg(F.sum("n_ab").alias("n_term"))
        .withColumn(
            "n_total", F.sum("n_term").over(Window.partitionBy())
        )
    )
    bi = (
        pair_counts.where(F.col("a").isNotNull())
        .orderBy(F.desc("n_ab"), "a", "b")
        .limit(top_m)
    )
    lam = F.lit(float(BIGRAM_LAMBDA))
    p_uni = F.col("n_term").cast("double") / F.col("n_total").cast("double")
    p_bi = F.coalesce(
        F.col("n_ab").cast("double") / F.col("n_prev").cast("double"),
        F.lit(0.0),
    )
    lp = F.when(F.col("a").isNull(), F.log(p_uni)).otherwise(
        F.log(lam * p_bi + F.lit(float(BIGRAM_UNI_W)) * p_uni)
    )
    lp_fp = F.round(lp * F.lit(LOGPROB_FP)).cast("bigint")
    prev_counts = uni.select(
        F.col("term").alias("a"), F.col("n_term").alias("n_prev")
    )
    scored = (
        stream.join(F.broadcast(uni), stream["b"] == uni["term"])
        .join(F.broadcast(bi), ["a", "b"], "left")
        .join(F.broadcast(prev_counts), "a", "left")
        .select("doc_id", lp_fp.alias("_lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("_lp").alias("sum_logprob_fp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_logprob_fp",
            F.floor(
                F.col("sum_logprob_fp").cast("double") / F.col("n_tokens")
            ).cast("bigint").alias("mean_logprob_micro"),
        )
    )


def vocab_with_ids(docs: DataFrame, k: int = 100) -> DataFrame:
    """Assign dense integer ids to the top-``k`` vocabulary terms
    (id 0 = most frequent; ties → lexicographic, matching
    :func:`vocab_top_terms`). The id table is ``k`` rows — the
    row_number window runs on a single already-tiny partition, never on
    corpus data."""
    from pyspark.sql import Window

    v = vocab_top_terms(docs, k)
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    return v.select(
        "term", (F.row_number().over(w) - 1).cast("int").alias("token_id")
    )


def tokenize_to_ids(
    docs: DataFrame, vocab: DataFrame, oov_id: int
) -> DataFrame:
    """Map the token stream to integer ids against a vocabulary table —
    the tokenization step between corpus cleaning and sequence packing.
    Out-of-vocabulary tokens get ``oov_id`` (the UNK id a real tokenizer
    reserves).

    Plan at scale: posexplode preserves scan partitioning (no shuffle);
    the vocabulary joins as a BROADCAST hash join (a tokenizer vocab is
    ≤ a few hundred thousand rows — always executor-memory-sized), so
    the corpus token stream reaches the output with ZERO shuffles. This
    is the plan a 100 TB tokenization run needs: scan → explode →
    broadcast-join → write, one pass, no data movement.
    """
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), r"\s+")).alias(
            "pos", "term"
        ),
    ).select("doc_id", (F.col("pos") + 1).cast("bigint").alias("pos"), "term")
    return toks.join(F.broadcast(vocab), "term", "left").select(
        "doc_id",
        "pos",
        "term",
        F.coalesce("token_id", F.lit(oov_id)).cast("int").alias("token_id"),
    )


def intra_doc_dedup(docs: DataFrame) -> DataFrame:
    """WITHIN-document repeated-line removal (the Gopher/C4 cleanup that
    strips navigation boilerplate repeated inside one page): keep each
    distinct line's FIRST occurrence, preserve order, reassemble.

    Returns ``(doc_id, n_lines, n_kept, dedup_text)``.

    Pure expressions — ``array_position`` finds the first index of each
    line, so ``filter(sequence(..), i -> array_position(lines, lines[i]) = i)``
    is the order-preserving first-occurrence mask; no explode, no
    shuffle, no Python. Runs at scan speed fused with the parquet read
    at any scale (contrast :func:`..dedup.paragraph_dedup`, which
    dedups ACROSS documents and must shuffle paragraphs once).
    """
    docs = ensure_min_parallelism(docs)
    staged = docs.select("doc_id", F.split("text", r"\n").alias("_ls"))
    keep = F.expr(
        "filter(sequence(1, size(_ls)),"
        " i -> array_position(_ls, element_at(_ls, i)) = i)"
    )
    kept = F.expr("transform(_keep, i -> element_at(_ls, i))")
    return (
        staged.select("doc_id", "_ls", keep.alias("_keep"))
        .select(
            "doc_id",
            F.size("_ls").cast("bigint").alias("n_lines"),
            F.size("_keep").cast("bigint").alias("n_kept"),
            F.array_join(kept, "\n").alias("dedup_text"),
        )
    )


def bpe_word_counts(docs: DataFrame) -> DataFrame:
    """The word-frequency table BPE tokenizer training runs on: one
    corpus-wide aggregation, after which every training iteration
    touches only the (vocabulary-sized) word table — exactly how
    production BPE trainers decouple corpus scale from training cost."""
    return (
        docs.select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_word"))
    )


_CHARS_EXPR = "transform(sequence(1, length(word)), i -> substring(word, i, 1))"


def bpe_pair_counts(docs: DataFrame, k: int = 50) -> DataFrame:
    """Adjacent symbol-pair counts over the word-frequency table — the
    first BPE training iteration's statistics (characters as initial
    symbols). Top-``k`` by (count desc, pair asc), fully deterministic.

    Plan: one corpus aggregation (word counts), then the pair census
    runs on the vocab table only: explode pairs → hash-aggregate →
    TakeOrdered top-k (per-partition heaps, no global sort). Integer
    counts — bit-exact on any engine, any partitioning.
    """
    words = bpe_word_counts(docs).where(F.length("word") >= 2)
    staged = words.select("n_word", F.expr(_CHARS_EXPR).alias("_sy"))
    pairs = F.expr(
        "transform(sequence(1, greatest(size(_sy) - 1, 1)),"
        " i -> struct(element_at(_sy, i) AS l, try_element_at(_sy, i + 1) AS r))"
    )
    p = staged.select("n_word", F.explode(pairs).alias("p"))
    return (
        p.groupBy(
            F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym")
        )
        .agg(F.sum("n_word").alias("n"))
        .orderBy(F.desc("n"), "left_sym", "right_sym")
        .limit(k)
    )


def bpe_learn_merges(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """BPE merge-rule learning: ``n_merges`` rounds of count-the-pairs →
    take the argmax → apply the merge left-to-right (standard greedy
    non-overlapping semantics via a fold that inspects the accumulator's
    last symbol). Returns the merge table ``(merge_rank, left_sym,
    right_sym, n)`` — the artifact a tokenizer ships.

    Deterministic by construction: integer pair counts, (n desc, pair
    asc) tie-break — no floats anywhere, so the result is identical on
    any engine/partitioning and the oracle can be a plain SQL twin of
    the count (for rank 0) or a literal table (for the full loop; this
    registry uses the n-round literal, captured like kmeans_train).

    Scale: the corpus is read ONCE (word counts); each round is one
    explode + hash-aggregate over the VOCABULARY table (a few million
    rows at web scale, never corpus-sized) plus a 1-row driver argmax —
    the same iterative-ML driver round-trip pattern as kmeans_train.
    The symbol arrays re-fold per round; lineage is truncated by
    persisting each round's vocab (vocab-sized, executor-memory-safe).
    """
    spark = docs.sparkSession
    cur = (
        bpe_word_counts(docs)
        .select("n_word", F.expr(_CHARS_EXPR).alias("syms"))
        .persist()
    )
    handles = [cur]
    merges: list[tuple[int, str, str, int]] = []
    try:
        for rank in range(n_merges):
            pairs = F.expr(
                "transform(sequence(1, greatest(size(syms) - 1, 1)),"
                " i -> struct(element_at(syms, i) AS l,"
                " try_element_at(syms, i + 1) AS r))"
            )
            top = (
                cur.where(F.size("syms") >= 2)
                .select("n_word", F.explode(pairs).alias("p"))
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("n_word").alias("n"))
                .orderBy(F.desc("n"), "l", "r")
                .limit(1)
                .collect()
            )
            if not top or top[0]["n"] is None:
                break
            l, r, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
            merges.append((rank, l, r, n))
            # left-to-right greedy merge: fold each word's symbols,
            # joining (l, r) when the accumulator ends in l — F.get /
            # try_element_at keep out-of-range touches NULL-safe.
            # Column-built lambdas (not interpolated SQL) so arbitrary
            # corpus symbols can never mangle the expression.
            def _merge_step(_l: str, _r: str):
                def step(acc, x):
                    return F.when(
                        (F.size(acc) > 0)
                        & (F.get(acc, F.size(acc) - 1) == F.lit(_l))
                        & (x == F.lit(_r)),
                        F.concat(
                            F.slice(acc, F.lit(1), F.size(acc) - 1),
                            F.array(F.lit(_l + _r)),
                        ),
                    ).otherwise(F.concat(acc, F.array(x)))

                return step

            merged = F.aggregate(
                "syms",
                F.expr("CAST(array() AS array<string>)"),
                _merge_step(l, r),
            )
            cur = cur.select("n_word", merged.alias("syms")).persist()
            handles.append(cur)
        return spark.createDataFrame(
            merges, "merge_rank int, left_sym string, right_sym string, n bigint"
        )
    finally:
        for h in handles:
            h.unpersist()


LOGPROB_FP = 1_000_000  # fixed-point scale for order-free logprob sums


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """CCNet-style language-model quality proxy: each document scored by
    the mean log-probability of its tokens under the CORPUS'S OWN
    unigram model — boilerplate and in-distribution text score high,
    junk/outlier text scores low. The cheap stand-in for the KenLM
    perplexity filter a production corpus pipeline runs.

    Parity discipline (the money-sum idiom): each token's log-prob is
    quantized to fixed-point BIGINT micro-units BEFORE summing, so the
    per-document sum is exact integer arithmetic — independent of
    aggregation order across engines and partitionings. ln() differs by
    1 ulp between libm implementations; quantization happens right at
    the ln() output where that ulp cannot span a .5 boundary except on
    a measure-zero knife edge.

    Plan: one token aggregate builds the model (term → count); the total
    is an UNPARTITIONED window over the vocab-sized model (a scalar
    subquery would re-execute the whole model subtree — Catalyst does
    not reuse subplans — costing a second corpus token aggregation; the
    window's SinglePartition exchange moves only the vocabulary). The
    model broadcasts back onto the exploded token stream and one
    per-doc aggregate of integer sums finishes. The corpus token stream
    reaches the join with zero shuffles.
    """
    from pyspark.sql import Window

    term = F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term")
    toks = docs.select("doc_id", term)
    model = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_term"))
        .withColumn("n_total", F.sum("n_term").over(Window.partitionBy()))
    )
    lp_fp = F.round(
        F.log(F.col("n_term").cast("double") / F.col("n_total").cast("double"))
        * F.lit(LOGPROB_FP)
    ).cast("bigint")
    scored = (
        toks.join(F.broadcast(model), "term")
        .select("doc_id", lp_fp.alias("_lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("_lp").alias("sum_logprob_fp"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            "sum_logprob_fp",
            # mean in integer micro-units: floor of an identical double
            # is engine-exact, where round-at-7-decimals sat on a .5
            # knife edge (measured: one fixture doc flipped)
            F.floor(
                F.col("sum_logprob_fp").cast("double") / F.col("n_tokens")
            ).cast("bigint").alias("mean_logprob_micro"),
        )
    )


def cdc_chunk_documents(
    docs: DataFrame, window: int = 4, mask: int = 16
) -> DataFrame:
    """Content-defined chunking (the FastCDC/gear-hash idea at token
    granularity): a chunk boundary falls AFTER token i whenever the
    rolling fingerprint of the trailing ``window`` tokens hits the mask
    (md5-uniform ≡ 0 mod ``mask``) — so boundaries are a function of
    LOCAL CONTENT, not position, and an insertion near the front of a
    document shifts only the chunk it lands in, never every downstream
    chunk (fixed-stride chunking re-cuts everything after an edit).
    Expected chunk length ≈ ``mask`` tokens.

    Emits ``(doc_id, chunk_idx, chunk_start, n_chunk_tokens,
    chunk_md5)`` — the chunk hash is what cross-document chunk-level
    dedup (and content-addressed storage) keys on.

    Plan: pure array expressions fused with the scan — the token array,
    boundary set, and chunk slices are all computed per row with zero
    exchanges (the chunk_documents discipline). The boundary array is
    bound with the ``transform(array(x), v -> ...)`` LET idiom: lambdas
    run interpreted with no common-subexpression elimination, and
    projection collapse happily inlines a staged alias into every
    reference — re-evaluating the md5 boundary filter once per chunk
    (measured 17 s at sf0.1; let-bound: ~1 s warm).
    """
    # Map-side parallelism guard (the minhash_signatures discipline):
    # boundary detection is one md5 of a window string PER TOKEN — at
    # fixture scale the corpus is a single row-group, so without this
    # the whole CPU-bound pass runs on one core. At 100 TB inputs
    # arrive in thousands of row groups and the branch is a no-op.
    docs = ensure_min_parallelism(docs)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    staged = docs.select("doc_id", toks.alias("_toks"))
    # boundary AFTER position i (i >= window) when the trailing-window
    # fingerprint hits the mask; the last position always closes a chunk
    # sequence(a, b) is DESCENDING for b < a in Spark: short docs (fewer
    # than `window` tokens) must produce no content boundaries at all
    bound_sql = (
        f"CASE WHEN size(_toks) >= {window} THEN "
        f"filter(sequence({window}, size(_toks)), i -> "
        f"pmod(CAST(conv(substring(md5(array_join(slice(_toks, i - {window - 1}, "
        f"{window}), ' ')), 1, 7), 16, 10) AS BIGINT), {mask}) = 0) "
        f"ELSE array() END"
    )
    ends_sql = f"array_distinct(concat({bound_sql}, array(size(_toks))))"
    # chunk k spans (ends[k-1]+1 .. ends[k]); `ends` is a lambda variable
    # of the outer 1-element transform, so the expensive filter above is
    # evaluated exactly once per document no matter how many times the
    # span builder references it
    spans_sql = (
        f"element_at(transform(array({ends_sql}), ends -> "
        "transform(ends, (e, k) -> named_struct("
        "'chunk_idx', k, "
        "'chunk_start', CASE WHEN k = 0 THEN 1 ELSE element_at(ends, k) + 1 END, "
        "'chunk_end', e))), 1)"
    )
    chunks = staged.select(
        "doc_id", "_toks", F.explode(F.expr(spans_sql)).alias("c")
    )
    return chunks.select(
        "doc_id",
        F.col("c.chunk_idx").cast("int").alias("chunk_idx"),
        F.col("c.chunk_start").cast("int").alias("chunk_start"),
        (F.col("c.chunk_end") - F.col("c.chunk_start") + 1)
        .cast("int")
        .alias("n_chunk_tokens"),
        F.md5(
            F.expr(
                "array_join(slice(_toks, c.chunk_start, "
                "c.chunk_end - c.chunk_start + 1), ' ')"
            )
        ).alias("chunk_md5"),
    )


def gopher_quality_flags(docs: DataFrame) -> DataFrame:
    """The Gopher document-quality rules (Rae et al. 2021, §A1.1) as
    per-document boolean flags + the overall keep decision — the
    rule-filter half that complements :func:`repetition_scores` (that
    op covers the repetition half of the same appendix).

    Flags (each TRUE = passes):

    - ``ok_n_words``       50 ≤ word count ≤ 100 000
    - ``ok_mean_word_len`` 3 ≤ mean word length ≤ 10
    - ``ok_hash_ratio``    '#' symbols / words ≤ 0.1
    - ``ok_ellipsis``      lines ending in '...' ≤ 30 %
    - ``ok_bullets``       lines starting with '-'/'•' ≤ 90 %
    - ``ok_alpha_words``   words containing a letter ≥ 80 %
    - ``ok_stopwords``     ≥ 2 stopword occurrences
    - ``keep``             conjunction of all of the above

    All counts are exact integers and every ratio is one IEEE division,
    so the oracle matches bit-for-bit. Zero exchanges — the whole rule
    set is a scan-fused projection, which is what makes rule filtering
    the cheapest pass of a 100 TB pipeline.
    """
    docs = ensure_min_parallelism(docs)
    stop_arr = sorted({w for ws in STOPWORDS.values() for w in ws})
    toks = F.split(F.trim(F.col("text")), r"\s+")
    lines = F.split(F.col("text"), r"\n")
    staged = docs.select("doc_id", "text", toks.alias("_t"), lines.alias("_l"))
    n_words = F.size("_t")
    sum_word_len = F.aggregate(
        F.transform("_t", lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    mean_wl = sum_word_len / n_words
    n_hash = F.length("text") - F.length(F.regexp_replace("text", r"#", ""))
    n_ellipsis_lines = F.size(
        F.filter("_l", lambda ln: ln.rlike(r"\.\.\.\s*$"))
    )
    n_bullet_lines = F.size(
        F.filter("_l", lambda ln: ln.rlike(r"^\s*[-•*]"))
    )
    n_alpha_words = F.size(
        F.filter("_t", lambda t: t.rlike(r"[A-Za-z]"))
    )
    n_stop = F.size(F.filter("_t", lambda t: F.lower(t).isin(stop_arr)))
    flags = staged.select(
        "doc_id",
        ((n_words >= 50) & (n_words <= 100_000)).alias("ok_n_words"),
        ((mean_wl >= 3.0) & (mean_wl <= 10.0)).alias("ok_mean_word_len"),
        ((n_hash / n_words) <= 0.1).alias("ok_hash_ratio"),
        ((n_ellipsis_lines / F.size("_l")) <= 0.3).alias("ok_ellipsis"),
        ((n_bullet_lines / F.size("_l")) <= 0.9).alias("ok_bullets"),
        ((n_alpha_words / n_words) >= 0.8).alias("ok_alpha_words"),
        (n_stop >= 2).alias("ok_stopwords"),
    )
    keep = (
        F.col("ok_n_words") & F.col("ok_mean_word_len")
        & F.col("ok_hash_ratio") & F.col("ok_ellipsis") & F.col("ok_bullets")
        & F.col("ok_alpha_words") & F.col("ok_stopwords")
    )
    return flags.withColumn("keep", keep)


def pii_redact(docs: DataFrame) -> DataFrame:
    """PII redaction — the action :func:`pii_scan` triages for: replace
    every email / phone-shaped / IPv4 match with a typed placeholder
    (``<EMAIL>`` / ``<PHONE>`` / ``<IPV4>``) before corpus release.

    Patterns apply in the fixed ``PII_PATTERNS`` dict order, each as one
    JVM ``regexp_replace`` over the previous pass's output (sequential
    semantics are part of the contract: an email is rewritten before the
    phone pass ever sees its digits). ``n_redactions`` counts matches on
    the ORIGINAL text, same census as :func:`pii_scan`.

    One codegen-fused projection pass — no UDFs, no shuffle, nothing but
    the scan at any scale; patterns stay in the Java-regex ∩ RE2 common
    dialect so the DuckDB oracle replays them exactly.
    """
    docs = ensure_min_parallelism(docs)
    red = F.col("text")
    for name, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, F.lit(pat), F.lit(f"<{name.upper()}>"))
    n_red = None
    for name, pat in PII_PATTERNS.items():
        c = F.regexp_count("text", F.lit(pat))
        n_red = c if n_red is None else (n_red + c)
    return docs.select(
        "doc_id",
        red.alias("text_redacted"),
        n_red.cast("int").alias("n_redactions"),
    )


def text_feature_embedding(docs: DataFrame, dim: int = 64) -> DataFrame:
    """Hashing-trick bag-of-tokens embedding: ``vector[b] = count of
    tokens whose md5-hash lands in bucket b`` — the deterministic,
    model-free featurizer that plugs the ``documents`` table into the
    embedding family (``embedding_cosine_dup_pairs``, ANN, semantic
    dedup) for content-based near-dup detection beyond shingle MinHash.

    Counts stay integers (cast to double at the edge) so the vector is
    bit-exact cross-engine; cosine consumers are scale-invariant, so no
    normalization is needed or wanted.

    Plan: zero exchanges — per-document array arithmetic fused with the
    scan. The token-hash array is bound ONCE as a lambda variable (the
    LET idiom: ``transform(array(e), hs -> ...)[0]``) before the
    per-bucket histogram loop; staging it in a projection would NOT
    survive CollapseProject, which inlines aliases into every lambda
    reference and re-runs the tokenize+hash per bucket (the cdc_chunks
    lesson, 64× here). Cost is O(dim × tokens)/doc; dim is a small
    constant and the whole op is scan-bound at any corpus size.
    """
    docs = ensure_min_parallelism(docs)
    hs = (
        f"transform(split(trim(text), '\\\\s+'), "
        f"t -> {md5_int_expr('t')} % {dim})"
    )
    vec = (
        f"transform(array({hs}), hs -> "
        f"transform(sequence(0, {dim - 1}), "
        f"b -> CAST(size(filter(hs, h -> h = b)) AS DOUBLE)))[0]"
    )
    return docs.select("doc_id", F.expr(vec).alias("embedding"))


# Unicode-script character classes as LITERAL codepoint ranges — the
# pattern strings contain the actual range characters (chr(0x4E00) etc.),
# so the identical string works in Java regex AND RE2 with no escape-
# dialect translation (\uXXXX vs \x{XXXX}), and no dependence on either
# engine's Unicode property tables.
SCRIPT_CLASSES = {
    "latin": "[A-Za-zÀ-ÖØ-öø-ÿ]",
    "han": "[一-鿿]",
    "cyrillic": "[Ѐ-ӿ]",
    "arabic": "[؀-ۿ]",
    "hangul": "[가-힯]",
    "kana": "[぀-ヿ]",
    "digit": "[0-9]",
}


def script_census(docs: DataFrame) -> DataFrame:
    """Per-document Unicode-script character census + dominant script —
    the routing signal a multilingual pipeline needs before language-ID
    (script is cheap and unambiguous; lang_id refines within a script).

    One codegen `regexp_count` per class over the scan, no UDFs, no
    shuffle; `dominant_script` = the first class in SCRIPT_CLASSES
    order holding the maximum count ('none' when every count is 0) —
    the fixed order makes ties deterministic cross-engine.
    """
    docs = ensure_min_parallelism(docs)
    counts = [
        F.regexp_count("text", F.lit(pat)).alias(f"n_{name}")
        for name, pat in SCRIPT_CLASSES.items()
    ]
    out = docs.select("doc_id", *counts)
    mx = F.greatest(*[F.col(f"n_{n}") for n in SCRIPT_CLASSES])
    dom = F.lit("none")
    for name in reversed(list(SCRIPT_CLASSES)):
        dom = F.when(
            (mx > 0) & (F.col(f"n_{name}") == mx), F.lit(name)
        ).otherwise(dom)
    return out.withColumn("dominant_script", dom)


def char_entropy(docs: DataFrame) -> DataFrame:
    """Per-document Shannon character entropy (bits/char) — the cheap
    gibberish / repetition detector (low entropy = repeated filler,
    high ≈ uniform noise or encrypted blobs; natural text sits in a
    narrow band, which makes both tails a quality filter).

    Computed as ``log2(n) − (Σ m·log2 m)/n`` over per-character counts
    folded in SORTED distinct-char order — a fixed evaluation order on
    both engines, so the float sum is reproducible; the only
    cross-engine risk is log2's last ulp, absorbed by the gate's
    round-to-7. Zero exchanges: per-doc array arithmetic fused with the
    scan (the LET idiom binds the char array once — the 64×
    re-evaluation trap). BMP text only: Spark splits UTF-16 units, so
    astral-plane chars would count as two on the Spark side.
    """
    docs = ensure_min_parallelism(docs)
    cs = "filter(split(text, ''), c -> c != '')"
    expr = (
        f"transform(array({cs}), cs -> CASE WHEN size(cs) = 0 THEN 0.0D ELSE "
        "log2(CAST(size(cs) AS DOUBLE)) - aggregate("
        "transform(array_sort(array_distinct(cs)), "
        "c -> CAST(size(filter(cs, x -> x = c)) AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (a, m) -> a + m * log2(m)) "
        "/ CAST(size(cs) AS DOUBLE) END)[0]"
    )
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_exact"),
        F.expr(expr).alias("entropy_bits"),
    )


def corpus_datasheet(docs: DataFrame) -> DataFrame:
    """The "datasheet for datasets" census in ONE aggregation pass:
    corpus size, language/source diversity, token/char volume, exact-
    duplicate count, and PII incidence — the summary row a release
    ships next to the data.

    Every input to the aggregate (token count, content hash, PII flag)
    is computed in the same fused scan projection, so the whole
    datasheet costs one corpus read + one partial-aggregated exchange
    carrying a single row per task — at 100 TB this is the cheapest
    possible shape for an 8-metric census. All metrics are integer
    counts (order-free exact).
    """
    docs = ensure_min_parallelism(docs)
    any_pii = None
    for name, pat in PII_PATTERNS.items():
        c = F.regexp_count("text", F.lit(pat)) > 0
        any_pii = c if any_pii is None else (any_pii | c)
    staged = docs.select(
        "lang",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("_nt"),
        F.length("text").cast("bigint").alias("_nc"),
        F.md5("text").alias("_h"),
        any_pii.cast("bigint").alias("_pii"),
    )
    return staged.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("_nt").alias("total_tokens"),
        F.sum("_nc").alias("total_chars"),
        (F.count(F.lit(1)) - F.countDistinct("_h")).alias("n_exact_dup_docs"),
        F.sum("_pii").alias("n_docs_with_pii"),
    )


def bm25_scores(
    docs: DataFrame,
    query: str,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document to a query string — the lexical
    retrieval baseline (and the hard-negative miner a training pipeline
    pairs with the embedding ANN ops).

    Determinism contract: per-term contributions are truncated to 1e-9
    fixed-point BIGINT *before* the per-document sum (the
    unigram_logprob discipline), so the aggregate is order-free integer
    arithmetic; query terms and their idf table are tiny and the corpus
    is scanned ONCE — a corpus-stats aggregation (df per query term +
    avgdl) followed by a scan-fused scoring projection, zero corpus
    shuffles beyond the stats row.

    idf = ln(1 + (N − df + 0.5)/(df + 0.5)) (the Lucene positive form);
    tf from the whitespace tokenizer shared with token_count.
    """
    q_terms = sorted(set(query.lower().split()))
    if not q_terms:
        raise ValueError("query must contain at least one token")
    docs = ensure_min_parallelism(docs)
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    staged = docs.select("doc_id", toks.alias("_tk"))
    # build the term-equality lambdas column-side (F.filter with a
    # closure factory, not a string-formatted F.expr) so a query term
    # containing a quote can't break or inject into the SQL expression
    def _tf(term):
        return F.size(F.filter(F.col("_tk"), lambda x: x == F.lit(term)))

    tf_cols = [_tf(t).alias(f"_tf_{i}") for i, t in enumerate(q_terms)]
    dl = F.size("_tk")
    per_doc = staged.select("doc_id", dl.alias("_dl"), *tf_cols)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(q_terms))
        ],
    ).collect()[0]
    n, avgdl = stats.n, stats.sum_dl / stats.n
    import math

    idf = [
        math.log(1.0 + (n - stats[f"df_{i}"] + 0.5) / (stats[f"df_{i}"] + 0.5))
        for i in range(len(q_terms))
    ]
    contribs = []
    for i in range(len(q_terms)):
        tf = F.col(f"_tf_{i}").cast("double")
        norm = tf * (k1 + 1.0) / (
            tf + k1 * (1.0 - b + b * F.col("_dl").cast("double") / F.lit(avgdl))
        )
        c = F.lit(idf[i]) * norm
        contribs.append(F.floor(c * 1e9 + 0.5).cast("bigint"))
    total = contribs[0]
    for c in contribs[1:]:
        total = total + c
    return per_doc.select("doc_id", total.alias("bm25_fp"))


def token_fertility_stats(docs: DataFrame) -> DataFrame:
    """Per-language tokenizer fertility census — the
    tokenizer-efficiency report multilingual pipelines watch (fertility
    = subword pieces per whitespace word; high-fertility languages pay
    more sequence length per sentence): one zero-exchange scan
    projection (the :func:`token_count` expressions + char length) and
    one tiny aggregation keyed by language.

    Exactness: the sums are integers; ``fertility`` and
    ``chars_per_piece`` are ONE correctly-rounded IEEE division of
    exact integers each — engine-identical with no float accumulation.
    """
    per_doc = docs.select(
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("_ws"),
        F.size(
            F.regexp_extract_all("text", F.lit(BPE_SPLIT_RE), F.lit(0))
        ).cast("bigint").alias("_pieces"),
        F.length("text").cast("bigint").alias("_chars"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_ws").alias("n_ws_tokens"),
            F.sum("_pieces").alias("n_bpe_pieces"),
            F.sum("_chars").alias("n_chars"),
        )
        .select(
            "lang", "n_docs", "n_ws_tokens", "n_bpe_pieces", "n_chars",
            (F.col("n_bpe_pieces").cast("double")
             / F.col("n_ws_tokens").cast("double")).alias("fertility"),
            (F.col("n_chars").cast("double")
             / F.col("n_bpe_pieces").cast("double")).alias("chars_per_piece"),
        )
    )
