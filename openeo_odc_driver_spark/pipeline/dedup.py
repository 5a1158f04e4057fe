"""Deduplication operators over the `documents` table — the
training-data-pipeline extension surface (north star), designed for 100 TB.

All hash math is built from ``md5`` so the DuckDB oracle can reproduce it
bit-for-bit (Spark's ``hash()``/``xxhash64`` have no DuckDB twin):
``H(s) = int(md5(s)[:7 hex], 16)`` < 2^28, so K affine permutations
``(a·H + b) mod p`` stay inside 64-bit integers in both engines.

Scale notes per operator are inline; the common theme: never pairwise-join
the full corpus — group by a key (exact hash, LSH band bucket) first so
candidate generation is a shuffle on a high-cardinality key, and only
verify within buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .parallel import ensure_min_parallelism

# MinHash parameters (shared with the oracle SQL builder)
MINHASH_K = 12
LSH_BANDS = 4  # rows per band = MINHASH_K / LSH_BANDS = 3
MH_PRIME = 2147483647  # 2^31 - 1
MH_AS = [2 * i + 1 for i in range(1, MINHASH_K + 1)]  # odd multipliers
MH_BS = [7919 * (i + 1) % MH_PRIME for i in range(MINHASH_K)]
SHINGLE_LEN = 12  # character shingles


def md5_int_expr(col: str) -> str:
    """60-bit-safe 28-bit integer hash, identical SQL in Spark & DuckDB
    modulo the hex-parse idiom (Spark: conv; DuckDB: '0x' cast —
    :func:`md5_int_duck`). Validated exact: scratch/parity_probe2.py."""
    return f"CAST(conv(substring(md5({col}), 1, 7), 16, 10) AS BIGINT)"


def md5_int_duck(col: str) -> str:
    """DuckDB twin of :func:`md5_int_expr`."""
    return f"CAST(('0x' || substring(md5({col}), 1, 7)) AS BIGINT)"


def lsh_candidate_prob(jaccard: float, bands: int, rows_per_band: int) -> float:
    """Probability that a pair with true Jaccard ``jaccard`` becomes an LSH
    candidate under (bands, rows_per_band) banding: ``1 − (1 − j^r)^b``
    (the MMDS ch.3 s-curve). Pure math — used by the tuner below and by
    tests that pin the recall/candidate trade."""
    if not 0.0 <= jaccard <= 1.0:
        raise ValueError(f"jaccard must be in [0, 1], got {jaccard}")
    return 1.0 - (1.0 - jaccard ** rows_per_band) ** bands


def lsh_params_for_threshold(
    threshold: float, k: int = MINHASH_K
) -> tuple[int, int]:
    """Choose ``(bands, rows_per_band)`` with ``bands · rows = k`` whose
    s-curve midpoint ``(1/b)^(1/r)`` lands nearest the target Jaccard
    threshold — the MMDS banding rule.

    This is THE scale knob for candidate density in banded minhash dedup
    (the shingle-space analogue of ``planes_for_corpus`` for hyperplane
    LSH): a dense corpus (small vocabulary, heavy boilerplate) at a fixed
    permissive banding produces super-linear candidate growth (measured:
    ``minhash_dedup_incremental`` 17.5× wall-clock for 10× rows at the
    gate's (4, 3) banding on the 31-word generated corpus — PLANS.md
    round-6 scale table). Raising rows-per-band sharpens the s-curve so
    only pairs near the threshold collide: at k=12, (4, 3) has midpoint
    0.63 but admits j=0.3 pairs with p≈0.10, while (2, 6) has midpoint
    0.89 and admits them with p≈0.0015 — a 70× candidate-rate cut for
    sub-threshold pairs. Exact duplicates (j=1) are candidates with
    probability 1 under ANY banding (every band matches), so tightening
    never loses them.

    Ties prefer more bands (higher recall at the threshold).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    pairs = [(b, k // b) for b in range(1, k + 1) if k % b == 0]
    return min(
        pairs, key=lambda br: (abs((1.0 / br[0]) ** (1.0 / br[1]) - threshold), -br[0])
    )


def _tagged_band_counts(sig: DataFrame, bandings: list[int]) -> DataFrame:
    """Bucket occupancy for EVERY candidate banding in one scan: each
    signature emits its band keys for all bandings, tagged by banding —
    so the density probe is a single job over the (tiny) signature
    table, not one per probed banding."""
    def _tag(b: int):
        # one-arg lambda on purpose: a two-arg lambda would receive the
        # ELEMENT INDEX as its second argument (pyspark transform
        # convention), clobbering a default-bound banding
        return lambda c: F.struct(F.lit(b).alias("bnd"), c.alias("bk"))

    tagged = F.concat(*[
        F.transform(_band_keys_col(b), _tag(b)) for b in bandings
    ])
    return (
        sig.select(F.explode(tagged).alias("t"))
        .groupBy(F.col("t.bnd").alias("bnd"), F.col("t.bk").alias("bk"))
        .agg(F.count("*").alias("n"))
    )


def _predicted_candidates_all(
    sig: DataFrame, bandings: list[int], sig_other: DataFrame | None = None
) -> dict[int, float]:
    """Exact predicted LSH candidate count per banding, from band-bucket
    occupancy: ``Σ_buckets C(n,2)`` for a self-join, ``Σ_buckets n_a·n_b``
    for the incremental new×existing join. Counts a pair once per shared
    band (an upper bound on distinct candidate pairs) — deterministic for
    a given corpus, no sampling. All bandings are computed in ONE job
    (two for the cross shape)."""
    ca = _tagged_band_counts(sig, bandings)
    if sig_other is None:
        rows = ca.groupBy("bnd").agg(
            F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("p")
        ).collect()
    else:
        cb = _tagged_band_counts(sig_other, bandings).withColumnRenamed("n", "nb")
        rows = (
            ca.join(cb, ["bnd", "bk"])
            .groupBy("bnd")
            .agg(F.sum(F.col("n") * F.col("nb")).alias("p"))
            .collect()
        )
    out = {b: 0.0 for b in bandings}
    out.update({r["bnd"]: float(r["p"] or 0.0) for r in rows})
    return out


def _predicted_candidates(
    sig: DataFrame, bands: int, sig_other: DataFrame | None = None
) -> float:
    """Single-banding form of :func:`_predicted_candidates_all`."""
    return _predicted_candidates_all(sig, [bands], sig_other)[bands]


def bands_for_corpus(
    sig: DataFrame,
    threshold: float,
    sig_other: DataFrame | None = None,
    max_candidates_per_doc: float = 32.0,
) -> int:
    """Density-aware banding — the shingle-space analogue of
    ``planes_for_corpus`` (similarity.py) and the SHIPPED DEFAULT for
    banded minhash dedup since round 7: start from the MMDS threshold
    rule (:func:`lsh_params_for_threshold`) and TIGHTEN (fewer, longer
    bands — a sharper s-curve) while the measured band-bucket occupancy
    predicts more than ``max_candidates_per_doc`` candidate pairs per
    document.

    Why a runtime probe: candidate density is a property of the CORPUS
    (shingle-space density), invisible to Catalyst's per-plan statistics
    — a fixed permissive banding that is fine on web-scale vocabulary
    goes super-linear on boilerplate-dense corpora (measured: 17.5×
    wall-clock for 10× rows at (4, 3) banding on the 31-word generated
    corpus; PLANS.md round-6/7 scale tables). The probe is the same
    measure-then-plan adaptivity AQE applies to shuffles, applied one
    level up. It costs one bucket-count aggregation over the (tiny,
    K-ints-per-doc, persisted) signature table per probed banding, and
    probes at most the divisors of MINHASH_K below the threshold rule's
    choice — in practice 1-2 probes. At 100 TB the existing corpus's
    band-occupancy histogram is part of the materialized signature asset
    (bucket counts merge under append), so the probe reads a summary,
    not the corpus.

    Tightening is candidate-recall-safe where it matters: exact
    duplicates (j = 1) match EVERY band under any banding, and pairs far
    below the threshold are exactly the ones the verify stage would
    reject anyway; only near-threshold pairs move along the s-curve
    (quantified by :func:`lsh_candidate_prob`). Pass an explicit
    ``bands`` to the dedup entry points for the fixed-banding oracle
    mode (the driver gate does — a dynamic choice has no static SQL
    twin).
    """
    if max_candidates_per_doc <= 0:
        raise ValueError(
            f"max_candidates_per_doc must be > 0, got {max_candidates_per_doc}"
        )
    b0, _ = lsh_params_for_threshold(threshold)
    n_docs = sig.count()
    if n_docs == 0:
        return b0
    # candidate bandings, threshold-rule choice first, then tighter;
    # ALL probed in one job (_tagged_band_counts), so tightening costs
    # no extra passes over the signature table
    bandings = sorted(
        (b for b in range(1, b0 + 1) if MINHASH_K % b == 0), reverse=True
    )
    pred = _predicted_candidates_all(sig, bandings, sig_other)
    for b in bandings:
        if pred[b] <= max_candidates_per_doc * n_docs:
            return b
    return bandings[-1]  # densest corpora: single full-width band


# --- persisted-handle tracking (ADVICE r2: no leaked cached blocks) --------
_PERSISTED: list = []


def _track_persisted(df: DataFrame, release_previous: bool = True) -> DataFrame:
    """Persist ``df``, releasing the previously tracked handle FIRST:
    callers never own the handle, and a shared session holds only the
    handles of the most recent dedup call regardless of how many dedup
    queries it has run.  Order matters — Spark's CacheManager dedupes
    identical plans into one entry, so unpersisting the old handle after
    persisting an identical new one would evict the fresh cache too.
    ``release_previous=False`` stacks a second handle for the SAME call
    (e.g. near_dup_clusters caches the edge list derived from the still-
    cached signature table); the next call's first track frees both."""
    if release_previous:
        release_cached_signatures()
    df = df.persist()
    _PERSISTED.append(df)
    return df


def release_cached_signatures() -> None:
    """Explicitly drop any signature table cached by minhash_lsh_pairs."""
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist(blocking=False)
        except Exception:
            pass


class _CheckpointHandle:
    """unpersist()-shaped wrapper around a localCheckpoint'ed RDD id, so
    checkpointed rounds share the _PERSISTED release path."""

    def __init__(self, sc, rdd_id: int):
        self._sc = sc
        self._rdd_id = rdd_id

    def unpersist(self, blocking: bool = False) -> None:
        self._sc._jsc.sc().unpersistRDD(self._rdd_id, blocking)


def _local_checkpoint_tracked(
    df: DataFrame, supersedes: list | None = None
) -> tuple[DataFrame, list]:
    """Eagerly localCheckpoint ``df``, track the materialized RDD for
    deterministic release, and — once the new checkpoint exists — free
    the ``supersedes`` handles (the previous iteration, no longer
    reachable from any live plan).  Lazy checkpoints would defer work,
    but their persisted RDDs surface only at first action — unreleasable
    from here; eager + id-diff keeps a long-lived session leak-free.
    Returns (checkpointed df, its new handles)."""
    sc = df.sparkSession.sparkContext
    jmap = sc._jsc.getPersistentRDDs()
    before = {jid for jid in jmap.keySet().toArray()}
    out = df.localCheckpoint(eager=True)
    jmap = sc._jsc.getPersistentRDDs()
    new_handles = []
    for jid in jmap.keySet().toArray():
        if jid not in before:
            h = _CheckpointHandle(sc, jid)
            _PERSISTED.append(h)
            new_handles.append(h)
    for h in supersedes or []:
        try:
            h.unpersist(blocking=False)
        except Exception:
            pass
        if h in _PERSISTED:
            _PERSISTED.remove(h)
    return out, new_handles


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per md5(text).

    Scale: a single hash-aggregate on a 128-bit key — the canonical
    100 TB dedup first pass; no sort, no pairwise anything.
    """
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def dedup_keep_first(docs: DataFrame) -> DataFrame:
    """The operational form of exact dedup: return the surviving documents
    (lowest doc_id per content hash). One hash-aggregate + a semi-join on
    the winner ids — no full-row shuffle of the corpus text twice at
    scale; the winner set is small and broadcastable when dup-heavy."""
    winners = (
        docs.groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return docs.join(winners, "doc_id", "left_semi")


def _shingles(col: str = "text") -> F.Column:
    """Distinct character shingles (positions stride 1) via sequence+transform
    — JVM-side, no Python."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length({col}) - {SHINGLE_LEN - 1}, 1)),"
            f" i -> substring({col}, i, {SHINGLE_LEN}))"
        )
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → K minhash values (array<bigint>).

    Plan: explode shingles → 28-bit md5 hash → per-doc min of each affine
    permutation. One explode + one groupBy(doc_id); the K mins are K
    aggregate expressions over the same exploded column (one pass).

    Shingles come from exploding a POSITION sequence and substring-ing in
    the fused pipeline — no per-doc array materialization and no
    array_distinct (min() is duplicate-insensitive, so the distinct in
    :func:`_shingles` would be pure overhead here: measured 50s → 4s cold
    at sf0.1). The oracle twin computes the same mins over the distinct
    set — identical results by construction.

    Map-side parallelism: shingle hashing is CPU-bound (hundreds of md5s
    per document) and the signature agg shuffles anyway, so when the
    source scan has far fewer partitions than the cluster has cores
    (fixture scale: one 580 KB row-group → 1 task doing ~1.45M md5s) a
    repartition of the RAW TEXT — tiny relative to the hash work —
    unlocks the cores before the heavy projection. At 100 TB inputs
    arrive in thousands of row groups and the branch is a no-op.
    Signature values are unchanged (min over a set is order-free).
    Measured: signatures 2.7 s → 0.4 s warm at sf0.1 on local[32].
    """
    docs = ensure_min_parallelism(docs)
    sh = (
        docs.select(
            "doc_id",
            "text",
            F.explode(
                F.expr(
                    f"sequence(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1))"
                )
            ).alias("_pos"),
        )
        .select(
            "doc_id",
            F.expr(f"substring(text, _pos, {SHINGLE_LEN})").alias("sh"),
        )
        .withColumn("h", F.expr(md5_int_expr("sh")))
    )
    mins = [
        F.min((F.col("h") * a + b) % MH_PRIME).alias(f"mh{i}")
        for i, (a, b) in enumerate(zip(MH_AS, MH_BS))
    ]
    sig = sh.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id", F.array(*[f"mh{i}" for i in range(MINHASH_K)]).alias("sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    jaccard_threshold: float = 0.5,
    bands: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, verified by estimated Jaccard.

    Plan: signatures → explode into band keys (band index + concat of its
    minhashes) → self-join *within band buckets only* → distinct candidate
    pairs → estimated Jaccard = fraction of equal minhash components ≥
    threshold.

    Scale: the join key (band signature) is high-cardinality, so the
    self-join touches only true near-dup buckets; skewed giant buckets
    (boilerplate docs) are handled by AQE skew-join splitting. On DENSE
    corpora (small shingle space) candidate count is the bottleneck —
    ``bands=None`` (the default) is density-aware: the banding is chosen
    at runtime by :func:`bands_for_corpus` from measured band-bucket
    occupancy, tightening below the MMDS threshold rule when the corpus
    is dense; tightening only drops candidates whose estimated Jaccard
    the verify stage would reject anyway, except near-threshold pairs
    per the s-curve. Pass an explicit ``bands`` for fixed-banding oracle
    mode (the driver gate pins LSH_BANDS so its DuckDB twin is static).
    """
    # the signature table is tiny relative to the corpus (K ints per doc)
    # but expensive to compute (explode + md5 per shingle); persist it so
    # the self-join's two sides don't each recompute the whole pipeline.
    # (Measured: AQE stage reuse does NOT dedupe the two sides here, and
    # the persisted path is ~2.5× faster.) The handle is tracked so the
    # NEXT call — or release_cached_signatures() — unpersists it: a
    # long-lived service session holds at most one signature table, not
    # one per query ever run.
    sig = _track_persisted(minhash_signatures(docs))
    if bands is None:
        bands = bands_for_corpus(sig, jaccard_threshold)
    # band keys come from the ONE shared definition (_band_keys_col) so
    # the batch self-join and the incremental join can never drift on
    # what 'candidate' means (ADVICE r5).
    banded = sig.select(
        "doc_id", "sig", F.explode(_band_keys_col(bands)).alias("band_key")
    )
    left = banded.alias("a")
    right = banded.alias("b")
    cand = (
        left.join(right, "band_key")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> CAST(x = y AS INT)),"
        " 0, (acc, v) -> acc + v)"
    ) / F.lit(float(MINHASH_K))
    return (
        cand.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.4,
    candidates: DataFrame | None = None,
    lsh_candidate_threshold: float = 0.2,
    bands: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard, **gated on LSH candidates** — the verify stage
    of the two-stage dedup (candidates default to
    :func:`minhash_lsh_pairs` at a permissive threshold).

    Scale: the exact |A∩B| is computed only for candidate pairs by joining
    the exploded shingle sets through the candidate list (shuffle keys:
    doc_id — high cardinality), never by self-joining the full shingle
    table: a raw shingle self-join goes quadratic on boilerplate-heavy
    shingles (stopword runs) at 100 TB.
    """
    if candidates is None:
        candidates = minhash_lsh_pairs(
            docs, lsh_candidate_threshold, bands=bands
        ).select("doc_a", "doc_b")
    sh = docs.select("doc_id", F.explode(_shingles()).alias("sh")).dropDuplicates()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a_sh = sh.withColumnRenamed("doc_id", "doc_a")
    b_sh = sh.withColumnRenamed("doc_id", "doc_b")
    inter = (
        candidates.join(a_sh, "doc_a")
        .join(b_sh, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def simhash_fingerprints(docs: DataFrame, bits: int = 28) -> DataFrame:
    """Per-doc SimHash over whitespace tokens: bit b of the fingerprint is
    the majority vote of token-hash bit b (ties → 0).

    One explode + one groupBy; the 28 per-bit majority sums are column
    expressions over the same exploded hash (single aggregation pass).
    """
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    ).withColumn("h", F.expr(md5_int_expr("tok")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*votes)
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return agg.select("doc_id", fp.cast("bigint").alias("simhash"))


def simhash_near_dup_pairs(
    docs: DataFrame, bits: int = 28, bands: int = 4, max_hamming: int = 6
) -> DataFrame:
    """SimHash near-dup pairs: candidates share at least one of `bands`
    fingerprint chunks (pigeonhole: hamming ≤ bands−1 guarantees a shared
    chunk; larger radii trade recall), verified by exact hamming distance
    (bit_count of xor).

    Scale: the chunk key is high-cardinality, so the self-join stays
    within chunk buckets — same never-all-pairs shape as MinHash LSH.
    """
    fp = simhash_fingerprints(docs, bits=bits)
    chunk = bits // bands
    mask = (1 << chunk) - 1
    keys = F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(b),
                F.shiftright(F.col("simhash"), b * chunk)
                .bitwiseAND(F.lit(mask))
                .cast("string"),
            )
            for b in range(bands)
        ]
    )
    banded = fp.select("doc_id", "simhash", F.explode(keys).alias("band_key"))
    pairs = (
        banded.alias("a")
        .join(banded.alias("b"), "band_key")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs


def embedding_cosine_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int | None = None,
    salt: int = 1,
    n_vectors: int | None = None,
) -> DataFrame:
    """Embedding near-dup: pairs with cosine ≥ threshold, blocked by the
    **LSH bucket id** (random-hyperplane signs, shared with
    similarity.lsh_bucket_ann) — a computed high-cardinality key, so the
    pairwise join stays within buckets and never goes quadratic over the
    corpus; a semantic column like `label` would miss cross-label dups and
    go quadratic on hot labels. Bucket boundaries can split true dup pairs
    (single-probe recall tradeoff, same as the ANN path).

    ``salt > 1`` splits hot buckets for skew: the left side is salted by
    ``vec_id % salt`` and the right side replicated across all salts, so
    every within-bucket pair survives exactly once while a hot bucket's
    work spreads over `salt` tasks. Results are identical to unsalted
    (asserted in tests); at 100 TB this is the lever when a boilerplate
    cluster concentrates one task."""
    from .similarity import (
        dot_expr,
        lsh_bucket_col,
        norm_expr,
        planes_for_corpus,
    )

    if n_planes is None:
        # occupancy-aware bucket space keeps within-bucket pair work
        # ~constant as the corpus grows (PLANS.md r6 scale table: fixed
        # 8 planes measured 64x wall-clock for 10x rows before the
        # knob). The count() is metadata-cheap on a parquet scan but a
        # full extra job on a derived lineage — callers that know the
        # corpus size (catalog stats, a prior census) pass n_vectors
        # (or n_planes directly; gate queries pin n_planes=8 so the
        # static SQL oracle stays valid at any sf).
        if n_vectors is None:
            n_vectors = embeddings.count()
        n_planes = planes_for_corpus(n_vectors)
    e = embeddings.select(
        "vec_id",
        "embedding",
        lsh_bucket_col("embedding", n_planes).alias("bucket"),
        norm_expr("embedding").alias("norm"),  # once per vector, not per pair
    )
    left = e.alias("a")
    right = e.alias("b")
    keys = ["bucket"]
    if salt > 1:
        left = left.withColumn("_salt", F.col("vec_id") % salt)
        right = right.withColumn(
            "_salt", F.explode(F.array(*[F.lit(s) for s in range(salt)]))
        )
        keys = ["bucket", "_salt"]
    pairs = (
        left.join(right, keys)
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            (
                dot_expr("a.embedding", "b.embedding")
                / F.nullif(F.col("a.norm") * F.col("b.norm"), F.lit(0.0))
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    return pairs


def near_dup_clusters(
    docs: DataFrame,
    jaccard_threshold: float = 0.5,
    rounds: int = 4,
    pairs: DataFrame | None = None,
    bands: int | None = None,
) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the LSH pair
    graph, labeled by the component's minimum doc_id — the step a real
    training pipeline runs after pair generation ("keep one document per
    dup cluster"). Returns (doc_id, cluster_id) for every document that
    appears in at least one near-dup pair.

    Plan: min-label propagation with POINTER JUMPING — each round a
    vertex takes the min of (its label, its neighbors' labels, its
    label's label).  The pointer-jump term makes convergence O(log d)
    in the component diameter d — round 1 covers distance 1, later
    rounds double — so ``rounds`` covers d ≤ 2^(rounds-1); default 4 → 8, far
    beyond any plausible near-dup chain (they are overwhelmingly
    cliques or short chains).  This is the same doubling idea as the
    Hash-to-Min / two-phase CC algorithms used on MapReduce-scale
    graphs.

    Scale notes: iterative graph algorithms are the one place where
    per-round materialization is the *correct* Spark design (GraphX /
    GraphFrames checkpoint each iteration too) — a naively lazy loop
    references the previous round's plan 3× per round, exploding the
    plan tree exponentially and recomputing LSH candidate generation
    at every leaf.  We therefore cache the (small) edge list and
    EAGERLY localCheckpoint each round's label table: lineage stays
    linear and — unlike lazy checkpoints, whose persisted RDDs are
    invisible to any handle we could track — the checkpointed RDD ids
    are captured right after materialization; each round's checkpoint
    frees the previous round's (unreachable) one, so a call holds at
    most one round checkpoint at a time.

    LIFETIME CONTRACT: the returned DataFrame is backed by this call's
    checkpoint and is valid until the NEXT dedup-pipeline call in the
    same session (or an explicit :func:`release_cached_signatures`),
    which frees it.  Unlike a persist()-backed cache, a destroyed
    checkpoint cannot silently recompute — evaluate, persist, or write
    out results you need to keep before issuing another dedup query.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(docs, jaccard_threshold, bands=bands)
        release_edges_first = False
    else:
        # no minhash_lsh_pairs call to release the previous query's
        # handles — do it here so the session still holds only the most
        # recent call's state (see lifetime contract above)
        release_edges_first = True
    edges = _track_persisted(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        ),
        release_previous=release_edges_first,
    )
    labels = edges.groupBy(F.col("src").alias("doc_id")).agg(
        F.least(F.min("dst"), F.first("src")).alias("cluster_id")
    )
    prev_handles: list = []
    for _ in range(rounds - 1):
        labels, prev_handles = _local_checkpoint_tracked(
            labels, supersedes=prev_handles
        )
        # neighbor propagation: min label over my neighbors
        neigh = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"), F.col("cluster_id").alias("_nl")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("_nl").alias("_nbest"))
        )
        # pointer jump: label(label(v)) — hop straight to my label's label
        jump = labels.select(
            F.col("doc_id").alias("cluster_id"), F.col("cluster_id").alias("_jbest")
        )
        labels = (
            labels.join(neigh, "doc_id", "left")
            .join(jump, "cluster_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce("_nbest", F.col("cluster_id")),
                    F.coalesce("_jbest", F.col("cluster_id")),
                ).alias("cluster_id"),
            )
        )
    return labels


def near_dup_keep_representative(
    docs: DataFrame,
    jaccard_threshold: float = 0.5,
    rounds: int = 4,
    bands: int | None = None,
) -> DataFrame:
    """The operational form of near-dedup: the corpus with every near-dup
    cluster collapsed to its minimum-doc_id representative — what a
    training pipeline actually ships downstream.

    Plan: near_dup_clusters labels only documents that appear in a dup
    pair (≪ corpus); a left join + filter keeps (a) every unlabeled
    document and (b) labeled documents that ARE their cluster's label.
    At 100 TB the label table is small enough to broadcast, so the
    corpus is never shuffled — one broadcast hash join over the scan.
    """
    clusters = near_dup_clusters(docs, jaccard_threshold, rounds=rounds, bands=bands)
    return (
        docs.join(F.broadcast(clusters), "doc_id", "left")
        .where(
            F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id"))
        )
        .drop("cluster_id")
    )


def decontaminate_exact(docs: DataFrame, reference: DataFrame) -> DataFrame:
    """Benchmark decontamination, exact form: drop corpus documents whose
    full text appears in a reference/eval set — the step every training
    pipeline runs so the model is not graded on memorized test data.

    Plan: the reference hash set (eval suites are tiny relative to the
    corpus) broadcasts into a left-anti join against the corpus scan —
    one pass, no corpus shuffle, composes with any downstream op.
    """
    ref_hashes = reference.select(F.md5("text").alias("_h")).distinct()
    return docs.join(
        F.broadcast(ref_hashes), F.md5(docs["text"]) == F.col("_h"), "left_anti"
    )


def _token_ngram_hashes(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, md5 of each n-token gram); docs shorter than n tokens
    produce no grams. Pure expressions under one explode.

    The token array is STAGED in a projection before the lambda slices
    it: a split() written inline inside a higher-order lambda is
    re-evaluated per gram index (no CSE inside lambdas) — O(tokens²) per
    document; same trap, same fix, and same measurement discipline as
    repetition_scores (2.4 s → 0.3 s for the gram pass at sf0.1)."""
    staged = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("_toks")
    )
    grams = F.when(
        F.size("_toks") >= n,
        F.expr(
            f"transform(sequence(1, size(_toks) - {n - 1}),"
            f" i -> md5(array_join(slice(_toks, i, {n}), ' ')))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return staged.select("doc_id", F.explode(grams).alias("gh"))


def decontaminate_ngram(
    docs: DataFrame, reference: DataFrame, n: int = 13
) -> DataFrame:
    """Benchmark decontamination, n-gram form (the GPT-3-style rule):
    drop corpus documents sharing ANY ``n``-token gram with the
    reference set — catches partial/quoted contamination that exact
    hashing misses.

    Plan at scale: reference grams (small side) deduplicate and
    broadcast; corpus grams stream through the broadcast join; the
    contaminated-doc id set is a distinct aggregation far smaller than
    the corpus and anti-joins back against the scan. The corpus is
    read twice (gram pass + output pass) but never shuffled.
    """
    ref_grams = _token_ngram_hashes(reference, n).select("gh").distinct()
    contaminated = (
        _token_ngram_hashes(docs, n)
        .join(F.broadcast(ref_grams), "gh")
        .select("doc_id")
        .distinct()
    )
    return docs.join(contaminated, "doc_id", "left_anti")


def paragraph_dedup(docs: DataFrame) -> DataFrame:
    """C4/CCNet-style paragraph-level exact dedup census: split each
    document on newlines, keep only the globally FIRST occurrence of
    every distinct (trimmed, non-empty) paragraph — boilerplate lines
    (nav bars, cookie banners, license headers) dedup away corpus-wide
    even when the containing documents differ.

    Returns per-document stats ``(doc_id, n_paras, n_kept, kept_chars)``
    — the census the filtering `where` acts on; reconstruction is
    ``array_join(collect_list(para) over kept order by idx)``.

    Plan: posexplode paragraphs → row_number window partitioned by the
    paragraph hash (first occurrence = (doc_id, idx) order) → per-doc
    aggregation. Two shuffles, both on paragraph/doc keys — the corpus
    text itself shuffles once as paragraphs (unavoidable for a global
    first-wins rule; at 100 TB the hash partitioning spreads uniformly
    and AQE coalesces the tail).
    """
    paras = docs.select(
        "doc_id",
        F.posexplode(F.split("text", r"\n")).alias("idx", "para"),
    ).withColumn("para", F.trim("para")).where(F.col("para") != "")
    w = Window.partitionBy(F.md5("para")).orderBy("doc_id", "idx")
    flagged = paras.withColumn("_rn", F.row_number().over(w))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0))
            .cast("bigint").alias("n_kept"),
            F.sum(
                F.when(F.col("_rn") == 1, F.length("para")).otherwise(0)
            ).cast("bigint").alias("kept_chars"),
        )
    )


BLOOM_M = 1 << 16  # bit-space size
BLOOM_K = 3        # hash functions


def _bloom_positions(gh: F.Column) -> list:
    """K bit positions for a gram hash. The gram key IS a 32-hex-char
    md5 digest, so the K "hash functions" are K disjoint 7-hex windows
    of it (3×28 = 84 of 128 digest bits) — zero additional hashing per
    gram, the standard derive-k-hashes-from-one-digest construction.
    Measured 4.2 s → 1.7 s at sf0.1 vs. salted re-hashing."""
    return [
        F.pmod(
            F.conv(F.substring(gh, 1 + 7 * j, 7), 16, 10).cast("bigint"),
            F.lit(BLOOM_M),
        )
        for j in range(BLOOM_K)
    ]


def bloom_decontaminate(
    docs: DataFrame, reference: DataFrame, n: int = 8,
) -> DataFrame:
    """Decontamination with a **Bloom-filter pre-filter**: the reference
    n-gram set is compressed to its set bit positions (≤ BLOOM_M rows —
    bounded regardless of eval-suite size), corpus grams are screened
    against the bit set, and only screened candidates pay the exact
    verification join. False positives are removed by the exact stage,
    false negatives are impossible (every true gram sets its bits), so
    the output is IDENTICAL to :func:`decontaminate_ngram` — the Bloom
    layer is purely a scale optimization, which is what lets the oracle
    pin it with the exact formulation.

    Scale: the broadcast side shrinks from O(|eval grams|) to
    min(K·|eval grams|, BLOOM_M) ints; the corpus-side screen is a
    broadcast semi-join per hash fn (no shuffle of the corpus); only the
    (tiny) candidate gram stream reaches the exact join. This is the
    relational transcription of a Bloom filter — Spark's builtin
    bloom_filter_agg is not SQL-exposed, and this form keeps the DuckDB
    twin expressible.
    """
    ref_grams = _token_ngram_hashes(reference, n).select("gh").distinct()
    bit_set = (
        ref_grams.select(F.explode(F.array(*_bloom_positions(F.col("gh")))).alias("pos"))
        .distinct()
    )
    corpus_grams = _token_ngram_hashes(docs, n)
    screened = corpus_grams
    for j, pos in enumerate(_bloom_positions(F.col("gh"))):
        screened = screened.join(
            F.broadcast(bit_set.withColumnRenamed("pos", f"_p{j}")),
            pos == F.col(f"_p{j}"),
            "left_semi",
        )
    contaminated = (
        screened.join(F.broadcast(ref_grams), "gh")
        .select("doc_id")
        .distinct()
    )
    # The candidate-id set is bounded by the Bloom screen, so broadcast
    # it explicitly: the anti-join never shuffles the full corpus.
    return docs.join(F.broadcast(contaminated), "doc_id", "left_anti")


def exact_substring_dedup(
    docs: DataFrame,
    gram: int = 50,
    hot_digests: list[str] | None = None,
    n_salts: int = 8,
) -> DataFrame:
    """Repeated-substring removal (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" ExactSubstr rule,
    MapReduce form): any token span of length ``gram`` that appears more
    than once ANYWHERE in the corpus is removed from every document —
    memorization-prone boilerplate is cut at the substring level, not
    the document level.

    Returns ``(doc_id, n_tokens, n_dropped, kept_text)``: a token is
    dropped iff some duplicated ``gram``-gram covers it.

    Plan at scale (the distributed alternative to the paper's
    single-node suffix array): [1] grams explode fused with the scan —
    what shuffles afterwards is the 16-byte md5 digest per position,
    never gram text; [2] one hash-aggregate finds duplicated digests;
    [3] the gram stream joins back (equi on digest, AQE-skewable — a
    boilerplate digest with millions of hits is exactly the skew-join
    case); [4] per-doc duplicate-start lists aggregate on doc_id;
    [5] one join back to the corpus on doc_id. Two corpus-scale
    shuffles (digests, doc join) plus the digest-keyed dup join — each
    hash-partitioned, nothing global. The per-doc coverage mask is
    O(n_tokens × n_dup_starts) inside one lambda; dup starts per doc
    are bounded by doc length, and heavily-duplicated docs are exactly
    the ones about to shrink.

    Skew: a boilerplate digest with millions of positions concentrates
    join [3] on one task. AQE's skew split is byte-based, and a
    shuffle partition of near-identical rows (same 32-char digest)
    compresses 20-50× — measured at fixture scale, the HOT partition's
    compressed map output is *smaller* than a cold partition of unique
    digests, so byte-based detection cannot be relied on for
    identical-key row skew. Pass the known boilerplate digests as
    ``hot_digests`` (from a heavy-hitter pass, e.g. the
    count_min_heavy_grams sketch) to route join [3] through
    :func:`..skew.salt_skewed_join`: each hot digest's positions
    scatter over ``n_salts`` sub-keys (deterministic md5 of
    (doc_id, p)), the single dup row replicates per salt, and max task
    input for the hot key drops ~``n_salts``×. Result set is provably
    identical (pytest-pinned); cold digests join on salt 0 with zero
    overhead.
    """
    staged = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("_toks")
    )
    # sequence(1, 0) is DESCENDING in Spark — guard short docs explicitly
    pos_grams = F.when(
        F.size("_toks") >= gram,
        F.expr(
            f"transform(sequence(1, size(_toks) - {gram - 1}),"
            f" i -> struct(i AS p,"
            f" md5(array_join(slice(_toks, i, {gram}), ' ')) AS h))"
        ),
    ).otherwise(
        F.expr("CAST(array() AS array<struct<p: int, h: string>>)")
    )
    g = staged.select("doc_id", F.explode(pos_grams).alias("g")).select(
        "doc_id", F.col("g.p").alias("p"), F.col("g.h").alias("h")
    )
    dup = g.groupBy("h").agg(F.count(F.lit(1)).alias("_c")).where(
        F.col("_c") > 1
    ).select("h")
    if hot_digests:
        from .skew import salt_skewed_join

        g_keyed = g.withColumn(
            "_rk", F.concat_ws(":", F.col("doc_id"), F.col("p"))
        )
        joined = salt_skewed_join(
            g_keyed, dup, "h", hot_digests, "_rk", n_salts=n_salts
        ).drop("_rk")
    else:
        joined = g.join(dup, "h")
    starts = joined.groupBy("doc_id").agg(
        F.collect_list("p").alias("_starts")
    )
    masked = staged.join(starts, "doc_id", "left").select(
        "doc_id",
        "_toks",
        F.coalesce("_starts", F.expr("CAST(array() AS array<int>)")).alias(
            "_starts"
        ),
    )
    kept = F.expr(
        f"filter(sequence(1, size(_toks)),"
        f" i -> size(filter(_starts, s -> s >= i - {gram - 1} AND s <= i)) = 0)"
    )
    # stage the kept-index array so the transform doesn't re-evaluate the
    # coverage filter per element (no CSE inside lambdas — the
    # repetition_scores staging discipline)
    return (
        masked.select("doc_id", "_toks", kept.alias("_kept"))
        .select(
            "doc_id",
            F.size("_toks").cast("bigint").alias("n_tokens"),
            (F.size("_toks") - F.size("_kept")).cast("bigint").alias(
                "n_dropped"
            ),
            F.array_join(
                F.expr("transform(_kept, i -> element_at(_toks, i))"), " "
            ).alias("kept_text"),
        )
    )


def _band_keys_col(bands: int | None = None) -> F.Column:
    """The band keys of a `sig` column — shared by the batch self-join
    (:func:`minhash_lsh_pairs`) and the incremental join
    (:func:`minhash_dedup_incremental`), so both paths agree on what
    'candidate' means. ``bands`` defaults to the gate's LSH_BANDS; pass
    :func:`lsh_params_for_threshold`'s choice to tune candidate density
    for a target threshold / corpus density."""
    if bands is None:
        bands = LSH_BANDS
    if bands < 1 or MINHASH_K % bands != 0:
        raise ValueError(
            f"bands must divide MINHASH_K={MINHASH_K}, got {bands}"
        )
    rows_per_band = MINHASH_K // bands
    return F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(b),
                *[F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                  for r in range(rows_per_band)],
            )
            for b in range(bands)
        ]
    )


def minhash_dedup_incremental(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    jaccard_threshold: float = 0.5,
    bands: int | None = None,
) -> DataFrame:
    """Incremental near-dedup: flag documents of an INCOMING batch that
    near-duplicate the EXISTING corpus — the ingest-time shape of minhash
    dedup, where the corpus grows daily and re-deduplicating 100 TB per
    batch is not an option.

    Returns ``(new_doc, dup_of, est_jaccard)`` pairs (a new doc can match
    several existing docs; downstream keeps ``min(dup_of)`` or drops on
    any match).

    Scale contract: the existing side's SIGNATURES are a materialized
    asset (K ints/doc — ~100 GB for a 10⁹-doc corpus, vs the 100 TB
    text), appended to on every ingest; only the new batch is shingled
    and hashed. Here both signature tables derive from the fixture split
    so the oracle can reproduce them, but the join topology is the
    production one: banded equi-join new→existing (never new→new,
    never existing→existing), AQE skew handling on hot buckets.

    On dense corpora candidate count dominates (measured 17.5× wall for
    10× rows at a fixed permissive (4, 3) banding on the 31-word
    generated corpus — PLANS.md round-6 table); ``bands=None`` (the
    default) is therefore density-aware: :func:`bands_for_corpus`
    tightens the banding from measured new×existing bucket occupancy
    (measured back to ≤ linear under the default — PLANS.md round-7
    table). Pass explicit ``bands`` for fixed-banding oracle mode. Note
    the existing side's materialized signatures must be re-banded
    (cheap: K ints/doc, no re-shingling) when the banding changes.
    """
    sig_new = minhash_signatures(new_docs)
    sig_old = minhash_signatures(existing_docs)
    if bands is None:
        # persist both signature tables: the density probe and the join
        # would otherwise each re-shingle + re-hash their inputs
        sig_old = _track_persisted(sig_old)
        sig_new = _track_persisted(sig_new, release_previous=False)
        bands = bands_for_corpus(sig_new, jaccard_threshold, sig_other=sig_old)
    return incremental_flags_from_signatures(
        sig_new, sig_old, jaccard_threshold, bands
    )


def incremental_flags_from_signatures(
    sig_new: DataFrame,
    sig_old: DataFrame,
    jaccard_threshold: float,
    bands: int,
) -> DataFrame:
    """The banded new×existing join + verify stage over PRE-BUILT
    signature tables — shared by :func:`minhash_dedup_incremental` and
    the streaming ingest path (streaming/near_dedup.py), which holds
    the existing side's signatures as a persisted asset across
    micro-batches and must never re-shingle the corpus per batch."""
    banded_new = sig_new.select(
        F.col("doc_id").alias("new_doc"),
        F.col("sig").alias("sig_a"),
        F.explode(_band_keys_col(bands)).alias("band_key"),
    )
    banded_old = sig_old.select(
        F.col("doc_id").alias("dup_of"),
        F.col("sig").alias("sig_b"),
        F.explode(_band_keys_col(bands)).alias("band_key"),
    )
    cand = (
        banded_new.join(banded_old, "band_key")
        .dropDuplicates(["new_doc", "dup_of"])
    )
    est = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> CAST(x = y AS INT)),"
        " 0, (acc, v) -> acc + v)"
    ) / F.lit(float(MINHASH_K))
    return (
        cand.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= jaccard_threshold)
        .select("new_doc", "dup_of", "est_jaccard")
    )


def normalize_for_dedup(col: str = "text") -> F.Column:
    """The C4/RefinedWeb-style canonicalization key for "fuzzy-exact"
    dedup: lowercase, strip punctuation to spaces, collapse whitespace
    runs, trim. Catches re-wrapped / re-cased / re-punctuated copies
    that byte-exact hashing misses, without any pairwise machinery.

    Pure JVM expressions (lower + two regexp_replace + trim) in the
    Java-regex ∩ RE2 common dialect so the DuckDB oracle replays the
    exact same key.
    """
    lowered = F.lower(F.col(col))
    no_punct = F.regexp_replace(lowered, F.lit(r"[^a-z0-9\s]"), F.lit(" "))
    collapsed = F.regexp_replace(no_punct, F.lit(r"\s+"), F.lit(" "))
    return F.trim(collapsed)


def exact_dedup_normalized(docs: DataFrame) -> DataFrame:
    """Exact dedup over the normalized key (:func:`normalize_for_dedup`)
    — same contract and same single-hash-aggregate plan as
    :func:`exact_dedup` (keep the lowest doc_id per key, no sort, no
    pairwise anything at any scale); only the key changes, so copies
    differing in case / punctuation / whitespace now collapse."""
    return docs.groupBy(
        F.md5(normalize_for_dedup()).alias("content_hash")
    ).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    )


def corpus_delta(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot diff for iterative dataset builds: classify every doc_id
    across two corpus versions as ``added`` / ``removed`` / ``changed``
    / ``unchanged`` (by content hash) and census the classes — the
    audit a pipeline runs between dataset releases to see what an
    upstream change actually did.

    Plan: hash both sides in their scans (md5 only, text never moves),
    full-outer join on doc_id — ONE co-partitioned shuffle per side at
    any scale — then a tiny class census. At 100 TB both sides
    hash-partition on the same key, so the join is the only exchange
    and carries (doc_id, hash) pairs, not documents.
    """
    oh = old.select("doc_id", F.md5("text").alias("_h_old"))
    nh = new.select("doc_id", F.md5("text").alias("_h_new"))
    j = oh.join(nh, "doc_id", "full_outer")
    status = (
        F.when(F.col("_h_old").isNull(), F.lit("added"))
        .when(F.col("_h_new").isNull(), F.lit("removed"))
        .when(F.col("_h_old") == F.col("_h_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def shingle_containment_pairs(
    docs: DataFrame,
    containment_threshold: float = 0.8,
    min_length_ratio: float = 0.5,
    bands: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection: candidate pairs whose CONTAINMENT
    — |A∩B| / min(|A|, |B|) over distinct character shingles — reaches
    the threshold. Catches excerpt/superstring duplication (a document
    embedded inside a longer one) that symmetric Jaccard structurally
    under-scores: an excerpt at 10% of the host's length caps Jaccard
    at ~0.1 but has containment 1.0.

    Plan: candidates come from the SAME banded-LSH machinery as
    :func:`minhash_lsh_pairs` (never all-pairs) — but banded for the
    JACCARD floor the containment regime implies, not the containment
    threshold itself: a pair with containment c whose smaller doc has at
    least ``min_length_ratio`` = f of the larger's shingles satisfies
    J = |∩|/|∪| ≥ c·f / (1 + f − c·f) (e.g. c=0.8, f=0.5 → J ≥ 0.36),
    and band collision probability follows Jaccard. Banding at c
    directly would under-recall every asymmetric pair this operator
    exists to catch. Recall regime, stated honestly: excerpts SMALLER
    than ``min_length_ratio`` of their host sit below the banding's
    design floor and are increasingly missed — lower the ratio (more
    permissive banding, more candidates) to chase them, or use
    :func:`exact_substring_dedup`, which covers the tiny-excerpt regime
    by construction. The density guard (:func:`bands_for_corpus`)
    still tightens the permissive starting point if the corpus's
    measured bucket occupancy predicts a candidate blow-up, so the
    100 TB story is unchanged: occupancy-bounded, never all-pairs.

    Each candidate then verifies EXACTLY — both shingle sets join in by
    doc_id (bounded by candidate count, not corpus²) and
    ``array_intersect`` computes the true overlap. Output:
    (doc_a, doc_b, containment) exact doubles — an integer ratio, so
    cross-engine exact with no rounding.
    """
    if not 0.0 < min_length_ratio <= 1.0:
        raise ValueError(
            f"min_length_ratio must be in (0, 1], got {min_length_ratio}"
        )
    sig = _track_persisted(minhash_signatures(docs))
    if bands is None:
        c, f = containment_threshold, min_length_ratio
        implied_jaccard = (c * f) / (1.0 + f - c * f)
        bands = bands_for_corpus(sig, implied_jaccard)
    banded = sig.select(
        "doc_id", F.explode(_band_keys_col(bands)).alias("band_key")
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), "band_key")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates()
    )
    # NOTE (measured, generated sf1.0, 12.7M candidates): leave the
    # shingle side as a plain scan-fused projection. Persisting it
    # "to compute shingles once" measured 5.5x SLOWER (70.7s -> 390s)
    # and an ensure_min_parallelism repartition 1.2x slower (86.8s) —
    # the verify joins re-derive the projection per side, but Catalyst
    # keeps it fused with the columnar scan, which beats materializing
    # corpus-scale shingle arrays through memory or an exchange.
    sh = docs.select("doc_id", _shingles().alias("_sh"))
    joined = (
        cand.join(sh.withColumnRenamed("_sh", "_sh_a"),
                  cand.doc_a == sh.doc_id)
        .drop("doc_id")
        .join(sh.withColumnRenamed("_sh", "_sh_b"),
              F.col("doc_b") == sh.doc_id)
        .drop("doc_id")
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b")).cast("double")
    containment = inter / F.least(
        F.size("_sh_a"), F.size("_sh_b")
    ).cast("double")
    return (
        joined.withColumn("containment", containment)
        .where(F.col("containment") >= containment_threshold)
        .select("doc_a", "doc_b", "containment")
    )


def split_leakage_report(
    docs: DataFrame,
    jaccard_threshold: float = 0.8,
    bands: int | None = None,
) -> DataFrame:
    """Eval-leakage audit: census of near-duplicate pairs by the split
    pair their endpoints land in — the check that catches test-set
    contamination INTRODUCED BY the split itself (exact/near copies of
    a training document sitting in val/test, which no amount of
    within-split dedup can see).

    Input must carry a ``split`` column (from
    :func:`~openeo_odc_driver_spark.pipeline.sampling.assign_splits` —
    hash-based splits assign copies independently, so duplicates DO
    straddle splits in practice). Output: one row per unordered
    (split_a ≤ split_b) combination with its near-dup pair count —
    same-split rows included, so the report reads as a full matrix and
    the off-diagonal is the leakage.

    Plan: pairs come from :func:`minhash_lsh_pairs` (banded LSH, never
    all-pairs; exact duplicates match every band under any banding, so
    leakage recall for verbatim copies is 1 by construction). The pair
    table is then decorated with each endpoint's split via two
    BROADCAST joins of the (small, dup-bounded) pair set into the
    corpus-sized split table — the corpus never shuffles for the
    decoration. The census aggregation runs over ≤|splits|² keys.
    """
    pairs = minhash_lsh_pairs(
        docs.select("doc_id", "text"), jaccard_threshold, bands=bands
    ).select("doc_a", "doc_b")
    s = docs.select("doc_id", "split")
    j = (
        s.join(F.broadcast(pairs), s.doc_id == pairs.doc_a)
        .select("doc_b", F.col("split").alias("split_x"))
    )
    j2 = s.join(F.broadcast(j), s.doc_id == j.doc_b).select(
        "split_x", F.col("split").alias("split_y")
    )
    return (
        j2.select(
            F.least("split_x", "split_y").alias("split_a"),
            F.greatest("split_x", "split_y").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
