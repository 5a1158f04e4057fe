"""Similarity search over an embedding column (`array<float>`).

Baseline: brute-force cosine top-k (exact). Scale path: LSH-bucketed ANN
(random-hyperplane signs) that prunes the candidate set before the exact
rerank — the classic two-stage retrieve/rerank shape that holds at 100 TB
(bucket join instead of full cross join).

All arithmetic is fold-based ``aggregate(zip_with(...))`` on JVM-side
lambda expressions — no Python in the hot path; element order is the array
order in both Spark and DuckDB so doubles match bit-for-bit
(scratch/parity_probe2.py: dot_fold EXACT MATCH).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F


def dot_expr(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def norm_expr(a: str) -> F.Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: str, b: str) -> F.Column:
    return dot_expr(a, b) / F.nullif(norm_expr(a) * norm_expr(b), F.lit(0.0))


def brute_force_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact cosine top-k: queries × corpus, rank per query.

    Plan: the query side is broadcast (top-k serving workloads have small
    query batches); the corpus side streams — no shuffle of the corpus,
    then a per-query top-k via window over the (small) query-key partitions.
    Deterministic tie-break on vec_id.

    Norms are computed **once per vector**, not once per pair — the
    higher-order fold expressions are interpreted (not codegen'd), so at
    k queries this cuts fold work ~(2k+1)× on the corpus side. sqrt(aa)
    then multiply is bit-identical to the per-pair formulation.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    ).withColumn("q_norm", norm_expr("q_emb"))
    corpus = embeddings.withColumn("c_norm", norm_expr("embedding"))
    scored = corpus.crossJoin(F.broadcast(q)).where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = scored.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            dot_expr("q_emb", "embedding")
            / F.nullif(F.col("q_norm") * F.col("c_norm"), F.lit(0.0))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _hyperplane(dim: int, j: int) -> list[float]:
    """Deterministic pseudo-random hyperplane (no RNG at plan time —
    reproducible across runs/engines), splitmix64-mixed per (plane,
    coordinate).

    Round-6 fix: the previous strided-LCG pattern made planes j and j+1
    near-parallel (a fixed mod-1997 stride shifted per plane), so sign
    bits correlated and bucket mass concentrated — measured at 20k
    random unit vectors: 170 occupied buckets of 256, max occupancy
    1957 vs median 7.5, 12M candidate pairs where uniform occupancy
    predicts ~0.8M. Proper per-coordinate mixing restores independent
    planes; occupancy uniformity is pinned in
    tests/test_round6_ops.py::test_lsh_buckets_near_uniform."""
    out = []
    for i in range(dim):
        x = (j * 0x9E3779B97F4A7C15 + i * 0xBF58476D1CE4E5B9 + 0x1D8E4E27C47D124F) % (1 << 64)
        # splitmix64 finalizer
        x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 % (1 << 64)
        x = (x ^ (x >> 27)) * 0x94D049BB133111EB % (1 << 64)
        x ^= x >> 31
        # top 53 bits → uniform double in [-1, 1)
        out.append((x >> 11) / float(1 << 52) - 1.0)
    return out


def planes_for_corpus(n_vectors: int, target_occupancy: int = 8,
                      min_planes: int = 8, max_planes: int = 24) -> int:
    """Occupancy-aware hyperplane count: enough sign bits that the
    EXPECTED bucket occupancy n / 2^planes stays ≈ ``target_occupancy``.

    This is THE scale knob for every fixed-bucket LSH op
    (``embedding_cosine_dup_pairs``, ``lsh_bucket_ann``): within-bucket
    pair work is Σ occupancy² per bucket, so a bucket space that stays
    fixed while the corpus grows 10× makes candidate pairs grow ~100×
    (measured: embedding_cosine_dup_pairs 64× wall-clock for 10× rows at
    n_planes=8 — PLANS.md round-6 scale table). Growing planes with
    log2(n) keeps occupancy — and therefore per-row work — constant, at
    the usual LSH recall trade (more planes → more boundary splits →
    probe more neighbors or band more tables).
    """
    import math

    if n_vectors <= 0:
        return min_planes
    need = math.ceil(math.log2(max(n_vectors / target_occupancy, 1.0)))
    return max(min_planes, min(max_planes, need))


def lsh_bucket_col(emb: str, n_planes: int = 8, dim: int = 64) -> F.Column:
    """Random-hyperplane sign-bit bucket id (0 .. 2^n_planes − 1) as a pure
    fold expression — the shared blocking key for ANN search and embedding
    near-dup blocking. Deterministic across engines (same fold order)."""
    bits = []
    for j in range(n_planes):
        plane = _hyperplane(dim, j)
        # string-cast literals: both engines parse bare 17-digit decimal
        # literals through DECIMAL, which can land 1 ulp off strtod
        # (measured: 43/512 splitmix coefficients mismatch in DuckDB as
        # bare literals, 0 as string casts — the fixtures/_lit lesson)
        terms = ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in plane)
        arr = f"array({terms})"
        d = F.expr(
            f"aggregate(zip_with({emb}, {arr}, (x, y) -> CAST(x AS DOUBLE) * y),"
            f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bits.append(F.when(d > 0, F.lit(2 ** j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def lsh_bucket_sql(emb: str = "embedding", n_planes: int = 8, dim: int = 64) -> str:
    """DuckDB twin of :func:`lsh_bucket_col` (list_sum over the same
    per-element products; plane literals string-cast on both sides —
    bare decimal literals parse through DECIMAL 1 ulp off strtod)."""
    terms = []
    for j in range(n_planes):
        plane = _hyperplane(dim, j)
        arr = "[" + ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in plane) + "]"
        d = (
            f"list_sum(list_transform(range(1, {dim + 1}),"
            f" i -> CAST({emb}[i] AS DOUBLE) * ({arr})[i]))"
        )
        terms.append(f"(CASE WHEN {d} > 0 THEN {2 ** j} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INT)"


def ivf_flat_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat ANN: partition the corpus into inverted lists by nearest
    centroid; queries probe the ``nprobe`` nearest lists and rerank
    exactly within them.

    Centroids are a **deterministic sample** (the lowest `n_centroids`
    vec_ids) rather than k-means means: averaging float sums is not
    order-stable across engines, sampling is — and at 100 TB the sampled
    "pseudo-centroids" play the same role (a real deployment would plug
    trained centroids in as a literal table, which this plan shape
    accepts unchanged).

    Plan: centroid table broadcasts everywhere; list assignment is one
    pass over the corpus (n_centroids fold-dots per vector + one
    row_number); the probe join is an equi-join on cluster id. Corpus
    never self-joins, never shuffles beyond the final rerank window.

    Pass ``centroids`` — ``(cent_id, c_emb)``, e.g. reshaped from
    :func:`kmeans_train` via :func:`centroids_from_kmeans` — to replace
    the deterministic pseudo-centroids with trained ones; the plan shape
    is identical.
    """
    if centroids is None:
        centroids = embeddings.where(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
        )
    cents = centroids.withColumn("c_norm", norm_expr("c_emb"))

    def assign(df: DataFrame, id_col: str, emb_col: str, keep: int) -> DataFrame:
        scored = df.crossJoin(F.broadcast(cents)).withColumn(
            "_cs",
            dot_expr(emb_col, "c_emb")
            / F.nullif(norm_expr(emb_col) * F.col("c_norm"), F.lit(0.0)),
        )
        if keep == 1:
            # corpus-side nearest-centroid: max_by instead of a window —
            # same floats, same tie-break (struct ordering: NULL cosine
            # sorts smallest ≡ desc-nulls-last; -cent_id ≡ cent_id asc),
            # but the argmax partial-aggregates map-side so the exchange
            # carries n rows, not the n×k scored crossJoin with its
            # embedded arrays (the kmeans_train argmax discipline).
            carry = [c for c in df.columns if c != id_col]
            best = F.max_by(
                F.struct(F.col("cent_id"), *[F.col(c) for c in carry]),
                F.struct(F.col("_cs"), (-F.col("cent_id")).alias("_nc")),
            )
            return scored.groupBy(id_col).agg(best.alias("_b")).select(
                id_col, *[F.col(f"_b.{c}").alias(c) for c in ["cent_id", *carry]]
            )
        w = Window.partitionBy(id_col).orderBy(
            F.col("_cs").desc(), F.col("cent_id")
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= keep)
            .drop("_cs", "_rn", "c_emb", "c_norm")
        )

    corpus = assign(
        embeddings.withColumn("e_norm", norm_expr("embedding")),
        "vec_id", "embedding", 1,
    )
    q = assign(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        ).withColumn("q_norm", norm_expr("q_emb")),
        "query_id", "q_emb", nprobe,
    )
    cand = corpus.join(F.broadcast(q), "cent_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            dot_expr("q_emb", "embedding")
            / F.nullif(F.col("q_norm") * F.col("e_norm"), F.lit(0.0))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def lsh_bucket_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    probe_bits: int = 1,
) -> DataFrame:
    """ANN via random-hyperplane LSH: bucket = sign-bit signature;
    candidates share a probed bucket; exact cosine rerank within.

    **Multi-probe**: the query side also probes every bucket within
    Hamming distance ``probe_bits`` of its own (``probe_bits=1`` →
    n_planes + 1 probes; ``2`` → 1 + n + C(n,2)) — near neighbors that
    land just across one or two hyperplanes are recovered. This is the
    recall/candidate-count dial: with the r6 UNIFORM buckets each probe
    adds ~n/2^planes candidates, so recall rises monotonically in
    probe_bits at linearly growing candidate cost
    (tests/test_round6_ops.py::test_multiprobe_depth_lifts_recall).

    Scale: corpus bucketing is one pass (n_planes fold expressions); the
    join is an equi-join on bucket id; the probe fan-out multiplies only
    the tiny broadcast query side, never the corpus.
    """
    corpus = embeddings.withColumn(
        "bucket", lsh_bucket_col("embedding", n_planes, dim)
    ).withColumn("c_norm", norm_expr("embedding"))
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    ).withColumn("_b0", lsh_bucket_col("q_emb", n_planes, dim)).withColumn(
        "q_norm", norm_expr("q_emb")
    )
    # probe_bits=0 probes the own bucket only
    depth = max(0, probe_bits)
    from itertools import combinations

    masks = [0]
    for nbits in range(1, depth + 1):
        for bits in combinations(range(n_planes), nbits):
            masks.append(sum(2 ** b for b in bits))
    probes = F.array(*[F.expr(f"_b0 ^ {m}") for m in masks])
    q = q.select(
        "query_id", "q_emb", "q_norm", F.explode(probes).alias("bucket")
    )
    cand = corpus.join(F.broadcast(q), "bucket").where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            dot_expr("q_emb", "embedding")
            / F.nullif(F.col("q_norm") * F.col("c_norm"), F.lit(0.0))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# --- product quantization ---------------------------------------------------

PQ_M = 8          # subspaces (64-dim → 8 dims each)
PQ_K = 16         # codes per subspace
PQ_SCALE = 1 << 20  # dyadic grid for order-independent ADC sums


def _sub_l2_expr(a: str, b: str, s: str, sub_dim: int = 8) -> F.Column:
    """Squared L2 between the ``s``-th sub-slices of two vectors, as a
    fixed-order fold — bit-identical across engines."""
    return F.expr(
        f"aggregate(zip_with(slice({a}, {s} * {sub_dim} + 1, {sub_dim}),"
        f" slice({b}, {s} * {sub_dim} + 1, {sub_dim}),"
        f" (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        f" * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _pq_codebook(embeddings: DataFrame) -> DataFrame:
    """Deterministic pseudo-codebook: the first PQ_K corpus vectors donate
    their sub-slices (same rationale as ivf_flat_ann's pseudo-centroids —
    k-means means are not order-stable across engines; trained codebooks
    plug into the same plan as a literal table)."""
    return embeddings.where(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("code"), F.col("embedding").alias("c_emb")
    )


def pq_encode(embeddings: DataFrame) -> DataFrame:
    """Product-quantization encode: each vector → PQ_M codes of
    log2(PQ_K) bits (64 floats → 8 nibbles, a 64× memory cut) — the
    compression path that makes billion-vector ANN fit a cluster's RAM.

    Plan: corpus × broadcast codebook × subspace index, squared-L2 per
    sub-slice as a fixed-order fold, argmin per (vector, subspace) via
    min_by (ties → lowest code, deterministic; partial-aggregated
    map-side so the exchange carries n×M code rows, not the
    n×M×PQ_K scored expansion). One corpus pass — no corpus
    self-join, no window sort, no Python.
    """
    cb = _pq_codebook(embeddings)
    sub = (
        embeddings.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cb))
        .select(
            "vec_id",
            "code",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("s"),
            "embedding",
            "c_emb",
        )
        .withColumn("dist", _sub_l2_expr("embedding", "c_emb", "s"))
    )
    return (
        sub.groupBy("vec_id", "s")
        .agg(F.min_by("code", F.struct("dist", "code")).alias("code"))
        .select("vec_id", F.col("s").cast("int").alias("s"), "code")
    )


def pq_ann(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """ANN by asymmetric distance computation over PQ codes: the query
    keeps full precision, the corpus is its codes; distance ≈ Σ_s
    d(query_sub_s, codebook[code_s]).

    The per-subspace distances are snapped to a dyadic 2^-20 grid and
    summed as BIGINTs — addition of doubles is not associativity-safe
    across engines, integer sums are — then ranked (sum, neighbor_id),
    fully deterministic.

    Plan at scale: the corpus is touched ONCE to encode (or pre-encoded
    offline); the ADC lookup table is queries × PQ_M × PQ_K rows —
    broadcast — and the join key is (s, code): the corpus codes stream
    through a broadcast hash join, then one aggregation per (query,
    vector) and the per-query top-k window. The full-precision corpus
    vectors are never read at query time.
    """
    codes = pq_encode(embeddings)
    cb = _pq_codebook(embeddings)
    lut = (
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
        .crossJoin(F.broadcast(cb))
        .select(
            "query_id",
            "code",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("s"),
            "q_emb",
            "c_emb",
        )
        .withColumn(
            "dq",
            F.floor(
                _sub_l2_expr("q_emb", "c_emb", "s") * F.lit(float(PQ_SCALE))
                + F.lit(0.5)
            ).cast("bigint"),
        )
        .select("query_id", F.col("s").cast("int").alias("s"), "code", "dq")
    )
    scored = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dq").alias("approx_dq"))
    )
    w = Window.partitionBy("query_id").orderBy("approx_dq", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            (F.col("approx_dq") / F.lit(float(PQ_SCALE))).alias("approx_dist"),
        )
    )


def embedding_int8_quantize(embeddings: DataFrame) -> DataFrame:
    """Symmetric per-dimension int8 quantization of the embedding column
    — the 4× memory cut a serving/ANN tier applies before indexing
    (q = floor(127·v/scale_d + 0.5), scale_d = max |v| over the corpus
    in dimension d; dequant = q·scale_d/127).

    Returns ``(vec_id, dim, q, scale)`` — exploded form so the oracle
    compares scalars; re-assembly to arrays is a sort-by-dim
    ``collect_list`` when materializing.

    Plan at scale: one posexplode pass (preserves scan partitioning) →
    a 1-row-per-dimension aggregate (map-side partial combine, the
    shuffle moves dims × partitions rows only) → the dim-sized scale
    table broadcasts back onto the exploded stream — the corpus itself
    never shuffles. Determinism: max of identical doubles is exact;
    127·v/s and floor are the same IEEE-754 ops on both engines (the
    pq_ann dyadic idiom).
    """
    vals = embeddings.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select("vec_id", "dim", F.col("v").cast("double").alias("v"))
    scales = vals.groupBy("dim").agg(F.max(F.abs("v")).alias("scale"))
    q = F.floor(
        F.col("v") * F.lit(127.0) / F.nullif(F.col("scale"), F.lit(0.0))
        + F.lit(0.5)
    ).cast("int")
    return vals.join(F.broadcast(scales), "dim").select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        F.coalesce(q, F.lit(0)).alias("q"),
        "scale",
    )


def ivf_pq_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ ANN (the FAISS IVFPQ shape, no-residual variant): the
    corpus is partitioned into inverted lists by nearest centroid AND
    compressed to PQ codes; a query probes its ``nprobe`` nearest lists
    and scores candidates by ADC lookup over the codes — full-precision
    corpus vectors are never touched at query time. This is the
    composition that serves billion-vector search from RAM: IVF bounds
    the candidate set, PQ bounds the bytes per candidate.

    Determinism: the same dyadic-grid BIGINT ADC sums as :func:`pq_ann`
    (order-free integer arithmetic), rank ties → neighbor_id.

    Plan at scale (offline): ONE corpus pass assigns lists (broadcast
    centroids + per-vector max_by), then encodes codes carrying the
    list id — codes+list is the serving table (M small ints + one int
    per vector). (Query time): probes and the ADC LUT are
    queries×nprobe / queries×M×PQ_K rows — both broadcast; corpus codes
    stream through two broadcast hash joins, then one partial-aggregated
    sum per (query, candidate) and the per-query top-k window. The only
    shuffle is candidate-sized (× nprobe/n_centroids of the corpus),
    never corpus-sized.
    """
    if centroids is None:
        centroids = embeddings.where(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
        )
    cents = centroids.withColumn("c_norm", norm_expr("c_emb"))

    # corpus: nearest list per vector (one pass), then PQ-encode carrying
    # the list id — no corpus-side join between assignment and codes.
    # Round-15 optimization: both corpus-side argselects run as
    # partial-aggregated max_by/min_by (the kmeans_train / ivf_flat_ann
    # / pq_encode argmax discipline) instead of row_number windows — the
    # window form shuffled the n×k scored crossJoin (embedding arrays
    # embedded, ×k) and the n×PQ_K×M code expansion; the agg form's
    # exchanges carry n and n×M rows after map-side combine. Same floats
    # and tie-breaks (struct ordering: NULL sorts smallest ≡
    # desc-nulls-last; -cent_id ≡ cent_id asc / min dist ties → lowest
    # code).
    scored = embeddings.withColumn("e_norm", norm_expr("embedding")).crossJoin(
        F.broadcast(cents)
    ).withColumn(
        "_cs",
        dot_expr("embedding", "c_emb")
        / F.nullif(F.col("e_norm") * F.col("c_norm"), F.lit(0.0)),
    )
    best = F.max_by(
        F.struct(F.col("cent_id"), F.col("embedding")),
        F.struct(F.col("_cs"), (-F.col("cent_id")).alias("_nc")),
    )
    assigned = (
        scored.groupBy("vec_id")
        .agg(best.alias("_b"))
        .select(
            "vec_id",
            F.col("_b.embedding").alias("embedding"),
            F.col("_b.cent_id").alias("list_id"),
        )
    )
    cb = _pq_codebook(embeddings)
    sub = (
        assigned.crossJoin(F.broadcast(cb))
        .select(
            "vec_id",
            "list_id",
            "code",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("s"),
            "embedding",
            "c_emb",
        )
        .withColumn("dist", _sub_l2_expr("embedding", "c_emb", "s"))
    )
    codes = (
        sub.groupBy("vec_id", "s")
        .agg(
            F.min_by(
                F.struct(F.col("code"), F.col("list_id")),
                F.struct(F.col("dist"), F.col("code")),
            ).alias("_b")
        )
        .select(
            "vec_id",
            F.col("_b.list_id").alias("list_id"),
            F.col("s").cast("int").alias("s"),
            F.col("_b.code").alias("code"),
        )
    )

    # queries: nprobe nearest lists + the ADC lookup table, both broadcast
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    qscored = q.withColumn("q_norm", norm_expr("q_emb")).crossJoin(
        F.broadcast(cents)
    ).withColumn(
        "_cs",
        dot_expr("q_emb", "c_emb")
        / F.nullif(F.col("q_norm") * F.col("c_norm"), F.lit(0.0)),
    )
    w3 = Window.partitionBy("query_id").orderBy(F.col("_cs").desc(), F.col("cent_id"))
    probes = (
        qscored.withColumn("_rn", F.row_number().over(w3))
        .where(F.col("_rn") <= nprobe)
        .select("query_id", F.col("cent_id").alias("list_id"))
    )
    lut = (
        q.crossJoin(F.broadcast(cb))
        .select(
            "query_id",
            "code",
            F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("s"),
            "q_emb",
            "c_emb",
        )
        .withColumn(
            "dq",
            F.floor(
                _sub_l2_expr("q_emb", "c_emb", "s") * F.lit(float(PQ_SCALE))
                + F.lit(0.5)
            ).cast("bigint"),
        )
        .select("query_id", F.col("s").cast("int").alias("s"), "code", "dq")
    )

    cand = codes.join(F.broadcast(probes), "list_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    scored2 = (
        cand.join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dq").alias("approx_dq"))
    )
    w4 = Window.partitionBy("query_id").orderBy("approx_dq", "neighbor_id")
    return (
        scored2.withColumn("rank", F.row_number().over(w4))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            (F.col("approx_dq") / F.lit(float(PQ_SCALE))).alias("approx_dist"),
        )
    )


def assign_nearest_centroid_vectorized(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    out_col: str = "cluster_id",
) -> DataFrame:
    """Nearest-centroid assignment as ONE Arrow-batched matmul pass —
    the large-k scale path for IVF / SemDeDup assignment.

    The fold-expression assignment (crossJoin + per-centroid
    ``aggregate(zip_with(...))``) is interpreted per (row, centroid):
    measured ~6 µs per 64-dim dot, so 20k rows × 160 centroids already
    costs ~19 s — and SemDeDup-scale k (~100k) is unreachable. Here the
    centroid matrix (k×dim float64) is a broadcast numpy array and each
    Arrow batch does ONE BLAS matmul + argmax: 20k×160 drops to
    sub-second, and cost scales as n·k FLOPs instead of n·k interpreted
    lambda evaluations.

    Parity caveat (why this is OPT-IN, not the gate default): numpy uses
    pairwise/blocked summation while the fold sums sequentially, so
    cosines can differ in the last ulp and flip argmax on exact
    near-ties. On real embeddings ties are measure-zero;
    tests/test_round6_ops.py pins fold ≡ vectorized on the fixture.
    Ties broken toward the LOWER cent_id, matching the fold path's
    row_number ordering.
    """
    import numpy as np
    import pandas as pd
    from typing import Iterator as _It

    rows = centroids.select("cent_id", "c_emb").collect()  # k×dim, bounded
    if not rows:
        raise ValueError("assign_nearest_centroid_vectorized: empty "
                         "centroid table (the fold path would emit no "
                         "assignments; pass at least one centroid)")
    spark = embeddings.sparkSession
    cent_ids = np.array([r.cent_id for r in rows], dtype="int64")
    cmat = np.array([list(r.c_emb) for r in rows], dtype="float64")
    cnorm = np.linalg.norm(cmat, axis=1)
    dead = cnorm == 0.0  # zero centroid: fold path yields NULL cosine,
    cnorm[dead] = 1.0    # which sorts LAST — mask to -inf below so it
    order = np.argsort(cent_ids, kind="stable")  # can never win argmax
    cent_ids, dead = cent_ids[order], dead[order]
    unit = (cmat / cnorm[:, None])[order]
    b = spark.sparkContext.broadcast((cent_ids, unit, dead))

    # preserve the input embedding element type (array<float> vs
    # array<double>) — narrowing to float32 here would desynchronize
    # e_norm (full precision) from the emitted coordinates
    emb_type = embeddings.schema[emb_col].dataType.simpleString()
    # cent_ids are int64 (pseudo-centroids are corpus vec_ids — longs);
    # an int32 output would silently wrap ids past 2^31
    out_schema = (
        f"{id_col} long, {emb_col} {emb_type}, e_norm double, {out_col} long"
    )

    def assign(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        ids, unit_c, dead_c = b.value
        for pdf in batches:
            if pdf.empty:  # shape-(0,) ndarray would break axis=1 norms
                continue
            emb = np.array([list(v) for v in pdf[emb_col]], dtype="float64")
            norms = np.linalg.norm(emb, axis=1)
            safe = np.where(norms == 0.0, np.inf, norms)
            cs = (emb / safe[:, None]) @ unit_c.T  # (batch, k) cosines
            cs[:, dead_c] = -np.inf  # zero centroids sort last (≙ NULL)
            best = np.argmax(cs, axis=1)  # first (lowest cent_id) wins ties
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                emb_col: pdf[emb_col],
                "e_norm": norms,
                out_col: ids[best],
            })

    return embeddings.select(id_col, emb_col).mapInPandas(assign, out_schema)


def assign_nearest_centroid_foldexact(
    embeddings: DataFrame,
    centroid_rows: list,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    out_col: str = "cluster_id",
    with_norm: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment with the FOLD path's exact float
    semantics, executed as vectorized numpy instead of interpreted
    per-(row, centroid) lambda evaluations (round-16 optimization,
    guide §4.2: the Lloyd loop pays the interpreted fold every
    iteration — measured ~1 s/iteration at 2000×16×64 on the sf0.1
    fixture, ~6 µs per interpreted 64-dim dot).

    Boundary discipline: ONLY the winning ``cent_id`` (a long) crosses
    back from Python — a scalar Arrow pandas_udf ADDS the column while
    the embedding array itself never round-trips (pandas→JVM coerces
    NaN to NULL, both top-level and inside arrays — measured — so any
    float column emitted from Python could corrupt NaN payloads).
    ``e_norm`` stays the JVM ``norm_expr`` fold — exact SQL floats at
    1/k of the old per-(row, centroid) fold cost.

    Bit-identity argument for the argmax decision (this is NOT the
    BLAS matmul of :func:`assign_nearest_centroid_vectorized`, whose
    pairwise summation can flip last-ulp ties):

    - dot: ``aggregate(zip_with(e, c, (x,y) -> double(x)*double(y)),
      0.0d, (acc,v) -> acc+v)`` is a SEQUENTIAL left fold. The numpy
      loop accumulates ``acc += e[:, d] * c[:, d]`` in the same dim
      order over float64 — each product and each addition is one
      correctly-rounded IEEE op in the identical order, so every
      partial sum is bit-identical.
    - norms: ``sqrt(dot(a, a))`` with the same sequential sum; sqrt is
      correctly rounded in both engines.
    - cosine: one multiply (e_norm·c_norm) and one divide — identical.
    - NULL semantics: a zero denominator yields NULL in SQL, which the
      max_by struct order sorts SMALLEST; here those cells become
      -inf, which loses to every finite cosine. If a row's cosines are
      ALL NULL (zero embedding), max_by falls to the -cent_id
      tie-break and picks the lowest cent_id; all--inf argmax likewise
      returns the first (lowest) cent_id.
    - ties/NaN: argmax returns the FIRST maximum — the lowest cent_id,
      matching the max_by ``struct(_cs, -cent_id)`` tie-break; a NaN
      cosine sorts largest in Spark's double order and ``np.argmax``
      returns the first NaN index, which is again the lowest cent_id
      holding NaN. A NULL embedding ELEMENT (arrives in Python as NaN)
      poisons that row's k cosines equally — SQL all-NULL and numpy
      all-NaN both resolve to the lowest cent_id.
    - centroid arrays must be NULL-free: a NULL-element centroid would
      give a NULL cosine column in SQL (always loses) but a NaN column
      here (always wins) — rejected loudly below instead of silently
      diverging; every caller's centroids are collected corpus rows or
      quantized Python floats, which cannot carry NULL elements.

    ``centroid_rows`` is a collected list of (cent_id, c_emb) (the
    centroid table is k rows and gets collected/broadcast either way).
    ``with_norm`` additionally emits the JVM-fold ``e_norm`` column.
    Bit-parity with the SQL fold is pinned by
    tests/test_round16_opt.py on random float64/float32 data and on
    adversarial tie/zero/NaN cases.
    """
    import numpy as np

    if not centroid_rows:
        raise ValueError("assign_nearest_centroid_foldexact: empty "
                         "centroid table")
    for r in centroid_rows:
        if r[1] is None or any(v is None for v in r[1]):
            raise ValueError(
                "assign_nearest_centroid_foldexact: centroid "
                f"{r[0]} carries NULL elements — the SQL fold and the "
                "numpy path diverge on NULL-element centroids"
            )
    spark = embeddings.sparkSession
    cent_ids = np.array([int(r[0]) for r in centroid_rows], dtype="int64")
    cmat = np.array([list(r[1]) for r in centroid_rows], dtype="float64")
    order = np.argsort(cent_ids, kind="stable")
    cent_ids, cmat = cent_ids[order], cmat[order]
    # c_norm by the same sequential fold the SQL side evaluates
    c_acc = np.zeros(cmat.shape[0], dtype="float64")
    for d in range(cmat.shape[1]):
        c_acc = c_acc + cmat[:, d] * cmat[:, d]
    c_norm = np.sqrt(c_acc)
    b = spark.sparkContext.broadcast((cent_ids, cmat, c_norm))

    @F.pandas_udf("long")
    def _nearest(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        ids, cm, cn = b.value
        k, cdim = cm.shape
        for s in batches:
            if s.empty:
                yield pd.Series([], dtype="int64")
                continue
            emb = np.array([list(v) for v in s], dtype="float64")
            n, dim = emb.shape
            if dim != cdim:
                raise ValueError(
                    f"embedding dim {dim} != centroid dim {cdim}"
                )
            dots = np.zeros((n, k), dtype="float64")
            e_acc = np.zeros(n, dtype="float64")
            for d in range(dim):
                ed = emb[:, d]
                dots = dots + ed[:, None] * cm[None, :, d]
                e_acc = e_acc + ed * ed
            e_norm = np.sqrt(e_acc)
            denom = e_norm[:, None] * cn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cs = dots / denom
            cs[denom == 0.0] = -np.inf  # NULL cosine sorts smallest
            best = np.argmax(cs, axis=1)  # first max = lowest cent_id
            yield pd.Series(ids[best])

    cols = [F.col(id_col), F.col(emb_col)]
    if with_norm:
        cols.append(norm_expr(emb_col).alias("e_norm"))
    cols.append(_nearest(F.col(emb_col)).alias(out_col))
    return embeddings.select(*cols)


VECTORIZE_K_THRESHOLD = 64  # assignment engine: fold below, matmul at/above


def centroids_for_corpus(
    n_vectors: int,
    target_cluster_size: int = 1024,
    min_centroids: int = 16,
    max_centroids: int = 1 << 20,
) -> int:
    """Corpus-adaptive centroid count for :func:`semantic_dedup_clusters`:
    enough clusters that the EXPECTED cluster size ``n / k`` stays
    ≈ ``target_cluster_size``, so within-cluster pair work
    (Σ cluster² ≈ n·m) grows LINEARLY with the corpus instead of n²/k
    under a fixed k (measured 16.06× wall at 10× rows with the old
    fixed k=16 — the worst ratio in the round-7 scale table; VERDICT
    r7 item 3). The sibling knobs already work this way
    (:func:`planes_for_corpus`, ``bands_for_corpus``); SemDeDup itself
    scales k with the corpus (~100k clusters for ~5B embeddings —
    tens of thousands of vectors per cluster; the smaller default here
    keeps per-cluster BLAS blocks comfortably in-memory and is the
    same Σm² = n·m total work per unit corpus)."""
    import math

    if n_vectors <= 0:
        return min_centroids
    need = math.ceil(n_vectors / target_cluster_size)
    return max(min_centroids, min(max_centroids, need))


def _vectorize(k: int) -> bool:
    """The centroid-assignment engine for ``k`` centroids: the Arrow
    matmul of :func:`assign_nearest_centroid_vectorized` at or above
    ``VECTORIZE_K_THRESHOLD``, the fold semantics of
    :func:`assign_nearest_centroid_foldexact` below it."""
    return k >= VECTORIZE_K_THRESHOLD


def _semdedup_members(
    embeddings: DataFrame,
    n_centroids: int | None,
    centroids: DataFrame | None,
) -> DataFrame:
    """The centroid assignment of :func:`semantic_dedup_clusters`:
    ``(cluster_id, vec_id, embedding, e_norm)`` per vector, before the
    caller's checkpoint (its plan is the assignment-stage lineage)."""
    if centroids is None:
        if n_centroids is None:
            n_centroids = centroids_for_corpus(embeddings.count())
        k = n_centroids
        centroids = embeddings.where(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
        )
    else:
        # the centroid table is k rows (it gets collected/broadcast
        # either way), so counting it to pick the engine is free
        k = centroids.count()
    if _vectorize(k):
        return assign_nearest_centroid_vectorized(embeddings, centroids)
    # fold SEMANTICS, numpy execution (round-16, guide §4.2): the
    # interpreted per-(row, centroid) fold dominated the small-k
    # assignment (~1 s at 2000×16×64);
    # assign_nearest_centroid_foldexact reproduces the fold's
    # sequential-sum cosines, e_norm, NULL handling and argmax
    # tie-break bit-for-bit (tests/test_round16_opt.py), so the
    # DuckDB twins that re-state the fold floats cannot move.
    return assign_nearest_centroid_foldexact(
        embeddings,
        centroids.select("cent_id", "c_emb").collect(),
        with_norm=True,
    )


def semantic_dedup_clusters(
    embeddings: DataFrame,
    n_centroids: int | None = None,
    threshold: float = 0.95,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication census: partition vectors by
    nearest pseudo-centroid, then inside each cluster drop any vector
    that has a LOWER-id neighbor above the cosine threshold ("min-id
    wins" — the deterministic, join-expressible special case of the
    paper's cluster-local dedup; no iterative connected components).

    Returns ``(cluster_id, n_members, n_dropped, n_kept)`` per cluster —
    the census a keep-list filter acts on.

    Plan: centroid assignment is the ivf_flat_ann machinery (broadcast
    centroids, one pass, one row_number); the dedup test is a self
    equi-join ON cluster id only — pairwise work is O(Σ cluster²), never
    corpus². ``n_centroids=None`` (the SHIPPED default since round 8)
    derives k from the corpus via :func:`centroids_for_corpus` (one
    count job, amortized over the whole dedup), holding expected
    cluster size — and therefore per-vector pair work — constant as
    the corpus grows; pass an int to pin k (the oracle-mode gate rows
    pin 16/160 with a drift assert on the auto choice). Skewed
    clusters split under AQE; the join is shuffle-partitioned by
    cluster id.

    The centroid-assignment engine follows k (round 7): fold
    expressions below ``VECTORIZE_K_THRESHOLD`` centroids, the Arrow
    matmul of :func:`assign_nearest_centroid_vectorized` at or above it
    — the fold path is interpreted per (row, centroid) (measured 17 s →
    4 s at 20k×160, the gap linear in k), so SemDeDup-scale k is only
    reachable vectorized, while small k stays on the fold semantics
    whose floats the DuckDB oracle reproduces bit-exactly (the ulp
    caveat on the vectorized path is in its docstring, and fold ≡
    vectorized is pinned on the fixture at 300×24 by
    tests/test_round6_ops.py).
    """
    # Round-15 optimization (guide §3.3/§5, the pagerank/kmeans
    # discipline): `members` feeds BOTH sides of the pairwise self-join
    # AND the final census join — three references, each re-running the
    # corpus-wide centroid assignment (22 Exchanges, 0 ReusedExchange
    # before; assignment subtrees with fold expressions never
    # canonicalize equal across aliases). localCheckpoint evaluates the
    # assignment once per call; floats unchanged (same rows), and each
    # invocation still computes fresh from the inputs. eager=False
    # (round-16, guide §5): the plan is truncated either way, but the
    # lazy form materializes inside the first action instead of a
    # separate per-invocation barrier job (the r15 eager barrier cost
    # semantic_dedup_auto ~1.6 s at sf0.1, driver best-of-n).
    members = _semdedup_members(
        embeddings, n_centroids, centroids
    ).localCheckpoint(eager=False)
    a = members.select(
        "cluster_id", F.col("vec_id").alias("vid_a"),
        F.col("embedding").alias("emb_a"), F.col("e_norm").alias("norm_a"),
    )
    b = members.select(
        "cluster_id", F.col("vec_id").alias("vid_b"),
        F.col("embedding").alias("emb_b"), F.col("e_norm").alias("norm_b"),
    )
    dropped = (
        a.join(b, "cluster_id")
        .where(F.col("vid_a") < F.col("vid_b"))
        .withColumn(
            "_cos",
            dot_expr("emb_a", "emb_b")
            / F.nullif(F.col("norm_a") * F.col("norm_b"), F.lit(0.0)),
        )
        .where(F.col("_cos") >= F.lit(float(threshold)))
        .select("cluster_id", F.col("vid_b").alias("vec_id"))
        .distinct()
    )
    return (
        members.join(dropped.withColumn("_d", F.lit(1)), ["cluster_id", "vec_id"], "left")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.when(F.col("_d") == 1, 1).otherwise(0))
            .cast("bigint").alias("n_dropped"),
            F.sum(F.when(F.col("_d").isNull(), 1).otherwise(0))
            .cast("bigint").alias("n_kept"),
        )
    )


def kmeans_train(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 3,
    quant: int = 6,
) -> DataFrame:
    """Spherical k-means (Lloyd) centroid training — the real-centroid
    path that :func:`ivf_flat_ann` / :func:`semantic_dedup_clusters`
    plug in at scale instead of their deterministic pseudo-centroids.

    Deterministic by construction, so the gate can pin exact expected
    values: init = the lowest-``k`` vec_ids; assignment by cosine
    (scale-invariant, so un-normalized dim means work as centroids);
    after every iteration each centroid coordinate is ROUNDED to
    ``quant`` decimals — float dim-means are summation-order-sensitive
    at the 1e-13 level across partitionings, and quantization absorbs
    that before it can flip an assignment (bit-stability across shuffle
    layouts is checked by scratch/gen_fixed_oracles.py).

    Returns ``(cent_id, n_members, dim, coord)`` — one row per centroid
    coordinate, sizes repeated per dim.

    Plan per iteration: centroids broadcast as a literal table (k×dim
    doubles); one pass assigns — below ``VECTORIZE_K_THRESHOLD`` via
    the fold-dot cosine with a max_by argmax (partial-aggregated
    map-side, so the exchange carries n assigned rows, never the n×k
    scored crossJoin), at/above it via
    :func:`assign_nearest_centroid_vectorized` (one Arrow matmul per
    batch — the fold is interpreted per (row, centroid) and Lloyd pays
    it every iteration; the same engine choice as
    :func:`semantic_dedup_clusters`; the per-iteration coordinate
    quantization absorbs the matmul's last-ulp summation-order noise
    before it can flip a later assignment, double-run-checked at
    fixture capture); then posexplode +
    partial-aggregated per-(centroid, dim) means whose shuffle is
    k×dim-sized after map-side combine, with the member count riding
    the same aggregation (no extra sizes pass after the loop). The
    per-iteration driver round-trip is k×dim floats (the standard
    iterative-ML pattern; convergence control needs the driver). Empty
    clusters keep their previous centroid.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # Iterative-algorithm lineage discipline (round-15 optimization,
    # same as pagerank_integer): the Lloyd loop references the corpus
    # iters times (plus the dim probe and the init collect), so a
    # derived embeddings table re-executes its upstream subtree once
    # per reference. localCheckpoint materializes it ONCE per call —
    # values unchanged (same rows in, and every downstream aggregate is
    # order-quantized), and each invocation still computes fresh from
    # the inputs. eager=False: materialize inside the first action (the
    # dim probe), not as a separate barrier job (round-16, guide §5).
    embeddings = embeddings.localCheckpoint(eager=False)
    spark = embeddings.sparkSession
    dim = len(
        embeddings.where(F.col("vec_id") < 1).select("embedding").first()[0]
    )
    # contract: every embedding is a non-empty, same-length array. A
    # zero-length vector would posexplode to NOTHING, so it would be
    # assigned by the argmax yet silently excluded from the per-cluster
    # member counts (ADVICE r6) — fail loudly instead of miscounting.
    if dim == 0:
        raise ValueError(
            "kmeans_train: embeddings must be non-empty arrays (vec_id<1 "
            "row has dim 0)"
        )
    init = (
        embeddings.where(F.col("vec_id") < k)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    cents = [
        [round(float(v), quant) for v in r[0]] for r in init
    ]

    def cents_df():
        return spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "cent_id int, c_emb array<double>",
        ).withColumn("c_norm", norm_expr("c_emb"))

    emb_n = embeddings.withColumn("e_norm", norm_expr("embedding"))

    for _ in range(iters):
        if _vectorize(k):
            assigned = assign_nearest_centroid_vectorized(
                emb_n, cents_df(), out_col="cent_id"
            ).select("vec_id", "embedding", "cent_id")
        else:
            # fold SEMANTICS, numpy execution (round-16, guide §4.2):
            # the interpreted per-(row, centroid) fold cost ~1 s per
            # Lloyd iteration at fixture scale;
            # assign_nearest_centroid_foldexact reproduces the fold's
            # sequential-sum floats, NULL handling and argmax
            # tie-break bit-for-bit (pinned by
            # tests/test_round16_opt.py), so the trained centroids —
            # and every snapshot oracle downstream — cannot move.
            assigned = assign_nearest_centroid_foldexact(
                embeddings,
                [(i, c) for i, c in enumerate(cents)],
                out_col="cent_id",
            ).select("vec_id", "embedding", "cent_id")
        # member count rides the same aggregation (the dim-0 row's count
        # IS the cluster size), so the final sizes need no extra
        # assignment pass over the corpus after the loop
        means = (
            assigned.select(
                "cent_id", F.posexplode("embedding").alias("dim", "v")
            )
            .groupBy("cent_id", "dim")
            .agg(
                F.avg(F.col("v").cast("double")).alias("m"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new = {c: list(vec) for c, vec in enumerate(cents)}  # keep empties
        for r in means:
            new.setdefault(r.cent_id, [0.0] * dim)
        for r in means:
            new[r.cent_id][r.dim] = round(float(r.m), quant)
        cents = [new[i] for i in range(k)]
        sizes = {r.cent_id: int(r.n) for r in means if r.dim == 0}

    return spark.createDataFrame(
        [
            (i, sizes.get(i, 0), d, cents[i][d])
            for i in range(k)
            for d in range(dim)
        ],
        "cent_id int, n_members bigint, dim int, coord double",
    )


def centroids_from_kmeans(trained: DataFrame) -> DataFrame:
    """Reshape :func:`kmeans_train` output ``(cent_id, n_members, dim,
    coord)`` into the ``(cent_id, c_emb)`` table :func:`ivf_flat_ann` /
    :func:`semantic_dedup_clusters` accept — sort-by-dim array_agg, one
    tiny aggregation."""
    return (
        trained.groupBy("cent_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "coord"))
            ).alias("_dc")
        )
        .select(
            "cent_id",
            F.expr("transform(_dc, s -> s.coord)").alias("c_emb"),
        )
    )


def decontaminate_semantic(
    corpus: DataFrame, evalset: DataFrame, threshold: float = 0.97
) -> DataFrame:
    """Embedding-space benchmark decontamination: drop corpus vectors
    whose cosine to ANY eval-set vector reaches ``threshold`` — the
    semantic sibling of the exact / n-gram / Bloom text decontaminators
    (``pipeline/dedup.py``), catching paraphrased or re-formatted test
    leakage that verbatim matching misses.

    Plan: eval suites are tiny relative to the corpus, so the eval side
    broadcasts and Spark runs a BroadcastNestedLoopJoin LeftAnti — the
    corpus streams through ONE scan with zero shuffle and zero corpus
    materialization; each corpus row is scored against the |eval|
    broadcast rows with the same fold-ordered cosine every other
    similarity op uses (bit-identical to the DuckDB oracle's
    sequential list_sum). At 100 TB the cost is |corpus| x |eval|
    fold-dots with no exchange at all — embarrassingly parallel,
    scan-bound, and |eval| (a benchmark suite) is O(10^3-10^4); for
    much larger eval sides, pre-bucket both with the LSH hyperplanes
    (`lsh_bucket_ann`) and anti-join on bucket candidates instead.

    Output: the surviving corpus rows, unchanged schema.
    """
    cos = cosine_expr("embedding", "q_emb")
    ev = evalset.select(F.col("embedding").alias("q_emb"))
    return corpus.join(F.broadcast(ev), cos >= F.lit(threshold), "left_anti")


def decontaminate_semantic_lsh(
    corpus: DataFrame,
    evalset: DataFrame,
    threshold: float = 0.97,
    n_planes: int = 8,
    probe_bits: int = 1,
) -> DataFrame:
    """The large-eval-set scale path for :func:`decontaminate_semantic`:
    LSH-bucket both sides and only cosine-score corpus rows against
    eval vectors sharing a (multi-probed) bucket — candidate-bounded
    where the exact form is |corpus| × |eval|.

    APPROXIMATE by design (a contaminated row whose bucket differs
    from every probe survives) — the standard recall/cost dial, and the
    multi-probe depth is the knob, exactly as in :func:`lsh_bucket_ann`.
    The oracle twin mirrors the same bucketing, so the gate pins the
    approximation's exact output, not a fuzzy subset.

    Plan: corpus bucketing rides the scan; the probed eval side (tiny ×
    (1 + n_planes) masks) broadcasts into an equi-join on bucket; the
    hit set is distinct vec_ids (bounded by contamination count) and
    anti-joins back — the corpus shuffles ZERO times.
    """
    from itertools import combinations

    cb = corpus.withColumn("_b", lsh_bucket_col("embedding", n_planes))
    ev = evalset.select(
        F.col("embedding").alias("q_emb")
    ).withColumn("_b0", lsh_bucket_col("q_emb", n_planes))
    masks = [0]
    for nbits in range(1, max(0, probe_bits) + 1):
        for bits in combinations(range(n_planes), nbits):
            masks.append(sum(2 ** b for b in bits))
    probes = F.array(*[F.expr(f"_b0 ^ {m}") for m in masks])
    ev = ev.select("q_emb", F.explode(probes).alias("_b")).dropDuplicates()
    cos = cosine_expr("embedding", "q_emb")
    hits = (
        cb.join(F.broadcast(ev), "_b")
        .where(cos >= F.lit(threshold))
        .select("vec_id")
        .dropDuplicates()
    )
    return corpus.join(hits, "vec_id", "left_anti")
