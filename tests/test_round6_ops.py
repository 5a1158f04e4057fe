"""Round-6 additions: the kmeans-trained serving composition and the
skew-tooling guard rails."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _clustered_embs(spark, n_clusters=4, per=12, dim=8, seed=7):
    """Well-separated planted clusters so trained centroids are
    meaningfully better than arbitrary ones."""
    rng = np.random.default_rng(seed)
    anchors = rng.normal(0, 1, (n_clusters, dim)) * 5.0
    rows = []
    for i in range(n_clusters * per):
        a = anchors[i % n_clusters]
        rows.append((i, [float(x) for x in a + rng.normal(0, 0.3, dim)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_pq_serves_off_trained_centroids(spark):
    """The full FAISS-shaped composition kmeans_train →
    centroids_from_kmeans → ivf_pq_ann: codes partition into trained
    lists, queries probe them, and ADC ranking recovers same-cluster
    neighbors (planted clusters are PQ-separable)."""
    from openeo_odc_driver_spark.pipeline.similarity import (
        brute_force_topk,
        centroids_from_kmeans,
        ivf_pq_ann,
        kmeans_train,
    )

    embs = _clustered_embs(spark)
    cents = centroids_from_kmeans(kmeans_train(embs, k=4, iters=3))
    qs = embs.where(F.col("vec_id") < 4)  # one query per planted cluster
    ann = ivf_pq_ann(embs, qs, k=3, nprobe=1, centroids=cents)
    got = ann.collect()
    # every query returns exactly k ranked rows
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert set(per_q) == {0, 1, 2, 3}
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())
    # with nprobe=1 on separated clusters, neighbors come from the
    # query's own planted cluster (vec_id ≡ query_id mod 4)
    for r in got:
        assert r.neighbor_id % 4 == r.query_id % 4
    # and ADC ranking agrees with exact search on the top hit
    gt = {
        r.query_id: r.neighbor_id
        for r in brute_force_topk(embs, qs, k=1).collect()
    }
    top = {r.query_id: r.neighbor_id for r in got if r.rank == 1}
    hits = sum(1 for q in gt if top[q] == gt[q])
    assert hits >= 3  # PQ is lossy; allow one miss of four


def test_salt_skewed_join_rejects_outer_joins(spark):
    """Build-side replication silently duplicates unmatched rows under
    right/full outer — the API must refuse (ADVICE r5)."""
    from openeo_odc_driver_spark.pipeline.skew import salt_skewed_join

    probe = spark.createDataFrame([(1, "a")], "k long, v string")
    build = spark.createDataFrame([(1, "x")], "k long, w string")
    for how in ("right", "full", "outer", "left_anti"):
        with pytest.raises(ValueError, match="inner"):
            salt_skewed_join(probe, build, "k", [1], "v", how=how)


# --- adversarial skew fixtures (VERDICT r5 item 3) --------------------------


def test_aqe_skew_split_activates_in_session(spark):
    """Pin that the session's AQE wiring actually splits a skewed
    sort-merge partition (skew=true in the final adaptive plan) when the
    hot partition's map-output BYTES are over threshold — the mechanism
    the dedup ops' PLANS.md claims lean on. Payloads are md5 strings so
    compression cannot erase the byte skew (see the compression caveat
    pinned by test_exact_substring_hot_digest_salting)."""
    from pyspark.sql import functions as F

    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "4KB",
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        left = spark.range(100_000).select(
            F.when(F.col("id") % 10 < 9, F.lit("hot"))
            .otherwise(F.col("id").cast("string"))
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        right = spark.createDataFrame(
            [("hot", 1), ("x", 2), ("4", 3)], "k string, v int"
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 90_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _boilerplate_corpus(spark, n_hot=2000, n_cold=200, gram=20):
    """One gram-length boilerplate block shared by n_hot docs (its digest
    carries n_hot positions — the single-hot-key worst case), plus
    unique-content cold docs."""
    boiler = " ".join(f"tok{i}" for i in range(gram))
    rows = [(i, boiler + f" unique{i} trail{i}") for i in range(n_hot)]
    rows += [
        (n_hot + i, " ".join(f"w{n_hot + i}_{j}" for j in range(gram + 5)))
        for i in range(n_cold)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string"), boiler


def test_exact_substring_hot_digest_salting(spark):
    """Adversarial boilerplate skew: one digest holds ~2000 positions.
    AQE's byte-based skew detection does NOT see this case at small
    scale (identical-digest rows compress 20-50×, making the hot
    partition's compressed bytes comparable to cold ones — measured in
    scratch/skew_probe.py), so the engine's answer is the explicit
    hot-key salting path. Pin (a) salted output ≡ unsalted output, and
    (b) the salted join's max per-(key, salt) group is ~n_salts× smaller
    than the unsalted hot key — the bounded-max-task-input property."""
    import hashlib

    from pyspark.sql import functions as F

    from openeo_odc_driver_spark.pipeline.dedup import exact_substring_dedup
    from openeo_odc_driver_spark.pipeline.sampling import _uniform

    gram = 20
    docs, boiler = _boilerplate_corpus(spark, gram=gram)
    hot_digest = hashlib.md5(boiler.encode()).hexdigest()

    plain = exact_substring_dedup(docs, gram=gram)
    salted = exact_substring_dedup(
        docs, gram=gram, hot_digests=[hot_digest], n_salts=8
    )
    p = sorted(map(tuple, plain.collect()))
    s = sorted(map(tuple, salted.collect()))
    assert p == s
    # every hot doc lost its boilerplate block; cold docs untouched
    dropped = dict((r[0], r[2]) for r in p)
    assert dropped[0] == gram and dropped[2100] == 0

    # bounded max-task input: reconstruct the salted key distribution
    # for the hot digest and assert no (key, salt) group exceeds
    # ~1/n_salts of the unsalted hot group (with 2x slack for md5
    # unevenness on 2000 draws)
    n_salts = 8
    hot_rows = 2000  # one boilerplate position per hot doc
    salt_counts = (
        docs.where(F.col("doc_id") < 2000)
        .select(
            F.floor(
                _uniform(
                    F.concat_ws(":", F.col("doc_id"), F.lit(1)), "salt0"
                )
                * F.lit(float(n_salts))
            ).alias("salt")
        )
        .groupBy("salt")
        .count()
        .collect()
    )
    mx = max(r["count"] for r in salt_counts)
    assert len(salt_counts) == n_salts
    assert mx <= (hot_rows / n_salts) * 2


def test_minhash_lsh_hot_bucket_correct_under_skew(spark):
    """Adversarial LSH skew: 120 identical docs collapse into ONE band
    bucket per band (the boilerplate-bucket worst case). The banded
    self-join must produce exactly C(120,2) verified pairs at estimated
    Jaccard 1.0 — no pair lost or duplicated by bucket-level skew — and
    salt_skewed_join on the banded table must spread the hot bucket's
    rows over all sub-keys (the manual mitigation PLANS.md names for a
    bucket AQE cannot see through compression)."""
    from pyspark.sql import functions as F

    from openeo_odc_driver_spark.pipeline.dedup import (
        _band_keys_col,
        minhash_lsh_pairs,
        minhash_signatures,
        release_cached_signatures,
    )
    from openeo_odc_driver_spark.pipeline.skew import salt_skewed_join

    n_hot = 120
    text = " ".join(f"sh{i} common word" for i in range(30))
    rows = [(i, text) for i in range(n_hot)]
    rows += [
        (n_hot + i, " ".join(f"u{n_hot + i}w{j}" for j in range(40)))
        for i in range(50)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    try:
        pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    finally:
        release_cached_signatures()
    assert len(pairs) == n_hot * (n_hot - 1) // 2
    assert all(abs(r.est_jaccard - 1.0) < 1e-9 for r in pairs)

    # the hot bucket's rows spread over every salt sub-key
    banded = minhash_signatures(docs).select(
        "doc_id", F.explode(_band_keys_col()).alias("band_key")
    )
    hot_keys = [
        r.band_key
        for r in banded.groupBy("band_key")
        .count()
        .where(F.col("count") > 50)
        .collect()
    ]
    assert hot_keys  # the identical docs created at least one hot bucket
    build = banded.select(F.col("band_key"), F.col("doc_id").alias("b_doc"))
    salted = salt_skewed_join(
        banded, build, "band_key", hot_keys, "doc_id", n_salts=8
    )
    plain = banded.join(build, "band_key")
    assert salted.count() == plain.count()


def test_priority_sample_zero_uniform_is_finite(spark):
    """The md5-uniform can be exactly 0 (p≈2^-28 per key); the clamp
    keeps the priority finite and engine-portable (ADVICE r5)."""
    from openeo_odc_driver_spark.pipeline.sampling import _HASH_SPACE, _uniform

    # find a doc_id whose 28-bit md5 prefix is tiny to prove the clamp
    # path, and check the operator itself never emits inf/NaN
    from openeo_odc_driver_spark.pipeline.sampling import priority_sample

    docs = spark.createDataFrame(
        [(i, "en", "web", 100 + i) for i in range(200)],
        "doc_id long, lang string, source string, n_chars int",
    )
    out = priority_sample(docs, k=200)
    bad = out.where(
        F.isnan("priority") | (F.col("priority") == float("inf"))
    ).count()
    assert bad == 0
    # clamp ceiling: priority can never exceed w * 2^28
    mx = out.agg(F.max(F.col("priority") / F.col("n_chars"))).first()[0]
    assert mx <= _HASH_SPACE


def test_lsh_buckets_near_uniform(spark):
    """Hyperplane quality gate (round 6): on random unit vectors the
    sign-bit buckets must fill the whole 2^n_planes space with bounded
    max occupancy. The pre-r6 strided-LCG planes were near-parallel —
    170/256 buckets occupied, max occupancy 10% of the corpus, 14x the
    uniform pair count — which silently turned bucketed dedup quadratic
    (measured 64x wall-clock for 10x rows, PLANS.md)."""
    import numpy as np
    from pyspark.sql import functions as F

    from openeo_odc_driver_spark.pipeline.similarity import lsh_bucket_col

    rng = np.random.default_rng(11)
    emb = rng.normal(0, 1, (4000, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    e = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(emb)],
        "vec_id long, embedding array<float>",
    )
    h = (
        e.select(lsh_bucket_col("embedding", 8).alias("b"))
        .groupBy("b").count()
        .agg(
            F.count("*").alias("nb"),
            F.max("count").alias("mx"),
            F.sum(F.col("count") * F.col("count")).alias("occ2"),
        )
        .first()
    )
    assert h.nb == 256  # every bucket of the 2^8 space is reachable
    # max occupancy within 3x of uniform (4000/256 ≈ 15.6)
    assert h.mx <= 3 * (4000 / 256)
    # pair work within 2x of the uniform-occupancy lower bound
    uniform_pairs = 256 * (4000 / 256) ** 2
    assert float(h.occ2) <= 2 * uniform_pairs


def test_planes_for_corpus_occupancy_scaling():
    """The scale knob: expected occupancy n/2^planes stays within
    [target/2, 2*target] across 6 orders of magnitude."""
    from openeo_odc_driver_spark.pipeline.similarity import planes_for_corpus

    for n in (100, 10_000, 1_000_000, 100_000_000):
        p = planes_for_corpus(n, target_occupancy=8)
        occ = n / 2 ** p
        assert occ <= 8.0001 or p == 24
        if p not in (8, 24):  # inside the clamp band the bound is tight
            assert occ > 2.0


def test_multiprobe_depth_lifts_recall(spark):
    """probe_bits is the recall dial: with uniform buckets, recall@5 vs
    brute force is monotonically non-decreasing in probe depth, and
    2-bit probing must beat single-bucket probing on a corpus where
    1-bit probing is already starved."""
    import numpy as np

    from openeo_odc_driver_spark.pipeline.similarity import (
        brute_force_topk,
        lsh_bucket_ann,
    )

    rng = np.random.default_rng(23)
    emb = rng.normal(0, 1, (600, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    e = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(emb)],
        "vec_id long, embedding array<float>",
    )
    qs = e.where(F.col("vec_id") < 8)
    gt = {(r.query_id, r.neighbor_id)
          for r in brute_force_topk(e, qs, k=5).collect()}

    def recall(**kw):
        got = {(r.query_id, r.neighbor_id)
               for r in lsh_bucket_ann(e, qs, k=5, **kw).collect()}
        return len(gt & got) / len(gt)

    r0 = recall(probe_bits=0)
    r1 = recall(probe_bits=1)
    r2 = recall(probe_bits=2)
    assert r0 <= r1 <= r2
    assert r2 > r0  # depth demonstrably helps somewhere in the chain


def test_crs_fallback_resolves_modal_dataset_crs(spark):
    """Collections without a default CRS resolve the MOST COMMON CRS
    among their datasets (reference load_odc_collection.py:143-153) —
    previously declared out of scope, now fixture-backed: 3 of 4
    granules are UTM 32N, so the loaded cube carries EPSG:32632; a
    collection with neither default nor dataset CRS raises."""
    import pytest

    from openeo_odc_driver_spark.plans.catalog import (
        load_collection_cube,
        mostcommon_crs,
    )

    cube = load_collection_cube(spark, "s2_l2a_nocrs")
    assert cube.schema.crs == "EPSG:32632"
    assert cube.df.columns == ["band", "time", "y", "x", "value"]
    assert mostcommon_crs(spark, "s2_l2a_nocrs") == "EPSG:32632"
    with pytest.raises(ValueError, match="no default CRS"):
        mostcommon_crs(spark, "s2_l2a")  # has a default, no metadata


def test_vectorized_assignment_equals_fold_path(spark, assign_engine):
    """The Arrow-matmul centroid assignment must agree with the
    fold-expression path row for row (ulp ties are measure-zero on real
    embeddings; pinned here on 300 random vectors × 24 centroids)."""
    import numpy as np

    from openeo_odc_driver_spark.pipeline.similarity import (
        semantic_dedup_clusters,
    )

    rng = np.random.default_rng(31)
    emb = rng.normal(0, 1, (300, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    e = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(emb)],
        "vec_id long, embedding array<float>",
    )
    assign_engine("fold")
    fold = sorted(map(tuple, semantic_dedup_clusters(
        e, n_centroids=24).collect()))
    assign_engine("vectorized")
    vec = sorted(map(tuple, semantic_dedup_clusters(
        e, n_centroids=24).collect()))
    assert fold == vec


def test_vectorized_assignment_empty_centroids_and_id_width(spark):
    """Empty centroid tables raise a named error (not a numpy AxisError),
    and cluster ids survive past 2^31 (the int32-wrap regression)."""
    import pytest

    from openeo_odc_driver_spark.pipeline.similarity import (
        assign_nearest_centroid_vectorized,
    )

    e = spark.createDataFrame(
        [(2**31 + 7, [1.0, 0.0]), (5, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = e.selectExpr("vec_id AS cent_id", "embedding AS c_emb")
    with pytest.raises(ValueError, match="empty"):
        assign_nearest_centroid_vectorized(e, cents.where("cent_id < 0"))
    got = {r.vec_id: r.cluster_id
           for r in assign_nearest_centroid_vectorized(e, cents).collect()}
    assert got[2**31 + 7] == 2**31 + 7  # self is its own nearest centroid
    assert got[5] == 5


def test_assign_engine_dispatches_on_k(spark, assign_engine):
    """Round-7 default: the centroid assignment keeps the fold plan
    below VECTORIZE_K_THRESHOLD and switches to the Arrow-matmul
    mapInPandas at/above it — and both routes produce identical
    censuses on either side of the boundary."""
    import numpy as np

    from openeo_odc_driver_spark.pipeline.similarity import (
        VECTORIZE_K_THRESHOLD,
        _semdedup_members,
        kmeans_train,
        semantic_dedup_clusters,
    )

    rng = np.random.default_rng(7)
    emb = rng.normal(0, 1, (200, 16))
    e = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(emb)],
        "vec_id long, embedding array<double>",
    )

    # the assignment DataFrame keeps its lineage visible in the physical
    # plan (semantic_dedup_clusters localCheckpoints it, truncating the
    # plan at Scan ExistingRDD)
    small = _semdedup_members(e, 8, None)
    large = _semdedup_members(e, VECTORIZE_K_THRESHOLD, None)
    # round 16: BOTH engines are Arrow-batched numpy stages now, but the
    # dispatch stays visible in the plan — the small-k fold semantics
    # execute via assign_nearest_centroid_foldexact, a SCALAR pandas_udf
    # (ArrowEvalPython node, only cent_id crosses back); the large-k
    # matmul stays the mapInPandas stage (MapInPandas node)
    small_plan = small._jdf.queryExecution().executedPlan().toString()
    large_plan = large._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in small_plan and "MapInPandas" not in small_plan
    assert "MapInPandas" in large_plan

    # both engines agree with the k-picked choice at each k
    ks = (8, VECTORIZE_K_THRESHOLD)

    def censuses():
        return [sorted(map(tuple, semantic_dedup_clusters(
            e, n_centroids=k, threshold=0.95).collect())) for k in ks]

    auto = censuses()
    assign_engine("fold")
    assert censuses() == auto

    # kmeans_train dispatches identically: trained centroids match
    # between engines (quantization absorbs matmul ulp noise)
    f = sorted(map(tuple, kmeans_train(e, k=8, iters=2).collect()))
    assign_engine("vectorized")
    v = sorted(map(tuple, kmeans_train(e, k=8, iters=2).collect()))
    assert f == v

