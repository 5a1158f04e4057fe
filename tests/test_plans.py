"""Physical-plan regression gates for the scale claims in PLANS.md.

Each assertion pins a property a 100 TB deployment depends on — filter
pushdown reaching the scan, small sides broadcasting, exchange counts not
regressing. A refactor that silently turns a broadcast join into a
sort-merge join or un-pushes a predicate fails here, not in production.
"""

import re

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = E.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(plan: str) -> int:
    # count KEYED shuffle exchanges only: broadcast exchanges are the
    # cheap kind the broadcast assertions check separately, and the
    # RoundRobinPartitioning emitted by ensure_min_parallelism (the
    # fixture-scale map-side parallelism guard, pipeline/parallel.py)
    # is deliberately excluded — it is a no-op on production inputs and
    # carries no grouping semantics
    return len(re.findall(r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan))


def test_tpch_q1_pushdown_and_single_shuffle(spark):
    plan = _plan(spark, "tpch_q1")
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters:")[1][:200]
    assert _exchanges(plan) <= 1  # one aggregation shuffle, nothing else


def test_orders_per_nation_broadcasts_dims(spark):
    plan = _plan(spark, "orders_per_nation")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the fact table never shuffles for joins


def test_exact_dedup_single_aggregate(spark):
    plan = _plan(spark, "exact_dedup")
    assert _exchanges(plan) <= 1


def test_sample_stratified_fused_with_scan(spark):
    plan = _plan(spark, "sample_stratified")
    assert _exchanges(plan) == 0  # pure filter over the scan


def test_chunk_documents_no_shuffle(spark):
    plan = _plan(spark, "chunk_documents")
    assert _exchanges(plan) == 0  # explode preserves scan partitioning


def test_shuffle_shards_exactly_one_exchange(spark):
    plan = _plan(spark, "shuffle_shards")
    assert _exchanges(plan) == 1  # the per-shard window, nothing global


def test_brute_force_topk_broadcasts_query_side(spark):
    plan = _plan(spark, "brute_force_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the only shuffle is the per-query top-k window — the corpus side
    # must reach the join without an exchange
    assert _exchanges(plan) == 1


def test_pq_ann_codes_join_is_broadcast(spark):
    plan = _plan(spark, "pq_ann")
    # the ADC lookup table joins broadcast; corpus codes stream through
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_documents_scan(spark):
    plan = _plan(spark, "frame_sample")
    assert "PushedFilters: [" in plan and "doc_id" in plan.split("PushedFilters:")[1][:120]


def test_repetition_scores_fused_with_scan(spark):
    plan = _plan(spark, "repetition_scores")
    assert _exchanges(plan) == 0  # per-doc scalars: no KEYED shuffle ever


def test_pii_scan_fused_with_scan(spark):
    plan = _plan(spark, "pii_scan")
    assert _exchanges(plan) == 0


def test_pack_sequences_single_shard_shuffle(spark):
    plan = _plan(spark, "pack_sequences")
    # one exchange for the per-shard packing window; a global-sort
    # formulation would show rangepartitioning + SinglePartition here
    assert _exchanges(plan) == 1
    assert "rangepartitioning(doc_id" not in plan


def test_vocab_top_terms_no_global_sort_exchange(spark):
    plan = _plan(spark, "vocab_top_terms")
    # TakeOrderedAndProject replaces a global Sort + SinglePartition
    assert "TakeOrderedAndProject" in plan


def test_corpus_stats_sketch_aggregate_shape(spark):
    # The gated fixture query carries the EXACT branches (countDistinct
    # expands to a two-phase (lang, source) aggregate → 2 exchanges);
    # the production path is sketch-only and must stay a single
    # partial+final aggregate pair — sketches merge map-side.
    plan = _plan(spark, "corpus_stats_sketch")
    assert _exchanges(plan) <= 2

    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sketch_only = docs.groupBy("lang").agg(
        F.approx_count_distinct("source", 0.05).alias("n_sources_approx"),
        F.percentile_approx(F.length("text"), F.lit(0.5), F.lit(1000)).alias(
            "p50_len_approx"
        ),
    )
    p = sketch_only._jdf.queryExecution().executedPlan().toString()
    assert _exchanges(p) == 1


def test_pack_sequences_deterministic_across_layouts(spark):
    """Bin assignment is a pure function of (chunk set, n_shards, salt,
    capacity): identical under different shuffle-partition counts and
    input partitionings (the executor-count proxy local mode can vary)."""
    from openeo_odc_driver_spark.pipeline.sampling import pack_sequences

    chunks = spark.createDataFrame(
        [(d, c * 48, 40 + (d * 7 + c) % 25) for d in range(60) for c in range(4)],
        "doc_id long, chunk_start long, n_chunk_tokens int",
    )

    def run(df, parts):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try:
            rows = pack_sequences(df, capacity=256, n_shards=8).collect()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        return sorted((r.doc_id, r.chunk_start, r.shard, r.bin_id) for r in rows)

    a = run(chunks, "4")
    b = run(chunks.repartition(13), "17")
    c = run(chunks.coalesce(1), "1")
    assert a == b == c


def test_pack_sequences_rejects_degenerate_shards(spark):
    import pytest as _pytest

    from openeo_odc_driver_spark.pipeline.sampling import pack_sequences

    chunks = spark.createDataFrame(
        [(1, 0, 10)], "doc_id long, chunk_start long, n_chunk_tokens int"
    )
    with _pytest.raises(ValueError, match="n_shards"):
        pack_sequences(chunks, n_shards=0)


def test_paragraph_dedup_two_shuffles_no_global_sort(spark):
    """First-wins needs one shuffle on the paragraph hash (window) and
    one on doc_id (census) — and never a global range sort."""
    plan = _plan(spark, "paragraph_dedup")
    assert _exchanges(plan) <= 2
    assert "rangepartitioning" not in plan


def test_bloom_decontaminate_corpus_never_shuffles(spark):
    """Every join in the Bloom screen + exact verify keeps the corpus
    side in place: bit set, ref grams, and the contaminated-id set all
    broadcast; the only shuffle is the tiny candidate-id distinct."""
    plan = _plan(spark, "bloom_decontaminate")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4  # 3 bloom probes + verify
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_no_cartesian_pairing(spark):
    """Centroids broadcast; the pairwise stage is an EQUI-join on
    cluster id with the cosine threshold evaluated inside the join —
    never an unconditioned product of the corpus."""
    plan = _plan(spark, "semantic_dedup_clusters")
    assert "CartesianProduct" not in plan
    # the pair join is an EQUI join on cluster_id with the threshold
    # fused in. Round 16: the checkpointed members table carries origin
    # stats from the new scalar-UDF assignment plan, so at FIXTURE
    # scale the planner may broadcast one side (BuildRight over ~2k
    # rows) instead of sort-merging — size-adaptive, and still keyed by
    # cluster_id; at corpus scale the estimate exceeds the broadcast
    # threshold and the join shuffles by cluster_id as before.
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) "
        r"\[cluster_id#\d+L\], \[cluster_id#\d+L\], Inner",
        plan,
    )
    # the declared query materializes the centroid assignment
    # (localCheckpoint, round 15) so its plan truncates at Scan
    # ExistingRDD; the assignment-stage shape is pinned on the
    # assignment DataFrame the query checkpoints
    from openeo_odc_driver_spark import registry_pipeline as RP
    from openeo_odc_driver_spark.pipeline import similarity as psim

    lineage = psim._semdedup_members(
        RP._embs(spark, SF), RP._SEM_NC, None,
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in lineage
    # nested-loop joins are only the 16-row centroid broadcasts
    assert all(
        "BuildRight, Cross" in lineage[m.start():m.start() + 60]
        for m in re.finditer(r"BroadcastNestedLoopJoin", lineage)
    )
    # nearest-centroid pick is one Arrow-batched numpy stage (round 16:
    # fold semantics via assign_nearest_centroid_foldexact, a scalar
    # pandas_udf — ArrowEvalPython), never a window over an n×k scored
    # crossJoin
    assert "ArrowEvalPython" in lineage and "WindowGroupLimit" not in lineage


def test_unigram_logprob_model_broadcasts_corpus_stays(spark):
    """The unigram model (with its window-computed total) broadcasts
    back onto the token stream — the (doc_id, token) side never
    sort-merge-joins, and the shuffles are the model term-aggregate, the
    vocab-sized SinglePartition total window, and the per-doc census.
    The corpus token stream reaches the join with zero exchanges."""
    plan = _plan(spark, "unigram_logprob")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1  # model join, exactly once
    assert _exchanges(plan) <= 3
    # the model term-aggregate must not be duplicated (the scalar-
    # subquery formulation re-executed the corpus token aggregation)
    assert plan.count("partial_count(1)") <= 2  # model build + doc census


def test_tokenize_to_ids_corpus_never_shuffles(spark):
    """The vocab-id mapping must be a BROADCAST join onto the exploded
    token stream — the corpus reaches the output with zero shuffles; the
    only exchanges build the (tiny) vocab-id table itself (term
    aggregate + the k-row id window)."""
    plan = _plan(spark, "tokenize_to_ids")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert _exchanges(plan) <= 3  # vocab agg + TakeOrdered pieces only


def test_intra_doc_dedup_zero_exchanges(spark):
    """First-occurrence masking is per-row array arithmetic — fused with
    the scan, no shuffle at any scale."""
    plan = _plan(spark, "intra_doc_dedup")
    assert _exchanges(plan) == 0


def test_bpe_pair_counts_vocab_sized_aggregates(spark):
    """Two hash aggregates (corpus→word counts, words→pair counts) and a
    TakeOrdered top-k — never a global range sort."""
    plan = _plan(spark, "bpe_pair_counts")
    assert _exchanges(plan) <= 2
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_int8_quantize_scales_broadcast_corpus_stays(spark):
    """The per-dim scale table (dim-sized) broadcasts back; the exploded
    corpus stream itself never shuffles — its only exchange is the
    dim-sized aggregate building the scales."""
    plan = _plan(spark, "embedding_int8_quantize")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert _exchanges(plan) <= 1  # the scale aggregate


def test_ivf_pq_ann_no_cartesian_candidates(spark):
    """Candidate generation is equi-joins only: codes x probes on
    list_id and codes x LUT on (query_id, s, code), both broadcast; the
    only nested-loop joins are the tiny centroid/codebook broadcasts."""
    plan = _plan(spark, "ivf_pq_ann")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # probes + LUT onto codes
    assert all(
        "BuildRight, Cross" in plan[m.start():m.start() + 60]
        for m in re.finditer(r"BroadcastNestedLoopJoin", plan)
    )


def test_dsir_models_broadcast_corpus_stays(spark):
    """Both unigram models come out of ONE aggregation over the tagged
    union (no model-model full-outer sort-merge join); the model
    broadcasts back onto the raw-corpus token stream."""
    plan = _plan(spark, "dsir_importance_weights")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1  # scoring join only
    # model agg + vocab-sized window + per-doc census
    assert _exchanges(plan) <= 3


def test_bigram_logprob_models_broadcast(spark):
    """Adjacency comes from the token ARRAY (no token-stream self-join);
    unigram + pruned-bigram + prev-count models all broadcast back."""
    plan = _plan(spark, "bigram_logprob")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 3  # uni + bi + prev
    assert "TakeOrderedAndProject" in plan  # the top-m pruning
    assert "CartesianProduct" not in plan


def test_pack_token_ids_two_integer_shuffles(spark):
    """Tokenization is broadcast-join (zero corpus shuffles); the only
    exchanges beyond the tiny vocab build are the per-doc id assembly
    and the per-shard packing window — both moving int ids, never text;
    never a global range sort."""
    plan = _plan(spark, "pack_token_ids")
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan
    assert _exchanges(plan) <= 5  # vocab agg + id window + doc agg + shard window


def test_exact_substring_dedup_digest_keyed_shuffles(spark):
    """Gram text never shuffles — positions move as (doc_id, p, md5);
    the dup-digest aggregate, the digest join-back, the per-doc start
    list, and the doc join are all hash-keyed; never a global sort or
    cartesian product."""
    plan = _plan(spark, "exact_substring_dedup")
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan
    assert _exchanges(plan) <= 5


def test_events_pivot_single_shuffle(spark):
    # the conditional-aggregation pivot: one user_id exchange; the
    # DataFrame.pivot API form costs two (measured — see registry docstring)
    plan = _plan(spark, "events_user_type_pivot")
    assert _exchanges(plan) == 1


def test_tpch_q5_all_dimensions_broadcast(spark):
    plan = _plan(spark, "tpch_q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan
    assert _exchanges(plan) == 1  # only the final nation aggregate


def test_orders_rollup_single_expand_aggregate(spark):
    plan = _plan(spark, "orders_rollup")
    assert plan.count("Expand") == 1  # grouping sets in ONE aggregation
    assert _exchanges(plan) == 1


def test_multimodal_resize_zero_exchange(spark):
    """decode→resize→re-encode never shuffles the blobs: mapInPandas
    rides the scan partitions of both codec branches (the union is a
    narrow op)."""
    plan = _plan(spark, "multimodal_resize")
    assert _exchanges(plan) == 0


def test_multimodal_image_features_zero_exchange(spark):
    plan = _plan(spark, "multimodal_image_features")
    assert _exchanges(plan) == 0  # features + posexplode stay scan-fused


def test_exact_substring_salted_no_extra_corpus_shuffle(spark):
    """Hot-digest salting must not add corpus-scale exchanges beyond the
    unsalted plan's budget: the salt column rides the gram stream, the
    replicated dup side is digest-count-sized."""
    base = _exchanges(_plan(spark, "exact_substring_dedup"))
    salted = _exchanges(_plan(spark, "exact_substring_dedup_salted"))
    assert salted <= base + 1  # at most the build-side explode's exchange


def test_pq_encode_single_exchange_min_by(spark):
    """PQ sub-quantizer argmin is a min_by aggregation over the
    codebook crossJoin — one n×M-sized exchange after map-side partial
    aggregation, never a window sort of the n×M×K scored expansion."""
    plan = _plan(spark, "pq_encode")
    assert "min_by" in plan
    assert "WindowGroupLimit" not in plan and "Window" not in plan
    assert _exchanges(plan) == 1
    # (kmeans_train's own iterations can't be plan-gated here: training
    # runs eagerly at query-build time and the returned DataFrame is a
    # literal LocalTableScan — its argmax shape is covered by this
    # test's shared assign path and the exact-value oracle.)


def test_gtiff_read_width_follows_session_not_env(spark, tmp_path, monkeypatch):
    """The tiled GeoTIFF reader sizes its read stage from the session's
    defaultParallelism: a stale SPARK_GRAFT_CPUS naming more cores than
    the session has must not widen the stage past 4 × the session's
    parallelism."""
    from openeo_odc_driver_spark.core import tiled as t
    from openeo_odc_driver_spark.operators.reducers import reduce_dimension
    from openeo_odc_driver_spark.sinks.gtiff_tiled import (
        load_gtiff_tiled,
        save_gtiff_tiled,
    )
    from openeo_odc_driver_spark.sources.synthetic import (
        CubeSpec,
        synthetic_cube,
    )

    spec = CubeSpec(n_times=1, ny=48, nx=48)
    cube = reduce_dimension(synthetic_cube(spark, spec), "time", "max")
    # 3 bands × 3×3 tiles of 16 px: 27 tile reads, more than 4 × 4
    path = save_gtiff_tiled(
        t.to_tiled(cube, tile=16, n_y=48, n_x=48), str(tmp_path / "scene")
    )
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    plan = load_gtiff_tiled(spark, path).df._jdf.queryExecution() \
        .executedPlan().toString()
    width = int(re.search(r"RoundRobinPartitioning\((\d+)\)", plan).group(1))
    assert width <= 4 * spark.sparkContext.defaultParallelism


def test_driver_memory_default_fits_host(spark, tmp_path):
    """The driver heap default is min(90g, MemTotal/2): it never asks
    for more memory than the host has. SPARK_GRAFT_DRIVER_MEM still
    overrides it."""
    import os

    from openeo_odc_driver_spark.session import default_driver_memory

    def mib(size: str) -> int:
        return int(size[:-1]) * (1024 if size.endswith("g") else 1)

    small = tmp_path / "meminfo_16g"
    small.write_text("MemTotal:       16384000 kB\nMemFree:  1000 kB\n")
    assert default_driver_memory(str(small)) == "8000m"
    huge = tmp_path / "meminfo_1t"
    huge.write_text("MemTotal:       1073741824 kB\n")
    assert default_driver_memory(str(huge)) == "92160m"  # the 90g cap
    assert default_driver_memory(str(tmp_path / "absent")) == "90g"

    with open("/proc/meminfo") as fh:
        total_mib = next(
            int(line.split()[1]) // 1024
            for line in fh if line.startswith("MemTotal:")
        )
    assert mib(default_driver_memory()) <= total_mib
    if not os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        conf = spark.sparkContext.getConf().get("spark.driver.memory")
        assert mib(conf) <= total_mib
