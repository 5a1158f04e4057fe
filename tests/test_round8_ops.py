"""Round-8 additions: general-digraph PageRank/LPA semantics (src-only
node retention), the shuffle-join PageRank path, pHash banding recall,
corpus-adaptive semantic-dedup k, and the tiled raster layout."""

from pyspark.sql import functions as F


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long, w long")


def test_pagerank_retains_src_only_nodes_hand_computed(spark, pagerank_regime):
    """Asymmetric digraph 1→2, 2→3, 3→2: node 1 has no in-edges. Under
    general damped PageRank it holds PR_BASE every round and KEEPS
    contributing to node 2 (the pre-round-8 dst-keyed rank table
    dropped it after round one, erasing its round-2+ contributions).
    Hand-computed 3 rounds of the integer recurrence."""
    from openeo_odc_driver_spark.pipeline.graph import pagerank_integer

    edges = _edges(spark, [(1, 2, 1), (2, 3, 1), (3, 2, 1)])
    got = {r.pk: r.r for r in pagerank_integer(edges, iterations=3).collect()}
    # r1: 1=150000; 2=150000+850000+850000=1850000; 3=150000+850000=1000000
    # r2: 1=150000; 2=150000+127500+850000=1127500; 3=150000+1572500=1722500
    # r3: 1=150000; 2=150000+127500+1464125=1741625; 3=150000+958375=1108375
    assert got == {1: 150000, 2: 1741625, 3: 1108375}
    # both physical paths agree bit-for-bit
    pagerank_regime("shuffle")
    shuffle = {
        r.pk: r.r for r in pagerank_integer(edges, iterations=3).collect()
    }
    assert shuffle == got


def test_pagerank_auto_dispatch_and_bad_impl(spark, pagerank_regime):
    from openeo_odc_driver_spark.pipeline.graph import pagerank_integer

    edges = _edges(spark, [(1, 2, 1), (2, 1, 1)])
    # a broadcast ceiling below |V| takes the shuffle path; scores are
    # identical either way (integer arithmetic)
    pagerank_regime("shuffle")
    small = {
        r.pk: r.r for r in pagerank_integer(edges, iterations=2).collect()
    }
    pagerank_regime("broadcast")
    big = {
        r.pk: r.r for r in pagerank_integer(edges, iterations=2).collect()
    }
    assert small == big


def test_label_propagation_carries_voteless_nodes_forward(spark):
    """Node 1 (no in-edges) keeps its own label every round; node 3
    (dst-only sink) gets a label row at all — both were dropped by the
    pre-round-8 votes-only label table."""
    from openeo_odc_driver_spark.pipeline.graph import label_propagation

    edges = _edges(spark, [(1, 2, 5), (2, 3, 1)])
    got = {
        r.pk: r.label
        for r in label_propagation(edges, iterations=3).collect()
    }
    # round1: 2←1 (label 1), 3←2 (label 2), 1 keeps 1
    # round2: 2←1 (still label 1), 3←2's label=1, 1 keeps 1
    assert got == {1: 1, 2: 1, 3: 1}


def test_token_length_histogram_empty_doc_bucket(spark):
    """split('') is [''] (size 1) in both engines — empty and
    whitespace-only docs must still land in bucket −1 with 0 tokens
    (round-8 ADVICE fix: the −1 branch used to be unreachable)."""
    from openeo_odc_driver_spark.pipeline.stats import (
        token_length_histogram,
    )

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one"), (4, "a b c d")],
        "doc_id long, text string",
    )
    got = {
        r.log2_bucket: (r.n_docs, r.sum_tokens)
        for r in token_length_histogram(docs).collect()
    }
    assert got == {-1: (2, 0), 0: (1, 1), 2: (1, 4)}


def test_audio_features_reject_non_pcm16_mono(spark):
    """A stereo WAV payload raises a named error instead of producing
    silently wrong features (round-8 ADVICE fix)."""
    import io
    import wave

    import pytest

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x01" * 64)
    from openeo_odc_driver_spark.pipeline.multimodal import (
        audio_spectral_features,
    )

    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "doc_id long, audio binary"
    )
    with pytest.raises(Exception, match="PCM16 mono"):
        audio_spectral_features(df).collect()


def test_phash_band_slices_partition_and_pigeonhole():
    """The banding is a partition of the 64 bits into max_hamming+1
    near-equal slices — the precondition of the pigeonhole recall
    guarantee."""
    import pytest

    from openeo_odc_driver_spark.pipeline.multimodal import (
        phash_band_slices,
    )

    for mh in (0, 1, 2, 3, 7, 10, 32):
        slices = phash_band_slices(mh)
        # floor of 4 bands keeps every slice <= 16 bits (the two-word /
        # no-overflow invariant of phash_band_value_sql); pigeonhole
        # holds for any count >= mh + 1
        assert len(slices) == max(mh + 1, 4)
        assert sum(w for _, w in slices) == 64
        # contiguous, non-overlapping
        pos = 0
        for s, w in slices:
            assert s == pos and 1 <= w <= 16
            pos += w
    with pytest.raises(ValueError, match="max_hamming"):
        phash_band_slices(33)
    with pytest.raises(ValueError, match="max_hamming"):
        phash_band_slices(-1)


def test_phash_near_dup_recall_guaranteed_vs_brute_force(spark):
    """On seeded random 64-bit hashes, the banded detector finds EVERY
    pair within max_hamming of brute force (pigeonhole: max_hamming+1
    bands, ≤ max_hamming differing bits → one untouched band) — the
    property the old fixed 4×16 banding violated for distances 4..10."""
    import numpy as np

    from openeo_odc_driver_spark.pipeline.multimodal import (
        phash_near_dup_pairs,
    )

    rng = np.random.RandomState(8)
    n = 60
    base = rng.randint(0, 1 << 16, size=(n, 4)).astype("int64")
    # force a cluster of near-dups: rows 0..9 are row 0 with d random
    # bit flips (d = row index)
    for d in range(1, 10):
        h = list(base[0])
        flips = rng.choice(64, size=d, replace=False)
        for bit in flips:
            h[bit // 16] = int(h[bit // 16]) ^ (1 << (bit % 16))
        base[d] = h
    rows = [(i, int(r[0]), int(r[1]), int(r[2]), int(r[3]))
            for i, r in enumerate(base)]
    df = spark.createDataFrame(
        rows, "doc_id long, ph0 int, ph1 int, ph2 int, ph3 int"
    )
    # 0/1/2 exercise the round-9 band-count floor: the old
    # max_hamming+1 banding emitted 64/32-bit bands there, which
    # dropped bits 32-63 from the bucket key (mh=0) or wrapped the
    # int cast of the band value (mh=1)
    for mh in (0, 1, 2, 3, 7, 10):
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in phash_near_dup_pairs(df, max_hamming=mh).collect()
        }
        brute = set()
        for i in range(n):
            for j in range(i + 1, n):
                d = sum(
                    bin(int(base[i][k]) ^ int(base[j][k])).count("1")
                    for k in range(4)
                )
                if d <= mh:
                    brute.add((i, j, d))
        assert got == brute, f"recall/precision mismatch at mh={mh}"


def test_centroids_for_corpus_holds_cluster_size():
    """k grows linearly with the corpus above the clamp floor, so
    expected cluster size (and per-vector pair work) stays constant."""
    from openeo_odc_driver_spark.pipeline.similarity import (
        centroids_for_corpus,
    )

    assert centroids_for_corpus(0) == 16
    assert centroids_for_corpus(500) == 16  # floor clamp (fixture scale)
    assert centroids_for_corpus(1024 * 100) == 100
    # 10x corpus -> 10x centroids -> constant expected cluster size
    assert centroids_for_corpus(1024 * 1000) == 1000
    assert centroids_for_corpus(10**12, max_centroids=1 << 20) == 1 << 20


def test_semantic_dedup_auto_k_matches_pinned_on_fixture_shape(spark):
    """n_centroids=None (shipped default) derives k from the corpus;
    at sub-floor corpus sizes it equals the pinned oracle-mode k, so
    the auto census is identical to the k=16 census."""
    import numpy as np

    from openeo_odc_driver_spark.pipeline.similarity import (
        semantic_dedup_clusters,
    )

    rng = np.random.default_rng(11)
    emb = rng.normal(0, 1, (120, 8))
    e = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(emb)],
        "vec_id long, embedding array<double>",
    )
    auto = sorted(map(tuple, semantic_dedup_clusters(e).collect()))
    pinned = sorted(
        map(tuple, semantic_dedup_clusters(e, n_centroids=16).collect())
    )
    assert auto == pinned


def _tiled_mod():
    from openeo_odc_driver_spark.core import tiled

    return tiled


def test_tiled_roundtrip_lossless_across_tile_sizes(spark):
    """from_tiled(to_tiled(cube)) reproduces the dense long cube
    exactly — including NULL nodata — for tile sizes that divide the
    scene (8, 16) and ones that leave partial edge tiles (5, 7)."""
    import pandas as pd

    from openeo_odc_driver_spark.core.cube import BAND, TIME, VALUE, X, Y
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    t = _tiled_mod()
    cube = synthetic_cube(spark)
    cols = [BAND, TIME, Y, X, VALUE]
    orig = (
        cube.df.toPandas()[cols]
        .sort_values(cols[:4])
        .reset_index(drop=True)
    )
    for tile in (5, 7, 8, 16):
        tc = t.to_tiled(cube, tile=tile)
        assert tc.n_y == 16 and tc.n_x == 16
        rt = (
            t.from_tiled(tc).df.toPandas()[cols]
            .sort_values(cols[:4])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(orig, rt, check_exact=True)


def test_tiled_time_mean_matches_long_reducer(spark):
    import pandas as pd

    from openeo_odc_driver_spark.core.cube import BAND, VALUE, X, Y
    from openeo_odc_driver_spark.operators.reducers import reduce_dimension
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    t = _tiled_mod()
    cube = synthetic_cube(spark)
    cols = [BAND, Y, X, VALUE]
    long = (
        reduce_dimension(cube, "time", "mean").df.toPandas()[cols]
        .sort_values(cols[:3]).reset_index(drop=True)
    )
    tc = t.to_tiled(cube, tile=7)
    tiled = (
        t.from_tiled(t.reduce_time_tiled(tc, "mean"))
        .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(long, tiled, check_exact=True)
    import pytest

    # median runs through the same fold; an unknown name still raises
    with pytest.raises(ValueError, match="reducer"):
        t.reduce_time_tiled(tc, "mode")


def test_tiled_reducers_match_long_across_engines(spark):
    """sum/min/max per pixel: the tile fold == the long relational
    reducer, including NULL-skip and all-NULL → NULL."""
    import pandas as pd

    from openeo_odc_driver_spark.core.cube import BAND, VALUE, X, Y
    from openeo_odc_driver_spark.operators.reducers import reduce_dimension
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    t = _tiled_mod()
    cube = synthetic_cube(spark)
    tc = t.to_tiled(cube, tile=7)
    cols = [BAND, Y, X, VALUE]
    for red in ("sum", "min", "max"):
        long = (
            reduce_dimension(cube, "time", red).df.toPandas()[cols]
            .sort_values(cols[:3]).reset_index(drop=True)
        )
        tiled = (
            t.from_tiled(t.reduce_time_tiled(tc, red))
            .df.toPandas()[cols].sort_values(cols[:3])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(long, tiled, check_exact=True)


def test_tiled_kernel_matches_long_scatter(spark):
    """Halo-exchange stencil ≡ the long-format shift-and-sum scatter,
    including NULL-center preservation and cross-tile halos (tile=4 on
    16×16 → every interior tile needs all 8 neighbors)."""
    import pandas as pd

    from openeo_odc_driver_spark.core.cube import BAND, TIME, VALUE, X, Y
    from openeo_odc_driver_spark.operators.kernel import apply_kernel
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    t = _tiled_mod()
    cube = synthetic_cube(spark)
    K = [[0.0, 0.25, 0.0], [0.25, -1.0, 0.25], [0.0, 0.25, 0.0]]
    cols = [BAND, TIME, Y, X, VALUE]
    long = (
        apply_kernel(cube, K, factor=2.0).df.toPandas()[cols]
        .sort_values(cols[:4]).reset_index(drop=True)
    )
    tiled = (
        t.from_tiled(
            t.apply_kernel_tiled_layout(t.to_tiled(cube, tile=4), K, factor=2.0)
        ).df.toPandas()[cols].sort_values(cols[:4]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(long, tiled, check_exact=True)


def test_tiled_ndvi_median_matches_long_pipeline(spark):
    """The full flagship shape on tiles — band math + exact time
    median — against the same computation written relationally on the
    long cube, including NULL propagation (either band NULL → NULL,
    zero sum → NULL) and even-count interpolation."""
    import pandas as pd

    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    t = _tiled_mod()
    cube = synthetic_cube(spark)
    long = (
        cube.df.groupBy("time", "y", "x")
        .agg(
            *[
                F.max(F.when(F.col("band") == b, F.col("value"))).alias(b)
                for b in ("B04", "B08")
            ]
        )
        .selectExpr(
            "y", "x",
            "(B08 - B04) / nullif(B08 + B04, CAST(0.0 AS DOUBLE)) AS nd",
        )
        .groupBy("y", "x")
        .agg(F.expr("percentile(nd, 0.5D)").alias("value"))
        .toPandas()
        .sort_values(["y", "x"]).reset_index(drop=True)
    )
    tc = t.to_tiled(cube, tile=5)  # partial tiles on purpose
    tiled = (
        t.from_tiled(
            t.reduce_time_tiled(
                t.normalized_difference_tiled(tc, "B08", "B04"), "median"
            )
        )
        .df.select("y", "x", "value")
        .toPandas()
        .sort_values(["y", "x"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        long[["y", "x", "value"]], tiled, check_exact=True
    )


def test_tiled_storage_roundtrip_and_band_pruning(spark, tmp_path):
    """save_tiled/load_tiled: the sidecar restores tile/scene/grid
    metadata exactly, the expanded cube matches the original, and a
    band filter prunes at the partition level — a one-band read
    touches ONLY that band's files."""
    import pandas as pd
    from pyspark.sql import functions as SF

    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    t = _tiled_mod()
    cube = synthetic_cube(spark)
    tc = t.to_tiled(cube, tile=8)
    path = str(tmp_path / "cube")
    t.save_tiled(tc, path)
    back = t.load_tiled(spark, path)
    assert (back.tile, back.n_y, back.n_x) == (8, 16, 16)
    assert back.schema.grid == cube.schema.grid
    assert back.schema.bands == cube.schema.bands
    cols = ["band", "time", "y", "x", "value"]
    orig = cube.df.toPandas()[cols].sort_values(cols[:4]).reset_index(drop=True)
    rt = (
        t.from_tiled(back).df.toPandas()[cols]
        .sort_values(cols[:4]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(orig, rt, check_exact=True)
    # partition pruning: the band predicate lands in PartitionFilters
    # (inputFiles() reports the unfiltered relation, so inspect the
    # physical scan), and the pruned scan reads fewer rows
    one = back.df.where(SF.col("band") == "B04")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "B04" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    assert one.count() * 3 == back.df.count()


def test_tiled_filter_bbox_prunes_tiles_and_matches_long(spark, tmp_path):
    """The bbox slice on tiles: (a) output matches the long-format
    filter exactly, (b) whole tiles outside the bbox never expand, and
    (c) on the STORED layout the tile-range predicate reaches the
    parquet scan as PushedFilters."""
    import pandas as pd
    from pyspark.sql import functions as SF

    from openeo_odc_driver_spark.operators.filters import filter_bbox
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    t = _tiled_mod()
    cube = synthetic_cube(spark)
    tc = t.to_tiled(cube, tile=4)
    cols = ["band", "time", "y", "x", "value"]
    long = (
        filter_bbox(cube, 20.0, 90.0, 30.0, 120.0).df.toPandas()[cols]
        .sort_values(cols[:4]).reset_index(drop=True)
    )
    got = (
        t.filter_bbox_tiled(tc, 20.0, 90.0, 30.0, 120.0).df.toPandas()[cols]
        .sort_values(cols[:4]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(long, got, check_exact=True)
    # bbox x in [20,90] -> xi in [2,9] -> tile_col in [0,2]; y in
    # [30,120] -> yi in [3,12] -> tile_row in [0,3]: 12 of 16 tile
    # positions survive pruning (4x4 grid of 4-tiles on 16x16)
    path = str(tmp_path / "cube")
    t.save_tiled(tc, path)
    back = t.load_tiled(spark, path)
    sliced = t.filter_bbox_tiled(back, 20.0, 90.0, 30.0, 120.0)
    plan = sliced.df._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters", 1)[1].split("]", 1)[0]
    assert "tile_col" in pushed and "tile_row" in pushed
    got2 = (
        sliced.df.toPandas()[cols].sort_values(cols[:4]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(long, got2, check_exact=True)
    # (b): count tiles surviving the coarse predicate < all tiles
    n_all = back.df.select("tile_row", "tile_col").distinct().count()
    n_kept = (
        back.df.where(
            SF.col("tile_col").between(0, 2) & SF.col("tile_row").between(0, 3)
        )
        .select("tile_row", "tile_col").distinct().count()
    )
    assert n_kept == 12 and n_all == 16


def test_tiled_mask_matches_long_including_replacement(spark):
    """mask on tiles ≡ the long-format mask for both replacement modes,
    including NULL-mask-element masking and partial tiles; missing mask
    TILES mask their footprint (the long left join's no-row case)."""
    import pandas as pd
    from pyspark.sql import functions as SF

    from openeo_odc_driver_spark.operators.mask import mask
    from openeo_odc_driver_spark.sources.synthetic import (
        MASK_SPEC,
        synthetic_cube,
    )

    t = _tiled_mod()
    data = synthetic_cube(spark)
    mc = synthetic_cube(spark, MASK_SPEC)
    cols = ["band", "time", "y", "x", "value"]
    dt = t.to_tiled(data, tile=5)
    mt = t.to_tiled(mc, tile=5)
    for repl in (None, -999.0):
        long = (
            mask(data, mc, replacement=repl).df.toPandas()[cols]
            .sort_values(cols[:4]).reset_index(drop=True)
        )
        got = (
            t.from_tiled(t.mask_tiled(dt, mt, replacement=repl))
            .df.toPandas()[cols].sort_values(cols[:4]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(long, got, check_exact=True)
    # missing mask tile: drop one tile from the mask -> its whole
    # footprint masks to NULL
    mt_holed = t.TiledCube(
        mt.df.where(~((SF.col("tile_row") == 0) & (SF.col("tile_col") == 0))),
        mt.schema, mt.tile, mt.n_y, mt.n_x,
    )
    holed = t.from_tiled(t.mask_tiled(dt, mt_holed)).df
    hole_vals = holed.where(
        (SF.col("y") > 150.0 - 5 * 10.0) & (SF.col("x") < 5 * 10.0)
    ).select("value").distinct().collect()
    assert [r.value for r in hole_vals] == [None]
    # round 13 flipped this pin: a mismatched mask tile edge no longer
    # errors — the mask side adapts through the fragment repack
    # (demote-never-error); result identical to the same-edge join
    mixed = (
        t.from_tiled(t.mask_tiled(dt, t.to_tiled(mc, tile=8)))
        .df.toPandas()[cols].sort_values(cols[:4]).reset_index(drop=True)
    )
    same = (
        t.from_tiled(t.mask_tiled(dt, mt))
        .df.toPandas()[cols].sort_values(cols[:4]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(mixed, same, check_exact=True)


def test_tiled_temporal_period_matches_long_across_engines(spark):
    """Calendar-period resample on tiles ≡ the long operator for two
    (period, reducer) combos, and the time-axis metadata maps to the
    truncation image."""
    import pandas as pd

    from openeo_odc_driver_spark.operators.aggregates import (
        aggregate_temporal_period,
    )
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    t = _tiled_mod()
    cube = synthetic_cube(spark)
    tc = t.to_tiled(cube, tile=7)
    cols = ["band", "time", "y", "x", "value"]
    for period, red in (("season", "max"), ("month", "mean")):
        long = (
            aggregate_temporal_period(cube, period, red).df.toPandas()[cols]
            .sort_values(cols[:4]).reset_index(drop=True)
        )
        got_tc = t.aggregate_temporal_period_tiled(tc, period, red)
        got = (
            t.from_tiled(got_tc).df.toPandas()[cols]
            .sort_values(cols[:4]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(long, got, check_exact=True)
    season = t.aggregate_temporal_period_tiled(tc, "season", "max")
    assert season.schema.time_axis is not None
    assert len(season.schema.time_axis) == 8  # 24 months -> 8 quarters
    import pytest

    with pytest.raises(ValueError, match="period"):
        t.aggregate_temporal_period_tiled(tc, "fortnight", "max")


def test_tiled_band_reduction_matches_long(spark):
    import pandas as pd

    from openeo_odc_driver_spark.operators.reducers import reduce_dimension
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    t = _tiled_mod()
    cube = synthetic_cube(spark)
    tc = t.to_tiled(cube, tile=7)
    cols = ["time", "y", "x", "value"]
    long = (
        reduce_dimension(cube, "bands", "mean").df.toPandas()[cols]
        .sort_values(cols[:3]).reset_index(drop=True)
    )
    got = (
        t.from_tiled(t.reduce_bands_tiled(tc, "mean"))
        .df.toPandas()[cols].sort_values(cols[:3]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(long, got, check_exact=True)
    import pytest

    flat = t.reduce_bands_tiled(tc)
    with pytest.raises(ValueError, match="band"):
        t.reduce_bands_tiled(flat)


def test_to_tiled_rejects_duplicate_pixel_keys(spark):
    """Duplicate (band, time, y, x) rows would silently mis-position
    every later pixel of the tile (a negative gap collapses to empty
    filler) — the assembly's size check raises a named error instead."""
    import pytest

    from openeo_odc_driver_spark.core.cube import Cube
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    t = _tiled_mod()
    base = synthetic_cube(spark)
    dup = Cube(base.df.unionAll(base.df.limit(1)), base.schema)
    with pytest.raises(Exception, match="duplicate pixel keys"):
        t.to_tiled(dup, tile=8).df.collect()


def test_tiled_error_contracts(spark):
    import pytest

    from openeo_odc_driver_spark.core.cube import Cube, CubeSchema
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    t = _tiled_mod()
    cube = synthetic_cube(spark)
    with pytest.raises(ValueError, match="tile"):
        t.to_tiled(cube, tile=0)
    gridless = Cube(cube.df, CubeSchema(dims=cube.schema.dims))
    with pytest.raises(ValueError, match="GridSpec"):
        t.to_tiled(gridless, tile=8)
    tc = t.to_tiled(cube, tile=2)
    with pytest.raises(ValueError, match="radius"):
        t.apply_kernel_tiled_layout(tc, [[1.0] * 7] * 7)
    # every border mode is tile-native since round 11; only unknown
    # names and wrap-over-partial-tilings raise
    with pytest.raises(NotImplementedError, match="unknown border"):
        t.apply_kernel_tiled_layout(tc, [[1.0]], border="nope")
    flat = t.reduce_time_tiled(tc, "mean")
    with pytest.raises(ValueError, match="time"):
        t.reduce_time_tiled(flat, "mean")
    # round-10 ADVICE fix: time-dim mismatch no longer raises — both
    # directions follow the long operator's key rule exactly
    # (test_round10.test_mask_tiled_time_parity_matches_long)
    assert t.mask_tiled(tc, flat).df.columns == tc.df.columns
    assert t.mask_tiled(flat, tc).df.columns == flat.df.columns


def test_to_tiled_non_dyadic_grid_rounds_to_cell(spark):
    """Pixel indices on grids whose resolution is not exactly
    representable in binary (degree grids, 0.1°) — the quotient
    (x - x0)/resx lands at e.g. 3.9999999999, and a truncating cast
    would put the pixel in the wrong cell; round-to-nearest keeps the
    round trip lossless (round-9 ADVICE fix)."""
    import pandas as pd

    from openeo_odc_driver_spark.core.cube import Cube, CubeSchema, GridSpec

    t = _tiled_mod()
    resx = resy = 0.1  # not a dyadic rational
    x0, y0 = -10.0, 40.0
    rows = [
        ("B01", "2020-01-01", y0 - resy * i, x0 + resx * j,
         float(10 * i + j))
        for i in range(8)
        for j in range(8)
    ]
    df = spark.createDataFrame(
        rows, "band string, time string, y double, x double, value double"
    )
    cube = Cube(df, CubeSchema(grid=GridSpec(x0=x0, y0=y0, resx=resx,
                                             resy=resy)))
    back = t.from_tiled(t.to_tiled(cube, tile=4)).df.toPandas()
    cols = ["band", "time", "y", "x", "value"]
    want = (df.toPandas()[cols].sort_values(cols[:4])
            .reset_index(drop=True))
    got = back[cols].sort_values(cols[:4]).reset_index(drop=True)
    pd.testing.assert_frame_equal(want, got, check_exact=True)


def test_bm25_query_term_with_quote_is_safe(spark):
    """A query term containing a single quote must neither crash nor
    inject into the tf expression (round-8 ADVICE fix: the tf lambda
    was a string-formatted F.expr)."""
    from openeo_odc_driver_spark.pipeline.text import bm25_scores

    docs = spark.createDataFrame(
        [(1, "o'brien wrote code"), (2, "nobody wrote anything")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.bm25_fp for r in bm25_scores(docs, "o'brien").collect()}
    assert got[1] > 0 and got[2] == 0
