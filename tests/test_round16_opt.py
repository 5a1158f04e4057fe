"""Round-16 optimization invariants.

The headline change replaces the interpreted SQL-fold nearest-centroid
assignment (kmeans_train's Lloyd loop, semantic_dedup_clusters' small-k
path) with assign_nearest_centroid_foldexact — numpy execution claimed
BIT-IDENTICAL to the fold expression. These tests pin that claim on
random data and on the adversarial cases the docstring argues through
(zero vectors, dead centroids, exact ties, NaN elements), comparing
float bit patterns, not approximate equality.
"""

import math
import struct

import pytest

from tests.conftest import spark  # noqa: F401


def _bits(x):
    if x is None:
        return None
    return struct.pack("<d", float(x))


def _sql_fold_assign(spark, e, cent_rows, with_norm):
    """The pre-round-16 SQL fold + max_by assignment, restated here as
    the reference semantics."""
    from pyspark.sql import functions as F

    from openeo_odc_driver_spark.pipeline.similarity import (
        dot_expr,
        norm_expr,
    )

    cents = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in cent_rows],
        "cent_id long, c_emb array<double>",
    ).withColumn("c_norm", norm_expr("c_emb"))
    scored = e.withColumn("e_norm", norm_expr("embedding")).crossJoin(
        F.broadcast(cents)
    ).withColumn(
        "_cs",
        dot_expr("embedding", "c_emb")
        / F.nullif(F.col("e_norm") * F.col("c_norm"), F.lit(0.0)),
    )
    best = F.max_by(
        F.struct(F.col("cent_id"), F.col("e_norm")),
        F.struct(F.col("_cs"), (-F.col("cent_id")).alias("_nc")),
    )
    out = scored.groupBy("vec_id").agg(best.alias("_b")).select(
        "vec_id",
        F.col("_b.cent_id").alias("cluster_id"),
        F.col("_b.e_norm").alias("e_norm"),
    )
    rows = {r.vec_id: (r.cluster_id, _bits(r.e_norm)) for r in out.collect()}
    if not with_norm:
        rows = {k: v[0] for k, v in rows.items()}
    return rows


def _foldexact_assign(e, cent_rows, with_norm):
    from openeo_odc_driver_spark.pipeline.similarity import (
        assign_nearest_centroid_foldexact,
    )

    out = assign_nearest_centroid_foldexact(
        e, cent_rows, with_norm=with_norm
    ).collect()
    if with_norm:
        return {r.vec_id: (r.cluster_id, _bits(r.e_norm)) for r in out}
    return {r.vec_id: r.cluster_id for r in out}


def test_foldexact_bitparity_random(spark):
    """Random float64 embeddings (the general case): assignment AND the
    emitted e_norm agree with the SQL fold to the bit."""
    import numpy as np

    rng = np.random.default_rng(16)
    emb = rng.normal(0, 1, (300, 17))  # odd dim: no dyadic luck
    e = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(emb)],
        "vec_id long, embedding array<double>",
    )
    cent_rows = [(i, [float(x) for x in emb[i]]) for i in range(9)]
    assert _foldexact_assign(e, cent_rows, True) == _sql_fold_assign(
        spark, e, cent_rows, True
    )


def test_foldexact_bitparity_float32_input(spark):
    """array<float> embeddings (the fixture's element type): the SQL
    fold CASTs each element to double before multiplying; the numpy
    path widens identically."""
    import numpy as np

    rng = np.random.default_rng(17)
    emb = rng.normal(0, 1, (200, 64)).astype("float32")
    e = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(emb)],
        "vec_id long, embedding array<float>",
    )
    cent_rows = [(i, [float(x) for x in emb[i]]) for i in range(16)]
    assert _foldexact_assign(e, cent_rows, True) == _sql_fold_assign(
        spark, e, cent_rows, True
    )


def test_foldexact_adversarial_cases(spark):
    """Zero embedding (all-NULL cosines -> lowest cent_id), dead zero
    centroid (NULL cosine loses), duplicated centroid (exact tie ->
    lowest cent_id), NaN element (NaN cosine sorts largest in Spark's
    double order; argmax picks the first NaN)."""
    rows = [
        (0, [0.0, 0.0, 0.0]),          # zero vector
        (1, [1.0, 0.0, 0.0]),
        (2, [0.5, 0.5, 0.0]),
        (3, [float("nan"), 1.0, 0.0]),  # NaN element
        (4, [-1.0, 0.0, 0.0]),          # best cosine is negative
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent_rows = [
        (0, [0.0, 0.0, 0.0]),   # dead centroid: NULL cosine everywhere
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),   # exact duplicate of cent 1: tie
        (3, [0.0, 1.0, 0.0]),
    ]
    got = _foldexact_assign(e, cent_rows, True)
    want = _sql_fold_assign(spark, e, cent_rows, True)
    assert got == want
    # spot-check the semantics the docstring claims, not just parity
    assert got[0][0] == 0      # all-NULL row: lowest cent_id
    assert got[1][0] == 1      # tie between 1 and 2: lowest wins
    # NaN row: the row-side NaN poisons ALL k cosines (even the dead
    # centroid's: NaN*0 denom is NaN, not 0) -> lowest cent_id
    assert got[3][0] == 0 and got[3][0] == want[3][0]


def test_foldexact_empty_centroids_raises(spark):
    from openeo_odc_driver_spark.pipeline.similarity import (
        assign_nearest_centroid_foldexact,
    )

    e = spark.createDataFrame(
        [(0, [1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="empty"):
        assign_nearest_centroid_foldexact(e, [])


def test_kmeans_train_unchanged_by_foldexact(spark, monkeypatch):
    """kmeans_train's trained centroids are a pure function of the
    assignment decisions; the numpy fold engine must leave them exactly
    where the SQL fold left them. Reference = kmeans_train itself with
    the SQL fold monkeypatched back in as the assignment engine (same
    means, same quantization — only the assignment engine differs)."""
    import numpy as np

    from pyspark.sql import functions as F

    from openeo_odc_driver_spark.pipeline import similarity as psim

    rng = np.random.default_rng(18)
    emb = rng.normal(0, 1, (150, 8))
    e = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(emb)],
        "vec_id long, embedding array<double>",
    )
    got = sorted(map(tuple, psim.kmeans_train(e, k=5, iters=2).collect()))

    def sql_fold_engine(embeddings, cent_rows, id_col="vec_id",
                        emb_col="embedding", out_col="cluster_id",
                        with_norm=False):
        from openeo_odc_driver_spark.pipeline.similarity import (
            dot_expr,
            norm_expr,
        )

        sp = embeddings.sparkSession
        cents = sp.createDataFrame(
            [(int(i), [float(x) for x in c]) for i, c in cent_rows],
            "cent_id long, c_emb array<double>",
        ).withColumn("c_norm", norm_expr("c_emb"))
        scored = embeddings.withColumn(
            "e_norm", norm_expr(emb_col)
        ).crossJoin(F.broadcast(cents)).withColumn(
            "_cs",
            dot_expr(emb_col, "c_emb")
            / F.nullif(F.col("e_norm") * F.col("c_norm"), F.lit(0.0)),
        )
        best = F.max_by(
            F.struct(F.col("cent_id"), F.col(emb_col), F.col("e_norm")),
            F.struct(F.col("_cs"), (-F.col("cent_id")).alias("_nc")),
        )
        out = scored.groupBy(id_col).agg(best.alias("_b")).select(
            id_col,
            F.col(f"_b.{emb_col}").alias(emb_col),
            F.col("_b.e_norm").alias("e_norm"),
            F.col("_b.cent_id").alias(out_col),
        )
        if not with_norm:
            out = out.drop("e_norm")
        return out

    monkeypatch.setattr(
        psim, "assign_nearest_centroid_foldexact", sql_fold_engine
    )
    want = sorted(map(tuple, psim.kmeans_train(e, k=5, iters=2).collect()))
    assert got == want
    assert sum(r[1] for r in got if r[2] == 0) == 150  # counts cover corpus


def test_overview_cascade_content_identical(spark, tmp_path):
    """Round-16 cascade (guide §6): save_tiled builds level k from the
    coarsest PROVEN finer level instead of the full-res base. On the
    synthetic grid the proof holds for 2->4 and 4->8, so the cascade
    path is exercised — and every level's rows must equal the level
    built directly from the base (the r15 construction)."""
    from openeo_odc_driver_spark.core import tiled as t
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    tc = t.to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16)
    g = tc.schema.grid
    # the gate below is only meaningful if the cascade actually fires
    assert t._overview_cascade_ok(g, 16, 16, 2, 4)
    assert t._overview_cascade_ok(g, 16, 16, 4, 8)

    path = str(tmp_path / "store")
    t.save_tiled(tc, path, overviews=(2, 4, 8))
    import json
    import os

    with open(os.path.join(path, "_tiled_meta.json")) as fh:
        assert json.load(fh)["overviews"] == [2, 4, 8]

    for k in (2, 4, 8):
        lvl = t.from_tiled(
            t.load_tiled(spark, f"{path}/_overviews/L{k}")
        ).df
        direct = t.from_tiled(t._build_overview(tc, k)).df
        cols = [c for c in lvl.columns]
        got = sorted(map(tuple, lvl.select(cols).collect()))
        want = sorted(map(tuple, direct.select(cols).collect()))
        assert got == want, f"level {k} diverged from direct build"


def test_ensure_overviews_cascades_from_existing(spark, tmp_path):
    """ensure_overviews on a store that already has L2 builds L4/L8
    through the cascade and commits them; content matches the direct
    build."""
    from openeo_odc_driver_spark.core import tiled as t
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    tc = t.to_tiled(synthetic_cube(spark), tile=8, n_y=16, n_x=16)
    path = str(tmp_path / "store")
    t.save_tiled(tc, path, overviews=(2,))
    assert t.ensure_overviews(spark, path, (2, 4, 8)) == [2, 4, 8]
    l8 = t.from_tiled(t.load_tiled(spark, f"{path}/_overviews/L8")).df
    direct = t.from_tiled(t._build_overview(tc, 8)).df
    assert sorted(map(tuple, l8.collect())) == sorted(
        map(tuple, direct.select(l8.columns).collect())
    )


def test_lazy_checkpoint_still_truncates_plan(spark, pagerank_regime):
    """eager=False localCheckpoint (round 16) must keep the r15 plan
    collapse: the pagerank loop's plan stays shallow (bounded Exchange
    count) because the loop invariants are LogicalRDD leaves even
    before materialization."""
    from pyspark.sql import functions as F

    from openeo_odc_driver_spark.pipeline.graph import pagerank_integer

    edges = spark.createDataFrame(
        [(a, b, 1) for a in range(12) for b in range(12) if a != b],
        "src long, dst long, w long",
    ).groupBy("src", "dst").agg(F.sum("w").alias("w"))
    pagerank_regime("broadcast")
    ranks = pagerank_integer(edges, iterations=3)
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    n_ex = plan.count("Exchange")
    assert n_ex <= 30, f"pagerank plan regrew: {n_ex} Exchanges"
