"""Iterative graph analytics over relationally-derived graphs.

Complements the pointer-jumping connected components in
``pipeline/dedup.py`` (`near_dup_clusters`) with the other classic
distributed-graph primitive: damped score propagation (PageRank). The
reference has no graph surface; this extends the training-data/
analytics side the way a catalog-scale pipeline needs (influence /
centrality over co-occurrence graphs).

Engine-exactness discipline: all rank arithmetic is INTEGER micro-units
with explicit integer division — (r·85·w) DIV (100·deg) — so a DuckDB
twin written with the same unrolled iterations reproduces every score
bit-for-bit (no float damping, no order-sensitive double sums; the
per-target aggregation sums integers, which is order-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

PR_UNIT = 1_000_000  # one rank point, in micro-units
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio
PR_BASE = PR_UNIT * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN  # 150000
PR_BROADCAST_MAX_NODES = 5_000_000  # broadcast the rank table up to this |V|


def pagerank_integer(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Weighted PageRank over directed ``(src, dst, w)`` edges in exact
    integer micro-unit arithmetic, fixed ``iterations`` rounds.

    Per round: ``r'(v) = PR_BASE + Σ_{u→v} (r(u)·85·w(u,v)) DIV
    (100·deg(u))`` with ``deg(u) = Σ_v w(u,v)`` — the standard damped
    propagation with integer floor division in place of float math, so
    two engines (or two runs under different partitionings) produce
    identical scores. The rank table covers the FULL node universe
    (src ∪ dst) every round: a node with no in-edges holds PR_BASE
    and keeps contributing along its out-edges, and sinks (dst-only
    nodes) accumulate rank — general damped PageRank on any digraph,
    not just symmetric edge lists (round-8 ADVICE fix: the previous
    dst-keyed rank table silently dropped src-only nodes after round
    one, erasing their later contributions).

    The physical rank⋈edges strategy follows the node universe |V|
    (one cheap aggregate, amortized over ``iterations`` rounds):

    - broadcast, at ``|V| <= PR_BROADCAST_MAX_NODES`` — each round
      broadcasts the |V|-sized rank table into the edge join. Right for
      co-occurrence/item graphs where |V| ≪ |E| and the rank table
      fits an executor (≲ tens of millions of rows at ~16 B/row).
    - shuffle, above it — edges are hash-partitioned by ``src`` ONCE
      before the loop; each round shuffles only the |V|-sized rank
      table to that layout (sort-merge/shuffled-hash join), so
      billion-node graphs never materialize a broadcast. Identical
      integer arithmetic → bit-identical scores (parity is
      pytest-pinned).

    Plan shape at scale: each round is ONE join of edges against the
    rank×degree side plus one integer aggregation keyed by dst; the
    dst-keyed aggregation reuses the same exchange layout every round,
    and the full-universe retention is a |V|⋈|V| left join (never
    touches the edge table). Iterations are a fixed small constant
    (the oracle unrolls the same rounds as CTEs), not a convergence
    loop.
    """
    return _pagerank(edges, iterations, broadcast=None)


def _pagerank(
    edges: DataFrame, iterations: int, broadcast: bool | None
) -> DataFrame:
    """:func:`pagerank_integer` with the join regime pinned by a bool
    ``broadcast`` (the copurchase gate rows cover each regime at
    fixture scale); ``None`` picks it from |V|."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    # Iterative-algorithm lineage discipline (round-15 optimization):
    # every reference to `e` / `nodes` inside the unrolled loop embeds
    # its whole upstream subtree into the plan — for a derived edge
    # table (e.g. copurchase_edges' distinct + self-join) the 3-round
    # plan re-plans that subtree dozens of times (measured: 287
    # physical operators, 150 Exchanges, zero ReusedExchange).
    # localCheckpoint materializes the loop invariants ONCE per call —
    # values are unchanged (all rank arithmetic is exact integer math)
    # and each bench/oracle invocation still computes them fresh from
    # the inputs (a checkpoint is tied to this DataFrame, not to a
    # plan-keyed cache, so repeated calls cannot reuse it).
    # eager=False (round-16, guide §5): the plan is truncated to a
    # LogicalRDD either way, but the LAZY form materializes inside the
    # first action that needs it instead of paying a separate barrier
    # job per invariant per invocation — the r15 eager barriers cost
    # ~2x warm wall on this pair at sf0.1 (driver best-of-n).
    edges = edges.localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("d"))
    nodes = (
        edges.select(F.col("src").alias("pk"))
        .union(edges.select(F.col("dst").alias("pk")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if broadcast is None:
        broadcast = nodes.count() <= PR_BROADCAST_MAX_NODES
    # NOTE: `e` stays LAZY in both regimes. Checkpointing it was A/B'd
    # and REGRESSED the shuffle regime 2.8× (35.1 s vs 12.6 s best,
    # interleaved): a localCheckpoint scan has no outputPartitioning, so
    # every round re-shuffled the E-sized table, while the lazy form's
    # per-round exchanges are identical subtrees that runtime exchange
    # reuse materializes once. With edges/nodes checkpointed above, the
    # lazy `e` subtree is one shallow groupBy+join over an in-memory
    # scan — the lineage blow-up is already gone.
    if broadcast:
        e = edges.join(F.broadcast(deg), "src")
        _small = F.broadcast  # the build side of each round's two joins
    else:
        # co-partition the big side once; every round's rank join and the
        # retention join then shuffle only |V|-sized tables
        e = edges.repartition("src").join(deg, "src")
        _small = lambda df: df  # noqa: E731 — identity: let AQE pick SMJ/SHJ
    ranks = nodes.select("pk", F.lit(PR_UNIT).cast("bigint").alias("r"))
    for _ in range(iterations):
        contrib = e.join(
            _small(ranks), e.src == ranks.pk
        ).select(
            F.col("dst"),
            F.expr(
                f"(r * {PR_DAMP_NUM} * w) DIV ({PR_DAMP_DEN} * d)"
            ).alias("_c"),
        )
        agg = contrib.groupBy("dst").agg(
            F.sum("_c").cast("bigint").alias("_s")
        )
        # full-universe retention: nodes with no in-edges keep PR_BASE
        # (broadcast the ≤|V| agg side — the LEFT side of an outer join
        # can't be the broadcast build side)
        ranks = (
            nodes.join(_small(agg), nodes.pk == agg.dst, "left")
            .select(
                "pk",
                (F.lit(PR_BASE) + F.coalesce(F.col("_s"), F.lit(0)))
                .cast("bigint")
                .alias("r"),
            )
        )
    return ranks


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Directed co-purchase edges between parts: for every order, each
    unordered pair of its distinct parts contributes one edge instance
    in BOTH directions; instances aggregate to ``(src, dst, w)``.

    The pair expansion is per-order (orders hold single-digit distinct
    parts, so the blow-up is bounded by order size², never corpus²) —
    the same within-group expansion discipline as the market-basket
    session pairs."""
    items = lineitem.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )


def label_propagation(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Synchronous label-propagation community detection over directed
    weighted ``(src, dst, w)`` edges, fixed ``iterations`` rounds,
    fully deterministic: a node adopts the label with the greatest
    incident edge weight among its in-neighbors' labels, ties broken
    by the SMALLEST label — so the whole run is a pure function of the
    edge set (no randomized update order, which is what makes vanilla
    LPA unreproducible and oracle-unfriendly).

    Returns ``(pk, label)`` per node — the FULL node universe
    (src ∪ dst): a node with no in-neighbors keeps its current label
    each round (and its out-edges keep voting), so general digraphs
    behave correctly, not just symmetric edge lists (round-8 ADVICE
    fix, same class as pagerank_integer's src-only drop). Integer
    weights sum order-free; the argmax is a row_number window over
    (weight DESC, label ASC) — the same expression both engines
    evaluate identically.

    Plan: per round, one join of edges against the broadcast |V|-sized
    label table, one (dst, label) weight aggregation, one
    dst-partitioned top-1 window over the (≤ neighbors-per-node)
    aggregated rows, and one |V|⋈≤|V| left join carrying voteless
    nodes forward. Fixed-round synchronous updates match the oracle's
    unrolled-CTE form exactly.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    # same loop-invariant materialization as pagerank_integer (see its
    # comment): edges + the initial label table are referenced by every
    # unrolled round; checkpointing them keeps the per-round plan
    # shallow. Values unchanged (integer votes, deterministic argmax).
    # eager=False: materialize inside the first action, not as a
    # separate per-invocation barrier job (round-16, guide §5).
    edges = edges.localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("pk"))
        .union(edges.select(F.col("dst").alias("pk")))
        .distinct()
        .select("pk", F.col("pk").alias("label"))
        .localCheckpoint(eager=False)
    )
    w_top = Window.partitionBy("dst").orderBy(
        F.desc("_wsum"), F.asc("label")
    )
    for _ in range(iterations):
        votes = (
            edges.join(F.broadcast(labels), edges.src == labels.pk)
            .groupBy("dst", "label")
            .agg(F.sum("w").cast("bigint").alias("_wsum"))
        )
        top = (
            votes.withColumn("_rn", F.row_number().over(w_top))
            .where(F.col("_rn") == 1)
            .select(F.col("dst"), F.col("label").alias("_new"))
        )
        labels = (
            labels.join(F.broadcast(top), labels.pk == top.dst, "left")
            .select(
                "pk", F.coalesce(F.col("_new"), F.col("label")).alias("label")
            )
        )
    return labels


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an undirected graph given as
    symmetric directed ``(src, dst, w)`` edges (weights ignored).

    Returns a single row ``(n_triangles)``.

    Plan — the degree-ORIENTED algorithm, not the naive triple join:
    each undirected edge is kept once, oriented from the endpoint with
    smaller (degree, id) toward the larger. Every triangle then has
    exactly ONE wedge node with two outgoing oriented edges, so
    counting = join the oriented list with itself on the wedge node
    and probe the third side. Orientation bounds each node's out-list
    by O(√E) (a node of degree d only points to ≥-degree nodes), so
    the wedge join fans out to O(E^1.5) total instead of Σ d² — the
    standard distributed-triangle discipline. The oracle states the
    same count as the naive a<b<c triple join, which the fixture scale
    affords; both are exact integers.
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
    e = (
        edges.where(F.col("src") < F.col("dst"))
        .join(F.broadcast(deg).withColumnRenamed("src", "_sk"),
              F.col("src") == F.col("_sk"))
        .withColumnRenamed("_d", "_da")
        .drop("_sk")
        .join(F.broadcast(deg).withColumnRenamed("src", "_dk"),
              F.col("dst") == F.col("_dk"))
        .withColumnRenamed("_d", "_db")
        .drop("_dk")
    )
    lo_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("src") < F.col("dst"))
    )
    oriented = e.select(
        F.when(lo_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(lo_first, F.col("dst")).otherwise(F.col("src")).alias("v"),
    )
    a, b = oriented.alias("a"), oriented.alias("b")
    # wedge pairs canonicalized by node id (a.v < b.v), so the closing
    # edge can be probed in the ID-canonical undirected list with a pure
    # EQUI-join — a disjunctive "either orientation" condition here
    # would degrade to a nested-loop join and explode on dense graphs
    wedges = a.join(
        b,
        (F.col("a.u") == F.col("b.u")) & (F.col("a.v") < F.col("b.v")),
    ).select(F.col("a.v").alias("x"), F.col("b.v").alias("y"))
    und = edges.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("x2"), F.col("dst").alias("y2")
    )
    closed = wedges.join(
        und, (F.col("x") == F.col("x2")) & (F.col("y") == F.col("y2"))
    )
    return closed.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


def related_items(edges: DataFrame, k: int = 5) -> DataFrame:
    """Item-item collaborative filtering over the co-occurrence graph:
    for every node, the top-``k`` neighbors by cosine association
    ``w(a,b)² / (deg(a)·deg(b))`` — the "customers who bought this
    also bought" table, computed purely from the edge list.

    Exactness: the score is ONE IEEE division of two exact integers
    (w² and deg·deg), which is correctly rounded and therefore
    identical in any engine — no sums of floats anywhere. Ties break
    on the neighbor id, so the top-k edge is deterministic.

    Plan: two broadcast joins decorate each edge with its endpoint
    degrees (|V|-sized degree table), then ONE window partitioned by
    src takes the top-k — bounded output |V|·k, never a node² table.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    deg = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("_d"))
    e = (
        edges.join(
            F.broadcast(deg).select(F.col("src").alias("_sk"), F.col("_d").alias("_da")),
            F.col("src") == F.col("_sk"),
        )
        .drop("_sk")
        .join(
            F.broadcast(deg).select(F.col("src").alias("_dk"), F.col("_d").alias("_db")),
            F.col("dst") == F.col("_dk"),
        )
        .drop("_dk")
    )
    score = (F.col("w") * F.col("w")).cast("double") / (
        F.col("_da") * F.col("_db")
    ).cast("double")
    w_top = Window.partitionBy("src").orderBy(
        F.desc("_score"), F.asc("dst")
    )
    return (
        e.withColumn("_score", score)
        .withColumn("_rn", F.row_number().over(w_top))
        .where(F.col("_rn") <= k)
        .select("src", "dst", F.col("_score").alias("score"),
                F.col("_rn").cast("int").alias("rank"))
    )
