"""Registry entries for the training-data-pipeline operators
(dedup / similarity / text / multimodal / streaming) over the
``documents`` and ``embeddings`` fixture tables.

All oracle SQL reproduces the md5-based hash math bit-for-bit
(pipeline/dedup.py docstring; validated scratch/parity_probe2.py).
Imported by :mod:`registry` for its side effects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .pipeline import dedup as pdedup
from .pipeline import similarity as psim
from .pipeline import text as ptext
from .pipeline.dedup import (
    LSH_BANDS,
    MH_AS,
    MH_BS,
    MH_PRIME,
    MINHASH_K,
    SHINGLE_LEN,
    md5_int_duck,
)
from .pipeline.similarity import lsh_bucket_sql
from .fixtures import values_oracle_sql
from .registry import ORACLE, QUERIES, q
from .sources.tables import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# --- shared DuckDB fragments ------------------------------------------------

_SHINGLES_D = (
    "list_distinct(list_transform("
    f"generate_series(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1)), "
    f"i -> substring(text, i, {SHINGLE_LEN})))"
)

_MH_MINS_D = ", ".join(
    f"min((h * {a} + {b}) % {MH_PRIME}) AS mh{i}"
    for i, (a, b) in enumerate(zip(MH_AS, MH_BS))
)

# doc_id → mh0..mh11 signature CTE
_SIG_CTE = (
    f"sh AS (SELECT doc_id, unnest({_SHINGLES_D}) AS sh FROM documents), "
    f"hh AS (SELECT doc_id, {md5_int_duck('sh')} AS h FROM sh), "
    f"sig AS (SELECT doc_id, {_MH_MINS_D} FROM hh GROUP BY doc_id)"
)

_ROWS_PER_BAND = MINHASH_K // LSH_BANDS


def _band_key_d(b: int, rows_per_band: int = _ROWS_PER_BAND) -> str:
    parts = ", ".join(
        f"CAST(mh{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
    )
    return f"concat_ws('_', '{b}', {parts})"


_BANDED_CTE = "banded AS (" + " UNION ALL ".join(
    f"SELECT doc_id, {_band_key_d(b)} AS band_key FROM sig"
    for b in range(LSH_BANDS)
) + ")"

_CAND_CTE = (
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
    "FROM banded a JOIN banded b ON a.band_key = b.band_key "
    "AND a.doc_id < b.doc_id)"
)

_EST_EXPR = (
    "("
    + " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(MINHASH_K)
    )
    + f") / {float(MINHASH_K)}"
)


def _duck_dot(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _duck_cosine(a: str, b: str) -> str:
    return (
        f"({_duck_dot(a, b)}) / "
        f"nullif(sqrt({_duck_dot(a, a)}) * sqrt({_duck_dot(b, b)}), 0.0)"
    )


# --- dedup ------------------------------------------------------------------

@q(
    "exact_dedup",
    "SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id, "
    "count(*) AS n_copies FROM documents GROUP BY md5(text)",
)
def _exact_dedup(spark, sf_dir):
    return pdedup.exact_dedup(_docs(spark, sf_dir))


@q(
    "dedup_keep_first",
    "SELECT d.* FROM documents d JOIN ("
    "SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)"
    ") w ON d.doc_id = w.doc_id",
)
def _dedup_keep_first(spark, sf_dir):
    return pdedup.dedup_keep_first(_docs(spark, sf_dir))


@q(
    "frame_sample",
    "SELECT doc_id, CAST(unnest(range(0, 100, 10)) AS INT) AS frame_idx "
    "FROM documents WHERE doc_id < 32",
)
def _frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing (multimodal): one row per sampled
    frame index — the decode itself is the documented stub boundary."""
    from .pipeline.multimodal import frame_sample

    return frame_sample(_docs(spark, sf_dir).where(F.col("doc_id") < 32),
                        every_n=10, n_frames=100)


@q(
    "minhash_signatures",
    f"WITH {_SIG_CTE} SELECT * FROM sig",
)
def _minhash_signatures(spark, sf_dir):
    sig = pdedup.minhash_signatures(_docs(spark, sf_dir))
    return sig.select(
        "doc_id",
        *[F.element_at("sig", i + 1).alias(f"mh{i}") for i in range(MINHASH_K)],
    )


@q(
    "minhash_lsh_pairs",
    f"WITH {_SIG_CTE}, {_BANDED_CTE}, {_CAND_CTE} "
    f"SELECT doc_a, doc_b, est_jaccard FROM ("
    f"SELECT c.doc_a, c.doc_b, {_EST_EXPR} AS est_jaccard "
    "FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a "
    "JOIN sig sb ON sb.doc_id = c.doc_b) WHERE est_jaccard >= 0.5",
)
def _minhash_lsh_pairs(spark, sf_dir):
    # oracle mode: fixed LSH_BANDS banding — the shipped default is the
    # density-aware bands_for_corpus, whose runtime choice has no static
    # SQL twin (exercised by tests/test_pipeline.py + the PLANS.md
    # round-7 scale measurement instead)
    return pdedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), jaccard_threshold=0.5, bands=LSH_BANDS
    )


# high-precision banding picked by the MMDS tuner for threshold 0.85:
# lsh_params_for_threshold(0.85, 12) == (2, 6) — s-curve midpoint 0.89
_TUNED_BANDS, _TUNED_RPB = 2, MINHASH_K // 2
_BANDED_TUNED_CTE = "banded AS (" + " UNION ALL ".join(
    f"SELECT doc_id, {_band_key_d(b, _TUNED_RPB)} AS band_key FROM sig"
    for b in range(_TUNED_BANDS)
) + ")"


@q(
    "minhash_lsh_pairs_tuned",
    f"WITH {_SIG_CTE}, {_BANDED_TUNED_CTE}, {_CAND_CTE} "
    f"SELECT doc_a, doc_b, est_jaccard FROM ("
    f"SELECT c.doc_a, c.doc_b, {_EST_EXPR} AS est_jaccard "
    "FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a "
    "JOIN sig sb ON sb.doc_id = c.doc_b) WHERE est_jaccard >= 0.85",
)
def _minhash_lsh_pairs_tuned(spark, sf_dir):
    """The tuner-driven banding end-to-end (pipeline/dedup.py:
    lsh_params_for_threshold): a high-precision dedup pass at Jaccard
    0.85 under the (2, 6) banding the MMDS rule picks for that
    threshold — the dense-corpus candidate-density knob (PLANS.md
    round-6: bands 4→2 measured 2.2× faster at generated sf1.0) with
    its exact DuckDB twin."""
    bands, rpb = pdedup.lsh_params_for_threshold(0.85)
    if (bands, rpb) != (_TUNED_BANDS, _TUNED_RPB):
        # the DuckDB twin above hardcodes (2, 6); if the tuner or
        # MINHASH_K ever drifts, fail with a named error instead of a
        # confusing value mismatch (ADVICE r6)
        raise AssertionError(
            f"lsh_params_for_threshold(0.85) drifted to ({bands}, {rpb}); "
            f"oracle SQL pins ({_TUNED_BANDS}, {_TUNED_RPB}) — regenerate "
            "_BANDED_TUNED_CTE"
        )
    return pdedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), jaccard_threshold=0.85, bands=bands
    )


# the density-aware DEFAULT banding end-to-end (round 7): on the SPARSE
# sf0.01 fixture the occupancy probe keeps the MMDS threshold rule's
# (6, 2) — pinned here so the static SQL twin stays valid, with a named
# drift error (the _TUNED_BANDS pattern). The probe's dense-corpus
# tightening is exercised by tests/test_pipeline.py and measured in
# PLANS.md (17.5x -> 4.15x at generated 10x rows).
_AUTO_BANDS, _AUTO_RPB = 6, MINHASH_K // 6
_BANDED_AUTO_CTE = "banded AS (" + " UNION ALL ".join(
    f"SELECT doc_id, {_band_key_d(b, _AUTO_RPB)} AS band_key FROM sig"
    for b in range(_AUTO_BANDS)
) + ")"


def _assert_auto_bands(sig, sig_other=None) -> None:
    got = pdedup.bands_for_corpus(sig, 0.5, sig_other=sig_other)
    if got != _AUTO_BANDS:
        raise AssertionError(
            f"bands_for_corpus picked {got} on the fixture; oracle SQL "
            f"pins {_AUTO_BANDS} — corpus density changed, regenerate "
            "_BANDED_AUTO_CTE"
        )


@q(
    "minhash_lsh_pairs_auto",
    f"WITH {_SIG_CTE}, {_BANDED_AUTO_CTE}, {_CAND_CTE} "
    f"SELECT doc_a, doc_b, est_jaccard FROM ("
    f"SELECT c.doc_a, c.doc_b, {_EST_EXPR} AS est_jaccard "
    "FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a "
    "JOIN sig sb ON sb.doc_id = c.doc_b) WHERE est_jaccard >= 0.5",
)
def _minhash_lsh_pairs_auto(spark, sf_dir):
    """The SHIPPED DEFAULT path (bands=None → bands_for_corpus): the
    occupancy probe runs for real inside minhash_lsh_pairs and lands on
    the banding this row's static SQL twin pins (drift-asserted)."""
    docs = _docs(spark, sf_dir)
    _assert_auto_bands(pdedup.minhash_signatures(docs))
    return pdedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5)


@q(
    "minhash_dedup_incremental_auto",
    f"WITH shn AS (SELECT doc_id, unnest({_SHINGLES_D}) AS sh "
    "FROM documents WHERE doc_id % 5 = 0), "
    f"hhn AS (SELECT doc_id, {md5_int_duck('sh')} AS h FROM shn), "
    f"sign_ AS (SELECT doc_id, {_MH_MINS_D} FROM hhn GROUP BY doc_id), "
    f"sho AS (SELECT doc_id, unnest({_SHINGLES_D}) AS sh "
    "FROM documents WHERE doc_id % 5 != 0), "
    f"hho AS (SELECT doc_id, {md5_int_duck('sh')} AS h FROM sho), "
    f"sigo AS (SELECT doc_id, {_MH_MINS_D} FROM hho GROUP BY doc_id), "
    "bn AS (" + " UNION ALL ".join(
        f"SELECT doc_id, {_band_key_d(b, _AUTO_RPB)} AS band_key FROM sign_"
        for b in range(_AUTO_BANDS)
    ) + "), "
    "bo AS (" + " UNION ALL ".join(
        f"SELECT doc_id, {_band_key_d(b, _AUTO_RPB)} AS band_key FROM sigo"
        for b in range(_AUTO_BANDS)
    ) + "), "
    "cand AS (SELECT DISTINCT bn.doc_id AS new_doc, bo.doc_id AS dup_of "
    "FROM bn JOIN bo USING (band_key)) "
    "SELECT new_doc, dup_of, "
    + _EST_EXPR.replace("sa.", "sn.").replace("sb.", "so.")
    + " AS est_jaccard FROM cand "
    "JOIN sign_ sn ON cand.new_doc = sn.doc_id "
    "JOIN sigo so ON cand.dup_of = so.doc_id "
    + "WHERE "
    + _EST_EXPR.replace("sa.", "sn.").replace("sb.", "so.")
    + " >= 0.5",
)
def _minhash_dedup_incremental_auto(spark, sf_dir):
    """Incremental near-dedup under the SHIPPED DEFAULT density-aware
    banding (new x existing occupancy probe), drift-asserted against
    this row's static (6, 2) SQL twin."""
    docs = _docs(spark, sf_dir)
    new = docs.where(F.col("doc_id") % 5 == 0)
    old = docs.where(F.col("doc_id") % 5 != 0)
    _assert_auto_bands(
        pdedup.minhash_signatures(new),
        sig_other=pdedup.minhash_signatures(old),
    )
    return pdedup.minhash_dedup_incremental(new, old, jaccard_threshold=0.5)


# exact connected components over the LSH dup-pair graph via a recursive
# reachability CTE — tractable at fixture scale; cluster_id = min doc_id
# reachable. Shared by all three near-dedup oracles (one definition to fix).
_CC_CTES = (
    f"{_SIG_CTE}, {_BANDED_CTE}, {_CAND_CTE}, "
    f"pairs AS (SELECT doc_a, doc_b FROM ("
    f"SELECT c.doc_a, c.doc_b, {_EST_EXPR} AS ej "
    "FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a "
    "JOIN sig sb ON sb.doc_id = c.doc_b) WHERE ej >= 0.5), "
    "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs "
    "UNION ALL SELECT doc_b, doc_a FROM pairs), "
    "reach(v, l) AS (SELECT src, src FROM edges "
    "UNION SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v), "
    "clusters AS (SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v)"
)

_KEEP_REPRESENTATIVE_SQL = (
    "SELECT d.* FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id "
    "WHERE c.cluster_id IS NULL OR c.cluster_id = d.doc_id"
)


@q(
    "near_dup_clusters",
    f"WITH RECURSIVE {_CC_CTES} SELECT * FROM clusters",
)
def _near_dup_clusters(spark, sf_dir):
    return pdedup.near_dup_clusters(
        _docs(spark, sf_dir), jaccard_threshold=0.5, bands=LSH_BANDS
    )


@q(
    "near_dup_keep_representative",
    f"WITH RECURSIVE {_CC_CTES} {_KEEP_REPRESENTATIVE_SQL}",
)
def _near_dup_keep_representative(spark, sf_dir):
    return pdedup.near_dup_keep_representative(
        _docs(spark, sf_dir), jaccard_threshold=0.5, bands=LSH_BANDS
    )


@q(
    "ngram_jaccard_pairs",
    f"WITH {_SIG_CTE}, {_BANDED_CTE}, {_CAND_CTE}, "
    f"lsh AS (SELECT doc_a, doc_b FROM ("
    f"SELECT c.doc_a, c.doc_b, {_EST_EXPR} AS est_jaccard "
    "FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a "
    "JOIN sig sb ON sb.doc_id = c.doc_b) WHERE est_jaccard >= 0.2), "
    "shd AS (SELECT DISTINCT doc_id, sh FROM sh), "
    "sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id), "
    "inter AS (SELECT l.doc_a, l.doc_b, count(*) AS n_inter "
    "FROM lsh l JOIN shd a ON a.doc_id = l.doc_a "
    "JOIN shd b ON b.doc_id = l.doc_b AND b.sh = a.sh GROUP BY 1, 2) "
    "SELECT doc_a, doc_b, jaccard FROM ("
    "SELECT i.doc_a, i.doc_b, "
    "i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) AS jaccard "
    "FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a "
    "JOIN sizes sb ON sb.doc_id = i.doc_b) WHERE jaccard >= 0.4",
)
def _ngram_jaccard(spark, sf_dir):
    return pdedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.4, bands=LSH_BANDS
    )


_SIMHASH_BITS = 28
_VOTES_D = ", ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(_SIMHASH_BITS)
)
_FP_D = " + ".join(
    f"CASE WHEN v{b} > 0 THEN {2 ** b} ELSE 0 END" for b in range(_SIMHASH_BITS)
)


@q(
    "simhash_fingerprints",
    "WITH tok AS (SELECT doc_id, "
    "unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents), "
    f"hh AS (SELECT doc_id, {md5_int_duck('tok')} AS h FROM tok), "
    f"v AS (SELECT doc_id, {_VOTES_D} FROM hh GROUP BY doc_id) "
    f"SELECT doc_id, CAST({_FP_D} AS BIGINT) AS simhash FROM v",
)
def _simhash(spark, sf_dir):
    return pdedup.simhash_fingerprints(_docs(spark, sf_dir), bits=_SIMHASH_BITS)


# fixture embeddings have no true near-dups (max in-bucket cosine ≈ 0.45);
# 0.3 exercises the full pipeline with a non-trivial result set
_SH_CHUNK = _SIMHASH_BITS // 4
_SH_MASK = (1 << _SH_CHUNK) - 1


@q(
    "simhash_near_dup_pairs",
    "WITH tok AS (SELECT doc_id, "
    "unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents), "
    f"hh AS (SELECT doc_id, {md5_int_duck('tok')} AS h FROM tok), "
    f"v AS (SELECT doc_id, {_VOTES_D} FROM hh GROUP BY doc_id), "
    f"fp AS (SELECT doc_id, CAST({_FP_D} AS BIGINT) AS simhash FROM v), "
    "banded AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, simhash, concat_ws('_', '{b}', "
        f"CAST((simhash >> {b * _SH_CHUNK}) & {_SH_MASK} AS VARCHAR)) "
        "AS band_key FROM fp"
        for b in range(4)
    )
    + ") "
    "SELECT doc_a, doc_b, hamming FROM ("
    "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "bit_count(xor(a.simhash, b.simhash)) AS hamming "
    "FROM banded a JOIN banded b ON a.band_key = b.band_key "
    "AND a.doc_id < b.doc_id) WHERE hamming <= 6",
)
def _simhash_pairs(spark, sf_dir):
    return pdedup.simhash_near_dup_pairs(_docs(spark, sf_dir), bits=_SIMHASH_BITS)


_EMB_DUP_THRESHOLD = 0.3


@q(
    "embedding_cosine_dup_pairs",
    f"WITH e AS (SELECT vec_id, embedding, {lsh_bucket_sql('embedding')} AS bucket "
    "FROM embeddings) "
    "SELECT vec_a, vec_b, cosine FROM ("
    "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
    f"{_duck_cosine('a.embedding', 'b.embedding')} AS cosine "
    "FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) "
    f"WHERE cosine >= {_EMB_DUP_THRESHOLD}",
)
def _emb_dups(spark, sf_dir):
    return pdedup.embedding_cosine_dup_pairs(
        _embs(spark, sf_dir), threshold=_EMB_DUP_THRESHOLD, n_planes=8
    )


# --- similarity search ------------------------------------------------------

_TOPK_TAIL = (
    "SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, cosine FROM ("
    "SELECT query_id, neighbor_id, cosine, row_number() OVER ("
    "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn "
    "FROM scored) WHERE rn <= 5"
)


@q(
    "brute_force_topk",
    "WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb "
    "FROM embeddings WHERE vec_id < 8), "
    "scored AS (SELECT q.query_id, e.vec_id AS neighbor_id, "
    f"{_duck_cosine('q.q_emb', 'e.embedding')} AS cosine "
    "FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id) "
    + _TOPK_TAIL,
)
def _brute_topk(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return psim.brute_force_topk(e, e.where(F.col("vec_id") < 8), k=5)


_PROBE_MASKS = "[" + ", ".join(str(m) for m in [0] + [2 ** j for j in range(8)]) + "]"


@q(
    "lsh_bucket_ann",
    f"WITH c AS (SELECT vec_id, embedding, {lsh_bucket_sql('embedding')} AS bucket "
    "FROM embeddings), "
    "q0 AS (SELECT vec_id AS query_id, embedding AS q_emb, "
    f"{lsh_bucket_sql('embedding')} AS b0 FROM embeddings WHERE vec_id < 8), "
    f"q AS (SELECT query_id, q_emb, xor(b0, m) AS bucket "
    f"FROM q0, unnest({_PROBE_MASKS}) t(m)), "
    "scored AS (SELECT q.query_id, c.vec_id AS neighbor_id, "
    f"{_duck_cosine('q.q_emb', 'c.embedding')} AS cosine "
    "FROM c JOIN q ON c.bucket = q.bucket WHERE c.vec_id != q.query_id) "
    + _TOPK_TAIL,
)
def _lsh_ann(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return psim.lsh_bucket_ann(e, e.where(F.col("vec_id") < 8), k=5)


_IVF_NC, _IVF_NPROBE = 16, 4


@q(
    "ivf_flat_ann",
    "WITH cents AS (SELECT vec_id AS cent_id, embedding AS c_emb "
    f"FROM embeddings WHERE vec_id < {_IVF_NC}), "
    "ca AS (SELECT vec_id, embedding, cent_id FROM ("
    "SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cent_id) "
    "AS rn FROM (SELECT e.vec_id, e.embedding, ct.cent_id, "
    f"({_duck_dot('e.embedding', 'ct.c_emb')}) / "
    f"nullif(sqrt({_duck_dot('e.embedding', 'e.embedding')}) * "
    f"sqrt({_duck_dot('ct.c_emb', 'ct.c_emb')}), 0.0) AS cs "
    "FROM embeddings e CROSS JOIN cents ct)) WHERE rn = 1), "
    "qa AS (SELECT query_id, q_emb, cent_id FROM ("
    "SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, cent_id) "
    "AS rn FROM (SELECT qq.vec_id AS query_id, qq.embedding AS q_emb, ct.cent_id, "
    f"({_duck_dot('qq.embedding', 'ct.c_emb')}) / "
    f"nullif(sqrt({_duck_dot('qq.embedding', 'qq.embedding')}) * "
    f"sqrt({_duck_dot('ct.c_emb', 'ct.c_emb')}), 0.0) AS cs "
    "FROM embeddings qq CROSS JOIN cents ct WHERE qq.vec_id < 8)) "
    f"WHERE rn <= {_IVF_NPROBE}), "
    "scored AS (SELECT qa.query_id, ca.vec_id AS neighbor_id, "
    f"{_duck_cosine('qa.q_emb', 'ca.embedding')} AS cosine "
    "FROM ca JOIN qa ON ca.cent_id = qa.cent_id "
    "WHERE ca.vec_id != qa.query_id) "
    + _TOPK_TAIL,
)
def _ivf_ann(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return psim.ivf_flat_ann(
        e, e.where(F.col("vec_id") < 8), k=5,
        n_centroids=_IVF_NC, nprobe=_IVF_NPROBE,
    )


@q(
    "ann_recall",
    # Recall@5 of each ANN method vs the exact brute-force ground truth,
    # as a GATED query (VERDICT r2 item 7): the oracle is the expected
    # constant on the sf0.01 fixture (corpus pinned to vec_id < 500 =
    # the whole sf0.01 embeddings table; deterministic plans, no RNG) —
    # a refactor that silently tanks candidate generation breaks this
    # row's hash match. ivf: nprobe/n_centroids = 4/16 lists probed →
    # 0.925; lsh: 9 of 2^8 buckets probed (1-bit multiprobe) → 0.05 on
    # 500 near-random vectors (~2/bucket ⇒ candidates are scarce; the
    # pre-r6 0.1 was an artifact of degenerate near-parallel hyperplanes
    # concentrating 10% of the corpus in one mega-bucket — probing it
    # brute-forced a tenth of the corpus); pq: 8×16-code ADC → 0.15 —
    # coarse quantizers retain little signal on random vectors, the
    # documented tradeoff.
    "SELECT method, hits, total, "
    "CAST(hits AS DOUBLE) / CAST(total AS DOUBLE) AS recall "
    "FROM (VALUES ('ivf', CAST(37 AS BIGINT), CAST(40 AS BIGINT)), "
    "('lsh', CAST(2 AS BIGINT), CAST(40 AS BIGINT)), "
    "('pq', CAST(6 AS BIGINT), CAST(40 AS BIGINT))) t(method, hits, total)",
)
def _ann_recall(spark, sf_dir):
    e = _embs(spark, sf_dir).where(F.col("vec_id") < 500)
    qs = e.where(F.col("vec_id") < 8)
    gt = psim.brute_force_topk(e, qs, k=5).select("query_id", "neighbor_id")
    total = gt.groupBy().agg(F.count("*").alias("total"))

    def _row(name: str, ann):
        hits = (
            gt.join(ann.select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"])
            .groupBy()
            .agg(F.count("*").alias("hits"))
        )
        return hits.crossJoin(total).select(
            F.lit(name).alias("method"), "hits", "total",
            (F.col("hits").cast("double") / F.col("total").cast("double")
             ).alias("recall"),
        )

    return (
        _row(
            "ivf",
            psim.ivf_flat_ann(e, qs, k=5, n_centroids=_IVF_NC, nprobe=_IVF_NPROBE),
        )
        .unionByName(_row("lsh", psim.lsh_bucket_ann(e, qs, k=5)))
        .unionByName(_row("pq", psim.pq_ann(e, qs, k=5)))
    )


# --- text analysis ----------------------------------------------------------

_NTOK_D = "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT)"


@q(
    "token_count",
    f"SELECT doc_id, {_NTOK_D} AS n_tokens, "
    f"CAST(len(regexp_extract_all(text, '{ptext.BPE_SPLIT_RE}')) AS INT) "
    "AS n_bpe_pieces, "
    "length(text) / 4.0 AS est_bpe_tokens FROM documents",
)
def _token_count(spark, sf_dir):
    return ptext.token_count(_docs(spark, sf_dir))


_STOP_ALL = "[" + ", ".join(
    f"'{w}'" for ws in ptext.STOPWORDS.values() for w in ws
) + "]"
_PUNCT_D = (
    "CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS INT)"
)
_STOPHITS_D = (
    "CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
    f"t -> list_contains({_STOP_ALL}, t))) AS INT)"
)


@q(
    "quality_score",
    "SELECT doc_id, n_chars, n_tokens, punct_ratio, stopword_ratio, mean_word_len, "
    "(CASE WHEN n_tokens >= 5 THEN 1.0 ELSE 0.0 END * (1.0 - punct_ratio)) "
    "* least(stopword_ratio * 4 + 0.2, 1.0) AS quality FROM ("
    f"SELECT doc_id, CAST(length(text) AS INT) AS n_chars, {_NTOK_D} AS n_tokens, "
    f"{_PUNCT_D} / nullif(CAST(length(text) AS DOUBLE), 0.0) AS punct_ratio, "
    f"{_STOPHITS_D} / nullif(CAST({_NTOK_D} AS DOUBLE), 0.0) AS stopword_ratio, "
    f"(length(text) - {_NTOK_D} + 1) / nullif(CAST({_NTOK_D} AS DOUBLE), 0.0) "
    "AS mean_word_len FROM documents)",
)
def _quality(spark, sf_dir):
    return ptext.quality_score(_docs(spark, sf_dir))


_LANGS = sorted(ptext.STOPWORDS)


def _lang_score_d(lang: str) -> str:
    lst = "[" + ", ".join(f"'{w}'" for w in ptext.STOPWORDS[lang]) + "]"
    return (
        "CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), "
        f"t -> list_contains({lst}, t))) AS INT) AS s_{lang}"
    )


_LANG_PRED_D = "CASE " + " ".join(
    f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'" for lang in _LANGS
) + " ELSE 'und' END"


@q(
    "lang_id",
    "SELECT doc_id, lang_true, "
    + _LANG_PRED_D
    + " AS lang_pred FROM (SELECT doc_id, lang AS lang_true, "
    + ", ".join(f"s_{lang}" for lang in _LANGS)
    + ", greatest(" + ", ".join(f"s_{lang}" for lang in _LANGS) + ") AS best "
    + "FROM (SELECT doc_id, lang, "
    + ", ".join(_lang_score_d(lang) for lang in _LANGS)
    + " FROM documents))",
)
def _lang_id(spark, sf_dir):
    return ptext.lang_id(_docs(spark, sf_dir)).select(
        "doc_id", "lang_true", "lang_pred"
    )


@q(
    "doc_fingerprint",
    "WITH g AS (SELECT doc_id, unnest(list_transform("
    "generate_series(1, greatest(length(text) - 7, 1)), "
    "i -> substring(text, i, 8))) AS g FROM documents) "
    f"SELECT doc_id, min({md5_int_duck('g')}) AS fingerprint FROM g GROUP BY doc_id",
)
def _fingerprint(spark, sf_dir):
    return ptext.doc_fingerprint(_docs(spark, sf_dir), gram=8)


# --- multimodal (real stdlib codecs; Arrow-batched plumbing) ----------------

@q("multimodal_decode", values_oracle_sql("multimodal_decode"))
def _multimodal(spark, sf_dir):
    """REAL stdlib-PNG round-trip: attach_png_images synthesizes RGB8 PNG
    payloads with the pure-stdlib encoder (sinks/png.py), and
    decode_image inflates + defilters them back to pixels —
    no PIL/cv2 anywhere. Oracle = fixed expected values on the sf0.01
    fixture (scratch/gen_fixed_oracles.py); `doc_id < 128` instead
    of `limit` so the row set is deterministic."""
    from .pipeline.multimodal import attach_png_images, decode_image

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 128)
    out = decode_image(attach_png_images(docs))
    return out.select(
        "doc_id", "width", "height",
        *[F.round(c, 7).alias(c)
          for c in ("mean_r", "mean_g", "mean_b", "brightness")],
    )


@q("multimodal_jpeg_decode", values_oracle_sql("multimodal_jpeg_decode"))
def _multimodal_jpeg(spark, sf_dir):
    """REAL baseline-JPEG round-trip (the r5 'last multimodal boundary',
    now closed): attach_jpeg_images synthesizes JFIF payloads with the
    pure-numpy T.81 encoder (pipeline/jpeg.py — Annex-K tables,
    vectorized 8×8 DCT), and decode_image dispatches on the
    SOI magic and Huffman-decodes + IDCTs them back to pixels — no
    PIL/cv2 anywhere. Oracle = fixed expected values on the sf0.01
    fixture (integer DCT path is bit-deterministic)."""
    from .pipeline.multimodal import attach_jpeg_images, decode_image

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 128)
    out = decode_image(attach_jpeg_images(docs))
    return out.select(
        "doc_id", "width", "height",
        *[F.round(c, 7).alias(c)
          for c in ("mean_r", "mean_g", "mean_b", "brightness")],
    )


@q("multimodal_webp_decode", values_oracle_sql("multimodal_webp_decode"))
def _multimodal_webp(spark, sf_dir):
    """REAL lossless-WebP round trip (round 10 — the r9 'one documented
    library boundary', now closed for the VP8L profile):
    attach_webp_images synthesizes RIFF/WEBP payloads with the
    pure-Python VP8L encoder (pipeline/webp.py — canonical Huffman +
    code-length codes, LZ77, color cache, subtract-green/predictor
    transforms, seed-varied so the corpus exercises each path), and
    decode_image dispatches on the RIFF magic and entropy-
    decodes them back to pixels — no PIL/cv2 anywhere. Lossy VP8 stays
    a named NotImplementedError. Oracle = fixed expected values on the
    sf0.01 fixture (pure integer path, bit-deterministic)."""
    from .pipeline.multimodal import attach_webp_images, decode_image

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 128)
    out = decode_image(attach_webp_images(docs))
    return out.select(
        "doc_id", "width", "height",
        *[F.round(c, 7).alias(c)
          for c in ("mean_r", "mean_g", "mean_b", "brightness")],
    )


@q("multimodal_resize", values_oracle_sql("multimodal_resize"))
def _multimodal_resize(spark, sf_dir):
    """Decode → nearest-neighbor resize → re-encode PNG in one
    Arrow-batched pass (pipeline/multimodal.py: resize_images) over a
    MIXED corpus: even doc_ids carry PNG payloads, odd carry baseline
    JPEG — the resize step must dispatch per payload. The md5 of each
    re-encoded thumbnail is the content-addressed witness the oracle
    pins (the repo's PNG encoder is byte-deterministic)."""
    from .pipeline.multimodal import (
        attach_jpeg_images,
        attach_png_images,
        resize_images,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 64)
    pngs = attach_png_images(docs.where(F.col("doc_id") % 2 == 0))
    jpgs = attach_jpeg_images(docs.where(F.col("doc_id") % 2 == 1))
    out = resize_images(pngs.unionByName(jpgs), out_w=8, out_h=8)
    return out.select(
        "doc_id",
        F.col("image_meta.width").alias("width"),
        F.col("image_meta.height").alias("height"),
        F.md5("image").alias("thumb_md5"),
    )


@q("multimodal_image_features", values_oracle_sql("multimodal_image_features"))
def _multimodal_image_features(spark, sf_dir):
    """Decode → fixed-length feature extraction (pipeline/multimodal.py:
    image_features — channel means/stds, edge energy, 8-bin luminance
    histogram): the vision-encoder stand-in whose output plugs straight
    into the similarity ops. Flattened to (doc_id, idx, value) so the
    fixed-value oracle pins every component exactly."""
    from .pipeline.multimodal import attach_png_images, image_features

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 64)
    out = image_features(attach_png_images(docs))
    return out.select(
        "doc_id", F.posexplode("features").alias("idx", "value")
    )


@q("multimodal_audio_decode", values_oracle_sql("multimodal_audio_decode"))
def _multimodal_audio(spark, sf_dir):
    """REAL stdlib-WAV round-trip: attach_wav_audio synthesizes RIFF/WAV
    PCM16 payloads, decode_audio parses them with the stdlib
    `wave` module. Oracle = fixed expected feature values (deterministic
    seed-by-doc_id synth)."""
    from .pipeline.multimodal import attach_wav_audio, decode_audio

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 128)
    out = decode_audio(attach_wav_audio(docs))
    return out.select(
        "doc_id",
        *[F.round(c, 7).alias(c)
          for c in ("duration_s", "rms", "peak", "zero_crossing_rate")],
    )


# --- composed pipeline ------------------------------------------------------

_Q_CUT = 0.5


@q(
    "pipeline_quality_dedup_stats",
    "WITH q AS (SELECT doc_id, "
    "(CASE WHEN n_tokens >= 5 THEN 1.0 ELSE 0.0 END * (1.0 - punct_ratio)) "
    "* least(stopword_ratio * 4 + 0.2, 1.0) AS quality FROM ("
    f"SELECT doc_id, {_NTOK_D} AS n_tokens, "
    f"{_PUNCT_D} / nullif(CAST(length(text) AS DOUBLE), 0.0) AS punct_ratio, "
    f"{_STOPHITS_D} / nullif(CAST({_NTOK_D} AS DOUBLE), 0.0) AS stopword_ratio "
    "FROM documents)), "
    f"kept AS (SELECT d.* FROM documents d JOIN q ON d.doc_id = q.doc_id "
    f"AND q.quality > {_Q_CUT}), "
    "winners AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)), "
    "surv AS (SELECT k.* FROM kept k JOIN winners w ON k.doc_id = w.doc_id) "
    f"SELECT lang, count(*) AS n_docs, CAST(sum(CAST({_NTOK_D} AS BIGINT)) "
    "AS BIGINT) AS total_tokens FROM surv GROUP BY lang",
)
def _pipeline_e2e(spark, sf_dir):
    """The training-data pipeline composed in ONE lazy plan: quality
    filter → exact dedup (keep first) → per-language token stats — the
    operators are designed to chain, and Catalyst plans the whole chain
    (no materialization between stages)."""
    docs = _docs(spark, sf_dir)
    quality = ptext.quality_score(docs).select("doc_id", "quality")
    kept = docs.join(
        quality.where(F.col("quality") > _Q_CUT).select("doc_id"), "doc_id"
    )
    survivors = pdedup.dedup_keep_first(kept)
    toks = ptext.token_count(survivors).select(
        "doc_id", F.col("n_tokens").cast("bigint").alias("n_tokens")
    )
    return (
        survivors.join(toks, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


# --- streaming --------------------------------------------------------------

@q(
    "streaming_tumbling_hourly",
    "SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, "
    "event_type, count(*) AS n "
    "FROM (SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events) "
    "GROUP BY 1, 2",
)
def _stream_tumbling(spark, sf_dir):
    """A real Structured Streaming query (parquet stream → tumbling window
    → memory sink), compared against the batch oracle — counts only, sums
    of arbitrary doubles are not order-stable across engines."""
    from .streaming.windows import run_stream_to_memory, tumbling_counts

    out = run_stream_to_memory(spark, sf_dir, tumbling_counts, name="reg_tumbling")
    return out.select("window_start", "event_type", "n")


@q(
    "streaming_session_windows",
    "WITH e AS (SELECT user_id, ts "
    "FROM (SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events)), "
    "s AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL "
    "OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s "
    "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
    "g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts "
    "ROWS UNBOUNDED PRECEDING) AS sid FROM s) "
    "SELECT min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end, "
    "user_id, count(*) AS n_events FROM g GROUP BY user_id, sid",
)
def _stream_sessions(spark, sf_dir):
    """Session windows through a real stream; the batch oracle is the
    classic gaps-and-islands formulation (new session when the gap to the
    previous event ≥ 30 min; window end = last event + gap)."""
    from .streaming.windows import run_stream_to_memory, session_counts

    return run_stream_to_memory(
        spark, sf_dir, session_counts, name="reg_sessions"
    ).select("session_start", "session_end", "user_id", "n_events")


@q(
    "streaming_dedup",
    "SELECT md5(text) AS content_hash, min(doc_id) AS doc_id "
    "FROM documents GROUP BY md5(text)",
)
def _streaming_dedup(spark, sf_dir):
    """Streaming exact dedup (applyInPandasWithState): with the fixture
    arriving as one micro-batch the survivors equal batch exact dedup —
    the multi-batch drop behavior is asserted in tests/test_streaming.py."""
    from .streaming.windows import run_stream_to_memory, stateful_stream_dedup

    return run_stream_to_memory(
        spark, sf_dir, stateful_stream_dedup, name="reg_sdedup",
        output_mode="append", table="documents",
    ).select("content_hash", "doc_id")


@q(
    "stateful_running_max",
    "SELECT event_type, max(value) AS max_value, count(*) AS n_seen "
    "FROM events GROUP BY event_type",
)
def _stateful_max(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState): with
    the fixture arriving as one micro-batch, the emitted update rows are
    the final per-key state — checkable against the batch aggregate."""
    from .streaming.windows import run_stream_to_memory, stateful_running_max

    return run_stream_to_memory(
        spark, sf_dir, stateful_running_max, name="reg_statemax",
        output_mode="update",
    ).select("event_type", "max_value", "n_seen")


# --- chunking / sampling / sharding ----------------------------------------

def _toks_d(col: str = "text") -> str:
    return f"regexp_split_to_array(trim({col}), '\\s+')"


_TOKS_D = _toks_d()
_U_D = (
    "CAST(('0x' || substring(md5(concat('seed0', CAST(doc_id AS VARCHAR))), 1, 7))"
    " AS BIGINT) / 268435456.0"
)

@q(
    "chunk_documents",
    f"WITH t AS (SELECT doc_id, {_TOKS_D} AS toks, "
    f"greatest(len({_TOKS_D}) - 63, 1) AS last FROM documents), "
    "st AS (SELECT doc_id, toks, "
    "unnest(list_distinct(list_concat(generate_series(1, last, 48), [last]))) "
    "AS chunk_start FROM t) "
    "SELECT doc_id, CAST(chunk_start AS INT) AS chunk_start, "
    "CAST(len(list_slice(toks, chunk_start, chunk_start + 63)) AS INT) "
    "AS n_chunk_tokens, "
    "array_to_string(list_slice(toks, chunk_start, chunk_start + 63), ' ') "
    "AS chunk_text FROM st",
)
def _chunk_documents(spark, sf_dir):
    return ptext.chunk_documents(_docs(spark, sf_dir), window=64, stride=48)


@q(
    "sample_stratified",
    f"SELECT * FROM documents WHERE {_U_D} < "
    "CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0 WHEN 'es' THEN 0.25 "
    "ELSE 0.1 END",
)
def _sample_stratified(spark, sf_dir):
    from .pipeline.sampling import sample_stratified

    return sample_stratified(
        _docs(spark, sf_dir),
        rates={"en": 0.5, "de": 1.0, "es": 0.25},
        default_rate=0.1,
        salt="seed0",
    )


@q(
    "shuffle_shards",
    "SELECT doc_id, shard, CAST(row_number() OVER ("
    "PARTITION BY shard ORDER BY u, doc_id) AS INT) AS position FROM ("
    "SELECT doc_id, CAST(CAST(('0x' || substring(md5(concat('seed0_shard', "
    "CAST(doc_id AS VARCHAR))), 1, 7)) AS BIGINT) % 8 AS INT) AS shard, "
    "CAST(('0x' || substring(md5(concat('seed0', CAST(doc_id AS VARCHAR))), 1, 7))"
    " AS BIGINT) / 268435456.0 AS u FROM documents)",
)
def _shuffle_shards(spark, sf_dir):
    from .pipeline.sampling import shuffle_shards

    return shuffle_shards(_docs(spark, sf_dir), n_shards=8, salt="seed0")


@q(
    "streaming_sliding_counts",
    "WITH e AS (SELECT date_trunc('microseconds', ts) AS ts, event_type, value "
    "FROM events), "
    "w AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, "
    "event_type, value FROM e "
    "UNION ALL SELECT CAST(date_trunc('hour', ts) - INTERVAL 1 HOUR AS TIMESTAMP), "
    "event_type, value FROM e) "
    "SELECT window_start, event_type, count(*) AS n, max(value) AS max_value "
    "FROM w GROUP BY 1, 2",
)
def _stream_sliding(spark, sf_dir):
    """Sliding windows through a real stream; the batch oracle lands each
    event in both of its hourly-aligned 2h windows."""
    from .streaming.windows import run_stream_to_memory, sliding_counts

    return run_stream_to_memory(
        spark, sf_dir, sliding_counts, name="reg_sliding"
    ).select("window_start", "event_type", "n", "max_value")


@q(
    "tfidf_top_terms",
    "WITH toks AS (SELECT doc_id, "
    "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term "
    "FROM documents), "
    "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2), "
    "nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents), "
    "dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term), "
    "scored AS (SELECT t.doc_id, t.term, t.tf, "
    "round(t.tf * (ln((nd.n_docs + 1.0) / (d.df + 1.0)) + 1.0), 7) AS score "
    "FROM tf t CROSS JOIN nd JOIN dfreq d ON d.term = t.term) "
    "SELECT doc_id, term, tf, score, rank FROM ("
    "SELECT *, CAST(row_number() OVER (PARTITION BY doc_id "
    "ORDER BY score DESC, term) AS INT) AS rank FROM scored) WHERE rank <= 3",
)
def _tfidf_top_terms(spark, sf_dir):
    return ptext.tfidf_top_terms(_docs(spark, sf_dir), k=3)


_CHUNKS_FROM_SAMPLED = (
    "ch0 AS (SELECT doc_id, lang, "
    + _toks_d("s.text")
    + " AS toks FROM sampled s), "
    "ch1 AS (SELECT doc_id, lang, toks, greatest(len(toks) - 63, 1) AS last "
    "FROM ch0), "
    "chunks AS (SELECT doc_id, lang, "
    "len(list_slice(toks, CAST(cs AS BIGINT), CAST(cs AS BIGINT) + 63)) "
    "AS n_chunk_tokens FROM (SELECT doc_id, lang, toks, "
    "unnest(list_distinct(list_concat(generate_series(1, last, 48), [last]))) "
    "AS cs FROM ch1))"
)

@q(
    "pipeline_neardedup_sample_chunk_stats",
    f"WITH RECURSIVE {_SIG_CTE}, {_BANDED_CTE}, {_CAND_CTE}, "
    f"pairs AS (SELECT doc_a, doc_b FROM ("
    f"SELECT c.doc_a, c.doc_b, {_EST_EXPR} AS ej "
    "FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a "
    "JOIN sig sb ON sb.doc_id = c.doc_b) WHERE ej >= 0.5), "
    "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs "
    "UNION ALL SELECT doc_b, doc_a FROM pairs), "
    "reach(v, l) AS (SELECT src, src FROM edges "
    "UNION SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v), "
    "clusters AS (SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v), "
    "surv AS (SELECT d.* FROM documents d LEFT JOIN clusters c "
    "ON d.doc_id = c.doc_id "
    "WHERE c.cluster_id IS NULL OR c.cluster_id = d.doc_id), "
    f"sampled AS (SELECT * FROM surv WHERE "
    "CAST(('0x' || substring(md5(concat('seed0', CAST(doc_id AS VARCHAR))), 1, 7))"
    " AS BIGINT) / 268435456.0 < "
    "CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0 WHEN 'es' THEN 0.25 "
    "ELSE 0.1 END), "
    f"{_CHUNKS_FROM_SAMPLED} "
    "SELECT lang, count(*) AS n_chunks, "
    "CAST(sum(CAST(n_chunk_tokens AS BIGINT)) AS BIGINT) AS total_chunk_tokens "
    "FROM chunks GROUP BY lang",
)
def _pipeline_neardedup_e2e(spark, sf_dir):
    """The FULL training-data flow composed end-to-end: near-dup collapse
    (LSH → connected components → representative per cluster) →
    deterministic stratified sampling → overlapping token-window chunking
    → per-language chunk/token stats. Everything after the (necessarily
    iterative) CC label table chains lazily — sampling and chunking are
    pure expressions over the survivor scan, and the final rollup is one
    aggregation. Integer token sums keep the oracle exact."""
    from .pipeline.sampling import sample_stratified

    docs = _docs(spark, sf_dir)
    survivors = pdedup.near_dup_keep_representative(
        docs, jaccard_threshold=0.5, bands=LSH_BANDS
    )
    sampled = sample_stratified(
        survivors, rates={"en": 0.5, "de": 1.0, "es": 0.25},
        default_rate=0.1, salt="seed0",
    )
    # lang rides through the chunk explode — ONE corpus scan, no re-join
    chunks = ptext.chunk_documents(sampled, window=64, stride=48, carry=["lang"])
    return chunks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("n_chunk_tokens").cast("bigint")).alias("total_chunk_tokens"),
    )


@q(
    "streaming_static_enrich",
    "WITH d AS (SELECT event_type, max(value) AS type_max FROM events "
    "GROUP BY event_type) "
    "SELECT e.event_id, e.event_type, e.value, d.type_max, "
    "e.value / d.type_max AS value_frac_of_max "
    "FROM events e JOIN d ON d.event_type = e.event_type",
)
def _stream_static_enrich(spark, sf_dir):
    """Events stream joined to a STATIC per-type stats table (computed
    batch-side). Division of two identically-derived doubles is
    order-stable, so the oracle is exact."""
    from .streaming.windows import run_stream_to_memory, stream_static_enrich
    from .sources.tables import load_table

    dims = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.max("value").alias("type_max"))
    )
    return run_stream_to_memory(
        spark, sf_dir,
        lambda s: stream_static_enrich(s, dims),
        name="reg_enrich", output_mode="append",
    )


# --- product quantization ---------------------------------------------------

_PQ_SUBL2 = (
    "list_sum(list_transform(range(1, 9), i -> "
    "(CAST({a}[s * 8 + i] AS DOUBLE) - CAST({b}[s * 8 + i] AS DOUBLE)) * "
    "(CAST({a}[s * 8 + i] AS DOUBLE) - CAST({b}[s * 8 + i] AS DOUBLE))))"
)

_PQ_CODES_CTE = (
    "cb AS (SELECT vec_id AS code, embedding AS c_emb FROM embeddings "
    "WHERE vec_id < 16), "
    "ss AS (SELECT unnest(range(0, 8)) AS s), "
    "sub AS (SELECT e.vec_id, cb.code, ss.s, "
    + _PQ_SUBL2.format(a="e.embedding", b="cb.c_emb")
    + " AS dist FROM embeddings e CROSS JOIN cb CROSS JOIN ss), "
    "codes AS (SELECT vec_id, CAST(s AS INT) AS s, code FROM ("
    "SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) "
    "AS rn FROM sub) WHERE rn = 1)"
)


@q(
    "pq_encode",
    f"WITH {_PQ_CODES_CTE} SELECT * FROM codes",
)
def _pq_encode(spark, sf_dir):
    return psim.pq_encode(_embs(spark, sf_dir))


@q(
    "pq_ann",
    f"WITH {_PQ_CODES_CTE}, "
    "qq AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings "
    "WHERE vec_id < 8), "
    "lut AS (SELECT qq.query_id, cb.code, ss.s, "
    "CAST(floor("
    + _PQ_SUBL2.format(a="qq.q_emb", b="cb.c_emb")
    + " * 1048576.0 + 0.5) AS BIGINT) AS dq "
    "FROM qq CROSS JOIN cb CROSS JOIN ss), "
    "scored AS (SELECT l.query_id, c.vec_id AS neighbor_id, "
    "sum(l.dq) AS approx_dq FROM codes c "
    "JOIN lut l ON l.s = c.s AND l.code = c.code "
    "WHERE c.vec_id != l.query_id GROUP BY 1, 2) "
    "SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, "
    "approx_dq / 1048576.0 AS approx_dist FROM ("
    "SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY approx_dq, neighbor_id) AS rn FROM scored) WHERE rn <= 5",
)
def _pq_ann(spark, sf_dir):
    e = _embs(spark, sf_dir)
    return psim.pq_ann(e, e.where(F.col("vec_id") < 8), k=5)


# --- benchmark decontamination ----------------------------------------------

# corpus = doc_id % 10 != 0; reference/eval set = doc_id % 10 = 0

@q(
    "decontaminate_exact",
    "SELECT d.* FROM documents d WHERE d.doc_id % 10 != 0 AND NOT EXISTS ("
    "SELECT 1 FROM documents r WHERE r.doc_id % 10 = 0 "
    "AND md5(r.text) = md5(d.text))",
)
def _decontaminate_exact(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return pdedup.decontaminate_exact(
        docs.where(F.col("doc_id") % 10 != 0),
        docs.where(F.col("doc_id") % 10 == 0),
    )


@q(
    "decontaminate_ngram",
    f"WITH toks AS (SELECT doc_id, {_toks_d()} AS t FROM documents), "
    "g AS (SELECT doc_id, unnest(list_transform("
    "generate_series(1, greatest(len(t) - 12, 0)), "
    "i -> md5(array_to_string(t[i:i+12], ' ')))) AS gh FROM toks), "
    "refg AS (SELECT DISTINCT gh FROM g WHERE doc_id % 10 = 0), "
    "bad AS (SELECT DISTINCT g.doc_id FROM g JOIN refg USING (gh) "
    "WHERE g.doc_id % 10 != 0) "
    "SELECT d.* FROM documents d WHERE d.doc_id % 10 != 0 "
    "AND d.doc_id NOT IN (SELECT doc_id FROM bad)",
)
def _decontaminate_ngram(spark, sf_dir):
    """13-token-gram decontamination (the GPT-3-style rule) of the 90%
    corpus slice against the 10% reference slice."""
    docs = _docs(spark, sf_dir)
    return pdedup.decontaminate_ngram(
        docs.where(F.col("doc_id") % 10 != 0),
        docs.where(F.col("doc_id") % 10 == 0),
        n=13,
    )


# --- corpus layout + sketch statistics --------------------------------------

_SHARD_D = (
    "CAST(CAST(('0x' || substring(md5('seed0_shard' || CAST(doc_id AS VARCHAR)),"
    " 1, 7)) AS BIGINT) % 4 AS INT)"
)


@q(
    "corpus_shard_layout",
    f"SELECT lang, {_SHARD_D} AS shard, count(*) AS n_docs, "
    "min(doc_id) AS min_doc, max(doc_id) AS max_doc "
    "FROM documents GROUP BY lang, shard",
)
def _corpus_shard_layout(spark, sf_dir):
    """Per-(partition, shard) layout census of the training-corpus writer
    (sinks/corpus.py): the exact shard assignment the materialized
    dataset uses, computed as a query so the driver gate pins it. One
    hash-aggregate; the shard id is the shared md5 construction of
    pipeline/sampling.shard_col (doc_id is non-negative, so Spark pmod
    and DuckDB % agree)."""
    from .pipeline.sampling import shard_col

    return (
        _docs(spark, sf_dir)
        .groupBy("lang", shard_col(F.col("doc_id"), 4).alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@q(
    "corpus_stats_sketch",
    "SELECT lang, count(*) AS n_docs, "
    "count(DISTINCT source) AS n_sources, TRUE AS hll_ok, "
    "quantile_cont(CAST(length(text) AS DOUBLE), 0.5) AS p50_len, "
    "TRUE AS pctl_ok FROM documents GROUP BY lang",
)
def _corpus_stats_sketch(spark, sf_dir):
    """Sketch-vs-exact corpus report (pipeline/stats.py): HLL++ distinct
    sources and quantile-sketch median length, each gated inside its
    error envelope next to the exact value — the ann_recall pattern for
    sketches. The oracle asserts the exact columns and TRUE for the
    gates; a refactor that degrades sketch accuracy fails the hash."""
    from .pipeline.stats import corpus_stats_sketch

    return corpus_stats_sketch(_docs(spark, sf_dir))


# --- repetition + PII quality passes ----------------------------------------

_REP_GRAM = 10
_REP_GRAMS_D = (
    f"list_transform(generate_series(1, greatest(len({_TOKS_D}) - {_REP_GRAM - 1},"
    f" 1)), i -> array_to_string(({_TOKS_D})[i:i+{_REP_GRAM - 1}], ' '))"
)
_REP_LINES_D = "string_split(text, chr(10))"


@q(
    "repetition_scores",
    "SELECT doc_id, "
    f"CAST(len({_REP_LINES_D}) AS INT) AS n_lines, "
    f"1.0 - len(list_distinct({_REP_LINES_D})) / "
    f"nullif(CAST(len({_REP_LINES_D}) AS DOUBLE), 0.0) AS dup_line_frac, "
    f"{_NTOK_D} AS n_tokens, "
    f"1.0 - len(list_distinct({_REP_GRAMS_D})) / "
    f"nullif(CAST(len({_REP_GRAMS_D}) AS DOUBLE), 0.0) AS dup_ngram_frac "
    "FROM documents",
)
def _repetition_scores(spark, sf_dir):
    """Gopher-style repetition filters (duplicate-line / duplicate-10-gram
    fractions) — boilerplate detection before training."""
    return ptext.repetition_scores(_docs(spark, sf_dir), gram=_REP_GRAM)


def _pii_oracle() -> str:
    cols = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_{name}"
        for name, pat in ptext.PII_PATTERNS.items()
    )
    any_pii = " OR ".join(
        f"len(regexp_extract_all(text, '{pat}')) > 0"
        for pat in ptext.PII_PATTERNS.values()
    )
    return (
        f"SELECT doc_id, {cols}, ({any_pii}) AS has_pii FROM documents"
    )


@q("pii_scan", _pii_oracle())
def _pii_scan(spark, sf_dir):
    """PII pattern census (emails / phone shapes / IPv4) — the
    redaction-triage pass; patterns restricted to the Java-regex ∩ RE2
    common dialect so the oracle is exact."""
    return ptext.pii_scan(_docs(spark, sf_dir))


# --- vocabulary + sequence packing ------------------------------------------

@q(
    "vocab_top_terms",
    "SELECT term, count(*) AS n FROM ("
    f"SELECT unnest({_toks_d('lower(text)')}) AS term FROM documents) "
    "GROUP BY term ORDER BY n DESC, term LIMIT 100",
)
def _vocab_top_terms(spark, sf_dir):
    """Global top-100 vocabulary by corpus frequency — the frequency
    table a tokenizer build starts from. TakeOrdered top-k, never a
    single-partition global sort."""
    return ptext.vocab_top_terms(_docs(spark, sf_dir), k=100)


_PACK_SHARD_D = (
    "CAST(CAST(('0x' || substring(md5('seed0_shard' || CAST(doc_id AS VARCHAR)),"
    " 1, 7)) AS BIGINT) % 8 AS INT)"
)


@q(
    "pack_sequences",
    f"WITH t AS (SELECT doc_id, {_TOKS_D} AS toks, "
    f"greatest(len({_TOKS_D}) - 63, 1) AS last FROM documents), "
    "st AS (SELECT doc_id, toks, "
    "unnest(list_distinct(list_concat(generate_series(1, last, 48), [last]))) "
    "AS chunk_start FROM t), "
    "chunks AS (SELECT doc_id, CAST(chunk_start AS INT) AS chunk_start, "
    "CAST(len(list_slice(toks, chunk_start, chunk_start + 63)) AS INT) "
    "AS n_chunk_tokens FROM st), "
    f"sh AS (SELECT *, {_PACK_SHARD_D} AS shard FROM chunks) "
    "SELECT doc_id, chunk_start, n_chunk_tokens, shard, "
    "CAST(floor(coalesce(sum(n_chunk_tokens) OVER ("
    "PARTITION BY shard ORDER BY doc_id, chunk_start "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256) AS INT) "
    "AS bin_id FROM sh",
)
def _pack_sequences(spark, sf_dir):
    """Sample packing: chunk the corpus, then greedily fill 256-token
    training bins per md5 shard (running sums are sequential, so packing
    is sharded — never a global ORDER BY)."""
    from .pipeline.sampling import pack_sequences

    chunks = ptext.chunk_documents(_docs(spark, sf_dir), window=64, stride=48)
    return pack_sequences(
        chunks.select("doc_id", "chunk_start", "n_chunk_tokens"),
        capacity=256, n_shards=8,
    )


# --- round-5 ops: paragraph dedup, bloom decontamination, semantic dedup,
# --- streaming corpus ingest (exactly-once) ---------------------------------

@q(
    "paragraph_dedup",
    # The fixture documents are single-line bags of words, so the gate
    # derives a lined corpus in-query (every 8 tokens → one line, same
    # construction both engines) — sf0.01 yields 175 cross-document
    # duplicate lines over 53 docs, so the first-wins census genuinely
    # discriminates.
    f"WITH toks AS (SELECT doc_id, {_toks_d()} AS t FROM documents), "
    "p AS (SELECT doc_id, unnest(list_transform("
    "generate_series(1, len(t), 8), i -> struct_pack(idx := i, "
    "para := array_to_string(t[i:i+7], ' ')))) AS u FROM toks), "
    "pp AS (SELECT doc_id, u.idx AS idx, u.para AS para FROM p "
    "WHERE u.para != ''), "
    "r AS (SELECT doc_id, para, row_number() OVER ("
    "PARTITION BY md5(para) ORDER BY doc_id, idx) AS rn FROM pp) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras, "
    "CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, "
    "CAST(sum(CASE WHEN rn = 1 THEN length(para) ELSE 0 END) AS BIGINT) "
    "AS kept_chars FROM r GROUP BY doc_id",
)
def _paragraph_dedup(spark, sf_dir):
    """C4-style global paragraph dedup census (pipeline/dedup.py:
    paragraph_dedup): first occurrence wins, per-doc kept/total stats.
    The lined fixture is built in-plan (8-token lines joined by \\n)."""
    lined = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("_toks")
    ).select(
        "doc_id",
        F.array_join(
            F.expr(
                "transform(sequence(1, size(_toks), 8),"
                " i -> array_join(slice(_toks, i, 8), ' '))"
            ),
            "\n",
        ).alias("text"),
    )
    return pdedup.paragraph_dedup(lined)


_BLOOM_N = 8


@q(
    "bloom_decontaminate",
    # The oracle is the EXACT 8-gram decontamination: the Bloom screen is
    # a pure pre-filter (no false negatives; false positives removed by
    # the exact verify stage), so any deviation — a bit-position bug
    # dropping true grams, a short-circuited verify keeping bad docs —
    # breaks this row.
    f"WITH toks AS (SELECT doc_id, {_toks_d()} AS t FROM documents), "
    "g AS (SELECT doc_id, unnest(list_transform("
    f"generate_series(1, greatest(len(t) - {_BLOOM_N - 1}, 0)), "
    f"i -> md5(array_to_string(t[i:i+{_BLOOM_N - 1}], ' ')))) AS gh FROM toks), "
    "refg AS (SELECT DISTINCT gh FROM g WHERE doc_id % 10 = 0), "
    "bad AS (SELECT DISTINCT g.doc_id FROM g JOIN refg USING (gh) "
    "WHERE g.doc_id % 10 != 0) "
    "SELECT d.* FROM documents d WHERE d.doc_id % 10 != 0 "
    "AND d.doc_id NOT IN (SELECT doc_id FROM bad)",
)
def _bloom_decontaminate(spark, sf_dir):
    """8-gram decontamination through the Bloom pre-filter
    (pipeline/dedup.py: bloom_decontaminate) — identical output to the
    exact rule, broadcast side compressed to bit positions."""
    docs = _docs(spark, sf_dir)
    return pdedup.bloom_decontaminate(
        docs.where(F.col("doc_id") % 10 != 0),
        docs.where(F.col("doc_id") % 10 == 0),
        n=_BLOOM_N,
    )


_SEM_NC = 16
# below the fixture's intra-cluster cosine ceiling (max 0.4928 at sf0.01)
# so the dedup rule genuinely trips — a 0-drop census would gate nothing
_SEM_TAU = 0.45


def _semantic_dedup_sql(nc: int) -> str:
    """DuckDB twin of semantic_dedup_clusters at `nc` pseudo-centroids —
    shared by the fold-path row (nc=16) and the vectorized-path row
    (nc=160), so the two assignment engines are verified against ONE
    oracle definition."""
    return (
        "WITH cents AS (SELECT vec_id AS cent_id, embedding AS c_emb "
        f"FROM embeddings WHERE vec_id < {nc}), "
        "scored AS (SELECT e.vec_id, e.embedding, ct.cent_id, "
        f"({_duck_dot('e.embedding', 'ct.c_emb')}) / "
        f"nullif(sqrt({_duck_dot('e.embedding', 'e.embedding')}) * "
        f"sqrt({_duck_dot('ct.c_emb', 'ct.c_emb')}), 0.0) AS cs "
        "FROM embeddings e CROSS JOIN cents ct), "
        "m AS (SELECT vec_id, embedding, cent_id AS cluster_id FROM ("
        "SELECT *, row_number() OVER (PARTITION BY vec_id "
        "ORDER BY cs DESC, cent_id) AS rn FROM scored) WHERE rn = 1), "
        "drp AS (SELECT DISTINCT b.cluster_id, b.vec_id FROM m a JOIN m b "
        "ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id "
        f"WHERE ({_duck_cosine('a.embedding', 'b.embedding')}) >= {_SEM_TAU} ) "
        "SELECT m.cluster_id, CAST(count(*) AS BIGINT) AS n_members, "
        "CAST(sum(CASE WHEN drp.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_dropped, "
        "CAST(sum(CASE WHEN drp.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_kept FROM m LEFT JOIN drp "
        "ON m.cluster_id = drp.cluster_id AND m.vec_id = drp.vec_id "
        "GROUP BY m.cluster_id"
    )


@q("semantic_dedup_clusters", _semantic_dedup_sql(_SEM_NC))
def _semantic_dedup(spark, sf_dir):
    """SemDeDup-style cluster-local semantic dedup census
    (pipeline/similarity.py: semantic_dedup_clusters). 16 centroids —
    below VECTORIZE_K_THRESHOLD, so the auto dispatch keeps the
    fold-expression assignment whose floats DuckDB reproduces."""
    return psim.semantic_dedup_clusters(
        _embs(spark, sf_dir), n_centroids=_SEM_NC, threshold=_SEM_TAU
    )


@q("semantic_dedup_auto", _semantic_dedup_sql(_SEM_NC))
def _semantic_dedup_auto(spark, sf_dir):
    """The SHIPPED DEFAULT path (n_centroids=None →
    centroids_for_corpus): the corpus-adaptive k derivation runs for
    real inside semantic_dedup_clusters and lands on the k this row's
    static SQL twin pins (drift-asserted — the minhash_lsh_pairs_auto
    pattern). Expected cluster size stays constant as the corpus
    grows, so pair work scales linearly instead of n²/k (round-8
    VERDICT item 3)."""
    from .pipeline.similarity import centroids_for_corpus

    e = _embs(spark, sf_dir)
    got = centroids_for_corpus(e.count())
    if got != _SEM_NC:
        raise AssertionError(
            f"centroids_for_corpus picked {got} on the fixture; oracle "
            f"SQL pins {_SEM_NC} — corpus size changed, regenerate the "
            "semantic_dedup_auto twin"
        )
    return psim.semantic_dedup_clusters(e, threshold=_SEM_TAU)


@q("semantic_dedup_vectorized_k160", _semantic_dedup_sql(160))
def _semantic_dedup_vectorized_k160(spark, sf_dir):
    """semantic_dedup_clusters at 160 pseudo-centroids — at or above
    VECTORIZE_K_THRESHOLD, so the auto dispatch routes assignment
    through the Arrow-matmul path (assign_nearest_centroid_vectorized).
    Unlike the kmeans-trained k160 row (snapshot oracle), this one has
    a REAL independent DuckDB twin: it proves the matmul's cosines and
    argmax agree with SQL floats exactly on the fixture, not merely
    that the engine is self-consistent (VERDICT r6 item 3)."""
    return psim.semantic_dedup_clusters(
        _embs(spark, sf_dir), n_centroids=160, threshold=_SEM_TAU
    )


@q(
    "streaming_corpus_ingest_stats",
    # The materialized streaming layout must agree document-for-document
    # with the batch shard assignment — same census oracle as
    # corpus_shard_layout.
    f"SELECT lang, {_SHARD_D} AS shard, count(*) AS n_docs, "
    "min(doc_id) AS min_doc, max(doc_id) AS max_doc "
    "FROM documents GROUP BY lang, shard",
)
def _streaming_corpus_ingest_stats(spark, sf_dir):
    """Drive the EXACTLY-ONCE streaming corpus sink end-to-end
    (sinks/corpus.py: stream_corpus_ingest — batch-scoped overwrite +
    _SUCCESS manifest) over the documents fixture, then census the
    materialized layout. A duplicate or lost document anywhere in the
    ingest path shifts a count and fails the hash."""
    import shutil
    import tempfile

    from .sinks.corpus import read_training_corpus, stream_corpus_ingest

    schema = _docs(spark, sf_dir).schema
    work = tempfile.mkdtemp(prefix="ingest_gate_")
    out, chk = f"{work}/corpus", f"{work}/chk"
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    qy = stream_corpus_ingest(stream, out, chk, n_shards=4,
                              query_name="ingest_gate")
    try:
        qy.processAllAvailable()
    finally:
        qy.stop()
    census = (
        read_training_corpus(spark, out)
        .groupBy("lang", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )
    # materialize before the temp layout is removed
    rows = census.collect()
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, census.schema)


@q("kmeans_train", values_oracle_sql("kmeans_train"))
def _kmeans_train(spark, sf_dir):
    """Spherical k-means training (pipeline/similarity.py: kmeans_train)
    — iterative, so no SQL twin exists; the oracle is the fixed expected
    centroid table on the sf0.01 fixture (quantized coordinates make the
    3-iteration Lloyd run bit-stable across partitionings; captured by
    scratch/gen_fixed_oracles.py)."""
    return psim.kmeans_train(_embs(spark, sf_dir), k=16, iters=3)


@q(
    "unigram_logprob",
    # the same fixed-point construction, term-for-term: ln() quantized to
    # integer micro-units before any summation (order-free BIGINT sums)
    "WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array("
    "lower(trim(text)), '\\s+')) AS term FROM documents), "
    "model AS (SELECT term, count(*) AS n_term FROM toks GROUP BY term), "
    "tot AS (SELECT sum(n_term) AS n_total FROM model), "
    "scored AS (SELECT t.doc_id, CAST(round(ln("
    "CAST(m.n_term AS DOUBLE) / CAST(tt.n_total AS DOUBLE)) * 1000000) "
    "AS BIGINT) AS lp FROM toks t JOIN model m ON t.term = m.term "
    "CROSS JOIN tot tt) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
    "CAST(sum(lp) AS BIGINT) AS sum_logprob_fp, "
    "CAST(floor(CAST(sum(lp) AS DOUBLE) / count(*)) AS BIGINT) AS mean_logprob_micro "
    "FROM scored GROUP BY doc_id",
)
def _unigram_logprob(spark, sf_dir):
    """CCNet-style unigram LM quality proxy (pipeline/text.py:
    unigram_logprob): per-doc mean token log-prob under the corpus's own
    unigram model, fixed-point sums for engine-exact parity."""
    return ptext.unigram_logprob(_docs(spark, sf_dir))


# --- round-5b ops: tokenization to ids, intra-doc dedup, BPE training,
# --- int8 quantization, IVF-PQ ANN ------------------------------------------

_VOCAB_K = 20  # < the fixture's 31 distinct terms, so the OOV path is live


@q(
    "tokenize_to_ids",
    # vocab ids from the FULL corpus; the id-mapped token stream gated on
    # a 1-in-7 document sample (bounded gate size, full-rate plan)
    f"WITH t AS (SELECT doc_id, {_TOKS_D.replace('text', 'lower(text)')} AS toks "
    "FROM documents), "
    "allt AS (SELECT unnest(toks) AS term FROM t), "
    "v AS (SELECT term, count(*) AS n FROM allt GROUP BY term "
    f"ORDER BY n DESC, term LIMIT {_VOCAB_K}), "
    "vid AS (SELECT term, CAST(row_number() OVER (ORDER BY n DESC, term) - 1 "
    "AS INT) AS token_id FROM v), "
    "tk AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, "
    "unnest(toks) AS term FROM t WHERE doc_id % 7 = 0) "
    "SELECT tk.doc_id, CAST(tk.pos AS BIGINT) AS pos, tk.term, "
    f"CAST(coalesce(vid.token_id, {_VOCAB_K}) AS INT) AS token_id "
    "FROM tk LEFT JOIN vid USING (term)",
)
def _tokenize_to_ids(spark, sf_dir):
    """Vocabulary-id tokenization (pipeline/text.py: tokenize_to_ids):
    top-20 vocab built corpus-wide, token stream broadcast-joined to ids
    (OOV → id 20). Zero corpus shuffles — scan → explode →
    broadcast-join."""
    docs = _docs(spark, sf_dir)
    vocab = ptext.vocab_with_ids(docs, k=_VOCAB_K)
    return ptext.tokenize_to_ids(
        docs.where(F.col("doc_id") % 7 == 0), vocab, oov_id=_VOCAB_K
    )


@q(
    "intra_doc_dedup",
    # lined corpus derived in-query (2-token lines: the fixture has 250
    # genuine WITHIN-document duplicate lines at this width, so the
    # first-occurrence mask actually discriminates)
    f"WITH toks AS (SELECT doc_id, {_TOKS_D} AS t FROM documents), "
    "l AS (SELECT doc_id, list_transform(generate_series(1, len(t), 2), "
    "i -> array_to_string(t[i:i+1], ' ')) AS ls FROM toks), "
    "k AS (SELECT doc_id, ls, list_filter(range(1, len(ls) + 1), "
    "i -> list_position(ls, ls[i]) = i) AS keep FROM l) "
    "SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines, "
    "CAST(len(keep) AS BIGINT) AS n_kept, "
    "array_to_string(list_transform(keep, i -> ls[i]), chr(10)) "
    "AS dedup_text FROM k",
)
def _intra_doc_dedup(spark, sf_dir):
    """Within-document repeated-line removal (pipeline/text.py:
    intra_doc_dedup) — first occurrence wins, order preserved, zero
    shuffles. The lined fixture is built in-plan (2-token lines)."""
    lined = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("_toks")
    ).select(
        "doc_id",
        F.array_join(
            F.expr(
                "transform(sequence(1, size(_toks), 2),"
                " i -> array_join(slice(_toks, i, 2), ' '))"
            ),
            "\n",
        ).alias("text"),
    )
    return ptext.intra_doc_dedup(lined)


@q(
    "bpe_pair_counts",
    f"WITH t AS (SELECT doc_id, {_TOKS_D.replace('text', 'lower(text)')} AS toks "
    "FROM documents), "
    "w AS (SELECT term AS word, count(*) AS n_word FROM "
    "(SELECT unnest(toks) AS term FROM t) GROUP BY term), "
    "s AS (SELECT word, n_word, list_transform(range(1, length(word) + 1), "
    "i -> word[i:i]) AS sy FROM w WHERE length(word) >= 2), "
    "p AS (SELECT n_word, unnest(list_transform(range(1, len(sy)), "
    "i -> struct_pack(l := sy[i], r := sy[i + 1]))) AS u FROM s) "
    "SELECT u.l AS left_sym, u.r AS right_sym, "
    "CAST(sum(n_word) AS BIGINT) AS n FROM p GROUP BY 1, 2 "
    "ORDER BY n DESC, left_sym, right_sym LIMIT 50",
)
def _bpe_pair_counts(spark, sf_dir):
    """BPE training statistics (pipeline/text.py: bpe_pair_counts):
    adjacent character-pair counts over the word-frequency table, top-50.
    One corpus aggregation; every later pass is vocab-sized."""
    return ptext.bpe_pair_counts(_docs(spark, sf_dir), k=50)


@q("bpe_learn_merges", values_oracle_sql("bpe_learn_merges"))
def _bpe_learn_merges(spark, sf_dir):
    """Eight rounds of BPE merge learning (pipeline/text.py:
    bpe_learn_merges) — iterative count→argmax→fold-merge, so no SQL
    twin exists; integer counts make the merge table exactly
    deterministic and the oracle is the fixed expected table on the
    sf0.01 fixture (captured by scratch/gen_fixed_oracles.py)."""
    return ptext.bpe_learn_merges(_docs(spark, sf_dir), n_merges=8)


@q(
    "embedding_int8_quantize",
    "WITH vals AS (SELECT vec_id, "
    "CAST(unnest(range(0, len(embedding))) AS INT) AS dim, "
    "CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), "
    "sc AS (SELECT dim, max(abs(v)) AS scale FROM vals GROUP BY dim) "
    "SELECT vec_id, vals.dim, "
    "CAST(coalesce(floor(v * 127.0 / nullif(scale, 0.0) + 0.5), 0) AS INT) "
    "AS q, scale FROM vals JOIN sc ON vals.dim = sc.dim",
)
def _embedding_int8_quantize(spark, sf_dir):
    """Symmetric per-dimension int8 quantization
    (pipeline/similarity.py: embedding_int8_quantize): corpus-wide
    per-dim max-abs scales broadcast back onto the exploded stream —
    the corpus itself never shuffles."""
    return psim.embedding_int8_quantize(_embs(spark, sf_dir))


_ESD_G = 6  # the fixture has 2195 duplicated 6-gram positions over 47 docs


@q(
    "exact_substring_dedup",
    f"WITH toks AS (SELECT doc_id, {_TOKS_D} AS t FROM documents), "
    "g AS (SELECT doc_id, CAST(unnest(generate_series(1, "
    f"greatest(len(t) - {_ESD_G - 1}, 0))) AS INT) AS p, "
    f"unnest(list_transform(generate_series(1, greatest(len(t) - {_ESD_G - 1}, 0)), "
    f"i -> md5(array_to_string(t[i:i+{_ESD_G - 1}], ' ')))) AS h FROM toks), "
    "dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1), "
    "st AS (SELECT g.doc_id, list(g.p) AS starts FROM g JOIN dup USING (h) "
    "GROUP BY g.doc_id), "
    "m AS (SELECT toks.doc_id, t, coalesce(starts, []) AS starts "
    "FROM toks LEFT JOIN st ON toks.doc_id = st.doc_id), "
    "k AS (SELECT doc_id, t, list_filter(range(1, len(t) + 1), "
    f"i -> len(list_filter(starts, s -> s >= i - {_ESD_G - 1} AND s <= i)) = 0) "
    "AS kept FROM m) "
    "SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, "
    "CAST(len(t) - len(kept) AS BIGINT) AS n_dropped, "
    "coalesce(array_to_string(list_transform(kept, i -> t[i]), ' '), '') "
    "AS kept_text FROM k",
)
def _exact_substring_dedup(spark, sf_dir):
    """ExactSubstr repeated-substring removal (pipeline/dedup.py:
    exact_substring_dedup, Lee et al. 2022 shape): every corpus-wide
    duplicated 6-token span is cut from every document. Digest-keyed
    shuffles only; gram text never moves."""
    return pdedup.exact_substring_dedup(_docs(spark, sf_dir), gram=_ESD_G)


_ESD_SQL = ORACLE["exact_substring_dedup"]


@q("exact_substring_dedup_salted", _ESD_SQL)
def _exact_substring_dedup_salted(spark, sf_dir):
    """The hot-digest SALTED path of ExactSubstr (round 6, VERDICT r5
    item 3): a bounded heavy-hitter pass picks the most duplicated
    digests (the count_min_heavy_grams role, here exact top-3 — a
    3-row driver round-trip), and the duplicate-position join routes
    through salt_skewed_join. The oracle is the UNSALTED query's SQL
    verbatim: the driver gate itself pins salted ≡ unsalted on real
    fixture data, not just the synthetic pytest fixture."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim("text"), r"\s+")
    grams = F.expr(
        f"transform(sequence(1, greatest(size(_t) - {_ESD_G - 1}, 0)),"
        f" i -> md5(array_join(slice(_t, i, {_ESD_G}), ' ')))"
    )
    hot = [
        r.h
        for r in docs.select(toks.alias("_t"))
        .select(F.explode(grams).alias("h"))
        .groupBy("h").count().orderBy(F.desc("count"), "h").limit(3)
        .collect()
    ]
    return pdedup.exact_substring_dedup(
        docs, gram=_ESD_G, hot_digests=hot, n_salts=8
    )


@q(
    "dsir_importance_weights",
    # target = the eval split (doc_id % 10 = 0), raw = the rest — the
    # decontamination split reused; add-1-smoothed unigram models
    "WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array("
    "lower(trim(text)), '\\s+')) AS term FROM documents), "
    "tc AS (SELECT * FROM toks WHERE doc_id % 10 != 0), "
    "tt AS (SELECT * FROM toks WHERE doc_id % 10 = 0), "
    "mr AS (SELECT term, count(*) AS n_raw FROM tc GROUP BY term), "
    "mt AS (SELECT term, count(*) AS n_tgt FROM tt GROUP BY term), "
    "model AS (SELECT coalesce(mr.term, mt.term) AS term, "
    "coalesce(n_raw, 0) AS n_raw, coalesce(n_tgt, 0) AS n_tgt "
    "FROM mr FULL OUTER JOIN mt ON mr.term = mt.term), "
    "m2 AS (SELECT *, count(*) OVER () AS v, sum(n_raw) OVER () AS tot_r, "
    "sum(n_tgt) OVER () AS tot_t FROM model), "
    "scored AS (SELECT tc.doc_id, CAST(round((ln(CAST(n_tgt + 1 AS DOUBLE) "
    "/ CAST(tot_t + v AS DOUBLE)) - ln(CAST(n_raw + 1 AS DOUBLE) "
    "/ CAST(tot_r + v AS DOUBLE))) * 1000000) AS BIGINT) AS d "
    "FROM tc JOIN m2 ON tc.term = m2.term) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
    "CAST(sum(d) AS BIGINT) AS logweight_fp FROM scored GROUP BY doc_id",
)
def _dsir_importance_weights(spark, sf_dir):
    """DSIR importance weights (pipeline/text.py:
    dsir_importance_weights): log p_target/p_raw per corpus document
    under add-1 unigram models, fixed-point BIGINT sums; models
    broadcast, corpus token stream never shuffles."""
    docs = _docs(spark, sf_dir)
    return ptext.dsir_importance_weights(
        docs.where(F.col("doc_id") % 10 != 0),
        docs.where(F.col("doc_id") % 10 == 0),
    )


@q(
    "bigram_logprob",
    "WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), "
    "'\\s+') AS tk FROM documents), "
    "s AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1), "
    "i -> struct_pack(a := CASE WHEN i = 1 THEN NULL ELSE tk[i - 1] END, "
    "b := tk[i]))) AS u FROM t), "
    "st AS (SELECT doc_id, u.a AS a, u.b AS b FROM s), "
    "uni AS (SELECT b AS term, count(*) AS n_term FROM st GROUP BY b), "
    "uni2 AS (SELECT *, sum(n_term) OVER () AS n_total FROM uni), "
    "bi AS (SELECT a, b, count(*) AS n_ab FROM st WHERE a IS NOT NULL "
    "GROUP BY a, b ORDER BY n_ab DESC, a, b LIMIT 50000), "
    "scored AS (SELECT st.doc_id, CAST(round((CASE WHEN st.a IS NULL THEN "
    "ln(CAST(u.n_term AS DOUBLE) / CAST(u.n_total AS DOUBLE)) ELSE "
    "ln(0.7 * coalesce(CAST(bi.n_ab AS DOUBLE) / CAST(p.n_term AS DOUBLE), "
    "0.0) + 0.3 * CAST(u.n_term AS DOUBLE) / CAST(u.n_total AS DOUBLE)) "
    "END) * 1000000) AS BIGINT) AS lp FROM st "
    "JOIN uni2 u ON st.b = u.term "
    "LEFT JOIN bi ON st.a = bi.a AND st.b = bi.b "
    "LEFT JOIN uni p ON st.a = p.term) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
    "CAST(sum(lp) AS BIGINT) AS sum_logprob_fp, "
    "CAST(floor(CAST(sum(lp) AS DOUBLE) / count(*)) AS BIGINT) "
    "AS mean_logprob_micro FROM scored GROUP BY doc_id",
)
def _bigram_logprob(spark, sf_dir):
    """Interpolated-bigram LM quality proxy (pipeline/text.py:
    bigram_logprob): λ·bigram-ML + (1−λ)·unigram, top-50k pruned bigram
    model, fixed-point sums — the KenLM-shaped step past
    unigram_logprob."""
    return ptext.bigram_logprob(_docs(spark, sf_dir))


@q(
    "pack_token_ids",
    # vocab ids from the FULL corpus; packed stream gated on the same
    # 1-in-7 sample as tokenize_to_ids; EOS id 21 = oov_id + 1
    f"WITH t AS (SELECT doc_id, {_TOKS_D.replace('text', 'lower(text)')} AS toks "
    "FROM documents), "
    "allt AS (SELECT unnest(toks) AS term FROM t), "
    "v AS (SELECT term, count(*) AS n FROM allt GROUP BY term "
    f"ORDER BY n DESC, term LIMIT {_VOCAB_K}), "
    "vid AS (SELECT term, CAST(row_number() OVER (ORDER BY n DESC, term) - 1 "
    "AS INT) AS token_id FROM v), "
    "tk AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, "
    "unnest(toks) AS term FROM t WHERE doc_id % 7 = 0), "
    "idt AS (SELECT tk.doc_id, tk.pos, "
    f"coalesce(vid.token_id, {_VOCAB_K}) AS tid "
    "FROM tk LEFT JOIN vid USING (term)), "
    "ids AS (SELECT doc_id, list_append(list(tid ORDER BY pos), "
    f"{_VOCAB_K + 1}) AS ids FROM idt GROUP BY doc_id), "
    f"sh AS (SELECT doc_id, {_PACK_SHARD_D} AS shard, ids, "
    "CAST(len(ids) AS BIGINT) AS n FROM ids), "
    "off AS (SELECT *, coalesce(sum(n) OVER (PARTITION BY shard "
    "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
    "AS o FROM sh), "
    "tok AS (SELECT shard, o + CAST(unnest(range(0, len(ids))) AS BIGINT) "
    "AS gpos, unnest(ids) AS tid FROM off) "
    "SELECT CAST(shard AS INT) AS shard, "
    "CAST(floor(gpos / 64) AS BIGINT) AS seq_id, "
    "CAST(gpos % 64 AS BIGINT) AS pos_in_seq, CAST(tid AS INT) AS token_id "
    "FROM tok",
)
def _pack_token_ids(spark, sf_dir):
    """Tokenize→pack composition (pipeline/sampling.py: pack_token_ids):
    vocab-id tokenization, per-doc EOS, shard-local concatenation into
    dense 64-token training sequences. Two integer-stream shuffles."""
    from .pipeline.sampling import pack_token_ids

    docs = _docs(spark, sf_dir)
    vocab = ptext.vocab_with_ids(docs, k=_VOCAB_K)
    return pack_token_ids(
        docs.where(F.col("doc_id") % 7 == 0), vocab,
        oov_id=_VOCAB_K, seq_len=64, n_shards=8,
    )


_IVFPQ_NC = 16
_IVFPQ_NPROBE = 4

_IVFPQ_ASSIGN_CTE = (
    "cents AS (SELECT vec_id AS cent_id, embedding AS c_emb "
    f"FROM embeddings WHERE vec_id < {_IVFPQ_NC}), "
    "asc_ AS (SELECT e.vec_id, e.embedding, ct.cent_id, "
    f"({_duck_dot('e.embedding', 'ct.c_emb')}) / "
    f"nullif(sqrt({_duck_dot('e.embedding', 'e.embedding')}) * "
    f"sqrt({_duck_dot('ct.c_emb', 'ct.c_emb')}), 0.0) AS cs "
    "FROM embeddings e CROSS JOIN cents ct), "
    "assigned AS (SELECT vec_id, embedding, cent_id AS list_id FROM ("
    "SELECT *, row_number() OVER (PARTITION BY vec_id "
    "ORDER BY cs DESC, cent_id) AS rn FROM asc_) WHERE rn = 1)"
)


@q(
    "ivf_pq_ann",
    f"WITH {_IVFPQ_ASSIGN_CTE}, "
    "cb AS (SELECT vec_id AS code, embedding AS c_emb FROM embeddings "
    "WHERE vec_id < 16), "
    "ss AS (SELECT unnest(range(0, 8)) AS s), "
    "sub AS (SELECT a.vec_id, a.list_id, cb.code, ss.s, "
    + _PQ_SUBL2.format(a="a.embedding", b="cb.c_emb")
    + " AS dist FROM assigned a CROSS JOIN cb CROSS JOIN ss), "
    "codes AS (SELECT vec_id, list_id, CAST(s AS INT) AS s, code FROM ("
    "SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) "
    "AS rn FROM sub) WHERE rn = 1), "
    "qq AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings "
    "WHERE vec_id < 8), "
    "qs AS (SELECT qq.query_id, ct.cent_id, "
    f"({_duck_dot('qq.q_emb', 'ct.c_emb')}) / "
    f"nullif(sqrt({_duck_dot('qq.q_emb', 'qq.q_emb')}) * "
    f"sqrt({_duck_dot('ct.c_emb', 'ct.c_emb')}), 0.0) AS cs "
    "FROM qq CROSS JOIN cents ct), "
    "probes AS (SELECT query_id, cent_id AS list_id FROM ("
    "SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY cs DESC, cent_id) AS rn FROM qs) "
    f"WHERE rn <= {_IVFPQ_NPROBE}), "
    "lut AS (SELECT qq.query_id, cb.code, CAST(ss.s AS INT) AS s, "
    "CAST(floor("
    + _PQ_SUBL2.format(a="qq.q_emb", b="cb.c_emb")
    + " * 1048576.0 + 0.5) AS BIGINT) AS dq "
    "FROM qq CROSS JOIN cb CROSS JOIN ss), "
    "scored AS (SELECT p.query_id, c.vec_id AS neighbor_id, "
    "sum(l.dq) AS approx_dq FROM codes c "
    "JOIN probes p ON p.list_id = c.list_id AND c.vec_id != p.query_id "
    "JOIN lut l ON l.query_id = p.query_id AND l.s = c.s AND l.code = c.code "
    "GROUP BY 1, 2) "
    "SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank, "
    "approx_dq / 1048576.0 AS approx_dist FROM ("
    "SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY approx_dq, neighbor_id) AS rn FROM scored) WHERE rn <= 5",
)
def _ivf_pq_ann(spark, sf_dir):
    """IVF-PQ ANN (pipeline/similarity.py: ivf_pq_ann): inverted-list
    probing bounds the candidate set, PQ ADC bounds bytes per candidate
    — the FAISS IVFPQ (no-residual) serving shape. Codes carry their
    list id from a single offline corpus pass."""
    e = _embs(spark, sf_dir)
    return psim.ivf_pq_ann(
        e, e.where(F.col("vec_id") < 8), k=5,
        n_centroids=_IVFPQ_NC, nprobe=_IVFPQ_NPROBE,
    )


def _trained_centroids(e):
    """The FAISS train→serve composition: spherical k-means over the
    corpus, reshaped to the (cent_id, c_emb) table the IVF/semantic
    operators accept. kmeans_train quantizes centroid coordinates, so
    the whole composed path is bit-deterministic — fixed-value-oracle
    eligible."""
    return psim.centroids_from_kmeans(psim.kmeans_train(e, k=16, iters=3))


@q("ivf_pq_ann_trained", values_oracle_sql("ivf_pq_ann_trained"))
def _ivf_pq_ann_trained(spark, sf_dir):
    """kmeans_train → centroids_from_kmeans → ivf_pq_ann, end-to-end
    (VERDICT r5 nit: the pieces were only gated separately; this row
    proves the composed serving path). The coarse quantizer is the
    TRAINED centroid table instead of the first-k pseudo-centroids —
    exactly how FAISS IVFPQ is deployed. Iterative training is not
    ANSI-SQL-expressible, so the oracle is the captured
    fixed-expected-value table (fixtures/ivf_pq_ann_trained.json)."""
    e = _embs(spark, sf_dir)
    return psim.ivf_pq_ann(
        e, e.where(F.col("vec_id") < 8), k=5,
        nprobe=_IVFPQ_NPROBE, centroids=_trained_centroids(e),
    )


@q("semantic_dedup_trained", values_oracle_sql("semantic_dedup_trained"))
def _semantic_dedup_trained(spark, sf_dir):
    """kmeans_train → centroids_from_kmeans → semantic_dedup_clusters:
    the SemDeDup paper's actual recipe (k-means clusters, then
    cluster-local cosine dedup) rather than the pseudo-centroid
    special case the separate gate rows pin."""
    e = _embs(spark, sf_dir)
    return psim.semantic_dedup_clusters(
        e, threshold=_SEM_TAU, centroids=_trained_centroids(e)
    )


@q(
    "semantic_dedup_trained_k160",
    values_oracle_sql("semantic_dedup_trained_k160"),
)
def _semantic_dedup_trained_k160(spark, sf_dir):
    """The SemDeDup SCALE shape (round 7): k-means at k=160 — past
    VECTORIZE_K_THRESHOLD, so semantic_dedup_clusters' auto dispatch
    routes centroid assignment through the Arrow-matmul path
    (assign_nearest_centroid_vectorized) instead of the interpreted
    fold — giving the large-k serving plan its own green gate row
    (VERDICT r6 item 3). Iterative training + the matmul path are not
    ANSI-SQL-expressible; the oracle is the captured fixed-value table,
    double-run bit-stability-checked across shuffle layouts at capture
    (scratch/gen_fixed_oracles.py)."""
    e = _embs(spark, sf_dir)
    cents = psim.centroids_from_kmeans(psim.kmeans_train(e, k=160, iters=2))
    return psim.semantic_dedup_clusters(e, threshold=_SEM_TAU, centroids=cents)


@q("ann_recall_trained", values_oracle_sql("ann_recall_trained"))
def _ann_recall_trained(spark, sf_dir):
    """Recall@5 gate for the TRAINED coarse quantizer (the ann_recall
    pattern): ivf_flat and ivf_pq serving off kmeans centroids, scored
    against exact brute-force ground truth. Trained centroids should
    carve better-balanced lists than the first-k pseudo-centroids; the
    captured constant pins whatever the fixture yields, so a regression
    in training OR serving breaks this row."""
    e = _embs(spark, sf_dir).where(F.col("vec_id") < 500)
    qs = e.where(F.col("vec_id") < 8)
    cents = _trained_centroids(e)
    gt = psim.brute_force_topk(e, qs, k=5).select("query_id", "neighbor_id")
    total = gt.groupBy().agg(F.count("*").alias("total"))

    def _row(name: str, ann):
        hits = (
            gt.join(ann.select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"])
            .groupBy()
            .agg(F.count("*").alias("hits"))
        )
        return hits.crossJoin(total).select(
            F.lit(name).alias("method"), "hits", "total",
            (F.col("hits").cast("double") / F.col("total").cast("double")
             ).alias("recall"),
        )

    return _row(
        "ivf_trained",
        psim.ivf_flat_ann(e, qs, k=5, nprobe=_IVF_NPROBE, centroids=cents),
    ).unionByName(
        _row(
            "ivfpq_trained",
            psim.ivf_pq_ann(e, qs, k=5, nprobe=_IVFPQ_NPROBE, centroids=cents),
        )
    )


# --- round-5c: corpus accounting / weighted sampling / sketches -------------

@q(
    "domain_stats",
    f"SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    f"CAST(sum(len({_TOKS_D})) AS BIGINT) AS n_tokens, "
    "CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique, "
    "1.0 - count(DISTINCT md5(text)) / CAST(count(*) AS DOUBLE) AS dup_rate, "
    "sum(n_chars) / CAST(count(*) AS DOUBLE) AS avg_chars "
    "FROM documents GROUP BY source",
)
def _domain_stats(spark, sf_dir):
    """Per-source corpus accounting (pipeline/stats.py: domain_stats):
    the ingest report — doc/token volume, exact-dup rate, mean length
    per domain. One partial-aggregated pass keyed by source."""
    from .pipeline.stats import domain_stats

    return domain_stats(_docs(spark, sf_dir))


# the one md5-uniform oracle literal, parenthesized for infix use (ADVICE
# r5: a second verbatim copy of _U_D invited silent divergence)
_PRI_U_D = f"({_U_D})"


@q(
    "priority_sample",
    "SELECT doc_id, lang, source, n_chars, "
    # u clamped to >= 2^-28 on both engines: w/0.0 is +Inf in Spark but
    # IEEE-setting-dependent in DuckDB (ADVICE r5)
    f"CAST(n_chars AS DOUBLE) / greatest({_PRI_U_D}, 1.0/268435456.0) "
    "AS priority "
    "FROM documents ORDER BY priority DESC, doc_id LIMIT 50",
)
def _priority_sample(spark, sf_dir):
    """Priority sampling, Duffield-Lund-Thorup (pipeline/sampling.py:
    priority_sample): weighted top-k by w/u with the md5-uniform — the
    TakeOrderedAndProject plan, no corpus shuffle. Priorities are one
    IEEE division over a dyadic uniform: bit-identical cross-engine."""
    from .pipeline.sampling import priority_sample

    return priority_sample(_docs(spark, sf_dir), k=50)


@q(
    "temperature_sample_langs",
    "WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang), "
    "m AS (SELECT min(n) AS n_min FROM c), "
    "r AS (SELECT lang, sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE)) "
    "AS keep_rate FROM c, m) "
    "SELECT d.doc_id, d.lang, d.source, r.keep_rate "
    f"FROM documents d JOIN r USING (lang) WHERE {_PRI_U_D} < r.keep_rate",
)
def _temperature_sample_langs(spark, sf_dir):
    """α=0.5 temperature language rebalancing (pipeline/sampling.py:
    temperature_sample_langs): keep-rate sqrt(n_min/n_l) — exact-rounded
    division + correctly-rounded sqrt, so the keep/drop decision is
    engine-exact. Tiny census aggregate, broadcast rates, scan-speed
    filter."""
    from .pipeline.sampling import temperature_sample_langs

    return temperature_sample_langs(_docs(spark, sf_dir))


_CMS_GRAMS_D = (
    "t AS (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS tk "
    "FROM documents), "
    "g AS (SELECT unnest(list_transform(range(1, greatest(len(tk) - 2, 0) + 1), "
    "i -> array_to_string(tk[i:i+2], ' '))) AS gram FROM t)"
)

_CMS_BUCKET_D = (
    "CAST(('0x' || substring(md5(concat('cms' || CAST(row AS VARCHAR) || '|', "
    "gram)), 1, 7)) AS BIGINT) % 1024"
)


@q(
    "count_min_heavy_grams",
    f"WITH {_CMS_GRAMS_D}, "
    "gb AS (SELECT gram, CAST(unnest(range(0, 4)) AS INT) AS row FROM g), "
    f"gb2 AS (SELECT gram, row, {_CMS_BUCKET_D} AS bucket FROM gb), "
    "sketch AS (SELECT row, bucket, count(*) AS cell FROM gb2 "
    "GROUP BY row, bucket), "
    "top AS (SELECT gram, count(*) AS n FROM g GROUP BY gram "
    "ORDER BY n DESC, gram LIMIT 20), "
    "cand AS (SELECT gram, n, CAST(unnest(range(0, 4)) AS INT) AS row "
    "FROM top), "
    f"cand2 AS (SELECT gram, n, row, {_CMS_BUCKET_D} AS bucket FROM cand) "
    "SELECT cand2.gram, CAST(n AS BIGINT) AS n, "
    "CAST(min(cell) AS BIGINT) AS cms_est "
    "FROM cand2 JOIN sketch USING (row, bucket) GROUP BY cand2.gram, n",
)
def _count_min_heavy_grams(spark, sf_dir):
    """Count-min-sketch heavy-hitter 3-grams (pipeline/stats.py:
    count_min_heavy_grams): the gram stream folds into a fixed 4×1024
    cell grid (map-side mergeable — the shuffle is sketch-sized at any
    corpus scale); estimates are the min-over-rows lookup and the oracle
    pins them against exact counts (CMS guarantees est ≥ exact)."""
    from .pipeline.stats import count_min_heavy_grams

    return count_min_heavy_grams(_docs(spark, sf_dir), n=3, k=20)


# the fixed-banding incremental-dedup twin — shared by the batch gate
# row and the streaming ingest row (streaming/near_dedup.py), whose
# per-batch flags union to exactly this by batch-boundary invariance
_INCR_FIXED_SQL = (
    f"WITH shn AS (SELECT doc_id, unnest({_SHINGLES_D}) AS sh "
    "FROM documents WHERE doc_id % 5 = 0), "
    f"hhn AS (SELECT doc_id, {md5_int_duck('sh')} AS h FROM shn), "
    f"sign_ AS (SELECT doc_id, {_MH_MINS_D} FROM hhn GROUP BY doc_id), "
    f"sho AS (SELECT doc_id, unnest({_SHINGLES_D}) AS sh "
    "FROM documents WHERE doc_id % 5 != 0), "
    f"hho AS (SELECT doc_id, {md5_int_duck('sh')} AS h FROM sho), "
    f"sigo AS (SELECT doc_id, {_MH_MINS_D} FROM hho GROUP BY doc_id), "
    "bn AS (" + " UNION ALL ".join(
        f"SELECT doc_id, {_band_key_d(b)} AS band_key FROM sign_"
        for b in range(LSH_BANDS)
    ) + "), "
    "bo AS (" + " UNION ALL ".join(
        f"SELECT doc_id, {_band_key_d(b)} AS band_key FROM sigo"
        for b in range(LSH_BANDS)
    ) + "), "
    "cand AS (SELECT DISTINCT bn.doc_id AS new_doc, bo.doc_id AS dup_of "
    "FROM bn JOIN bo USING (band_key)) "
    "SELECT new_doc, dup_of, "
    + _EST_EXPR.replace("sa.", "sn.").replace("sb.", "so.")
    + " AS est_jaccard FROM cand "
    "JOIN sign_ sn ON cand.new_doc = sn.doc_id "
    "JOIN sigo so ON cand.dup_of = so.doc_id "
    + "WHERE "
    + _EST_EXPR.replace("sa.", "sn.").replace("sb.", "so.")
    + " >= 0.5"
)


@q("minhash_dedup_incremental", _INCR_FIXED_SQL)
def _minhash_dedup_incremental(spark, sf_dir):
    """Incremental near-dedup of an incoming batch against the existing
    corpus (pipeline/dedup.py: minhash_dedup_incremental): banded
    new→existing equi-join only — the existing side's signatures are the
    materialized asset, the new batch is the only text hashed. The
    ingest-time shape of minhash dedup at a growing 100 TB corpus."""
    from .pipeline.dedup import minhash_dedup_incremental

    docs = _docs(spark, sf_dir)
    # oracle mode: fixed LSH_BANDS banding (the shipped default is
    # density-aware — see _minhash_lsh_pairs note)
    return minhash_dedup_incremental(
        docs.where(F.col("doc_id") % 5 == 0),
        docs.where(F.col("doc_id") % 5 != 0),
        bands=LSH_BANDS,
    )


@q("streaming_minhash_dedup", _INCR_FIXED_SQL)
def _streaming_minhash_dedup(spark, sf_dir):
    """Ingest-time near-dedup as a REAL Structured Streaming query
    (streaming/near_dedup.py): the new-docs split arrives as a file
    stream, each micro-batch is flagged against the existing corpus's
    persisted signatures via foreachBatch, flags land exactly-once in
    batch-scoped directories. Batch-boundary invariance makes the
    materialized union equal the one-shot batch run, so this row shares
    batch minhash_dedup_incremental's DuckDB twin; the multi-batch
    equality is pinned in tests/test_streaming.py."""
    from .streaming.near_dedup import run_stream_near_dedup

    return run_stream_near_dedup(spark, sf_dir).select(
        "new_doc", "dup_of", "est_jaccard"
    )


@q("quality_classifier_train", values_oracle_sql("quality_classifier_train"))
def _quality_classifier_train(spark, sf_dir):
    """Distributed full-batch logistic regression distilling the
    rule-based quality score into a linear filter
    (pipeline/classifier.py: quality_classifier_train). Iterative
    (one partial-aggregated gradient pass + 5-number driver round-trip
    per iteration — the kmeans_train pattern), so the oracle is the
    fixed expected weight table; 1e-9 per-iteration quantization makes
    it bit-stable across layouts (verified at capture)."""
    from .pipeline.classifier import quality_classifier_train

    return quality_classifier_train(_docs(spark, sf_dir))


def _classifier_score_sql() -> str:
    from .pipeline.classifier import FEATURE_NAMES, TRAINED_WEIGHTS
    from .pipeline.text import STOPWORDS

    stops = sorted({w for ws in STOPWORDS.values() for w in ws})
    stop_lit = "[" + ", ".join(f"'{s}'" for s in stops) + "]"
    feats = {
        "len_norm": "len(tk) / 100.0 - 0.5",
        "mean_word_len": (
            "list_sum(list_transform(tk, t -> CAST(len(t) AS BIGINT)))"
            " / len(tk) - 4.5"
        ),
        "distinct_ratio": "len(list_distinct(tk)) / len(tk) - 0.625",
        "stopword_x16": (
            f"len(list_filter(tk, t -> list_contains({stop_lit}, t)))"
            " / len(tk) * 16.0 - 1.0"
        ),
    }
    z = repr(TRAINED_WEIGHTS["bias"])
    for name in FEATURE_NAMES[1:]:
        z += f" + {TRAINED_WEIGHTS[name]!r} * {name}"
    return (
        "WITH t AS (SELECT doc_id, "
        "regexp_split_to_array(trim(lower(text)), '\\s+') AS tk "
        "FROM documents), "
        "f AS (SELECT doc_id, "
        + ", ".join(f"{expr} AS {name}" for name, expr in feats.items())
        + " FROM t) "
        f"SELECT doc_id, CAST(floor(({z}) * 1000000.0 + 0.5) AS BIGINT) "
        f"AS margin_fp, ({z}) > 0.0 AS keep FROM f"
    )


@q("quality_classifier_score", _classifier_score_sql())
def _quality_classifier_score(spark, sf_dir):
    """Scan-speed corpus scoring with the trained checkpoint
    (pipeline/classifier.py: quality_classifier_score): the logit is a
    fixed-order IEEE multiply-add chain over exact features — zero
    shuffles, bit-identical in the SQL twin, monotone in the sigmoid so
    the filter decision needs no transcendentals."""
    from .pipeline.classifier import quality_classifier_score

    return quality_classifier_score(_docs(spark, sf_dir))


_Z4_D = (
    "((ix & 1) << 0) | (((iy & 1)) << 1) | "
    "(((ix >> 1) & 1) << 2) | (((iy >> 1) & 1) << 3) | "
    "(((ix >> 2) & 1) << 4) | (((iy >> 2) & 1) << 5) | "
    "(((ix >> 3) & 1) << 6) | (((iy >> 3) & 1) << 7)"
)


def _zorder_sql() -> str:
    from .registry import CUBE_D

    return (
        f"WITH cube AS ({CUBE_D}), "
        "cells AS (SELECT DISTINCT "
        "CAST(round((x - 0.0) / 10.0) AS INT) AS ix, "
        "CAST(round((150.0 - y) / 10.0) AS INT) AS iy FROM cube), "
        f"k AS (SELECT ix, iy, {_Z4_D} AS zkey FROM cells) "
        "SELECT CAST(zkey >> 4 AS BIGINT) AS bucket, "
        "CAST(count(*) AS BIGINT) AS n_cells, "
        "min(ix) AS x_min, max(ix) AS x_max, "
        "min(iy) AS y_min, max(iy) AS y_max, "
        "CAST((max(ix) - min(ix) + 1) * (max(iy) - min(iy) + 1) AS BIGINT) "
        "AS bbox_area FROM k GROUP BY bucket"
    )


@q("zorder_bucket_stats", _zorder_sql())
def _zorder_bucket_stats(spark, sf_dir):
    """Z-order (Morton) clustering stats over the cube grid
    (sinks/zorder.py: zorder_bucket_stats): every 16-cell Z-block has a
    compact 4×4 bounding box (bbox_area == n_cells) — the min/max
    footprint a z-clustered parquet file exposes, vs full-x-extent
    stripes from a row-major layout. Pins the Morton bit math
    cross-engine; write_zordered materializes the layout itself."""
    from .sinks.zorder import zorder_bucket_stats
    from .sources.synthetic import synthetic_cube

    cube = synthetic_cube(spark)
    cells = cube.df.select("x", "y").dropDuplicates()
    return zorder_bucket_stats(cells, cube.schema.grid, block_bits=2)


def _classifier_keep_sql() -> str:
    base = _classifier_score_sql()
    return f"SELECT * FROM ({base}) WHERE keep"


@q("streaming_quality_filter", _classifier_keep_sql())
def _streaming_quality_filter(spark, sf_dir):
    """Ingest-time model filtering: the trained quality classifier
    scores a DOCUMENT STREAM (pipeline/classifier.py:
    quality_classifier_score is a pure stateless projection, so it runs
    unchanged under Structured Streaming — no watermark, no state
    store) and only kept documents reach the sink. Oracle = the batch
    scoring SQL filtered on keep: stream and batch must agree row for
    row, which is exactly the guarantee a streaming ingest pipeline
    needs before swapping batch cleaning for continuous cleaning."""
    from .pipeline.classifier import quality_classifier_score

    schema = _docs(spark, sf_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    out = quality_classifier_score(stream).where(F.col("keep"))
    qname = "reg_quality_filter"
    qy = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .start()
    )
    try:
        qy.processAllAvailable()
    finally:
        qy.stop()
    return spark.table(qname)


@q(
    "jsonl_roundtrip",
    f"SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
    f"CAST(sum(len({_TOKS_D})) AS BIGINT) AS sum_tokens, "
    "CAST(min(md5(text)) AS VARCHAR) AS min_text_md5 "
    "FROM documents GROUP BY lang",
)
def _jsonl_roundtrip(spark, sf_dir):
    """JSONL source/sink fidelity (sources/jsonl.py): the documents
    table round-trips through gzip JSONL — the format corpora actually
    ship in — and the census (counts, char/token sums, an md5 witness of
    the text bytes themselves) must equal the parquet original. A
    mangled escape, lost row, or re-encoded character anywhere in the
    write→read path shifts the hash."""
    import shutil
    import tempfile

    from .sources.jsonl import load_documents_jsonl, write_documents_jsonl

    work = tempfile.mkdtemp(prefix="jsonl_gate_")
    try:
        write_documents_jsonl(_docs(spark, sf_dir), f"{work}/docs")
        back = load_documents_jsonl(spark, f"{work}/docs")
        census = back.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.size(F.split(F.trim("text"), r"\s+")).cast("bigint")).alias(
                "sum_tokens"
            ),
            F.min(F.md5("text")).alias("min_text_md5"),
        )
        rows = census.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, census.schema)


@q(
    "cdc_chunks",
    f"WITH t AS (SELECT doc_id, {_TOKS_D} AS tk FROM documents), "
    "b AS (SELECT doc_id, tk, CASE WHEN len(tk) >= 4 THEN "
    "list_filter(range(4, len(tk) + 1), i -> "
    "(CAST(('0x' || substring(md5(array_to_string(tk[i-3:i], ' ')), 1, 7)) "
    "AS BIGINT) % 16) = 0) ELSE [] END AS bnd FROM t), "
    "e AS (SELECT doc_id, tk, "
    "list_sort(list_distinct(list_append(bnd, len(tk)))) AS ends FROM b), "
    "s AS (SELECT doc_id, tk, ends, "
    "CAST(unnest(range(1, len(ends) + 1)) AS INT) AS k FROM e), "
    "c AS (SELECT doc_id, tk, CAST(k - 1 AS INT) AS chunk_idx, "
    "CAST(CASE WHEN k = 1 THEN 1 ELSE ends[k - 1] + 1 END AS INT) "
    "AS chunk_start, ends[k] AS ce FROM s) "
    "SELECT doc_id, chunk_idx, chunk_start, "
    "CAST(ce - chunk_start + 1 AS INT) AS n_chunk_tokens, "
    "md5(array_to_string(tk[chunk_start:ce], ' ')) AS chunk_md5 FROM c",
)
def _cdc_chunks(spark, sf_dir):
    """Content-defined chunking (pipeline/text.py: cdc_chunk_documents,
    the FastCDC idea at token granularity): boundaries where the
    trailing-4-token fingerprint hits the mask, so an edit re-cuts one
    chunk, not every downstream chunk. chunk_md5 is the key for
    chunk-level cross-doc dedup / content-addressed storage. Zero
    exchanges — array expressions fused with the scan."""
    return ptext.cdc_chunk_documents(_docs(spark, sf_dir), window=4, mask=16)


def _gopher_sql() -> str:
    from .pipeline.text import STOPWORDS

    stops = sorted({w for ws in STOPWORDS.values() for w in ws})
    stop_lit = "[" + ", ".join(f"'{s}'" for s in stops) + "]"
    mean_wl = "(list_sum(list_transform(tk, t -> CAST(len(t) AS BIGINT))) / len(tk))"
    return (
        "WITH t AS (SELECT doc_id, text, "
        f"{_TOKS_D} AS tk, string_split(text, chr(10)) AS ln FROM documents), "
        "f AS (SELECT doc_id, "
        "len(tk) >= 50 AND len(tk) <= 100000 AS ok_n_words, "
        f"{mean_wl} >= 3.0 AND {mean_wl} <= 10.0 AS ok_mean_word_len, "
        "((len(text) - len(replace(text, '#', ''))) / len(tk)) <= 0.1 "
        "AS ok_hash_ratio, "
        "(len(list_filter(ln, l -> regexp_matches(l, '\\.\\.\\.\\s*$'))) "
        "/ len(ln)) <= 0.3 AS ok_ellipsis, "
        "(len(list_filter(ln, l -> regexp_matches(l, '^\\s*[-•*]'))) "
        "/ len(ln)) <= 0.9 AS ok_bullets, "
        "(len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]'))) "
        "/ len(tk)) >= 0.8 AS ok_alpha_words, "
        f"len(list_filter(tk, t -> list_contains({stop_lit}, lower(t)))) >= 2 "
        "AS ok_stopwords FROM t) "
        "SELECT *, ok_n_words AND ok_mean_word_len AND ok_hash_ratio "
        "AND ok_ellipsis AND ok_bullets AND ok_alpha_words AND ok_stopwords "
        "AS keep FROM f"
    )


@q("gopher_quality_flags", _gopher_sql())
def _gopher_quality_flags(spark, sf_dir):
    """The Gopher rule-filter set (pipeline/text.py:
    gopher_quality_flags, Rae et al. 2021 §A1.1): word-count band, mean
    word length, symbol/bullet/ellipsis ratios, alphabetic-word and
    stopword floors — per-doc boolean flags + keep, all exact integer
    counts and single IEEE divisions, zero exchanges."""
    return ptext.gopher_quality_flags(_docs(spark, sf_dir))


def _full_preprocess_sql() -> str:
    g = _gopher_sql()
    c = _classifier_score_sql()
    return (
        f"WITH g AS ({g}), c AS ({c}), "
        "kept AS (SELECT d.* FROM documents d "
        "JOIN g ON d.doc_id = g.doc_id AND g.keep "
        "JOIN c ON d.doc_id = c.doc_id AND c.keep), "
        "cnt AS (SELECT lang, count(*) AS n FROM kept GROUP BY lang), "
        "m AS (SELECT min(n) AS n_min FROM cnt), "
        "r AS (SELECT lang, sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE)) "
        "AS keep_rate FROM cnt, m), "
        "s AS (SELECT kept.*, r.keep_rate FROM kept JOIN r USING (lang) "
        f"WHERE {_PRI_U_D} < r.keep_rate) "
        "SELECT lang, keep_rate, CAST(count(*) AS BIGINT) AS n_docs, "
        f"CAST(sum(len({_TOKS_D})) AS BIGINT) AS sum_tokens "
        "FROM s GROUP BY lang, keep_rate"
    )


@q("pipeline_rule_model_mix_stats", _full_preprocess_sql())
def _pipeline_rule_model_mix(spark, sf_dir):
    """The round-5 preprocess chain as ONE lazy Catalyst plan: Gopher
    rule flags → trained-classifier filter → α=0.5 temperature language
    rebalancing → per-language census. Both filters are zero-exchange
    scan-fused projections, the language census/rates are tiny broadcast
    aggregates, so the corpus is read once and shuffles only for the
    final 5-row census — the whole cleaning front-end of a 100 TB
    pipeline at scan speed."""
    from .pipeline.classifier import quality_classifier_score
    from .pipeline.sampling import temperature_sample_langs
    from .pipeline.text import gopher_quality_flags

    docs = _docs(spark, sf_dir)
    gk = gopher_quality_flags(docs).where(F.col("keep")).select("doc_id")
    ck = quality_classifier_score(docs).where(F.col("keep")).select("doc_id")
    kept = docs.join(gk, "doc_id").join(ck, "doc_id")
    samp = temperature_sample_langs(kept)
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    return (
        samp.join(docs.select("doc_id", "text"), "doc_id")
        .groupBy("lang", "keep_rate")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(toks).alias("sum_tokens"),
        )
    )


@q(
    "incremental_corpus_stats",
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(length(text)) AS BIGINT) AS n_chars, "
    "CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique, "
    "TRUE AS hll_ok FROM documents GROUP BY lang",
)
def _incremental_corpus_stats(spark, sf_dir):
    """Cross-batch mergeable-sketch statistics (pipeline/stats.py:
    incremental_corpus_stats): per-batch DataSketches HLL rows union via
    hll_union_agg with no rescan of earlier batches; the merged
    estimate is gated inside its error envelope against the exact
    distinct count, so a sketch-merge bug fails the hash."""
    from .pipeline.stats import incremental_corpus_stats

    return incremental_corpus_stats(_docs(spark, sf_dir))


# --- event-stream analytics -------------------------------------------------

_EV_US = "(SELECT * REPLACE (date_trunc('microseconds', ts) AS ts) FROM events)"


# shared session-labeling CTE chain (30-min gap, (ts, event_id)
# tie-break) — ONE definition for every session-scoped oracle so the
# session rule can never drift between queries
_SESS_CTES = (
    f"e AS (SELECT * FROM {_EV_US}), "
    "s AS (SELECT user_id, ts, event_id, event_type, "
    "CASE WHEN lag(ts) OVER w IS NULL OR "
    "(epoch_us(ts) - epoch_us(lag(ts) OVER w)) > 1800000000 "
    "THEN 1 ELSE 0 END AS brk FROM e "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
    "s2 AS (SELECT *, sum(brk) OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
    "AS sess FROM s)"
)


@q(
    "event_sessionize",
    f"WITH {_SESS_CTES} "
    "SELECT user_id, CAST(sess AS INT) AS session_idx, "
    "CAST(count(*) AS BIGINT) AS n_events, min(ts) AS t_start, "
    "max(ts) AS t_end, "
    "CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS duration_us, "
    "CAST(count(DISTINCT event_type) AS BIGINT) AS n_types "
    "FROM s2 GROUP BY user_id, sess",
)
def _event_sessionize(spark, sf_dir):
    """Batch sessionization with a 30-minute inactivity gap
    (pipeline/events.py: sessionize_events — the batch twin of the
    streaming session_counts rule): one user-keyed shuffle serves the
    lag window, the running session counter, and the per-session
    aggregate. Exact timestamp arithmetic, deterministic (ts, event_id)
    ordering."""
    from .pipeline.events import sessionize_events

    return sessionize_events(load_table(spark, sf_dir, "events"))


@q(
    "event_funnel",
    f"WITH e AS (SELECT * FROM {_EV_US}), "
    "s0 AS (SELECT user_id, min(ts) AS t FROM e WHERE event_type = 'view' "
    "GROUP BY user_id), "
    "s1 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s0 "
    "ON e.user_id = s0.user_id AND e.ts > s0.t "
    "WHERE event_type = 'click' GROUP BY e.user_id), "
    "s2 AS (SELECT e.user_id, min(e.ts) AS t FROM e JOIN s1 "
    "ON e.user_id = s1.user_id AND e.ts > s1.t "
    "WHERE event_type = 'purchase' GROUP BY e.user_id) "
    "SELECT 0 AS step_idx, 'view' AS step, CAST(count(*) AS BIGINT) "
    "AS n_users FROM s0 "
    "UNION ALL SELECT 1, 'click', CAST(count(*) AS BIGINT) FROM s1 "
    "UNION ALL SELECT 2, 'purchase', CAST(count(*) AS BIGINT) FROM s2",
)
def _event_funnel(spark, sf_dir):
    """Ordered first-touch funnel view→click→purchase
    (pipeline/events.py: funnel_conversion): one user-keyed aggregate
    per step, each gated on the previous step's first qualifying
    timestamp — step tables shrink monotonically and every shuffle
    reuses the user_id partitioning."""
    from .pipeline.events import funnel_conversion

    return funnel_conversion(
        load_table(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


@q(
    "event_retention_cohorts",
    f"WITH e AS (SELECT * FROM {_EV_US}), "
    "f AS (SELECT user_id, min(ts) AS first_ts FROM e GROUP BY user_id), "
    "c AS (SELECT e.user_id, date_trunc('week', f.first_ts) AS cohort_week, "
    "date_trunc('week', e.ts) AS aw FROM e JOIN f ON e.user_id = f.user_id) "
    "SELECT cohort_week, "
    "CAST(date_diff('day', cohort_week, aw) // 7 AS INT) AS week_offset, "
    "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users "
    "FROM c GROUP BY cohort_week, week_offset",
)
def _event_retention_cohorts(spark, sf_dir):
    """Weekly cohort retention (pipeline/events.py: retention_cohorts):
    users cohorted by ISO week of first event; per (cohort, offset)
    distinct actives. Integer-exact week arithmetic; the per-user
    first-event table joins back user-keyed."""
    from .pipeline.events import retention_cohorts

    return retention_cohorts(load_table(spark, sf_dir, "events"))


@q(
    "event_anomaly_hours",
    f"WITH e AS (SELECT * FROM {_EV_US}), "
    "h AS (SELECT event_type, date_trunc('hour', ts) AS hour, "
    "count(*) AS n FROM e GROUP BY 1, 2), "
    "st AS (SELECT *, count(*) OVER w AS k, sum(n) OVER w AS s, "
    "sum(n * n) OVER w AS q FROM h "
    "WINDOW w AS (PARTITION BY event_type)) "
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours, "
    "CAST(sum(CASE WHEN (k*n - s)*(k*n - s) > 9*(k*q - s*s) "
    "THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous, "
    "CAST(max(n) AS BIGINT) AS peak_count "
    "FROM st GROUP BY event_type",
)
def _event_anomaly_hours(spark, sf_dir):
    """Hourly volume-spike detection (pipeline/events.py:
    anomaly_hours): the 3σ z-test cross-multiplied into pure integer
    arithmetic — (k·n−S)² > 9(k·Q−S²) — so the flag decision is
    bit-exact cross-engine with no float mean/stddev/sqrt. One
    corpus-sized hourly rollup; everything after runs on the tiny
    (type, hour) table."""
    from .pipeline.events import anomaly_hours

    return anomaly_hours(load_table(spark, sf_dir, "events"))


# --- round 7: semantic decontamination / PII redaction / normalized dedup ---

@q(
    "decontaminate_semantic",
    # NOT EXISTS would be the natural shape, but DuckDB cannot
    # correlate an outer column into the cosine lambda inside a
    # subquery — materialize the contaminated ids with the same
    # cross-join form the pairs oracle uses, then anti-filter.
    "WITH hits AS (SELECT DISTINCT c.vec_id FROM embeddings c "
    "JOIN embeddings q ON q.vec_id < 8 AND "
    f"({_duck_cosine('c.embedding', 'q.embedding')}) >= {_EMB_DUP_THRESHOLD}) "
    "SELECT e.vec_id, e.label FROM embeddings e "
    "WHERE e.vec_id NOT IN (SELECT vec_id FROM hits)",
)
def _decontaminate_semantic(spark, sf_dir):
    """Embedding-space decontamination (pipeline/similarity.py:
    decontaminate_semantic): drop corpus vectors within cosine
    threshold of any eval vector — broadcast nested-loop LeftAnti,
    zero corpus shuffle; eval = the 8 lowest vec_ids (the
    brute_force_topk query-set convention), threshold shared with
    embedding_cosine_dup_pairs so the planted near-dups exercise
    real drops beyond the eval rows' self-match."""
    e = _embs(spark, sf_dir)
    return psim.decontaminate_semantic(
        e, e.where(F.col("vec_id") < 8), threshold=_EMB_DUP_THRESHOLD
    ).select("vec_id", "label")


# The generated documents fixture contains ZERO matches for any PII
# pattern (verified per-round in DuckDB), which would leave a redaction
# gate row trivially green — the gate therefore plants deterministic
# PII derived from md5(text), with the IDENTICAL expression on both
# engines. Keying the plant off the text (never doc_id) preserves the
# fixture's duplicate structure, so composition rows that dedup the
# augmented corpus still exercise real collapses. pii_scan stays on the
# raw fixture deliberately: it pins the zero-false-positive side.
_PII_PLANT = "' contact ' || substring(md5(text), 1, 6) || '@example.com or 555-123-4567 at 10.0.0.1'"


def _pii_augment(docs: DataFrame) -> DataFrame:
    """Spark twin of ``_PII_PLANT``: one email (text-derived local
    part), one phone shape, one IPv4 appended to every document."""
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact "),
            F.substring(F.md5("text"), 1, 6),
            F.lit("@example.com or 555-123-4567 at 10.0.0.1"),
        ),
    )


def _pii_redact_oracle() -> str:
    red = "text"
    for name, pat in ptext.PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '<{name.upper()}>', 'g')"
    n = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))"
        for pat in ptext.PII_PATTERNS.values()
    )
    return (
        f"WITH docs_p AS (SELECT doc_id, text || {_PII_PLANT} AS text "
        "FROM documents) "
        f"SELECT doc_id, {red} AS text_redacted, "
        f"CAST({n} AS INT) AS n_redactions FROM docs_p"
    )


@q("pii_redact", _pii_redact_oracle())
def _pii_redact(spark, sf_dir):
    """PII redaction (pipeline/text.py: pii_redact) — sequential
    typed-placeholder regexp_replace per PII_PATTERNS entry, counts
    from the original text; single codegen projection, no shuffle.
    Patterns are the Java-regex ∩ RE2 common dialect (the pii_scan
    discipline) so DuckDB replays the replacements exactly. Input is
    the PII-planted corpus (_pii_augment) so every document exercises
    ≥3 real replacements — the raw fixture has zero matches."""
    return ptext.pii_redact(_pii_augment(_docs(spark, sf_dir)))


_NORM_KEY_D = (
    r"trim(regexp_replace(regexp_replace(lower(text), "
    r"'[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))"
)


@q(
    "exact_dedup_normalized",
    # the sf0.01 fixture has zero duplicate texts (500 distinct of
    # 500, exact AND normalized), so dedup over the raw table would
    # never exercise a collapse — union in an ASCII-uppercased variant
    # of every document (locale-free translate, byte-identical in both
    # engines; upper()/lower() on non-ASCII is locale-dependent) so
    # every normalized group genuinely collapses a pair
    f"WITH aug AS (SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 1000000, "
    "translate(text, 'abcdefghijklmnopqrstuvwxyz', "
    "'ABCDEFGHIJKLMNOPQRSTUVWXYZ') FROM documents) "
    f"SELECT md5({_NORM_KEY_D}) AS content_hash, "
    "min(doc_id) AS keep_doc_id, count(*) AS n_copies "
    f"FROM aug GROUP BY md5({_NORM_KEY_D})",
)
def _exact_dedup_normalized(spark, sf_dir):
    """Fuzzy-exact dedup on the C4-style canonicalization key
    (pipeline/dedup.py: normalize_for_dedup — lower, punctuation→
    space, whitespace collapse, trim): same single hash-aggregate
    plan as exact_dedup, catches re-cased / re-punctuated copies.
    Gate input unions an upper-cased variant of every document so
    each group exercises a REAL collapse (n_copies ≥ 2) — the raw
    fixture has no duplicates at sf0.01."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    recased = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.translate(
            "text",
            "abcdefghijklmnopqrstuvwxyz",
            "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
        ).alias("text"),
    )
    return pdedup.exact_dedup_normalized(docs.unionByName(recased))


@q("streaming_pii_redact", _pii_redact_oracle())
def _streaming_pii_redact(spark, sf_dir):
    """Ingest-time PII redaction: pii_redact is a pure stateless
    projection (one codegen regexp pass, no watermark, no state
    store), so it runs unchanged under Structured Streaming — the
    corpus is scrubbed as it lands instead of in a batch pass before
    release. Oracle = the batch redaction SQL: stream and batch must
    agree row for row, the same guarantee streaming_quality_filter
    pins for model filtering. The PII plant (_pii_augment) applies to
    the stream exactly as to the batch input, so the streamed
    replacements are real, not vacuous."""
    schema = _docs(spark, sf_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    out = ptext.pii_redact(_pii_augment(stream))
    qname = "reg_pii_redact"
    qy = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(qname)
        .start()
    )
    try:
        qy.processAllAvailable()
    finally:
        qy.stop()
    return spark.table(qname)


def _release_stats_sql() -> str:
    red = "text"
    for name, pat in ptext.PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '<{name.upper()}>', 'g')"
    n = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))"
        for pat in ptext.PII_PATTERNS.values()
    )
    return (
        # dedup the RAW corpus (planting first would split normalized-
        # key groups whose members differ byte-wise), then plant PII
        # into the survivors so the redaction stage does real work
        "WITH winners AS (SELECT min(doc_id) AS doc_id FROM documents "
        f"GROUP BY md5({_NORM_KEY_D})), "
        "surv AS (SELECT d.doc_id, d.lang, "
        f"d.text || {_PII_PLANT.replace('md5(text)', 'md5(d.text)')} AS text "
        "FROM documents d JOIN winners w ON d.doc_id = w.doc_id), "
        f"red AS (SELECT doc_id, lang, {red} AS tr, CAST({n} AS INT) AS nr "
        "FROM surv) "
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(CASE WHEN nr > 0 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_docs_with_pii, "
        "CAST(sum(nr) AS BIGINT) AS total_redactions, "
        "CAST(sum(length(tr)) AS BIGINT) AS sum_release_chars "
        "FROM red GROUP BY lang"
    )


@q("pipeline_release_stats", _release_stats_sql())
def _pipeline_release_stats(spark, sf_dir):
    """The corpus-release back-end as ONE lazy Catalyst plan:
    normalized dedup (exact_dedup_normalized winners — case /
    punctuation / whitespace copies collapse) → PII redaction over the
    survivors → per-language release census (docs, docs with PII,
    redaction count, released characters). The dedup is the only keyed
    exchange; redaction and the census ride the survivor scan, and
    every aggregate is integer-exact cross-engine."""
    docs = _docs(spark, sf_dir)
    winners = pdedup.exact_dedup_normalized(docs).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    surv = docs.join(winners, "doc_id", "left_semi")
    red = ptext.pii_redact(_pii_augment(surv))
    return (
        red.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("n_redactions") > 0, 1).otherwise(0)
            ).cast("bigint").alias("n_docs_with_pii"),
            F.sum("n_redactions").cast("bigint").alias("total_redactions"),
            F.sum(F.length("text_redacted")).cast("bigint").alias(
                "sum_release_chars"
            ),
        )
    )


# --- round 7: text → embedding bridge ---------------------------------------

_HS_D = (
    r"list_transform(regexp_split_to_array(trim(text), '\s+'), "
    f"t -> {md5_int_duck('t')} % 64)"
)
_TFE_V_D = (
    "list_transform(range(0, 64), "
    "b -> CAST(len(list_filter(hs, x -> x = b)) AS DOUBLE))"
)


@q(
    "text_feature_embedding",
    f"WITH h AS (SELECT doc_id, {_HS_D} AS hs FROM documents) "
    "SELECT doc_id, CAST(r.b AS INT) AS dim, "
    "CAST(len(list_filter(hs, x -> x = r.b)) AS DOUBLE) AS v "
    "FROM h, range(0, 64) r(b)",
)
def _text_feature_embedding(spark, sf_dir):
    """Hashing-trick bag-of-tokens featurizer (pipeline/text.py:
    text_feature_embedding) — md5-bucketed token counts as a dim-64
    vector, zero exchanges, the LET idiom guarding the 64× HOF
    re-evaluation trap. Gate compares the vector element-wise via
    posexplode (scalar rows hash deterministically; integer counts are
    exact cross-engine)."""
    emb = ptext.text_feature_embedding(_docs(spark, sf_dir))
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("dim", "v")
    )


@q(
    "text_content_topk",
    f"WITH h AS (SELECT doc_id, {_HS_D} AS hs FROM documents), "
    f"v AS (SELECT doc_id, {_TFE_V_D} AS emb FROM h), "
    "q AS (SELECT doc_id AS query_id, emb AS q_emb FROM v WHERE doc_id < 8), "
    "scored AS (SELECT q.query_id, e.doc_id AS neighbor_id, "
    f"{_duck_cosine('q.q_emb', 'e.emb')} AS cosine "
    "FROM v e CROSS JOIN q WHERE e.doc_id != q.query_id) "
    + _TOPK_TAIL,
)
def _text_content_topk(spark, sf_dir):
    """Content-based nearest documents END-TO-END from raw text:
    text_feature_embedding → brute_force_topk — the model-free
    "similar documents" query (near-dup triage, related-content
    lookup) composed from the text and similarity families in one
    lazy plan. Rank-based on purpose: the generated corpus's dense
    vocabulary makes absolute cosine thresholds noisy (natural p50
    0.71, max 0.999 at sf0.01 — measured), while ranks with the
    neighbor_id tie-break are bit-stable cross-engine."""
    emb = ptext.text_feature_embedding(_docs(spark, sf_dir)).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    return psim.brute_force_topk(
        emb, emb.where(F.col("vec_id") < 8), k=5
    )


@q(
    "text_content_ann",
    f"WITH h AS (SELECT doc_id, {_HS_D} AS hs FROM documents), "
    f"v AS (SELECT doc_id, {_TFE_V_D} AS emb FROM h), "
    f"c AS (SELECT doc_id AS vec_id, emb AS embedding, "
    f"{lsh_bucket_sql('emb')} AS bucket FROM v), "
    "q0 AS (SELECT doc_id AS query_id, emb AS q_emb, "
    f"{lsh_bucket_sql('emb')} AS b0 FROM v WHERE doc_id < 8), "
    f"q AS (SELECT query_id, q_emb, xor(b0, m) AS bucket "
    f"FROM q0, unnest({_PROBE_MASKS}) t(m)), "
    "scored AS (SELECT q.query_id, c.vec_id AS neighbor_id, "
    f"{_duck_cosine('q.q_emb', 'c.embedding')} AS cosine "
    "FROM c JOIN q ON c.bucket = q.bucket WHERE c.vec_id != q.query_id) "
    + _TOPK_TAIL,
)
def _text_content_ann(spark, sf_dir):
    """The 100 TB serving shape of text_content_topk: featurize →
    LSH-bucketed ANN (multi-probe) instead of brute force — corpus
    bucketing rides the featurize scan, candidates come from a
    broadcast bucket equi-join, and only bucket-mates are cosine-
    reranked. Same end-to-end bridge, candidate-bounded at scale."""
    emb = ptext.text_feature_embedding(_docs(spark, sf_dir)).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    return psim.lsh_bucket_ann(
        emb, emb.where(F.col("vec_id") < 8), k=5
    )


def _script_census_sql() -> str:
    cols = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_{name}"
        for name, pat in ptext.SCRIPT_CLASSES.items()
    )
    mx = "greatest(" + ", ".join(
        f"n_{n}" for n in ptext.SCRIPT_CLASSES
    ) + ")"
    whens = " ".join(
        f"WHEN n_{n} = {mx} THEN '{n}'" for n in ptext.SCRIPT_CLASSES
    )
    return (
        f"SELECT doc_id, n_{', n_'.join(ptext.SCRIPT_CLASSES)}, "
        f"CASE WHEN {mx} > 0 THEN (CASE {whens} END) ELSE 'none' END "
        "AS dominant_script "
        f"FROM (SELECT doc_id, {cols} FROM documents)"
    )


# the fixture text is pure ASCII (dominant 'latin' for all 500 docs,
# measured) — union four literal multi-script documents per residue so
# every class counts non-zero and the dominance CASE takes every branch
_SCRIPT_PLANT = (
    "SELECT doc_id + 1000000 AS doc_id, CASE doc_id % 4 "
    "WHEN 0 THEN '中文漢字 1984' WHEN 1 THEN 'Привет мир' "
    "WHEN 2 THEN '한국어 텍스트' ELSE 'こんにちは カタカナ' END AS text "
    "FROM documents WHERE doc_id < 8"
)


@q(
    "script_census",
    _script_census_sql().replace(
        "FROM documents)",
        f"FROM (SELECT doc_id, text FROM documents UNION ALL {_SCRIPT_PLANT}))",
    ),
)
def _script_census(spark, sf_dir):
    """Unicode-script census + dominant script (pipeline/text.py:
    script_census) — literal-codepoint range classes so the SAME
    pattern string runs in Java regex and RE2 with no escape-dialect
    or Unicode-property divergence; one codegen regexp_count per
    class, zero exchanges. Dominant-script ties resolve to the first
    class in SCRIPT_CLASSES order on both engines. Gate input unions
    8 planted multi-script docs (the fixture is pure ASCII) so every
    class and every dominance branch is exercised for real."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    plant = (
        docs.where(F.col("doc_id") < 8)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.when(F.col("doc_id") % 4 == 0, F.lit("中文漢字 1984"))
            .when(F.col("doc_id") % 4 == 1, F.lit("Привет мир"))
            .when(F.col("doc_id") % 4 == 2, F.lit("한국어 텍스트"))
            .otherwise(F.lit("こんにちは カタカナ"))
            .alias("text"),
        )
    )
    return ptext.script_census(docs.unionByName(plant))


@q(
    "multimodal_audio_features",
    values_oracle_sql("multimodal_audio_features"),
)
def _multimodal_audio_features(spark, sf_dir):
    """Frequency-domain audio features (pipeline/multimodal.py:
    audio_spectral_features): rFFT dominant frequency / centroid /
    rolloff / band-energy fractions over the REAL stdlib-WAV payloads
    — the audio sibling of multimodal_image_features. The planted
    sine's frequency (110·(1+doc_id%32) Hz) must surface as
    dominant_freq_hz, which the pytest pins to within one FFT bin.
    Fixed-value oracle (deterministic synth + rFFT, double-run
    checked at capture)."""
    from .pipeline.multimodal import attach_wav_audio, audio_spectral_features

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 128)
    out = audio_spectral_features(attach_wav_audio(docs))
    cols = ["dominant_freq_hz", "spectral_centroid_hz",
            "spectral_rolloff_hz"] + [f"band_frac_{b}" for b in range(4)]
    return out.select(
        "doc_id", *[F.round(c, 7).alias(c) for c in cols]
    )


@q(
    "decontaminate_semantic_lsh",
    f"WITH c AS (SELECT vec_id, label, embedding, "
    f"{lsh_bucket_sql('embedding')} AS b FROM embeddings), "
    "q0 AS (SELECT embedding AS q_emb, "
    f"{lsh_bucket_sql('embedding')} AS b0 FROM embeddings WHERE vec_id < 8), "
    f"q AS (SELECT DISTINCT q_emb, xor(b0, m) AS b "
    f"FROM q0, unnest({_PROBE_MASKS}) t(m)), "
    "hits AS (SELECT DISTINCT c.vec_id FROM c JOIN q ON c.b = q.b "
    f"WHERE {_duck_cosine('c.embedding', 'q.q_emb')} >= {_EMB_DUP_THRESHOLD}) "
    "SELECT e.vec_id, e.label FROM embeddings e "
    "WHERE e.vec_id NOT IN (SELECT vec_id FROM hits)",
)
def _decontaminate_semantic_lsh(spark, sf_dir):
    """The large-eval-set scale path (pipeline/similarity.py:
    decontaminate_semantic_lsh): LSH-bucket both sides, cosine-score
    only bucket-mates, anti-join the hit ids — candidate-bounded where
    the exact form is |corpus|×|eval|. Approximate by design; the
    oracle mirrors the same bucketing so the gate pins the
    approximation's exact output."""
    e = _embs(spark, sf_dir)
    return psim.decontaminate_semantic_lsh(
        e, e.where(F.col("vec_id") < 8), threshold=_EMB_DUP_THRESHOLD
    ).select("vec_id", "label")


@q(
    "csv_roundtrip",
    f"SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
    f"CAST(sum(len({_TOKS_D})) AS BIGINT) AS sum_tokens, "
    "CAST(min(md5(text)) AS VARCHAR) AS min_text_md5 "
    "FROM documents GROUP BY lang",
)
def _csv_roundtrip(spark, sf_dir):
    """CSV source/sink fidelity (sources/jsonl.py: write_documents_csv
    / load_documents_csv): the documents table round-trips through
    gzip RFC-4180 CSV (doubled-quote escaping, multiLine read) and the
    census — counts, char/token sums, an md5 witness of the text bytes
    — must equal the parquet original, same discipline as
    jsonl_roundtrip. A quoting/escaping bug anywhere in the write→read
    path shifts the hash."""
    import shutil
    import tempfile

    from .sources.jsonl import load_documents_csv, write_documents_csv

    work = tempfile.mkdtemp(prefix="csv_gate_")
    try:
        write_documents_csv(_docs(spark, sf_dir), f"{work}/docs")
        back = load_documents_csv(spark, f"{work}/docs")
        census = back.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.size(F.split(F.trim("text"), r"\s+")).cast("bigint")).alias(
                "sum_tokens"
            ),
            F.min(F.md5("text")).alias("min_text_md5"),
        )
        rows = census.collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, census.schema)


# old = the full fixture; new = the fixture minus every 10th doc, with
# every 7th surviving doc's text revised and a fresh tail of ids
# appended — derived identically on both engines so the delta exercises
# all four classes (added / removed / changed / unchanged) for real
_DELTA_OLD = "SELECT doc_id, text FROM documents"
_DELTA_NEW = (
    "SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' (rev 2)' "
    "ELSE text END AS text FROM documents WHERE doc_id % 10 != 0 "
    "UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 5"
)


@q(
    "corpus_delta",
    f"WITH o AS (SELECT doc_id, md5(text) AS h_old FROM ({_DELTA_OLD})), "
    f"n AS (SELECT doc_id, md5(text) AS h_new FROM ({_DELTA_NEW})), "
    "j AS (SELECT CASE WHEN o.doc_id IS NULL THEN 'added' "
    "WHEN n.doc_id IS NULL THEN 'removed' "
    "WHEN h_old = h_new THEN 'unchanged' ELSE 'changed' END AS status "
    "FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id) "
    "SELECT status, CAST(count(*) AS BIGINT) AS n_docs "
    "FROM j GROUP BY status",
)
def _corpus_delta(spark, sf_dir):
    """Release-to-release corpus diff (pipeline/dedup.py: corpus_delta)
    — added/removed/changed/unchanged census by content hash; one
    co-partitioned (doc_id, hash) full-outer join, text never moves.
    Gate derives two synthetic versions from the fixture (docs removed,
    revised, and appended with identical SQL on both engines) so all
    four classes count non-zero."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    old = docs
    revised = docs.where(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" (rev 2)"))
        ).otherwise(F.col("text")).alias("text"),
    )
    appended = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    return pdedup.corpus_delta(old, revised.unionByName(appended))


_BUDGET_TOKENS = 12000  # ~44% of the sf0.01 corpus — forces a real cutoff


@q(
    "select_token_budget",
    f"WITH s AS ({_classifier_score_sql()}), "
    f"t AS (SELECT doc_id, CAST(len({_TOKS_D}) AS BIGINT) AS n_tokens "
    "FROM documents), "
    "j AS (SELECT s.doc_id, s.margin_fp, t.n_tokens, "
    "CAST((s.margin_fp - ((s.margin_fp % 1000 + 1000) % 1000)) / 1000 "
    "AS BIGINT) AS bkt FROM s JOIN t ON s.doc_id = t.doc_id), "
    "o AS (SELECT *, sum(n_tokens) OVER (ORDER BY bkt DESC, doc_id ASC "
    "ROWS UNBOUNDED PRECEDING) AS cum FROM j) "
    "SELECT doc_id, margin_fp, n_tokens FROM o "
    f"WHERE cum <= {_BUDGET_TOKENS}",
)
def _select_token_budget(spark, sf_dir):
    """Data selection under a token budget (pipeline/sampling.py:
    select_token_budget): best-scored documents first until the budget
    is spent — histogram + driver cutoff + one single-bucket window
    instead of the global ordered cumsum the oracle uses (the oracle's
    window IS the scale-killer the operator exists to avoid; at sf0.01
    both forms must agree row-for-row). Budget 12k tokens of the
    fixture's 27k forces a real mid-bucket cutoff."""
    from .pipeline.classifier import quality_classifier_score
    from .pipeline.sampling import select_token_budget

    docs = _docs(spark, sf_dir)
    scored = quality_classifier_score(docs).select("doc_id", "margin_fp")
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias(
            "n_tokens"
        ),
    )
    return select_token_budget(
        scored.join(toks, "doc_id"), budget_tokens=_BUDGET_TOKENS
    )


@q(
    "char_entropy",
    "WITH cs AS (SELECT doc_id, length(text) AS n_chars_exact, "
    "list_filter(string_split(text, ''), c -> c != '') AS c FROM documents) "
    "SELECT doc_id, CAST(n_chars_exact AS BIGINT) AS n_chars_exact, "
    "round(CASE WHEN len(c) = 0 THEN 0.0 ELSE "
    "log2(CAST(len(c) AS DOUBLE)) - list_aggregate(list_transform("
    "list_sort(list_distinct(c)), "
    "d -> CAST(len(list_filter(c, x -> x = d)) AS DOUBLE) * "
    "log2(CAST(len(list_filter(c, x -> x = d)) AS DOUBLE))), 'sum') "
    "/ CAST(len(c) AS DOUBLE) END, 7) AS entropy_bits FROM cs",
)
def _char_entropy(spark, sf_dir):
    """Shannon character entropy (pipeline/text.py: char_entropy) —
    the gibberish/repetition quality signal. Distinct chars fold in
    SORTED order on both engines so the float sum is order-identical;
    round-to-7 absorbs log2's last-ulp libm difference. Zero
    exchanges."""
    out = ptext.char_entropy(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_chars_exact").cast("bigint").alias("n_chars_exact"),
        F.round("entropy_bits", 7).alias("entropy_bits"),
    )


# the fixture's sources are perfectly uniform (25 docs each at sf0.01,
# measured) — every keep_rate would be exactly 1 and the gate would
# prove nothing; skew the gate input deterministically. The residue
# must be CO-PRIME with the source assignment (source = src{doc_id%20}:
# a %4 filter deletes whole sources and the rest stay uniform) — %7
# thins each source by a varying 3-4 docs, so rates split for real
_DOM_SKEW = "(doc_id % 7 != 0 OR source = 'src0')"


@q(
    "temperature_sample_domains",
    f"WITH d0 AS (SELECT * FROM documents WHERE {_DOM_SKEW}), "
    "c AS (SELECT source, count(*) AS n FROM d0 GROUP BY source), "
    "m AS (SELECT min(n) AS n_min FROM c), "
    "r AS (SELECT source, sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE)) "
    "AS keep_rate FROM c, m) "
    "SELECT d.doc_id, d.lang, d.source, r.keep_rate "
    f"FROM d0 d JOIN r USING (source) WHERE {_PRI_U_D} < r.keep_rate",
)
def _temperature_sample_domains(spark, sf_dir):
    """Pile-style domain rebalancing (pipeline/sampling.py:
    temperature_sample_by on `source`): identical engine-exact sqrt
    keep-rate rule and identical plan as the language variant — tiny
    census, broadcast rates, scan-speed filter, zero corpus shuffles.
    Gate input is deterministically skewed (the fixture's sources are
    uniform, which would make every keep_rate exactly 1)."""
    from .pipeline.sampling import temperature_sample_by

    skewed = _docs(spark, sf_dir).where(
        (F.col("doc_id") % 7 != 0) | (F.col("source") == "src0")
    )
    return temperature_sample_by(skewed, "source")


def _datasheet_sql() -> str:
    any_pii = " OR ".join(
        f"len(regexp_extract_all(text, '{pat}')) > 0"
        for pat in ptext.PII_PATTERNS.values()
    )
    return (
        "SELECT CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(count(DISTINCT lang) AS BIGINT) AS n_langs, "
        "CAST(count(DISTINCT source) AS BIGINT) AS n_sources, "
        f"CAST(sum(len({_TOKS_D})) AS BIGINT) AS total_tokens, "
        "CAST(sum(length(text)) AS BIGINT) AS total_chars, "
        "CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) "
        "AS n_exact_dup_docs, "
        f"CAST(sum(CASE WHEN {any_pii} THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_docs_with_pii "
        "FROM documents"
    )


@q("corpus_datasheet", _datasheet_sql())
def _corpus_datasheet(spark, sf_dir):
    """Datasheet-for-datasets census (pipeline/text.py:
    corpus_datasheet): 7 release metrics in ONE fused scan +
    aggregation — size, diversity, volume, exact-dup count, PII
    incidence; all integer-exact. (Unlike the redaction gates this
    reports the RAW fixture truth — zero PII, zero dups — which is
    itself the correct datasheet for this corpus.)"""
    return ptext.corpus_datasheet(_docs(spark, sf_dir))


_BM25_QUERY_TERMS = ["filter", "hash", "join", "scan"]  # sorted


def _bm25_sql() -> str:
    # mirrors bm25_scores' arithmetic SHAPE exactly; idf/avgdl come out
    # of the same integer stats, ln/÷ go through the same libm, and the
    # per-term fixed-point floor happens BEFORE the per-doc sum so the
    # aggregate is order-free integer addition. Constant literals ride
    # string-casts (the plane-literal lesson).
    k1p1, k1, omb, bb = "CAST('2.2' AS DOUBLE)", "CAST('1.2' AS DOUBLE)", \
        "CAST('0.25' AS DOUBLE)", "CAST('0.75' AS DOUBLE)"
    tf_cols = ", ".join(
        f"len(list_filter(tk, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(_BM25_QUERY_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(_BM25_QUERY_TERMS))
    )
    idf = {
        i: f"ln(1.0 + (s.n - s.df_{i} + 0.5) / (s.df_{i} + 0.5))"
        for i in range(len(_BM25_QUERY_TERMS))
    }
    contribs = " + ".join(
        f"CAST(floor(({idf[i]}) * (CAST(tf_{i} AS DOUBLE) * {k1p1} / "
        f"(CAST(tf_{i} AS DOUBLE) + {k1} * ({omb} + {bb} * "
        "CAST(dl AS DOUBLE) / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n AS DOUBLE))"
        f"))) * 1000000000.0 + 0.5) AS BIGINT)"
        for i in range(len(_BM25_QUERY_TERMS))
    )
    return (
        "WITH t AS (SELECT doc_id, "
        "regexp_split_to_array(trim(lower(text)), '\\s+') AS tk "
        "FROM documents), "
        f"p AS (SELECT doc_id, len(tk) AS dl, {tf_cols} FROM t), "
        f"s0 AS (SELECT count(*) AS n, sum(dl) AS sum_dl, {df_cols} FROM p) "
        f"SELECT p.doc_id, {contribs} AS bm25_fp FROM p, s0 s"
    )


@q("bm25_scores", _bm25_sql())
def _bm25_scores(spark, sf_dir):
    """BM25 lexical retrieval scoring (pipeline/text.py: bm25_scores)
    for the fixed query 'filter hash join scan'. Spark computes idf as
    PYTHON-libm literals from a tiny collected stats row (k×1 driver
    round-trip, the query-compile pattern), DuckDB computes ln inline —
    same libm on this host, and the 1e-9 fixed-point floor before the
    per-doc sum makes the aggregate order-free either way."""
    return ptext.bm25_scores(
        _docs(spark, sf_dir), query=" ".join(_BM25_QUERY_TERMS)
    )


@q(
    "event_top_paths",
    f"WITH e AS (SELECT * FROM {_EV_US}), "
    "s AS (SELECT user_id, ts, event_id, event_type, "
    "CASE WHEN lag(ts) OVER w IS NULL OR "
    "(epoch_us(ts) - epoch_us(lag(ts) OVER w)) > 1800000000 "
    "THEN 1 ELSE 0 END AS brk FROM e "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
    "s2 AS (SELECT *, sum(brk) OVER (PARTITION BY user_id "
    "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
    "AS sess FROM s), "
    "p AS (SELECT user_id, sess, array_to_string("
    "(list(event_type ORDER BY ts, event_id))[1:8], '>') AS path "
    "FROM s2 GROUP BY user_id, sess) "
    "SELECT path, CAST(count(*) AS BIGINT) AS n_sessions FROM p "
    "GROUP BY path ORDER BY n_sessions DESC, path LIMIT 10",
)
def _event_top_paths(spark, sf_dir):
    """Top-10 session navigation paths (pipeline/events.py:
    top_session_paths): ordered event-type sequences per 30-min-gap
    session, capped at 8 steps. collect_list order is pinned by
    sorting (µs, event_id, type) structs — the same total order the
    DuckDB list(... ORDER BY ts, event_id) uses — and the top-k
    tie-breaks on the path string. One user-keyed shuffle + a tiny
    path-count table."""
    from .pipeline.events import top_session_paths

    return top_session_paths(load_table(spark, sf_dir, "events"))


@q(
    "token_length_histogram",
    # DuckDB floor(log2) via digit count: length(bin(n)) - 1, with bin()
    # replicated as to_base(n, 2) — all integer, no float log
    # empty/whitespace-only text counts 0 tokens (split('') is [''] in
    # both engines, so the gate is on trimmed length)
    f"WITH t AS (SELECT CASE WHEN length(trim(text)) = 0 THEN 0 "
    f"ELSE CAST(len({_TOKS_D}) AS BIGINT) END AS n FROM documents), "
    "b AS (SELECT n, CASE WHEN n <= 0 THEN -1 "
    "ELSE CAST(length(to_base(n, 2)) - 1 AS INT) END AS log2_bucket FROM t) "
    "SELECT log2_bucket, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n) AS BIGINT) AS sum_tokens, "
    "CAST(min(n) AS BIGINT) AS min_tokens, "
    "CAST(max(n) AS BIGINT) AS max_tokens "
    "FROM b GROUP BY log2_bucket",
)
def _token_length_histogram(spark, sf_dir):
    """Log2 document-length histogram (pipeline/stats.py:
    token_length_histogram): bucket = binary-digit-count(n_tokens) − 1
    — integer arithmetic on both engines, so power-of-two boundary
    docs can't flip on a float log's last ulp. One scan projection +
    a ≤20-key aggregation."""
    from .pipeline.stats import token_length_histogram

    return token_length_histogram(_docs(spark, sf_dir))


# the fixture has zero duplicate texts, so cross-source overlap is
# planted: a 'mirror' source carrying copies of the first 60 docs, plus
# neighbor-source copies of the first 40 (source = src{doc_id%20}, so
# (doc_id+1)%20 lands the copy in the NEXT source)
_OVL_CORPUS = (
    "SELECT doc_id, text, source FROM documents "
    "UNION ALL SELECT doc_id + 3000000, text, 'mirror' FROM documents "
    "WHERE doc_id < 60 "
    "UNION ALL SELECT doc_id + 4000000, text, "
    "'src' || CAST((doc_id + 1) % 20 AS VARCHAR) FROM documents "
    "WHERE doc_id < 40"
)


@q(
    "source_overlap_matrix",
    f"WITH d AS ({_OVL_CORPUS}), "
    "hs AS (SELECT DISTINCT md5(text) AS h, source FROM d) "
    "SELECT a.source AS src_a, b.source AS src_b, "
    "CAST(count(*) AS BIGINT) AS n_shared_texts "
    "FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source "
    "GROUP BY a.source, b.source",
)
def _source_overlap_matrix(spark, sf_dir):
    """Cross-source verbatim-content overlap (pipeline/stats.py:
    source_overlap_matrix) — the mirror/syndication report. Spark
    collects each hash's distinct source SET in one aggregation and
    expands pairs within it (bounded by |sources|, never a corpus
    self-join); the oracle states the same relation as a (hash,
    source) self-join. Gate input plants a mirror source + neighbor-
    source copies since the fixture has no duplicate texts."""
    from .pipeline.stats import source_overlap_matrix

    docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
    mirror = docs.where(F.col("doc_id") < 60).select(
        (F.col("doc_id") + 3000000).alias("doc_id"), "text",
        F.lit("mirror").alias("source"),
    )
    neigh = docs.where(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 4000000).alias("doc_id"), "text",
        F.concat(
            F.lit("src"), ((F.col("doc_id") + 1) % 20).cast("string")
        ).alias("source"),
    )
    return source_overlap_matrix(docs.unionByName(mirror).unionByName(neigh))


# containment gate corpus: plant 30 substantial excerpts (first 220
# chars — a large fraction of the ~300-char fixture docs, so Jaccard
# keeps band-collision probability high; TINY excerpts are out of this
# operator's stated recall regime, see the dedup.py docstring)
_CONT_CORPUS = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 5000000, substring(text, 1, 220) "
    "FROM documents WHERE doc_id < 30"
)


@q(
    "shingle_containment_pairs",
    f"WITH d AS ({_CONT_CORPUS}), "
    + _SIG_CTE.replace("FROM documents", "FROM d")
    + f", {_BANDED_CTE}, {_CAND_CTE}, "
    f"shg AS (SELECT doc_id, {_SHINGLES_D} AS sh FROM d) "
    "SELECT c.doc_a, c.doc_b, "
    "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
    "CAST(least(len(a.sh), len(b.sh)) AS DOUBLE) AS containment "
    "FROM cand c JOIN shg a ON c.doc_a = a.doc_id "
    "JOIN shg b ON c.doc_b = b.doc_id "
    "WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / "
    "CAST(least(len(a.sh), len(b.sh)) AS DOUBLE) >= 0.8",
)
def _shingle_containment_pairs(spark, sf_dir):
    """Asymmetric containment near-dup pairs (pipeline/dedup.py:
    shingle_containment_pairs): LSH-banded candidates (pinned
    bands=LSH_BANDS oracle mode), exact array_intersect containment
    verify — |A∩B|/min(|A|,|B|) is an integer ratio, cross-engine
    exact. Gate plants 30 substantial excerpts (220 of ~300 chars)
    whose Jaccard keeps them inside the banding's recall regime."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    excerpts = docs.where(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.substring("text", 1, 220).alias("text"),
    )
    return pdedup.shingle_containment_pairs(
        docs.unionByName(excerpts), containment_threshold=0.8,
        bands=LSH_BANDS,
    )


_U_SPLIT = (
    "CAST(('0x' || substring(md5(concat('split0', CAST(doc_id AS VARCHAR))), "
    "1, 7)) AS BIGINT) / 268435456.0"
)


@q(
    "train_split_census",
    f"SELECT lang, CASE WHEN {_U_SPLIT} < 0.9 THEN 'train' "
    f"WHEN {_U_SPLIT} < 0.95 THEN 'val' ELSE 'test' END AS split, "
    "CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS total_chars "
    "FROM documents GROUP BY 1, 2",
)
def _train_split_census(spark, sf_dir):
    """Deterministic train/val/test split (pipeline/sampling.py:
    assign_splits — md5-uniform against CUMULATIVE bounds, stable
    across runs/engines/corpus growth) censused per (lang, split).
    The uniform and the 0.9/0.95 bound literals are written identically
    in both engines; counts and char sums are exact integers."""
    from .pipeline.sampling import assign_splits

    docs = _docs(spark, sf_dir)
    return (
        assign_splits(docs, salt="split0")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@q(
    "event_session_type_pairs",
    f"WITH {_SESS_CTES}, "
    "t AS (SELECT DISTINCT user_id, sess, event_type FROM s2) "
    "SELECT a.event_type AS type_a, b.event_type AS type_b, "
    "CAST(count(*) AS BIGINT) AS n_sessions "
    "FROM t a JOIN t b ON a.user_id = b.user_id AND a.sess = b.sess "
    "AND a.event_type < b.event_type "
    "GROUP BY a.event_type, b.event_type",
)
def _event_session_type_pairs(spark, sf_dir):
    """Session-level event-type co-occurrence support
    (pipeline/events.py: session_type_pairs): the association-mining
    table. Session labeling shares `_SESS_CTES` with event_sessionize
    (one definition, no rule drift); each session collapses to its
    distinct sorted type set and pairs expand inside that ≤5-element
    array — never a corpus self-join. Counts are exact integers."""
    from .pipeline.events import session_type_pairs

    return session_type_pairs(load_table(spark, sf_dir, "events"))


# leakage gate corpus: plant 60 VERBATIM copies — exact duplicates match
# every LSH band under any banding (recall 1 by construction), and the
# hash-based split assigns each copy independently of its original, so
# a deterministic subset of the planted pairs straddles splits
_LEAK_CORPUS = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 5000000, text FROM documents WHERE doc_id < 60"
)
_SPLIT_CASE = (
    f"CASE WHEN {_U_SPLIT} < 0.9 THEN 'train' "
    f"WHEN {_U_SPLIT} < 0.95 THEN 'val' ELSE 'test' END"
)


@q(
    "split_leakage_report",
    f"WITH d AS ({_LEAK_CORPUS}), "
    + _SIG_CTE.replace("FROM documents", "FROM d")
    + f", {_BANDED_CTE}, {_CAND_CTE}, "
    f"p AS (SELECT doc_a, doc_b FROM ("
    f"SELECT c.doc_a, c.doc_b, {_EST_EXPR} AS est FROM cand c "
    "JOIN sig sa ON sa.doc_id = c.doc_a "
    "JOIN sig sb ON sb.doc_id = c.doc_b) WHERE est >= 0.8), "
    f"sp AS (SELECT doc_id, {_SPLIT_CASE} AS split FROM d) "
    "SELECT least(a.split, b.split) AS split_a, "
    "greatest(a.split, b.split) AS split_b, "
    "CAST(count(*) AS BIGINT) AS n_pairs "
    "FROM p JOIN sp a ON p.doc_a = a.doc_id "
    "JOIN sp b ON p.doc_b = b.doc_id "
    "GROUP BY least(a.split, b.split), greatest(a.split, b.split)",
)
def _split_leakage_report(spark, sf_dir):
    """Cross-split near-dup leakage census (pipeline/dedup.py:
    split_leakage_report over pipeline/sampling.py: assign_splits):
    near-dup pairs decorated with each endpoint's hash-assigned split,
    censused per unordered split pair — off-diagonal rows are eval
    leakage. Oracle mode pins bands=LSH_BANDS; the gate plants 60
    verbatim copies (J=1 matches every band, so planted recall is 1)
    whose split assignments are independent of their originals."""
    from .pipeline.sampling import assign_splits

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    plants = docs.where(F.col("doc_id") < 60).select(
        (F.col("doc_id") + 5000000).alias("doc_id"), "text"
    )
    corpus = assign_splits(docs.unionByName(plants), salt="split0")
    return pdedup.split_leakage_report(
        corpus, jaccard_threshold=0.8, bands=LSH_BANDS
    )


_PR_EDGES = (
    "items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
    "e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, "
    "CAST(count(*) AS BIGINT) AS w FROM items a "
    "JOIN items b ON a.l_orderkey = b.l_orderkey "
    "AND a.l_partkey <> b.l_partkey GROUP BY 1, 2), "
    "deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS d FROM e GROUP BY src), "
    "nodes AS (SELECT src AS pk FROM e UNION SELECT dst FROM e)"
)


def _pr_round(prev: str, out: str) -> str:
    """One unrolled integer-PageRank round as DuckDB CTEs — the same
    (r·85·w) // (100·d) floor-division arithmetic as
    pipeline/graph.py:pagerank_integer, so scores match bit-for-bit.
    Mirrors the full-node-universe retention: a node with no in-edges
    holds PR_BASE and keeps contributing (on the symmetric co-purchase
    fixture this coincides with the dst-only form, so values are
    unchanged; on general digraphs it is the correct semantics)."""
    return (
        f"{out}c AS (SELECT e.dst, "
        f"CAST(sum((r.r * 85 * e.w) // (100 * deg.d)) AS BIGINT) AS s "
        f"FROM e JOIN {prev} r ON e.src = r.pk "
        "JOIN deg ON deg.src = e.src GROUP BY e.dst), "
        f"{out} AS (SELECT n.pk, "
        f"CAST(150000 + coalesce(c.s, 0) AS BIGINT) AS r "
        f"FROM nodes n LEFT JOIN {out}c c ON c.dst = n.pk)"
    )


_PR_SQL = (
    f"WITH {_PR_EDGES}, "
    "r0 AS (SELECT pk, CAST(1000000 AS BIGINT) AS r FROM nodes), "
    + _pr_round("r0", "r1") + ", "
    + _pr_round("r1", "r2") + ", "
    + _pr_round("r2", "r3") + " "
    "SELECT pk AS part_key, r AS score FROM r3 "
    "ORDER BY r DESC, pk LIMIT 20"
)


@q("copurchase_pagerank", _PR_SQL)
def _copurchase_pagerank(spark, sf_dir):
    """Top-20 parts by damped co-purchase centrality (pipeline/graph.py:
    pagerank_integer over copurchase_edges): 3 fixed rounds of integer
    micro-unit PageRank — (r·85·w) DIV (100·deg) floor division, so the
    unrolled DuckDB CTE twin reproduces every score exactly. Edges from
    per-order pair expansion (bounded by order size², never corpus²);
    oracle mode pins the broadcast join path (each round broadcasts the
    |parts|-sized rank table into the edge join — right for item graphs
    where |V| ≪ |E|)."""
    from .pipeline.graph import _pagerank, copurchase_edges

    li = load_table(spark, sf_dir, "lineitem")
    ranks = _pagerank(copurchase_edges(li), 3, broadcast=True)
    return (
        ranks.select(F.col("pk").alias("part_key"), F.col("r").alias("score"))
        .orderBy(F.desc("score"), F.asc("part_key"))
        .limit(20)
    )


@q("copurchase_pagerank_shuffle", _PR_SQL)
def _copurchase_pagerank_shuffle(spark, sf_dir):
    """The broadcast-exceeding-|V| PageRank path (pipeline/graph.py:
    pagerank_integer's above-PR_BROADCAST_MAX_NODES regime, pinned
    here at fixture scale): edges hash-partitioned by src
    once, each round shuffle-joins only the |V|-sized rank table — the
    plan a billion-node graph needs, where a rank-table broadcast would
    blow the executor. Integer micro-unit arithmetic makes the two
    physical paths bit-identical, so this row shares the broadcast
    row's unrolled-CTE oracle — engine agreement here IS the parity
    proof at driver level (pytest pins it on an asymmetric digraph
    too)."""
    from .pipeline.graph import _pagerank, copurchase_edges

    li = load_table(spark, sf_dir, "lineitem")
    ranks = _pagerank(copurchase_edges(li), 3, broadcast=False)
    return (
        ranks.select(F.col("pk").alias("part_key"), F.col("r").alias("score"))
        .orderBy(F.desc("score"), F.asc("part_key"))
        .limit(20)
    )


_BUDGETS_BY = {"src0": 800, "src1": 2000, "src2": 600, "src3": 0}
_BUDGET_CASE = (
    "CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 2000 "
    "WHEN 'src2' THEN 600 ELSE 0 END"
)


@q(
    "select_token_budget_by",
    f"WITH s AS ({_classifier_score_sql()}), "
    f"t AS (SELECT doc_id, source, CAST(len({_TOKS_D}) AS BIGINT) AS n_tokens "
    "FROM documents), "
    "j AS (SELECT s.doc_id, t.source, s.margin_fp, t.n_tokens, "
    "CAST((s.margin_fp - ((s.margin_fp % 1000 + 1000) % 1000)) / 1000 "
    "AS BIGINT) AS bkt FROM s JOIN t ON s.doc_id = t.doc_id), "
    "o AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source "
    "ORDER BY bkt DESC, doc_id ASC ROWS UNBOUNDED PRECEDING) AS cum FROM j) "
    "SELECT doc_id, source, margin_fp, n_tokens FROM o "
    f"WHERE cum <= {_BUDGET_CASE}",
)
def _select_token_budget_by(spark, sf_dir):
    """Per-domain budgeted selection (pipeline/sampling.py:
    select_token_budget_by): every domain gets its own token allowance
    — src0/src2 force mid-bucket cutoffs, src1's budget swallows it
    whole, src3 is explicitly zero, and the 16 unlisted sources drop —
    all four budget classes exercised in one gate row. The oracle's
    per-group windowed cumsum is provably the same prefix (monotone
    running sums); the operator's histogram + group-parallel cutoff
    windows are the scale form."""
    from .pipeline.classifier import quality_classifier_score
    from .pipeline.sampling import select_token_budget_by

    docs = _docs(spark, sf_dir)
    scored = quality_classifier_score(docs).select("doc_id", "margin_fp")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias(
            "n_tokens"
        ),
    )
    return select_token_budget_by(
        scored.join(toks, "doc_id").select(
            "doc_id", "source", "margin_fp", "n_tokens"
        ),
        budgets=_BUDGETS_BY,
    )


def _lpa_round(prev: str, out: str) -> str:
    """One unrolled deterministic-LPA round as DuckDB CTEs — same
    weight-argmax with (w DESC, label ASC) tie-break as
    pipeline/graph.py:label_propagation, including the full-universe
    carry-forward (a voteless node keeps its previous label)."""
    return (
        f"{out}v AS (SELECT e.dst, l.label, CAST(sum(e.w) AS BIGINT) AS ws "
        f"FROM e JOIN {prev} l ON e.src = l.pk GROUP BY 1, 2), "
        f"{out}t AS (SELECT dst, label FROM ("
        f"SELECT dst, label, row_number() OVER (PARTITION BY dst "
        f"ORDER BY ws DESC, label ASC) AS rn FROM {out}v) WHERE rn = 1), "
        f"{out} AS (SELECT p.pk, coalesce(t.label, p.label) AS label "
        f"FROM {prev} p LEFT JOIN {out}t t ON t.dst = p.pk)"
    )


@q(
    "copurchase_communities",
    f"WITH {_PR_EDGES}, "
    "l0 AS (SELECT pk, pk AS label FROM nodes), "
    + _lpa_round("l0", "l1") + ", "
    + _lpa_round("l1", "l2") + ", "
    + _lpa_round("l2", "l3") + " "
    "SELECT label, CAST(count(*) AS BIGINT) AS n_members "
    "FROM l3 GROUP BY label",
)
def _copurchase_communities(spark, sf_dir):
    """Deterministic label-propagation communities over the co-purchase
    graph (pipeline/graph.py: label_propagation — synchronous rounds,
    greatest incident weight wins, ties to the smallest label, so the
    run is a pure function of the edge set), censused per community.
    The oracle unrolls the same 3 rounds as CTEs with the identical
    (w DESC, label ASC) argmax window."""
    from .pipeline.graph import copurchase_edges, label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    labels = label_propagation(copurchase_edges(li), iterations=3)
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members")
    )


@q(
    "copurchase_triangles",
    f"WITH {_PR_EDGES}, "
    "ud AS (SELECT src AS a, dst AS b FROM e WHERE src < dst) "
    "SELECT CAST(count(*) AS BIGINT) AS n_triangles "
    "FROM ud e1 JOIN ud e2 ON e2.a = e1.a AND e2.b > e1.b "
    "JOIN ud e3 ON e3.a = e1.b AND e3.b = e2.b",
)
def _copurchase_triangles(spark, sf_dir):
    """Global triangle count over the co-purchase graph
    (pipeline/graph.py: triangle_count): the Spark side runs the
    degree-ORIENTED wedge algorithm (out-lists bounded by O(sqrt E), so
    the wedge join totals O(E^1.5) — the distributed discipline); the
    oracle states the same exact integer via the naive a<b<c triple
    join, affordable at sf0.01. Engine-agreement here proves the
    oriented rewrite counts every triangle exactly once."""
    from .pipeline.graph import copurchase_edges, triangle_count

    li = load_table(spark, sf_dir, "lineitem")
    return triangle_count(copurchase_edges(li))


@q(
    "copurchase_related_parts",
    f"WITH {_PR_EDGES} "
    "SELECT src, dst, score, rank FROM ("
    "SELECT e.src, e.dst, "
    "CAST(e.w * e.w AS DOUBLE) / CAST(da.d * db.d AS DOUBLE) AS score, "
    "CAST(row_number() OVER (PARTITION BY e.src "
    "ORDER BY CAST(e.w * e.w AS DOUBLE) / CAST(da.d * db.d AS DOUBLE) DESC, "
    "e.dst ASC) AS INT) AS rank "
    "FROM e JOIN deg da ON da.src = e.src JOIN deg db ON db.src = e.dst) "
    "WHERE rank <= 5",
)
def _copurchase_related_parts(spark, sf_dir):
    """Item-item collaborative filtering (pipeline/graph.py:
    related_items): top-5 co-purchase neighbors per part by cosine
    association w²/(deg·deg). The score is ONE correctly-rounded IEEE
    division of exact integers — identical in any engine, no float
    sums — and ties break on the neighbor id, so the top-k edge is
    deterministic. Two broadcast degree joins + one src-partitioned
    window; output bounded |V|·k."""
    from .pipeline.graph import copurchase_edges, related_items

    li = load_table(spark, sf_dir, "lineitem")
    return related_items(copurchase_edges(li), k=5)


def _phash_corpus(spark, sf_dir):
    """Cross-codec near-dup fixture: 64 PNGs (seeds 0..63) plus 16
    JPEGs re-encoding the SAME synthetic content as seeds 0..15 under
    ids 100..115 — byte-level dedup can never pair a PNG with its JPEG
    twin; the perceptual hash is exactly the operator that can."""
    from .pipeline.multimodal import attach_jpeg_images, attach_png_images

    docs = _docs(spark, sf_dir).select("doc_id")
    pngs = attach_png_images(docs.where(F.col("doc_id") < 64))
    jpgs = attach_jpeg_images(docs.where(F.col("doc_id") < 16)).withColumn(
        "doc_id", F.col("doc_id") + 100
    )
    return pngs.unionByName(jpgs)


@q("multimodal_image_phash", values_oracle_sql("multimodal_image_phash"))
def _multimodal_image_phash(spark, sf_dir):
    """64-bit perceptual hash (pipeline/multimodal.py: image_phash —
    decode → 32×32 gray → 2-D DCT → 8×8 low-frequency block → median
    threshold) over the cross-codec corpus, shipped as four 16-bit
    band ints. Fixed-value oracle (double-run bit-stability checked at
    capture); the bit pattern's BLAS stability comes from the
    round-to-7 before the median compare."""
    from .pipeline.multimodal import image_phash

    return image_phash(_phash_corpus(spark, sf_dir))


# threshold-derived banding (pipeline/multimodal.py:phash_band_slices):
# imported, not copied, so the oracle's banding can't drift from the
# engine's — max(max_hamming+1, 4) near-equal bit-slices of the hash,
# pigeonhole-complete at the verify threshold
from .pipeline.multimodal import (
    phash_band_slices as _ph_slices,
    phash_band_value_sql as _ph_bv,
)


def _ph_bands_cte(max_hamming: int, src: str = "p") -> str:
    return (
        "b AS ("
        + " UNION ALL ".join(
            f"SELECT doc_id, {i} AS bi, {_ph_bv(s, w, '//')} AS bv "
            f"FROM {src}"
            for i, (s, w) in enumerate(_ph_slices(max_hamming))
        )
        + ")"
    )


_PH_HAMMING = " + ".join(
    f"bit_count(xor(pa.ph{i}, pb.ph{i}))" for i in range(4)
)


@q(
    "multimodal_phash_near_dup",
    "WITH p AS (" + values_oracle_sql("multimodal_image_phash") + "), "
    f"{_ph_bands_cte(10)}, "
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b "
    "FROM b a JOIN b b2 ON a.bi = b2.bi AND a.bv = b2.bv "
    "AND a.doc_id < b2.doc_id) "
    f"SELECT c.doc_a, c.doc_b, CAST({_PH_HAMMING} AS INT) AS hamming "
    "FROM cand c JOIN p pa ON c.doc_a = pa.doc_id "
    "JOIN p pb ON c.doc_b = pb.doc_id "
    f"WHERE {_PH_HAMMING} <= 10",
)
def _multimodal_phash_near_dup(spark, sf_dir):
    """Cross-codec image near-dup pairs (pipeline/multimodal.py:
    phash_near_dup_pairs): band-bucket candidates over threshold-derived
    bit-slice bands (≥ max_hamming+1 bands → pigeonhole-complete recall at
    the verify threshold; never all-pairs), exact integer Hamming
    verify — the oracle runs the SAME banding + bit_count(xor)
    relational logic in DuckDB over the pinned phash fixture, so this
    row checks real cross-engine logic, not a snapshot. The planted
    JPEG re-encodes pair with their PNG twins at small Hamming
    distance; unrelated seeds stay apart."""
    from .pipeline.multimodal import image_phash, phash_near_dup_pairs

    return phash_near_dup_pairs(
        image_phash(_phash_corpus(spark, sf_dir)), max_hamming=10
    )


# recall-tier plant for the pHash detector: md5-derived 64-bit base
# hashes (SQL-expressible in both engines), planted copies XORed with
# fixed masks of popcount 0 / 4 / 8 / 12 spread across all four words —
# tiers 0/4/8 sit INSIDE the max_hamming=10 guarantee (pigeonhole says
# recall 1, so n_found = n_planted is a theorem the row pins), tier 12
# sits beyond the verify threshold (n_found = 0).
_PH_TIER_MASKS = [
    (0, 0, 0, 0),
    (0x0001, 0x0010, 0x0100, 0x1000),  # popcount 4
    (0x0003, 0x0030, 0x0300, 0x3000),  # popcount 8
    (0x0007, 0x0070, 0x0700, 0x7000),  # popcount 12
]
_PH_BASE_D = ", ".join(
    f"CAST(('0x' || substring(md5(text), {4 * i + 1}, 4)) AS INT) AS ph{i}"
    for i in range(4)
)


def _ph_mask_case_d(word: int) -> str:
    m = _PH_TIER_MASKS
    return (
        f"CASE doc_id % 4 WHEN 0 THEN {m[0][word]} WHEN 1 THEN "
        f"{m[1][word]} WHEN 2 THEN {m[2][word]} ELSE {m[3][word]} END"
    )


@q(
    "phash_recall_tiers",
    f"WITH base AS (SELECT doc_id, {_PH_BASE_D} FROM documents), "
    "p AS (SELECT doc_id, ph0, ph1, ph2, ph3 FROM base UNION ALL "
    "SELECT doc_id + 8000000, "
    + ", ".join(
        f"CAST(xor(ph{i}, {_ph_mask_case_d(i)}) AS INT)" for i in range(4)
    )
    + " FROM base WHERE doc_id < 40), "
    f"{_ph_bands_cte(10)}, "
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b "
    "FROM b a JOIN b b2 ON a.bi = b2.bi AND a.bv = b2.bv "
    "AND a.doc_id < b2.doc_id), "
    "v AS (SELECT c.doc_a, c.doc_b FROM cand c "
    "JOIN p pa ON c.doc_a = pa.doc_id "
    "JOIN p pb ON c.doc_b = pb.doc_id "
    f"WHERE {_PH_HAMMING} <= 10), "
    "f AS (SELECT CAST(doc_a % 4 AS INT) AS tier, "
    "CAST(count(*) AS BIGINT) AS n_found FROM v "
    "WHERE doc_b - doc_a = 8000000 AND doc_a < 40 GROUP BY 1), "
    "t AS (SELECT CAST(doc_id % 4 AS INT) AS tier, "
    "CAST(count(*) AS BIGINT) AS n_planted FROM documents "
    "WHERE doc_id < 40 GROUP BY 1) "
    "SELECT t.tier, t.n_planted, "
    "CAST(coalesce(f.n_found, 0) AS BIGINT) AS n_found "
    "FROM t LEFT JOIN f ON t.tier = f.tier",
)
def _phash_recall_tiers(spark, sf_dir):
    """Empirical recall of the pHash near-dup detector pinned per
    Hamming tier (the minhash_recall_tiers pattern, round-8 VERDICT
    item 2): 40 planted copies at exact distances 0/4/8/12 from their
    md5-derived base hashes. Distances ≤ 10 are INSIDE the pigeonhole
    guarantee of the threshold-derived banding, so full recall is a
    theorem this row turns into a gated value (the old fixed 4×16-bit
    banding measured 15/16 on the cross-codec plant); distance 12 is
    beyond the verify threshold, so zero. Entirely static SQL — both
    engines build the same hashes, plants, bands, and verification."""
    from .pipeline.multimodal import phash_near_dup_pairs

    docs = _docs(spark, sf_dir)
    ph = [
        F.expr(
            f"CAST(conv(substring(md5(text), {4 * i + 1}, 4), 16, 10) AS INT)"
        ).alias(f"ph{i}")
        for i in range(4)
    ]
    base = docs.select("doc_id", *ph)
    m = _PH_TIER_MASKS

    def _mask_case(word: int):
        return F.expr(
            f"CASE doc_id % 4 WHEN 0 THEN {m[0][word]} WHEN 1 THEN "
            f"{m[1][word]} WHEN 2 THEN {m[2][word]} ELSE {m[3][word]} END"
        )

    plants = base.where(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 8000000).alias("doc_id"),
        *[
            (F.col(f"ph{i}").bitwiseXOR(_mask_case(i)))
            .cast("int")
            .alias(f"ph{i}")
            for i in range(4)
        ],
    )
    pairs = phash_near_dup_pairs(
        base.unionByName(plants), max_hamming=10
    )
    found = (
        pairs.where(
            ((F.col("doc_b") - F.col("doc_a")) == 8000000)
            & (F.col("doc_a") < 40)
        )
        .groupBy((F.col("doc_a") % 4).cast("int").alias("tier"))
        .agg(F.count(F.lit(1)).alias("n_found"))
    )
    tiers = base.where(F.col("doc_id") < 40).groupBy(
        (F.col("doc_id") % 4).cast("int").alias("tier")
    ).agg(F.count(F.lit(1)).alias("n_planted"))
    return tiers.join(found, "tier", "left").select(
        "tier",
        "n_planted",
        F.coalesce(F.col("n_found"), F.lit(0)).cast("bigint").alias("n_found"),
    )


# recall-tier plant: keep the first P% of each text and REVERSE the
# tail — shared prefix P gives character-shingle Jaccard ~ P/(2-P)
# (P=100 -> 1.0, 90 -> ~.82, 75 -> ~.60, 50 -> ~.33), so the four
# tiers straddle the banding s-curve and the row pins empirical recall
# per tier the way ann_recall pins ANN recall.
_RT_KF = ("(CASE doc_id % 4 WHEN 0 THEN 100 WHEN 1 THEN 90 "
          "WHEN 2 THEN 75 ELSE 50 END)")
_RT_CUT = f"((length(text) * {_RT_KF}) // 100)"
_RT_CORPUS = (
    "SELECT doc_id, text FROM documents UNION ALL "
    f"SELECT doc_id + 7000000, concat(substring(text, 1, {_RT_CUT}), "
    f"reverse(substring(text, {_RT_CUT} + 1, length(text)))) "
    "FROM documents WHERE doc_id < 40"
)


@q(
    "minhash_recall_tiers",
    f"WITH d AS ({_RT_CORPUS}), "
    + _SIG_CTE.replace("FROM documents", "FROM d")
    + f", {_BANDED_CTE}, {_CAND_CTE}, "
    f"p AS (SELECT doc_a, doc_b FROM (SELECT c.doc_a, c.doc_b, "
    f"{_EST_EXPR} AS est FROM cand c "
    "JOIN sig sa ON sa.doc_id = c.doc_a "
    "JOIN sig sb ON sb.doc_id = c.doc_b) WHERE est >= 0.5), "
    "f AS (SELECT CAST(doc_a % 4 AS INT) AS tier, "
    "CAST(count(*) AS BIGINT) AS n_found FROM p "
    "WHERE doc_b - doc_a = 7000000 AND doc_a < 40 GROUP BY 1), "
    "t AS (SELECT CAST(doc_id % 4 AS INT) AS tier, "
    "CAST(count(*) AS BIGINT) AS n_planted FROM documents "
    "WHERE doc_id < 40 GROUP BY 1) "
    "SELECT t.tier, t.n_planted, "
    "CAST(coalesce(f.n_found, 0) AS BIGINT) AS n_found "
    "FROM t LEFT JOIN f ON t.tier = f.tier",
)
def _minhash_recall_tiers(spark, sf_dir):
    """Empirical recall of the banded-minhash pair detector, pinned per
    Jaccard tier (the dedup family's ann_recall): 40 plants keep the
    first P% of their source text and reverse the tail (shared-prefix
    Jaccard ~ P/(2-P)), tiers P = 100/90/75/50 straddling the s-curve
    at threshold 0.5 under the pinned oracle banding. A refactor that
    silently tanks candidate recall (hash mixing, banding, shingle
    width) flips the found-counts and fails the hash — recall becomes
    a GATED property, not a hope. Entirely static SQL: both engines
    build the same plants, the same signatures, the same pairs."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    base = docs.where(F.col("doc_id") < 40)
    kf = F.expr("CASE doc_id % 4 WHEN 0 THEN 100 WHEN 1 THEN 90 "
                "WHEN 2 THEN 75 ELSE 50 END")
    cut = F.expr("(length(text) * (CASE doc_id % 4 WHEN 0 THEN 100 "
                 "WHEN 1 THEN 90 WHEN 2 THEN 75 ELSE 50 END)) DIV 100")
    plants = base.select(
        (F.col("doc_id") + 7000000).alias("doc_id"),
        F.concat(
            F.expr("substring(text, 1, (length(text) * (CASE doc_id % 4 "
                   "WHEN 0 THEN 100 WHEN 1 THEN 90 WHEN 2 THEN 75 "
                   "ELSE 50 END)) DIV 100)"),
            F.expr("reverse(substring(text, ((length(text) * (CASE doc_id % 4 "
                   "WHEN 0 THEN 100 WHEN 1 THEN 90 WHEN 2 THEN 75 "
                   "ELSE 50 END)) DIV 100) + 1, length(text)))"),
        ).alias("text"),
    )
    pairs = pdedup.minhash_lsh_pairs(
        docs.unionByName(plants), jaccard_threshold=0.5, bands=LSH_BANDS
    )
    found = (
        pairs.where(
            ((F.col("doc_b") - F.col("doc_a")) == 7000000)
            & (F.col("doc_a") < 40)
        )
        .groupBy((F.col("doc_a") % 4).cast("int").alias("tier"))
        .agg(F.count(F.lit(1)).alias("n_found"))
    )
    tiers = base.groupBy(
        (F.col("doc_id") % 4).cast("int").alias("tier")
    ).agg(F.count(F.lit(1)).alias("n_planted"))
    return tiers.join(found, "tier", "left").select(
        "tier",
        "n_planted",
        F.coalesce(F.col("n_found"), F.lit(0)).cast("bigint").alias("n_found"),
    )


@q(
    "event_funnel_windowed",
    f"WITH e AS (SELECT * FROM {_EV_US}), "
    "s0 AS (SELECT user_id, min(epoch_us(ts)) AS t FROM e "
    "WHERE event_type = 'view' GROUP BY user_id), "
    "s1 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM e JOIN s0 "
    "ON e.user_id = s0.user_id AND epoch_us(e.ts) > s0.t "
    "AND epoch_us(e.ts) - s0.t <= 86400000000 "
    "WHERE event_type = 'click' GROUP BY e.user_id), "
    "s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM e JOIN s1 "
    "ON e.user_id = s1.user_id AND epoch_us(e.ts) > s1.t "
    "AND epoch_us(e.ts) - s1.t <= 86400000000 "
    "WHERE event_type = 'purchase' GROUP BY e.user_id) "
    "SELECT 0 AS step_idx, 'view' AS step, CAST(count(*) AS BIGINT) "
    "AS n_users FROM s0 "
    "UNION ALL SELECT 1, 'click', CAST(count(*) AS BIGINT) FROM s1 "
    "UNION ALL SELECT 2, 'purchase', CAST(count(*) AS BIGINT) FROM s2",
)
def _event_funnel_windowed(spark, sf_dir):
    """Time-bounded first-touch funnel view→click→purchase within 24 h
    per step (pipeline/events.py: funnel_conversion_windowed): the
    "converted within N hours" question — an eventual-but-late step no
    longer counts, so counts are ≤ the unbounded funnel's (the fixture
    actually loses users at both gated steps). Exact integer-µs
    deadline arithmetic; same user-keyed monotone-shrinking plan as
    event_funnel."""
    from .pipeline.events import funnel_conversion_windowed

    return funnel_conversion_windowed(
        load_table(spark, sf_dir, "events"),
        steps=["view", "click", "purchase"],
        within_hours=24,
    )


@q(
    "event_weekly_stickiness",
    f"WITH e AS (SELECT * FROM {_EV_US}), "
    "d AS (SELECT date_trunc('week', ts) AS week, date_trunc('day', ts) "
    "AS day, count(DISTINCT user_id) AS dau FROM e GROUP BY 1, 2), "
    "w AS (SELECT date_trunc('week', ts) AS week, "
    "CAST(count(DISTINCT user_id) AS BIGINT) AS wau FROM e GROUP BY 1) "
    "SELECT w.week, CAST(count(*) AS BIGINT) AS n_days, "
    "CAST(sum(d.dau) AS BIGINT) AS sum_dau, w.wau, "
    "CAST(sum(d.dau) AS DOUBLE) / CAST(count(*) * w.wau AS DOUBLE) "
    "AS stickiness "
    "FROM d JOIN w ON d.week = w.week GROUP BY w.week, w.wau",
)
def _event_weekly_stickiness(spark, sf_dir):
    """Weekly DAU/WAU stickiness (pipeline/events.py:
    weekly_stickiness): sum of daily distinct actives over
    n_days·weekly actives — integers up to ONE correctly-rounded
    division, engine-identical; ISO-Monday week boundaries agree
    across engines. Calendar-bounded aggregation keys."""
    from .pipeline.events import weekly_stickiness

    return weekly_stickiness(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Round 9: training-batch assembly completeness
# ---------------------------------------------------------------------------

@q(
    "pack_token_ids_spans",
    # same tokenizer/shard/offset arithmetic as the pack_token_ids
    # oracle, at DOCUMENT granularity (counts only)
    f"WITH t AS (SELECT doc_id, {_TOKS_D.replace('text', 'lower(text)')} AS toks "
    "FROM documents WHERE doc_id % 7 = 0), "
    "n0 AS (SELECT doc_id, CAST(len(toks) + 1 AS BIGINT) AS n FROM t "
    "WHERE len(toks) > 0), "
    f"sh AS (SELECT doc_id, {_PACK_SHARD_D} AS shard, n FROM n0), "
    "off AS (SELECT *, CAST(coalesce(sum(n) OVER (PARTITION BY shard "
    "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
    "AS BIGINT) AS o FROM sh), "
    "sp AS (SELECT shard, doc_id, o, n, "
    "unnest(range(o // 64, (o + n - 1) // 64 + 1)) AS s FROM off) "
    "SELECT CAST(shard AS INT) AS shard, CAST(s AS BIGINT) AS seq_id, "
    "doc_id, CAST(greatest(o - s * 64, 0) AS BIGINT) AS start, "
    "CAST(least(o + n, (s + 1) * 64) - greatest(o, s * 64) AS BIGINT) "
    "AS len FROM sp",
)
def _pack_token_ids_spans(spark, sf_dir):
    """Document-boundary spans of the packed token stream
    (pipeline/sampling.py: pack_token_ids_spans) — the attention/loss
    mask metadata beside pack_token_ids' tensor: (shard, seq_id,
    doc_id, start, len), spans tiling each sequence exactly.
    Tokenization contributes per-doc COUNTS only, so the token stream
    never materializes; one count aggregation + the shard-bounded
    offsets window + a per-doc explode over touched sequences."""
    from .pipeline.sampling import pack_token_ids_spans

    docs = _docs(spark, sf_dir)
    vocab = ptext.vocab_with_ids(docs, k=_VOCAB_K)
    return pack_token_ids_spans(
        docs.where(F.col("doc_id") % 7 == 0), vocab,
        oov_id=_VOCAB_K, seq_len=64, n_shards=8,
    )


@q(
    "mix_epochs",
    "WITH e AS (SELECT doc_id, source, CASE source "
    "WHEN 'src0' THEN CAST(2.25 AS DOUBLE) "
    "WHEN 'src1' THEN CAST(1.5 AS DOUBLE) "
    "WHEN 'src2' THEN CAST(0.25 AS DOUBLE) "
    "WHEN 'src3' THEN CAST(0.0 AS DOUBLE) "
    "ELSE CAST(1.0 AS DOUBLE) END AS e FROM documents), "
    f"n AS (SELECT doc_id, source, CAST(floor(e) AS BIGINT) + "
    f"CASE WHEN {_U_D} < e - floor(e) THEN 1 ELSE 0 END AS k FROM e) "
    "SELECT doc_id, source, CAST(unnest(range(0, k)) AS BIGINT) AS copy "
    "FROM n WHERE k > 0",
)
def _mix_epochs(spark, sf_dir):
    """Epoch-weighted source mixing (pipeline/sampling.py: mix_epochs):
    floor(e) copies per doc + one more when the deterministic
    md5-uniform falls below frac(e) — expected group volume exactly
    e·|g|, decisions pure functions of (doc_id, salt) so corpus growth
    never flips a copy count. Dyadic epoch factors (2.25/1.5/0.25/0)
    keep the threshold compare engine-exact; the recipe exercises
    upsampling, fractional, sub-1, and drop classes in one row. Zero
    exchanges — a literal CASE + one pipelined explode."""
    from .pipeline.sampling import mix_epochs

    return mix_epochs(
        _docs(spark, sf_dir),
        {"src0": 2.25, "src1": 1.5, "src2": 0.25, "src3": 0.0},
        by="source",
    )


@q(
    "token_fertility_stats",
    f"SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    f"CAST(sum({_NTOK_D}) AS BIGINT) AS n_ws_tokens, "
    f"CAST(sum(len(regexp_extract_all(text, '{ptext.BPE_SPLIT_RE}'))) "
    "AS BIGINT) AS n_bpe_pieces, "
    "CAST(sum(length(text)) AS BIGINT) AS n_chars, "
    f"CAST(sum(len(regexp_extract_all(text, '{ptext.BPE_SPLIT_RE}'))) "
    f"AS DOUBLE) / CAST(sum({_NTOK_D}) AS DOUBLE) AS fertility, "
    "CAST(sum(length(text)) AS DOUBLE) / "
    f"CAST(sum(len(regexp_extract_all(text, '{ptext.BPE_SPLIT_RE}'))) "
    "AS DOUBLE) AS chars_per_piece "
    "FROM documents GROUP BY lang",
)
def _token_fertility_stats(spark, sf_dir):
    """Per-language tokenizer fertility census (pipeline/text.py:
    token_fertility_stats): subword pieces per whitespace word +
    chars per piece — the multilingual tokenizer-efficiency report.
    Integer sums up to ONE correctly-rounded IEEE division each;
    zero-exchange scan projection + a |langs|-keyed aggregation."""
    return ptext.token_fertility_stats(_docs(spark, sf_dir))
