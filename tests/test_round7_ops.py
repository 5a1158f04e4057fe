"""Round-7 additions: semantic decontamination, PII redaction, and
normalized ("fuzzy-exact") dedup."""

from pyspark.sql import functions as F


def _embs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_decontaminate_semantic_drops_near_eval_vectors(spark):
    from openeo_odc_driver_spark.pipeline.similarity import (
        decontaminate_semantic,
    )

    corpus = _embs(
        spark,
        [
            (0, [1.0, 0.0, 0.0]),  # exact copy of eval 100
            (1, [0.99, 0.1, 0.0]),  # near-dup of eval 100 (cos ~0.995)
            (2, [0.0, 1.0, 0.0]),  # orthogonal — survives
            (3, [0.0, 0.0, -1.0]),  # anti-parallel to eval 101 — survives
            (4, [-2.0, 0.0, 0.0]),  # negative cosine to eval 100 — survives
        ],
    )
    evalset = _embs(spark, [(100, [2.0, 0.0, 0.0]), (101, [0.0, 0.0, 1.0])])
    kept = sorted(
        r.vec_id
        for r in decontaminate_semantic(corpus, evalset, 0.9).collect()
    )
    assert kept == [2, 3, 4]


def test_decontaminate_semantic_keeps_zero_norm_vectors(spark):
    """A zero vector has NULL cosine to everything — the NULL predicate
    must not match (mirrors the oracle's NOT IN over a hits set)."""
    from openeo_odc_driver_spark.pipeline.similarity import (
        decontaminate_semantic,
    )

    corpus = _embs(spark, [(0, [0.0, 0.0]), (1, [1.0, 0.0])])
    evalset = _embs(spark, [(100, [1.0, 0.0])])
    kept = sorted(
        r.vec_id
        for r in decontaminate_semantic(corpus, evalset, 0.9).collect()
    )
    assert kept == [0]


def test_decontaminate_semantic_is_broadcast_anti_no_shuffle(spark):
    """The plan contract: eval broadcasts, the corpus anti-joins in one
    pass with ZERO keyed exchanges — the property that makes the op a
    pure scan at 100 TB."""
    import re

    from openeo_odc_driver_spark.pipeline.similarity import (
        decontaminate_semantic,
    )

    corpus = _embs(spark, [(i, [float(i), 1.0]) for i in range(10)])
    evalset = _embs(spark, [(100, [1.0, 1.0])])
    plan = (
        decontaminate_semantic(corpus, evalset, 0.9)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan and "LeftAnti" in plan
    assert not re.findall(
        r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
        plan,
    )


def test_pii_redact_replaces_all_patterns(spark):
    from openeo_odc_driver_spark.pipeline.text import pii_redact

    docs = spark.createDataFrame(
        [
            (0, "mail a@b.co and c.d@e.org twice"),
            (1, "call 555-123-4567 from 10.0.0.1"),
            (2, "clean text, nothing to redact"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pii_redact(docs).collect()}
    assert rows[0].text_redacted == "mail <EMAIL> and <EMAIL> twice"
    assert rows[0].n_redactions == 2
    assert rows[1].text_redacted == "call <PHONE> from <IPV4>"
    assert rows[1].n_redactions == 2
    assert rows[2].text_redacted == "clean text, nothing to redact"
    assert rows[2].n_redactions == 0


def test_pii_redact_counts_come_from_original_text(spark):
    """Sequential replacement must not double-count: the <EMAIL>
    placeholder the first pass writes is not itself a later match, and
    n_redactions is the original-text census either way."""
    from openeo_odc_driver_spark.pipeline.text import pii_redact

    docs = spark.createDataFrame(
        [(0, "x@y.io at 1.2.3.4")], "doc_id long, text string"
    )
    r = pii_redact(docs).collect()[0]
    assert r.text_redacted == "<EMAIL> at <IPV4>"
    assert r.n_redactions == 2


def test_normalize_for_dedup_key(spark):
    from openeo_odc_driver_spark.pipeline.dedup import normalize_for_dedup

    docs = spark.createDataFrame(
        [(0, "  Hello,   World! "), (1, "hello world"), (2, "HELLO-WORLD")],
        "doc_id long, text string",
    )
    keys = [
        r.k
        for r in docs.select(normalize_for_dedup().alias("k"))
        .orderBy("doc_id")
        .collect()
    ]
    assert keys == ["hello world"] * 3


def test_exact_dedup_normalized_collapses_recased_copies(spark):
    from openeo_odc_driver_spark.pipeline.dedup import exact_dedup_normalized

    docs = spark.createDataFrame(
        [
            (5, "The Quick Brown Fox."),
            (9, "the quick   brown fox"),
            (2, "THE QUICK BROWN FOX!!!"),
            (7, "a different document"),
        ],
        "doc_id long, text string",
    )
    got = {r.keep_doc_id: r.n_copies for r in exact_dedup_normalized(docs).collect()}
    assert got == {2: 3, 7: 1}


def test_exact_dedup_normalized_single_aggregate_plan(spark):
    """Same plan class as exact_dedup: ONE hash-aggregate exchange,
    nothing pairwise."""
    import re

    from openeo_odc_driver_spark.pipeline.dedup import exact_dedup_normalized

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], "doc_id long, text string"
    )
    plan = (
        exact_dedup_normalized(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n = len(
        re.findall(
            r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
            plan,
        )
    )
    assert n == 1


def test_streaming_pii_redact_equals_batch(spark, tmp_path):
    """pii_redact is stateless, so the streamed output must equal the
    batch projection row for row — the swap-batch-for-continuous
    guarantee, and the regression pin that ensure_min_parallelism
    stays streaming-safe (no .rdd probe on an unstarted stream)."""
    from openeo_odc_driver_spark.pipeline.text import pii_redact

    docs = spark.createDataFrame(
        [
            (0, "mail a@b.co now"),
            (1, "call 555-123-4567"),
            (2, "clean"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).format("parquet").load(src)
    qy = (
        pii_redact(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_pii_stream")
        .start()
    )
    try:
        qy.processAllAvailable()
    finally:
        qy.stop()
    got = {
        r.doc_id: (r.text_redacted, r.n_redactions)
        for r in spark.table("t_pii_stream").collect()
    }
    want = {
        r.doc_id: (r.text_redacted, r.n_redactions)
        for r in pii_redact(docs).collect()
    }
    assert got == want


def _adversarial_texts():
    """Dialect-stress corpus for the regex-backed ops: boundary shapes,
    near-misses, overlaps, unicode, and whitespace/punctuation salads."""
    base = [
        "",
        " ",
        "a@b.co",
        "a@b.c",  # TLD too short — must NOT match
        "x.y+z%w@sub.domain-1.org trailing",
        "1.2.3.4",
        "999.999.999.999",  # shape-based: still matches
        "1.2.3.4567",  # 4+ digits in last octet — \b cuts at 456|7? no: no match boundary inside digits
        "v1.2.3.40-rc tags",
        "555-123-4567",
        "+555 123 4567",
        "555.123.4567x",
        "a@b.co1.2.3.4",  # email then ipv4, adjacent
        "mail me: first.last@x.io, or 10.0.0.1; else +123-456-7890!",
        "ÜBER Straße ß déjà-vu 中文 text",
        "  TABS\tand\nnewlines\r\nand   runs  ",
        "MiXeD CaSe!!! With??? Punct...",
        "a-b_c.d%e+f@g.hk",
        "@no-local.part.com",
        "no-at-sign.example.com",
        "12@34.56",  # domain all digits, TLD digits — must NOT match
    ]
    # combinatorial salads
    out = list(base)
    for i, a in enumerate(base):
        out.append(f"{a} | {base[(i + 7) % len(base)]} | {i}")
    return [(i, t) for i, t in enumerate(out)]


def test_pii_redact_and_normalize_agree_with_duckdb_on_adversarial_text(
    spark,
):
    """Cross-engine dialect parity where it can actually break: the
    gate rows exercise fixture text, this pins the same expressions on
    boundary-shaped inputs (near-miss emails, 4-digit octets, unicode,
    adjacent matches) — Spark's Java regex vs DuckDB's RE2 must agree
    byte-for-byte on every replacement and on the dedup key."""
    import duckdb
    import pandas as pd

    from openeo_odc_driver_spark.pipeline.dedup import normalize_for_dedup
    from openeo_odc_driver_spark.pipeline.text import PII_PATTERNS, pii_redact

    rows = _adversarial_texts()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = (
        pii_redact(docs)
        .join(docs.select("doc_id", normalize_for_dedup().alias("norm_key")), "doc_id")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )

    red = "text"
    for name, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '<{name.upper()}>', 'g')"
    n = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))"
        for pat in PII_PATTERNS.values()
    )
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = con.execute(
        f"SELECT doc_id, {red} AS text_redacted, CAST({n} AS INT) AS n_redactions, "
        r"trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), "
        r"'\s+', ' ', 'g')) AS norm_key FROM t ORDER BY doc_id"
    ).df()
    for col in ("text_redacted", "n_redactions", "norm_key"):
        assert list(got[col]) == list(want[col]), col


def test_pii_redact_is_a_fixed_point(spark):
    """Redacting already-redacted text changes nothing: placeholders
    contain no digits or @, so no pattern can re-match — the guarantee
    that makes the op safe to re-run over a partially-processed
    corpus."""
    from openeo_odc_driver_spark.pipeline.text import pii_redact

    docs = spark.createDataFrame(
        _adversarial_texts(), "doc_id long, text string"
    )
    once = pii_redact(docs).select(
        "doc_id", F.col("text_redacted").alias("text")
    )
    twice = pii_redact(once)
    changed = twice.where(F.col("text_redacted") != F.col("text")).count()
    assert changed == 0
    assert twice.where(F.col("n_redactions") != 0).count() == 0


def test_normalize_for_dedup_is_idempotent(spark):
    from openeo_odc_driver_spark.pipeline.dedup import normalize_for_dedup

    docs = spark.createDataFrame(
        _adversarial_texts(), "doc_id long, text string"
    )
    staged = docs.select(
        "doc_id", normalize_for_dedup().alias("text")
    )
    again = staged.select("doc_id", normalize_for_dedup().alias("text2"), "text")
    assert again.where(F.col("text2") != F.col("text")).count() == 0


def test_text_feature_embedding_counts_and_plan(spark):
    """The hashing-trick vector is a per-bucket token census (total =
    token count), identical texts get identical vectors, and the plan
    has ZERO exchanges — pure scan-fused array arithmetic."""
    import re

    from openeo_odc_driver_spark.pipeline.text import text_feature_embedding

    docs = spark.createDataFrame(
        [(0, "a b c a"), (1, "a b c a"), (2, "totally different words")],
        "doc_id long, text string",
    )
    emb = text_feature_embedding(docs, dim=16)
    rows = {r.doc_id: r.embedding for r in emb.collect()}
    assert sum(rows[0]) == 4.0 and sum(rows[2]) == 3.0
    assert rows[0] == rows[1]
    assert rows[0] != rows[2]
    plan = emb._jdf.queryExecution().executedPlan().toString()
    assert not re.findall(
        r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition)",
        plan,
    )


def test_text_content_topk_finds_planted_copy(spark):
    """The bridge composition: a document's verbatim copy is its
    nearest content neighbor (cosine 1.0, rank 1) via
    text_feature_embedding → brute_force_topk."""
    from pyspark.sql import functions as F

    from openeo_odc_driver_spark.pipeline.similarity import brute_force_topk
    from openeo_odc_driver_spark.pipeline.text import text_feature_embedding

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (50, "the quick brown fox jumps over the lazy dog"),
            (1, "pack my box with five dozen liquor jugs"),
            (2, "sphinx of black quartz judge my vow"),
        ],
        "doc_id long, text string",
    )
    emb = text_feature_embedding(docs).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    top = brute_force_topk(emb, emb.where(F.col("vec_id") == 0), k=1).collect()
    assert len(top) == 1
    assert top[0].neighbor_id == 50
    assert abs(top[0].cosine - 1.0) < 1e-12


def test_script_census_counts_and_dominance(spark):
    from openeo_odc_driver_spark.pipeline.text import script_census

    docs = spark.createDataFrame(
        [
            (0, "plain ascii words 123"),
            (1, "中文漢字中文"),
            (2, "Привет мир"),
            (3, "mixed 中文 with latin majority text here"),
            (4, ""),
            (5, "42 17 99"),  # digits only
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in script_census(docs).collect()}
    assert rows[0].dominant_script == "latin" and rows[0].n_digit == 3
    assert rows[1].dominant_script == "han" and rows[1].n_han == 6
    assert rows[2].dominant_script == "cyrillic" and rows[2].n_latin == 0
    assert rows[3].dominant_script == "latin" and rows[3].n_han == 2
    assert rows[4].dominant_script == "none"
    assert rows[5].dominant_script == "digit"


def test_audio_spectral_features_recover_planted_sine(spark):
    """Ground truth, not snapshot: the synth WAV is a seed-pitched sine
    (110·(1+doc_id%32) Hz) over weak noise, so dominant_freq_hz must
    land within one FFT bin (sr/n = 8000/2048 ≈ 3.9 Hz) of the planted
    pitch, and the energy must concentrate in the band containing it."""
    from openeo_odc_driver_spark.pipeline.multimodal import (
        attach_wav_audio,
        audio_spectral_features,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (0, 3, 9, 31)], "doc_id long, text string"
    )
    feats = {
        r.doc_id: r
        for r in audio_spectral_features(attach_wav_audio(docs)).collect()
    }
    bin_hz = 8000.0 / 2048.0
    for i, r in feats.items():
        planted = 110.0 * (1 + i % 32)
        assert abs(r.dominant_freq_hz - planted) <= bin_hz, (i, r)
        band = min(int(planted / (4000.0 / 4)), 3)
        fracs = [r.band_frac_0, r.band_frac_1, r.band_frac_2, r.band_frac_3]
        assert fracs[band] == max(fracs)
        assert abs(sum(fracs) - 1.0) < 1e-9
        assert r.spectral_rolloff_hz >= r.dominant_freq_hz - bin_hz


def test_decontaminate_semantic_lsh_subset_of_exact(spark):
    """The LSH path may only MISS contamination (bucket divergence),
    never invent it: its survivor set is a superset of the exact op's,
    and rows it does drop are exactly-contaminated rows."""
    import numpy as np

    from openeo_odc_driver_spark.pipeline.similarity import (
        decontaminate_semantic,
        decontaminate_semantic_lsh,
    )

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 64)]) for i in range(40)]
    # plant copies of eval vectors 0 and 1 into the corpus
    rows.append((100, rows[0][1]))
    rows.append((101, [v * 2.0 for v in rows[1][1]]))
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    evalset = corpus.where(F.col("vec_id") < 2)
    exact = {
        r.vec_id for r in decontaminate_semantic(corpus, evalset, 0.95).collect()
    }
    lsh = {
        r.vec_id
        for r in decontaminate_semantic_lsh(corpus, evalset, 0.95).collect()
    }
    assert exact <= lsh  # LSH never drops anything exact keeps
    # identical-direction plants share the eval vector's bucket → caught
    assert 100 not in lsh and 101 not in lsh


def test_csv_roundtrip_survives_adversarial_text(spark, tmp_path):
    """RFC-4180 hazards round-trip byte-exactly: embedded quotes,
    separators, newlines (multiLine read), CRLF, unicode, and
    leading/trailing whitespace — the cases a wrong escape/quote
    option silently mangles."""
    from openeo_odc_driver_spark.sources.jsonl import (
        load_documents_csv,
        write_documents_csv,
    )

    rows = [
        (0, 'she said "hi, there"', "en", "s", 20),
        (1, "line one\nline two\r\nline three", "en", "s", 29),
        (2, 'comma, "quoted, comma", done', "fr", "s", 28),
        (3, "  padded  ", "de", "s", 10),
        (4, "中文, with 引号 \"quotes\"\nand newline", "zh", "s", 33),
        (5, "", "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "csv")
    write_documents_csv(docs, path)
    back = load_documents_csv(spark, path)
    got = {r.doc_id: r.text for r in back.collect()}
    assert got == {i: t for i, t, *_ in rows}


def test_csv_roundtrip_distinguishes_null_from_empty(spark, tmp_path):
    from openeo_odc_driver_spark.sources.jsonl import (
        load_documents_csv,
        write_documents_csv,
    )

    docs = spark.createDataFrame(
        [(0, None, "en", "s", 0), (1, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = str(tmp_path / "csvnull")
    write_documents_csv(docs, path)
    got = {r.doc_id: r.text for r in load_documents_csv(spark, path).collect()}
    assert got[0] is None and got[1] == ""


def test_corpus_delta_classifies_all_transitions(spark):
    from openeo_odc_driver_spark.pipeline.dedup import corpus_delta

    old = spark.createDataFrame(
        [(0, "same"), (1, "will change"), (2, "will vanish")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(0, "same"), (1, "changed!"), (3, "brand new")],
        "doc_id long, text string",
    )
    got = {r.status: r.n_docs for r in corpus_delta(old, new).collect()}
    assert got == {"unchanged": 1, "changed": 1, "removed": 1, "added": 1}


def test_select_token_budget_semantics(spark):
    """Prefix-by-quality rule: fill from the best score bucket down,
    cut mid-bucket by doc_id order when the budget crosses."""
    from openeo_odc_driver_spark.pipeline.sampling import select_token_budget

    scored = spark.createDataFrame(
        [
            # bucket 2 (margin 2000-2999): 2 docs, 10 tokens each
            (0, 2500, 10), (1, 2100, 10),
            # bucket 1: three docs of 10 — budget crosses here
            (2, 1500, 10), (3, 1200, 10), (4, 1900, 10),
            # bucket 0: never reached
            (5, 500, 1),
        ],
        "doc_id long, margin_fp long, n_tokens long",
    )
    got = sorted(
        r.doc_id for r in select_token_budget(scored, budget_tokens=45).collect()
    )
    # bucket 2 whole (20), then bucket-1 docs by doc_id: 2 (30), 3 (40);
    # 4 would reach 50 > 45; bucket 0 excluded even though doc 5 fits
    assert got == [0, 1, 2, 3]


def test_select_token_budget_no_global_window(spark):
    """The corpus path must not contain a single-partition global sort
    window — the histogram+cutoff plan confines any window to the one
    cutoff bucket."""
    from openeo_odc_driver_spark.pipeline.sampling import select_token_budget

    scored = spark.createDataFrame(
        [(i, (i % 7) * 1000, 5) for i in range(100)],
        "doc_id long, margin_fp long, n_tokens long",
    )
    out = select_token_budget(scored, budget_tokens=100)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the only window is partitioned by _bkt (the cutoff bucket), never
    # an empty-partition global ordering
    assert "Window" not in plan or "partitionBy" not in plan.lower() or True
    import re
    # stronger check: no SinglePartition exchange feeding a Window
    assert not re.search(r"Exchange SinglePartition[\s\S]{0,400}Window", plan)
    # and the result obeys the budget
    rows = out.collect()
    assert sum(r.n_tokens for r in rows) <= 100


def test_select_token_budget_all_fit(spark):
    from openeo_odc_driver_spark.pipeline.sampling import select_token_budget

    scored = spark.createDataFrame(
        [(0, 100, 5), (1, 200, 5)], "doc_id long, margin_fp long, n_tokens long"
    )
    assert select_token_budget(scored, budget_tokens=1000).count() == 2
    assert select_token_budget(scored, budget_tokens=0).count() == 0


def test_char_entropy_known_values(spark):
    import math

    from openeo_odc_driver_spark.pipeline.text import char_entropy

    docs = spark.createDataFrame(
        [
            (0, "aaaa"),  # 0 bits
            (1, "abab"),  # 1 bit
            (2, "abcd"),  # 2 bits
            (3, ""),  # defined 0
            (4, "mississippi"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.entropy_bits for r in char_entropy(docs).collect()}
    assert got[0] == 0.0
    assert abs(got[1] - 1.0) < 1e-12
    assert abs(got[2] - 2.0) < 1e-12
    assert got[3] == 0.0
    # mississippi: m=1, i=4, s=4, p=2 over n=11
    n = 11
    want = math.log2(n) - sum(
        m * math.log2(m) for m in (1, 4, 4, 2)
    ) / n
    assert abs(got[4] - want) < 1e-12


def test_select_token_budget_matches_reference_randomized(spark):
    """Randomized equivalence vs a straight-line Python reference of
    the prefix rule (order by bucket desc then doc_id; keep while the
    running total fits) — exercises bucket boundaries, negative
    margins, overflowing first buckets, and zero-token docs."""
    import random

    from openeo_odc_driver_spark.pipeline.sampling import select_token_budget

    rng = random.Random(13)
    for trial in range(6):
        n = rng.randint(1, 60)
        rows = [
            (i, rng.randint(-5000, 5000), rng.choice([0, 1, 3, 10, 50]))
            for i in range(n)
        ]
        budget = rng.randint(0, sum(t for *_, t in rows))
        ref, total = [], 0
        for i, m, t in sorted(
            rows, key=lambda r: (-(r[1] - ((r[1] % 1000) + 1000) % 1000) // 1000, r[0])
        ):
            total += t
            if total > budget:
                break
            ref.append(i)
        scored = spark.createDataFrame(
            rows, "doc_id long, margin_fp long, n_tokens long"
        )
        got = sorted(
            r.doc_id
            for r in select_token_budget(scored, budget_tokens=budget).collect()
        )
        assert got == sorted(ref), (trial, budget, rows)


def test_corpus_datasheet_counts(spark):
    """The one-pass census: dup and PII counts come out non-zero on a
    corpus that actually has them (unlike the tame fixture)."""
    from openeo_odc_driver_spark.pipeline.text import corpus_datasheet

    docs = spark.createDataFrame(
        [
            (0, "hello world", "en", "web"),
            (1, "hello world", "en", "books"),  # exact dup of 0
            (2, "mail me at a@b.co", "fr", "web"),
            (3, "clean", "en", "web"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    r = corpus_datasheet(docs).collect()[0]
    assert r.n_docs == 4 and r.n_langs == 2 and r.n_sources == 2
    assert r.n_exact_dup_docs == 1
    assert r.n_docs_with_pii == 1
    assert r.total_tokens == 2 + 2 + 4 + 1


def test_corpus_datasheet_single_aggregation_plan(spark):
    import re

    from openeo_odc_driver_spark.pipeline.text import corpus_datasheet

    docs = spark.createDataFrame(
        [(i, f"doc {i}", "en", "web") for i in range(10)],
        "doc_id long, text string, lang string, source string",
    )
    plan = (
        corpus_datasheet(docs)._jdf.queryExecution().executedPlan().toString()
    )
    # distinct-aggregate expansion costs exchanges, but never a join or
    # a second scan of the corpus
    assert "Join" not in plan
    assert plan.count("Scan") <= 1


def test_bm25_matches_python_reference(spark):
    import math

    from openeo_odc_driver_spark.pipeline.text import bm25_scores

    texts = {
        0: "hash join beats sort merge join",
        1: "scan the table",
        2: "nothing relevant here at all",
        3: "join join join",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {r.doc_id: r.bm25_fp for r in bm25_scores(docs, "join scan").collect()}

    # straight-line reference
    k1, b = 1.2, 0.75
    toks = {i: t.lower().split() for i, t in texts.items()}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    want = {}
    for i, tk in toks.items():
        total = 0
        for term in sorted({"join", "scan"}):
            df = sum(1 for v in toks.values() if term in v)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            tf = tk.count(term)
            c = idf * (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * len(tk) / avgdl)))
            total += math.floor(c * 1e9 + 0.5)
        want[i] = total
    assert got == want
    # relevance sanity: the irrelevant doc scores 0, every hit scores
    # positive, and the rare-term doc ("scan", df=1) outranks the
    # common-term-heavy one — idf working as designed
    assert got[2] == 0
    assert min(got[0], got[1], got[3]) > 0
    assert got[1] == max(got.values())


def test_top_session_paths_order_and_cap(spark):
    from datetime import datetime

    from openeo_odc_driver_spark.pipeline.events import top_session_paths

    t0 = datetime(2024, 1, 1, 12, 0, 0)

    def ev(i, user, minutes, typ):
        return (i, t0.replace(minute=minutes % 60, hour=12 + minutes // 60),
                user, typ, 0.0, "{}")

    rows = [
        # user 1, one session: view > click > purchase (order by ts)
        ev(1, 1, 0, "view"), ev(2, 1, 1, "click"), ev(3, 1, 2, "purchase"),
        # user 2, same path
        ev(4, 2, 0, "view"), ev(5, 2, 1, "click"), ev(6, 2, 2, "purchase"),
        # user 1, a second session 2h later (gap break): single view
        ev(7, 1, 150, "view"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r.path: r.n_sessions for r in top_session_paths(events).collect()}
    assert got == {"view>click>purchase": 2, "view": 1}


def test_predict_curve_is_host_timezone_invariant(spark):
    """A TZ=America/New_York full-gate run caught predict_curve
    shifting: naive datetimes round-trip through OS-local mktime /
    fromtimestamp on the PYTHON side (the JVM session stays pinned
    UTC), so the literal time relation and the t0 epoch used by the
    model moved by the UTC offset. The fix normalizes both provenances
    to UTC labels; this pins it by flipping the process TZ."""
    import os
    import time as _time

    from openeo_odc_driver_spark.operators.curve import (
        fit_curve,
        linear_model,
        predict_curve,
    )
    from openeo_odc_driver_spark.operators.filters import filter_bands
    from openeo_odc_driver_spark.sources.synthetic import synthetic_cube

    def run():
        cube = synthetic_cube(spark)
        params = fit_curve(filter_bands(cube, ["B04"]), linear_model())
        out = predict_curve(params, linear_model(), cube)
        # compare true instants: collected datetimes RENDER in the OS
        # zone (a pyspark display artifact), but .timestamp() recovers
        # the epoch, which must be TZ-invariant
        return sorted(
            (r.band, r.time.timestamp(), r.y, r.x, round(r.value, 9))
            for r in out.df.limit(200).collect()
        )

    old_tz = os.environ.get("TZ")
    try:
        os.environ["TZ"] = "UTC"
        _time.tzset()
        utc_rows = run()
        os.environ["TZ"] = "America/New_York"
        _time.tzset()
        ny_rows = run()
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _time.tzset()
    assert utc_rows == ny_rows


def test_token_length_histogram_buckets(spark):
    """Power-of-two boundaries land in the right bucket (the integer
    digit-count rule this op exists for), empty docs in bucket -1."""
    from openeo_odc_driver_spark.pipeline.stats import token_length_histogram

    texts = {0: "", 1: "a", 2: "a b", 3: "a b c", 4: "a b c d", 5: " ".join(["w"] * 8)}
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {r.log2_bucket: (r.n_docs, r.min_tokens, r.max_tokens)
           for r in token_length_histogram(docs).collect()}
    # split("") is [""] (size 1) in both engines, so empty text is gated
    # on trimmed length and truly counts 0 tokens (round-8 ADVICE fix —
    # previously doc 0 silently counted as a 1-token doc)
    assert got[-1] == (1, 0, 0)         # doc 0: "" -> 0 tokens
    assert got[0] == (1, 1, 1)          # doc 1
    assert got[1] == (2, 2, 3)          # 2 and 3 tokens
    assert got[2] == (1, 4, 4)          # exactly 4 = bucket 2
    assert got[3] == (1, 8, 8)          # exactly 8 = bucket 3


def test_source_overlap_matrix_counts_distinct_shared_texts(spark):
    from openeo_odc_driver_spark.pipeline.stats import source_overlap_matrix

    docs = spark.createDataFrame(
        [
            (0, "shared one", "web"),
            (1, "shared one", "books"),   # web ∩ books
            (2, "shared one", "web"),     # same text again in web: no double count
            (3, "shared two", "web"),
            (4, "shared two", "wiki"),    # web ∩ wiki
            (5, "shared two", "books"),   # books ∩ wiki ∩ web (3-way)
            (6, "unique", "web"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        (r.src_a, r.src_b): r.n_shared_texts
        for r in source_overlap_matrix(docs).collect()
    }
    assert got == {
        ("books", "web"): 2,   # "shared one" and "shared two"
        ("web", "wiki"): 1,
        ("books", "wiki"): 1,
    }


def test_shingle_containment_catches_excerpt_jaccard_misses(spark):
    """An excerpt that is a large fraction of its host scores near-1.0
    containment while its symmetric Jaccard sits far below a dedup
    threshold — the asymmetry this operator exists for."""
    from openeo_odc_driver_spark.pipeline.dedup import (
        minhash_lsh_pairs,
        shingle_containment_pairs,
    )

    host = ("the quick brown fox jumps over the lazy dog while the "
            "cunning red vixen watches from the tall dry grass nearby "
            "and the hunter waits")
    excerpt = host[:100]
    docs = spark.createDataFrame(
        [(0, host), (1, excerpt), (2, "completely unrelated words here")],
        "doc_id long, text string",
    )
    pairs = shingle_containment_pairs(docs, containment_threshold=0.8).collect()
    got = {(r.doc_a, r.doc_b): r.containment for r in pairs}
    assert (0, 1) in got and got[(0, 1)] > 0.95
    assert all(2 not in k for k in got)
    # the same pair under symmetric Jaccard scores FAR lower
    jac = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.05).collect()
    }
    if (0, 1) in jac:
        assert jac[(0, 1)] < got[(0, 1)]


def test_assign_splits_partitions_every_doc_deterministically(spark):
    """Every doc gets exactly one split; assignment is a pure function
    of (doc_id, salt) — rerunning or repartitioning never moves a doc."""
    from openeo_odc_driver_spark.pipeline.sampling import assign_splits

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(200)], "doc_id long, text string"
    )
    a = {r.doc_id: r.split for r in assign_splits(docs).collect()}
    b = {
        r.doc_id: r.split
        for r in assign_splits(docs.repartition(7)).collect()
    }
    assert a == b and len(a) == 200
    assert set(a.values()) == {"train", "val", "test"}
    # cumulative bounds ~ proportions: train should dominate
    n_train = sum(1 for v in a.values() if v == "train")
    assert n_train > 140
    # growing the corpus never reassigns an existing doc
    grown = spark.createDataFrame(
        [(i, f"text {i}") for i in range(400)], "doc_id long, text string"
    )
    g = {r.doc_id: r.split for r in assign_splits(grown).collect()}
    assert all(g[k] == v for k, v in a.items())


def test_assign_splits_rejects_bad_bounds(spark):
    from openeo_odc_driver_spark.pipeline.sampling import assign_splits

    docs = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        assign_splits(docs, bounds=(("a", 0.5), ("b", 0.4), ("c", 1.0)))
    with _pytest.raises(ValueError):
        assign_splits(docs, bounds=(("a", 0.5), ("a", 1.0)))
    with _pytest.raises(ValueError):
        assign_splits(docs, bounds=(("a", 0.5), ("b", 0.9)))


def test_session_type_pairs_counts_cooccurrence_within_sessions(spark):
    """Two sessions for user 1 (split by a >30min gap) and one for
    user 2: pair support counts sessions containing BOTH types, with
    type_a < type_b canonical ordering."""
    from openeo_odc_driver_spark.pipeline.events import session_type_pairs

    rows = [
        # user 1, session A: view + click + view
        (1, "2024-01-01 10:00:00", 1, "view"),
        (1, "2024-01-01 10:05:00", 2, "click"),
        (1, "2024-01-01 10:10:00", 3, "view"),
        # user 1, session B (gap > 30 min): view + purchase
        (1, "2024-01-01 12:00:00", 4, "view"),
        (1, "2024-01-01 12:01:00", 5, "purchase"),
        # user 2, one session: click + purchase + view
        (2, "2024-01-01 10:00:00", 6, "click"),
        (2, "2024-01-01 10:10:00", 7, "purchase"),
        (2, "2024-01-01 10:20:00", 8, "view"),
    ]
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        (r.type_a, r.type_b): r.n_sessions
        for r in session_type_pairs(ev).collect()
    }
    assert got == {
        ("click", "view"): 2,       # user1 session A + user2
        ("purchase", "view"): 2,    # user1 session B + user2
        ("click", "purchase"): 1,   # user2 only
    }


def test_split_leakage_report_finds_cross_split_copies(spark):
    """Verbatim copies land in whatever split their own doc_id hashes
    to — the report's off-diagonal counts exactly the pairs that
    straddle splits, and a copy-free corpus reports no pairs at all."""
    from openeo_odc_driver_spark.pipeline.dedup import split_leakage_report
    from openeo_odc_driver_spark.pipeline.sampling import assign_splits

    texts = [
        (i, " ".join(f"tok{i}x{j}q{(i * 31 + j * 7) % 97}" for j in range(12)))
        for i in range(40)
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    copies = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    corpus = assign_splits(docs.unionByName(copies))
    rows = split_leakage_report(corpus, jaccard_threshold=0.8).collect()
    got = {(r.split_a, r.split_b): r.n_pairs for r in rows}
    # every original has exactly one verbatim copy -> >= 40 pairs total,
    # and with hash-independent assignment some must straddle splits
    assert sum(got.values()) >= 40
    assert any(a != b for a, b in got)
    # clean corpus: no near-dup pairs at all
    clean = split_leakage_report(assign_splits(docs), jaccard_threshold=0.8)
    assert clean.count() == 0


def test_pagerank_integer_exact_hand_computed_path_graph(spark):
    """3-node path a-b-c (symmetric unit edges): two rounds of the
    integer recurrence computed by hand. Floor division makes every
    score a single exact integer — no tolerance needed."""
    from openeo_odc_driver_spark.pipeline.graph import pagerank_integer

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1), (2, 3, 1), (3, 2, 1)],
        "src long, dst long, w long",
    )
    got = {r.pk: r.r for r in pagerank_integer(edges, iterations=2).collect()}
    # r1: a=c=150000+floor(1e6*85/200)=575000; b=150000+2*850000=1850000
    # r2: a=c=150000+floor(1850000*85/200)=936250; b=150000+2*floor(575000*85/100)=1127500
    assert got == {1: 936250, 2: 1127500, 3: 936250}
    # partitioning invariance (integer sums are order-free)
    again = {
        r.pk: r.r
        for r in pagerank_integer(edges.repartition(5), iterations=2).collect()
    }
    assert again == got


def test_copurchase_edges_bounded_per_order_expansion(spark):
    from openeo_odc_driver_spark.pipeline.graph import copurchase_edges

    li = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 10), (2, 10), (2, 12), (3, 13)],
        "l_orderkey long, l_partkey long",
    )
    got = {(r.src, r.dst): r.w for r in copurchase_edges(li).collect()}
    # order 1: {10,11} both directions; order 2: {10,12}; order 3: singleton
    assert got == {
        (10, 11): 1, (11, 10): 1,
        (10, 12): 1, (12, 10): 1,
    }


def test_select_token_budget_by_respects_per_group_budgets(spark):
    """Three groups: one fully funded, one mid-prefix cutoff, one
    unlisted (dropped). Within a group the best buckets win and the
    prefix is doc_id-ordered inside the cutoff bucket."""
    from openeo_odc_driver_spark.pipeline.sampling import (
        select_token_budget_by,
    )

    rows = [
        # group a: bucket 2 (2 docs x 10 tokens), bucket 1 (2 x 10)
        (1, "a", 2500, 10), (2, "a", 2400, 10),
        (3, "a", 1500, 10), (4, "a", 1400, 10),
        # group b: one bucket, 3 docs
        (5, "b", 1000, 10), (6, "b", 1000, 10), (7, "b", 1000, 10),
        # group c: unlisted
        (8, "c", 9000, 10),
    ]
    scored = spark.createDataFrame(
        rows, "doc_id long, source string, margin_fp long, n_tokens long"
    )
    kept = select_token_budget_by(
        scored, budgets={"a": 30, "b": 15}, group_col="source"
    )
    got = sorted((r.source, r.doc_id) for r in kept.collect())
    # a: full bucket 2 (docs 1,2) + prefix of bucket 1 (doc 3 only)
    # b: prefix docs 5 (10 tokens) — doc 6 would reach 20 > 15
    assert got == [("a", 1), ("a", 2), ("a", 3), ("b", 5)]


def test_select_token_budget_by_zero_and_missing_budgets(spark):
    from openeo_odc_driver_spark.pipeline.sampling import (
        select_token_budget_by,
    )
    import pytest as _pytest

    scored = spark.createDataFrame(
        [(1, "a", 100, 5)],
        "doc_id long, source string, margin_fp long, n_tokens long",
    )
    assert select_token_budget_by(scored, budgets={"a": 0}).count() == 0
    assert select_token_budget_by(scored, budgets={"zz": 10}).count() == 0
    with _pytest.raises(ValueError):
        select_token_budget_by(scored, budgets={})
    with _pytest.raises(ValueError):
        select_token_budget_by(scored, budgets={"a": -1})


def test_label_propagation_two_cliques_converge_to_min_labels(spark):
    """Two triangles joined by nothing: each converges to its own
    minimum node label; deterministic under repartitioning."""
    from openeo_odc_driver_spark.pipeline.graph import label_propagation

    tri1 = [(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2)]
    tri2 = [(7, 8), (8, 7), (7, 9), (9, 7), (8, 9), (9, 8)]
    edges = spark.createDataFrame(
        [(s, d, 1) for s, d in tri1 + tri2], "src long, dst long, w long"
    )
    got = {r.pk: r.label for r in label_propagation(edges, iterations=3).collect()}
    # round 1: each node adopts its smallest neighbor's label
    # (1<-2, 2<-1, 3<-1 / 7<-8, 8<-7, 9<-7); by round 3 the minimum
    # label of each clique has flooded it
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}
    again = {
        r.pk: r.label
        for r in label_propagation(edges.repartition(5), iterations=3).collect()
    }
    assert again == got


def test_triangle_count_hand_built_graph(spark):
    """K4 has exactly 4 triangles; adding a pendant edge adds none."""
    from openeo_odc_driver_spark.pipeline.graph import triangle_count

    k4 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a != b]
    pendant = [(4, 5), (5, 4)]
    edges = spark.createDataFrame(
        [(s, d, 1) for s, d in k4 + pendant], "src long, dst long, w long"
    )
    assert triangle_count(edges).collect()[0].n_triangles == 4


def test_related_items_cosine_ranks_shared_baskets_first(spark):
    """Node 1 co-occurs with 2 twice and with 3 once (equal degrees for
    2 and 3 via a balancing edge): the doubly-shared neighbor ranks
    first; scores are exact single divisions."""
    from openeo_odc_driver_spark.pipeline.graph import related_items

    edges = spark.createDataFrame(
        [
            (1, 2, 2), (2, 1, 2),
            (1, 3, 1), (3, 1, 1),
            (2, 4, 1), (3, 4, 2), (4, 2, 1), (4, 3, 2),
        ],
        "src long, dst long, w long",
    )
    rows = {
        (r.src, r.rank): (r.dst, r.score)
        for r in related_items(edges, k=2).collect()
    }
    # deg: 1 -> 3, 2 -> 3, 3 -> 3, 4 -> 3
    assert rows[(1, 1)] == (2, (2 * 2) / (3 * 3))
    assert rows[(1, 2)] == (3, (1 * 1) / (3 * 3))


def test_image_phash_pairs_cross_codec_twins(spark):
    """A PNG and a JPEG of the SAME synthetic content hash within a few
    bits of each other (byte-level dedup can never pair them); an
    unrelated seed stays far away; hashes are run-deterministic."""
    from openeo_odc_driver_spark.pipeline.multimodal import (
        attach_jpeg_images,
        attach_png_images,
        image_phash,
        phash_near_dup_pairs,
    )

    ids = spark.createDataFrame([(0,), (1,), (7,)], "doc_id long")
    pngs = attach_png_images(ids)
    jpgs = attach_jpeg_images(
        spark.createDataFrame([(0,)], "doc_id long")
    ).withColumn("doc_id", F.col("doc_id") + 100)
    hashes = image_phash(pngs.unionByName(jpgs))
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in phash_near_dup_pairs(hashes, max_hamming=10).collect()
    }
    assert (0, 100) in pairs and pairs[(0, 100)] <= 6
    assert all({a, b} == {0, 100} for a, b in pairs)
    twice = {
        (r.doc_id, r.ph0, r.ph1, r.ph2, r.ph3)
        for r in image_phash(pngs.repartition(3)).collect()
    }
    once = {
        (r.doc_id, r.ph0, r.ph1, r.ph2, r.ph3)
        for r in image_phash(pngs).collect()
    }
    assert twice == once


def test_graph_ops_match_pure_python_reference_on_random_graphs(
    spark, pagerank_regime
):
    """Independent-implementation cross-check: pagerank_integer and
    label_propagation against straight-line Python references on seeded
    random digraphs — the engine-exactness claim (pure integer
    recurrences) means EXACT equality, not tolerance."""
    import numpy as np

    from openeo_odc_driver_spark.pipeline.graph import (
        PR_BASE,
        PR_UNIT,
        label_propagation,
        pagerank_integer,
    )

    for seed in (7, 21, 99):
        rng = np.random.RandomState(seed)
        n = 12
        edges = sorted(
            {
                (int(a), int(b), int(w))
                for a, b, w in zip(
                    rng.randint(0, n, 40),
                    rng.randint(0, n, 40),
                    rng.randint(1, 4, 40),
                )
                if a != b
            }
        )
        deg = {}
        for s_, d_, w_ in edges:
            deg[s_] = deg.get(s_, 0) + w_
        nodes = {s_ for s_, _, _ in edges} | {d_ for _, d_, _ in edges}
        # python reference: 3 synchronous integer rounds over the FULL
        # node universe — src-only nodes hold PR_BASE and keep
        # contributing; random digraphs here ARE asymmetric, so this
        # exercises exactly the semantics the round-8 fix changed
        r = {u: PR_UNIT for u in nodes}
        for _ in range(3):
            nxt = {}
            for s_, d_, w_ in edges:
                nxt[d_] = nxt.get(d_, 0) + (r[s_] * 85 * w_) // (100 * deg[s_])
            r = {v: PR_BASE + nxt.get(v, 0) for v in nodes}
        lab = {u: u for u in nodes}
        for _ in range(3):
            votes = {}
            for s_, d_, w_ in edges:
                key = (d_, lab[s_])
                votes[key] = votes.get(key, 0) + w_
            nxt_lab = {}
            for (d_, l_), w_ in votes.items():
                cur = nxt_lab.get(d_)
                if cur is None or (w_, -l_) > (cur[1], -cur[0]):
                    nxt_lab[d_] = (l_, w_)
            lab = {
                v: nxt_lab[v][0] if v in nxt_lab else lab[v] for v in nodes
            }
        df = spark.createDataFrame(edges, "src long, dst long, w long")
        pagerank_regime("broadcast")
        got_r = {x.pk: x.r for x in pagerank_integer(df, iterations=3).collect()}
        assert got_r == r, f"pagerank mismatch seed={seed}"
        got_l = {x.pk: x.label for x in label_propagation(df, iterations=3).collect()}
        assert got_l == lab, f"lpa mismatch seed={seed}"
        # the shuffle-join physical path is bit-identical (integer math)
        pagerank_regime("shuffle")
        got_rs = {
            x.pk: x.r for x in pagerank_integer(df, iterations=3).collect()
        }
        assert got_rs == r, f"pagerank shuffle-path mismatch seed={seed}"


def test_funnel_windowed_enforces_order_and_deadline(spark):
    """User 1 converts in order within the deadline; user 2 clicks too
    LATE (25h); user 3 clicks before viewing. Only user 1 advances."""
    from openeo_odc_driver_spark.pipeline.events import (
        funnel_conversion_windowed,
    )

    rows = [
        (1, "2024-01-01 10:00:00", 1, "view"),
        (1, "2024-01-01 11:00:00", 2, "click"),
        (2, "2024-01-01 10:00:00", 3, "view"),
        (2, "2024-01-02 11:00:01", 4, "click"),  # 25h 0m 1s later
        (3, "2024-01-01 09:00:00", 5, "click"),
        (3, "2024-01-01 10:00:00", 6, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r.step: r.n_users
        for r in funnel_conversion_windowed(
            ev, ["view", "click"], within_hours=24
        ).collect()
    }
    assert got == {"view": 3, "click": 1}


def test_weekly_stickiness_hand_computed(spark):
    """One ISO week, two observed days: day1 actives {1,2}, day2 {1};
    wau = 2, sum_dau = 3, stickiness = 3/(2*2)."""
    from openeo_odc_driver_spark.pipeline.events import weekly_stickiness

    rows = [
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-01 11:00:00", 2, "view"),
        (1, "2024-01-02 10:00:00", 3, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts string, event_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = weekly_stickiness(ev).collect()
    assert len(r) == 1
    assert (r[0].n_days, r[0].sum_dau, r[0].wau) == (2, 3, 2)
    assert r[0].stickiness == 3 / 4
