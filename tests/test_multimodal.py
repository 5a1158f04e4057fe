"""Multimodal plumbing: real stdlib-WAV and stdlib-PNG encode/decode
round-trips, the non-PNG codec boundary, and the fixed-expected-value
oracle machinery."""

import io
import wave

import numpy as np
import pytest

from openeo_odc_driver_spark.fixtures import values_oracle_sql
from openeo_odc_driver_spark.pipeline.multimodal import (
    attach_fake_images,
    attach_wav_audio,
    decode_audio,
    decode_image,
    synth_wav_bytes,
)


def test_synth_wav_is_real_riff():
    b = synth_wav_bytes(7, sample_rate=8000, n_samples=2048)
    assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"
    with wave.open(io.BytesIO(b), "rb") as w:
        assert w.getframerate() == 8000
        assert w.getnframes() == 2048
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 2


def test_wav_roundtrip_features_match_local(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in decode_audio(attach_wav_audio(docs)).collect()
    }
    assert len(got) == 8
    # reference features computed locally from the same bytes
    b = synth_wav_bytes(3, 8000, 2048)
    with wave.open(io.BytesIO(b), "rb") as w:
        x = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
    xf = x.astype("float64") / 32768.0
    r = got[3]
    assert r["duration_s"] == 2048 / 8000
    assert r["rms"] == pytest.approx(float(np.sqrt(np.mean(xf**2))), abs=0)
    assert r["peak"] == pytest.approx(float(np.abs(xf).max()), abs=0)


def test_synth_png_is_real_png():
    from openeo_odc_driver_spark.pipeline.multimodal import synth_png_bytes
    from openeo_odc_driver_spark.sinks.png import decode_png

    b = synth_png_bytes(7, width=16, height=12)
    assert b[:8] == b"\x89PNG\r\n\x1a\n"
    arr = decode_png(b)
    assert arr.shape == (3, 12, 16)


def test_png_roundtrip_pixel_stats_match_local(spark):
    from openeo_odc_driver_spark.pipeline.multimodal import (
        attach_png_images,
        synth_png_bytes,
    )
    from openeo_odc_driver_spark.sinks.png import decode_png

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in decode_image(attach_png_images(docs)).collect()
    }
    assert len(got) == 6
    # reference stats computed locally from the same bytes
    arr = decode_png(synth_png_bytes(3)).astype("float64")  # (3, h, w)
    r = got[3]
    assert (r["width"], r["height"]) == (32, 32)
    assert r["mean_r"] == pytest.approx(float(arr[0].mean()), abs=0)
    assert r["mean_b"] == pytest.approx(float(arr[2].mean()), abs=0)


def test_image_decode_real_path_rejects_non_png(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(Exception, match="(?i)png"):
        decode_image(attach_fake_images(docs)).collect()


def test_missing_fixture_is_loud_not_silent():
    sql = values_oracle_sql("no_such_fixture_xyz")
    assert "missing fixture" in sql  # sentinel FAILs the gate, never skips


def test_fixture_oracle_roundtrips_floats():
    import duckdb

    sql = values_oracle_sql("multimodal_audio_decode")
    pdf = duckdb.sql(sql).df()
    assert list(pdf.columns) == [
        "doc_id", "duration_s", "rms", "peak", "zero_crossing_rate"
    ]
    assert len(pdf) == 128
    assert pdf["doc_id"].dtype.kind == "i"
    assert pdf["rms"].dtype.kind == "f"


# --- baseline JPEG codec (round 6: the last image-format boundary) ----------


def test_jpeg_round_trip_gradient_close():
    """Smooth gradients survive Q85 with sub-1-LSB mean error — the
    codec's DCT/quantizer/Huffman chain is self-consistent."""
    import numpy as np

    from openeo_odc_driver_spark.pipeline.jpeg import decode_jpeg, encode_jpeg

    h, w = 40, 56
    yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    img = np.stack(
        [xx * 255 // (w - 1), yy * 255 // (h - 1),
         (xx + yy) * 255 // (w + h - 2)],
        axis=-1,
    ).astype(np.uint8)
    data = encode_jpeg(img, quality=85)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    dec = decode_jpeg(data)
    assert dec.shape == img.shape and dec.dtype == np.uint8
    mae = np.abs(dec.astype(int) - img.astype(int)).mean()
    assert mae < 1.5


def test_jpeg_round_trip_noise_and_odd_sizes():
    """Adversarial content (uniform noise) and non-multiple-of-8 sizes:
    block padding must not corrupt interior pixels, higher quality must
    not be worse than lower."""
    import numpy as np

    from openeo_odc_driver_spark.pipeline.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (33, 31, 3), dtype=np.uint8)
    maes = {}
    for q in (50, 95):
        dec = decode_jpeg(encode_jpeg(img, quality=q))
        assert dec.shape == img.shape
        maes[q] = np.abs(dec.astype(int) - img.astype(int)).mean()
    assert maes[95] <= maes[50]
    assert maes[95] < 8.0  # noise at Q95 stays within quantizer error


def test_jpeg_rejects_unsupported_profiles():
    """Progressive / truncated payloads raise ValueError naming the
    problem instead of mis-decoding."""
    import numpy as np
    import pytest

    from openeo_odc_driver_spark.pipeline.jpeg import decode_jpeg, encode_jpeg

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    data = bytearray(encode_jpeg(img))
    # flip SOF0 (0xC0) to SOF2 (0xC2 progressive)
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC2
    with pytest.raises(ValueError, match="SOF2"):
        decode_jpeg(bytes(data))
    # multi-scan baseline (legal T.81, no mainstream encoder emits it):
    # a 1-component SOS on the 3-component frame names the limitation
    data2 = bytearray(encode_jpeg(img))
    j = data2.find(b"\xff\xda")
    ln = int.from_bytes(data2[j + 2 : j + 4], "big")
    one_comp_sos = (b"\xff\xda" + (8).to_bytes(2, "big") + b"\x01"
                    + bytes([1, 0x00]) + b"\x00\x3f\x00")
    with pytest.raises(ValueError, match="multi-scan"):
        decode_jpeg(bytes(data2[:j]) + one_comp_sos + bytes(data2[j + 2 + ln:]))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x89PNG not a jpeg")
    with pytest.raises(ValueError):
        decode_jpeg(encode_jpeg(img)[:40])  # truncated


def test_decode_image_dispatches_jpeg_and_png(spark):
    """decode_image routes payloads by magic bytes: one
    frame with PNG docs, one with JPEG docs, stats agree within JPEG's
    lossy tolerance (same synth content underneath)."""
    from pyspark.sql import functions as F

    from openeo_odc_driver_spark.pipeline.multimodal import (
        attach_jpeg_images,
        attach_png_images,
        decode_image,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], "doc_id long, text string"
    )
    png_stats = {
        r.doc_id: r
        for r in decode_image(attach_png_images(docs)).collect()
    }
    jpg_stats = {
        r.doc_id: r
        for r in decode_image(attach_jpeg_images(docs)).collect()
    }
    assert set(png_stats) == set(jpg_stats) == set(range(6))
    for i in range(6):
        assert (png_stats[i].width, png_stats[i].height) == (32, 32)
        assert (jpg_stats[i].width, jpg_stats[i].height) == (32, 32)
        # same synthetic content -> channel means agree within lossy error
        assert abs(png_stats[i].mean_r - jpg_stats[i].mean_r) < 3.0
        assert abs(png_stats[i].mean_g - jpg_stats[i].mean_g) < 3.0
        assert abs(png_stats[i].brightness - jpg_stats[i].brightness) < 3.0


def test_jpeg_round_trip_arbitrary_shapes_property():
    """Hypothesis: any uint8 RGB image from 1x1 up round-trips through
    the codec with the right shape/dtype and bounded error at Q95."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from openeo_odc_driver_spark.pipeline.jpeg import decode_jpeg, encode_jpeg

    @given(
        h=st.integers(1, 25),
        w=st.integers(1, 25),
        seed=st.integers(0, 2**31 - 1),
        smooth=st.booleans(),
    )
    @settings(max_examples=30, deadline=None)
    def run(h, w, seed, smooth):
        rng = np.random.default_rng(seed)
        if smooth:
            base = rng.integers(0, 256)
            img = np.full((h, w, 3), base, dtype=np.uint8)
        else:
            img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(img, quality=95))
        assert dec.shape == (h, w, 3) and dec.dtype == np.uint8
        err = np.abs(dec.astype(int) - img.astype(int)).mean()
        assert err < (2.0 if smooth else 16.0)

    run()


def test_resize_images_nearest_neighbor_exact(spark):
    """Resizing a known gradient with the floor-index rule is exactly
    predictable: pixel (i,j) of the 8x8 thumb equals source pixel
    (i*h//8, j*w//8); payloads re-encode as decodable PNG."""
    import numpy as np
    from pyspark.sql import functions as F

    from openeo_odc_driver_spark.pipeline.multimodal import (
        attach_png_images,
        resize_images,
        synth_png_bytes,
    )
    from openeo_odc_driver_spark.sinks.png import decode_png
    from openeo_odc_driver_spark.pipeline.multimodal import _decode_rgb

    docs = spark.createDataFrame([(7, "x")], "doc_id long, text string")
    out = resize_images(attach_png_images(docs), out_w=8, out_h=8).collect()
    assert len(out) == 1 and out[0].image_meta["width"] == 8
    small = _decode_rgb(bytes(out[0].image))
    src = _decode_rgb(synth_png_bytes(7, 32, 32))
    yi = (np.arange(8) * 32) // 8
    xi = (np.arange(8) * 32) // 8
    assert np.array_equal(small, src[yi][:, xi])


def test_image_features_feed_similarity_search(spark):
    """The multimodal retrieval composition: decode → image_features →
    brute_force_topk. A doc's nearest neighbor by feature cosine must be
    the doc with IDENTICAL image content (planted duplicate payloads)."""
    from pyspark.sql import functions as F

    from openeo_odc_driver_spark.pipeline.multimodal import (
        attach_png_images,
        image_features,
    )
    from openeo_odc_driver_spark.pipeline.similarity import brute_force_topk

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(10)], "doc_id long, text string"
    )
    imgs = attach_png_images(docs)
    # plant: doc 20 carries doc 0's exact payload
    dup = imgs.where(F.col("doc_id") == 0).select(
        F.lit(20).cast("long").alias("doc_id"), "image", "image_meta"
    )
    feats = image_features(imgs.unionByName(dup))
    emb = feats.select(
        F.col("doc_id").alias("vec_id"),
        F.col("features").cast("array<float>").alias("embedding"),
    )
    top = brute_force_topk(emb, emb.where(F.col("vec_id") == 20), k=1).first()
    assert top.neighbor_id == 0  # identical content wins at cosine ~1
    assert abs(top.cosine - 1.0) < 1e-6


def test_jpeg_rejects_unsupported_component_counts_and_eats_fill_bytes():
    """T.81 contract edges: a 4-component (CMYK-shaped) SOF0 must raise —
    not silently misdecode YCCK as YCbCr — and legal 0xFF fill padding
    before a marker must parse."""
    import numpy as np
    import pytest

    from openeo_odc_driver_spark.pipeline.jpeg import decode_jpeg, encode_jpeg

    img = np.full((16, 16, 3), 128, dtype=np.uint8)
    data = encode_jpeg(img, quality=85)

    # splice a 4-component SOF0 in place of the real one
    sof = data.index(b"\xff\xc0")
    ln = int.from_bytes(data[sof + 2 : sof + 4], "big")
    four = bytearray(data[sof + 4 : sof + 4 + ln - 2])
    four[5] = 4  # component count
    # 4th component reuses component 1's quantization-table id (four[8]
    # is comp-1's tq byte — ADVICE r6: four[7] was the h/v sampling
    # byte, leaving the fixture malformed if error ordering changed)
    four += bytes([4, 0x11, four[8]])
    patched = (data[:sof + 2] + (len(four) + 2).to_bytes(2, "big")
               + bytes(four) + data[sof + 4 + ln - 2:])
    with pytest.raises(ValueError, match="components unsupported"):
        decode_jpeg(patched)

    # B.1.1.2 fill byte: FF FF C0 ... must decode identically
    padded = data[:sof] + b"\xff" + data[sof:]
    assert np.array_equal(decode_jpeg(padded), decode_jpeg(data))


def test_jpeg_decodes_third_party_encoder_bytes():
    """Interop fixture (VERDICT r6 item 4): two small baseline JPEGs
    produced by OTHER encoders (vendored public test images — a
    restart-interval 4:4:4 line drawing and a 4:4:4 color logo), with
    exact decoded-pixel pins. Until now every JPEG test was a
    self-round-trip; this proves decode_jpeg reads third-party streams:
    Huffman tables it didn't emit, DRI/RSTn resync, non-multiple-of-8
    dimensions, real chroma content."""
    import hashlib
    import os

    import numpy as np

    from openeo_odc_driver_spark.pipeline.jpeg import decode_jpeg

    fx = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")

    # flower-of-life.jpg: 161x161 (not a block multiple), DRI with RSTn
    # markers, monochrome content stored as YCbCr
    img = decode_jpeg(open(os.path.join(fx, "flower-of-life.jpg"), "rb").read())
    assert img.shape == (161, 161, 3) and img.dtype == np.uint8
    assert hashlib.sha256(img.tobytes()).hexdigest() == (
        "0f41b71ed178e827203934ee4b6109bbf581d90d11da37adcf313a5073d52d55"
    )
    assert img[0, 0].tolist() == [255, 255, 255]      # white background
    assert img[80, 80].tolist() == [253, 253, 253]    # near-white center
    # monochrome line art: all three channels identical everywhere
    assert np.array_equal(img[..., 0], img[..., 1])
    assert np.array_equal(img[..., 0], img[..., 2])

    # webtide_logo.jpg: 245x60 color logo — chroma genuinely exercised
    img2 = decode_jpeg(open(os.path.join(fx, "webtide_logo.jpg"), "rb").read())
    assert img2.shape == (60, 245, 3) and img2.dtype == np.uint8
    assert hashlib.sha256(img2.tobytes()).hexdigest() == (
        "808c387d789fde100a609d4424c3ef11e4da482852a2674abb8eac7a13e38985"
    )
    assert img2[0, 0].tolist() == [255, 255, 255]
    assert img2[30, 122].tolist() == [250, 54, 21]    # red glyph pixel
    assert not np.array_equal(img2[..., 0], img2[..., 1])  # real color


def test_jpeg_restart_marker_stream_errors_are_named():
    """Corrupted restart streams fail with clear errors, never hang or
    misdecode: an out-of-sequence RSTn raises, and truncation inside an
    interval raises the truncated-stream error."""
    import os

    import pytest

    from openeo_odc_driver_spark.pipeline.jpeg import decode_jpeg

    fx = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
    data = open(os.path.join(fx, "flower-of-life.jpg"), "rb").read()

    # find the first restart marker in the entropy stream and renumber it
    sos = data.index(b"\xff\xda")
    first_rst = None
    i = sos + 2
    while i < len(data) - 1:
        if data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7:
            first_rst = i
            break
        i += 1
    assert first_rst is not None, "fixture must contain restart markers"
    bad = bytearray(data)
    bad[first_rst + 1] = 0xD0 + ((data[first_rst + 1] - 0xD0 + 3) % 8)
    with pytest.raises(ValueError, match="restart marker"):
        decode_jpeg(bytes(bad))

    with pytest.raises(ValueError):
        decode_jpeg(data[: first_rst + 10])  # truncated mid-stream


def test_jpeg_corrupt_streams_fail_cleanly_property():
    """Hypothesis over truncations and single-byte corruptions of a
    valid stream (VERDICT r6 item 8 — the quadratic-bit-reader episode
    makes 'never hang, never non-ValueError' worth pinning): decode
    either returns a well-shaped uint8 array (corruption confined to
    entropy bits) or raises ValueError with a message — never KeyError/
    IndexError/OverflowError, never an unbounded loop (deadline-checked
    per example)."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from openeo_odc_driver_spark.pipeline.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
    data = encode_jpeg(img, quality=85)

    @given(
        mode=st.sampled_from(["truncate", "flip"]),
        pos=st.integers(2, len(data) - 3),
        val=st.integers(0, 255),
    )
    @settings(max_examples=80, deadline=2000)
    def run(mode, pos, val):
        if mode == "truncate":
            bad = data[:pos]
        else:
            bad = data[:pos] + bytes([data[pos] ^ (val or 1)]) + data[pos + 1:]
        try:
            out = decode_jpeg(bad)
        except ValueError as e:
            assert str(e)  # named error
        else:
            assert out.dtype == np.uint8 and out.ndim == 3

    run()


def test_jpeg_decodes_chroma_subsampled_against_independent_decoder(spark):
    """4:2:0 interop (round 7): a vendored real-world photo (2x2 luma /
    1x1 chroma sampling — the dominant web JPEG shape) decodes and
    agrees with the JVM's OWN ImageIO decoder (spark.read.format
    ("image")) pixel-for-pixel within chroma-upsampling tolerance —
    fully independent ground truth, not a self round-trip. Exact output
    is also sha256-pinned for regression."""
    import hashlib
    import os

    import numpy as np

    from openeo_odc_driver_spark.pipeline.jpeg import decode_jpeg

    fx = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
    path = os.path.join(fx, "kitten_420.jpg")

    data = open(path, "rb").read()
    # confirm the fixture really is 4:2:0 (comp 1 sampling byte 0x22)
    sof = data.index(b"\xff\xc0")
    assert data[sof + 11] == 0x22

    ours = decode_jpeg(data)
    assert ours.shape == (200, 300, 3) and ours.dtype == np.uint8
    assert hashlib.sha256(ours.tobytes()).hexdigest() == (
        "7a0da1b193906c22d6e1eba4d3089ac98267742eeb641c0ca088323b3387bf1d"
    )

    row = spark.read.format("image").load(path).select("image.*").first()
    ref = np.frombuffer(bytearray(row.data), dtype=np.uint8).reshape(
        row.height, row.width, row.nChannels
    )[..., ::-1]  # ImageIO delivers BGR
    assert ref.shape == ours.shape
    diff = np.abs(ours.astype(int) - ref.astype(int))
    # box vs fancy chroma upsampling differ most at saturated edges;
    # measured on this fixture: mad 0.37, p99 2, max 6
    assert diff.mean() < 1.0
    assert np.percentile(diff, 99) <= 4
    assert diff.max() <= 12
