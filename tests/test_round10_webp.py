"""Round-10 VP8L (lossless WebP) codec pins: every decoder feature path
round-trips against the in-repo encoder; the 2-D short-distance map is
exercised by a hand-built bitstream; lossy VP8 rejects with a NAMED
error; the multimodal decode dispatch routes RIFF payloads here."""
import numpy as np
import pytest

from openeo_odc_driver_spark.pipeline.webp import (
    BitWriter,
    _encode_code,
    _prefix_encode,
    _plane_code_to_distance,
    decode_webp,
    encode_webp,
)


def _grad(h, w):
    out = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            out[y, x] = (x * 16 % 256, y * 20 % 256, (x + y) * 8 % 256)
    return out


RNG_IMG = np.random.default_rng(7).integers(0, 256, (13, 17, 3), dtype=np.uint8)
FLAT = np.zeros((10, 10, 3), dtype=np.uint8)
FLAT[:5] = (10, 200, 30)
FLAT[5:] = (250, 1, 9)
PAL = np.zeros((9, 11, 3), dtype=np.uint8)
PAL[::2] = (1, 2, 3)
PAL[1::2] = (200, 100, 50)
PAL[:, ::3] = (9, 9, 9)


@pytest.mark.parametrize(
    "name,src,kw",
    [
        ("plain", RNG_IMG, {}),
        ("subtract_green", RNG_IMG, dict(subtract_green=True)),
        ("cache", FLAT, dict(cache_bits=4)),
        ("lz77", FLAT, dict(lz77=True)),
        ("lz77_cache", FLAT, dict(lz77=True, cache_bits=5)),
        ("meta_huffman", RNG_IMG, dict(meta_split=True)),
        ("pred_uniform", _grad(12, 16), dict(predictor_mode=1)),
        ("pred_all_modes", _grad(12, 16), dict(predictor_per_block=True)),
        ("cross_color", _grad(12, 16), dict(cross_color=(43, 211, 17))),
        ("palette_packed", PAL, dict(palette=True)),
        ("combo", _grad(12, 16),
         dict(subtract_green=True, predictor_mode=7, cache_bits=3,
              lz77=True)),
    ],
)
def test_vp8l_round_trip(name, src, kw):
    payload = encode_webp(src, **kw)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"WEBP"
    out = decode_webp(payload)
    assert out.shape == src.shape
    assert (out == src).all(), name


def test_vp8l_2d_distance_map():
    """Hand-built stream using plane codes 1 and 2 — the (0,1) and
    (1,0) entries of the spec's neighbor map (the encoder only emits
    plain >120 codes, so this path needs its own vector)."""
    assert _plane_code_to_distance(5, 1) == 5   # (0,1): one row up
    assert _plane_code_to_distance(5, 2) == 1   # (1,0): left neighbor
    assert _plane_code_to_distance(5, 121) == 1  # plain distance

    # 2x2 image: lit A, lit B, then copy(len=2, plane code 1 -> dist=w=2)
    A = 0xFF102030
    B = 0xFF405060
    bw = BitWriter()
    bw.write(1, 14)  # width 2
    bw.write(1, 14)  # height 2
    bw.write_bit(0)  # alpha
    bw.write(0, 3)   # version
    bw.write_bit(0)  # no transforms
    bw.write_bit(0)  # no cache
    bw.write_bit(0)  # no meta
    lcode, _, _ = _prefix_encode(2)  # length 2
    green = _encode_code(bw, {(A >> 8) & 0xFF: 1, (B >> 8) & 0xFF: 1,
                              256 + lcode: 1}, 280)
    red = _encode_code(bw, {(A >> 16) & 0xFF: 1, (B >> 16) & 0xFF: 1}, 256)
    blue = _encode_code(bw, {A & 0xFF: 1, B & 0xFF: 1}, 256)
    alpha = _encode_code(bw, {0xFF: 1}, 256)
    dcode, _, _ = _prefix_encode(1)  # plane code 1
    dist = _encode_code(bw, {dcode: 1}, 40)
    for px in (A, B):
        green.write(bw, (px >> 8) & 0xFF)
        red.write(bw, (px >> 16) & 0xFF)
        blue.write(bw, px & 0xFF)
        alpha.write(bw, 0xFF)
    green.write(bw, 256 + lcode)
    dist.write(bw, dcode)
    stream = b"\x2f" + bw.tobytes()
    import struct

    chunks = b"VP8L" + struct.pack("<I", len(stream)) + stream
    if len(stream) & 1:
        chunks += b"\x00"
    riff = (b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP"
            + chunks)
    out = decode_webp(riff)
    want = np.array(
        [[[0x10, 0x20, 0x30], [0x40, 0x50, 0x60]]] * 2, dtype=np.uint8
    )
    assert (out == want).all()


def test_lossy_vp8_rejected_by_name():
    import struct

    body = b"\x00" * 10
    chunks = b"VP8 " + struct.pack("<I", len(body)) + body
    riff = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks
    with pytest.raises(NotImplementedError, match="lossless"):
        decode_webp(riff)
    with pytest.raises(ValueError, match="WebP"):
        decode_webp(b"\x89PNG\r\n\x1a\nxxxxxxxx")


def test_decode_image_dispatches_webp(spark):
    """decode_image routes RIFF payloads through the VP8L
    decoder and the stats equal a local decode of the same bytes."""
    from openeo_odc_driver_spark.pipeline.multimodal import (
        attach_webp_images,
        decode_image,
        synth_webp_bytes,
        _synth_rgb,
    )

    from pyspark.sql import functions as F

    base = spark.range(8).select(F.col("id").alias("doc_id"))
    out = decode_image(attach_webp_images(base)).collect()
    assert len(out) == 8
    for r in out:
        arr = _synth_rgb(int(r["doc_id"]), 32, 32)
        dec = decode_webp(synth_webp_bytes(int(r["doc_id"]), 32, 32))
        assert (dec == arr).all()
        means = arr.reshape(-1, 3).mean(axis=0)
        assert abs(r["mean_r"] - float(means[0])) < 1e-9
        assert r["width"] == 32 and r["height"] == 32
