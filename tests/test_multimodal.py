"""BMP codec correctness + the oracle-backed pixel-stats round trip."""

from __future__ import annotations

import numpy as np
import pytest

from facebook_ad_library_data_pipeline_spark.multimodal.bmp import (
    HEADER_BYTES,
    decode_bmp24,
    encode_bmp24,
)
from facebook_ad_library_data_pipeline_spark.multimodal.media import (
    IMG_H,
    IMG_W,
    synth_pixels,
)


@pytest.mark.parametrize("shape", [(1, 1, 3), (12, 15, 3), (7, 4, 3), (32, 32, 3)])
def test_bmp_roundtrip_exact(shape):
    rng = np.random.default_rng(12345)
    pixels = rng.integers(0, 256, size=shape, dtype=np.uint8)
    decoded = decode_bmp24(encode_bmp24(pixels))
    assert decoded.shape == shape
    assert np.array_equal(decoded, pixels)


def test_bmp_row_padding():
    # width 15 -> 45 data bytes padded to 48 per row
    pixels = np.zeros((2, 15, 3), dtype=np.uint8)
    payload = encode_bmp24(pixels)
    assert len(payload) == HEADER_BYTES + 2 * 48
    assert np.array_equal(decode_bmp24(payload), pixels)


def test_bmp_is_bottom_up_bgr():
    # one red pixel at top-left: BMP stores rows bottom-up as BGR, so
    # the FIRST data row in the file is the LAST image row (all zeros)
    # and the red byte sits at offset +2 within its pixel.
    pixels = np.zeros((2, 1, 3), dtype=np.uint8)
    pixels[0, 0] = (255, 0, 0)
    payload = encode_bmp24(pixels)
    data = payload[HEADER_BYTES:]
    assert data[:3] == b"\x00\x00\x00"  # bottom image row first
    assert data[4:7] == b"\x00\x00\xff"  # B,G,R of the red pixel
    assert np.array_equal(decode_bmp24(payload), pixels)


def test_bmp_rejects_garbage():
    with pytest.raises(ValueError):
        decode_bmp24(b"PNG-not-bmp" + b"\x00" * 64)
    with pytest.raises(ValueError):
        encode_bmp24(np.zeros((4, 4), dtype=np.uint8))  # not 3-channel


def test_synth_pixels_match_closed_form():
    img = synth_pixels(42)
    assert img.shape == (IMG_H, IMG_W, 3)
    assert img[3, 7, 1] == (42 * 7 + 3 * 31 + 7 * 13 + 5) % 256


def test_pixel_stats_oracle_match(oracle_checks):
    failed = oracle_checks("q_multimodal_pixel_stats")["match"]
    if failed is not None:
        raise failed


# ------------------------------------------------------------------ PNG

from facebook_ad_library_data_pipeline_spark.multimodal.png import (  # noqa: E402
    decode_png_rgb,
    encode_png_rgb,
)


@pytest.mark.parametrize("shape", [(1, 1, 3), (12, 15, 3), (7, 4, 3), (32, 32, 3)])
def test_png_roundtrip_exact(shape):
    rng = np.random.default_rng(54321)
    pixels = rng.integers(0, 256, size=shape, dtype=np.uint8)
    decoded = decode_png_rgb(encode_png_rgb(pixels))
    assert decoded.shape == shape
    assert np.array_equal(decoded, pixels)


def test_png_exercises_all_filters():
    # 10 rows -> encoder filter types 0,1,2,3,4,0,1,2,3,4: every
    # reconstruction path (incl. Paeth) must round-trip exactly.
    pixels = (np.arange(10 * 6 * 3, dtype=np.int64) * 37 % 256).astype(np.uint8)
    pixels = pixels.reshape(10, 6, 3)
    assert np.array_equal(decode_png_rgb(encode_png_rgb(pixels)), pixels)


def test_png_crc_and_garbage_rejected():
    pixels = np.zeros((3, 3, 3), dtype=np.uint8)
    payload = bytearray(encode_png_rgb(pixels))
    with pytest.raises(ValueError):
        decode_png_rgb(b"not a png at all")
    payload[40] ^= 0xFF  # corrupt a body byte inside a chunk
    with pytest.raises(ValueError):
        decode_png_rgb(bytes(payload))


def test_decode_image_compressed_sniffs_formats():
    from facebook_ad_library_data_pipeline_spark.multimodal.media import (
        decode_image_compressed,
    )

    pixels = synth_pixels(7)
    from facebook_ad_library_data_pipeline_spark.multimodal.bmp import encode_bmp24 as enc_bmp

    assert np.array_equal(decode_image_compressed(encode_png_rgb(pixels)), pixels)
    assert np.array_equal(decode_image_compressed(enc_bmp(pixels)), pixels)
    with pytest.raises(ValueError):
        decode_image_compressed(b"\xff\xd8\xff\xe0 fake jpeg")  # truncated JPEG
    with pytest.raises(ValueError):
        decode_image_compressed(b"GIF89a not supported")


def test_png_pixel_stats_oracle_match(oracle_checks):
    failed = oracle_checks("q_png_pixel_stats")["match"]
    if failed is not None:
        raise failed


# ----------------------------------------------------------------- JPEG

from facebook_ad_library_data_pipeline_spark.multimodal.jpeg import (  # noqa: E402
    decode_jpeg,
    encode_jpeg_rgb444,
)
from facebook_ad_library_data_pipeline_spark.multimodal.media import (  # noqa: E402
    synth_jpeg_pixels,
)


def _closed_form(v):
    d = v - 128
    q = np.sign(d) * np.floor(np.abs(d) / 2 + 0.5)
    return int(np.clip(2 * q + 128, 0, 255))


def test_jpeg_uniform_blocks_match_closed_form():
    # every gray value decodes to exactly the DC closed form the
    # DuckDB oracle computes
    vals = list(range(0, 256, 3)) + [1, 127, 128, 129, 255]
    img = np.zeros((8, 8 * len(vals), 3), dtype=np.uint8)
    for i, v in enumerate(vals):
        img[:, i * 8 : (i + 1) * 8, :] = v
    dec = decode_jpeg(encode_jpeg_rgb444(img))
    for i, v in enumerate(vals):
        block = np.unique(dec[:, i * 8 : (i + 1) * 8, :])
        assert len(block) == 1 and block[0] == _closed_form(v), (v, block)


def test_jpeg_lossy_but_close_on_smooth_images():
    y, x = np.mgrid[0:32, 0:32]
    grad = np.stack(
        [(y * 4).astype(np.uint8), (x * 4).astype(np.uint8), ((y + x) * 2).astype(np.uint8)],
        axis=-1,
    )
    dec = decode_jpeg(encode_jpeg_rgb444(grad))
    err = np.abs(dec.astype(int) - grad.astype(int))
    assert err.mean() < 3 and err.max() < 20


def test_jpeg_rejects_unsupported_variants():
    with pytest.raises(ValueError):
        decode_jpeg(b"not a jpeg")
    payload = bytearray(encode_jpeg_rgb444(synth_jpeg_pixels(1)))
    sof = payload.index(b"\xff\xc0")
    payload[sof + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    with pytest.raises(ValueError, match="non-baseline"):
        decode_jpeg(bytes(payload))


def test_jpeg_fixture_is_gray_and_blockwise():
    img = synth_jpeg_pixels(3)
    assert img.shape == (16, 16, 3)
    assert np.array_equal(img[..., 0], img[..., 1])
    assert len(np.unique(img[0:8, 0:8])) == 1


def test_jpeg_pixel_stats_oracle_match(oracle_checks):
    failed = oracle_checks("q_jpeg_pixel_stats")["match"]
    if failed is not None:
        raise failed


def test_video_container_contract():
    """SGVC container: round-trips frames byte-exact, rejects bad magic
    and truncated frames (no silent salvage)."""
    import pytest

    from facebook_ad_library_data_pipeline_spark.multimodal.media import (
        decode_video_container,
        encode_video_container,
    )

    frames = [b"alpha", b"", b"0123456789" * 7]
    payload = encode_video_container(frames)
    back = list(decode_video_container(payload))
    assert back == [(0, b"alpha"), (1, b""), (2, b"0123456789" * 7)]

    with pytest.raises(ValueError, match="magic"):
        list(decode_video_container(b"XXXX" + payload[4:]))
    with pytest.raises(ValueError, match="truncated"):
        list(decode_video_container(payload[:-3]))
    # cut INSIDE a length prefix must also raise ValueError (not
    # struct.error): drop the last frame's payload and 2 of its 4
    # length-prefix bytes
    cut = len(payload) - len(frames[2]) - 2
    with pytest.raises(ValueError, match="length prefix"):
        list(decode_video_container(payload[:cut]))
    with pytest.raises(ValueError, match="truncated header"):
        list(decode_video_container(payload[:6]))


def test_video_fixture_decode_is_lossless(spark):
    """A fixture frame encoded to BMP inside the container and decoded
    back must be pixel-identical (BMP is lossless), and the sampled
    stats must reflect the original pixels exactly."""
    import numpy as np

    from facebook_ad_library_data_pipeline_spark.multimodal.bmp import (
        decode_bmp24,
        encode_bmp24,
    )
    from facebook_ad_library_data_pipeline_spark.multimodal.media import (
        _video_fixture_pixels,
        decode_video_container,
        encode_video_container,
    )

    px = _video_fixture_pixels(3, 5)
    payload = encode_video_container([encode_bmp24(px)])
    ((idx, fb),) = list(decode_video_container(payload))
    assert idx == 0
    assert np.array_equal(decode_bmp24(fb), px)


def test_video_container_roundtrip_property():
    """Hypothesis: ANY list of frame payloads (including empty frames
    and empty lists) round-trips through the SGVC container
    byte-exactly with correct indices."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from facebook_ad_library_data_pipeline_spark.multimodal.media import (
        decode_video_container,
        encode_video_container,
    )

    @settings(max_examples=100, deadline=None)
    @given(st.lists(st.binary(max_size=300), max_size=12))
    def check(frames):
        back = list(decode_video_container(encode_video_container(frames)))
        assert back == list(enumerate(frames))

    check()


def test_wav_codec_roundtrip_and_contract():
    """PCM16 WAV: mono and stereo round-trip sample-exact; the decoder
    walks past unknown chunks; bad magic / truncation / non-PCM raise."""
    import numpy as np
    import pytest

    from facebook_ad_library_data_pipeline_spark.multimodal.wav import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    mono = (np.arange(-50, 50, dtype=np.int16)) * 300
    payload = encode_wav_pcm16(mono, 44100)
    back, rate = decode_wav_pcm16(payload)
    assert rate == 44100 and back.shape == (100, 1)
    assert np.array_equal(back[:, 0], mono)

    stereo = np.stack([mono, mono[::-1]], axis=1)
    back2, _ = decode_wav_pcm16(encode_wav_pcm16(stereo))
    assert np.array_equal(back2, stereo)

    # tolerate an unknown chunk between fmt and data (LIST of 3 bytes,
    # padded to 4 per RIFF)
    import struct

    p = encode_wav_pcm16(mono)
    fmt_end = 12 + 8 + 16
    extra = struct.pack("<4sI", b"LIST", 3) + b"abc\x00"
    patched = p[:fmt_end] + extra + p[fmt_end:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    back3, _ = decode_wav_pcm16(patched)
    assert np.array_equal(back3[:, 0], mono)

    with pytest.raises(ValueError, match="RIFF"):
        decode_wav_pcm16(b"XXXX" + p[4:])
    with pytest.raises(ValueError, match="truncated"):
        decode_wav_pcm16(p[:-5])
    with pytest.raises(ValueError, match="expected int16"):
        encode_wav_pcm16(mono.astype(np.int32))


def test_resize_nearest_general_geometry():
    """resize_nearest must implement the standard NN index map for
    non-integer scale factors too (7×5 → 3×2), picking exactly
    src[⌊y·7/3⌋, ⌊x·5/2⌋]."""
    import numpy as np

    from facebook_ad_library_data_pipeline_spark.multimodal.media import resize_nearest

    src = np.arange(7 * 5 * 3, dtype=np.uint8).reshape(7, 5, 3)
    out = resize_nearest(src, 3, 2)
    iy = [(y * 7) // 3 for y in range(3)]
    ix = [(x * 5) // 2 for x in range(2)]
    expect = src[np.array(iy)[:, None], np.array(ix)[None, :]]
    assert np.array_equal(out, expect)


def test_fixture_map_and_dedup_verdict_live_in_one_place():
    """The family has one Arrow-batched map and one dedup verdict: no
    multimodal module calls mapInPandas outside media.fixture_rows or
    localCheckpoint outside phash.hash_groups."""
    import ast
    import inspect
    from pathlib import Path

    from facebook_ad_library_data_pipeline_spark.multimodal import media, phash

    def lines_of(fn):
        lines, start = inspect.getsourcelines(fn)
        return Path(inspect.getsourcefile(fn)), range(start, start + len(lines))

    allowed = {"mapInPandas": lines_of(media.fixture_rows), "localCheckpoint": lines_of(phash.hash_groups)}
    hits = []
    for path in sorted(Path(media.__file__).parent.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                name = node.func.attr
                if name in allowed and not (
                    path == allowed[name][0] and node.lineno in allowed[name][1]
                ):
                    hits.append(f"{path.name}:{node.lineno}: {name}")
    assert hits == [], hits
