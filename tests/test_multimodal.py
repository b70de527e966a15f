"""K5 multimodal tests: binary columns, the Arrow-batched decode
pipeline, binary dedup, the real codecs (round trips against numpy and
spec references), property oracles for the seven media queries, and a
source guard that keeps one batch boundary and one codec table.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import Row

from post_modern_stack_spark.operators import multimodal as MM
from tests.media_fixtures import encode_gif, encode_wav, fdct8x8_reference

_IMG = np.random.RandomState(1).randint(0, 256, size=(6, 5, 3), dtype=np.uint8)
_BMP = MM.encode_bmp(_IMG)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        Row(media_id=1, kind="image", content=bytearray(_BMP)),
        Row(media_id=2, kind="image", content=bytearray(_BMP)),  # exact dup of 1
        Row(media_id=3, kind="image", content=bytearray(MM.encode_png(_IMG[::-1]))),
        Row(media_id=4, kind="video", content=b"\x00\x00ftyp fake"),
    ]
    return spark.createDataFrame(rows, MM.MEDIA_SCHEMA)


def test_feature_extraction_shape(spark, media):
    out = MM.extract_features(media.filter("media_id < 4")).collect()
    assert len(out) == 3
    by_id = {r["media_id"]: r for r in out}
    assert all(len(r["features"]) == MM.FEATURE_DIM for r in out)
    # the first two features are the image's height and width; the
    # rest are normalized to [0, 1]
    assert all(r["features"][:2] == [6.0, 5.0] for r in out)
    assert all(0.0 <= v <= 1.0 for r in out for v in r["features"][2:])
    # deterministic: identical bytes → identical features and sha
    assert by_id[1]["features"] == by_id[2]["features"]
    assert by_id[1]["content_sha"] == by_id[2]["content_sha"]
    assert by_id[1]["n_bytes"] == len(_BMP)


def test_real_codec_stub_raises(spark, media):
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        MM.extract_features(media).collect()


def test_media_dedup(spark, media):
    d = {r["media_id"]: r["n_copies"] for r in MM.media_dedup(media).collect()}
    assert d[1] == 2  # ids 1+2 collapse, keeping min id
    assert d[3] == 1 and d[4] == 1


def test_bmp_wav_ppm_roundtrip_numpy():
    """Real codec round trips: encode→decode is identity for BMP and
    PPM pixels and within PCM-16 quantization for WAV samples."""
    import numpy as np

    from post_modern_stack_spark.operators import multimodal as mm

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(5, 7, 3), dtype=np.uint8)  # odd width → row padding
    assert (mm.decode_bmp(mm.encode_bmp(img)) == img).all()

    samples = rng.uniform(-0.9, 0.9, size=(400, 2))
    dec, rate = mm.decode_wav(encode_wav(samples, 8000))
    assert rate == 8000 and dec.shape == (400, 2)
    assert np.abs(dec - samples).max() < 1.0 / 32768 + 1e-9

    ppm = b"P6\n# comment\n7 5\n255\n" + img.tobytes()
    assert (mm.decode_ppm(ppm) == img).all()


@pytest.mark.parametrize("shape", [(1, 1), (4, 2), (1, 7)])
def test_image_features_finite_on_images_narrower_than_the_grid(shape):
    """A luma-grid cell past a narrow image's edge reads the nearest
    pixel row and column instead of averaging an empty slice (NaN)."""
    img = np.random.RandomState(3).randint(0, 256, size=(*shape, 3), dtype=np.uint8)
    feats = MM.image_features(img)
    assert np.isfinite(feats).all()
    luma = img.astype(np.float64) / 255.0 @ np.array([0.299, 0.587, 0.114])
    grid = np.asarray(feats[8:14])
    assert (grid >= luma.min() - 1e-12).all() and (grid <= luma.max() + 1e-12).all()


def test_extract_features_real_codecs_through_spark(spark):
    """extract_features over genuine BMP/WAV bytes: the pipeline
    decodes for real and the features match a driver-side numpy
    recomputation."""
    import numpy as np
    from pyspark.sql import Row

    from post_modern_stack_spark.operators import multimodal as mm

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, size=(8, 6, 3), dtype=np.uint8)
    wav = np.sin(2 * np.pi * 440 * np.arange(1600) / 8000.0)[:, None] * 0.5
    rows = [
        Row(media_id=1, kind="image", content=bytearray(mm.encode_bmp(img))),
        Row(media_id=2, kind="audio", content=bytearray(encode_wav(wav, 8000))),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = {
        r["media_id"]: r["features"]
        for r in mm.extract_features(media).collect()
    }
    want_img = mm.image_features(img)
    # expected audio features go through the same PCM-16 quantization
    # the wire format applies
    want_wav = mm.audio_features(mm.decode_wav(encode_wav(wav, 8000))[0], 8000)
    assert np.allclose(got[1], want_img, atol=1e-5)
    assert np.allclose(got[2], want_wav, atol=1e-5)

    # formats without a codec (MP3 here) refuse loudly
    bad = spark.createDataFrame(
        [Row(media_id=3, kind="audio", content=bytearray(b"ID3\x04\x00....."))],
        mm.MEDIA_SCHEMA,
    )
    import pytest
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as ei:
        mm.extract_features(bad).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_extract_features_permissive_quarantines_corrupt_bytes(spark):
    """on_error='null': corrupt payloads become (features=null,
    decode_error=...) DATA rows — a billion-file corpus must not lose
    a 6-hour task to one truncated PNG — while healthy rows in the
    same batch still decode for real, and bookkeeping columns
    (n_bytes, content_sha) stay populated on failed rows so the
    quarantine stays addressable for dedup/audit."""
    import hashlib

    import numpy as np
    from pyspark.sql import Row

    from post_modern_stack_spark.operators import multimodal as mm

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(8, 6, 3), dtype=np.uint8)
    good = mm.encode_bmp(img)
    corrupt_png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 12  # magic ok, body garbage
    rows = [
        Row(media_id=1, kind="image", content=bytearray(good)),
        Row(media_id=2, kind="image", content=bytearray(corrupt_png)),
        Row(media_id=3, kind="audio", content=bytearray(b"ID3\x04\x00.....")),
    ]
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    got = {
        r["media_id"]: r
        for r in mm.extract_features(media, on_error="null").collect()
    }
    # bytes without a codec (MP3) are a data row too
    assert got[3]["features"] is None
    assert got[3]["decode_error"].startswith("NotImplementedError: no codec")
    assert np.allclose(got[1]["features"], mm.image_features(img), atol=1e-5)
    assert got[1]["decode_error"] is None
    assert got[2]["features"] is None
    assert got[2]["decode_error"]  # carries the exception text
    assert got[2]["n_bytes"] == len(corrupt_png)
    assert got[2]["content_sha"] == hashlib.sha256(corrupt_png).hexdigest()

    # on_error='raise': the same corrupt row kills the job
    import pytest

    with pytest.raises(Exception):
        mm.extract_features(media).collect()
    with pytest.raises(ValueError, match="on_error"):
        mm.extract_features(media, on_error="skip")


def test_resize_media_real_roundtrip(spark):
    """resize_media: decode→NN-resize→re-encode through Spark; the
    resized BMP decodes back to exactly the numpy-side index-map
    sample."""
    import numpy as np
    from pyspark.sql import Row

    from post_modern_stack_spark.operators import multimodal as mm

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(9, 7, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [Row(media_id=1, kind="image", content=bytearray(mm.encode_bmp(img)))],
        mm.MEDIA_SCHEMA,
    )
    row = mm.resize_media(media, out_h=4, out_w=3).collect()[0]
    got = mm.decode_bmp(bytes(row["content"]))
    assert (got == mm.resize_image(img, 4, 3)).all()
    assert (row["out_h"], row["out_w"]) == (4, 3)


def test_png_roundtrip_all_shapes():
    """encode_png → decode_png is identity for gray / RGB / RGBA and
    for gradient images (which trigger the Up-filter branch of the
    encoder's per-row heuristic)."""
    import numpy as np

    from post_modern_stack_spark.operators import multimodal as mm

    rng = np.random.RandomState(7)
    for shape in [(5, 7, 3), (4, 4, 4), (6, 3, 1), (1, 1, 3), (16, 16, 3)]:
        img = rng.randint(0, 256, shape).astype(np.uint8)
        out = mm.decode_png(mm.encode_png(img))
        assert out.shape == shape and (out == img).all()
    grad = np.tile(np.arange(32, dtype=np.uint8)[:, None, None], (1, 8, 3))
    png = mm.encode_png(grad)
    assert (mm.decode_png(png) == grad).all()
    # Up filter actually chosen for the constant-gradient body
    assert png != mm.encode_png(rng.randint(0, 256, grad.shape).astype(np.uint8))


def test_png_all_five_filters_match_slow_reference():
    """decode_png's vectorized filter reconstruction == a per-byte
    transliteration of PNG spec §9 Recon() for filters 0..4, on random
    filtered scanlines (gray / RGB / RGBA)."""
    import struct
    import zlib

    import numpy as np

    from post_modern_stack_spark.operators import multimodal as mm

    rng = np.random.RandomState(11)

    def build(w, h, ch, filters):
        stride = w * ch
        filt_rows = [rng.randint(0, 256, stride).astype(np.uint8) for _ in range(h)]
        recon = np.zeros((h, stride), dtype=np.int64)
        for y in range(h):
            f = filters[y % len(filters)]
            for i in range(stride):
                a = recon[y, i - ch] if i >= ch else 0
                b = recon[y - 1, i] if y > 0 else 0
                c = recon[y - 1, i - ch] if (y > 0 and i >= ch) else 0
                x = int(filt_rows[y][i])
                if f == 0:
                    r = x
                elif f == 1:
                    r = x + a
                elif f == 2:
                    r = x + b
                elif f == 3:
                    r = x + (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    r = x + pred
                recon[y, i] = r & 0xFF
        body = b"".join(
            bytes([filters[y % len(filters)]]) + filt_rows[y].tobytes()
            for y in range(h)
        )

        def chunk(tag, data):
            crc = zlib.crc32(tag + data) & 0xFFFFFFFF
            return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", crc)

        ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(body))
            + chunk(b"IEND", b"")
        )
        return png, recon.astype(np.uint8).reshape(h, w, ch)

    for ch in (1, 3, 4):
        png, expect = build(6, 9, ch, [0, 1, 2, 3, 4])
        assert (mm.decode_png(png) == expect).all()


def test_png_palette_decode():
    """Color type 3 (palette) expands through PLTE to RGB."""
    import struct
    import zlib

    import numpy as np

    from post_modern_stack_spark.operators import multimodal as mm

    palette = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    body = b"".join(b"\x00" + row.tobytes() for row in idx)

    def chunk(tag, data):
        crc = zlib.crc32(tag + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", crc)

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", palette.tobytes())
        + chunk(b"IDAT", zlib.compress(body))
        + chunk(b"IEND", b"")
    )
    assert (mm.decode_png(png) == palette[idx]).all()


def test_g711_mulaw_roundtrip_and_wav_container():
    """µ-law encode → expand-table decode stays within one companding
    segment (< 3.2 % of full scale at max amplitude); fmt=7 WAV decodes
    through the same decode_wav dispatch as PCM."""
    import numpy as np

    from post_modern_stack_spark.operators import multimodal as mm

    rng = np.random.RandomState(3)
    x = rng.uniform(-0.9, 0.9, 5000)
    table = mm._g711_mulaw_decode_table()
    codes = np.frombuffer(mm.mulaw_encode(x), dtype=np.uint8)
    assert np.abs(table[codes] / 32768.0 - x).max() < 0.032
    samples, rate = mm.decode_wav(mm.encode_wav_g711(x, 8000))
    assert rate == 8000 and samples.shape == (5000, 1)
    assert np.abs(samples[:, 0] - x).max() < 0.032
    # A-law table sanity: odd symmetric, full 16-bit-ish range
    a = mm._g711_alaw_decode_table()
    assert a.min() < -30000 and a.max() > 30000 and len(np.unique(a)) == 256


def test_resize_media_png_stays_png(spark):
    """PNG in → PNG out through resize_media; thumbnail decodes to the
    nearest-neighbor subsample of the source."""
    import numpy as np
    from pyspark.sql import Row

    from post_modern_stack_spark.operators import multimodal as mm

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, (8, 8, 3)).astype(np.uint8)
    media = spark.createDataFrame(
        [Row(media_id=1, kind="image", content=bytearray(mm.encode_png(img)))],
        mm.MEDIA_SCHEMA,
    )
    row = mm.resize_media(media, out_h=4, out_w=4).collect()[0]
    thumb = mm.decode_png(bytes(row["content"]))
    assert (thumb == mm.resize_image(img, 4, 4)).all()


def test_extract_features_png_real_codec(spark):
    """PNG features equal image_features of the decoded pixels."""
    import numpy as np
    from pyspark.sql import Row

    from post_modern_stack_spark.operators import multimodal as mm

    rng = np.random.RandomState(13)
    img = rng.randint(0, 256, (6, 6, 3)).astype(np.uint8)
    media = spark.createDataFrame(
        [Row(media_id=9, kind="image", content=bytearray(mm.encode_png(img)))],
        mm.MEDIA_SCHEMA,
    )
    row = mm.extract_features(media).collect()[0]
    assert np.allclose(row["features"], mm.image_features(img), rtol=1e-6)


def test_gif_lzw_and_animated_roundtrip():
    """GIF LZW encode→decode identity (incl. the KwKwK case via long
    runs) and full animated-GIF round trip with frame delays."""
    import numpy as np

    from post_modern_stack_spark.operators import multimodal as mm

    rng = np.random.RandomState(5)
    for mcs, n in [(2, 500), (4, 3000), (8, 20000)]:
        syms = rng.randint(0, 1 << mcs, n).tolist()
        syms += [syms[0]] * 300
        assert mm._lzw_decode_gif(mm._lzw_encode_gif(syms, mcs), mcs) == syms
    palette = rng.randint(0, 256, (12, 3)).astype(np.uint8)
    frames = palette[rng.randint(0, 12, (4, 10, 7))]
    dec, delays = mm.decode_gif(encode_gif(frames, [40, 40, 80, 120]))
    assert (dec == frames).all() and delays == [40, 40, 80, 120]
    import pytest

    with pytest.raises(NotImplementedError):
        encode_gif(rng.randint(0, 256, (1, 30, 30, 3)).astype(np.uint8))


def test_sample_frames_timeline(spark):
    """sample_frames picks the frame visible at each tick from the
    cumulative-delay timeline; luma and sha match per-frame numpy."""
    import hashlib

    import numpy as np
    from pyspark.sql import Row

    from post_modern_stack_spark.operators import multimodal as mm

    rng = np.random.RandomState(4)
    palette = rng.randint(0, 256, (4, 3)).astype(np.uint8)
    frames = palette[rng.randint(0, 4, (3, 6, 6))]
    gif = encode_gif(frames, [100, 50, 100])  # frame starts: 0, 100, 150
    media = spark.createDataFrame(
        [Row(media_id=1, kind="video", content=bytearray(gif))],
        mm.MEDIA_SCHEMA,
    )
    rows = {r["frame_ts_ms"]: r for r in mm.sample_frames(media, every_ms=50).collect()}
    assert sorted(rows) == [0, 50, 100, 150, 200]
    assert [rows[t]["frame_idx"] for t in sorted(rows)] == [0, 0, 1, 2, 2]
    for t, r in rows.items():
        f = frames[r["frame_idx"]]
        want_luma = float((f.astype(np.float64) @ [0.299, 0.587, 0.114]).mean() / 255.0)
        assert abs(r["mean_luma"] - want_luma) < 1e-5
        assert r["frame_sha"] == hashlib.sha256(f.tobytes()).hexdigest()


def test_extract_features_gif_keyframe(spark):
    """GIF features == image_features of the first frame."""
    import numpy as np
    from pyspark.sql import Row

    from post_modern_stack_spark.operators import multimodal as mm

    rng = np.random.RandomState(6)
    palette = rng.randint(0, 256, (6, 3)).astype(np.uint8)
    frames = palette[rng.randint(0, 6, (2, 5, 5))]
    media = spark.createDataFrame(
        [Row(media_id=2, kind="video", content=bytearray(encode_gif(frames)))],
        mm.MEDIA_SCHEMA,
    )
    row = mm.extract_features(media).collect()[0]
    assert np.allclose(row["features"], mm.image_features(frames[0]), rtol=1e-6)


# ---------------------------------------------------------------- JPEG


def test_jpeg_dct_matches_spec_reference():
    """The codec's block transforms must equal the direct O(N^4) T.81
    A.3.3 formula on every block of a grid, and invert each other —
    guards against a complementary encode/decode transform bug."""
    from post_modern_stack_spark.operators import jpeg

    rng = np.random.default_rng(11)
    blocks = rng.uniform(-128, 127, (2, 3, 8, 8))
    coef = jpeg._fdct_blocks(blocks)
    want = np.array([[fdct8x8_reference(b) for b in row] for row in blocks])
    assert np.abs(coef - want).max() < 1e-9
    assert np.abs(jpeg._idct_blocks(coef) - blocks).max() < 1e-9


def test_jpeg_roundtrip_444_and_420():
    import numpy as np

    from post_modern_stack_spark.operators import jpeg

    h, w = 48, 64
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx * 255 / w), (yy * 255 / h), ((xx + yy) * 255 / (h + w))], axis=-1
    ).astype(np.uint8)

    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=90))
    assert dec.shape == img.shape
    mse = np.mean((dec.astype(float) - img.astype(float)) ** 2)
    assert 10 * np.log10(255**2 / mse) > 35.0

    dec420 = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=75, subsample=True))
    assert dec420.shape == img.shape
    mse = np.mean((dec420.astype(float) - img.astype(float)) ** 2)
    assert 10 * np.log10(255**2 / mse) > 28.0


def test_jpeg_constant_image_is_exact():
    import numpy as np

    from post_modern_stack_spark.operators import jpeg

    c = np.full((16, 24, 3), 128, np.uint8)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(c, quality=90))
    assert np.abs(dec.astype(int) - 128).max() == 0


def test_jpeg_nonmultiple_of_mcu_dims():
    """Edge padding must not leak into the cropped output region."""
    import numpy as np

    from post_modern_stack_spark.operators import jpeg

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (19, 21, 3), dtype=np.int64).astype(np.uint8)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=95, subsample=True))
    assert dec.shape == (19, 21, 3)


def test_jpeg_progressive_rejected():
    import numpy as np
    import pytest as _pytest

    from post_modern_stack_spark.operators import jpeg

    enc = bytearray(jpeg.encode_jpeg(np.zeros((8, 8, 3), np.uint8)))
    i = enc.find(b"\xff\xc0")
    enc[i + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    with _pytest.raises(NotImplementedError, match="non-baseline"):
        jpeg.decode_jpeg(bytes(enc))


def test_jpeg_spark_pipeline_strict(spark):
    """resize_media + featurize over real JPEG bytes in Spark."""
    import numpy as np

    from post_modern_stack_spark.operators import jpeg

    rng = np.random.default_rng(5)
    rows = []
    for i in range(6):
        img = rng.integers(0, 256, (16, 16, 3), dtype=np.int64).astype(np.uint8)
        rows.append(
            Row(
                media_id=i,
                kind="image",
                content=bytearray(jpeg.encode_jpeg(img, subsample=bool(i % 2))),
            )
        )
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    feats = MM.extract_features(media).collect()
    assert len(feats) == 6
    assert all(len(r.features) == MM.FEATURE_DIM for r in feats)
    thumbs = MM.resize_media(media, out_h=8, out_w=8).collect()
    assert len(thumbs) == 6
    for r in thumbs:
        out = jpeg.decode_jpeg(bytes(r.content))
        assert out.shape == (8, 8, 3)


# ------------------------------------- property oracles: media queries
# Each media query synthesizes its bytes per document with an encoder of
# operators/multimodal; these checks rebuild them from the document's
# text (or id) and check the query's rows against them.

# µ-law's largest step is 1024/32768 (top segment), so the decoded
# samples, and with them the RMS, stay within half a step of the input
G711_BOUND = 512 / 32768
# the 8×8 JPEG thumbnail (q85 4:2:0 source, re-encoded at q85 4:4:4)
# against the nearest-neighbor resize of the source pixels: 27.5-30.0 dB
# over the 500 sf0.001 documents
JPEG_PSNR_FLOOR = 25.0


def _sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


def _thumbnails(rows, text, source):
    assert sorted(r.media_id for r in rows) == sorted(text)
    for r in rows:
        thumb = source(text[r.media_id])
        assert (r.out_h, r.out_w, r.n_bytes, r.thumb_sha) == (2, 2, len(thumb), _sha(thumb))


def _real_features(rows, text):
    assert sorted(r.media_id for r in rows) == sorted(text)
    for r in rows:
        t = text[r.media_id]
        f = MM.image_features(MM.digest_rgb(t))
        assert (r.n_bytes, r.content_sha) == (len(MM.digest_bmp(t)), _sha(MM.digest_bmp(t)))
        assert abs(r.mean_r - f[2]) < 2e-6 and abs(r.std_r - f[5]) < 2e-6


def _jpeg_pipeline(rows, text):
    from post_modern_stack_spark.operators import jpeg

    assert sorted(r.media_id for r in rows) == sorted(d for d in text if d < 2000)
    for r in rows:
        t = text[r.media_id]
        src = MM.resize_image(MM.gradient_rgb(t, 16), 8, 8)
        thumb = jpeg.encode_jpeg(MM.resize_image(jpeg.decode_jpeg(MM.gradient_jpeg(t)), 8, 8))
        assert (r.out_h, r.out_w, r.n_bytes, r.thumb_sha) == (8, 8, len(thumb), _sha(thumb))
        mse = np.mean((jpeg.decode_jpeg(thumb).astype(float) - src) ** 2)
        assert 10 * np.log10(255**2 / mse) >= JPEG_PSNR_FLOOR


def _g711_audio(rows, text):
    assert sorted(r.media_id for r in rows) == sorted(text)
    for r in rows:
        wave = MM.sine_wave(text[r.media_id])
        assert abs(r.duration_s - 0.05) < 1e-6  # a float32 feature
        assert r.n_bytes == len(MM.g711_sine(text[r.media_id]))
        assert abs(r.rms - np.sqrt(np.mean(wave**2))) <= G711_BOUND + 5e-6


def _video_frames(rows, text):
    got: dict = {}
    for r in rows:
        got.setdefault(r.media_id, []).append((r.frame_ts_ms, r.frame_idx, r.frame_sha))
    assert sorted(got) == sorted(text)
    for did, frames in got.items():
        idx, palette = MM.gif_indices(text[did])
        want = [(40 * i, i, _sha(palette[idx[i]].tobytes())) for i in range(4)]
        assert sorted(frames) == want


def _container_info(rows, text):
    assert sorted(r.media_id for r in rows) == sorted(text)
    for r in rows:
        did = r.media_id
        if did % 10 == 9:
            assert (r.kind, r.container, r.n_units) == ("corrupt", None, 0)
        elif did % 2 == 0:
            n = 1 + did % 20
            assert (r.kind, r.container, r.n_units, r.bitrate_kbps) == ("audio", "mp3", n, 128)
            assert abs(r.duration_ms - n * 1152 * 1000 / 44100) <= 0.5
        else:
            assert (r.kind, r.container, r.n_units) == ("video", "mp4", 2)
            assert r.duration_ms == 1000 * (1 + did % 30)


MEDIA_PROPERTIES = {
    "media_thumbnails": lambda rows, text: _thumbnails(
        rows, text, lambda t: MM.encode_bmp(MM.resize_image(MM.digest_rgb(t), 2, 2))
    ),
    "media_png_pipeline": lambda rows, text: _thumbnails(
        rows, text, lambda t: MM.encode_png(MM.resize_image(MM.gradient_rgb(t, 8), 2, 2))
    ),
    "media_real_features": _real_features,
    "media_jpeg_pipeline": _jpeg_pipeline,
    "media_g711_audio": _g711_audio,
    "media_video_frames": _video_frames,
    "media_container_info": _container_info,
}


@pytest.fixture(scope="module")
def doc_text(spark, sf_dir):
    from post_modern_stack_spark.registry import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    return {r.doc_id: r.text for r in docs}


@pytest.mark.parametrize("name", sorted(MEDIA_PROPERTIES))
def test_media_query_property(spark, sf_dir, doc_text, name):
    import __spark_entry__

    rows = __spark_entry__.queries()[name](spark, sf_dir).collect()
    MEDIA_PROPERTIES[name](rows, doc_text)


def test_media_modules_keep_one_boundary_and_one_codec_table():
    """The media modules cross into Python only through
    ``vectors.map_rows`` (the Arrow-only rule itself is checked
    package-wide in ``test_vectors.py``), the strict codec route is the
    only one, and the two codec operators dispatch through ``_CODECS``
    instead of testing magic bytes themselves."""
    import ast
    import inspect
    import pathlib
    import textwrap

    from post_modern_stack_spark.plans import catalog_multimodal

    for mod in (MM, catalog_multimodal):
        assert "mapInArrow" not in pathlib.Path(mod.__file__).read_text(), mod.__name__
    pkg = pathlib.Path(MM.__file__).resolve().parents[1]
    assert [p for p in pkg.rglob("*.py") if "require_real_codecs" in p.read_text()] == []
    for fn in (MM.extract_features, MM.resize_media):
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
        magic = [
            n.value
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant) and isinstance(n.value, bytes) and n.value
        ]
        assert magic == [], fn.__name__
