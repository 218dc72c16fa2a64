import pytest
from pyspark.sql import functions as F

from graphit_spark.functions import multimodal as M
from graphit_spark.graph import local_frame


@pytest.fixture(scope="module")
def docs(spark):
    return spark.range(0, 40).select(F.col("id").alias("doc_id"))


def test_attach_and_probe_metadata(spark, docs):
    imgs = M.attach_fake_images(docs)
    meta = M.image_metadata(imgs).collect()
    assert len(meta) == 40
    for r in meta:
        assert r["format"] == "fakeimg"
        assert r["width"] == 16 + r["doc_id"] % 48
        assert r["height"] == 16 + (r["doc_id"] * 7) % 48


def test_features_deterministic(spark, docs):
    imgs = M.attach_fake_images(docs)
    a = {r["doc_id"]: r["px_mean"] for r in M.image_features(imgs).collect()}
    b = {r["doc_id"]: r["px_mean"] for r in M.image_features(imgs).collect()}
    assert a == b
    assert all(0.0 <= v <= 255.0 for v in a.values())


def test_features_unknown_format_raises(spark):
    df = local_frame(spark, [(1, b"REALJPEG....")], "doc_id long, image binary")
    with pytest.raises(Exception) as ei:
        M.image_features(df).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_frame_sample_fanout(spark):
    rows = [(i, M.fake_video(i, frames=6)) for i in range(8)]
    df = local_frame(spark, rows, "doc_id long, video binary")
    frames = M.frame_sample(df, every_n=2).collect()
    # 6 frames, every 2nd -> 3 per video
    assert len(frames) == 8 * 3
    f0 = [r for r in frames if r["doc_id"] == 3]
    assert sorted(r["frame_idx"] for r in f0) == [0, 2, 4]
    w, h = 8 + 3 % 24, 8 + 9 % 24
    assert all(len(bytes(r["frame"])) == w * h for r in f0)


def test_image_resize_roundtrips_through_metadata(spark):
    from graphit_spark.functions.multimodal import (
        attach_fake_images, image_metadata, image_resize, image_features,
    )

    docs = local_frame(spark, [(i,) for i in range(6)], "doc_id long")
    imgs = attach_fake_images(docs)
    resized = image_resize(imgs, 8, 10)
    meta = {r["doc_id"]: (r["width"], r["height"])
            for r in image_metadata(resized).collect()}
    assert all(v == (8, 10) for v in meta.values())
    # resized container still feeds the feature extractor
    feats = image_features(resized).collect()
    assert len(feats) == 6 and all(0 <= r["px_mean"] <= 255 for r in feats)


def test_image_resize_deterministic(spark):
    from graphit_spark.functions.multimodal import attach_fake_images, image_resize

    docs = local_frame(spark, [(i,) for i in range(4)], "doc_id long")
    a = {r["doc_id"]: bytes(r["image"])
         for r in image_resize(attach_fake_images(docs), 5, 5).collect()}
    b = {r["doc_id"]: bytes(r["image"])
         for r in image_resize(attach_fake_images(docs), 5, 5).collect()}
    assert a == b


def test_audio_features(spark):
    from graphit_spark.functions.multimodal import attach_fake_audio, audio_features

    docs = local_frame(spark, [(i,) for i in range(5)], "doc_id long")
    rows = audio_features(attach_fake_audio(docs)).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["sample_rate"] in (8000, 12000, 16000)
        assert r["duration_sec"] > 0 and 0 <= r["rms"] <= 255


class TestRealCodecs:
    """BMP + PCM WAV are the real (stdlib-decodable) formats."""

    @staticmethod
    def _bmp24(w, h, rgb_rows):
        """Hand-built uncompressed 24-bpp BMP (bottom-up)."""
        import struct

        row_bytes = (w * 3 + 3) & ~3
        payload = b""
        for row in reversed(rgb_rows):
            line = b"".join(bytes([b, g, r]) for r, g, b in row)
            payload += line + b"\0" * (row_bytes - len(line))
        off = 14 + 40
        return (
            b"BM" + struct.pack("<IHHI", off + len(payload), 0, 0, off)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                          len(payload), 2835, 2835, 0, 0)
            + payload
        )

    @staticmethod
    def _wav(rate, samples):
        import io
        import struct
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as f:
            f.setnchannels(1)
            f.setsampwidth(2)
            f.setframerate(rate)
            f.writeframes(
                b"".join(struct.pack("<h", s) for s in samples)
            )
        return buf.getvalue()

    def test_bmp_metadata_and_features(self, spark):
        import numpy as np

        from graphit_spark.functions.multimodal import (
            encode_bmp_gray,
            image_features,
            image_metadata,
        )

        gray = np.arange(48, dtype=np.uint8).reshape(6, 8) * 5
        white = [[(255, 255, 255)] * 3] * 2
        df = local_frame(
            spark,
            [(0, bytearray(encode_bmp_gray(gray))),
             (1, bytearray(self._bmp24(3, 2, white)))],
            "doc_id long, image binary",
        )
        meta = {r["doc_id"]: r for r in image_metadata(df).collect()}
        assert (meta[0]["width"], meta[0]["height"], meta[0]["format"]) == (8, 6, "bmp")
        assert (meta[1]["width"], meta[1]["height"], meta[1]["format"]) == (3, 2, "bmp")
        feats = {r["doc_id"]: r for r in image_features(df).collect()}
        assert feats[0]["px_mean"] == float(gray.mean())
        assert feats[0]["px_min"] == 0 and feats[0]["px_max"] == 235
        assert feats[1]["px_mean"] == 255.0  # white stays white under 601 luma

    def test_bmp_resize_roundtrip_stays_bmp(self, spark):
        import numpy as np

        from graphit_spark.functions.multimodal import (
            encode_bmp_gray,
            image_metadata,
            image_resize,
        )

        gray = np.full((10, 10), 77, dtype=np.uint8)
        df = local_frame(
            spark,
            [(0, bytearray(encode_bmp_gray(gray)))], "doc_id long, image binary"
        )
        resized = image_resize(df, 4, 3)
        meta = image_metadata(resized).collect()[0]
        assert (meta["width"], meta["height"], meta["format"]) == (4, 3, "bmp")
        from graphit_spark.functions.multimodal import _decode_bmp

        arr = _decode_bmp(bytes(resized.collect()[0]["image"]))
        assert arr.shape == (3, 4) and (arr == 77).all()

    def test_bmp_short_palette_honors_biClrUsed(self, spark):
        """A legal 8-bpp BMP may carry fewer than 256 palette entries
        (biClrUsed at DIB offset 32); the decoder must size the palette
        from the header, not assume 256 (which would read pixel data as
        palette and corrupt luminance)."""
        import struct as st

        import numpy as np

        from graphit_spark.functions.multimodal import _decode_bmp

        # 4x2 image using palette indices 0..3; palette has ONLY 4 entries
        idx = np.array([[0, 1, 2, 3], [3, 2, 1, 0]], dtype=np.uint8)
        h, w = idx.shape
        row_bytes = (w + 3) & ~3
        rows = np.zeros((h, row_bytes), dtype=np.uint8)
        rows[:, :w] = idx
        payload = rows[::-1].tobytes()
        # grayscale palette entries 0, 60, 120, 180 (BGRX quads)
        pal = bytes(b for v in (0, 60, 120, 180) for b in (v, v, v, 0))
        data_off = 14 + 40 + len(pal)
        raw = (
            b"BM"
            + st.pack("<IHHI", data_off + len(payload), 0, 0, data_off)
            + st.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(payload),
                      2835, 2835, 4, 4)  # biClrUsed = biClrImportant = 4
            + pal
            + payload
        )
        arr = _decode_bmp(raw)
        exp = np.array([[0, 60, 120, 180], [180, 120, 60, 0]], np.uint8)
        assert arr.shape == (2, 4) and (arr == exp).all()

    def test_wav_features(self, spark):
        import numpy as np

        from graphit_spark.functions.multimodal import audio_features

        samples = [1000, -1000] * 400  # 800 samples of a square wave
        df = local_frame(
            spark,
            [(0, bytearray(self._wav(8000, samples)))],
            "doc_id long, audio binary",
        )
        r = audio_features(df).collect()[0]
        assert r["sample_rate"] == 8000
        assert abs(r["duration_sec"] - 0.1) < 1e-9
        assert abs(r["rms"] - 1000.0) < 1e-9

    def test_unknown_format_still_raises(self, spark):
        import pytest

        from graphit_spark.functions.multimodal import image_features

        df = local_frame(
            spark,
            [(0, bytearray(b"II*\x00 tiff not supported"))],
            "doc_id long, image binary",
        )
        with pytest.raises(
            Exception, match="decode beyond BMP/PNG/GIF/JPEG/PNM"
        ):
            image_features(df).collect()


class TestPngCodec:
    """PNG is the third real (stdlib-decodable) format: zlib inflate +
    the five scanline filters, all color types at 8-bit depth."""

    @staticmethod
    def _png(w, h, color, rows, plte=None, filters=None):
        """Hand-built PNG: `rows` is h scanlines of raw channel bytes;
        `filters[y]` filters scanline y on encode (so decode must
        invert it)."""
        import struct
        import zlib

        def flt(y, line, prev, bpp):
            f = (filters or [0] * h)[y]
            out = bytearray()
            for x, v in enumerate(line):
                a = line[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if f == 0:
                    out.append(v)
                elif f == 1:
                    out.append((v - a) & 0xFF)
                elif f == 2:
                    out.append((v - b) & 0xFF)
                elif f == 3:
                    out.append((v - ((a + b) >> 1)) & 0xFF)
                else:  # paeth
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else c)
                    out.append((v - pred) & 0xFF)
            return bytes([f]) + bytes(out)

        bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
        scan = b""
        prev = bytes(w * bpp)
        for y, line in enumerate(rows):
            scan += flt(y, line, prev, bpp)
            prev = line

        def chunk(typ, data):
            body = typ + data
            return (len(data).to_bytes(4, "big") + body
                    + (zlib.crc32(body) & 0xFFFFFFFF).to_bytes(4, "big"))

        out = b"\x89PNG\r\n\x1a\n" + chunk(
            b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
        if plte is not None:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b"")

    def test_gray_roundtrip_all_filters(self):
        import numpy as np

        from graphit_spark.functions.multimodal import (
            _decode_png, encode_png_gray,
        )

        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, (5, 9), dtype=np.uint8)
        # encoder (filter 0) round trip
        assert (_decode_png(encode_png_gray(img)) == img).all()
        # every filter type must invert exactly
        rows = [bytes(img[y]) for y in range(5)]
        for f in (0, 1, 2, 3, 4):
            raw = self._png(9, 5, 0, rows, filters=[f] * 5)
            assert (_decode_png(raw) == img).all(), f"filter {f}"
        # mixed filters per scanline
        raw = self._png(9, 5, 0, rows, filters=[0, 1, 2, 3, 4])
        assert (_decode_png(raw) == img).all()

    def test_color_types_reduce_to_luminance(self):
        import numpy as np

        from graphit_spark.functions.multimodal import _decode_png

        # RGB: pure red/green/blue pixels -> 601 integer luminance
        rgb_rows = [bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])]
        got = _decode_png(self._png(3, 1, 2, rgb_rows))
        assert got.tolist() == [[76, 149, 29]]
        # RGBA ignores alpha
        rgba_rows = [bytes([255, 0, 0, 7, 0, 255, 0, 7])]
        got = _decode_png(self._png(2, 1, 6, rgba_rows))
        assert got.tolist() == [[76, 149]]
        # palette indexes through PLTE luminance
        plte = bytes([255, 0, 0, 0, 255, 0, 10, 10, 10])
        got = _decode_png(self._png(3, 1, 3, [bytes([2, 0, 1])], plte=plte))
        assert got.tolist() == [[10, 76, 149]]
        # gray+alpha keeps the gray channel
        got = _decode_png(self._png(2, 1, 4, [bytes([33, 0, 99, 255])]))
        assert got.tolist() == [[33, 99]]

    def test_png_through_pipeline_and_resize_stays_png(self, spark):
        import numpy as np

        from graphit_spark.functions.multimodal import (
            _decode_png,
            encode_png_gray,
            image_features,
            image_metadata,
            image_resize,
        )

        img = (np.arange(96, dtype=np.uint8).reshape(8, 12) * 2)
        df = local_frame(
            spark,
            [(0, bytearray(encode_png_gray(img)))],
            "doc_id long, image binary",
        )
        meta = image_metadata(df).collect()[0]
        assert (meta["format"], meta["width"], meta["height"]) == ("png", 12, 8)
        feats = image_features(df).collect()[0]
        assert feats["px_mean"] == float(img.mean())
        resized = image_resize(df, 6, 4).collect()[0]["image"]
        arr = _decode_png(bytes(resized))
        assert arr.shape == (4, 6)
        m2 = image_metadata(
            local_frame(spark, [(0, bytearray(bytes(resized)))],
                                  "doc_id long, image binary")
        ).collect()[0]
        assert (m2["format"], m2["width"], m2["height"]) == ("png", 6, 4)

    def test_unsupported_png_variants_raise(self):
        import struct
        import zlib

        import pytest

        from graphit_spark.functions.multimodal import _decode_png

        def chunk(typ, data):
            body = typ + data
            return (len(data).to_bytes(4, "big") + body
                    + (zlib.crc32(body) & 0xFFFFFFFF).to_bytes(4, "big"))

        # 16-bit depth
        raw = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 16, 0, 0, 0, 0))
               + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00\x00\x00"))
               + chunk(b"IEND", b""))
        with pytest.raises(NotImplementedError):
            _decode_png(raw)
        # interlaced
        raw = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 0, 0, 0, 1))
               + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
               + chunk(b"IEND", b""))
        with pytest.raises(NotImplementedError):
            _decode_png(raw)


class TestGifPnmCodecs:
    def test_gif_roundtrip_exact(self):
        import numpy as np

        from graphit_spark.functions.multimodal import (
            _decode_gif,
            encode_gif_gray,
        )

        rng = np.random.RandomState(11)
        img = rng.randint(0, 256, (41, 29), dtype=np.uint8)
        # gray palette luminance is exact, so the round-trip is bitwise
        assert (_decode_gif(encode_gif_gray(img)) == img).all()

    def test_gif_interlaced_and_extensions(self):
        import struct

        import numpy as np

        from graphit_spark.functions.multimodal import (
            _decode_gif,
            encode_gif_gray,
        )

        img = np.arange(64, dtype=np.uint8).reshape(8, 8) * 3
        raw = bytearray(encode_gif_gray(img))
        # splice a GCE extension block before the image descriptor and
        # flip the interlace flag, reordering rows into the 4 passes
        idesc = raw.index(0x2C, 13 + 768)
        gce = bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])
        h = 8
        order = (
            list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2))
        )
        inter = encode_gif_gray(img[order])  # rows stored in pass order
        ib = bytearray(inter[13 + 768:])
        ib[9] |= 0x40  # interlace flag in the image descriptor
        spliced = bytes(raw[:idesc]) + gce + bytes(ib)
        assert (_decode_gif(spliced) == img).all()

    def test_pnm_pipeline_and_resize_stays_pgm(self, spark):
        import numpy as np

        from graphit_spark.functions.multimodal import (
            _decode_pnm,
            encode_pgm_gray,
            image_features,
            image_metadata,
            image_resize,
        )

        img = (np.arange(60, dtype=np.uint8).reshape(6, 10) * 4)
        df = local_frame(
            spark,
            [(0, bytearray(encode_pgm_gray(img)))],
            "doc_id long, image binary",
        )
        meta = image_metadata(df).collect()[0]
        assert (meta["format"], meta["width"], meta["height"]) == ("pgm", 10, 6)
        feats = image_features(df).collect()[0]
        assert feats["px_mean"] == float(img.mean())
        resized = image_resize(df, 5, 3).collect()[0]["image"]
        assert (_decode_pnm(bytes(resized)).shape) == (3, 5)

    def test_gif_through_pipeline_and_resize_stays_gif(self, spark):
        import numpy as np

        from graphit_spark.functions.multimodal import (
            _decode_gif,
            encode_gif_gray,
            image_metadata,
            image_resize,
        )

        img = np.arange(96, dtype=np.uint8).reshape(8, 12) * 2
        df = local_frame(
            spark,
            [(0, bytearray(encode_gif_gray(img)))],
            "doc_id long, image binary",
        )
        meta = image_metadata(df).collect()[0]
        assert (meta["format"], meta["width"], meta["height"]) == ("gif", 12, 8)
        resized = image_resize(df, 6, 4).collect()[0]["image"]
        arr = _decode_gif(bytes(resized))
        assert arr.shape == (4, 6)
        # nearest-neighbor resize of the encoder's exact round-trip
        ys = (np.arange(4) * 8 // 4).clip(0, 7)
        xs = (np.arange(6) * 12 // 6).clip(0, 11)
        assert (arr == img[np.ix_(ys, xs)]).all()

    def test_ppm_color_reduces_to_luminance(self):
        from graphit_spark.functions.multimodal import _decode_pnm

        # one red, one white pixel: ITU-R 601 integer luminance
        raw = b"P6\n# rgb\n2 1\n255\n" + bytes((255, 0, 0, 255, 255, 255))
        arr = _decode_pnm(raw)
        assert arr[0, 0] == 255 * 299 // 1000 and arr[0, 1] == 255


class TestCodecFuzz:
    """Property fuzz: every gray image round-trips bit-exactly through
    the real stdlib codecs (no Spark session needed)."""

    def _fuzz(self, encode, decode):
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=25, deadline=None)
        @given(
            st.integers(1, 40),
            st.integers(1, 40),
            st.integers(0, 2**32 - 1),
        )
        def prop(h, w, seed):
            img = np.random.RandomState(seed).randint(
                0, 256, (h, w), dtype=np.uint8
            )
            assert (decode(encode(img)) == img).all()

        prop()

    def test_gif_roundtrip_fuzz(self):
        from graphit_spark.functions.multimodal import (
            _decode_gif,
            encode_gif_gray,
        )

        self._fuzz(encode_gif_gray, _decode_gif)

    def test_pgm_roundtrip_fuzz(self):
        from graphit_spark.functions.multimodal import (
            _decode_pnm,
            encode_pgm_gray,
        )

        self._fuzz(encode_pgm_gray, _decode_pnm)

    def test_bmp_png_roundtrip_fuzz(self):
        from graphit_spark.functions.multimodal import (
            _decode_bmp,
            _decode_png,
            encode_bmp_gray,
            encode_png_gray,
        )

        self._fuzz(encode_bmp_gray, _decode_bmp)
        self._fuzz(encode_png_gray, _decode_png)


class TestAviCodec:
    def _frames(self, n=6, h=5, w=7):
        import numpy as np

        return [
            (np.arange(h * w, dtype=np.uint8).reshape(h, w) + 11 * k) % 251
            for k in range(n)
        ]

    def test_roundtrip_exact(self):
        from graphit_spark.functions.multimodal import (
            _decode_avi,
            encode_avi_gray,
        )

        frames = self._frames()
        got = _decode_avi(encode_avi_gray(frames, fps=12))
        assert len(got) == len(frames)
        for a, b in zip(got, frames):
            assert (a == b).all()

    def test_header_probe_and_metadata(self, spark):
        from graphit_spark.functions.multimodal import (
            _avi_headers,
            encode_avi_gray,
            image_metadata,
        )

        raw = encode_avi_gray(self._frames(4, 3, 9))
        w, h, frames, bpp, comp, pal, movi = _avi_headers(raw)
        assert (w, h, frames, bpp, comp) == (9, 3, 4, 8, 0)
        assert pal is not None and movi is not None
        df = local_frame(
            spark,
            [(0, bytearray(raw))], "doc_id long, video binary"
        )
        meta = image_metadata(df, bin_col="video").collect()[0]
        assert (meta["width"], meta["height"], meta["format"]) == (9, 3, "avi")

    def test_frame_sample_yields_readable_bmps(self, spark):
        """The real-container path: sampled AVI frames come out as
        decodable BMPs, so image_features composes downstream."""
        from graphit_spark.functions.multimodal import (
            _decode_bmp,
            encode_avi_gray,
            frame_sample,
            image_features,
        )

        frames = self._frames(6, 5, 7)
        df = local_frame(
            spark,
            [(0, bytearray(encode_avi_gray(frames)))],
            "doc_id long, video binary",
        )
        out = frame_sample(df, every_n=2).collect()
        assert [r["frame_idx"] for r in out] == [0, 2, 4]
        for r in out:
            arr = _decode_bmp(bytes(r["frame"]))
            assert (arr == frames[r["frame_idx"]]).all()
        fr_df = local_frame(
            spark,
            [(r["frame_idx"], bytearray(r["frame"])) for r in out],
            "frame_idx long, image binary",
        )
        feats = {r["frame_idx"]: r["px_mean"] for r in image_features(fr_df).collect()}
        assert feats[0] == float(frames[0].mean())

    def test_compressed_stream_raises(self):
        from graphit_spark.functions.multimodal import (
            _decode_avi,
            encode_avi_gray,
        )
        import pytest as _pytest

        raw = bytearray(encode_avi_gray(self._frames(2)))
        # flip strf biCompression to an H.264 fourcc (MJPG now decodes
        # for real through the JPEG codec — see TestMjpgAvi)
        strf_at = raw.find(b"strf")
        raw[strf_at + 8 + 16:strf_at + 8 + 20] = b"H264"
        with _pytest.raises(NotImplementedError):
            _decode_avi(bytes(raw))


class TestJpegCodec:
    def test_roundtrip_close_on_smooth_image(self):
        import numpy as np

        from graphit_spark.functions.multimodal import (
            _decode_jpeg,
            encode_jpeg_gray,
        )

        grad = np.add.outer(
            np.arange(32) * 3, np.arange(40) * 2
        ).astype(np.uint8)
        dec = _decode_jpeg(encode_jpeg_gray(grad))
        assert dec.shape == grad.shape
        err = np.abs(dec.astype(int) - grad.astype(int))
        # lossy by design: quantization error, bounded and small on a
        # smooth ramp
        assert err.max() <= 8 and err.mean() < 2.0

    def test_roundtrip_nonmultiple_of_8_dims(self):
        import numpy as np

        from graphit_spark.functions.multimodal import (
            _decode_jpeg,
            encode_jpeg_gray,
        )

        rng = np.random.RandomState(5)
        img = rng.randint(0, 256, (23, 17), dtype=np.uint8)
        dec = _decode_jpeg(encode_jpeg_gray(img))
        assert dec.shape == (23, 17)  # padding cropped exactly

    def test_flat_image_roundtrips_exactly(self):
        import numpy as np

        from graphit_spark.functions.multimodal import (
            _decode_jpeg,
            encode_jpeg_gray,
        )

        # 80: DC = 8*(80-128) = -384 = -24 * 16 — lands exactly on the
        # quant grid, so a flat image reconstructs bitwise (odd values
        # sit on a half-step and shift by one: JPEG, working as designed)
        img = np.full((16, 16), 80, dtype=np.uint8)
        assert (_decode_jpeg(encode_jpeg_gray(img)) == img).all()

    def test_progressive_raises(self):
        import pytest

        from graphit_spark.functions.multimodal import (
            _decode_jpeg,
            encode_jpeg_gray,
        )
        import numpy as np

        raw = bytearray(
            encode_jpeg_gray(np.zeros((8, 8), dtype=np.uint8))
        )
        i = raw.index(0xC0, 2)  # SOF0 marker byte (after 0xFF)
        assert raw[i - 1] == 0xFF
        raw[i] = 0xC2  # pretend progressive
        with pytest.raises(NotImplementedError):
            _decode_jpeg(bytes(raw))

    def test_jpeg_through_pipeline_and_resize_stays_jpeg(self, spark):
        import numpy as np

        from graphit_spark.functions.multimodal import (
            _decode_jpeg,
            encode_jpeg_gray,
            image_features,
            image_metadata,
            image_resize,
        )

        imgs = [
            np.add.outer(
                np.arange(20) * (i + 2), np.arange(30)
            ).astype(np.uint8)
            for i in range(3)
        ]
        df = local_frame(
            spark,
            [(i, bytearray(encode_jpeg_gray(img))) for i, img in
             enumerate(imgs)],
            "doc_id long, image binary",
        )
        meta = {
            r["doc_id"]: (r["width"], r["height"], r["format"])
            for r in image_metadata(df).collect()
        }
        assert meta == {0: (30, 20, "jpeg"), 1: (30, 20, "jpeg"),
                        2: (30, 20, "jpeg")}
        feats = image_features(df).collect()
        assert len(feats) == 3 and all(
            0 <= r["px_mean"] <= 255 for r in feats
        )
        resized = image_resize(df, 10, 8).collect()
        for r in resized:
            arr = _decode_jpeg(bytes(r["image"]))
            assert arr.shape == (8, 10)  # still a readable real JPEG


class TestMjpgAvi:
    def test_mjpg_roundtrip_and_frame_sample(self, spark):
        import numpy as np

        from graphit_spark.functions.multimodal import (
            _decode_avi,
            _decode_bmp,
            encode_avi_mjpg,
            frame_sample,
            image_metadata,
        )

        frames = [
            np.add.outer(
                np.arange(16) * (i + 1), np.arange(24)
            ).astype(np.uint8)
            for i in range(4)
        ]
        raw = encode_avi_mjpg(frames)
        dec = _decode_avi(raw)
        assert len(dec) == 4 and dec[0].shape == (16, 24)
        for d, f in zip(dec, frames):
            assert np.abs(d.astype(int) - f.astype(int)).max() <= 4

        df = local_frame(
            spark,
            [(0, bytearray(raw))], "doc_id long, video binary"
        )
        meta = image_metadata(df, bin_col="video").collect()[0]
        assert (meta["width"], meta["height"], meta["format"]) == (
            24, 16, "avi",
        )
        kept = frame_sample(df, every_n=2).collect()
        assert len(kept) == 2  # frames 0 and 2
        for r in kept:
            arr = _decode_bmp(bytes(r["frame"]))
            assert arr.shape == (16, 24)
