"""Stdlib header codec (round-2 verdict #3: the repo's last stub) +
multimodal decode plumbing.

Fixture bytes are hand-built from the specs (PNG §11.2.2, GIF89a §18,
ITU T.81 §B.2.2, TIFF 6.0 §2, BITMAPINFOHEADER) plus the reference's
own canonical 1x1 base64 fixtures (synthetic.py ←
tests/utils/test_ocr_response_formatter.py:45,66,78).
"""

import base64
import struct

import pytest

from n8n_tools_api_spark.operators.multimodal import (
    _decode_one,
    _fake_decode,
    decode_media,
    real_decode,
)
from n8n_tools_api_spark.sources.synthetic import (
    CANONICAL_GIF_B64,
    CANONICAL_JPEG_B64,
    CANONICAL_PNG_B64,
)


def _png(width, height, color_type=6):
    ihdr = struct.pack(">II", width, height) + bytes([8, color_type, 0, 0, 0])
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + ihdr
            + b"\x00" * 4)


def _gif(width, height):
    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00\x00\x00"


def _jpeg(width, height, channels=3):
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (b"\xff\xc0" + struct.pack(">H", 8 + 3 * channels) + b"\x08"
            + struct.pack(">HH", height, width) + bytes([channels])
            + b"\x01\x11\x00" * channels)
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _tiff(width, height, little=True):
    end = "<" if little else ">"
    magic = b"II*\x00" if little else b"MM\x00*"
    header = magic + struct.pack(f"{end}I", 8)
    tags = struct.pack(f"{end}H", 2)
    tags += struct.pack(f"{end}HHI", 256, 3, 1) + struct.pack(f"{end}HH", width, 0)
    tags += struct.pack(f"{end}HHI", 257, 4, 1) + struct.pack(f"{end}I", height)
    return header + tags + struct.pack(f"{end}I", 0)


def _bmp(width, height):
    info = struct.pack("<IiiHH", 40, width, height, 1, 24) + b"\x00" * 24
    return b"BM" + struct.pack("<IHHI", 14 + 40, 0, 0, 54) + info


class TestRealDecode:
    def test_reference_canonical_fixtures_are_1x1(self):
        assert real_decode(base64.b64decode(CANONICAL_PNG_B64))[:2] == (1, 1)
        assert real_decode(base64.b64decode(CANONICAL_JPEG_B64))[:2] == (1, 1)
        assert real_decode(base64.b64decode(CANONICAL_GIF_B64))[:2] == (1, 1)

    def test_png_dims_and_channels(self):
        assert real_decode(_png(640, 480, color_type=6)) == (640, 480, 4)
        assert real_decode(_png(31, 7, color_type=0)) == (31, 7, 1)
        assert real_decode(_png(12, 34, color_type=2)) == (12, 34, 3)

    def test_gif_dims(self):
        assert real_decode(_gif(320, 200)) == (320, 200, 3)

    def test_jpeg_sof_scan_skips_app_segments(self):
        assert real_decode(_jpeg(1024, 768, channels=3)) == (1024, 768, 3)
        assert real_decode(_jpeg(55, 66, channels=1)) == (55, 66, 1)

    def test_tiff_both_endians(self):
        assert real_decode(_tiff(800, 600, little=True)) == (800, 600, 3)
        assert real_decode(_tiff(800, 600, little=False)) == (800, 600, 3)

    def test_bmp_negative_height_is_topdown(self):
        assert real_decode(_bmp(64, 48)) == (64, 48, 3)
        assert real_decode(_bmp(64, -48)) == (64, 48, 3)

    def test_unknown_format_raises(self):
        with pytest.raises(ValueError):
            real_decode(b"OggS\x00 not an image")
        with pytest.raises(ValueError):
            real_decode(b"")

    def test_decode_one_falls_back_deterministically(self):
        payload = b"RIFF....WAVEfmt "  # audio container: no header codec
        assert _decode_one(payload) == _fake_decode(payload)
        # but a parsable image never hits the fake path
        assert _decode_one(_png(9, 9)) == (9, 9, 4)

    def test_truncated_jpeg_falls_back_not_crashes(self):
        assert _decode_one(b"\xff\xd8\xff\xe0\x00") == _fake_decode(
            b"\xff\xd8\xff\xe0\x00")

    def test_truncated_payloads_raise_valueerror_not_struct_error(self):
        """Public contract: real_decode raises ValueError for anything
        it can't parse — struct/index errors from truncated recognized
        formats must be wrapped, not leak (review finding)."""
        truncated_tiff = b"II*\x00\xff\xff\xff\xff"  # IFD offset past EOF
        # IFD claims 2 tags but the payload ends mid-tag-table
        cut_tags = _tiff(800, 600, little=False)[:14]
        for payload in (truncated_tiff, cut_tags):
            with pytest.raises(ValueError):
                real_decode(payload)
            assert _decode_one(payload) == _fake_decode(payload)

    def test_malformed_bmp_nonpositive_width_falls_back(self):
        """A BMP with negative width is malformed (only height may be
        negative = top-down); it must fall back to the fake, never
        return a negative width (review finding)."""
        bad = _bmp(-64, 48)
        with pytest.raises(ValueError):
            real_decode(bad)
        assert _decode_one(bad) == _fake_decode(bad)


class TestResizeAndFrames:
    def test_resize_plan_fit_in_box_never_upscales(self, spark):
        from n8n_tools_api_spark.operators.multimodal import resize_plan

        decoded = spark.createDataFrame(
            [("big", "image", 2048, 1024, 3, 1),
             ("small", "image", 100, 50, 4, 2),
             ("tall", "image", 10, 4000, 1, 3)],
            "media_key string, kind string, width int, height int, "
            "n_channels int, feature_hash bigint",
        )
        out = {r["media_key"]: r
               for r in resize_plan(decoded).collect()}
        assert (out["big"]["out_width"], out["big"]["out_height"]) == (512, 256)
        assert out["big"]["resized"] is True
        # never upscale: small stays at native size, scale 100%
        assert (out["small"]["out_width"], out["small"]["out_height"]) == (100, 50)
        assert out["small"]["scale_pct"] == 100.0
        assert out["small"]["resized"] is False
        # extreme aspect: the 1px floor-guard holds
        assert out["tall"]["out_height"] == 512
        assert out["tall"]["out_width"] == 1

    def test_sample_frames_cap_and_accounting(self, spark):
        from n8n_tools_api_spark.operators.multimodal import sample_frames

        assets = spark.createDataFrame(
            [("v_long", "video", bytearray(b"x" * 20480)),   # 20 s fake
             ("a_short", "audio", bytearray(b"x" * 512)),    # 0.5 s
             ("img", "image", bytearray(b"x" * 4096))],      # filtered out
            "media_key string, kind string, media_bytes binary",
        )
        rows = sample_frames(assets).collect()
        by_key: dict[str, list] = {}
        for r in rows:
            by_key.setdefault(r["media_key"], []).append(r)
        assert "img" not in by_key  # images never enter the frame grid
        # 20 s at 2 fps = 41 grid points, capped at 16, 25 dropped
        longs = sorted(by_key["v_long"], key=lambda r: r["frame_idx"])
        assert len(longs) == 16
        assert all(r["frames_dropped"] == 25 for r in longs)
        assert [r["ts_ms"] for r in longs[:3]] == [0.0, 500.0, 1000.0]
        shorts = by_key["a_short"]
        assert len(shorts) == 2 and shorts[0]["frames_dropped"] == 0

    def test_sample_frames_null_payload_stays_total(self, spark):
        """advice finding: a NULL media_bytes row must not vanish from
        the output — it yields the same single t=0 frame a zero-byte
        payload does, with frames_dropped accounted (0)."""
        from n8n_tools_api_spark.operators.multimodal import sample_frames

        assets = spark.createDataFrame(
            [("v_null", "video", None),
             ("a_empty", "audio", bytearray(b""))],
            "media_key string, kind string, media_bytes binary",
        )
        rows = sample_frames(assets).collect()
        got = {r["media_key"]: (r["frame_idx"], r["ts_ms"],
                                r["frames_dropped"]) for r in rows}
        assert got == {"v_null": (0, 0.0, 0), "a_empty": (0, 0.0, 0)}


class TestDecodeMediaStage:
    def test_real_dims_flow_through_mapinpandas(self, spark):
        rows = [
            ("k_png", "image", bytearray(_png(300, 100, color_type=2))),
            ("k_gif", "image", bytearray(_gif(16, 8))),
            ("k_wav", "audio", bytearray(b"RIFF....WAVEfmt ")),
        ]
        assets = spark.createDataFrame(
            rows, "media_key string, kind string, media_bytes binary")
        got = {r["media_key"]: (r["width"], r["height"], r["n_channels"])
               for r in decode_media(assets).collect()}
        assert got["k_png"] == (300, 100, 3)
        assert got["k_gif"] == (16, 8, 3)
        # audio payload: deterministic fake, stable across runs
        assert got["k_wav"] == _fake_decode(b"RIFF....WAVEfmt ")
