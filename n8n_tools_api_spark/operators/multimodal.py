"""Multimodal column plumbing — image/audio/video as opaque binary.

The decode stage is a REAL stdlib-only header codec for the still-image
formats the corpus carries (PNG / JPEG / GIF / TIFF / BMP dimensions
parsed with ``struct`` — no PIL needed); payloads of any other format
(audio/video frames, exotic codecs) fall back to a deterministic fake
so the plumbing stays total. What is also real and tested either way:
the schema, the Arrow batch shape, the partitioning, and the UDF
plumbing — fat bytes never cross a shuffle.

Typed layout::

    media_assets (
      media_key  STRING,      -- sha256[:16] of payload
      kind       STRING,      -- 'image' | 'audio' | 'video'
      media_bytes BINARY,     -- opaque payload
      meta       STRUCT<ext:STRING, n_bytes:INT>
    )
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.pyworker import udf_body

DECODED_SCHEMA = (
    "media_key string, kind string, width int, height int, "
    "n_channels int, feature_hash bigint"
)

# PNG color type → sample channels (PNG spec §11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 3, 4: 2, 6: 4}
# JPEG C0-CF markers that look like SOF but carry no frame header
_JPEG_NON_SOF = {0xC4, 0xC8, 0xCC}


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for payloads the header codec can't parse
    (audio/video/unknown — no ffmpeg in this container). Derives
    (w, h, channels) from the payload digest; a real deployment swaps
    in ffmpeg inside the same mapInPandas signature.
    """
    d = hashlib.sha256(payload).digest()
    return (d[0] % 64 + 1, d[1] % 64 + 1, (d[2] % 3) + 1)


def real_decode(payload: bytes) -> tuple[int, int, int]:
    """Stdlib header codec: (width, height, n_channels) for PNG / GIF /
    JPEG / TIFF / BMP payloads, parsed straight from the byte layout —
    no image library required.

    - PNG: IHDR width/height = big-endian uint32 at bytes 16-24, color
      type at byte 25 (PNG spec §11.2.2).
    - GIF: logical-screen width/height = little-endian uint16 at bytes
      6-10 (GIF89a spec §18); palette images decode to RGB.
    - JPEG: scan the marker stream for the first SOFn (C0-CF minus
      C4/C8/CC); height/width = big-endian uint16 at +5/+7 in the frame
      header, component count at +9 (ITU T.81 §B.2.2).
    - TIFF (both endians, refsem/filetypes.py magic): walk IFD0 for
      tags 256/257 (ImageWidth/ImageLength), SHORT or LONG.
    - BMP: width/height = int32 LE at 18/22 (BITMAPINFOHEADER).

    Raises ValueError for anything else — callers that must stay total
    (the batch decode stage) catch it and fall back to ``_fake_decode``.
    Truncated/malformed payloads of a recognized format also surface as
    ValueError (struct/index errors are wrapped), so the documented
    contract holds for external callers.
    """
    try:
        return _real_decode_raw(payload)
    except (struct.error, IndexError) as e:
        raise ValueError(f"truncated or malformed image payload: {e}") from e


def _real_decode_raw(payload: bytes) -> tuple[int, int, int]:
    if payload.startswith(b"\x89PNG\r\n\x1a\n") and len(payload) >= 26:
        w, h = struct.unpack(">II", payload[16:24])
        return (w, h, _PNG_CHANNELS.get(payload[25], 3))
    if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        w, h = struct.unpack("<HH", payload[6:10])
        return (w, h, 3)
    if payload.startswith(b"\xff\xd8\xff"):
        i = 2
        while i + 9 < len(payload) and payload[i] == 0xFF:
            marker = payload[i + 1]
            if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
                i += 2  # standalone marker, no length field
                continue
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if 0xC0 <= marker <= 0xCF and marker not in _JPEG_NON_SOF:
                h, w = struct.unpack(">HH", payload[i + 5:i + 9])
                return (w, h, payload[i + 9])
            seg_len = struct.unpack(">H", payload[i + 2:i + 4])[0]
            nxt = i + 2 + seg_len
            if nxt + 1 < len(payload) and payload[nxt] != 0xFF:
                # declared length doesn't land on a marker (the
                # reference's own 1x1 canonical JPEG fixture declares a
                # 67-byte DQT that is really 64): resync like tolerant
                # decoders — scan from just past the length field for
                # the next 0xFF + valid marker byte
                j = payload.find(b"\xff", i + 2)
                while (j != -1 and j + 1 < len(payload)
                       and payload[j + 1] in (0x00, 0xFF)):
                    j = payload.find(b"\xff", j + 2)
                if j == -1:
                    break
                nxt = j
            i = nxt
        raise ValueError("JPEG payload has no SOF frame header")
    if payload[:4] in (b"II*\x00", b"MM\x00*") and len(payload) >= 8:
        return _tiff_dims(payload)
    if payload.startswith(b"BM") and len(payload) >= 26:
        w, h = struct.unpack("<ii", payload[18:26])
        if w <= 0 or h == 0:  # negative height = top-down row order is
            # legal, but width must be positive and height non-zero
            raise ValueError(f"malformed BMP dimensions ({w}x{h})")
        return (w, abs(h), 3)
    raise ValueError("unrecognized image format (no PNG/GIF/JPEG/TIFF/BMP "
                     "magic); audio/video need an external codec")


def _tiff_dims(payload: bytes) -> tuple[int, int, int]:
    end = "<" if payload[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack(f"{end}I", payload[4:8])
    (n_tags,) = struct.unpack(f"{end}H", payload[ifd_off:ifd_off + 2])
    width = height = None
    for t in range(n_tags):
        off = ifd_off + 2 + 12 * t
        tag, typ = struct.unpack(f"{end}HH", payload[off:off + 4])
        if tag in (256, 257):
            # count==1 → the value is inlined in the 4-byte value slot
            if typ == 3:   # SHORT
                (val,) = struct.unpack(f"{end}H", payload[off + 8:off + 10])
            else:          # LONG
                (val,) = struct.unpack(f"{end}I", payload[off + 8:off + 12])
            if tag == 256:
                width = val
            else:
                height = val
    if width is None or height is None:
        raise ValueError("TIFF IFD0 lacks ImageWidth/ImageLength tags")
    return (width, height, 3)


def _decode_one(payload: bytes) -> tuple[int, int, int]:
    try:
        return real_decode(payload)
    except (ValueError, struct.error, IndexError):
        return _fake_decode(payload)


@udf_body
def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        keys, kinds, ws, hs, cs, fh = [], [], [], [], [], []
        for key, kind, payload in zip(pdf["media_key"], pdf["kind"],
                                      pdf["media_bytes"]):
            payload = bytes(payload) if payload is not None else b""
            w, h, c = _decode_one(payload)
            keys.append(key)
            kinds.append(kind)
            ws.append(w)
            hs.append(h)
            cs.append(c)
            # feature extraction stub: stable 64-bit content feature
            fh.append(int.from_bytes(hashlib.sha256(payload).digest()[:8],
                                     "big", signed=True))
        yield pd.DataFrame({
            "media_key": keys, "kind": kinds, "width": ws, "height": hs,
            "n_channels": cs, "feature_hash": fh,
        })


def decode_media(assets: DataFrame) -> DataFrame:
    """Decode/feature-extract stage over a media_assets table.

    Narrow mapInPandas over (media_key, kind, media_bytes); Arrow moves
    the binary column zero-copy; output is slim typed metadata so the
    fat payload column never crosses a shuffle.
    """
    return assets.select("media_key", "kind", "media_bytes").mapInPandas(
        _decode_batches, schema=DECODED_SCHEMA
    )


def resize_plan(decoded: DataFrame) -> DataFrame:
    """Fit-in-box resize plan over decode_media output — pure column
    math, no UDF.

    Training pipelines normalize image sizes before feature extraction;
    the PLAN (target dims, scale) is closed-form from the decoded
    header dims: ``scale = min(1, 512/w, 512/h)`` (a 512×512 box,
    never upscale), output dims floored with a 1px floor-guard, aspect
    preserved. The pixel resample itself would be a Pandas-UDF stage
    shaped exactly like decode_media (no image library in this
    container — a real deployment drops PIL/cv2 into the same
    mapInPandas signature); everything up to the pixels is real,
    typed, and DuckDB-replayable (oracle: ``media_resize_plan``).
    """
    from pyspark.sql import functions as F

    w = F.col("width").cast("double")
    h = F.col("height").cast("double")
    scale = F.least(F.lit(1.0), F.lit(512.0) / w, F.lit(512.0) / h)
    return decoded.select(
        "media_key", "kind", "width", "height", "n_channels",
        F.greatest(F.lit(1), F.floor(w * scale)).cast("int")
        .alias("out_width"),
        F.greatest(F.lit(1), F.floor(h * scale)).cast("int")
        .alias("out_height"),
        F.round(scale * 100, 4).alias("scale_pct"),
        (scale < 1.0).alias("resized"),
    )


# sample_frames' grid: frames at 1/FRAME_FPS-second intervals
FRAME_FPS = 2.0


def sample_frames(assets: DataFrame) -> DataFrame:
    """Frame-sampling plan for audio/video payloads — one row per
    sampled frame: (media_key, kind, frame_idx, ts_ms).

    No ffmpeg in this container, so duration comes from the documented
    deterministic fake (``n_bytes / 1024`` seconds — a fixed fake
    bitrate); the sampling grid itself is the real logic a decoder
    would drive: frames at 1/FRAME_FPS intervals from t=0, capped at
    16 (cap logged per-asset as ``frames_dropped``). The
    fan-out is a JVM-side ``explode(sequence(...))`` — the fat payload
    column is dropped before the explode so bytes never multiply.
    A real deployment swaps the duration fake for an ffprobe
    mapInPandas of the same shape and keys the decoded frames by
    (media_key, frame_idx).
    """
    from pyspark.sql import functions as F

    # NULL media_bytes would propagate through n_total/n_kept into
    # sequence() and explode() would then drop the row with no frames
    # and no frames_dropped accounting (advice finding) — coalesce to
    # empty so a NULL payload yields the same single t=0 frame a
    # zero-byte payload does, keeping the operator total like
    # decode_media's fallback row.
    payload = F.coalesce(F.col("media_bytes"), F.lit(b""))
    duration_ms = (F.length(payload).cast("double")
                   / F.lit(1024.0) * 1000)
    n_total = (F.floor(duration_ms / 1000 * F.lit(FRAME_FPS))
               .cast("int") + 1)
    n_kept = F.least(F.lit(16), n_total)
    base = assets.where(F.col("kind").isin("audio", "video")).select(
        "media_key", "kind",
        n_total.alias("_n_total"), n_kept.alias("_n_kept"),
    )
    return base.select(
        "media_key", "kind",
        F.explode(F.sequence(F.lit(0), F.col("_n_kept") - 1))
        .alias("frame_idx"),
        (F.col("_n_total") - F.col("_n_kept")).alias("frames_dropped"),
    ).select(
        "media_key", "kind", "frame_idx",
        F.round(F.col("frame_idx") / F.lit(FRAME_FPS) * 1000, 4)
        .alias("ts_ms"),
        "frames_dropped",
    )
