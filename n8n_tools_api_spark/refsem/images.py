"""Image-span semantics (SURVEY.md §2.8 F6-F10, §2.2 P7, §2.4 A10).

Reproduces the reference's base64-image handling exactly. The reference
carries *three* inconsistent variants of some of these checks (SURVEY.md
§7.3); the pinned canonical choices are documented per function.
"""

from __future__ import annotations

import base64
import hashlib
import re

_RE_WS = re.compile(r"\s+")


def decode_base64_payload(base64_data: str) -> bytes | None:
    """The ONE base64 decoder every image-span path shares.

    Semantics are pinned to Spark's JVM ``try_to_binary(x, 'base64')``
    (used by operators/media.py) so the Python pipeline, the goldens,
    and the JVM blob stage can never disagree about what decodes —
    verified case-by-case by tests/test_operators.py::TestBase64JvmParity:

    * whitespace is ignored (MIME-wrapped payloads fold at 76 chars);
    * UNPADDED input decodes (JVM accepts it; plain strict Python
      ``b64decode`` would not — we pad before decoding);
    * padding, when present, must be well-formed: only at the end, at
      most 2 chars, total length a multiple of 4 (JVM rejects
      over-padding like ``'QUJD===='`` that lenient Python accepts);
    * non-alphabet junk returns None.
    """
    if base64_data is None:
        return None
    s = _RE_WS.sub("", base64_data)
    if not s:
        return b""  # JVM decodes ''/whitespace-only to empty bytes
    core = s.rstrip("=")
    pad = len(s) - len(core)
    if "=" in core or pad > 2 or (pad and len(s) % 4 != 0):
        return None
    if not pad:  # JVM accepts unpadded input — normalize before strict decode
        need = -len(core) % 4
        if need == 3:  # length ≡ 1 (mod 4) is not valid base64
            return None
        s = core + "=" * need
    try:
        return base64.b64decode(s, validate=True)
    except Exception:
        return None

# Base64-prefix → format. Parity: the full variant at
# mistral_service.py:809-871 (_detect_image_format): includes both GIF
# headers (87a/89a), WebP and BMP; the formatter variant
# (ocr_response_formatter.py:414-452) is the subset without bmp/R0lGODdh.
_B64_PREFIXES_FULL = (
    ("/9j/", "jpeg"),
    ("iVBORw0KGgo", "png"),
    ("R0lGODlh", "gif"),
    ("R0lGODdh", "gif"),
    ("UklGR", "webp"),
    ("Qk", "bmp"),
)


def detect_image_format(base64_data: str) -> dict:
    """Formatter-variant format detection with compression metadata.

    Parity: ocr_response_formatter.py:414-452 (_detect_image_format):
    jpeg→lossy, png/gif→lossless+transparency, webp→variable; everything
    else 'unknown'. (No bmp, only the 89a GIF header — the formatter's
    own subset.)
    """
    info = {
        "detected_format": "unknown",
        "has_transparency": False,
        "estimated_compression": "unknown",
    }
    if not base64_data:
        return info
    if base64_data.startswith("/9j/"):
        info.update(detected_format="jpeg", estimated_compression="lossy")
    elif base64_data.startswith("iVBORw0KGgo"):
        info.update(detected_format="png", has_transparency=True,
                    estimated_compression="lossless")
    elif base64_data.startswith("R0lGODlh"):
        info.update(detected_format="gif", has_transparency=True,
                    estimated_compression="lossless")
    elif base64_data.startswith("UklGR"):
        info.update(detected_format="webp", estimated_compression="variable")
    return info


def detect_image_format_full(base64_data: str) -> str:
    """Service-variant format detection (adds bmp + GIF87a).

    Parity: mistral_service.py:809-871. This is the variant the media
    externalization stage uses to pick the object-key extension.
    """
    if base64_data:
        for prefix, fmt in _B64_PREFIXES_FULL:
            if base64_data.startswith(prefix):
                return fmt
    return "unknown"


# The image gate: a payload must decode to MORE than this many bytes
# (ocr_response_formatter.py:454-475, _validate_base64_image).
MIN_IMAGE_BYTES = 50


def validate_base64_image(base64_data: str) -> bool:
    """Is this plausibly a real image payload?

    Parity (pinned canonical path): ocr_response_formatter.py:454-475
    (_validate_base64_image) — decodes and requires more than
    ``MIN_IMAGE_BYTES`` (50) bytes. The reference also has ≥100-byte
    variants with signature checks (mistral_service.py:729-766,
    ocr_s3_processor.py:310-347); the
    pipeline routes all image spans through the formatter variant so a
    span has exactly one inclusion rule. One deliberate divergence:
    decoding goes through :func:`decode_base64_payload` (strict +
    whitespace-tolerant) rather than Python's lenient ``b64decode``, so
    this validator, ``media_ref_for`` and the JVM blob stage share one
    notion of "decodes" (review finding: the lenient/strict split could
    classify a span as a valid image yet give it an empty media_ref).
    """
    return _is_image(decode_base64_payload(base64_data))


def _is_image(decoded: bytes | None) -> bool:
    """``validate_base64_image`` given the payload's decoded bytes."""
    return decoded is not None and len(decoded) > MIN_IMAGE_BYTES


def image_size_info(base64_data: str) -> dict:
    """Decoded-size bookkeeping.

    Parity: ocr_response_formatter.py:477-498 (_get_image_size_info):
    bytes, KB rounded to 2 (Python banker's rounding — why this stays in
    Python, Spark ``round`` is HALF_UP), and the raw base64 length.
    """
    decoded = decode_base64_payload(base64_data)
    if decoded is None:
        return {}
    return {
        "data_size_bytes": len(decoded),
        "data_size_kb": round(len(decoded) / 1024, 2),
        "base64_length": len(base64_data),
    }


def coalesce_coordinate_aliases(image: dict) -> dict:
    """Raw-path alias coalesce for image coordinates.

    Parity: mistral_service.py:678-684 (_extract_image_coordinates'
    raw_coords) — each canonical key falls back through its aliases with
    Python ``or`` semantics, so a 0 coordinate (falsy!) falls through to
    the next alias; if every candidate is falsy the LAST one's value
    survives (0 beats a later None position-wise only when nothing
    after it is truthy — exact ``a or b or c`` behavior).
    """
    return {
        "top_left_x": image.get("top_left_x") or image.get("x1") or image.get("left"),
        "top_left_y": image.get("top_left_y") or image.get("y1") or image.get("top"),
        "bottom_right_x": image.get("bottom_right_x") or image.get("x2") or image.get("right"),
        "bottom_right_y": image.get("bottom_right_y") or image.get("y2") or image.get("bottom"),
    }


def normalize_image_coordinates(coordinates: dict, page_dimensions: dict) -> dict:
    """Absolute → relative/dimension coordinate enrichment.

    Parity: ocr_response_formatter.py:333-381 (_normalize_image_coordinates):
    empty coords → {}; absolute defaults to 0; relative percents and
    pixel/percent dimensions only when both page dims are positive.
    """
    if not coordinates:
        return {}
    absolute = {
        "top_left_x": coordinates.get("top_left_x", 0),
        "top_left_y": coordinates.get("top_left_y", 0),
        "bottom_right_x": coordinates.get("bottom_right_x", 0),
        "bottom_right_y": coordinates.get("bottom_right_y", 0),
    }
    normalized: dict = {"absolute": absolute}
    if page_dimensions:
        page_width = page_dimensions.get("width", 1)
        page_height = page_dimensions.get("height", 1)
        if page_width > 0 and page_height > 0:
            relative = {
                "top_left_x_percent": (absolute["top_left_x"] / page_width) * 100,
                "top_left_y_percent": (absolute["top_left_y"] / page_height) * 100,
                "bottom_right_x_percent": (absolute["bottom_right_x"] / page_width) * 100,
                "bottom_right_y_percent": (absolute["bottom_right_y"] / page_height) * 100,
            }
            normalized["relative"] = relative
            normalized["dimensions"] = {
                "width": absolute["bottom_right_x"] - absolute["top_left_x"],
                "height": absolute["bottom_right_y"] - absolute["top_left_y"],
                "width_percent": relative["bottom_right_x_percent"] - relative["top_left_x_percent"],
                "height_percent": relative["bottom_right_y_percent"] - relative["top_left_y_percent"],
            }
    return normalized


def analyze_image_position(normalized_coords: dict) -> dict:
    """Quadrant / relative-size / alignment classification.

    Parity: ocr_response_formatter.py:500-556 (_analyze_image_position):
    quadrant split at 50% of center, size large>25% / medium>5% of page
    area, horizontal centering between 20% and 80%.
    """
    analysis = {
        "quadrant": "unknown",
        "relative_size": "unknown",
        "position_type": "unknown",
    }
    rel = normalized_coords.get("relative")
    if not rel:
        return analysis
    center_x = (rel["top_left_x_percent"] + rel["bottom_right_x_percent"]) / 2
    center_y = (rel["top_left_y_percent"] + rel["bottom_right_y_percent"]) / 2
    if center_x < 50 and center_y < 50:
        analysis["quadrant"] = "top-left"
    elif center_x >= 50 and center_y < 50:
        analysis["quadrant"] = "top-right"
    elif center_x < 50 and center_y >= 50:
        analysis["quadrant"] = "bottom-left"
    else:
        analysis["quadrant"] = "bottom-right"
    dims = normalized_coords.get("dimensions")
    if dims:
        area_percent = dims.get("width_percent", 0) * dims.get("height_percent", 0) / 100
        if area_percent > 25:
            analysis["relative_size"] = "large"
        elif area_percent > 5:
            analysis["relative_size"] = "medium"
        else:
            analysis["relative_size"] = "small"
    if 20 < center_x < 80:
        analysis["position_type"] = "centered-horizontal"
    elif center_x <= 20:
        analysis["position_type"] = "left-aligned"
    else:
        analysis["position_type"] = "right-aligned"
    return analysis


def assess_image_quality(image_data: dict) -> dict:
    """Annotation/base64/coordinate-precision quality flags.

    Parity: ocr_response_formatter.py:382-412 (_assess_image_quality):
    precision is 'high' iff any coordinate is a non-integral float,
    'standard' when coordinates exist, 'unknown' otherwise.
    """
    quality = {
        "has_annotation": bool(image_data.get("annotation", "").strip()),
        "has_base64_data": bool(image_data.get("base64_data", "").strip()),
        "coordinate_precision": "unknown",
    }
    coordinates = image_data.get("coordinates", {})
    if coordinates:
        coords_list = [
            coordinates.get("top_left_x", 0),
            coordinates.get("top_left_y", 0),
            coordinates.get("bottom_right_x", 0),
            coordinates.get("bottom_right_y", 0),
        ]
        has_decimals = any(
            isinstance(c, float) and c % 1 != 0 for c in coords_list
        )
        quality["coordinate_precision"] = "high" if has_decimals else "standard"
    return quality


def assess_mistral_image_quality(image: dict, base64_data: str | None) -> dict:
    """Service-variant quality model with the confidence arithmetic.

    Parity: mistral_service.py:768-807 (_assess_mistral_image_quality):
    base 0.9 (0.7 without base64 + completeness 'coordinates_only'),
    −0.1 for blank annotation, coordinate precision high/standard/low/
    none with −0.2 (non-numeric) / −0.3 (missing) penalties, clamped to
    [0, 1]. ``image`` carries flat coordinate keys + image_annotation.
    """
    quality = {
        "confidence": 0.9,
        "completeness": "complete",
        "clarity": "excellent",
        "source_quality": "native_api",
    }
    if not base64_data:
        quality["confidence"] = 0.7
        quality["completeness"] = "coordinates_only"
    if not (image.get("image_annotation") or "").strip():
        quality["confidence"] -= 0.1
    coords = (image.get("top_left_x"), image.get("top_left_y"),
              image.get("bottom_right_x"), image.get("bottom_right_y"))
    if all(c is not None for c in coords):
        if all(isinstance(c, (int, float)) for c in coords):
            quality["coordinate_precision"] = (
                "high" if any(isinstance(c, float) for c in coords) else "standard"
            )
        else:
            quality["coordinate_precision"] = "low"
            quality["confidence"] -= 0.2
    else:
        quality["coordinate_precision"] = "none"
        quality["confidence"] -= 0.3
    quality["confidence"] = max(0.0, min(1.0, quality["confidence"]))
    return quality


def extraction_quality_score(extracted_images: list[dict]) -> float:
    """Weighted completeness score over a document's images.

    Parity: mistral_service.py:967-1003 (_calculate_extraction_quality_
    score): 0.4 base64 + 0.3 coordinates + 0.2 annotation +
    0.1 x confidence, averaged; 0.0 for image-less documents.
    """
    if not extracted_images:
        return 0.0
    total = 0.0
    for image in extracted_images:
        score = 0.0
        if image.get("base64_data"):
            score += 0.4
        if image.get("coordinates"):
            score += 0.3
        if (image.get("annotation") or "").strip():
            score += 0.2
        score += (image.get("extraction_quality", {}).get("confidence", 0.0)) * 0.1
        total += score
    return total / len(extracted_images)


def media_ref_for(base64_data: str, prefix: str = "media") -> str:
    """Deterministic content-addressed media reference.

    Derived from the reference's S3 object key scheme
    (s3_client.py:243-270: ``{prefix}/{ts8}/{sha256[:16]}.{ext}``) with
    the wall-clock component dropped for reproducibility (SURVEY.md §2.1
    S6): ``{prefix}/{sha256(decoded)[:16]}.{ext}``. Extension comes from
    the full-variant format detector; 'unknown' maps to 'bin'.
    """
    return _media_ref(base64_data, decode_base64_payload(base64_data), prefix)


def _media_ref(base64_data: str, decoded: bytes | None, prefix: str) -> str:
    """``media_ref_for`` given the payload's decoded bytes."""
    if not decoded:
        return ""
    digest = hashlib.sha256(decoded).hexdigest()[:16]
    fmt = detect_image_format_full(base64_data)
    ext = fmt if fmt != "unknown" else "bin"
    return f"{prefix}/{digest}.{ext}"


def classify_image_span(base64_data: str, annotation: str = "") -> str:
    """Deterministic OCR classification string for an image span.

    This is the engine's stand-in for the reference's remote OCR call
    (mistral_service.py:170-256) — the north_star requires "OCR
    classification of image spans" as a *deterministic local* stage. The
    label packs the reference's own format detection (F6, full variant),
    decoded size (F7) and confidence model (F9 simplified:
    base 0.9 with base64 present, 0.7 without — mistral_service.py:787-789),
    plus the annotation when the source provided one.
    """
    return _ocr_label(base64_data, decode_base64_payload(base64_data),
                      annotation)


def _ocr_label(base64_data: str, decoded: bytes | None,
               annotation: str = "") -> str:
    """``classify_image_span`` given the payload's decoded bytes."""
    fmt = detect_image_format_full(base64_data)
    n_bytes = len(decoded) if decoded is not None else 0
    confidence = 0.9 if base64_data else 0.7
    label = f"ocr:{fmt}:{n_bytes}B:conf={confidence:.2f}"
    if annotation:
        label += f":{annotation}"
    return label
