"""S2 — DRM detection as a Catalyst predicate (`drm_utils.py:19-134`).

The reference runs three stages: PyPDF2 ``is_encrypted`` (an /Encrypt
dictionary in the trailer), a raw binary ``/Encrypt`` scan, and a
PyMuPDF open-attempt (open fails → treat as DRM). From raw bytes the
decidable signals are the header magic and the encrypt flag; the
"opens fine" stage maps to recognizing a decodable container — a %PDF
without /Encrypt, or the MLPDF fixture container this sandbox uses in
place of real PDFs (kernels/pdf.py). Everything is a cheap byte-prefix /
substring predicate on the binary column — JVM-side, pushdown-friendly,
no Python. S3 (external decrypt API) stays a documented non-goal:
detected-DRM spans pass through the pipeline unchanged, never dropped.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PDF_MAGIC = b"%PDF"
MLPDF_MAGIC = b"MLPDF"
MLIMG_MAGIC = b"MLIMG"
PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
JPEG_MAGIC = b"\xff\xd8\xff"
ENCRYPT_FLAG = b"/Encrypt"


def drm_detect(content: Column) -> Column:
    """struct<is_drm:boolean, method:string, confidence:string> mirroring the
    reference's result dict (`drm_utils.py:23-28`), tier order preserved:
    binary /Encrypt flag (high) → opens-clean (high) → no/unknown header
    (medium — `drm_utils.py:131-133` "파일 손상 (DRM 가능)")."""

    def _s(is_drm: bool, method: str, confidence: str) -> Column:
        return F.struct(
            F.lit(is_drm).alias("is_drm"),
            F.lit(method).alias("method"),
            F.lit(confidence).alias("confidence"),
        )

    is_pdf = F.startswith(content, F.lit(PDF_MAGIC))
    return (
        F.when(content.isNull(), _s(False, "missing", "low"))
        .when(is_pdf & F.contains(content, F.lit(ENCRYPT_FLAG)), _s(True, "binary_encrypt_flag", "high"))
        .when(is_pdf, _s(False, "opens_clean", "high"))
        .when(F.startswith(content, F.lit(MLPDF_MAGIC)), _s(False, "opens_clean", "high"))
        .otherwise(_s(True, "no_pdf_header", "medium"))
    )


def is_drm(content: Column) -> Column:
    """Boolean DRM predicate (null content → false: a missing ref is a
    dangling-media pass-through, not a DRM case)."""
    return drm_detect(content).getField("is_drm")


def is_decodable(content: Column) -> Column:
    """Routing predicate for the layout kernel: containers this build can
    actually decode — the MLPDF fixture container, and real ``%PDF`` files
    without an /Encrypt flag (pure-stdlib text-layer extraction,
    kernels/pdf.decode_real_pdf). Image-only real PDFs pass the predicate
    but are returned unchanged by the kernel's per-row fallback."""
    return F.when(content.isNull(), F.lit(False)).otherwise(
        F.startswith(content, F.lit(MLPDF_MAGIC))
        | (
            F.startswith(content, F.lit(PDF_MAGIC))
            & ~F.contains(content, F.lit(ENCRYPT_FLAG))
        )
    )


def is_decodable_image(content: Column) -> Column:
    """Routing predicate for the OCR kernel: rasters this build decodes —
    the MLIMG fixture container, real PNG (stdlib codec, kernels/png.py)
    and real baseline JPEG (stdlib codec, kernels/jpeg.py). Anything else
    (TIFF, WebP, junk bytes) passes through unchanged rather than crashing
    the decode stage; magic-valid bytes whose PAYLOAD fails to decode
    (truncation, progressive JPEG) are caught in the kernel, which emits
    nothing for them, so the span passes through unchanged
    (pipeline/extract._media_spans)."""
    return F.when(content.isNull(), F.lit(False)).otherwise(
        F.startswith(content, F.lit(MLIMG_MAGIC))
        | F.startswith(content, F.lit(PNG_MAGIC))
        | F.startswith(content, F.lit(JPEG_MAGIC))
    )
