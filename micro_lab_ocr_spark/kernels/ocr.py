"""OCR recognition kernel: binarize → connected-component line segmentation →
greedy (CTC-style best-path) glyph decode over a fixed alphabet.

Replaces the reference's external OCR calls (`backend.py:177-205` Upstage,
`backend_preservation.py:255-262` Azure prebuilt-layout) with a local,
deterministic, numpy-vectorized recognizer per the north-star. The fixture
"image" format is a 1-bit raster (header ``MLIMG`` + width + height + packed
bits); the fixture generator renders text into it with the same 5×7 font, and
OCR-noise is injected at the *text* level before rendering, so this kernel's
job is faithful segmentation + decoding and the cleaning banks do the
correction work downstream.

Real PNG bytes decode through the pure-stdlib codec in kernels/png.py (zlib
inflate + scanline unfiltering), real baseline JPEG through kernels/jpeg.py
(numpy DCT + canonical Huffman); both then ride the SAME binarize→segment→
decode path as the fixture raster — the Spark-side plumbing (binary column →
Arrow batch → grid struct) is shared across all three containers.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from micro_lab_ocr_spark.kernels import jpeg as _jpeg
from micro_lab_ocr_spark.kernels import png as _png

# Decode failures a magic-valid-but-corrupt raster can raise. The pipeline's
# image branch (and the oracle) catch exactly these and route the span to the
# pass-through arm — one truncated blob must never fail a 10^12-doc job.
DECODE_ERRORS = (ValueError, zlib.error, struct.error)

# ---------------------------------------------------------------------------
# 5×7 bitmap font over the grid alphabet. Rows are 5-bit integers, MSB = left.
# ---------------------------------------------------------------------------
_FONT_ROWS: dict[str, tuple[int, ...]] = {
    "0": (0x0E, 0x11, 0x13, 0x15, 0x19, 0x11, 0x0E),
    "1": (0x04, 0x0C, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "2": (0x0E, 0x11, 0x01, 0x02, 0x04, 0x08, 0x1F),
    "3": (0x1F, 0x02, 0x04, 0x02, 0x01, 0x11, 0x0E),
    "4": (0x02, 0x06, 0x0A, 0x12, 0x1F, 0x02, 0x02),
    "5": (0x1F, 0x10, 0x1E, 0x01, 0x01, 0x11, 0x0E),
    "6": (0x06, 0x08, 0x10, 0x1E, 0x11, 0x11, 0x0E),
    "7": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x08, 0x08),
    "8": (0x0E, 0x11, 0x11, 0x0E, 0x11, 0x11, 0x0E),
    "9": (0x0E, 0x11, 0x11, 0x0F, 0x01, 0x02, 0x0C),
    "A": (0x0E, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "B": (0x1E, 0x11, 0x11, 0x1E, 0x11, 0x11, 0x1E),
    "C": (0x0E, 0x11, 0x10, 0x10, 0x10, 0x11, 0x0E),
    "D": (0x1C, 0x12, 0x11, 0x11, 0x11, 0x12, 0x1C),
    "E": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x1F),
    "F": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x10),
    "G": (0x0E, 0x11, 0x10, 0x17, 0x11, 0x11, 0x0F),
    "H": (0x11, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "I": (0x0E, 0x04, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "J": (0x07, 0x02, 0x02, 0x02, 0x02, 0x12, 0x0C),
    "K": (0x11, 0x12, 0x14, 0x18, 0x14, 0x12, 0x11),
    "L": (0x10, 0x10, 0x10, 0x10, 0x10, 0x10, 0x1F),
    "M": (0x11, 0x1B, 0x15, 0x15, 0x11, 0x11, 0x11),
    "N": (0x11, 0x19, 0x15, 0x13, 0x11, 0x11, 0x11),
    "O": (0x0E, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "P": (0x1E, 0x11, 0x11, 0x1E, 0x10, 0x10, 0x10),
    "Q": (0x0E, 0x11, 0x11, 0x11, 0x15, 0x12, 0x0D),
    "R": (0x1E, 0x11, 0x11, 0x1E, 0x14, 0x12, 0x11),
    "S": (0x0F, 0x10, 0x10, 0x0E, 0x01, 0x01, 0x1E),
    "T": (0x1F, 0x04, 0x04, 0x04, 0x04, 0x04, 0x04),
    "U": (0x11, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "V": (0x11, 0x11, 0x11, 0x11, 0x11, 0x0A, 0x04),
    "W": (0x11, 0x11, 0x11, 0x15, 0x15, 0x1B, 0x11),
    "X": (0x11, 0x11, 0x0A, 0x04, 0x0A, 0x11, 0x11),
    "Y": (0x11, 0x11, 0x0A, 0x04, 0x04, 0x04, 0x04),
    "Z": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x10, 0x1F),
    "a": (0x00, 0x00, 0x0E, 0x01, 0x0F, 0x11, 0x0F),
    "b": (0x10, 0x10, 0x1E, 0x11, 0x11, 0x11, 0x1E),
    "c": (0x00, 0x00, 0x0F, 0x10, 0x10, 0x10, 0x0F),
    "d": (0x01, 0x01, 0x0F, 0x11, 0x11, 0x11, 0x0F),
    "e": (0x00, 0x00, 0x0E, 0x11, 0x1F, 0x10, 0x0E),
    "f": (0x06, 0x09, 0x08, 0x1C, 0x08, 0x08, 0x08),
    "g": (0x00, 0x0F, 0x11, 0x0F, 0x01, 0x11, 0x0E),
    "h": (0x10, 0x10, 0x16, 0x19, 0x11, 0x11, 0x11),
    "i": (0x04, 0x00, 0x0C, 0x04, 0x04, 0x04, 0x0E),
    "j": (0x02, 0x00, 0x06, 0x02, 0x02, 0x12, 0x0C),
    "k": (0x10, 0x10, 0x12, 0x14, 0x18, 0x14, 0x12),
    "l": (0x0C, 0x04, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "m": (0x00, 0x00, 0x1A, 0x15, 0x15, 0x15, 0x15),
    "n": (0x00, 0x00, 0x16, 0x19, 0x11, 0x11, 0x11),
    "o": (0x00, 0x00, 0x0E, 0x11, 0x11, 0x11, 0x0E),
    "p": (0x00, 0x00, 0x1E, 0x11, 0x1E, 0x10, 0x10),
    "q": (0x00, 0x00, 0x0F, 0x11, 0x0F, 0x01, 0x01),
    "r": (0x00, 0x00, 0x16, 0x19, 0x10, 0x10, 0x10),
    "s": (0x00, 0x00, 0x0F, 0x10, 0x0E, 0x01, 0x1E),
    "t": (0x08, 0x08, 0x1C, 0x08, 0x08, 0x09, 0x06),
    "u": (0x00, 0x00, 0x11, 0x11, 0x11, 0x13, 0x0D),
    "v": (0x00, 0x00, 0x11, 0x11, 0x11, 0x0A, 0x04),
    "w": (0x00, 0x00, 0x11, 0x11, 0x15, 0x15, 0x0A),
    "x": (0x00, 0x00, 0x11, 0x0A, 0x04, 0x0A, 0x11),
    "y": (0x00, 0x00, 0x11, 0x11, 0x0F, 0x01, 0x0E),
    "z": (0x00, 0x00, 0x1F, 0x02, 0x04, 0x08, 0x1F),
    "<": (0x02, 0x04, 0x08, 0x10, 0x08, 0x04, 0x02),
    ">": (0x08, 0x04, 0x02, 0x01, 0x02, 0x04, 0x08),
    "≤": (0x02, 0x04, 0x08, 0x04, 0x02, 0x00, 0x1F),
    "×": (0x00, 0x11, 0x0A, 0x04, 0x0A, 0x11, 0x00),
    "^": (0x04, 0x0A, 0x11, 0x00, 0x00, 0x00, 0x00),
    ".": (0x00, 0x00, 0x00, 0x00, 0x00, 0x0C, 0x0C),
    ",": (0x00, 0x00, 0x00, 0x00, 0x0C, 0x04, 0x08),
    "-": (0x00, 0x00, 0x00, 0x1F, 0x00, 0x00, 0x00),
    "/": (0x01, 0x01, 0x02, 0x04, 0x08, 0x10, 0x10),
    "(": (0x02, 0x04, 0x08, 0x08, 0x08, 0x04, 0x02),
    ")": (0x08, 0x04, 0x02, 0x02, 0x02, 0x04, 0x08),
    "!": (0x04, 0x04, 0x04, 0x04, 0x04, 0x00, 0x04),
    "|": (0x04, 0x04, 0x04, 0x04, 0x04, 0x04, 0x04),
    "°": (0x0C, 0x12, 0x12, 0x0C, 0x00, 0x00, 0x00),
    "€": (0x06, 0x09, 0x1C, 0x08, 0x1C, 0x09, 0x06),
    '"': (0x0A, 0x0A, 0x0A, 0x00, 0x00, 0x00, 0x00),
    "'": (0x04, 0x04, 0x04, 0x00, 0x00, 0x00, 0x00),
    ":": (0x00, 0x0C, 0x0C, 0x00, 0x0C, 0x0C, 0x00),
    "…": (0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x15),
    "?": (0x0E, 0x11, 0x01, 0x02, 0x04, 0x00, 0x04),
    # CJK stand-in glyphs (fixture vocab uses a few Korean/Japanese chars);
    # each gets a distinct dense pattern so decoding stays unambiguous.
    "균": (0x1F, 0x15, 0x1F, 0x00, 0x1F, 0x04, 0x1F),
    "주": (0x1F, 0x04, 0x1F, 0x04, 0x0E, 0x04, 0x04),
    "판": (0x15, 0x1F, 0x15, 0x00, 0x1F, 0x11, 0x11),
    "정": (0x0E, 0x0A, 0x0E, 0x00, 0x15, 0x15, 0x1F),
    "적": (0x1B, 0x12, 0x1B, 0x01, 0x1B, 0x0A, 0x1B),
    "합": (0x04, 0x0E, 0x15, 0x00, 0x1F, 0x11, 0x1F),
    "부": (0x1F, 0x04, 0x04, 0x1F, 0x04, 0x0C, 0x04),
    "일": (0x0E, 0x11, 0x0E, 0x00, 0x10, 0x10, 0x1F),
    "제": (0x15, 0x15, 0x17, 0x01, 0x05, 0x05, 0x07),
    "품": (0x0E, 0x0A, 0x0E, 0x00, 0x1B, 0x1B, 0x1B),
    "명": (0x0E, 0x0A, 0x0E, 0x01, 0x0F, 0x05, 0x07),
    "く": (0x02, 0x04, 0x08, 0x08, 0x08, 0x04, 0x03),  # ≠ '(' (row 7 差)
}

GLYPH_W, GLYPH_H = 5, 7   # visible glyph box; an 8th full-width underline row
                          # anchors segmentation (every glyph run is exactly
                          # GLYPH_W contiguous ink columns)
GLYPH_ROWS = GLYPH_H + 1
CHAR_GAP = 1              # blank cols between glyph boxes
SPACE_ADV = GLYPH_W + CHAR_GAP  # advance of one space = blank box + gap
CELL_GAP = 40             # blank cols between cells on one line
LINE_GAP = 2              # blank rows between lines
MAGIC = b"MLIMG"

ALPHABET = sorted(_FONT_ROWS)


def _glyph_matrix(ch: str) -> np.ndarray:
    rows = _FONT_ROWS[ch] + (0x1F,)  # underline anchor row
    return np.array(
        [[(r >> (GLYPH_W - 1 - c)) & 1 for c in range(GLYPH_W)] for r in rows], dtype=np.uint8
    )


_GLYPHS = {ch: _glyph_matrix(ch) for ch in ALPHABET}
# decode table: flattened glyph bits → char (min-Hamming = CTC-style best path)
_GLYPH_STACK = np.stack([_GLYPHS[ch] for ch in ALPHABET]).reshape(len(ALPHABET), -1)
assert len({s.tobytes() for s in _GLYPH_STACK}) == len(ALPHABET), "font glyphs must be unique"


# ---------------------------------------------------------------------------
# rendering (fixture-generator side)
# ---------------------------------------------------------------------------


def _render_cell(text: str) -> np.ndarray:
    """Render one cell's text to a GLYPH_ROWS-high strip (may be 0-wide)."""
    cols: list[np.ndarray] = []
    first = True
    for ch in text:
        if ch == " ":
            cols.append(np.zeros((GLYPH_ROWS, SPACE_ADV), dtype=np.uint8))
            continue
        if not first:
            cols.append(np.zeros((GLYPH_ROWS, CHAR_GAP), dtype=np.uint8))
        cols.append(_GLYPHS.get(ch, _GLYPHS["?"]))
        first = False
    if not cols:
        return np.zeros((GLYPH_ROWS, 0), dtype=np.uint8)
    return np.concatenate(cols, axis=1)


COL_PAD = 3  # blank cols between a rule line and cell content


def render_grid_image(cells: list[tuple[int, int, str]]) -> bytes:
    """Render a sparse cell grid into a *ruled table* raster.

    ``cells``: (row, col, text). Vertical rule lines mark column boundaries
    (like the reference's scanned preservation-test tables); the decoder
    recovers true grid column indices from the rules, so sparse cells keep
    their column exactly as Azure's table-structure model reports them.
    """
    by_cell: dict[tuple[int, int], str] = {(r, c): t for r, c, t in cells}
    if not by_cell:
        return render_lines_image([""])
    n_rows = max(r for r, _ in by_cell) + 1
    n_cols = max(c for _, c in by_cell) + 1

    rendered = {rc: _render_cell(t) for rc, t in by_cell.items()}
    col_w = [
        max([rendered[(r, c)].shape[1] for r in range(n_rows) if (r, c) in rendered] or [GLYPH_W])
        for c in range(n_cols)
    ]
    # x origin of each column's content area; rules live at origin-COL_PAD-1
    origins: list[int] = []
    x = 1 + COL_PAD  # left border rule at x=0
    for c in range(n_cols):
        origins.append(x)
        x += col_w[c] + COL_PAD + 1 + COL_PAD  # content + pad + rule + pad
    width = x - COL_PAD  # drop trailing pad after last rule
    height = n_rows * GLYPH_ROWS + (n_rows - 1) * LINE_GAP

    img = np.zeros((height, width), dtype=np.uint8)
    # vertical rules: left border, between columns, right border
    rule_xs = [0] + [origins[c] + col_w[c] + COL_PAD for c in range(n_cols)]
    for rx in rule_xs:
        img[:, rx] = 1
    for (r, c), strip in rendered.items():
        y0 = r * (GLYPH_ROWS + LINE_GAP)
        img[y0 : y0 + GLYPH_ROWS, origins[c] : origins[c] + strip.shape[1]] = strip
    bits = np.packbits(img, axis=None)
    return MAGIC + struct.pack("<II", width, height) + bits.tobytes()


def render_lines_image(lines: list[str]) -> bytes:
    """Render text lines (\\x00 separates cells within a line) to raster.

    Spaces inside a cell advance the pen by one blank glyph box (gap of
    SPACE_ADV+CHAR_GAP ink-free columns, run-length decodable); unknown
    characters render as '?'.
    """
    line_arrays: list[np.ndarray] = []
    width = 1
    for line in lines:
        cols: list[np.ndarray] = []
        for ci, cell in enumerate(line.split("\x00")):
            if ci > 0:
                cols.append(np.zeros((GLYPH_ROWS, CELL_GAP), dtype=np.uint8))
            first = True
            for ch in cell:
                if ch == " ":
                    cols.append(np.zeros((GLYPH_ROWS, SPACE_ADV), dtype=np.uint8))
                    continue
                if not first:
                    cols.append(np.zeros((GLYPH_ROWS, CHAR_GAP), dtype=np.uint8))
                cols.append(_GLYPHS.get(ch, _GLYPHS["?"]))
                first = False
        arr = (
            np.concatenate(cols, axis=1) if cols else np.zeros((GLYPH_ROWS, 1), dtype=np.uint8)
        )
        line_arrays.append(arr)
        width = max(width, arr.shape[1])
    height = 0
    padded: list[np.ndarray] = []
    for i, arr in enumerate(line_arrays):
        if i > 0:
            padded.append(np.zeros((LINE_GAP, width), dtype=np.uint8))
            height += LINE_GAP
        padded.append(np.pad(arr, ((0, 0), (0, width - arr.shape[1]))))
        height += GLYPH_ROWS
    img = np.concatenate(padded, axis=0) if padded else np.zeros((1, 1), dtype=np.uint8)
    height, width = img.shape
    bits = np.packbits(img, axis=None)
    return MAGIC + struct.pack("<II", width, height) + bits.tobytes()


def mlimg_bits(data: bytes) -> np.ndarray:
    """MLIMG raster bytes → 1-bit ink bitmap (H, W)."""
    width, height = struct.unpack("<II", data[5:13])
    bits = np.unpackbits(np.frombuffer(data[13:], dtype=np.uint8))[: width * height]
    return bits.reshape(height, width).copy()


# ---------------------------------------------------------------------------
# recognition (engine side)
# ---------------------------------------------------------------------------


_EXACT_GLYPHS = {g.tobytes(): ch for ch, g in _GLYPHS.items()}


def _decode_glyphs_batch(band: np.ndarray, runs: list[tuple[int, int]]) -> list[str]:
    """Greedy best-path decode of every glyph run on one line: exact-match
    hash lookup fast path (distance-0 shortcut), batched min-Hamming only for
    degraded segments. (A one-matmul Hamming formulation was measured 3×
    SLOWER here — BLAS thread fan-out dwarfs the 40×240×89 flops.)"""
    n = len(runs)
    if n == 0:
        return []
    regular = all((x1 - x0) == GLYPH_W for x0, x1 in runs) and band.shape[0] == GLYPH_ROWS
    if regular:
        # one fancy-index gather instead of n python slices + np.stack —
        # (H, n, W) -> (n, H, W); measured ~25% of decode_image before
        starts = np.fromiter((x0 for x0, _ in runs), dtype=np.intp, count=n)
        idx = starts[:, None] + np.arange(GLYPH_W, dtype=np.intp)
        segs = np.ascontiguousarray(band[:, idx].transpose(1, 0, 2))
    else:  # degraded rasters: pad per segment (rare path)
        segs = np.zeros((n, GLYPH_ROWS, GLYPH_W), dtype=np.uint8)
        for i, (x0, x1) in enumerate(runs):
            seg = band[:GLYPH_ROWS, x0:min(x1, x0 + GLYPH_W)]
            segs[i, : seg.shape[0], : seg.shape[1]] = seg
    out: list[str | None] = [_EXACT_GLYPHS.get(segs[i].tobytes()) for i in range(n)]
    misses = [i for i, ch in enumerate(out) if ch is None]
    if misses:
        flat = segs[misses].reshape(len(misses), -1)
        dists = (flat[:, None, :] != _GLYPH_STACK[None, :, :]).sum(axis=2)
        for j, i in enumerate(misses):
            out[i] = ALPHABET[int(dists[j].argmin())]
    return out  # type: ignore[return-value]


def _runs(mask: np.ndarray) -> list[tuple[int, int]]:
    """Contiguous True runs of a 1-D boolean mask → [(start, end)), …]."""
    idx = np.flatnonzero(np.diff(np.concatenate(([0], mask.view(np.int8), [0]))))
    return list(zip(idx[0::2].tolist(), idx[1::2].tolist()))


def decode_image(data: bytes) -> list[tuple[int, int, str]]:
    """Binarize → table-rule detection/removal → connected-component line
    segmentation → glyph decode → sparse cell grid.

    Returns (row, col, text) triples — the same shape Azure's prebuilt-layout
    ``tables[].cells`` carries (`backend_preservation.py:275-281`). Vertical
    ruled lines (ink in ≥90% of a column) delimit grid columns, so sparse
    cells keep their true column index; within a cell, inter-glyph gaps are
    run-length decoded into spaces.

    Containers: the MLIMG fixture raster (1-bit, pre-binarized), REAL PNG
    bytes (stdlib codec in kernels/png.py), and REAL baseline JPEG bytes
    (stdlib codec in kernels/jpeg.py); greyscale binarized at 128 — the
    reference's scans are black-on-white. The recognition path downstream of
    binarization is identical for all three.
    """
    if data.startswith(_png.PNG_MAGIC):
        img = (_png.decode_png(data) < 128).astype(np.uint8)
    elif data.startswith(_jpeg.JPEG_MAGIC):
        img = (_jpeg.decode_jpeg(data) < 128).astype(np.uint8)
    elif data.startswith(MAGIC):
        img = mlimg_bits(data)
    else:
        raise ValueError("not a decodable raster (MLIMG, PNG or JPEG)")
    height = img.shape[0]

    # --- rule detection: near-full-height vertical ink lines --------------
    rule_mask = img.sum(axis=0) >= 0.9 * height
    rule_arr = np.flatnonzero(rule_mask)
    img[:, rule_mask] = 0  # remove rules before glyph segmentation

    cells: list[tuple[int, int, str]] = []
    for row_idx, (y0, y1) in enumerate(_runs(img.any(axis=1))):
        band = img[y0:y1]
        col_runs = _runs(band.any(axis=0))
        glyphs = _decode_glyphs_batch(band, col_runs)
        if rule_arr.size:
            # column of run = largest rule index strictly left of the run
            # start (clamped to 0) — one vectorized searchsorted per line
            # replaces a python binary search per glyph run
            starts = np.fromiter(
                (x0 for x0, _ in col_runs), dtype=np.int64, count=len(col_runs)
            )
            run_cols = np.maximum(
                np.searchsorted(rule_arr, starts, side="left") - 1, 0
            ).tolist()
        else:  # un-ruled raster: single column
            run_cols = [0] * len(col_runs)
        cur: list[str] = []
        cur_col: int | None = None
        prev_end: int | None = None
        for (x0, x1), glyph, col in zip(col_runs, glyphs, run_cols):
            if cur_col is not None and col != cur_col:
                cells.append((row_idx, cur_col, "".join(cur)))
                cur = []
                prev_end = None
            elif prev_end is not None:
                gap = x0 - prev_end
                if gap >= SPACE_ADV - 2:
                    cur.append(" " * round((gap - CHAR_GAP) / SPACE_ADV))
            cur_col = col
            cur.append(glyph)
            prev_end = x1
        if cur and cur_col is not None:
            cells.append((row_idx, cur_col, "".join(cur)))
    return cells
