"""Pure-Python kernel tests (no Spark session): OCR raster round-trip,
HTML DOM/table/boilerplate, XY-cut reading order, the Azure page pass."""

from __future__ import annotations

import random

import pytest

from micro_lab_ocr_spark.kernels import grid as gk
from micro_lab_ocr_spark.kernels import html as hk
from micro_lab_ocr_spark.kernels import ocr as ok
from micro_lab_ocr_spark.kernels import pdf as pk
from micro_lab_ocr_spark.sources import fixtures


def test_ocr_roundtrip_exact():
    rng = random.Random(123)
    for _ in range(40):
        grid = fixtures.make_grid(rng)
        img = ok.render_grid_image(grid)
        assert sorted(ok.decode_image(img)) == sorted(grid)


def test_ocr_full_alphabet_roundtrip():
    cells = []
    row = 0
    alpha = ok.ALPHABET
    for i in range(0, len(alpha), 8):
        cells.append((row, 0, "".join(alpha[i:i + 8])))
        row += 1
    img = ok.render_grid_image(cells)
    assert sorted(ok.decode_image(img)) == sorted(cells)


def test_ocr_spaces_roundtrip():
    cells = [(0, 0, "a b"), (0, 1, "a  b"), (1, 0, "< 10"), (1, 1, "5.5 × 10 5")]
    img = ok.render_grid_image(cells)
    assert sorted(ok.decode_image(img)) == sorted(cells)


def test_html_first_table_rowspan():
    html = (
        "<html><body><p>pre</p>"
        '<table><tr><td rowspan="2">bulk</td><td>a</td></tr>'
        "<tr><td>b</td></tr></table>"
        "<table><tr><td>second table ignored</td></tr></table></body></html>"
    )
    rows = hk.parse_first_table(html)
    assert len(rows) == 2
    assert rows[0][0].text == "bulk" and rows[0][0].rowspan
    assert rows[0][1].text == "a" and not rows[0][1].rowspan
    assert rows[1][0].text == "b"


def test_html_nested_markup_in_cell():
    rows = hk.parse_first_table("<table><tr><td><b>x</b> <i>y</i></td></tr></table>")
    assert rows[0][0].text == "x y"


def test_main_content_beats_boilerplate():
    main = "the quick brown fox jumps over the lazy dog " * 10
    html = (
        "<html><body>"
        "<nav><div><a href='/a'>aaa</a> <a href='/b'>bbb</a> <a href='/c'>ccc</a></div></nav>"
        f"<div id='c'><p>{main}</p></div>"
        "<footer><div>copyright footer text that is quite long as well</div></footer>"
        "</body></html>"
    )
    out = hk.extract_main_content(html)
    assert out == main.strip()


def test_link_density_penalizes_link_farms():
    farm = "".join(f"<a href='/{i}'>link text number {i}</a> " for i in range(30))
    main = "short but real sentence about an actual topic of interest"
    html = f"<html><body><div>{farm}</div><p>{main}</p></body></html>"
    assert hk.extract_main_content(html) == main


def test_xy_cut_two_columns():
    blocks = [
        {"x0": 0, "x1": 100, "y0": 0, "y1": 50, "text": "L1"},
        {"x0": 0, "x1": 100, "y0": 60, "y1": 110, "text": "L2"},
        {"x0": 200, "x1": 300, "y0": 0, "y1": 50, "text": "R1"},
        {"x0": 200, "x1": 300, "y0": 60, "y1": 110, "text": "R2"},
    ]
    random.Random(0).shuffle(blocks)
    data = pk.encode_pdf(blocks)
    assert pk.layout_text(data) == "L1\nL2\nR1\nR2"


def test_xy_cut_single_column_order():
    blocks = [
        {"x0": 0, "x1": 500, "y0": 120, "y1": 170, "text": "B"},
        {"x0": 0, "x1": 500, "y0": 0, "y1": 50, "text": "A"},
        {"x0": 0, "x1": 500, "y0": 240, "y1": 290, "text": "C"},
    ]
    assert pk.layout_text(pk.encode_pdf(blocks)) == "A\nB\nC"


def test_real_pdf_two_columns_reading_order():
    """A REAL %PDF file (Flate-compressed content stream) decodes through the
    pure-stdlib parser and orders through the same XY-cut as the fixture
    container — columns left-then-right, lines top-down."""
    blocks = [
        {"x0": 50, "x1": 150, "y0": 60, "y1": 72, "text": "Left line two"},
        {"x0": 50, "x1": 150, "y0": 40, "y1": 52, "text": "Left line one"},
        {"x0": 300, "x1": 400, "y0": 45, "y1": 57, "text": "Right col"},
    ]
    data = pk.encode_real_pdf(blocks)
    assert data.startswith(b"%PDF")
    assert pk.layout_text(data) == "Left line one\nLeft line two\nRight col"
    # uncompressed stream variant
    raw = pk.encode_real_pdf(blocks, compress=False)
    assert pk.layout_text(raw) == "Left line one\nLeft line two\nRight col"


def test_real_pdf_operators_and_strings():
    """Hex strings, escape sequences (octal, parens), TJ arrays with kerning
    numbers, Td line advances."""
    import zlib

    content = (
        b"BT /F1 12 Tf 50 700 Td <48656C6C6F> Tj 0 -20 Td "
        b"[(wor) -80 (ld)] TJ 0 -20 Td (esc \\(p\\) \\101\\\\x) Tj ET"
    )
    body = zlib.compress(content)
    data = (
        b"%PDF-1.4\n"
        b"3 0 obj << /Type /Page /MediaBox [0 0 612 792] /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Filter /FlateDecode /Length " + str(len(body)).encode()
        + b" >> stream\n" + body + b"\nendstream endobj\n%%EOF"
    )
    assert pk.layout_text(data) == "Hello\nworld\nesc (p) A\\x"


def test_real_pdf_no_text_layer_raises():
    """Image-only real PDFs raise ValueError so the pipeline routes the span
    to pass-through instead of emitting an empty text span."""
    import zlib

    body = zlib.compress(b"q 612 0 0 792 0 0 cm /Im0 Do Q")
    data = (
        b"%PDF-1.4\n4 0 obj << /Filter /FlateDecode /Length "
        + str(len(body)).encode() + b" >> stream\n" + body + b"\nendstream endobj\n%%EOF"
    )
    with pytest.raises(ValueError):
        pk.decode_real_pdf(data)


def test_png_codec_roundtrip():
    """Stdlib PNG codec: encode (filters rotate 0..4) → decode is identity on
    greyscale, and the decoder handles every filter type."""
    import numpy as np

    from micro_lab_ocr_spark.kernels import png

    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, size=(23, 31), dtype=np.uint8)
    # (0,) pins the all-None vectorized fast path; (2,) the pure-Up chain
    for filters in [(0, 1, 2, 3, 4), (0, 1, 2), (0,), (1,), (2,), (3,), (4,)]:
        data = png.encode_png(gray, filters=filters)
        assert data.startswith(png.PNG_MAGIC)
        back = png.decode_png(data)
        assert back.dtype == np.uint8 and back.shape == (23, 31)
        assert (back == gray).all(), f"filters={filters}"


def test_png_decode_matches_mlimg():
    """A grid rendered to MLIMG and the same bitmap as a REAL PNG must decode
    to the identical sparse cell grid (round-2 verdict item 3: prove the
    'plumbing identical' claim with a real raster)."""
    from micro_lab_ocr_spark.kernels import ocr, png

    cells = [(0, 0, "ABC 123"), (0, 2, "<10"), (1, 1, "5.5X105"), (2, 0, "E.coli")]
    mlimg = ocr.render_grid_image(cells)
    png_bytes = png.bitmap_to_png(ocr.mlimg_bits(mlimg))
    assert png_bytes.startswith(png.PNG_MAGIC)
    assert ocr.decode_image(png_bytes) == ocr.decode_image(mlimg)


def test_png_decode_rgb_and_unsupported():
    import struct
    import zlib

    import numpy as np

    from micro_lab_ocr_spark.kernels import png

    # hand-rolled RGB PNG (color type 2, filter 0 rows) → BT.601 luma
    h, w = 4, 5
    rgb = np.zeros((h, w, 3), dtype=np.uint8)
    rgb[:, :, 0] = 200
    rgb[1, 2] = (0, 0, 0)
    raw = b"".join(b"\x00" + rgb[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        png.PNG_MAGIC
        + png._chunk(b"IHDR", ihdr)
        + png._chunk(b"IDAT", zlib.compress(raw))
        + png._chunk(b"IEND", b"")
    )
    gray = png.decode_png(data)
    assert gray.shape == (h, w)
    assert gray[0, 0] == (299 * 200) // 1000
    assert gray[1, 2] == 0
    # unsupported: 16-bit depth must raise (caller pass-through arm)
    bad = png.PNG_MAGIC + png._chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)
    ) + png._chunk(b"IDAT", zlib.compress(b"")) + png._chunk(b"IEND", b"")
    import pytest

    with pytest.raises(ValueError):
        png.decode_png(bad)


def test_jpeg_codec_roundtrip():
    """Stdlib baseline JPEG codec: smooth content round-trips at high PSNR,
    binary (page-scan-like) content binarizes back exactly, restart markers
    reproduce the plain encoding, odd sizes crop correctly."""
    import numpy as np

    from micro_lab_ocr_spark.kernels import jpeg

    # smooth gradient: lossy but high-fidelity
    grad = (np.linspace(0, 255, 64)[None, :] * np.ones((48, 1))).astype(np.uint8)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(grad, quality=90))
    assert dec.shape == grad.shape
    mse = float(np.mean((dec.astype(float) - grad.astype(float)) ** 2))
    assert 10 * np.log10(255**2 / max(mse, 1e-9)) > 40.0

    # binary ink-on-white content must binarize back exactly at q95
    rng = np.random.default_rng(7)
    binimg = np.where(rng.random((40, 72)) < 0.2, 0, 255).astype(np.uint8)
    dec2 = jpeg.decode_jpeg(jpeg.encode_jpeg(binimg, quality=95))
    assert ((dec2 < 128) == (binimg < 128)).all()

    # restart markers: DRI/RSTn stream decodes identically to the plain one
    img = (rng.random((40, 72)) * 255).astype(np.uint8)
    plain = jpeg.decode_jpeg(jpeg.encode_jpeg(img, 90))
    for ri in (1, 3, 100):
        assert (jpeg.decode_jpeg(jpeg.encode_jpeg(img, 90, restart_interval=ri)) == plain).all()

    # non-multiple-of-8 sizes crop to the exact frame dims
    for shape in [(1, 1), (7, 9), (17, 33)]:
        a = (rng.random(shape) * 255).astype(np.uint8)
        assert jpeg.decode_jpeg(jpeg.encode_jpeg(a, 85)).shape == shape


def test_jpeg_decode_rejects_unsupported():
    """Progressive / truncated / non-JPEG bytes raise ValueError (the
    pipeline routes exactly these to the pass-through arm)."""
    import numpy as np
    import pytest

    from micro_lab_ocr_spark.kernels import jpeg

    img = (np.random.default_rng(1).random((16, 16)) * 255).astype(np.uint8)
    enc = jpeg.encode_jpeg(img, 90)
    # flip SOF0 -> SOF2 (progressive)
    bad = bytearray(enc)
    bad[bad.find(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(bytes(bad))
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(enc[: len(enc) // 2])  # truncated entropy stream
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(b"\xff\xd8\xff\xe0 corrupt payload")  # no scan
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(b"not a jpeg at all")


def test_jpeg_decode_matches_mlimg():
    """A grid rendered to MLIMG and the same bitmap as a REAL baseline JPEG
    must decode to the identical sparse cell grid — the lossy DCT round-trip
    must not flip the binarization of a page scan (mirrors
    test_png_decode_matches_mlimg; closes the last raster-format gap)."""
    import numpy as np

    from micro_lab_ocr_spark.kernels import jpeg, ocr

    cells = [(0, 0, "ABC 123"), (0, 2, "<10"), (1, 1, "5.5X105"), (2, 0, "E.coli")]
    mlimg = ocr.render_grid_image(cells)
    gray = np.where(ocr.mlimg_bits(mlimg).astype(bool), 0, 255).astype(np.uint8)
    jpeg_bytes = jpeg.encode_jpeg(gray, quality=95)
    assert jpeg_bytes.startswith(jpeg.JPEG_MAGIC)
    assert ocr.decode_image(jpeg_bytes) == ocr.decode_image(mlimg)
    # and with restart markers (what real scanners emit)
    assert ocr.decode_image(jpeg.encode_jpeg(gray, 95, restart_interval=8)) == ocr.decode_image(mlimg)


def test_jpeg_color_444_decodes_to_luma():
    """3-component 4:4:4 YCbCr decodes via the multi-component scan loop and
    reduces to the Y plane; subsampled chroma (4:2:0) raises ValueError."""
    import struct

    import numpy as np
    import pytest

    from micro_lab_ocr_spark.kernels import jpeg

    rng = np.random.default_rng(9)
    y = (rng.random((16, 24)) * 255).astype(np.uint8)
    flat = np.full_like(y, 128)  # neutral chroma planes

    # build a 3-component 4:4:4 stream from the module's own entropy coder:
    # encode each plane as a 1-component image, then splice the per-block
    # bitstreams is fragile — instead interleave blocks manually
    qt = jpeg._quality_scale(jpeg.QTABLE_LUMA, 92)

    def blockify(img):
        h, w = img.shape
        img = np.pad(img, ((0, -h % 8), (0, -w % 8)), mode="edge")
        bh, bw = img.shape[0] // 8, img.shape[1] // 8
        blocks = img.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8).astype(float) - 128.0
        coef = np.einsum("ij,njk,lk->nil", jpeg._DCT_A, blocks, jpeg._DCT_A)
        return np.round(coef / qt[None]).astype(np.int64).reshape(-1, 64)[:, jpeg.ZIGZAG]

    planes = [blockify(p) for p in (y, flat, flat)]
    dc_codes = jpeg._canonical_codes(jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS)
    ac_codes = jpeg._canonical_codes(jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS)
    bw_out = jpeg._BitWriter()
    preds = [0, 0, 0]
    for m in range(planes[0].shape[0]):  # MCU-interleaved: Y, Cb, Cr per MCU
        for ci in range(3):
            row = planes[ci][m]
            diff = int(row[0]) - preds[ci]
            preds[ci] = int(row[0])
            size = abs(diff).bit_length()
            ln, code = dc_codes[size]
            bw_out.put(code, ln)
            if size:
                bw_out.put(diff if diff >= 0 else diff + (1 << size) - 1, size)
            nz = np.flatnonzero(row[1:])
            last = nz[-1] + 1 if len(nz) else 0
            run = 0
            for k in range(1, last + 1):
                v = int(row[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    ln, code = ac_codes[0xF0]
                    bw_out.put(code, ln)
                    run -= 16
                size = abs(v).bit_length()
                ln, code = ac_codes[(run << 4) | size]
                bw_out.put(code, ln)
                bw_out.put(v if v >= 0 else v + (1 << size) - 1, size)
                run = 0
            if last < 63:
                ln, code = ac_codes[0x00]
                bw_out.put(code, ln)

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def frame(sampling):
        sof_comps = b"".join(bytes([cid, sampling if cid == 1 else 0x11, 0]) for cid in (1, 2, 3))
        return (
            b"\xff\xd8"
            + seg(0xFFDB, b"\x00" + bytes(int(x) for x in qt.reshape(64)[jpeg.ZIGZAG]))
            + seg(0xFFC0, struct.pack(">BHHB", 8, 16, 24, 3) + sof_comps)
            + seg(0xFFC4, b"\x00" + bytes(jpeg.DC_LUMA_BITS) + bytes(jpeg.DC_LUMA_VALS)
                  + b"\x10" + bytes(jpeg.AC_LUMA_BITS) + bytes(jpeg.AC_LUMA_VALS))
            + seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
            + bw_out.flush() + b"\xff\xd9"
        )

    dec = jpeg.decode_jpeg(frame(0x11))
    ref = jpeg.decode_jpeg(jpeg.encode_jpeg(y, 92))  # same quant path, gray
    assert dec.shape == (16, 24)
    assert int(np.abs(dec.astype(int) - ref.astype(int)).max()) == 0  # identical Y path
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(frame(0x22))  # 4:2:0 subsampled chroma unsupported


_HDR = ["Bulk Name", "Challenged Organism", "0일", "7일", "14일", "28일", "판정", "FINAL 판정"]


def _row(r, *texts):
    return [(r, c, t) for c, t in enumerate(texts) if t is not None]


_DEGENERATE_PAGES = {
    "no cells": [],
    "header row only": _row(0, *_HDR),
    "headerless (-1)": (
        _row(0, "PROD ABC1234-XY 24A12I34", "E.coli", "1.5x10^3", "40", "CIO", "<10", "O", "X")
        + _row(1, None, "S.aureus", "2.0 x 10 4", "<10", "<10", "410", "O", "")
        + _row(2, "PROD DEF5678-ZZ 24B01134", "Candida", "3X102", "90", "<10^2", "", "V", "O")
    ),
    "row-index gaps": (
        _row(0, *_HDR)
        + _row(2, "PROD ABC1234-XY 24A12I34", "P. aeruginosa", "1.0×10^5", "<10", "<10", "<10", "O", "O")
        + _row(3, None, "E.coli", "1.2×10^5", "40", "<10", "<10", "O", "O")
        + _row(7, None, "S.aureus", "1.3×10^5", "<10", "<10", "<10", "O", "O")
        + _row(9, None, "C.albicans", "1.4×10^5", "<10", "<10", "<10", "O", "O")
    ),
    "fewer than 5 rows": (
        _row(0, *_HDR)
        + _row(1, None, "0.5 15", "05 22", "06 15", "06 22")
        + _row(2, "PROD ABC1234-XY 24A12I34", "Staphylococcus", "2×10^4", "<10", "", "", "O", "")
    ),
    "pass-2 date not a calendar date": (
        _row(0, "13/40", "02/30")
        + _row(1, None, "1.2 3")
        + _row(2, "BULK NAME", "STRAIN", "0일", "7일")
        + _row(3, "24A12I34", "E.coli", "1×10^2", "<10")
    ),
    "strain normalizes to empty": (
        _row(0, *_HDR)
        + _row(1, "PROD ABC1234-XY 24A12I34", "Bacillus subtilis", "1×10^2", "<10", "<10", "<10", "O", "O")
        + _row(2, None, "", "1×10^2", "<10", "<10", "<10", "O", "O")
        + _row(3, None, "A.brasiliensis", "1×10^2", "<10", "<10", "<10", "O", "O")
    ),
}


@pytest.mark.parametrize("name", list(_DEGENERATE_PAGES))
def test_grid_kernel_degenerate_pages_match_oracle(name):
    """The Azure page kernel against the oracle's grid records and F19 dates
    on pages the seeded fixtures never produce. The oracle reads rows by
    index up to ``len(grid) - 1`` (so a gap page ends early), and a pass-2
    date cell that is no calendar date falls through to the next cell."""
    from micro_lab_ocr_spark.oracle import cleaners as oc
    from micro_lab_ocr_spark.oracle import extract as ox

    cells = _DEGENERATE_PAGES[name]
    grid = ox.grid_from_cells(cells)
    date_info, records = gk.extract_page(cells)
    assert records == ox.extract_grid_records(grid)
    assert date_info == oc.extract_date_info_from_grid(grid)
    expected = {
        "no cells": (0, {}),
        "header row only": (0, {}),
        "headerless (-1)": (3, {}),
        "row-index gaps": (2, {}),  # rows 2 and 3 of len(grid) == 5 rows
        "fewer than 5 rows": (1, {"date_0": "05/15", "date_7": "05/22",
                                  "date_14": "06/15", "date_28": "06/22"}),
        "pass-2 date not a calendar date": (1, {"date_0": "12/03", "date_7": "12/10",
                                                "date_14": "12/17", "date_28": "12/31"}),
        "strain normalizes to empty": (1, {}),
    }[name]
    assert (len(records), date_info) == expected
