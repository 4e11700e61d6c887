"""Deterministic synthetic interleaved-document corpus (FIXTURES.md).

Generates the BASELINE.json input shape — ``(doc_id, spans:
array<struct<kind,text,media_ref,offset>>)`` plus a media table (media_ref →
bytes) and the enrichment progress master — with seeded OCR-noise drawn from
the reference's misread banks so the cleaners have genuine work. A heavy-tail
knob marks ~1% of docs as skewed (10×–100× span count) to exercise heavy-doc handling.
"""

from __future__ import annotations

import random

from micro_lab_ocr_spark import banks
from micro_lab_ocr_spark.kernels import ocr as ocr_kernel
from micro_lab_ocr_spark.kernels import pdf as pdf_kernel
from micro_lab_ocr_spark.kernels import png as png_kernel

WORDS = (
    "spark shuffle partition broadcast catalyst tungsten arrow batch column row "
    "scan filter join window aggregate pivot lineage checkpoint salt skew bucket "
    "the a of to in is for on with document table value query plan stage task"
).split()

KO_PRODUCTS = ["어린이버블클렌저", "수분진정크림", "선케어로션", "리페어에센스", "모이스처토너"]
IMG_PRODUCTS = ["제품 A", "제품 B", "제품 C", "제품 D"]  # glyph-font-safe names

PRESC_STEMS = ["GB", "CCA", "LAF", "CC", "WC", "ZM", "KBL"]
PRESC_SUFFIXES = ["ZMB", "VAA", "OZ2A", "AZLY1", "11F", "QQ", "AB1"]

STRAIN_VARIANTS = {
    "E.coli": ["E.coli", "Escherichia coli", "E. coli"],
    "P.aeruginosa": ["P.aeruginosa", "Pseudomonas aeruginosa", "Pseudomonas"],
    "S.aureus": ["S.aureus", "Staphylococcus aureus", "Staphylococcus"],
    "C.albicans": ["C.albicans", "Candida albicans", "Candida"],
    "A.brasiliensis": ["A.brasiliensis", "Aspergillus brasiliensis", "Aspergillus"],
}

# noise pools keyed by intended clean value (drawn from the F6 bank + logs)
NOISE_LT10 = ["40", "40°", "CIO", "C10", "110", "LION", "zion", "<1>", "LU",
              "/10", "010", "(1)", "610", "400", "Col", "<10", "< 10", '<10"']
NOISE_LT10E2 = ["4102", "<12", "<62", "GIO2", "SI02,", "CIO2", "<102", "< 102",
                "5/02", "(102", "512", "<10^2"]
NOISE_LT10E3 = ["103"]
JUDGMENT_VALUES = ["", "0", "X", "×", "V", "0 :selected:"]

SPEC_VALUES = ["≤3", "≤1", "≤0", "≤0°", "53", "51", "50"]


def _test_number(rng: random.Random) -> str:
    return f"2{rng.randint(4, 6)}{rng.choice('ABCDEFGHIJKL')}{rng.randint(10, 29)}I{rng.randint(10, 99)}"


def _corrupt_test_number(rng: random.Random, t: str) -> str:
    r = rng.random()
    if r < 0.4:
        return t
    if r < 0.7:
        return t.replace("I", "1")
    if r < 0.85:
        return t.replace("I", "|")
    return t.replace("I", "!")


def _fresh_prescription(rng: random.Random) -> str:
    return f"{rng.choice(PRESC_STEMS)}{rng.randint(1000, 29999)}-{rng.choice(PRESC_SUFFIXES)}"


# Shared prescription pool: docs draw from it ~80% of the time and the
# progress master covers it, giving the reference's ~80% left-join hit rate
# (`backend_preservation.py:1720-1726`).
_POOL_RNG = random.Random(4242)
PRESCRIPTION_POOL = [_fresh_prescription(_POOL_RNG) for _ in range(150)]


def _prescription(rng: random.Random) -> str:
    if rng.random() < 0.8:
        return rng.choice(PRESCRIPTION_POOL)
    return _fresh_prescription(rng)


def _scientific(rng: random.Random) -> tuple[str, str]:
    """(clean, noisy) day-0 scientific CFU value."""
    base = f"{rng.randint(1, 9)}.{rng.randint(0, 9)}"
    exp = rng.randint(2, 6)
    clean = f"{base}×10^{exp}"
    r = rng.random()
    if r < 0.4:
        noisy = clean.replace("×10^", "X10") if rng.random() < 0.5 else f"{base}X10{exp}"
    elif r < 0.6:
        noisy = f"{base} × 10 {exp}"
    elif r < 0.75:
        noisy = f"{base}×10{exp}"
    elif r < 0.85:
        noisy = f"{base}X10^{exp}"
    else:
        noisy = clean
    if rng.random() < 0.07:
        # merged-cell misread: two values in one cell (F4)
        b2 = f"{rng.randint(1, 9)}.{rng.randint(0, 9)}"
        noisy = f"{noisy} {b2} ×10{rng.randint(2, 4)}"
    return clean, noisy


def _censored(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.5:
        return rng.choice(NOISE_LT10)
    if r < 0.85:
        return rng.choice(NOISE_LT10E2)
    if r < 0.9:
        return rng.choice(NOISE_LT10E3)
    return rng.choice(["≤3", "...", ":selected:", ""])


# ---------------------------------------------------------------------------
# Azure-style grid (rendered to a ruled-table raster for image spans)
# ---------------------------------------------------------------------------


def make_grid(rng: random.Random) -> list[tuple[int, int, str]]:
    variant = rng.random()
    cells: list[tuple[int, int, str]] = []
    row = 0
    has_spec = rng.random() < 0.6
    spec_in_header = has_spec and rng.random() < 0.6

    if variant < 0.55:  # keyword header
        hdr = ["Bulk Name", "Challenged Organism"]
        if spec_in_header:
            hdr.append("Specification")
        elif has_spec:
            hdr.append("Spec")
        hdr += ["0일", "7일", "14일", "28일", "판정", "FINAL 판정"]
        if not has_spec:
            hdr = ["Bulk Name", "Challenged Organism", "0일", "7일", "14일", "28일", "판정", "FINAL 판정"]
        for c, t in enumerate(hdr):
            cells.append((row, c, t))
        row += 1
    elif variant < 0.75:  # strain-keyword header (no tier-1 keywords)
        hdr = ["제품명", "균주 Strain"]
        if has_spec:
            hdr.append("Spec")
        hdr += ["0일", "7일", "14일", "28일", "판정"]
        for c, t in enumerate(hdr):
            cells.append((row, c, t))
        row += 1
    else:  # headerless (first data row carries CFU values → header_row = -1)
        pass

    # date row (within first 5 rows): 4 MM DD cells / single date / none
    date_mode = rng.random()
    if date_mode < 0.55:
        m = rng.randint(1, 12)
        d = rng.randint(1, 20)
        dates = [(m, d), (m, d + 7), ((m % 12) + 1, d), ((m % 12) + 1, d + 7)]
        start_col = 1
        for i, (mm, dd) in enumerate(dates):
            txt = f"{mm:02d} {dd:02d}"
            if i == 0 and rng.random() < 0.3:
                m2 = f"{mm:02d}"
                txt = f"{m2[0]}.{m2[1]} {dd:02d}"  # '0.5 15'-style misread (F18)
            cells.append((row, start_col + i, txt))
        row += 1
    elif date_mode < 0.75:
        cells.append((row, 1, f"{rng.randint(1, 12):02d}/{rng.randint(1, 25):02d}"))
        row += 1

    n_products = rng.randint(1, 4)
    strain_col = 1
    value_start = 2 + (1 if has_spec else 0)
    for _ in range(n_products):
        tnum = _corrupt_test_number(rng, _test_number(rng))
        presc = _prescription(rng)
        product = rng.choice(IMG_PRODUCTS)
        strains = rng.sample(list(STRAIN_VARIANTS), rng.randint(3, 5))
        for si, strain in enumerate(strains):
            if si == 0:
                cells.append((row, 0, f"{product} {presc} {tnum}"))
            cells.append((row, strain_col, rng.choice(STRAIN_VARIANTS[strain])))
            col = value_start
            if has_spec:
                cells.append((row, 2, rng.choice(SPEC_VALUES)))
            _, noisy0 = _scientific(rng)
            cells.append((row, col, noisy0))
            cells.append((row, col + 1, _censored(rng)))
            cells.append((row, col + 2, _censored(rng)))
            cells.append((row, col + 3, _censored(rng)))
            cells.append((row, col + 4, rng.choice(JUDGMENT_VALUES)))
            if rng.random() < 0.7:
                cells.append((row, col + 5, rng.choice(JUDGMENT_VALUES)))
            row += 1
    return [(r, c, t) for r, c, t in cells if t != ""]


# ---------------------------------------------------------------------------
# Upstage-style HTML table
# ---------------------------------------------------------------------------


def make_table_html(rng: random.Random) -> str:
    rows: list[str] = []
    rows.append("<tr><td>보존력 시험 결과</td></tr>")
    date_mode = rng.random()
    if date_mode < 0.45:
        m = rng.randint(1, 12)
        d = rng.randint(10, 21)
        date_cell = f"{m:02d} {d:02d} {m:02d} {d+7:02d} {(m % 12) + 1:02d} {d:02d} {(m % 12) + 1:02d} {d+7:02d}"
    elif date_mode < 0.8:
        date_cell = f"{rng.randint(1, 12):02d}/{rng.randint(1, 25):02d}"
    else:
        date_cell = "시험일자"  # unparseable → W2 carry from previous page
    rows.append(f"<tr><td>{date_cell}</td><td>일자</td></tr>")

    n_products = rng.randint(1, 3)
    for _ in range(n_products):
        multi = rng.random() < 0.3
        tnum1 = _corrupt_test_number(rng, _test_number(rng))
        presc1 = _prescription(rng)
        name1 = rng.choice(KO_PRODUCTS)
        if multi:
            tnum2 = _corrupt_test_number(rng, _test_number(rng))
            presc2 = _prescription(rng)
            name2 = rng.choice(KO_PRODUCTS)
            bulk = f"{name1} {presc1} {tnum1} {name2} {presc2} {tnum2}"
            blocks = 2
        else:
            bulk = f"{name1} {presc1} {tnum1}"
            blocks = 1
        for b in range(blocks):
            strains = rng.sample(list(STRAIN_VARIANTS), rng.randint(3, 5))
            # E.coli first in 2nd block so the FIFO pop triggers (W3/W4)
            if b > 0 and "E.coli" not in strains:
                strains[0] = "E.coli"
            if b > 0 and "E.coli" in strains:
                strains.remove("E.coli")
                strains.insert(0, "E.coli")
            for si, strain in enumerate(strains):
                sname = rng.choice(STRAIN_VARIANTS[strain])
                spec = rng.choice(SPEC_VALUES)
                _, cfu0 = _scientific(rng)
                cfu = [cfu0, _censored(rng), _censored(rng), _censored(rng)]
                judg = rng.choice(JUDGMENT_VALUES)
                final = rng.choice(JUDGMENT_VALUES)
                tds = []
                if b == 0 and si == 0:
                    tds.append(f'<td rowspan="{len(strains) * blocks}">{bulk}</td>')
                tds.append(f"<td>{sname}</td>")
                tds.append(f"<td>{spec}</td>")
                for v in cfu:
                    tds.append(f"<td>{v}</td>")
                tds.append(f"<td>{judg}</td>")
                tds.append(f"<td>{final}</td>")
                rows.append("<tr>" + "".join(tds) + "</tr>")
    return "<table>" + "".join(rows) + "</table>"


# ---------------------------------------------------------------------------
# boilerplate HTML page (main-content extraction fixture)
# ---------------------------------------------------------------------------


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def make_html_page(rng: random.Random) -> str:
    nav = "".join(f'<a href="/{w}">{w}</a> ' for w in rng.sample(WORDS, 8))
    main = _sentence(rng, rng.randint(40, 120))
    side = "".join(f'<li><a href="#">{_sentence(rng, 3)}</a></li>' for _ in range(6))
    footer = _sentence(rng, 10)
    return (
        f"<html><body><nav><div>{nav}</div></nav>"
        f"<div id='content'><p>{main}</p></div>"
        f"<aside><ul>{side}</ul></aside>"
        f"<footer><div>{footer}</div></footer></body></html>"
    )


def make_pdf_blocks(rng: random.Random) -> list[dict]:
    two_col = rng.random() < 0.5
    blocks = []
    if two_col:
        for i in range(3):
            blocks.append({"x0": 0.0, "x1": 250.0, "y0": i * 110.0, "y1": i * 110 + 100.0,
                           "text": _sentence(rng, 12)})
        for i in range(3):
            blocks.append({"x0": 300.0, "x1": 550.0, "y0": i * 110.0, "y1": i * 110 + 100.0,
                           "text": _sentence(rng, 12)})
        rng.shuffle(blocks)
    else:
        for i in range(5):
            blocks.append({"x0": 0.0, "x1": 550.0, "y0": i * 110.0, "y1": i * 110 + 100.0,
                           "text": _sentence(rng, 15)})
        rng.shuffle(blocks)
    return blocks


# ---------------------------------------------------------------------------
# corpus assembly
# ---------------------------------------------------------------------------


DEFAULT_MIX = (0.55, 0.75, 0.90, 0.97)  # cumulative: text|html|table_html|image|pdf
MEDIA_HEAVY_MIX = (0.15, 0.25, 0.45, 0.90)  # bench mix: OCR-kernel dominated


def generate_corpus(
    n_docs: int = 50,
    seed: int = 42,
    skew: bool = True,
    mix: tuple[float, float, float, float] = DEFAULT_MIX,
) -> tuple[list[dict], list[dict], list[dict]]:
    """Returns (docs, media, progress).

    docs:     [{doc_id, spans: [{kind,text,media_ref,offset}]}]
    media:    [{media_ref, content: bytes}]
    progress: [{product_name, prescription_number, formulation, team,
                preservative_info}]
    """
    rng = random.Random(seed)
    docs: list[dict] = []
    media: list[dict] = []

    for di in range(n_docs):
        doc_id = f"d{di:04d}"
        n_spans = rng.randint(3, 12)
        if skew and rng.random() < 0.01:
            n_spans *= rng.randint(10, 100)  # heavy-tail doc
        spans: list[dict] = []
        media_n = 0
        for off in range(n_spans):
            r = rng.random()
            if r < mix[0]:
                spans.append({"kind": "text", "text": _sentence(rng, rng.randint(5, 60)),
                              "media_ref": "", "offset": off})
            elif r < mix[1]:
                spans.append({"kind": "html", "text": make_html_page(rng),
                              "media_ref": "", "offset": off})
            elif r < mix[2]:
                spans.append({"kind": "table_html", "text": make_table_html(rng),
                              "media_ref": "", "offset": off})
            elif r < mix[3]:
                ref = f"m://{doc_id}/{media_n}"
                media_n += 1
                grid = make_grid(rng)
                raster = ocr_kernel.render_grid_image(grid)
                if rng.random() < 0.3:
                    # real-PNG variant: same page content as actual PNG bytes
                    # (stdlib codec) — exercises the real-raster decode path
                    raster = png_kernel.bitmap_to_png(ocr_kernel.mlimg_bits(raster))
                media.append({"media_ref": ref, "content": raster})
                spans.append({"kind": "image", "text": "", "media_ref": ref, "offset": off})
            else:
                ref = f"m://{doc_id}/{media_n}"
                media_n += 1
                r2 = rng.random()
                if r2 < 0.10:
                    # S2 fixture: DRM-encrypted real-PDF bytes (%PDF header +
                    # /Encrypt flag) — must pass through undecoded
                    content = (
                        b"%PDF-1.7\n1 0 obj\n<< /Type /Catalog >>\nendobj\n"
                        b"trailer\n<< /Encrypt 9 0 R /ID [<"
                        + f"{rng.randint(0, 2**32):08x}".encode()
                        + b">] >>\n%%EOF"
                    )
                elif r2 < 0.15:
                    # headerless/corrupt bytes — DRM-suspect pass-through
                    content = b"\x00\x01corrupt" + str(rng.randint(0, 9999)).encode()
                else:
                    content = pdf_kernel.encode_pdf(make_pdf_blocks(rng))
                media.append({"media_ref": ref, "content": content})
                spans.append({"kind": "pdf", "text": "", "media_ref": ref, "offset": off})
        docs.append({"doc_id": doc_id, "spans": spans})

    # progress master: the shared pool + a few extra rows (~160 total)
    prng = random.Random(seed + 1)
    progress = []
    for presc in PRESCRIPTION_POOL + [_fresh_prescription(prng) for _ in range(10)]:
        progress.append(
            {
                "product_name": prng.choice(KO_PRODUCTS + IMG_PRODUCTS),
                "prescription_number": presc,
                "formulation": prng.choice(["O/W", "W/O", "Gel", "Mist"]),
                "team": prng.choice(["1팀", "2팀", "3팀"]),
                "preservative_info": prng.choice(
                    ["1,2-헥산다이올 2.0%", "글리세린 5.0%", "에틸헥실글리세린 0.5%", ""]
                ),
            }
        )
    return docs, media, progress
