"""PDF text-extraction source tests (extraction/pdf.py, round 5 —
north_rule 'PDF/layout parse') and the classic-layout fixture writer
(`datagen.pdf_from_boxes`) they parse."""

from __future__ import annotations

import zlib

import pytest

from ms_ocr_spark.extraction.pdf import pdf_text_spans
from ms_ocr_spark.sources.datagen import pdf_from_boxes


def test_pdf_round_trip_escapes_and_order():
    boxes = [
        {"x1": 10, "y1": 20, "x2": 60, "y2": 35, "text": "HELLO (WORLD)"},
        {"x1": 15, "y1": 50, "x2": 90, "y2": 65, "text": "back\\slash"},
        {"x1": 100, "y1": 20, "x2": 160, "y2": 35, "text": "SPARK 42"},
    ]
    spans = pdf_text_spans(pdf_from_boxes(boxes))
    assert spans == [
        (0, 10.0, 762.0, "HELLO (WORLD)"),
        (0, 100.0, 762.0, "SPARK 42"),
        (0, 15.0, 732.0, "back\\slash"),
    ]


def test_pdf_overlay_structure():
    boxes = [
        {"doc_id": "d", "x1": 10, "y1": 20, "x2": 60, "y2": 40, "text": "HELLO (1)"},
        {"doc_id": "d", "x1": 10, "y1": 60, "x2": 60, "y2": 80, "text": "WORLD"},
    ]
    data = pdf_from_boxes(boxes)
    assert data.startswith(b"%PDF-1.4") and data.rstrip().endswith(b"%%EOF")
    # extract + inflate the content stream, check overlay text and escaping
    start = data.index(b"stream\n") + 7
    end = data.index(b"\nendstream")
    content = zlib.decompress(data[start:end]).decode()
    assert r"(HELLO \(1\)) Tj" in content and "(WORLD) Tj" in content
    # y-flip: first box (y1=20) lands at 792-20-10=762
    assert "1 0 0 1 10.0 762.0 Tm" in content
    assert data == pdf_from_boxes(boxes)  # deterministic


def test_pdf_uncompressed_stream_and_td_tj_array():
    """Hand-built PDF without Flate, using Td line moves and a TJ array
    with kerning numbers — the general operator subset, not just the
    sink's dialect."""
    content = (
        b"BT /F1 10 Tf 1 0 0 1 50 700 Tm (first) Tj "
        b"0 -20 Td [(se) -120 (cond)] TJ ET"
    )
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 5 0 R >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, 1):
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    out += b"trailer\n<< /Size 6 /Root 1 0 R >>\n%%EOF\n"
    spans = pdf_text_spans(bytes(out))
    assert spans == [(0, 50.0, 700.0, "first"), (0, 50.0, 680.0, "second")]


def test_pdf_garbage_raises():
    with pytest.raises(ValueError):
        pdf_text_spans(b"not a pdf at all")
    with pytest.raises(ValueError):
        pdf_text_spans(b"%PDF-1.4\nno objects here")


def test_pdf_extract_spans_df_null_contract(spark):
    from ms_ocr_spark.extraction.pdf import pdf_extract_spans_df

    boxes = [{"x1": 10, "y1": 20, "x2": 60, "y2": 35, "text": "A1"}]
    rows = [
        ("good", bytearray(pdf_from_boxes(boxes))),
        ("bad", bytearray(b"garbage")),
    ]
    df = spark.createDataFrame(rows, "doc_id string, artifact binary")
    out = {r["doc_id"]: r for r in pdf_extract_spans_df(df).collect()}
    assert out["good"]["text"] == "A1" and out["good"]["page"] == 0
    assert out["bad"]["page"] is None and out["bad"]["text"] is None


def test_pdf_multipage_kids_order():
    """A hand-built 2-page PDF: spans resolve through the /Pages tree in
    /Kids order with per-page content streams."""
    c1 = b"BT 1 0 0 1 10 700 Tm (page-zero) Tj ET"
    c2 = b"BT 1 0 0 1 20 650 Tm (page-one) Tj ET"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 5 0 R >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 6 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c1), c1),
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c2), c2),
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, 1):
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    out += b"trailer\n<< /Size 7 /Root 1 0 R >>\n%%EOF\n"
    assert pdf_text_spans(bytes(out)) == [
        (0, 10.0, 700.0, "page-zero"),
        (1, 20.0, 650.0, "page-one"),
    ]


# --------------------------------------------------------------- modern layout
def test_pdf_modern_layout_round_trip():
    """ObjStm + xref stream (Predictor 12) + two /Contents streams +
    TL/T*/' + indirect /Length all parse; spans match the fixture's
    golden in drawing order."""
    from ms_ocr_spark.sources.datagen import pdf_modern_bytes, pdf_modern_golden

    boxes = [
        {"x1": 40, "y1": 60, "text": "ALPHA (v2)"},
        {"x1": 200, "y1": 60, "text": "BETA \\x"},
        {"x1": 40, "y1": 120, "text": "GAMMA)("},
    ]
    column = [{"text": "LINE ONE"}, {"text": "LINE TWO"}, {"text": "LINE 3"}]
    pdf = pdf_modern_bytes(boxes, column)
    want = [(0, r["x"], r["y"], r["text"]) for r in pdf_modern_golden(boxes, column)]
    assert pdf_text_spans(pdf) == want


def test_pdf_xref_resolves_superseded_decoy():
    """The modern fixture appends a decoy `5 0 obj` (wrong text) AFTER
    the live one, referenced by no xref section — a last-scan-wins
    parser would extract 'DECOY SUPERSEDED'; the xref chain must not."""
    from ms_ocr_spark.sources.datagen import pdf_modern_bytes

    pdf = pdf_modern_bytes([{"x1": 10, "y1": 20, "text": "REAL"}], [{"text": "C"}])
    assert pdf.count(b"5 0 obj") == 2  # live + decoy are both present
    texts = [t for _, _, _, t in pdf_text_spans(pdf)]
    assert "REAL" in texts and all("DECOY" not in t for t in texts)


def test_pdf_xref_stream_entries():
    """Type-2 (ObjStm member) and type-1 entries decode through /W field
    widths and the PNG Up predictor; the /Prev chain joins both update
    sections with newest-wins precedence."""
    from ms_ocr_spark.extraction.pdf import _pdf_xref_entries
    from ms_ocr_spark.sources.datagen import pdf_modern_bytes

    pdf = pdf_modern_bytes([{"x1": 10, "y1": 20, "text": "T"}], [{"text": "C"}])
    ent = _pdf_xref_entries(pdf)
    assert ent[1][0] == 2 and ent[1][1] == 7  # catalog lives in ObjStm 7
    assert ent[5][0] == 1  # content stream 1 is a classic offset entry
    live_off = ent[5][1]
    assert pdf[live_off : live_off + 7] == b"5 0 obj"


def _png_filter_rows(rows: bytes, columns: int, filters: tuple[int, ...]) -> bytes:
    """PNG-filter each `columns`-byte row of `rows` (1 byte per pixel),
    cycling through the filter types `filters`."""

    def paeth(a: int, b: int, c: int) -> int:
        p = a + b - c
        return min((abs(p - a), 0, a), (abs(p - b), 1, b), (abs(p - c), 2, c))[2]

    out, prev = bytearray(), bytes(columns)
    for n, r in enumerate(range(0, len(rows), columns)):
        row, ftype = rows[r : r + columns], filters[n % len(filters)]
        out.append(ftype)
        for i in range(columns):
            left, up, up_left = (row[i - 1], prev[i], prev[i - 1]) if i else (0, prev[i], 0)
            pred = (0, left, up, (left + up) // 2, paeth(left, up, up_left))[ftype]
            out.append((row[i] - pred) & 0xFF)
        prev = row
    return bytes(out)


def test_pdf_xref_stream_average_and_paeth_predictors():
    """An xref stream whose rows use the PNG Average (3) and Paeth (4)
    filters resolves every entry, and the page's text comes out."""
    from ms_ocr_spark.extraction.pdf import _pdf_xref_entries

    content = b"BT 1 0 0 1 50 700 Tm (AVG PAETH) Tj ET"
    bodies = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
    ]
    out = bytearray(b"%PDF-1.5\n")
    offsets = []
    for i, body in enumerate(bodies, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    offsets.append(len(out))  # object 5: the xref stream itself
    entries = [(0, 0, 255)] + [(1, off, 0) for off in offsets]
    rows = b"".join(bytes([t]) + v.to_bytes(2, "big") + bytes([g]) for t, v, g in entries)
    data = zlib.compress(_png_filter_rows(rows, 4, (3, 4)))
    out += (
        b"5 0 obj\n<< /Type /XRef /Size 6 /W [1 2 1] /Root 1 0 R /Filter /FlateDecode "
        b"/DecodeParms << /Predictor 12 /Columns 4 >> /Length %d >>\nstream\n" % len(data)
        + data
        + b"\nendstream\nendobj\nstartxref\n%d\n%%%%EOF\n" % offsets[-1]
    )
    ent = _pdf_xref_entries(bytes(out))
    assert {n: e[:2] for n, e in ent.items()} == {n: (1, off) for n, off in enumerate(offsets, 1)}
    assert pdf_text_spans(bytes(out)) == [(0, 50.0, 700.0, "AVG PAETH")]


def test_pdf_classic_xref_table_parses():
    """The sink's classic `xref` table (round-5 dialect) resolves through
    the same xref-first path — the scan fallback isn't what's parsing
    these anymore."""
    from ms_ocr_spark.extraction.pdf import _pdf_xref_entries

    pdf = pdf_from_boxes([{"x1": 10, "y1": 20, "x2": 70, "y2": 34, "text": "A"}])
    ent = _pdf_xref_entries(pdf)
    assert set(ent) == {1, 2, 3, 4, 5}
    assert all(t == 1 for t, _, _ in ent.values())


def test_pdf_corpus_modern_class_golden():
    """Every artifact in the (fmt 2) pdf corpus — classic, modern, and
    broken — parses to exactly its golden spans / quarantines."""
    import tempfile
    from collections import defaultdict

    import pyarrow.parquet as pq

    from ms_ocr_spark.sources.datagen import write_pdf_corpus

    paths = write_pdf_corpus(tempfile.mkdtemp(), 30, seed=57)
    gold = defaultdict(list)
    for r in pq.read_table(paths["golden_pdf_spans"]).to_pylist():
        gold[r["doc_id"]].append((r["page"], r["x"], r["y"], r["text"]))
    n_modern = 0
    for row in pq.read_table(paths["pdf_media"]).to_pylist():
        buf = bytes(row["artifact"])
        if not buf.startswith(b"%PDF"):
            with pytest.raises(ValueError):
                pdf_text_spans(buf)
            continue
        n_modern += b"/ObjStm" in buf
        assert pdf_text_spans(buf) == gold[row["doc_id"]], row["doc_id"]
    assert n_modern >= 3


def test_pdf_hex_strings():
    """Hex strings (<...>, ISO 32000-1 7.3.4.3): whitespace inside the
    digits drops, an odd final digit pads with 0, and hex/literal
    strings concatenate inside TJ arrays."""
    c = (
        b"BT /F1 10 Tf 1 0 0 1 30 700 Tm <48 656C6C 6F> Tj "
        b"0 -20 Td [<41> (mix) <42>] TJ 0 -20 Td <5> Tj ET"
    )
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c), c),
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, 1):
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    out += b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    assert pdf_text_spans(bytes(out)) == [
        (0, 30.0, 700.0, "Hello"),
        (0, 30.0, 680.0, "AmixB"),
        (0, 30.0, 660.0, "P"),
    ]


def test_pdf_utf16be_text_strings():
    """UTF-16BE text strings (ISO 32000-1 7.9.2.2): a FEFF BOM in hex or
    literal form selects UTF-16BE; plain strings stay byte-decoded."""
    u = "Héllo✓".encode("utf-16-be").hex()
    c = (
        "BT /F1 10 Tf 1 0 0 1 30 700 Tm <FEFF%s> Tj "
        "0 -20 Td (\\376\\377\\000A\\000B) Tj 0 -20 Td (plain) Tj ET" % u
    ).encode()
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(c), c),
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, 1):
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    out += b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    assert pdf_text_spans(bytes(out)) == [
        (0, 30.0, 700.0, "Héllo✓"),
        (0, 30.0, 680.0, "AB"),
        (0, 30.0, 660.0, "plain"),
    ]


def test_pdf_octal_overflow_masks_mod_256():
    """ISO 32000-1 7.3.4.2: octal escapes above \\377 ignore the
    high-order overflow — \\501 is code 0x41 'A' (ADVICE r6)."""
    from ms_ocr_spark.extraction.pdf import _unescape

    assert _unescape("\\501") == "A"        # 0o501 = 321 -> 321 & 0xFF = 65
    assert _unescape("\\101") == "A"
    assert _unescape("\\377") == "\xff"
    assert _unescape("a\\7771z") == "a\xff1z"  # 3-digit max, then literal


def test_pdf_modern_bytes_large_offsets():
    """datagen xref-stream field widths widen past 64 KiB instead of
    raising OverflowError (ADVICE r6): pad the content past 0x10000 and
    require the parse to still resolve the xref chain exactly."""
    from ms_ocr_spark.sources.datagen import pdf_modern_bytes, pdf_modern_golden

    boxes = [
        {"x1": 10 + 30 * i, "y1": 20, "x2": 38 + 30 * i, "y2": 32, "text": f"B{i}"}
        for i in range(4)
    ]
    import numpy as _np

    rng = _np.random.default_rng(99)
    alphabet = _np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"))
    column = [
        {"text": f"ROW {i} " + "".join(rng.choice(alphabet, 700))}
        for i in range(120)
    ]
    buf = pdf_modern_bytes(boxes, column)
    assert len(buf) > 0x10000
    got = pdf_text_spans(buf)
    exp = [
        (g["page"], g["x"], g["y"], g["text"])
        for g in pdf_modern_golden(boxes, column)
    ]
    assert got == exp


def _mini_pdf(objs_bodies: list[bytes], trailer_extra: bytes = b"") -> bytes:
    out = bytearray(b"%PDF-1.5\n")
    for i, body in enumerate(objs_bodies, 1):
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    out += b"trailer\n<< /Root 1 0 R " + trailer_extra + b">>\n%%EOF\n"
    return bytes(out)


def test_pdf_encoding_differences_and_tounicode():
    """Round 7 (VERDICT r6 item 7): shown strings decode through the
    current font's /Encoding /Differences table or /ToUnicode CMap
    (bfchar AND bfrange, range-start and explicit-list forms); Tf
    switches fonts mid-stream; fonts without a map keep the plain
    text-string semantics."""
    import zlib

    content = (
        b"BT /F1 12 Tf 72 700 Td (\xa1\xa2\xa3\xa3\xa4) Tj "
        b"/F2 12 Tf 0 -20 Td <000000010002> Tj "
        b"/F3 12 Tf 0 -20 Td (plain) Tj ET"
    )
    stream = zlib.compress(content)
    cmap = (
        b"2 beginbfchar <0000> <0041> <0001> <00E9> endbfchar\n"
        b"2 beginbfrange <0002> <0004> <0058> "
        b"<0005> <0006> [<0042> <0043>] endbfrange\nendcmap"
    )
    pdf = _mini_pdf(
        [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Resources << /Font "
            b"<< /F1 5 0 R /F2 6 0 R /F3 8 0 R >> >> /Contents 4 0 R >>",
            b"<< /Length "
            + str(len(stream)).encode()
            + b" /Filter /FlateDecode >>\nstream\n"
            + stream
            + b"\nendstream",
            b"<< /Type /Font /Encoding << /Differences [ 161 /H /E /L /O ] >> >>",
            b"<< /Type /Font /Subtype /Type0 /ToUnicode 7 0 R >>",
            b"<< /Length "
            + str(len(cmap)).encode()
            + b" >>\nstream\n"
            + cmap
            + b"\nendstream",
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        ]
    )
    assert pdf_text_spans(pdf) == [
        (0, 72.0, 700.0, "HELLO"),
        (0, 72.0, 680.0, "AéX"),
        (0, 72.0, 660.0, "plain"),
    ]


def test_pdf_tounicode_bfrange_explicit_list():
    """A bfrange with an explicit [ <dst> ... ] destination list maps
    each code independently (ISO 32000-1 9.10.3)."""
    from ms_ocr_spark.extraction.pdf import _parse_tounicode

    m = _parse_tounicode(
        b"1 beginbfrange <20> <22> [<0058> <0059> <005A>] endbfrange endcmap"
    )
    assert m == {"nbytes": 1, "map": {0x20: "X", 0x21: "Y", 0x22: "Z"}}


def test_pdf_glyph_names_agl_and_uni():
    from ms_ocr_spark.extraction.pdf import _glyph_to_char

    assert _glyph_to_char("A") == "A"
    assert _glyph_to_char("zero") == "0"
    assert _glyph_to_char("eacute") == "é"
    assert _glyph_to_char("uni4E2D") == "中"
    assert _glyph_to_char("nonsenseglyph") is None


def test_pdf_encrypted_quarantines_with_reason():
    """Encrypted PDFs (/Encrypt in the trailer, ISO 32000-1 7.6) raise —
    the operator's quarantine catch yields the all-null row — wherever
    the key sits in the trailer dictionary.  `/Encrypt 9 0 R` inside a
    content stream of a plain PDF is text, not encryption."""
    boxes = [{"x1": 10, "y1": 20, "x2": 60, "y2": 35, "text": "SECRET"}]
    good = pdf_from_boxes(boxes)
    assert pdf_text_spans(good) == [(0, 10.0, 762.0, "SECRET")]
    near = good.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R")
    # the key 2 KB into the trailer, behind an /Info string whose nested
    # and escaped parentheses and `>>` do not end the dictionary
    info = b"(" + b"(n) \\) >> " * 210 + b")"
    far = good.replace(b"/Root 1 0 R", b"/Root 1 0 R /Info " + info + b" /Encrypt 9 0 R")
    for enc in (near, far):
        with pytest.raises(ValueError, match="[Ee]ncrypt"):
            pdf_text_spans(enc)

    content = b"BT /F1 10 Tf 1 0 0 1 50 700 Tm (/Encrypt 9 0 R) Tj ET"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
    ]
    plain = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, 1):
        plain += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    plain += b"trailer\n<< /Size 5 /Root 1 0 R >>\n%%EOF\n"
    assert pdf_text_spans(bytes(plain)) == [(0, 50.0, 700.0, "/Encrypt 9 0 R")]


def test_pdf_custom_encoding_fixture_class():
    """The datagen custom-encoding layout (Differences font for boxes +
    ToUnicode font for hex-string column lines) parses to its golden
    exactly, and the payload bytes do NOT contain the plaintext."""
    from ms_ocr_spark.sources.datagen import (
        pdf_custom_encoding_bytes,
        pdf_custom_encoding_golden,
    )

    boxes = [
        {"x1": 20, "y1": 30, "x2": 80, "y2": 44, "text": "SPARK (v2)"},
        {"x1": 40, "y1": 90, "x2": 100, "y2": 104, "text": "X9 50%"},
    ]
    column = [{"text": "MERGE [a]"}, {"text": "GLYPH \\x"}, {"text": "A1 )("}]
    buf = pdf_custom_encoding_bytes(boxes, column)
    exp = [
        (r["page"], r["x"], r["y"], r["text"])
        for r in pdf_custom_encoding_golden(boxes, column)
    ]
    assert pdf_text_spans(buf) == exp
    assert b"SPARK" not in buf and b"MERGE" not in buf and b"GLYPH" not in buf
