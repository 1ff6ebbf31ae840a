"""Katakana charset tests (round 4 — reference jpn/jpn_vert modes,
`/root/reference/src/library/engine_tesseract/main.py:32-70`; charsets
`engine_realtime/charset_crnn.py:40,137`).

The kana glyph inventory is a SEPARATE decode charset selected by the
routed language (`ja`/`ja_vert`), so these tests pin (a) the structural
properties the segmenter/decoder rely on and (b) that Latin decoding is
unaffected by the kana set's existence.
"""

from __future__ import annotations

import numpy as np
import pytest

from ms_ocr_spark.extraction.ocr.glyphs import (
    ALPHABET,
    KANA_ALPHABET,
    glyph_bitmap,
    render_text,
)
from ms_ocr_spark.extraction.ocr.kernel import (
    _charset,
    connected_components,
    decode_image,
    rotate_bilinear,
)


def test_kana_disjoint_from_latin():
    assert not set(KANA_ALPHABET) & set(ALPHABET)
    # round 6: katakana + hiragana + voiced + kyoiku grade-1 kanji
    assert len(KANA_ALPHABET) >= 128


def test_grade1_kanji_inventory():
    """79 of the 80 kyoiku grade-1 kanji are decodable (reference jpn
    model scope); 口 is excluded as a pixel-exact homoglyph of katakana
    ロ at 5x7 (same-charset ambiguity)."""
    from ms_ocr_spark.extraction.ocr.glyphs import _KANJI_FONT

    grade1 = (
        "一右雨円王音下火花貝学気九休玉金空月犬見五口校左三山子四糸字耳七"
        "車手十出女小上森人水正生青夕石赤千川先早草足村大男竹中虫町天田土"
        "二日入年白八百文木本名目立力林六"
    )
    assert len(set(grade1)) == 80
    missing = set(grade1) - set(_KANJI_FONT)
    assert missing == {"口"}, missing


def test_kana_glyphs_component_structure_full_height():
    """Unvoiced kana must be ONE 8-connected component spanning rows 0..6
    (always the tall size class — kana has no x-height tier).  VOICED
    kana (round 5) are exactly TWO components: a diacritic mark at rows
    0-1 / cols 3-4 plus a base at rows 2-6 whose row-2 ink stays in cols
    0-1 — the geometry that makes the kernel's existing x-overlap /
    y-gap proximity merges group mark with base in BOTH layouts."""
    from ms_ocr_spark.extraction.ocr.glyphs import BAR_KANJI

    VOICED_KANA = "がざだばぴぷ"  # glyphs whose diacritic mark is its own component

    for ch in KANA_ALPHABET:
        bm = glyph_bitmap(ch)
        if ch in BAR_KANJI:
            # round 6: bar glyphs (一) are the ja short class — a single
            # ink run, NOT full height, excluded from vertical tiers
            assert len(connected_components(bm)) == 1, ch
            rows = np.nonzero(bm.any(axis=1))[0]
            assert rows.max() - rows.min() + 1 <= 2, ch
            continue
        assert bm[0].any() and bm[-1].any(), ch
        # no blank interior row: a >= 1-font-row gap (3 device px) would
        # let _bands_1d (min_blank=4) split the glyph into two "lines"
        assert bm.any(axis=1).all(), ch
        if ch in VOICED_KANA:
            assert len(connected_components(bm)) == 2, ch
            assert not bm[:2, :3].any(), ch  # mark confined to cols 3-4
            assert not bm[2, 2:].any(), ch  # base row 2 clear of the mark
            # mark x-range overlaps base x-range (horizontal merge key)
            mark_cols = np.nonzero(bm[:2].any(axis=0))[0]
            base_cols = np.nonzero(bm[2:].any(axis=0))[0]
            assert mark_cols.min() <= base_cols.max(), ch
        else:
            assert len(connected_components(bm)) == 1, ch


def test_kana_margin_within_gates():
    """Same decode-margin invariant as the Latin stack: cross-char
    distances inside the (class, aspect) gates exceed the unambiguous
    threshold, so greedy nearest-template decode is exact."""
    cs = _charset("kana")
    flat = cs.stack.reshape(len(cs.stack), -1).astype(np.int32)
    loga = cs.log_aspect
    worst = 1 << 30
    for i in range(len(flat)):
        same_gate = (
            (cs.tall == cs.tall[i])
            & (np.abs(loga - loga[i]) <= np.log(1.6))
            & np.array([c != cs.chars[i] for c in cs.chars])
        )
        if same_gate.any():
            d = np.abs(flat[same_gate] - flat[i]).sum(axis=1).min()
            worst = min(worst, int(d))
    assert worst >= 18, worst


@pytest.mark.parametrize("deg", [-3.0, -1.5, 0.0, 0.5, 2.0, 3.0])
def test_kana_horizontal_decode(deg):
    txt = "アイウ エオカ\nキクコ サスセ"
    img = render_text(txt)
    if deg:
        img = rotate_bilinear(img, deg)
    assert decode_image(img, "ja") == txt


def test_kana_vertical_decode_right_to_left():
    """ja_vert columns read right to left: the FIRST truth line is the
    rightmost rendered column (reference psm-5 reading order)."""
    from ms_ocr_spark.sources.datagen import (
        _VCHAR_PITCH_FPX,
        _VCOL_PITCH_FPX,
    )
    from ms_ocr_spark.extraction.ocr.glyphs import render_placed

    cols = ["カキク", "サスセ", "チトナ"]
    n = len(cols)
    placed = [
        ((n - 1 - li) * _VCOL_PITCH_FPX, ci * _VCHAR_PITCH_FPX, ch)
        for li, col in enumerate(cols)
        for ci, ch in enumerate(col)
    ]
    img = render_placed(placed)
    assert decode_image(img, "ja_vert") == "\n".join(cols)


@pytest.mark.parametrize("deg", [-3.0, -1.5, 0.0, 2.0, 3.0])
def test_voiced_hiragana_horizontal_decode(deg):
    """Dakuten/handakuten glyphs are TWO components; the in-line
    x-overlap merge must group mark+base into one glyph box under the
    full corpus rotation grid, and the merged crop must decode to the
    voiced character (not its bare base)."""
    txt = "がさ くに\nばねこ ぴあ"
    img = render_text(txt)
    if deg:
        img = rotate_bilinear(img, deg)
    assert decode_image(img, "ja") == txt


def test_voiced_hiragana_vertical_decode():
    """Vertical columns: the mark ends exactly where the base starts
    (zero y-gap), so the column y-merge groups them; columns still read
    right to left."""
    from ms_ocr_spark.extraction.ocr.glyphs import render_placed
    from ms_ocr_spark.sources.datagen import (
        _VCHAR_PITCH_FPX,
        _VCOL_PITCH_FPX,
    )

    cols = ["がばこ", "ぴだて", "ざねぷ"]
    n = len(cols)
    placed = [
        ((n - 1 - li) * _VCOL_PITCH_FPX, ci * _VCHAR_PITCH_FPX, ch)
        for li, col in enumerate(cols)
        for ci, ch in enumerate(col)
    ]
    img = render_placed(placed)
    assert decode_image(img, "ja_vert") == "\n".join(cols)


def test_voiced_kana_datagen_round_trip():
    """The datagen ja/ja_vert renderers (seeded rotation + noise) must
    round-trip truths containing voiced glyphs exactly — the property
    the driver's extract_spans_ja hash check rests on."""
    from ms_ocr_spark.sources.datagen import (
        make_kana_truth,
        make_vertical_square_truth,
        render_media_image,
        render_vertical_image,
    )

    n_voiced = 0
    for i in range(24):
        t = make_vertical_square_truth(49, i, 0)
        assert decode_image(render_vertical_image(49, f"x{i}", t), "ja_vert") == t
        t2 = make_kana_truth(49, i, 0)
        assert decode_image(render_media_image(49, f"y{i}", t2), "ja") == t2
        n_voiced += sum(c in "がざだばぴぷ" for c in t + t2)
    assert n_voiced > 0  # the widened charset actually exercises voiced


def test_latin_decode_unaffected_by_kana_charset():
    """Charset gating: the kana set must not perturb Latin decodes — the
    same image decodes identically with language None / '-' / 'en'."""
    img = render_text("HELLO WORLD\nSPARK 42")
    for lang in (None, "-", "en"):
        assert decode_image(img, lang) == "HELLO WORLD\nSPARK 42"


def test_kana_square_grid_needs_routing():
    """A square kana grid ties the orientation heuristic and carries a
    non-Latin charset: only `ja_vert` routing decodes it; auto-detect
    (Latin charset, horizontal read) must NOT reproduce the truth."""
    from ms_ocr_spark.sources.datagen import (
        make_vertical_square_truth,
        render_vertical_image,
    )

    truth = make_vertical_square_truth(49, 3, 0)
    img = render_vertical_image(49, "img-x", truth)
    assert decode_image(img, "ja_vert") == truth
    assert decode_image(img, None) != truth


@pytest.mark.parametrize("deg", [-3.0, -1.5, 0.0, 2.0, 3.0])
def test_kanji_horizontal_decode(deg):
    txt = "日本 学校\n一年生 大小"
    img = render_text(txt)
    if deg:
        img = rotate_bilinear(img, deg)
    assert decode_image(img, "ja") == txt


def test_bar_kanji_all_short_line_decodes():
    """A line containing ONLY bar glyphs has no tall anchor — every crop
    classes tall first, scores garbage against tall templates, and the
    opposite-class retry (_CLASS_RETRY_DIST) recovers the short class."""
    for txt in ["一", "一一", "一 一一", "一一 一 一一"]:
        assert decode_image(render_text(txt), "ja") == txt


def test_vertical_alphabet_excludes_bar_glyphs():
    """Vertical decode forces the tall class (no line-height context), so
    the vertical sampler alphabet must not contain bar glyphs."""
    from ms_ocr_spark.extraction.ocr.glyphs import (
        BAR_KANJI,
        KANA_VERT_ALPHABET,
    )

    assert not set(BAR_KANJI) & set(KANA_VERT_ALPHABET)
    assert set(KANA_VERT_ALPHABET) | set(BAR_KANJI) == set(KANA_ALPHABET)


def test_kanji_vertical_decode():
    from ms_ocr_spark.sources.datagen import _VCHAR_PITCH_FPX, _VCOL_PITCH_FPX
    from ms_ocr_spark.extraction.ocr.glyphs import render_placed

    cols = ["日本学", "大中小", "山川田"]
    n = len(cols)
    placed = [
        ((n - 1 - li) * _VCOL_PITCH_FPX, ci * _VCHAR_PITCH_FPX, ch)
        for li, col in enumerate(cols)
        for ci, ch in enumerate(col)
    ]
    assert decode_image(render_placed(placed), "ja_vert") == "\n".join(cols)


def test_every_ja_glyph_decodes_under_rotation():
    """Exhaustive: each of the 130 ja glyphs, paired with an anchor so
    the line has tall context, decodes exactly at corpus rotations."""
    for ch in KANA_ALPHABET:
        for deg in (-3.0, 0.0, 3.0):
            img = render_text(ch + "ア")
            if deg:
                img = rotate_bilinear(img, deg)
            assert decode_image(img, "ja") == ch + "ア", (ch, deg)


def test_kanji_grade2_coverage_and_homoglyph_policy():
    """Round 7: the kyoiku grade-2 set is complete minus the single
    documented homoglyph exclusion (工 == katakana エ at 5x7, same
    policy as grade-1's 口/ロ)."""
    from ms_ocr_spark.extraction.ocr.glyphs import _KANJI2_FONT

    G2 = (
        "引羽雲園遠何科夏家歌画回会海絵外角楽活間丸岩顔汽記帰弓牛魚京強教近兄形計元言原戸古"
        "午後語工公広交光考行高黄合谷国黒今才細作算止市矢姉思紙寺自時室社弱首秋週春書少場色"
        "食心新親図数西声星晴切雪船線前組走多太体台地池知茶昼長鳥朝直通弟店点電刀冬当東答"
        "頭同道読内南肉馬売買麦半番父風分聞米歩母方北毎妹万明鳴毛門夜野友用曜来里理話"
    )
    assert len(set(G2)) == 160
    missing = set(G2) - set(_KANJI2_FONT)
    assert missing == {"工"}, missing
    assert len(_KANJI2_FONT) == 159


def test_kanji_grade2_rotation_decode_sweep():
    """Decode-robustness regression (round 7): the deskew path's
    bilinear counter-rotation + threshold-160 re-binarize FILLS enclosed
    1x1 holes; dense checkerboard glyphs collapsed to near-solid blocks
    and decoded as the bar glyph 一 via the short-class retry.  Every
    grade-2 glyph must survive render -> rotate -> decode at the angles
    that exposed the failure (+-1.0, +-1.5 deg) in 8-glyph-line form."""
    from ms_ocr_spark.extraction.ocr.glyphs import _KANJI2_FONT, render_text
    from ms_ocr_spark.extraction.ocr.kernel import decode_image, rotate_bilinear

    chars = sorted(_KANJI2_FONT)
    for deg in (-1.5, -1.0, 1.0, 1.5):
        for i in range(0, len(chars), 8):
            grp = chars[i : i + 8]
            line = "".join(grp[:4]) + " " + "".join(grp[4:])
            img = rotate_bilinear(render_text(line, scale=3), deg)
            assert decode_image(img, language="ja") == line, (deg, line)
