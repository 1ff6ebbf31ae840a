"""Unit tests for the pure-Python extraction kernels (SURVEY.md §5 item 1)."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from ms_ocr_spark.extraction.arc90 import extract_main_text
from ms_ocr_spark.extraction.ocr.glyphs import ALPHABET, glyph_bitmap, render_text
from ms_ocr_spark.extraction.ocr.kernel import (
    SKEW_GRID,
    binarize,
    connected_components,
    decode_image,
    estimate_skew,
    median3,
    rotate_bilinear,
)
from ms_ocr_spark.extraction.ocr.png import decode_gray, encode_gray
from ms_ocr_spark.sources import datagen


def test_png_round_trip():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(33, 57), dtype=np.uint8)
    assert np.array_equal(decode_gray(encode_gray(img)), img)


def test_png_rgb_luminance_decode():
    """Truecolor PNGs decode through decode_gray as BT.601 luminance
    (K3 RGB->gray); pure-gray channels round-trip to the gray value."""
    from ms_ocr_spark.extraction.ocr.png import encode_rgb, rgb_to_gray

    rng = np.random.default_rng(9)
    rgb = rng.integers(0, 256, size=(21, 17, 3), dtype=np.uint8)
    assert np.array_equal(decode_gray(encode_rgb(rgb)), rgb_to_gray(rgb))
    gray = rng.integers(0, 256, size=(9, 11), dtype=np.uint8)
    as_rgb = np.repeat(gray[:, :, None], 3, axis=2)
    assert np.array_equal(decode_gray(encode_rgb(as_rgb)), gray)


def test_glyphs_distinct():
    bitmaps = {ch: glyph_bitmap(ch) for ch in ALPHABET}
    # A-Z 0-9 a-z plus . , ! ? - ' : ; (round-3 charset widening)
    assert len(ALPHABET) == 70
    chars = sorted(bitmaps)
    for i, a in enumerate(chars):
        for b in chars[i + 1 :]:
            d = int(np.count_nonzero(bitmaps[a] != bitmaps[b]))
            assert d >= 3, f"{a} vs {b} differ by only {d} px"


def test_tall_glyphs_span_full_cell():
    # line banding + size classing assume tall-class glyphs ink both the
    # top and bottom cell rows; short glyphs only need to sit inside the
    # band a tall anchor establishes
    from ms_ocr_spark.extraction.ocr.kernel import _charset

    cs = _charset("latin")
    tall_chars = {c for c, t in zip(cs.chars, cs.tall) if t}
    for ch in tall_chars:
        bm = glyph_bitmap(ch)
        assert bm[0].any() and bm[-1].any(), ch


_IMPORT_BUILDS = """
import sys
calls = []
def count(frame, event, arg):
    if event == "call" and frame.f_code.co_name == "_build_template_stack":
        calls.append(frame)
sys.setprofile(count)
import ms_ocr_spark.extraction.ocr
sys.setprofile(None)
print(len(calls))
"""


def test_ocr_import_builds_no_template_stack():
    """Importing the OCR package (what a Python worker does to read one PNG
    or PDF) builds no charset's template stack; the first decode that
    needs a charset builds it."""
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_BUILDS],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True,
        text=True,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["0"]


def test_glyph_margin_within_gates():
    """Cross-char template distances inside the (class, aspect) gates must
    exceed the decoder's unambiguous-accept threshold — the structural
    property that makes greedy nearest-template decode exact."""
    from ms_ocr_spark.extraction.ocr.kernel import _charset

    cs = _charset("latin")
    flat = cs.stack.reshape(len(cs.stack), -1).astype(np.int32)
    loga = np.log(cs.aspect)
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
    # > 17: strictly above the decoder's early-exit distance would be 20,
    # but rotated-variant cross pairs (e.g. F@-2deg vs P@+2deg) legally
    # sit slightly lower; crops match their own 0-deg template far closer
    assert worst >= 18, worst


def test_decode_clean():
    img = render_text("HELLO WORLD\nSPARK 42")
    assert decode_image(img) == "HELLO WORLD\nSPARK 42"


@pytest.mark.parametrize("deg", [-3.0, -1.5, -0.5, 0.5, 2.0, 3.0])
def test_decode_rotated(deg):
    img = rotate_bilinear(render_text("GRAFT KERNEL\nDECODE 42"), deg)
    assert decode_image(img) == "GRAFT KERNEL\nDECODE 42"


def test_estimate_skew_returns_correction():
    img = render_text("LINE GRAFT HELLO")
    rot = rotate_bilinear(img, 2.0)
    assert estimate_skew(binarize(median3(rot))) == -2.0


def test_connected_components_counts():
    mask = np.zeros((10, 10), dtype=bool)
    mask[1:3, 1:3] = True
    mask[5:9, 5:7] = True
    mask[0, 9] = True  # single pixel
    boxes = connected_components(mask)
    assert sorted(boxes) == [(1, 1, 3, 3), (5, 5, 7, 9), (9, 0, 10, 1)]


def test_connected_components_diagonal_is_8_connected():
    mask = np.eye(5, dtype=bool)
    assert connected_components(mask) == [(0, 0, 5, 5)]


def _flood_fill_boxes(mask: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Reference 8-connected labeling: BFS from each unlabeled ink pixel in
    row-major order, so components come out in order of their first pixel."""
    h, w = mask.shape
    seen = np.zeros_like(mask)
    boxes = []
    for y0, x0 in zip(*np.nonzero(mask)):
        if seen[y0, x0]:
            continue
        seen[y0, x0] = True
        todo, box = [(y0, x0)], [x0, y0, x0 + 1, y0 + 1]
        while todo:
            y, x = todo.pop()
            box = [min(box[0], x), min(box[1], y), max(box[2], x + 1), max(box[3], y + 1)]
            for ny in range(max(y - 1, 0), min(y + 2, h)):
                for nx in range(max(x - 1, 0), min(x + 2, w)):
                    if mask[ny, nx] and not seen[ny, nx]:
                        seen[ny, nx] = True
                        todo.append((ny, nx))
        boxes.append(tuple(int(v) for v in box))
    return boxes


def test_connected_components_matches_flood_fill():
    """Random masks and serpentines (one component whose labels must
    travel the whole snake): same boxes in the same order as BFS."""
    rng = np.random.default_rng(3)
    masks = [rng.random(tuple(rng.integers(1, 30, 2))) < rng.uniform(0.05, 0.7) for _ in range(300)]
    for h, w in ((9, 7), (21, 40), (40, 3)):
        snake = np.zeros((h, w), dtype=bool)
        snake[::2] = True
        for r in range(1, h, 2):
            snake[r, 0 if (r // 2) % 2 else w - 1] = True
        masks += [snake, snake[::-1], snake.T]
    for mask in masks:
        assert connected_components(mask) == _flood_fill_boxes(mask)


def _skew_one_angle_at_a_time(mask: np.ndarray) -> float:
    """Reference projection-profile search: one rotation and two
    histograms per candidate angle, first maximum wins."""
    ys, xs = np.nonzero(mask)
    if len(ys) > 6000:
        step = len(ys) // 6000 + 1
        ys, xs = ys[::step], xs[::step]
    xs32 = (xs - xs.mean()).astype(np.float32)
    ys32 = (ys - ys.mean()).astype(np.float32)
    best_deg, best_score = 0.0, -1
    for deg in SKEW_GRID:
        th = np.deg2rad(-deg)
        c, s = np.float32(np.cos(th)), np.float32(np.sin(th))
        rows = np.rint(-s * xs32 + c * ys32).astype(np.int64)
        cols = np.rint(c * xs32 + s * ys32).astype(np.int64)
        score = sum(int((np.unique(v, return_counts=True)[1] ** 2).sum()) for v in (rows, cols))
        if score > best_score:
            best_deg, best_score = float(deg), score
    return best_deg


def test_estimate_skew_matches_per_angle_search():
    rng = np.random.default_rng(4)
    masks = [
        binarize(median3(rotate_bilinear(render_text(text), deg)))
        for text in ("LINE GRAFT HELLO", "AB 12\nCD 34\nEF 56")
        for deg in (-2.5, -1.0, 0.0, 0.5, 3.0)
    ]
    masks += [rng.random((60, 400)) < 0.3]  # over 6000 ink pixels: stride sample
    for mask in masks:
        assert estimate_skew(mask) == _skew_one_angle_at_a_time(mask)


def test_ocr_corpus_round_trip():
    """End-to-end kernel accuracy on 300 corpus-distribution samples."""
    for i in range(300):
        truth = datagen.make_media_truth(42, i, i % 5)
        payload = encode_gray(datagen.render_media_image(42, f"img-t-{i}", truth))
        assert decode_image(decode_gray(payload)) == truth, f"sample {i}: {truth!r}"


def test_arc90_recovers_generated_main_text():
    for i in range(50):
        html, main = datagen.make_text_span_html(42, i, i % 4)
        assert extract_main_text(html) == main, f"doc {i}"


def test_arc90_plain_text_fallback():
    assert extract_main_text("just  plain   text") == "just plain text"
    assert extract_main_text(None) is None


def test_arc90_prefers_low_link_density():
    html = (
        "<html><body>"
        '<div><p>short intro, with a comma, here and more text to score.</p>'
        '<a href="#">a</a><a href="#">lots</a><a href="#">of links in this container</a>'
        "</div>"
        "<div><p>the real content paragraph, long and comma rich, stays here today.</p>"
        "<p>another content paragraph, again with commas, and plenty of words.</p></div>"
        "</body></html>"
    )
    out = extract_main_text(html)
    assert out is not None and out.startswith("the real content paragraph")
    assert "links" not in out


def test_decode_mixedcase_clean():
    from ms_ocr_spark.extraction.ocr.glyphs import render_text
    text = "Hello, world! Spark's q-ok\nAbc xyz: jiffy?"
    assert decode_image(render_text(text)) == text


def test_mixed_tier_round_trip():
    """Every mixed-case payload (rotation + noise) decodes to its exact
    truth through the full kernel."""
    from ms_ocr_spark.extraction.ocr import decode_media
    from ms_ocr_spark.sources.datagen import gen_corpus

    _, media, _, _, _ = gen_corpus(12, seed=46, mixed_pct=1.0, processes=1)
    rows = media.to_pylist()
    assert rows
    for row in rows:
        assert decode_image(decode_media(bytes(row["payload"]))) == row["truth_text"]
