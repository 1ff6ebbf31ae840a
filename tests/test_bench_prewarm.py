"""bench.py builds every generated fixture before its timed query loop.

A fixture missed by the prewarm is generated inside the first timed run
of its query instead.  The datagen writers are replaced by recorders, so
no corpus is written and no Spark session is needed.
"""

from __future__ import annotations

import importlib.util
import os

from ms_ocr_spark.sources import datagen

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# every `.cache/` dir a registry query reads that a datagen writer produces
EXPECTED_FIXTURE_DIRS = {
    # extraction tiers
    "corpus_60",
    "corpus_vert_40",
    "corpus_warp_40",
    "corpus_jpeg_40",
    "corpus_prog_40",
    "corpus_color_40",
    "corpus_tiff_40",
    "corpus_mixed_40",
    "corpus_routed_40",
    "corpus_rgb_40",
    "corpus_kana_40",
    # other media fixtures
    "corpus_quar_40",
    "audio_80",
    "pdf_60",
    "video_60",
    "tables_40",
}
WRITERS = (
    "write_corpus",
    "write_audio_corpus",
    "write_pdf_corpus",
    "write_video_corpus",
    "write_table_corpus",
)


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench", os.path.join(REPO, "bench.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_prewarm_requests_every_fixture_dir(monkeypatch):
    requested: list[str] = []

    def record(out_dir, *args, **kwargs):
        requested.append(out_dir)
        return {}

    for name in WRITERS:
        monkeypatch.setattr(datagen, name, record)
    _load_bench()._prewarm_lazy_corpora()

    assert len(requested) == len(set(requested)) == len(EXPECTED_FIXTURE_DIRS)
    assert {os.path.dirname(d) for d in requested} == {os.path.join(REPO, ".cache")}
    assert {os.path.basename(d) for d in requested} == EXPECTED_FIXTURE_DIRS
