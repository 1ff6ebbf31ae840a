"""Byte pin on the corpus generator's output.

Each parameter set runs `gen_corpus` directly (never `write_corpus`, whose
`.cache` reuse would serve files an older generator wrote) and hashes the
schema and every row of all five tables: documents, media_store,
golden_spans, golden_media_meta and golden_quarantine.  A change to any
payload byte, truth text, golden metadata value or quarantine verdict for
these parameters changes a digest.  The sets cover every extraction tier of
the query registry, the quarantine corpus, perfbench's two document pools
(the extraction pool through the process-pool path) and one corpus with
every tier keyword set at once, which fixes the precedence between tiers.
No Spark session is needed.
"""

from __future__ import annotations

import hashlib

import pytest

from ms_ocr_spark import queries as Q
from ms_ocr_spark.sources.datagen import gen_corpus

# `queries._corpus_paths_quarantine`
_QUARANTINE = dict(
    n_docs=40,
    seed=51,
    jpeg_pct=0.2,
    prog_jpeg_pct=0.25,
    truncated_jpeg_pct=0.1,
    unsupported_jpeg_pct=0.1,
    invalid_pct=0.15,
    unsupported_tiff_pct=0.1,
)
# every tier keyword non-zero, with routed languages and skewed docs
_ALL_TIERS = dict(
    n_docs=48,
    seed=61,
    skew_doc_pct=0.05,
    skew_mult=3,
    vertical_pct=0.2,
    shear_pct=0.2,
    mixed_pct=0.3,
    routed_pct=0.3,
    invalid_pct=0.06,
    truncated_jpeg_pct=0.06,
    unsupported_jpeg_pct=0.06,
    unsupported_tiff_pct=0.06,
    jpeg_pct=0.15,
    prog_jpeg_pct=0.15,
    tiff_pct=0.2,
    rgb_pct=0.25,
    color_jpeg_pct=0.4,
)

PARAMS = {
    **{name: knobs for name, (_, knobs) in Q._TIERS.items()},
    "quarantine": _QUARANTINE,
    # perfbench/run.py EXTRACT pool kwargs, through the process pool
    "perfbench_extract": dict(
        n_docs=200,
        seed=0,
        skew_doc_pct=0.01,
        skew_mult=20,
        color_jpeg_pct=0.05,
        processes=2,
    ),
    # perfbench/run.py TIFF_POOL: all 12 TIFF variants
    "perfbench_tiff": dict(n_docs=24, seed=0, tiff_pct=1.0),
    "all_tiers": _ALL_TIERS,
}

DIGESTS = {
    "all_tiers": "44aa873b333d1c7c8e64b45440f53b8cac7ea5f7b9863c553970655ea354f467",
    "extract_spans": "7e25f9710e387e29df148b4fc380f6a798d7ba46320fa03831e529c512f92ebe",
    "extract_spans_color": "6a0500fbca877e8b67446b17ab121bd742b087fd6ad76fe94bc283ff5f32581d",
    "extract_spans_ja": "dc9a7c33ea77ef083077dfcb0bdf00e208fc11366c69d36a16df071f6a0e7d92",
    "extract_spans_jpeg": "9ed3fb71a3605d55e2401c99347a2f0735cc9cca3b4651f413f294a57a5ca40f",
    "extract_spans_mixedcase": "1aff4f47735eb364b4ae9308583ebaaf13d242a2f63185f0316005d4d0f8e977",
    "extract_spans_progressive": "9b3e7796cc89afacc1b6ec970e18815116f2ccd048aae3aea76af81b19f7f9e1",
    "extract_spans_rgb": "833221f45ef37f9db11fa1950f380dc60f39d101b8e0ebe9249d4996964500d7",
    "extract_spans_routed": "f2ffc480b8162eaa186d20da99d1d2ab0d99f4231b1995acfa65a42f9f0cda6e",
    "extract_spans_tiff": "a27e9ffdec23fdaf3341b38dbfdf47a0f62e6e7da5d682ed385c4d72a7e5fad5",
    "extract_spans_vertical": "94fc3be69fe760a2ade93e12ae339b6b6b3b91322a9fb34bc44acf80519d45fe",
    "extract_spans_warped": "9b29ccdf38f35c40bdf0ec1b9f9e7c877a69b5d69807772d7b3d9e81fb3256ca",
    "perfbench_extract": "a7b53dd9fc4e464f580ea9df8de2fb84adc90eac189f9e54becb1ee079b34f21",
    "perfbench_tiff": "4fcca90104dc4b768215f5af89949dc103f920363375c6edf7a5d19edb1cb8f7",
    "quarantine": "df59b6c0fe687d8dbe05927df1265fbb880fa4571017a363eb573e75e29864f9",
}


def corpus_digest(**kw) -> str:
    h = hashlib.sha256()
    for table in gen_corpus(**kw):
        h.update(table.schema.to_string().encode())
        for row in table.to_pylist():
            h.update(repr(row).encode())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(PARAMS))
def test_corpus_is_pinned(name):
    assert corpus_digest(**PARAMS[name]) == DIGESTS[name]


def test_all_tiers_set_reaches_every_tier():
    """The precedence set only pins precedence if every tier occurs in it."""
    docs, media, _, meta, quarantine = gen_corpus(**_ALL_TIERS)
    reasons = set(quarantine.column("reason").to_pylist())
    assert reasons == {
        "invalid",
        "truncated_jpeg",
        "unsupported_jpeg_layout",
        "unsupported_tiff_layout",
    }
    assert {"png", "jpeg", "tiff"} <= set(meta.column("format").to_pylist())
    assert set(docs.column("language").to_pylist()) == {"-", "en", "ja", "ja_vert"}
    assert max(len(s) for s in docs.column("spans").to_pylist()) > 12


def test_unknown_keyword_raises_type_error():
    with pytest.raises(TypeError):
        gen_corpus(4, jpg_pct=0.5)
