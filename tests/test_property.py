"""Property-based tests (hypothesis) for the codec layers: the PDF
writer/parser round-trip, the media codecs, and the page-range parser
must hold for ARBITRARY inputs, not just the fixture corpus."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from libpdf_spark.pdfmini import parse_pdf, write_pdf

SETTINGS = dict(max_examples=30, deadline=None)

# printable-ASCII words without spaces (space is a layout gap, not a char)
_word = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126),
    min_size=1,
    max_size=8,
)


@st.composite
def grid_doc(draw):
    """A random monospace layout document on a 6×10 grid."""
    n_lines = draw(st.integers(1, 6))
    chars = []
    for li in range(n_lines):
        words = draw(st.lists(_word, min_size=1, max_size=5))
        x = 72.0
        y = 700.0 - li * 14.0
        for w in words:
            for ch in w:
                chars.append(
                    dict(page=1, text=ch, x0=x, y0=y, x1=x + 6.0, y1=y + 10.0,
                         fontname="Mono", ncolor=[0.0, 0.0, 0.0])
                )
                x += 6.0
            x += 6.0 * draw(st.integers(1, 3))  # 1-3 space gap
    return {
        "meta": {},
        "pages": [{"number": 1, "width": 612.0, "height": 792.0}],
        "chars": chars,
        "figures": [], "rects": [], "lines": [],
        "outline": [], "annos": [], "dests": {},
    }


def _parsed_char_tuples(payload):
    chs = payload["chars"]
    n = len(chs["page"])
    return sorted(
        (round(chs["y0"][i], 3), round(chs["x0"][i], 3), chs["text"][i],
         round(chs["x1"][i], 3), round(chs["y1"][i], 3))
        for i in range(n)
    )


@settings(**SETTINGS)
@given(doc=grid_doc(), compress=st.booleans())
def test_pdf_roundtrip_preserves_every_char(doc, compress):
    parsed = parse_pdf(write_pdf(doc, compress=compress))
    got = _parsed_char_tuples(parsed)
    exp = sorted(
        (round(c["y0"], 3), round(c["x0"], 3), c["text"],
         round(c["x1"], 3), round(c["y1"], 3))
        for c in doc["chars"]
    )
    assert got == exp


@settings(**SETTINGS)
@given(
    title=st.text(min_size=1, max_size=40).filter(lambda s: s.strip()),
    level=st.integers(1, 3),
)
def test_outline_title_roundtrip_any_unicode(title, level):
    doc = {
        "meta": {}, "pages": [{"number": 1, "width": 612.0, "height": 792.0}],
        "chars": [], "figures": [], "rects": [], "lines": [],
        "outline": [{"title": title, "level": 1,
                     "dest": {"page": 1, "x": 0.0, "y": 700.0}}],
        "annos": [], "dests": {},
    }
    out = parse_pdf(write_pdf(doc))["outline"]
    # the writer strips nothing; the X4 chain must return the title
    # verbatim (literal-escape path for ASCII, UTF-16BE hex otherwise)
    assert out[0]["title"] == title


@settings(**SETTINGS)
@given(
    mid=st.integers(0, 10_000),
    w=st.integers(8, 40),
    h=st.integers(8, 33),
)
def test_bmp_roundtrip_any_dims(mid, w, h):
    from libpdf_spark.operators.multimodal import decode_bmp, encode_bmp

    f = decode_bmp(encode_bmp(mid, w, h))
    assert (f["width"], f["height"]) == (w, h)
    assert 0 <= f["level_millis"] <= 255_000


@settings(**SETTINGS)
@given(mid=st.integers(0, 10_000), n=st.integers(8, 4096))
def test_wav_roundtrip_any_length(mid, n):
    from libpdf_spark.operators.multimodal import decode_wav, encode_wav

    f = decode_wav(encode_wav(mid, n))
    assert f["sample_rate"] == 16000 and 0 <= f["level_millis"] <= 2048_000


@settings(**SETTINGS)
@given(data=st.binary(min_size=0, max_size=400))
def test_random_bytes_never_crash_media_decode(data):
    import pytest

    from libpdf_spark.operators.multimodal import decode_media

    # arbitrary bytes either decode (if they happen to be valid) or
    # raise ValueError — never any other exception (per-row isolation
    # depends on this contract)
    try:
        decode_media(data)
    except ValueError:
        pass


@settings(**SETTINGS)
@given(data=st.binary(min_size=5, max_size=600).map(lambda b: b"%PDF-" + b))
def test_random_bytes_never_crash_parse_pdf(data):
    # tolerant parser contract: garbage after the magic either parses
    # or raises ValueError — never an unhandled exception type
    try:
        parse_pdf(data)
    except ValueError:
        pass


@settings(**SETTINGS)
@given(pages=st.lists(st.integers(1, 60), min_size=1, max_size=8))
def test_parse_page_range_roundtrip(pages):
    from libpdf_spark.api import parse_page_range

    spec = ",".join(str(p) for p in pages)
    assert parse_page_range(spec) == tuple(sorted(set(pages)))


# ---------------------------------------------------------------------------
# layout-kernel invariants
# ---------------------------------------------------------------------------


@settings(**SETTINGS)
@given(doc=grid_doc())
def test_build_boxes_conserves_every_char(doc):
    """Every input char lands in EXACTLY one box (char_idx partition),
    and each box's text contains its glyphs in line order."""
    import numpy as np

    from libpdf_spark.config import ExtractConfig
    from libpdf_spark.kernel.layout import CharArrays, build_boxes
    from libpdf_spark.payload import decode_chars

    chars = CharArrays(**decode_chars(doc["chars"]))
    boxes = build_boxes(chars, ExtractConfig())
    seen = np.concatenate([b.char_idx for b in boxes]) if boxes else np.array([])
    assert sorted(seen.tolist()) == list(range(len(chars)))
    for b in boxes:
        # offsets index into text and recover each glyph verbatim
        for idx, off in zip(b.char_idx, b.offsets):
            assert b.text[off] == chars.text[idx]


@settings(**SETTINGS)
@given(doc=grid_doc())
def test_words_lines_partition_box_chars(doc):
    """The word/line tree re-partitions the box's chars exactly: word
    texts concatenated per line equal the line text without spaces."""
    from libpdf_spark.config import ExtractConfig
    from libpdf_spark.kernel.layout import (
        CharArrays,
        box_words_lines,
        build_boxes,
    )
    from libpdf_spark.payload import decode_chars

    cfg = ExtractConfig()
    chars = CharArrays(**decode_chars(doc["chars"]))
    for b in build_boxes(chars, cfg):
        words, lines = box_words_lines(chars, b, cfg.word_margin)
        assert len(lines) == len(b.line_spans)
        for li, line in enumerate(lines):
            lw = [w["text"] for w in words if w["line"] == li]
            assert "".join(lw) == line["text"].replace(" ", "")
            assert line["text"] == " ".join(lw)


@settings(**SETTINGS)
@given(doc=grid_doc())
def test_extraction_text_contains_all_glyphs(doc):
    """extract_document output text = input glyphs + whitespace, and
    every glyph count is preserved (no char invented or dropped)."""
    from collections import Counter

    from libpdf_spark.config import ExtractConfig
    from libpdf_spark.kernel.document import extract_document

    r = extract_document(doc, ExtractConfig())
    got = Counter(c for c in r.extracted_text if not c.isspace())
    exp = Counter(c["text"] for c in doc["chars"])
    assert got == exp


@settings(**SETTINGS)
@given(doc=grid_doc())
def test_packed_payload_roundtrip_bit_exact(doc):
    """v2 packed chars decode to EXACTLY the v1 columnar values
    (float64 buffers round-trip bit-exact; glyphs/attrs verbatim)."""
    from libpdf_spark.payload import (
        decode_chars,
        to_columnar_chars,
        to_packed_chars,
    )

    cols = to_columnar_chars(doc["chars"])
    packed = to_packed_chars(cols)
    assert packed is not None and packed["v"] == 2
    back = decode_chars(packed)
    assert back["text"].tolist() == cols["text"]
    assert back["page"].tolist() == cols["page"]
    for k in ("x0", "y0", "x1", "y1"):
        assert back[k].tolist() == cols[k]  # bit-exact, no rounding
    assert back["fontname"].tolist() == cols["fontname"]
    assert back["ncolor"].tolist() == [tuple(c) if c else None for c in cols["ncolor"]]


def test_multichar_glyphs_fall_back_to_v1():
    from libpdf_spark.payload import encode
    import json

    doc = {
        "pages": [{"number": 1, "width": 612.0, "height": 792.0}],
        "chars": [
            {"page": 1, "text": "fi", "x0": 0.0, "y0": 0.0, "x1": 6.0, "y1": 10.0}
        ],
    }
    out = json.loads(encode(doc))
    assert "v" not in out["chars"]           # ligature → v1 columnar
    assert out["chars"]["text"] == ["fi"]
