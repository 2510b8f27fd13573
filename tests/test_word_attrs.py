"""Word/line-level attribute lift — mirrors the reference's
``tests/test_word_colors.py:7-143`` assertions over
``models/horizontal_box.py:50-147``: ncolor/fontname promote to a word
iff uniform across its chars, to a line iff uniform across its words,
and to the box iff uniform across its lines; mixed levels stay None
while the level below still carries the attribute."""

from __future__ import annotations

from libpdf_spark.config import ExtractConfig
from libpdf_spark.kernel.document import extract_document
from libpdf_spark.payload import EMPTY_DOC

CFG = ExtractConfig(keep_words=True)

RED, GREEN, BLUE, BLACK = (1.0, 0.0, 0.0), (0.0, 1.0, 0.0), (0.0, 0.0, 1.0), (0.0, 0.0, 0.0)


def _doc_from_words(lines, x0=72.0, y_top=700.0):
    """lines: list of [(word, color, font), ...] on a 6x10 grid."""
    chars = []
    y = y_top - 10.0
    for words in lines:
        x = x0
        for word, color, font in words:
            for ch in word:
                chars.append(
                    dict(page=1, text=ch, x0=x, y0=y, x1=x + 6.0, y1=y + 10.0,
                         fontname=font, ncolor=list(color))
                )
                x += 6.0
            x += 6.0  # inter-word space
        y -= 12.0
    doc = dict(EMPTY_DOC)
    doc["pages"] = [{"number": 1, "width": 612.0, "height": 792.0}]
    doc["chars"] = chars
    return doc


def _para(result):
    els = [e for e in result.elements if e.kind == "paragraph"]
    assert len(els) == 1
    return els[0]


def test_mixed_word_colors_lift_at_word_level_only():
    # reference test_colors_3: "This line has no color changes in words"
    doc = _doc_from_words([[
        ("This", BLACK, "Mono"), ("line", BLACK, "Mono"),
        ("has", BLUE, "Mono"), ("no", BLACK, "Mono"),
        ("color", GREEN, "Mono"), ("changes", RED, "Mono"),
        ("in", BLACK, "Mono"), ("words", BLUE, "Mono"),
    ]])
    el = _para(extract_document(doc, CFG))
    assert el.ncolor is None                      # box: mixed → not lifted
    by_text = {w["text"]: w for w in el.words}
    assert by_text["has"]["ncolor"] == BLUE
    assert by_text["color"]["ncolor"] == GREEN
    assert by_text["changes"]["ncolor"] == RED
    assert by_text["words"]["ncolor"] == BLUE
    assert by_text["This"]["ncolor"] == BLACK
    assert el.tlines[0]["ncolor"] is None          # line: mixed words → None


def test_uniform_box_lifts_at_every_level():
    # reference test_colors_0/2: uniformly-colored paragraph
    doc = _doc_from_words([
        [("all", GREEN, "Mono"), ("green", GREEN, "Mono")],
        [("here", GREEN, "Mono"), ("too", GREEN, "Mono")],
    ])
    el = _para(extract_document(doc, CFG))
    assert el.ncolor == GREEN
    assert all(l["ncolor"] == GREEN for l in el.tlines)
    assert all(w["ncolor"] == GREEN for w in el.words)


def test_per_line_colors_lift_at_line_level():
    # reference test_colors_2 "UncoloredHorizontalbox": box None, each
    # line still carries its own color
    doc = _doc_from_words([
        [("red", RED, "Mono"), ("line", RED, "Mono")],
        [("blue", BLUE, "Mono"), ("line", BLUE, "Mono")],
    ])
    el = _para(extract_document(doc, CFG))
    assert el.ncolor is None
    assert el.tlines[0]["ncolor"] == RED
    assert el.tlines[1]["ncolor"] == BLUE
    assert [w["line"] for w in el.words] == [0, 0, 1, 1]


def test_fontname_lifts_like_ncolor():
    # reference test_colors_6: "bold text format" — only the bold word
    doc = _doc_from_words([[
        ("bold", BLACK, "Mono-Bold"), ("text", BLACK, "Mono"),
        ("format", BLACK, "Mono"),
    ]])
    el = _para(extract_document(doc, CFG))
    by_text = {w["text"]: w for w in el.words}
    assert "Bold" in by_text["bold"]["fontname"]
    assert "Bold" not in by_text["text"]["fontname"]
    assert el.fontname is None                    # mixed at box level
    assert el.tlines[0]["fontname"] is None


def test_mixed_chars_within_word_do_not_lift():
    # reference Word constructor: attr must be uniform across CHARS
    doc = _doc_from_words([[("ab", RED, "Mono")]])
    doc["chars"][1]["ncolor"] = list(BLUE)  # second char differs
    el = _para(extract_document(doc, CFG))
    assert el.words[0]["ncolor"] is None


def test_words_survive_pdf_byte_stream_roundtrip():
    from libpdf_spark.pdfmini import parse_pdf
    from libpdf_spark.pdfwrite import write_pdf

    doc = _doc_from_words([[
        ("roses", RED, "Mono"), ("are", BLACK, "Mono"),
        ("violets", BLUE, "Mono"),
    ]])
    el = _para(extract_document(parse_pdf(write_pdf(doc, compress=True)), CFG))
    by_text = {w["text"]: w for w in el.words}
    assert by_text["roses"]["ncolor"] == RED
    assert by_text["violets"]["ncolor"] == BLUE
    assert by_text["are"]["ncolor"] == BLACK


def test_keep_words_off_by_default():
    doc = _doc_from_words([[("plain", BLACK, "Mono")]])
    el = _para(extract_document(doc, ExtractConfig()))
    assert el.words is None and el.tlines is None


def test_word_geometry_and_line_text():
    doc = _doc_from_words([[("ab", BLACK, "Mono"), ("cd", BLACK, "Mono")]])
    el = _para(extract_document(doc, CFG))
    w0, w1 = el.words
    assert (w0["x0"], w0["x1"]) == (72.0, 84.0)    # 2 chars × 6 pt
    assert (w1["x0"], w1["x1"]) == (90.0, 102.0)   # after the space gap
    assert el.tlines[0]["text"] == "ab cd"
    assert el.tlines[0]["x0"] == 72.0 and el.tlines[0]["x1"] == 102.0


def test_cell_words_through_table_path():
    # words on a cell element (crop_cell_box-backed Box)
    doc = _doc_from_words([[("Henry", RED, "Mono")]], x0=60.0, y_top=690.0)
    doc["lines"] = [
        dict(page=1, x0=50, x1=50, y0=600, y1=700),
        dict(page=1, x0=350, x1=350, y0=600, y1=700),
        dict(page=1, x0=50, x1=350, y0=600, y1=600),
        dict(page=1, x0=50, x1=350, y0=700, y1=700),
    ]
    r = extract_document(doc, CFG)
    cells = [e for e in r.elements if e.kind == "cell"]
    assert len(cells) == 1
    assert cells[0].words is not None
    assert cells[0].words[0]["text"] == "Henry"
    assert cells[0].words[0]["ncolor"] == RED
