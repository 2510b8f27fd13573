"""The kernel's page index and the crops that read it.

``CharArrays`` keeps a document's chars in page order, each page's
chars in input order, and ``page_span`` is how every per-page stage
finds its own chars. Rect text is cropped like a cell's: one box whose
lines are grouped without a column split.
"""
from __future__ import annotations

import copy
import json
import os
import subprocess
import sys
from itertools import chain, zip_longest

from libpdf_spark.config import DEFAULT_CONFIG, ExtractConfig
from libpdf_spark.fixtures import DocBuilder
from libpdf_spark.kernel.document import extract_document
from libpdf_spark.kernel.geometry import crop_cell_box
from libpdf_spark.kernel.layout import CharArrays
from libpdf_spark.payload import decode_chars


def _rows(pages):
    return [
        dict(page=p, text=chr(ord("a") + i), x0=10.0 * i, y0=0.0,
             x1=10.0 * i + 6.0, y1=10.0, fontname=f"F{i}", ncolor=None)
        for i, p in enumerate(pages)
    ]


def test_interleaved_chars_come_out_page_ordered():
    chars = CharArrays(**decode_chars(_rows([2, 1, 2, 1, 3, 1])))
    assert chars.page.tolist() == [1, 1, 1, 2, 2, 3]
    # each page keeps its chars in input order, every column moved alike
    assert chars.text.tolist() == list("bdface")
    assert chars.x0.tolist() == [10.0, 30.0, 50.0, 0.0, 20.0, 40.0]
    assert chars.fontname.tolist() == ["F1", "F3", "F5", "F0", "F2", "F4"]
    assert chars.page_span(1) == (0, 3)
    assert chars.page_span(2) == (3, 5)
    assert chars.page_span(3) == (5, 6)


def test_page_span_of_an_absent_page_is_empty():
    chars = CharArrays(**decode_chars(_rows([2, 2, 4])))
    for page in (0, 1, 3, 5, 2**31, -(2**31) - 1, 2**40):
        lo, hi = chars.page_span(page)
        assert lo == hi, page
    empty = CharArrays(**decode_chars([]))
    assert empty.page_span(1) == (0, 0)


def _three_pages() -> dict:
    b = DocBuilder(n_pages=3)
    for page in (1, 2, 3):
        b.add_paragraph(page, 72.0, 700.0, [f"page {page} first line", "and a second"])
        b.add_paragraph(page, 72.0, 500.0, [f"another paragraph on {page}"])
    return b.build()


def _elements(res):
    return [(e.uid, e.kind, e.page, e.text, e.bbox) for e in res.elements]


def test_page_filter_keeps_the_wanted_pages_chars():
    doc = _three_pages()
    base = extract_document(copy.deepcopy(doc), DEFAULT_CONFIG)
    per_page = {p: sum(c["page"] == p for c in doc["chars"]) for p in (1, 2, 3)}
    assert base.n_chars == len(doc["chars"])

    # chars interleaved across pages, plus chars on a page the
    # document does not have, give the same result
    stray = [dict(c, page=7) for c in doc["chars"][:5]]
    by_page = [[c for c in doc["chars"] if c["page"] == p] for p in (1, 2, 3)]
    mixed = [c for c in chain.from_iterable(zip_longest(*by_page)) if c is not None]
    got = extract_document(dict(doc, chars=stray + mixed), DEFAULT_CONFIG)
    assert got.n_chars == base.n_chars
    assert _elements(got) == _elements(base)

    # cfg.pages keeps pages 1 and 3 only
    cfg = ExtractConfig(pages=(1, 3))
    got = extract_document(dict(doc, chars=stray + mixed), cfg)
    assert got.n_chars == per_page[1] + per_page[3]
    assert [e[1:] for e in _elements(got)] == [
        e[1:] for e in _elements(base) if e[2] != 2
    ]
    assert [p["number"] for p in got.pages] == [1, 3]


def test_rect_text_is_one_cell_crop_with_links():
    """A rect over two lines, the first with a wide gap and the second
    with a link: the rect's text is the single-box crop (the gap is one
    space, the lines join with a newline) and the link indexes into it."""
    b = DocBuilder(n_pages=1)
    _, para = b.add_rect(
        1, (60.0, 600.0, 400.0, 700.0),
        text_lines=["alpha" + " " * 25 + "omega", "beta gamma"],
    )
    b.add_link(para, 1, (1, 2), dest={"page": 1, "x": 0.0, "y": 0.0})
    doc = b.build()
    res = extract_document(copy.deepcopy(doc), DEFAULT_CONFIG)
    (rect,) = [e for e in res.elements if e.kind == "rect"]
    assert rect.text == "alpha omega\nbeta gamma"

    chars = CharArrays.from_payload(doc["chars"])
    off = DEFAULT_CONFIG.rect_crop_offset
    crop = crop_cell_box(
        chars, 1, (60.0 - off, 600.0 - off, 400.0 + off, 700.0 + off), DEFAULT_CONFIG
    )
    assert rect.text == crop.text
    assert rect.boxes[0].line_spans == crop.line_spans

    (link,) = rect.links
    assert rect.text[link.idx_start:link.idx_stop] == "gamma"


def test_many_pages_with_a_table_each_load_in_bounded_time():
    """400 pages of about 800 chars, each with a ruled 6×4 table, load
    in a fresh child process in under 5 s with the expected text. When
    every cell and page scanned the whole document's chars this took
    7.6 s (4-vCPU VM); reading each page's own chars takes 1.6 s."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "layout_scaling.py"),
         "--pages", "400", "--table"],
        check=True, capture_output=True, text=True, timeout=300,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert got["pages"] == 400 and got["table"]
    assert got["text_ok"]
    assert got["wall_s"] < 5.0, got
