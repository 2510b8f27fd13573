"""Property-based robustness: random well-spaced paragraph layouts must
extract losslessly; degenerate/hostile payloads must not crash the
kernel (they surface as parse failures in the pipeline)."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from libpdf_spark.config import DEFAULT_CONFIG, ExtractConfig
from libpdf_spark.fixtures import CHAR_W, LINE_PITCH, DocBuilder
from libpdf_spark.kernel.document import extract_document
from libpdf_spark.payload import EMPTY_DOC

WORDS = "alpha beta gamma delta epsilon zeta eta theta".split()


@st.composite
def layouts(draw):
    n_paras = draw(st.integers(1, 6))
    paras = []
    y = 740.0
    for _ in range(n_paras):
        n_lines = draw(st.integers(1, 3))
        lines = []
        for _ in range(n_lines):
            n_words = draw(st.integers(1, 5))
            lines.append(
                " ".join(
                    WORDS[draw(st.integers(0, len(WORDS) - 1))]
                    for _ in range(n_words)
                )
            )
        x0 = draw(st.sampled_from([50.0, 72.0, 90.0]))
        paras.append((x0, y, lines))
        y -= n_lines * LINE_PITCH + draw(st.sampled_from([26.0, 30.0, 40.0]))
        if y < 80:
            break
    return paras


@given(layouts())
@settings(max_examples=60, deadline=None)
def test_random_paragraph_layouts_roundtrip(paras):
    b = DocBuilder(n_pages=1)
    for x0, y, lines in paras:
        b.add_paragraph(1, x0, y, lines)
    result = extract_document(b.build(), DEFAULT_CONFIG)
    assert result.extracted_text == b.expected_text()
    got = [e.uid for e in result.elements]
    exp = [r["uid"] for r in b.expected_elements()]
    assert got == exp


@pytest.mark.parametrize(
    "mutation",
    [
        {},  # empty doc
        {"pages": []},
        {"pages": [{"number": 1, "width": 612, "height": 792}], "chars": []},
        {"pages": [{"number": 1, "width": 612, "height": 792}],
         "chars": {"page": [1], "text": ["a"], "x0": [10.0], "y0": [10.0],
                   "x1": [16.0], "y1": [20.0], "fontname": [None], "ncolor": [None]}},
        # single char, no outline/figures
        {"pages": [{"number": 3, "width": 100, "height": 100}],
         "chars": [{"page": 1, "text": "x", "x0": 0, "y0": 0, "x1": 5, "y1": 5}]},
        # chars on a page that doesn't exist → filtered out
    ],
)
def test_degenerate_docs_do_not_crash(mutation):
    doc = dict(EMPTY_DOC)
    doc.update(mutation)
    result = extract_document(doc, ExtractConfig())
    assert result.extracted_text is not None
    assert isinstance(result.elements, list)


def test_hostile_types_raise_cleanly():
    """Wrong types must raise (caught per-turn by the pipeline), never
    hang or corrupt."""
    doc = dict(EMPTY_DOC)
    doc["pages"] = [{"number": 1, "width": "wide", "height": 792}]
    with pytest.raises((ValueError, TypeError)):
        extract_document(doc, ExtractConfig())


def test_f2_anno_noise_filter_all_encodings():
    """F2 (reference extract.py:446-486 delete_page_ann): whitespace
    'anno' artifacts injected by a pdfminer-style producer — text " "
    or "\\n", degenerate or plausible coords — are dropped before
    grouping, in every payload encoding, leaving extraction
    byte-identical to the clean payload."""
    import copy

    from libpdf_spark.config import DEFAULT_CONFIG
    from libpdf_spark.fixtures import FAMILIES
    from libpdf_spark.kernel.document import extract_document
    from libpdf_spark.kernel.layout import CharArrays
    from libpdf_spark.payload import to_columnar_chars, to_packed_chars

    doc = FAMILIES["plain_paragraphs"]().build()
    clean = extract_document(copy.deepcopy(doc), DEFAULT_CONFIG)

    dirty = copy.deepcopy(doc)
    real = dirty["chars"][10]
    artifacts = [
        {"page": 1, "text": " ", "x0": 0.0, "y0": 0.0, "x1": 0.0, "y1": 0.0,
         "fontname": None, "ncolor": None},
        {"page": 1, "text": "\n", "x0": 0.0, "y0": 0.0, "x1": 0.0, "y1": 0.0,
         "fontname": None, "ncolor": None},
        # plausible coords adjacent to a REAL char — without F2 this
        # would join its line and perturb the bbox union
        {"page": int(real["page"]), "text": " ",
         "x0": float(real["x1"]), "y0": float(real["y0"]),
         "x1": float(real["x1"]) + 5.0, "y1": float(real["y1"]),
         "fontname": None, "ncolor": None},
    ]
    dirty["chars"] = dirty["chars"] + artifacts

    # rows encoding
    got_rows = extract_document(copy.deepcopy(dirty), DEFAULT_CONFIG)
    # columnar encoding
    d_col = copy.deepcopy(dirty)
    d_col["chars"] = to_columnar_chars(d_col["chars"])
    got_col = extract_document(d_col, DEFAULT_CONFIG)
    # packed v2 encoding (whitespace glyphs are single chars → packable)
    d_pk = copy.deepcopy(dirty)
    d_pk["chars"] = to_packed_chars(to_columnar_chars(d_pk["chars"]))
    assert d_pk["chars"] is not None and d_pk["chars"]["v"] == 2
    got_pk = extract_document(d_pk, DEFAULT_CONFIG)

    for got in (got_rows, got_col, got_pk):
        assert got.extracted_text == clean.extracted_text
        assert [(e.uid, e.text, e.x0, e.y0, e.x1, e.y1) for e in got.elements] == [
            (e.uid, e.text, e.x0, e.y0, e.x1, e.y1) for e in clean.elements
        ]

    # and the filter itself is observable at ingestion
    arr = CharArrays.from_payload(dirty["chars"])
    assert not any(t in (" ", "\n") for t in arr.text)
    assert len(arr) == len(doc["chars"])


def test_f2_real_space_glyph_word_segmentation():
    """ADVICE r3 divergence coverage: a producer that serializes REAL
    space glyphs (nonzero-width geometry spanning an inter-word gap)
    loses those rows to F2 — but gap-based word segmentation
    reconstructs the identical words/text, so extraction is unchanged.
    This is the documented text-keyed-filter divergence vs the
    reference's object_type=='anno'-keyed delete_page_ann."""
    import copy

    from libpdf_spark.fixtures import FAMILIES
    from libpdf_spark.kernel.document import extract_document

    doc = FAMILIES["plain_paragraphs"]().build()
    clean = extract_document(copy.deepcopy(doc), DEFAULT_CONFIG)

    # find inter-word gaps on real lines and fill them with space
    # glyphs carrying true geometry (x0=left.x1, x1=right.x0)
    dirty = copy.deepcopy(doc)
    by_line: dict = {}
    for c in dirty["chars"]:
        by_line.setdefault((c["page"], round(c["y0"], 2)), []).append(c)
    space_glyphs = []
    for chars in by_line.values():
        chars.sort(key=lambda c: c["x0"])
        for left, right in zip(chars, chars[1:]):
            gap = right["x0"] - left["x1"]
            if gap > 1.0:  # a word gap, not kerning
                space_glyphs.append({
                    "page": left["page"], "text": " ",
                    "x0": float(left["x1"]), "y0": float(left["y0"]),
                    "x1": float(right["x0"]), "y1": float(left["y1"]),
                    "fontname": left["fontname"], "ncolor": left["ncolor"],
                })
    assert len(space_glyphs) > 10  # the fixture has real word gaps
    dirty["chars"] = dirty["chars"] + space_glyphs

    got = extract_document(dirty, DEFAULT_CONFIG)
    assert got.extracted_text == clean.extracted_text
    assert [(e.uid, e.text) for e in got.elements] == [
        (e.uid, e.text) for e in clean.elements
    ]


def test_large_page_layout_bounded_memory_and_time():
    """One 8,000-line page (paragraphs of four) loads in linear memory:
    ``libpdf_spark.load`` in a fresh child process returns the expected
    text, its peak RSS grows by less than 100 MB over the warm
    baseline, and the load takes under 2 s. The all-pairs layout took
    3-4 s and 1.5 GB on this page (4-vCPU VM)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "layout_scaling.py"),
         "--lines", "8000"],
        check=True, capture_output=True, text=True, timeout=300,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert got["lines"] == 8000
    assert got["text_ok"]
    assert got["rss_growth_mb"] < 100, got
    assert got["wall_s"] < 2.0, got


def test_one_tall_line_does_not_widen_every_window(monkeypatch):
    """The y-band sweep sizes each line's window by that line's own
    height: one glyph as tall as the page adds candidate pairs for its
    own line only, so 2,000 lines stay at a few candidates per line
    (a page-wide band would make about L²/2)."""
    import numpy as np

    from libpdf_spark.kernel import layout

    n = 2000
    y0 = 26.0 * np.arange(n, dtype=float)  # 16 pt gaps: no two join
    y1 = y0 + 10.0
    y1[n // 2] = y0[n // 2] + 40.0 * n  # the tall line reaches them all

    class Page:
        x0 = np.full(n, 72.0)
        x1 = np.full(n, 172.0)

    Page.y0, Page.y1 = y0, y1
    made = []
    real = layout._window_pairs

    def counting(lo, hi):
        a, b = real(lo, hi)
        made.append(len(a))
        return a, b

    monkeypatch.setattr(layout, "_window_pairs", counting)
    groups, _ = layout.group_boxes(Page, [np.array([i]) for i in range(n)], 0.4)
    assert sum(made) < 10 * n, sum(made)
    # every line joins the box through its pair with the tall line
    assert groups == [list(range(n))]
