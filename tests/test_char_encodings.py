"""One char decoder, three encodings.

Every fixture family's chars are encoded as row dicts, v1 columnar
lists and v2 packed buffers. ``payload.decode_chars`` must give equal
columns for all three, and everything downstream of it — extraction,
the PDF writer and the rasterizer — must give equal output.
"""

from __future__ import annotations

import base64
import copy
import functools

import numpy as np
import pytest

from libpdf_spark.config import DEFAULT_CONFIG
from libpdf_spark.fixtures import FAMILIES
from libpdf_spark.kernel.document import extract_document
from libpdf_spark.kernel.layout import CharArrays, build_boxes
from libpdf_spark.payload import decode_chars, to_columnar_chars, to_packed_chars
from libpdf_spark.pdfwrite import write_pdf
from libpdf_spark.render import render_region

ENCODINGS = ("rows", "v1", "v2")
DTYPES = {"page": np.int32, "x0": np.float64, "y0": np.float64,
          "x1": np.float64, "y1": np.float64, "fontname": object, "ncolor": object}


@functools.lru_cache(maxsize=None)
def _rows_doc(family: str) -> dict:
    return FAMILIES[family]().build()


def _encoded(family: str, encoding: str) -> dict:
    doc = copy.deepcopy(_rows_doc(family))
    if encoding != "rows":
        doc["chars"] = to_columnar_chars(doc["chars"])
    if encoding == "v2":
        doc["chars"] = to_packed_chars(doc["chars"])
        assert doc["chars"]["v"] == 2
    return doc


def _outputs(doc: dict) -> dict:
    result = extract_document(copy.deepcopy(doc), DEFAULT_CONFIG)
    rasters = [
        render_region(doc, int(p["number"]),
                      (0.0, 0.0, float(p["width"]), float(p["height"])), scale=0.5)
        for p in doc["pages"]
    ]
    return {
        "columns": {k: v.tolist() for k, v in decode_chars(doc["chars"]).items()},
        "text": result.extracted_text,
        "elements": [
            (e.kind, e.page, e.bbox, e.text, e.number, e.row, e.col,
             e.fontname, e.ncolor, e.uid, e.links)
            for e in result.elements
        ],
        "pdf": write_pdf(doc),
        "rasters": rasters,
    }


@functools.lru_cache(maxsize=None)
def _rows_outputs(family: str) -> dict:
    return _outputs(_encoded(family, "rows"))


@pytest.mark.parametrize("encoding", ENCODINGS)
@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_encodings_agree(family, encoding):
    doc = _encoded(family, encoding)
    cols = decode_chars(doc["chars"])
    for key, dtype in DTYPES.items():
        assert cols[key].dtype == dtype, key
    assert all(len(v) == len(cols["page"]) for v in cols.values())

    got, want = _outputs(doc), _rows_outputs(family)
    assert got["columns"] == want["columns"]
    assert got["text"] == want["text"]
    assert got["elements"] == want["elements"]
    assert got["pdf"] == want["pdf"]
    assert len(got["rasters"]) == len(want["rasters"])
    for a, b in zip(got["rasters"], want["rasters"]):
        assert np.array_equal(a, b)


def _short(b64: str, itemsize: int) -> str:
    """A base64 buffer one element short."""
    return base64.b64encode(base64.b64decode(b64)[:-itemsize]).decode("ascii")


@pytest.mark.parametrize("damage", [
    lambda p: {"text": p["text"][:-1]},
    lambda p: {"x0": _short(p["x0"], 8)},
    lambda p: {"page": _short(p["page"], 4)},
    lambda p: {"fontname_rle": [[v, int(k) + 1] for v, k in p["fontname_rle"]]},
], ids=["text", "x0", "page", "fontname_rle"])
def test_decode_chars_rejects_corrupt_packed(damage):
    packed = to_packed_chars(to_columnar_chars(_rows_doc("plain_paragraphs")["chars"]))
    with pytest.raises(ValueError):
        decode_chars({**packed, **damage(packed)})


def test_big_endian_text_takes_list_path():
    """The page-string fast path reinterprets a little-endian ``<U1``
    buffer; a ``>U1`` array must take the list path and give the same
    text as the ``<U1`` and object forms."""
    packed = to_packed_chars(to_columnar_chars(_rows_doc("plain_paragraphs")["chars"]))
    cols = decode_chars(packed)
    assert cols["text"].dtype == np.dtype("<U1")
    page1 = np.flatnonzero(cols["page"] == 1)

    def box_texts(text):
        chars = CharArrays(**dict(cols, text=text)).take(page1)
        return [b.text for b in build_boxes(chars, DEFAULT_CONFIG)]

    want = box_texts(cols["text"])
    assert want
    assert box_texts(cols["text"].astype(">U1")) == want
    assert box_texts(cols["text"].astype(object)) == want
