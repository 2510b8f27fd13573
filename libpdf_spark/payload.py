"""Serialized layout-markup payload codec.

A document-bearing transcript turn embeds ONE document as a compact
JSON envelope between sentinels inside its ``text`` (or ``tool``)
field. The envelope carries the same information pdfminer feeds the
reference (chars with geometry/font/color + catalog), per
``FIXTURES.md §2``:

    doc = {
      "meta":    {author,title,subject,creator,producer,keywords,
                  creation_date,mod_date,trapped},
      "pages":   [{"number","width","height"}],
      "chars":   [{"page","text","x0","y0","x1","y1","fontname","ncolor"}],
      "figures": [{"page","x0","y0","x1","y1"}],
      "rects":   [{"page","x0","y0","x1","y1","non_stroking_color"}],
      "lines":   [{"page","x0","y0","x1","y1"}],            # ruled edges
      "outline": [{"title","level","dest":{"page","x","y"}}],
      "annos":   [{"page","rect":[x0,y0,x1,y1],
                   "dest_name" | "dest":{"page","x","y"}}],
      "dests":   {name: {"page","x","y"}},
    }

Coordinates are PDF-standard: origin bottom-left, points
(reference ``models/position.py:25-52``).
"""

from __future__ import annotations

import json
from typing import Any

try:  # orjson is ~5× faster on the hot decode path; stdlib fallback
    import orjson

    _loads = orjson.loads
except ImportError:  # pragma: no cover
    _loads = json.loads

DOC_OPEN = "<<<LIBPDF_DOC>>>"
DOC_CLOSE = "<<<END_LIBPDF_DOC>>>"
PDF_OPEN = "<<<LIBPDF_PDF_B64>>>"
PDF_CLOSE = "<<<END_LIBPDF_PDF_B64>>>"

EMPTY_DOC: dict[str, Any] = {
    "meta": {},
    "pages": [],
    "chars": [],
    "figures": [],
    "rects": [],
    "lines": [],
    "outline": [],
    "annos": [],
    "dests": {},
}


def to_columnar_chars(chars: list[dict]) -> dict:
    """Row-wise char records → columnar encoding.

    The row encoding costs ~120 JSON bytes per char (key repetition);
    columnar cuts payload size and parse time ~6×, which directly
    reduces Arrow transfer + memory bandwidth in the hot path. All
    three encodings (rows, this one, and :func:`to_packed_chars`) are
    read by one decoder, :func:`decode_chars`.
    """
    return {
        "page": [c["page"] for c in chars],
        "text": [c["text"] for c in chars],
        "x0": [c["x0"] for c in chars],
        "y0": [c["y0"] for c in chars],
        "x1": [c["x1"] for c in chars],
        "y1": [c["y1"] for c in chars],
        "fontname": [c.get("fontname") for c in chars],
        "ncolor": [list(c["ncolor"]) if c.get("ncolor") else None for c in chars],
    }


def _rle(values: list) -> list:
    out: list[list] = []
    for v in values:
        if out and out[-1][0] == v:
            out[-1][1] += 1
        else:
            out.append([v, 1])
    return out


def to_packed_chars(cols: dict) -> dict | None:
    """Columnar chars → PACKED encoding (``"v": 2``): the hot decode
    path. stdlib-json float parsing was 33 % of per-doc kernel time;
    packed coordinates are base64 little-endian float64 buffers
    (``np.frombuffer`` on read — exact, zero parse), glyphs concatenate
    into one string, page numbers are a base64 int32 buffer, and
    fontname/ncolor are run-length encoded (near-uniform in practice).

    Returns ``None`` when the chars don't fit the packed contract
    (any multi-char glyph) — the caller keeps the v1 columnar form.
    """
    import base64

    import numpy as np

    texts = cols["text"]
    if any(len(t) != 1 for t in texts):
        return None
    n = len(texts)

    def fpack(key: str) -> str:
        return base64.b64encode(
            np.asarray(cols[key], dtype="<f8").tobytes()
        ).decode("ascii")

    return {
        "v": 2,
        "n": n,
        "page": base64.b64encode(
            np.asarray(cols["page"], dtype="<i4").tobytes()
        ).decode("ascii"),
        "text": "".join(texts),
        "x0": fpack("x0"), "y0": fpack("y0"),
        "x1": fpack("x1"), "y1": fpack("y1"),
        "fontname_rle": _rle(list(cols.get("fontname") or [None] * n)),
        "ncolor_rle": _rle(
            [list(c) if c else None for c in (cols.get("ncolor") or [None] * n)]
        ),
    }


def _object_array(items: list) -> "np.ndarray":
    """1-D object array even when items are equal-length tuples
    (plain ``np.array`` would broadcast those to 2-D)."""
    import numpy as np

    arr = np.empty(len(items), dtype=object)
    for i, it in enumerate(items):
        arr[i] = it
    return arr


def decode_chars(chars) -> dict:
    """Payload chars in any encoding → numpy-ready columns.

    The one place the char encoding is decided: ``None`` or a list of
    row dicts, a v1 columnar dict (:func:`to_columnar_chars`) or a v2
    packed dict (``"v": 2``, :func:`to_packed_chars`). Returns the
    fields of ``kernel.layout.CharArrays``: ``page`` int32,
    ``x0``/``y0``/``x1``/``y1`` float64, ``text``, and object arrays
    ``fontname`` (str | None) and ``ncolor`` (tuple | None).

    Packed input is the hot path of every JSON turn (r8): coordinates
    and pages are ``np.frombuffer`` views of the base64 buffers,
    ``text`` is a ``<U1`` array read straight from the UTF-32 buffer
    (no per-char Python string) and fontname/ncolor are filled once
    per RLE run, not once per char. Row and v1 text stays an object
    array (glyphs may be multi-char ligatures). A packed column whose
    length, or RLE runs whose total, disagree with ``n`` raise
    ``ValueError`` — the payload is outside input."""
    import numpy as np

    if not isinstance(chars, dict):
        chars = to_columnar_chars(chars or [])
    if chars.get("v") != 2:
        n = len(chars["page"])
        fontname = chars.get("fontname")
        ncolor = chars.get("ncolor")
        return {
            "page": np.asarray(chars["page"], dtype=np.int32),
            "text": np.asarray(chars["text"], dtype=object),
            "x0": np.asarray(chars["x0"], dtype=np.float64),
            "y0": np.asarray(chars["y0"], dtype=np.float64),
            "x1": np.asarray(chars["x1"], dtype=np.float64),
            "y1": np.asarray(chars["y1"], dtype=np.float64),
            "fontname": np.asarray(fontname or [None] * n, dtype=object),
            "ncolor": _object_array(
                [tuple(c) if c else None for c in (ncolor or [None] * n)]
            ),
        }

    import base64

    n = int(chars["n"])
    text = chars["text"]
    if len(text) != n:
        raise ValueError("corrupt packed chars: text length mismatch")

    def unpack(key: str, dtype: str = "<f8") -> "np.ndarray":
        arr = np.frombuffer(base64.b64decode(chars[key]), dtype=dtype)
        if len(arr) != n:
            raise ValueError(f"corrupt packed chars: {key} length mismatch")
        return arr

    def rle_obj(rle: list, conv=None) -> "np.ndarray":
        arr = np.empty(n, dtype=object)
        ov = np.empty(1, dtype=object)  # object "scalar" for slice fill
        pos = 0
        for v, k in rle:
            k = int(k)
            if v is not None:
                ov[0] = conv(v) if conv else v
                arr[pos : pos + k] = ov
            pos += k
        if pos != n:
            raise ValueError("corrupt RLE char attribute")
        return arr

    return {
        "page": unpack("page", "<i4"),
        "text": np.frombuffer(text.encode("utf-32-le"), dtype="<U1"),
        "x0": unpack("x0"), "y0": unpack("y0"),
        "x1": unpack("x1"), "y1": unpack("y1"),
        "fontname": rle_obj(chars.get("fontname_rle") or [[None, n]]),
        "ncolor": rle_obj(chars.get("ncolor_rle") or [[None, n]], conv=tuple),
    }


def encode(doc: dict) -> str:
    """Compact-serialize a layout document for embedding in a turn.

    Row chars become columnar (:func:`to_columnar_chars`), and
    single-char-glyph columnar chars the v2 packed encoding
    (:func:`to_packed_chars`) — ~7× faster to decode than JSON float
    arrays; chars that cannot be packed stay v1 columnar."""
    chars = doc.get("chars")
    if isinstance(chars, list) and chars:
        chars = to_columnar_chars(chars)
    if isinstance(chars, dict) and "v" not in chars and chars.get("text"):
        chars = to_packed_chars(chars) or chars
    if chars is not doc.get("chars"):
        doc = dict(doc, chars=chars)
    return json.dumps(doc, separators=(",", ":"), sort_keys=True)


def embed(doc: dict, prefix: str = "", suffix: str = "") -> str:
    """Wrap a serialized document in sentinels inside surrounding chatter."""
    return f"{prefix}{DOC_OPEN}{encode(doc)}{DOC_CLOSE}{suffix}"


def embed_pdf(pdf_bytes: bytes, prefix: str = "", suffix: str = "") -> str:
    """Wrap real PDF byte-stream content (base64) inside a turn."""
    import base64

    b64 = base64.b64encode(pdf_bytes).decode("ascii")
    return f"{prefix}{PDF_OPEN}{b64}{PDF_CLOSE}{suffix}"


def find_payload(text: str | None, pdf_password: str = "") -> dict | None:
    """Extract + parse the embedded document from a turn field.

    Two embeddings are recognized: the JSON layout-markup envelope and
    a base64 PDF byte-stream (parsed by :mod:`libpdf_spark.pdfmini`
    into the same payload dict — one kernel for both). Returns
    ``None`` when the field carries no document. Raises ``ValueError``
    on a corrupt envelope (counted as a parse failure in the metrics
    table, never a job abort).
    """
    if not text:
        return None
    start = text.find(DOC_OPEN)
    if start >= 0:
        stop = text.find(DOC_CLOSE, start)
        if stop < 0:
            raise ValueError("unterminated layout payload")
        body = text[start + len(DOC_OPEN) : stop]
        doc = _loads(body)
        if not isinstance(doc, dict):
            raise ValueError("layout payload is not an object")
        out = dict(EMPTY_DOC)
        out.update(doc)
        return out
    start = text.find(PDF_OPEN)
    if start >= 0:
        import base64

        from libpdf_spark import pdfmini

        stop = text.find(PDF_CLOSE, start)
        if stop < 0:
            raise ValueError("unterminated PDF payload")
        try:
            raw = base64.b64decode(text[start + len(PDF_OPEN) : stop])
        except Exception as exc:  # noqa: BLE001 — normalized to ValueError
            raise ValueError(f"bad base64 PDF payload: {exc}") from exc
        return pdfmini.parse_pdf(raw, password=pdf_password)
    return None
