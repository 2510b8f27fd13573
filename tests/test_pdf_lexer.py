"""The one tokenizer of ``pdfmini`` against the lexers it replaced.

``pdfmini`` reads object bodies, content streams and CMaps through one
tokenizer (``_token``) and three readers: ``_parse_obj`` (an explicit
stack), ``_operations`` (content streams and CMaps) and ``_read_cmap``.
The lexers they replaced are kept below, verbatim, as oracles: the
recursive ``_parse_obj`` over ``_skip_ws``, ``_content_tokens``, and
the regex-driven ``_parse_cmap`` / ``_parse_embedded_cmap``.

Writer-made object bodies, content streams and CMaps (every
``cid_font`` shape) read exactly as before. Mutated ones may differ
only in the documented classes, each detected here from the input:

* a hex string with a ``<`` inside: the old lexer read it to the next
  ``>``; the ``<`` is now a stray byte, so hex lexing stays linear;
* ``N G R`` as pdfminer reads it: two integer tokens, then the ``R``
  keyword (the old regex wanted unsigned digits separated by
  whitespace, vertical tab included, and no letter, digit or ``_``
  after the ``R``), also inside content-stream brackets (the old
  lexer took refs inside dicts only);
* ``true``/``false``/``null`` directly followed by keyword letters: the
  old parser took the constant and left the rest;
* content streams: an unterminated literal string ends the stream (the
  old lexer skipped its ``(`` and read the body as tokens, in
  quadratic time); a ``<<`` that cannot close keeps its values as
  operands (the old lexer re-read its ``<`` as a hex string); the
  constants and refs of a bracket that cannot close stay values (the
  old lexer re-read them as operators);
* CMaps: a syntax error anywhere (the old regexes skipped what they
  could not match, the reader takes entries in pairs and triples as
  pdfminer's CMapParser does), entries of one table overlapping the
  other's (the old regexes applied every bfchar before any bfrange and
  every cidrange before any cidchar; the reader follows stream order),
  and a malformed entry of the other role (the old readers read only
  their own blocks; the one reader fails the stream).
"""

from __future__ import annotations

import os
import random
import re
import subprocess
import sys
import time
import zlib

import pandas as pd
import pytest

from libpdf_spark.config import ExtractConfig
from libpdf_spark.fixtures import FAMILIES
from libpdf_spark.payload import embed_pdf
from libpdf_spark import pdfmini
from libpdf_spark.pdfmini import _EXPAND_BUDGET, Name, Ref, Stream, _spend, parse_pdf
from libpdf_spark.pdfwrite import write_pdf
from libpdf_spark.pipeline import make_extract_batch

# ---------------------------------------------------------------------------
# oracles: the lexers the tokenizer replaced, verbatim
# ---------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R(?![A-Za-z0-9_])")
_NAME_RE = re.compile(rb"/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)")
_OP_RE = re.compile(rb"[A-Za-z'\"*]+")


def _skip_ws(data: bytes, i: int) -> int:
    n = len(data)
    while i < n:
        c = data[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # % comment
            while i < n and data[i] not in (0x0D, 0x0A):
                i += 1
        else:
            break
    return i


def _parse_name(data: bytes, i: int):
    m = _NAME_RE.match(data, i)
    raw = m.group(1)
    # #xx hex escapes in names
    if b"#" in raw:
        raw = re.sub(
            rb"#([0-9A-Fa-f]{2})", lambda g: bytes([int(g.group(1), 16)]), raw
        )
    try:
        return Name(raw.decode("utf-8")), m.end()
    except UnicodeDecodeError:
        return Name(raw.decode("latin-1")), m.end()


def _parse_lit_string(data: bytes, i: int):
    i += 1  # past (
    out = bytearray()
    depth = 1
    n = len(data)
    while i < n:
        c = data[i]
        if c == 0x5C:  # backslash
            if i + 1 >= n:
                break
            nxt = data[i + 1]
            if nxt in b"nrtbf":
                out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[nxt])
                i += 2
            elif nxt in b"()\\":
                out.append(nxt)
                i += 2
            elif 0x30 <= nxt <= 0x37:  # octal, up to 3 digits
                j = i + 1
                while j < n and j < i + 4 and 0x30 <= data[j] <= 0x37:
                    j += 1
                out.append(int(data[i + 1 : j], 8) & 0xFF)
                i = j
            elif nxt in (0x0D, 0x0A):  # line continuation
                i += 2
                if nxt == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:
                out.append(nxt)
                i += 2
        elif c == 0x28:
            depth += 1
            out.append(c)
            i += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    raise ValueError("unterminated PDF string")


def _parse_hex_string(data: bytes, i: int):
    j = data.find(b">", i + 1)
    if j < 0:
        raise ValueError("unterminated hex string")
    hx = re.sub(rb"[^0-9A-Fa-f]", b"", data[i + 1 : j])
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii")), j + 1


def _parse_obj(data: bytes, i: int, refs: bool = True):
    """One PDF object at ``i`` → (value, next_pos). Strings are bytes,
    names are :class:`Name`, refs are :class:`Ref`. ``refs=False``
    skips the "N G R" lookahead — content streams contain no indirect
    references, and the extra regex per number dominates hot parses."""
    i = _skip_ws(data, i)
    if i >= len(data):
        raise ValueError("unexpected end of PDF data")
    c = data[i : i + 1]
    if c == b"<":
        if data[i : i + 2] == b"<<":
            return _parse_dict(data, i)
        return _parse_hex_string(data, i)
    if c == b"(":
        return _parse_lit_string(data, i)
    if c == b"/":
        return _parse_name(data, i)
    if c == b"[":
        i += 1
        arr: list = []
        while True:
            i = _skip_ws(data, i)
            if i >= len(data):
                raise ValueError("unterminated array")
            if data[i : i + 1] == b"]":
                return arr, i + 1
            v, i = _parse_obj(data, i, refs)
            arr.append(v)
    if data[i : i + 4] == b"true":
        return True, i + 4
    if data[i : i + 5] == b"false":
        return False, i + 5
    if data[i : i + 4] == b"null":
        return None, i + 4
    if refs:
        m = _REF_RE.match(data, i)
        if m:
            return Ref(int(m.group(1))), m.end()
    m = _NUM_RE.match(data, i)
    if m:
        s = m.group(0)
        return (float(s) if b"." in s else int(s)), m.end()
    raise ValueError(f"bad PDF object at offset {i}")


def _parse_dict(data: bytes, i: int):
    i += 2  # past <<
    out: dict = {}
    while True:
        i = _skip_ws(data, i)
        if i >= len(data):
            raise ValueError("unterminated dict")
        if data[i : i + 2] == b">>":
            return out, i + 2
        if data[i : i + 1] != b"/":
            raise ValueError(f"bad dict key at offset {i}")
        key, i = _parse_name(data, i)
        val, i = _parse_obj(data, i)
        out[str(key)] = val
    # unreachable


def _content_tokens(data: bytes):
    i, n = 0, len(data)
    while True:
        i = _skip_ws(data, i)
        if i >= n:
            return
        c = data[i]
        if c in b"(<[/" or 0x30 <= c <= 0x39 or c in b"+-.":
            try:
                v, i = _parse_obj(data, i, refs=False)
            except ValueError:
                i += 1
                continue
            yield ("obj", v)
        else:
            m = _OP_RE.match(data, i)
            if not m:
                i += 1
                continue
            op = m.group(0).decode("latin-1")
            i = m.end()
            if op == "BI":  # inline image (foreign PDFs): skip the
                # parameter dict + binary payload, but surface the
                # image as an operator so the interpreter can record a
                # figure at the current CTM (pdfminer emits an LTImage
                # for inline images; the reference turns those into
                # figures via extract.py's image pass)
                e = data.find(b"EI", i)
                i = n if e < 0 else e + 2
                yield ("op", "__inline_image__")
                continue
            yield ("op", op)


_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEX_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_BFRANGE_ENTRY_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(\[[^\]]*\]|<[0-9A-Fa-f]+>)"
)


def _utf16be(hexs: bytes) -> str:
    return bytes.fromhex(hexs.decode("ascii")).decode("utf-16-be")


def _parse_cmap(data: bytes) -> dict[int, str]:
    """/ToUnicode CMap → {char code: unicode string} (PDF 32000 §9.10.3:
    bfchar pairs, bfrange with incrementing scalar or explicit array).
    Sources of any byte width parse to integer codes, so both simple
    single-byte fonts and 2-byte composite (Identity-H) fonts are
    covered; multi-char destinations (ligatures) are preserved."""
    out: dict[int, str] = {}
    left = _EXPAND_BUDGET
    for m in _BFCHAR_RE.finditer(data):
        toks = _HEX_RE.findall(m.group(1))
        for src, dst in zip(toks[0::2], toks[1::2]):
            out[int(src, 16)] = _utf16be(dst)
    for m in _BFRANGE_RE.finditer(data):
        for em in _BFRANGE_ENTRY_RE.finditer(m.group(1)):
            lo, hi = int(em.group(1), 16), int(em.group(2), 16)
            dst = em.group(3)
            if dst.startswith(b"["):
                for k, dh in enumerate(_HEX_RE.findall(dst)):
                    if lo + k <= hi:
                        out[lo + k] = _utf16be(dh)
            else:
                width = len(dst) - 2  # hex digits
                base = int(dst[1:-1], 16)
                left = _spend(left, hi - lo + 1, "/ToUnicode bfrange")
                for k in range(hi - lo + 1):
                    out[lo + k] = bytes.fromhex(
                        format(base + k, f"0{width}x")
                    ).decode("utf-16-be")
    return out


_CODESPACE_RE = re.compile(rb"begincodespacerange(.*?)endcodespacerange", re.S)
_CIDRANGE_RE = re.compile(rb"begincidrange(.*?)endcidrange", re.S)
_CIDCHAR_RE = re.compile(rb"begincidchar(.*?)endcidchar", re.S)
_CIDRANGE_ENTRY_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(\d+)"
)
_CIDCHAR_ENTRY_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*(\d+)")
_USECMAP_RE = re.compile(rb"/([!-~]+)\s+usecmap")


def _parse_embedded_cmap(
    data: bytes,
) -> tuple[dict[int, int], list[tuple[int, bytes, bytes]], str | None]:
    """Embedded CMap STREAM (PDF 32000 §9.7.5.3) → (code→CID map,
    codespace ranges, usecmap base name). pdfminer parses these with
    its full PostScript CMap machinery behind the reference
    (textbox.py:934-977); the from-scratch subset here covers the
    operators an /Encoding CMap actually uses:

    * ``begincodespacerange`` — (nbytes, lo, hi) byte-range triples
      that drive show-string tokenization (mixed 1/2-byte codespaces
      supported, matched shortest-first);
    * ``begincidrange`` — ``<lo> <hi> cid0`` runs with incrementing
      CIDs;
    * ``begincidchar`` — ``<code> cid`` singletons;
    * ``/Name usecmap`` — inherit a predefined base CMap's table
      (merged by the caller so local entries win).

    Raises ``ValueError`` on malformed entries — the caller decides
    between Identity fallback (font has /ToUnicode) and a recorded
    parse failure (it does not)."""
    cspace: list[tuple[int, bytes, bytes]] = []
    for m in _CODESPACE_RE.finditer(data):
        toks = _HEX_RE.findall(m.group(1))
        if len(toks) % 2:
            # an unpaired trailing token is as malformed as a bad pair
            # — raise like every other malformed-entry path instead of
            # silently zip-truncating to a partial codespace (ADVICE r6)
            raise ValueError("embedded CMap: odd codespace token count")
        for lo_h, hi_h in zip(toks[0::2], toks[1::2]):
            if len(lo_h) != len(hi_h) or len(lo_h) % 2 or not lo_h:
                raise ValueError("embedded CMap: malformed codespace range")
            n = len(lo_h) // 2
            if n > 4:
                raise ValueError("embedded CMap: codespace wider than 4 bytes")
            cspace.append(
                (n, bytes.fromhex(lo_h.decode()), bytes.fromhex(hi_h.decode()))
            )
    cidmap: dict[int, int] = {}
    left = _EXPAND_BUDGET
    for m in _CIDRANGE_RE.finditer(data):
        for em in _CIDRANGE_ENTRY_RE.finditer(m.group(1)):
            lo, hi = int(em.group(1), 16), int(em.group(2), 16)
            cid0 = int(em.group(3))
            if hi < lo or hi - lo > 0xFFFF:
                raise ValueError("embedded CMap: malformed cidrange")
            left = _spend(left, hi - lo + 1, "embedded CMap cidrange")
            for k in range(hi - lo + 1):
                cidmap[lo + k] = cid0 + k
    for m in _CIDCHAR_RE.finditer(data):
        for em in _CIDCHAR_ENTRY_RE.finditer(m.group(1)):
            cidmap[int(em.group(1), 16)] = int(em.group(2))
    um = _USECMAP_RE.search(data)
    use = um.group(1).decode("ascii", "replace") if um else None
    if not cidmap and use is None:
        # an /Encoding CMap that defines no mapping at all is
        # unreadable-in-practice — let the caller pick the fallback
        raise ValueError("embedded CMap: no cidrange/cidchar/usecmap")
    return cidmap, sorted(cspace), use


# ---------------------------------------------------------------------------
# inputs: writer-made syntax, then mutated
# ---------------------------------------------------------------------------

_WRITER_SHAPES = [
    {}, {"cid_font": True}, {"cid_font": "ucs2"}, {"cid_font": "rksj"},
    {"cid_font": "embedded"}, {"custom_encoding": True}, {"form_wrap": True},
]

# CMap shapes the writer does not emit: bfrange runs and arrays,
# usecmap, a mixed-width codespace
_HAND_CMAPS = [
    b"/CIDInit /ProcSet findresource begin 12 dict begin begincmap\n"
    b"1 begincodespacerange <00> <ff> endcodespacerange\n"
    b"2 beginbfchar\n<21> <0041>\n<22> <00660069>\nendbfchar\n"
    b"2 beginbfrange\n<30> <32> <0061>\n<40> <41> [<005A> <0059>]\nendbfrange\n"
    b"endcmap CMapName currentdict /CMap defineresource pop end end",
    b"begincmap\n/UniJIS-UCS2-H usecmap\n"
    b"2 begincodespacerange\n<00> <7f>\n<8140> <fcfc>\nendcodespacerange\n"
    b"1 begincidrange\n<41> <43> 100\nendcidrange\n"
    b"2 begincidchar\n<8140> 500\n<8141> 777\nendcidchar\nendcmap",
]


def _writer_syntax() -> tuple[list[bytes], list[bytes], list[bytes]]:
    """(object bodies, content streams, CMaps) of uncompressed writer
    output: four families × every cid_font shape, a custom encoding
    and form-wrapped pages; plus the hand-written CMaps."""
    bodies, contents, cmaps = set(), set(), set(_HAND_CMAPS)
    for fam in sorted(FAMILIES)[:4]:
        doc = FAMILIES[fam]().build()
        for kw in _WRITER_SHAPES:
            data = write_pdf(doc, **kw)
            for m in re.finditer(rb"\d+ 0 obj\n(.*?)\nendobj", data, re.S):
                body = m.group(1)
                k = body.find(b"\nstream\n")
                bodies.add(body if k < 0 else body[:k])
            for v in pdfmini._scan_objects(data).values():
                if not isinstance(v, Stream) or str(v.dict.get("Subtype")) == "Image":
                    continue
                (cmaps if b"begincmap" in v.raw else contents).add(v.raw)
    return sorted(bodies), sorted(contents), sorted(cmaps)


_SYNTAX = _writer_syntax()

_SNIPPETS = [
    b"(", b")", b"<", b">", b"<<", b">>", b"[", b"]", b"{", b"%", b"\\",
    b" ", b"\n", b"\x00", b"\x0b", b"1 0 R", b"R", b"true", b"null",
    b"/N#41", b"-", b".", b"BI /W 1 ID x EI", b"<41>", b"(a)", b"Tj",
    b"endbfchar", b"beginbfrange", b"endcidrange", b"usecmap",
]


def _mutants(data: bytes, seed: int, n: int):
    """``n`` copies of ``data``, each with one to three random edits: a
    byte set to PDF syntax, a syntax snippet inserted, a slice deleted
    or duplicated, or the tail cut."""
    rng = random.Random(seed)
    for _ in range(n):
        d = bytearray(data)
        for _ in range(rng.randint(1, 3)):
            i = rng.randrange(len(d) + 1)
            op = rng.randrange(5)
            if op == 0 and d:
                d[min(i, len(d) - 1)] = rng.choice(b"()<>[]{}/%\\ \n0123456789.-+RTjaf#")
            elif op == 1:
                d[i:i] = rng.choice(_SNIPPETS)
            elif op == 2:
                del d[i : i + rng.randint(1, 8)]
            elif op == 3:
                j = rng.randrange(len(d) + 1)
                d[i:i] = d[min(i, j) : max(i, j)][:40]
            else:
                del d[i:]
        yield bytes(d)


def _outcome(fn, *args):
    try:
        return "value", fn(*args)
    except pdfmini._RecordedFailure as exc:
        return "budget", str(exc)
    except ValueError:
        return ("error",)


# ---------------------------------------------------------------------------
# the readers, old and new, on one input
# ---------------------------------------------------------------------------


def _old_object(data: bytes):
    return _outcome(_parse_obj, data, 0)


def _new_object(data: bytes):
    return _outcome(pdfmini._parse_obj, data, 0)


def _old_operations(data: bytes) -> list:
    out, operands = [], []
    for kind, v in _content_tokens(data):
        if kind == "obj":
            operands.append(v)
        else:
            out.append((v, operands))
            operands = []
    return out


def _new_operations(data: bytes) -> list:
    return list(pdfmini._operations(data))


def _old_cmap(data: bytes):
    return _outcome(_parse_cmap, data), _outcome(_parse_embedded_cmap, data)


def _new_cmap(data: bytes):
    return (
        _outcome(lambda d: pdfmini._read_cmap(d).text, data),
        _outcome(lambda d: pdfmini._cid_encoding(pdfmini._read_cmap(d)), data),
    )


# ---------------------------------------------------------------------------
# the documented classes, detected from the input
# ---------------------------------------------------------------------------

_HEX_WITH_LT = re.compile(rb"(?<!<)<(?!<)[^>]*<")
# what the old "N G R" regex and pdfminer's reading agree on
_OLD_REF = re.compile(rb"(?<![\d.+-])\d+[ \t\n\r\f]+\d+[ \t\n\r\f]+R(?![A-Za-z0-9_])")
_LONE_R = re.compile(rb"(?<![A-Za-z'\"*])R(?![A-Za-z'\"*])")
_CONSTANT_PREFIX = re.compile(rb"(?<![A-Za-z'\"*])(?:true|false|null)[A-Za-z'\"*]")


def _object_class(data: bytes) -> str | None:
    if _HEX_WITH_LT.search(data):
        return "hex string with <"
    if _LONE_R.search(_OLD_REF.sub(b"", data)):
        return "N G R"
    if _CONSTANT_PREFIX.search(data):
        return "constant prefix"
    return None


def _holds_ref(value) -> bool:
    todo = [value]
    while todo:
        v = todo.pop()
        if isinstance(v, Ref):
            return True
        todo += v if isinstance(v, list) else v.values() if isinstance(v, dict) else []
    return False


def _content_class(data: bytes) -> str | None:
    if _HEX_WITH_LT.search(data):
        return "hex string with <"
    i = 0
    while True:
        try:
            kind, v, s, i = pdfmini._token(data, i)
            if kind != pdfmini._OPEN:
                if kind is None:
                    return None
                continue
            value, i = pdfmini._parse_obj(data, s)
        except pdfmini._Malformed as exc:
            if v == b"<<":
                return "malformed dict"
            if any(x is None or type(x) is bool or isinstance(x, Ref) for x in exc.values):
                return "constant or ref in a malformed array"
            continue
        except ValueError:
            return "unterminated literal string"
        if _holds_ref(value):
            return "N G R in brackets"


_W = rb"[\t\n\x0c\r ]*"  # whitespace to both the old regexes and the tokenizer
_H = rb"<(?:[0-9A-Fa-f]{2})+>"
_I = rb"\d+(?![\w.])"
_CMAP_ENTRY = {
    b"bfchar": _H + _W + _H,
    b"bfrange": _H + _W + _H + _W + rb"(?:" + _H + rb"|\[(?:" + _W + _H + rb")*" + _W + rb"\])",
    b"cidrange": _H + _W + _H + _W + _I,
    b"cidchar": _H + _W + _I,
    b"codespacerange": _H + _W + _H,
}
_CMAP_BLOCK_RE = re.compile(b"|".join(
    rb"(?<![^\t\n\x0c\r ])begin" + k + rb"(?:" + _W + e + rb")*" + _W
    + rb"end" + k + rb"(?![^\t\n\x0c\r ])"
    for k, e in _CMAP_ENTRY.items()
))
_CMAP_KEYWORD_RE = re.compile(rb"(?:begin|end)(?:bfchar|bfrange|cidrange|cidchar|codespacerange)")
_USECMAP_OK_RE = re.compile(rb"(?<![^\t\n\x0c\r ])/[A-Za-z0-9-]+[\t\n\x0c\r ]+usecmap(?![^\t\n\x0c\r ])")


def _codes(data: bytes, block_re, entry_re) -> set[int]:
    out: set[int] = set()
    for m in block_re.finditer(data):
        for e in entry_re.finditer(m.group(1)):
            lo = int(e.group(1), 16)
            hi = int(e.group(2), 16) if entry_re.groups > 2 else lo
            out.update(range(lo, min(hi, lo + 0x10000) + 1))
    return out


def _cmap_class(data: bytes) -> str | None:
    rest = _CMAP_BLOCK_RE.sub(b" ", data)
    strings = re.sub(rb"\([A-Za-z0-9 ]*\)", b"", rest).replace(b"<<", b"").replace(b">>", b"")
    if (
        _CMAP_KEYWORD_RE.search(rest)
        or re.search(rb"[%()<>\[\]{}\\\x00\x0b]", strings)
        or rest.count(b"usecmap") != len(_USECMAP_OK_RE.findall(rest))
    ):
        return "syntax error"
    bfchar = _codes(data, _BFCHAR_RE, re.compile(rb"<([0-9A-Fa-f]+)>\s*<[0-9A-Fa-f]+>"))
    cidchar = _codes(data, _CIDCHAR_RE, _CIDCHAR_ENTRY_RE)
    if bfchar & _codes(data, _BFRANGE_RE, _BFRANGE_ENTRY_RE) or cidchar & _codes(
        data, _CIDRANGE_RE, _CIDRANGE_ENTRY_RE
    ):
        return "overlapping tables"
    if _outcome(pdfmini._read_cmap, data)[0] == "error":
        return "malformed entry of the other role"
    return None


# ---------------------------------------------------------------------------
# fuzz against the old lexers
# ---------------------------------------------------------------------------


def test_writer_syntax_reads_as_before():
    """Every writer-made object body, content stream and CMap (every
    cid_font shape) gives the old readers' values."""
    bodies, contents, cmaps = _SYNTAX
    assert len(bodies) > 150 and len(contents) > 30 and len(cmaps) > 10
    for body in bodies:
        assert _new_object(body) == _old_object(body), body
    for content in contents:
        assert _new_operations(content) == _old_operations(content)
    for cmap in cmaps:
        assert _new_cmap(cmap) == _old_cmap(cmap), cmap


def _fuzz(inputs, per_input, old, new, documented):
    """Mutate each input; every mutant outside the documented classes
    reads as the old reader read it. Returns (strict, documented)
    mutant counts."""
    strict = lenient = 0
    for k, base in enumerate(inputs):
        for data in _mutants(base, k, per_input):
            got = new(data)  # never an exception other than ValueError
            if documented(data) is not None:
                lenient += 1
                continue
            strict += 1
            assert got == old(data), data
    return strict, lenient


def test_mutated_objects_differ_only_in_documented_classes():
    strict, lenient = _fuzz(_SYNTAX[0], 12, _old_object, _new_object, _object_class)
    assert strict > 1500 and lenient > 100, (strict, lenient)


def test_mutated_content_streams_differ_only_in_documented_classes():
    strict, lenient = _fuzz(_SYNTAX[1], 12, _old_operations, _new_operations, _content_class)
    assert strict > 200 and lenient > 50, (strict, lenient)


def test_mutated_cmaps_differ_only_in_documented_classes():
    strict, lenient = _fuzz(_SYNTAX[2], 250, _old_cmap, _new_cmap, _cmap_class)
    assert strict > 200 and lenient > 100, (strict, lenient)


@pytest.mark.parametrize("reader, data, old, new", [
    # a hex string with "<" inside
    ("object", b"<ab<cd>", ("value", (b"\xab\xcd", 7)), ("error",)),
    # N G R as pdfminer reads it
    ("object", b"[1 0R]", ("error",), ("value", ([Ref(1)], 6))),
    ("object", b"[1\x000 R]", ("error",), ("value", ([Ref(1)], 7))),
    ("object", b"[1\x0b0 R]", ("value", ([Ref(1)], 7)), ("error",)),
    # a constant followed by keyword letters
    ("object", b"truex", ("value", (True, 4)), ("error",)),
    # content: an unterminated literal string ends the stream
    ("content", b"(a) Tj (b) Tj ((c) Tj", [("Tj", [b"a"]), ("Tj", [b"b"]), ("Tj", [b"c"])],
     [("Tj", [b"a"]), ("Tj", [b"b"])]),
    # content: a << that cannot close keeps its values as operands
    ("content", b"<< /A 1 Tj >> Tj", [("Tj", [b"\xa1"])], [("Tj", ["A", 1]), ("Tj", [])]),
    # content: refs in brackets; constants of a bracket that cannot close
    ("content", b"[1 0 R] TJ", [("R", [1, 0]), ("TJ", [])], [("TJ", [[Ref(1)]])]),
    ("content", b"[null x] Tj", [("null", []), ("x", []), ("Tj", [])], [("x", [None]), ("Tj", [])]),
    # CMaps: stream order, and the end keyword is what counts
    ("cmap", b"beginbfrange <41> <42> <0061> endbfrange beginbfchar <41> <005A> endbfchar",
     {0x41: "a", 0x42: "b"}, {0x41: "Z", 0x42: "b"}),
    ("cmap", b"beginXfchar <41> <005A> endbfchar", {}, {0x41: "Z"}),
])
def test_documented_differences(reader, data, old, new):
    """One pinned example per documented class: what the old lexer
    read, and what the tokenizer reads."""
    if reader == "object":
        assert (_old_object(data), _new_object(data)) == (old, new)
    elif reader == "content":
        assert (_old_operations(data), _new_operations(data)) == (old, new)
    else:
        assert (_parse_cmap(data), pdfmini._read_cmap(data).text) == (old, new)


# ---------------------------------------------------------------------------
# malformed input: linear time, no RecursionError
# ---------------------------------------------------------------------------


def _one_page_pdf(content: bytes, extra_objects: tuple[bytes, ...] = (),
                  tounicode: bytes | None = None) -> bytes:
    """One Helvetica page drawing ``content`` (Flate-compressed),
    optionally with a /ToUnicode CMap and objects no page uses."""
    z = zlib.compress(content)
    font = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
    font += b" /ToUnicode 5 0 R >>" if tounicode is not None else b" >>"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        b"<< /Type /Page /Parent 2 0 R /Resources "
        b"<< /Font << /F1 4 0 R >> >> /Contents 6 0 R >>",
        font,
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(tounicode or b""), tounicode or b""),
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream" % (len(z), z),
        *extra_objects,
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, o in enumerate(objs, 1):
        out += b"%d 0 obj\n" % i + o + b"\nendobj\n"
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\n%%%%EOF\n" % (len(objs) + 1)
    return bytes(out)


_HELLO = b"BT /F1 12 Tf 72 700 Td (Hello) Tj ET\n"

_PARSE_CHILD = """
import sys, time
from libpdf_spark.pdfmini import parse_pdf
data = open(sys.argv[1], "rb").read()
t0 = time.perf_counter()
text = "".join(parse_pdf(data)["chars"]["text"])
print(time.perf_counter() - t0)
print(text)
"""


def test_unterminated_strings_parse_in_linear_time(tmp_path):
    """A ~400-byte PDF whose content ends in 64 KB of "(": the old
    lexer retried a literal string at every "(" (23.7 s for 16 KB,
    quadratic); now the first unterminated one ends the stream. Timed
    in a fresh interpreter."""
    data = _one_page_pdf(_HELLO + b"(" * 65536)
    assert len(data) < 700
    path = tmp_path / "parens.pdf"
    path.write_bytes(data)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo + os.pathsep + os.environ.get("PYTHONPATH", ""))
    res = subprocess.run(
        [sys.executable, "-c", _PARSE_CHILD, str(path)],
        capture_output=True, text=True, env=env, cwd=str(tmp_path), timeout=60,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    secs, text = res.stdout.strip().split("\n")
    assert text == "Hello"
    assert float(secs) < 1.0, secs


@pytest.mark.parametrize("unit", [b"(", b"<", b"[", b"<<", b"[ 1 Tj ", b"<< /A "])
def test_malformed_runs_lex_in_linear_time(unit):
    """64 K repeats of an opener, in a content stream and as an object
    body: well under a second each."""
    data = unit * (65536 // len(unit))
    t0 = time.perf_counter()
    list(pdfmini._operations(data))
    with pytest.raises(ValueError):
        pdfmini._parse_obj(data, 0)
    assert time.perf_counter() - t0 < 1.0


def test_nesting_past_the_depth_limit_is_one_failed_object():
    for opener, closer in ((b"[", b"]"), (b"<< /A ", b">>")):
        ok = opener * pdfmini._MAX_DEPTH + b"1" + closer * pdfmini._MAX_DEPTH
        value, end = pdfmini._parse_obj(ok, 0)
        assert end == len(ok)
        deep = opener * (pdfmini._MAX_DEPTH + 1) + b"1" + closer * (pdfmini._MAX_DEPTH + 1)
        with pytest.raises(ValueError, match="nested deeper than"):
            pdfmini._parse_obj(deep, 0)


def _deep(n: int = 3000) -> bytes:
    return b"[" * n + b"]" * n + b" " + b"<< /A " * n + b">>" * n


def _rc4_with_object(extra: bytes) -> bytes:
    """An RC4-encrypted writer file with ``extra`` added as an object no
    page uses (its offsets shift, so the object scan reads it)."""
    from libpdf_spark.fixtures import doc_from_text

    data = write_pdf(doc_from_text("Hello").build(), encrypt="rc4")
    head = data.index(b"\n") + 1
    return data[:head] + b"99 0 obj\n" + extra + b"\nendobj\n" + data[head:]


@pytest.mark.parametrize("case", ["content", "unreferenced", "rc4", "rc4_within_limit"])
def test_deep_nesting_never_raises_recursion_error(case):
    """3,000-deep "[" and "<<" in a content stream, in an object no page
    uses and in an RC4-encrypted file: a payload or one ValueError
    failure row, never RecursionError (the old parser recursed per
    level, and decryption walks every parsed value)."""
    pdf = {
        "content": lambda: _one_page_pdf(_HELLO + _deep() + b" BT /F1 12 Tf (World) Tj ET"),
        "unreferenced": lambda: _one_page_pdf(_HELLO, (_deep(),)),
        "rc4": lambda: _rc4_with_object(_deep()),
        "rc4_within_limit": lambda: _rc4_with_object(_deep(pdfmini._MAX_DEPTH)),
    }[case]()
    batch = pd.DataFrame({
        "conv_id": ["c"], "turn_idx": pd.array([0], dtype="int32"),
        "text": [embed_pdf(pdf)], "tool": [None],
    })
    row = pd.concat(list(make_extract_batch(ExtractConfig())(iter([batch])))).iloc[0]
    assert row.doc_found
    assert row.parse_ok or row.error.startswith("payload: ValueError"), row.error
    assert "Hello" in "".join(parse_pdf(pdf)["chars"]["text"])


def test_tounicode_with_a_bad_codespace_still_maps():
    """Codespace checks belong to the /Encoding side: a /ToUnicode CMap
    whose codespace is malformed still maps its codes."""
    cmap = (b"begincmap\n1 begincodespacerange <00> <7fff> endcodespacerange\n"
            b"1 beginbfchar <48> <005A> endbfchar\nendcmap")
    with pytest.raises(ValueError, match="malformed codespace range"):
        pdfmini._cid_encoding(pdfmini._read_cmap(cmap + b" /Identity-H usecmap"))
    text = "".join(parse_pdf(_one_page_pdf(_HELLO, tounicode=cmap))["chars"]["text"])
    assert text == "Zello"
