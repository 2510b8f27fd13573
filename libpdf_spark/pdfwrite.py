"""Minimal PDF byte-stream writer (no third-party PDF library).

:func:`write_pdf` turns a layout-payload dict (the markup schema) into a
real, valid PDF file that :func:`libpdf_spark.pdfmini.parse_pdf` reads
back to the same payload. It generates test data only: the fixture
corpus (``fixtures.gen_transcripts``), the benchmark inputs and the
tests. Nothing on the extraction path imports this module.

The encryption side reuses the parser's key algorithms
(``pdfmini._owner_key``/``_file_key``/``_u_entry``) and builds its
``_StdSecurity`` handler from the very ``/Encrypt`` dictionary it
writes, so the writer and the reader cannot disagree on a key.
"""

from __future__ import annotations

import hashlib
import re
import zlib

from libpdf_spark.pdfmini import (
    _FALLBACK_WIDTH,
    _META_TO_INFO,
    _StdSecurity,
    _aes_cbc_encrypt_nopad,
    _aes_enc_block,
    _aes_key_expand,
    _file_key,
    _hash_2b,
    _owner_key,
    _pad_pwd,
    _parse_hex_string,
    _parse_lit_string,
    _parse_obj,
    _predefined_cid_map,
    _rc4,
    _u_entry,
    font_width_millis,
)

# ---------------------------------------------------------------------------
# serialization primitives
# ---------------------------------------------------------------------------


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _pdf_string(s: str) -> str:
    """Serialize a text string: literal when latin-1-safe, else
    UTF-16BE hex with BOM (the form the decode chain recognizes)."""
    try:
        s.encode("latin-1")
        if all(ord(c) < 127 for c in s):
            return f"({_esc(s)})"
    except UnicodeEncodeError:
        pass
    return "<FEFF" + s.encode("utf-16-be").hex().upper() + ">"


_NAME_SAFE = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    "!$&'*+,-.:;=?@^_`|~"
)


def _pdf_name(s: str) -> str:
    """Serialize a PDF name token: delimiters/whitespace/non-ASCII as
    #xx hex escapes (PDF 32000 §7.3.5); the parser's _parse_name
    reverses them."""
    out = []
    for b in str(s).encode("utf-8"):
        c = chr(b)
        out.append(c if c in _NAME_SAFE else f"#{b:02X}")
    return "".join(out)


def _num(v: float) -> str:
    out = f"{float(v):.4f}".rstrip("0").rstrip(".")
    return out if out not in ("", "-0") else "0"


def _stream(data: bytes, compress: bool, head: bytes = b"", tail: bytes = b"") -> bytes:
    """One stream object: ``head`` and ``tail`` are extra dictionary
    entries written before and after ``/Length`` (and ``/Filter``)."""
    if compress:
        data = zlib.compress(data)
    flt = b" /Filter /FlateDecode" if compress else b""
    return (
        b"<< %s/Length %d%s %s>>\nstream\n%s\nendstream"
        % (head, len(data), flt, tail, data)
    )


# ---------------------------------------------------------------------------
# encryption — the writer half of the standard security handler
# ---------------------------------------------------------------------------


def _aes_cbc_encrypt(key: bytes, data: bytes, iv: bytes) -> bytes:
    pad = 16 - len(data) % 16
    return iv + _aes_cbc_encrypt_nopad(key, data + bytes([pad]) * pad, iv)


def _encrypt_bytes(sec: _StdSecurity, data: bytes, num: int) -> bytes:
    """Encrypt one string or stream payload of object ``num``; the AES
    IV derives from the object number so output stays reproducible."""
    k = sec._obj_key(num)
    if sec.cfm in ("AESV2", "AESV3"):
        iv = hashlib.md5(b"iv" + num.to_bytes(4, "little") + sec.key).digest()
        return _aes_cbc_encrypt(k, data, iv)
    return _rc4(k, data)


def _make_encrypt_dict(
    mode: str, id0: bytes, password: bytes = b"",
    owner_password: bytes | None = None,
) -> tuple[bytes, _StdSecurity]:
    """Build the /Encrypt dictionary (Algorithms 2/3/5 / 8-10) and the
    matching handler. ``password`` is the USER password;
    ``owner_password`` defaults to it (the "document open password"
    shape) but may differ — the print-protected shape whose owner
    password alone also opens the file (Algorithm 7 / the V5 /O//OE
    pair).
    ``mode``: ``"rc4"`` (V2/R3/128-bit), ``"aes"`` (V4/R4/AESV2) or
    ``"aes256"`` (V5/R6/AESV3, PDF 2.0). Deterministic: salts and the
    V5 file key derive from ``id0`` so write_pdf stays reproducible.
    The handler is parsed from the written body, as a reader would."""
    opw_raw = password if owner_password is None else owner_password
    if mode == "aes256":
        r = 6
        # FIXED salts (not id0-derived): every fixture file then shares
        # one /U //O pair and the R6 Algorithm-2.B hashes — ~0.27 s of
        # pure-Python AES each — hit the _hash_2b lru_cache on both the
        # write and parse side after the first document. Real-world
        # files carry random salts; the PARSER handles any salt. The
        # FILE key still derives from id0, so ciphertext differs per
        # document.
        vs_u = hashlib.sha256(b"vs_u libpdf fixture").digest()[:8]
        ks_u = hashlib.sha256(b"ks_u libpdf fixture").digest()[:8]
        vs_o = hashlib.sha256(b"vs_o libpdf fixture").digest()[:8]
        ks_o = hashlib.sha256(b"ks_o libpdf fixture").digest()[:8]
        file_key = hashlib.sha256(b"filekey" + id0).digest()  # 32 bytes
        zero_iv = b"\x00" * 16
        pw = password[:127]
        opw = opw_raw[:127]
        # Algorithm 8: /U and /UE from the user password
        u = _hash_2b(pw, vs_u, b"", r) + vs_u + ks_u
        ue = _aes_cbc_encrypt_nopad(_hash_2b(pw, ks_u, b"", r), file_key, zero_iv)
        # Algorithm 9: /O and /OE from the owner password
        o = _hash_2b(opw, vs_o, u, r) + vs_o + ks_o
        oe = _aes_cbc_encrypt_nopad(_hash_2b(opw, ks_o, u, r), file_key, zero_iv)
        # Algorithm 10: /Perms (P = -1, EncryptMetadata true)
        p = -1
        pblock = (
            p.to_bytes(4, "little", signed=True)
            + b"\xff\xff\xff\xff" + b"T" + b"adb" + b"pdfm"
        )
        perms = _aes_enc_block(_aes_key_expand(file_key), pblock)
        body = (
            "<< /Filter /Standard /V 5 /R 6 /Length 256 "
            "/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen /Length 32 >> >> "
            "/StmF /StdCF /StrF /StdCF "
            f"/O <{o.hex().upper()}> /U <{u.hex().upper()}> "
            f"/OE <{oe.hex().upper()}> /UE <{ue.hex().upper()}> "
            f"/Perms <{perms.hex().upper()}> /P {p} >>"
        )
    elif mode in ("rc4", "aes"):
        r = 3 if mode == "rc4" else 4
        p = -1
        n = 16  # 128-bit
        padded = _pad_pwd(password)
        # Algorithm 3: /O — owner-password RC4 key over the PADDED user
        # password
        okey = _owner_key(opw_raw, r, n)
        o = padded
        for i in range(20):
            o = _rc4(bytes(b ^ i for b in okey), o)
        # Algorithm 2: file key from the user password; Algorithm 5: /U
        u = _u_entry(_file_key(padded, o, p, id0, r, n), id0, r) + b"\x00" * 16
        common = f"/O <{o.hex().upper()}> /U <{u.hex().upper()}> /P {p}"
        if mode == "rc4":
            body = f"<< /Filter /Standard /V 2 /R 3 /Length 128 {common} >>"
        else:
            body = (
                "<< /Filter /Standard /V 4 /R 4 /Length 128 "
                "/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen /Length 16 >> >> "
                f"/StmF /StdCF /StrF /StdCF {common} >>"
            )
    else:
        raise ValueError(f"unsupported encrypt mode {mode!r}")
    raw = body.encode("ascii")
    return raw, _StdSecurity(_parse_obj(raw, 0)[0], id0, password)


def _transform_strings(body: bytes, fn) -> bytes:
    """Rewrite every string token in a SERIALIZED object body with
    ``fn(raw_bytes) -> bytes`` (re-emitted as hex strings). Walks the
    token structure so dict delimiters (``<<``/``>>``), names, and
    nested parens are never mistaken for strings."""
    out = bytearray()
    i, n = 0, len(body)
    while i < n:
        c = body[i]
        if c == 0x28:  # (
            raw, j = _parse_lit_string(body, i)
            out += b"<" + fn(raw).hex().upper().encode("ascii") + b">"
            i = j
        elif c == 0x3C:  # <
            if i + 1 < n and body[i + 1] == 0x3C:
                out += b"<<"
                i += 2
            else:
                raw, j = _parse_hex_string(body, i)
                out += b"<" + fn(raw).hex().upper().encode("ascii") + b">"
                i = j
        elif c == 0x3E and i + 1 < n and body[i + 1] == 0x3E:  # >>
            out += b">>"
            i += 2
        else:
            out.append(c)
            i += 1
    return bytes(out)


def _encrypt_object_body(body: bytes, num: int, sec: _StdSecurity) -> bytes:
    """Encrypt a serialized object: the stream payload (patching
    /Length) and every string in the dictionary part."""
    crypt = lambda raw: _encrypt_bytes(sec, raw, num)  # noqa: E731
    if body.endswith(b"endstream"):
        k = body.find(b">>\nstream\n")
        if k < 0:
            raise ValueError("unrecognized stream serialization")
        dictpart = _transform_strings(body[: k + 2], crypt)
        payload = body[k + len(b">>\nstream\n") : -len(b"\nendstream")]
        enc = crypt(payload)
        dictpart = re.sub(
            rb"/Length \d+", b"/Length %d" % len(enc), dictpart, count=1
        )
        return dictpart + b"\nstream\n" + enc + b"\nendstream"
    return _transform_strings(body, crypt)


# ---------------------------------------------------------------------------
# fonts
# ---------------------------------------------------------------------------


def _rows_from_chars(chars) -> list[dict]:
    """Payload chars in any encoding → one plain-Python dict per char."""
    from libpdf_spark.payload import decode_chars

    cols = decode_chars(chars)
    return [dict(zip(cols, row)) for row in zip(*(v.tolist() for v in cols.values()))]


def _font(c: dict) -> str:
    return c.get("fontname") or "Courier"


def _observed_widths(chars, code_of) -> dict[str, dict[int, float]]:
    """Font → {glyph code → first observed advance in 1/1000 em}, with
    ``code_of(char)`` giving the code a char is written with."""
    out: dict[str, dict[int, float]] = {}
    for c in chars:
        size = float(c["y1"]) - float(c["y0"])
        if size > 0:
            out.setdefault(_font(c), {}).setdefault(
                code_of(c), round((float(c["x1"]) - float(c["x0"])) / size * 1000.0, 3)
            )
    return out


def _cid_codes(texts: list[str], cid_font: bool | str) -> dict[str, int]:
    """Glyph → 2-byte char code for one composite font: UCS-2 code
    points (``"ucs2"``), cp932 bytes (``"rksj"``, 1 or 2 bytes) or
    sequential codes — from 0x2101 for the embedded CMap, from 0x0101
    for Identity-H (code == CID, deliberately ≠ Unicode)."""
    if cid_font == "ucs2":
        for t in texts:
            if len(t) != 1 or not 0x20 <= ord(t) <= 0xFFFF:
                raise ValueError("ucs2 cid writer requires single BMP glyphs")
        codes = {t: ord(t) for t in texts}
    elif cid_font == "rksj":
        codes = {}
        for t in texts:
            try:
                enc = t.encode("cp932")
            except (UnicodeEncodeError, ValueError) as exc:
                raise ValueError(f"rksj cid writer: glyph {t!r} not in cp932") from exc
            if len(t) != 1 or not 1 <= len(enc) <= 2:
                raise ValueError("rksj cid writer requires single cp932 glyphs")
            codes[t] = int.from_bytes(enc, "big")
    else:
        first = 0x2101 if cid_font == "embedded" else 0x0101
        codes = {t: first + k for k, t in enumerate(texts)}
    if len(codes) > 0xFEFE:
        raise ValueError("too many distinct glyphs for the CID fixture writer")
    return codes


def _to_unicode(codes: dict[str, int], digits: int, name: str) -> bytes:
    """/ToUnicode CMap over ``digits``-hex-digit source codes: bfchar
    blocks of ≤100 pairs (spec limit); a multi-char glyph maps one code
    to a multi-char string (the ligature case)."""
    pairs = sorted((code, t) for t, code in codes.items())
    blocks = []
    for b0 in range(0, len(pairs), 100):
        chunk = pairs[b0 : b0 + 100]
        body_lines = "\n".join(
            f"<{code:0{digits}x}> <{t.encode('utf-16-be').hex()}>" for code, t in chunk
        )
        blocks.append(f"{len(chunk)} beginbfchar\n{body_lines}\nendbfchar")
    return (
        "/CIDInit /ProcSet findresource begin\n"
        "12 dict begin\nbegincmap\n"
        f"/CMapName /{name} def\n/CMapType 2 def\n"
        f"1 begincodespacerange\n<{'0' * digits}> <{'f' * digits}>\nendcodespacerange\n"
        + "\n".join(blocks)
        + "\nendcmap\nCMap defined\nend\nend"
    ).encode("ascii")


def _embedded_cmap(codes: dict[str, int]) -> tuple[dict[int, int], bytes]:
    """A deliberately non-identity code→CID map and its embedded CMap
    stream: one cidrange RUN (first half: consecutive codes,
    incrementing CIDs from 0x0B00) and cidchar SINGLETONS (second half:
    scattered CIDs 0x1F00+3j), so parsing the file back exercises both
    entry forms. /W keys on these CIDs — a parser that ignores the CMap
    gets every width wrong."""
    items = sorted(codes.values())
    half = (len(items) + 1) // 2
    cid_of = {
        code: (0x0B00 + j if j < half else 0x1F00 + 3 * j)
        for j, code in enumerate(items)
    }
    parts = [
        "/CIDInit /ProcSet findresource begin\n"
        "12 dict begin\nbegincmap\n"
        "/CIDSystemInfo << /Registry (Adobe) /Ordering "
        "(Identity) /Supplement 0 >> def\n"
        "/CMapName /Custom-Embedded def\n/CMapType 1 def\n"
        "1 begincodespacerange\n<0000> <ffff>\n"
        "endcodespacerange"
    ]
    if half:
        parts.append(
            "1 begincidrange\n"
            f"<{items[0]:04x}> <{items[half - 1]:04x}> {0x0B00}\nendcidrange"
        )
    if len(items) > half:
        cc = "\n".join(f"<{code:04x}> {cid_of[code]}" for code in items[half:])
        parts.append(f"{len(items) - half} begincidchar\n{cc}\nendcidchar")
    parts.append("endcmap\nCMap defined\nend\nend")
    return cid_of, "\n".join(parts).encode("ascii")


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def write_pdf(
    doc: dict,
    compress: bool = False,
    xref_stream: bool = False,
    custom_encoding: bool = False,
    encrypt: str | None = None,
    encrypt_password: str | bytes = b"",
    cid_font: bool | str = False,
    form_wrap: bool = False,
) -> bytes:
    """Layout-payload dict (markup schema) → PDF bytes.

    Supported: pages, chars (any fontname/size/color/geometry — glyphs
    are positioned exactly via TJ kerning), lines (thin stroked rects),
    rects (filled colored rects), figures (1×1 gray image XObjects
    placed via ``cm … Do``), outline (nested /Outlines tree; non-ASCII
    titles as UTF-16BE hex), annos (/Link with /Dest array or named
    dest), dests (catalog /Dests dict), meta (/Info). With
    ``compress=True`` every content stream is FlateDecode-compressed.

    ``xref_stream=True`` writes a PDF 1.5 file: every non-stream object
    is packed into a ``/Type /ObjStm`` object stream and the
    cross-reference is a ``/Type /XRef`` STREAM (/W-encoded binary
    rows, no ``trailer`` keyword) — the post-2005-producer layout. A
    sequential scanner cannot see the packed objects, so round-tripping
    such a file exercises the parser's real xref-stream + ObjStm path.

    ``encrypt="rc4"|"aes"|"aes256"`` writes the file encrypted under
    the standard security handler — with ``encrypt_password`` as the
    user+owner document-open password, or (default) EMPTY passwords
    (RC4 V2/R3/128-bit, AES-128 V4/R4/AESV2, or AES-256 V5/R6/AESV3 —
    the PDF 2.0 default): every string and stream is enciphered with
    the per-object key (V5: the single file key), /Encrypt + /ID land
    in the trailer. Only the classic-xref serialization supports it
    (combining with ``xref_stream`` raises).

    ``cid_font=True`` writes every font as a composite /Type0 font
    with ``/Encoding /Identity-H``: 2-byte char codes (assigned
    sequentially from 0x0101 — deliberately NOT Unicode, so the text
    is garbage without the CMap), hex TJ strings, CID widths in the
    descendant font's ``/W`` array, and a 2-byte-source ``/ToUnicode``
    CMap — the foreign-CJK-producer shape (pdfminer handles it via its
    CMap machinery, reference textbox.py:934-977).

    ``cid_font="ucs2"`` writes /Type0 fonts with the PREDEFINED
    ``/Encoding /UniJIS-UCS2-H`` CMap instead: codes are UCS-2 code
    points, ``/W`` keys on the generated Adobe-Japan1 subset CIDs
    (Latin + kana rows; ideographs via /DW), and NO /ToUnicode is
    emitted — parsing such a file exercises the predefined-CMap
    lookup for both text and widths. ``cid_font="rksj"`` does the
    same with the VARIABLE-width ``/90ms-RKSJ-H`` CMap: codes are the
    cp932 bytes (1-byte ASCII/half-width kana, 2-byte kanji/kana),
    emitted as variable-length hex runs. ``cid_font="embedded"``
    writes an EMBEDDED CMap STREAM as /Encoding (codes from 0x2101,
    CIDs deliberately ≠ codes, split between one cidrange run and
    cidchar singletons) plus a /ToUnicode CMap — parsing this file
    exercises ``_parse_embedded_cmap`` for widths and /ToUnicode for
    text, and neither is optional.

    ``custom_encoding=True`` writes every font with a deliberately
    NON-identity single-byte encoding: char codes are assigned
    sequentially from 0x21 in sorted-glyph order, the content stream
    shows CODES, and a ``/ToUnicode`` CMap (bfchar) carries the
    code→Unicode mapping — the embedded-font shape whose text is
    garbage without CMap support. Multi-char glyph texts map one code
    to a multi-char Unicode string (the ligature case).
    """
    pages = doc.get("pages", [])
    chars = _rows_from_chars(doc.get("chars"))
    lines = doc.get("lines") or []
    rects = doc.get("rects") or []
    figures = doc.get("figures") or []
    outline = doc.get("outline") or []
    annos = doc.get("annos") or []
    dests = doc.get("dests") or {}
    meta = doc.get("meta") or {}

    objects: list[bytes | None] = []  # 1-indexed

    def add(obj: bytes | None = None) -> int:
        objects.append(obj)
        return len(objects)

    # --- fonts (shared across pages) ---
    # /Widths are derived from the document's OBSERVED char geometry
    # (first observation per glyph, advance normalized to 1/1000 em),
    # so the PDF is self-describing and round-trips any font name
    # exactly; built-in metrics only fill unobserved codes. A font
    # whose every observed glyph is Courier-600 is written without
    # /Widths, exercising the parser's standard-14 fallback.
    if cid_font and custom_encoding:
        raise ValueError("cid_font and custom_encoding are mutually exclusive")
    texts_of: dict[str, set[str]] = {}
    for c in chars:
        texts_of.setdefault(_font(c), set()).add(str(c["text"]))
    fontnames = sorted(texts_of) or ["Courier"]
    code_of: dict[str, dict[str, int]] = {}
    for fn in fontnames:
        texts = sorted(texts_of.get(fn, ()))
        if cid_font:
            code_of[fn] = _cid_codes(texts, cid_font)
        elif custom_encoding:
            if len(texts) > 0xFF - 0x20:
                raise ValueError(
                    "too many distinct glyphs for a single-byte custom encoding"
                )
            code_of[fn] = {t: 0x21 + k for k, t in enumerate(texts)}
    if code_of:
        observed = _observed_widths(chars, lambda c: code_of[_font(c)][str(c["text"])])
    else:
        observed = _observed_widths(chars, lambda c: ord(str(c["text"])[:1] or " "))

    width_of: dict[str, dict[int, float]] = {}
    font_res: dict[str, tuple[str, int]] = {}
    for i, fn in enumerate(fontnames, start=1):
        safe = _pdf_name(fn) or "Courier"
        seen = observed.get(fn, {})
        codes = code_of.get(fn, {})
        if cid_font:
            width_of[fn] = {
                code: seen.get(code, float(_FALLBACK_WIDTH)) for code in codes.values()
            }
            to_unicode = ""
            if cid_font in ("ucs2", "rksj"):
                # predefined CMap: no /ToUnicode, /W keys on the
                # generated Adobe-Japan1 subset CIDs, ideographs via /DW
                cmap_name = "UniJIS-UCS2-H" if cid_font == "ucs2" else "90ms-RKSJ-H"
                cid_of = _predefined_cid_map(cmap_name)
                unmapped = sorted(
                    {w for code, w in width_of[fn].items() if code not in cid_of}
                )
                if len(unmapped) > 1:
                    raise ValueError(
                        f"{cid_font} cid writer: unmapped (ideograph) glyphs "
                        f"must share one width for /DW, got {unmapped}"
                    )
                dw = unmapped[0] if unmapped else 1000.0
                ordering, encoding = "Japan1", f"/{cmap_name}"
            else:
                tu_num = add(_stream(_to_unicode(codes, 4, "Custom-CID-UTF16"), compress))
                to_unicode = f" /ToUnicode {tu_num} 0 R"
                if cid_font == "embedded":
                    cid_of, cmap = _embedded_cmap(codes)
                    enc_num = add(_stream(cmap, compress, tail=b"/Type /CMap "))
                    encoding = f"{enc_num} 0 R"
                else:
                    cid_of = {code: code for code in codes.values()}  # Identity-H
                    encoding = "/Identity-H"
                dw, ordering = 1000.0, "Identity"
            wparts = " ".join(
                f"{cid_of[code]} [{_num(w)}]"
                for code, w in sorted(width_of[fn].items())
                if code in cid_of
            )
            desc_num = add(
                (
                    f"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /{safe} "
                    f"/CIDSystemInfo << /Registry (Adobe) /Ordering ({ordering}) "
                    "/Supplement 0 >> "
                    f"/DW {_num(dw)} /W [{wparts}] >>"
                ).encode()
            )
            body = (
                f"<< /Type /Font /Subtype /Type0 /BaseFont /{safe} "
                f"/Encoding {encoding} /DescendantFonts [{desc_num} 0 R]"
                f"{to_unicode} >>"
            )
        elif custom_encoding:
            tu_num = add(_stream(_to_unicode(codes, 2, "Custom-UTF16"), compress))
            last = 0x20 + max(1, len(codes))
            width_of[fn] = {
                code: seen.get(code, float(_FALLBACK_WIDTH))
                for code in range(0x21, last + 1)
            }
            widths = " ".join(_num(w) for w in width_of[fn].values())
            body = (
                f"<< /Type /Font /Subtype /Type1 /BaseFont /{safe} "
                f"/FirstChar {0x21} /LastChar {last} /Widths [{widths}] "
                f"/ToUnicode {tu_num} 0 R >>"
            )
        else:
            table = {
                code: seen.get(code, float(font_width_millis(fn, chr(code))))
                for code in range(32, 127)
            }
            table.update(seen)  # codes outside 32..126 too
            width_of[fn] = table
            if "Courier" in fn and all(w == 600 for w in seen.values()):
                width_of[fn] = {code: 600.0 for code in table}
                body = f"<< /Type /Font /Subtype /Type1 /BaseFont /{safe} >>"
            else:
                widths = " ".join(_num(table[code]) for code in range(32, 127))
                body = (
                    f"<< /Type /Font /Subtype /Type1 /BaseFont /{safe} "
                    f"/FirstChar 32 /LastChar 126 /Widths [{widths}] >>"
                )
        font_res[fn] = (f"F{i}", add(body.encode()))
    fonts = " ".join(f"/{r} {n} 0 R" for r, n in font_res.values())

    pages_num = add()  # pages-tree placeholder, patched below
    page_obj_nums: list[int] = []
    deferred_pages: list[tuple[int, str]] = []  # (objnum, body-with-ANNOTS slot)

    for p in pages:
        pno = int(p["number"])
        w, h = float(p["width"]), float(p["height"])
        ops: list[str] = []

        # --- text: one BT/TJ per same-(line,font,size) run ---
        page_chars = sorted(
            (c for c in chars if int(c["page"]) == pno),
            key=lambda c: (-float(c["y0"]), float(c["x0"])),
        )
        cur_fill = (0.0, 0.0, 0.0)
        i = 0
        while i < len(page_chars):
            c0 = page_chars[i]
            size = float(c0["y1"]) - float(c0["y0"])
            fn = _font(c0)
            col = tuple(c0.get("ncolor") or (0.0, 0.0, 0.0))
            run = [c0]
            j = i + 1
            while j < len(page_chars):
                cj = page_chars[j]
                if (
                    abs(float(cj["y0"]) - float(c0["y0"])) > 1e-6
                    or _font(cj) != fn
                    or tuple(cj.get("ncolor") or (0.0, 0.0, 0.0)) != col
                    or abs((float(cj["y1"]) - float(cj["y0"])) - size) > 1e-6
                ):
                    break
                run.append(cj)
                j += 1
            i = j
            if col != cur_fill:
                ops.append(f"{_num(col[0])} {_num(col[1])} {_num(col[2])} rg")
                cur_fill = col
            # TJ with per-glyph kerning so arbitrary geometry round-trips
            items: list[str] = []
            buf: list[str] = []
            pen = float(run[0]["x0"])
            ftable = width_of[fn]
            fcodes = code_of.get(fn)

            def flush_buf():
                # cid mode: 2-byte codes as a hex string; else literal
                if buf:
                    items.append(
                        f"<{''.join(buf)}>" if cid_font
                        else f"({_esc(''.join(buf))})"
                    )
                    buf.clear()

            for c in run:
                t = str(c["text"])
                if fcodes is not None:
                    code = fcodes[t]  # built from these exact chars
                    wg = ftable.get(code, float(_FALLBACK_WIDTH)) * size / 1000.0
                    if cid_font == "rksj" and code <= 0xFF:
                        emit = f"{code:02X}"  # variable codespace: 1 byte
                    elif cid_font:
                        emit = f"{code:04X}"
                    else:
                        emit = chr(code)
                else:
                    ch0 = t[:1] or " "
                    wg = (
                        ftable.get(ord(ch0), float(font_width_millis(fn, ch0)))
                        * size / 1000.0
                    )
                    emit = t
                gap = float(c["x0"]) - pen
                if abs(gap) > 1e-4:
                    flush_buf()
                    items.append(_num(-gap * 1000.0 / size))
                    pen = float(c["x0"])
                buf.append(emit)
                pen += wg
            flush_buf()
            resname = font_res[fn][0]
            ops.append("BT")
            ops.append(f"/{resname} {_num(size)} Tf")
            ops.append(f"{_num(float(run[0]['x0']))} {_num(float(run[0]['y0']))} Td")
            ops.append(f"[{' '.join(items)}] TJ")
            ops.append("ET")
        if cur_fill != (0.0, 0.0, 0.0):
            ops.append("0 0 0 rg")

        # --- ruled lines as thin stroked rects ---
        for ln in lines:
            if int(ln["page"]) != pno:
                continue
            x0, y0 = float(ln["x0"]), float(ln["y0"])
            x1, y1 = float(ln["x1"]), float(ln["y1"])
            ops.append("0 0 0 RG 0.5 w")
            ops.append(
                f"{_num(min(x0, x1))} {_num(min(y0, y1))} "
                f"{_num(abs(x1 - x0))} {_num(abs(y1 - y0))} re S"
            )
        # --- colored rects ---
        for r in rects:
            if int(r["page"]) != pno:
                continue
            col = r.get("non_stroking_color") or [0, 0, 0]
            ops.append(f"{_num(col[0])} {_num(col[1])} {_num(col[2])} rg")
            ops.append(
                f"{_num(float(r['x0']))} {_num(float(r['y0']))} "
                f"{_num(float(r['x1']) - float(r['x0']))} "
                f"{_num(float(r['y1']) - float(r['y0']))} re f"
            )

        # --- figures as image XObjects ---
        xobj_entries = []
        k = 0
        for fg in figures:
            if int(fg["page"]) != pno:
                continue
            k += 1
            img_num = add(
                _stream(
                    b"\x80", False,
                    head=b"/Type /XObject /Subtype /Image /Width 1 /Height 1 "
                    b"/ColorSpace /DeviceGray /BitsPerComponent 8 ",
                )
            )
            xobj_entries.append((f"Im{k}", img_num))
            fx0, fy0 = float(fg["x0"]), float(fg["y0"])
            fw = float(fg["x1"]) - fx0
            fh = float(fg["y1"]) - fy0
            ops.append(
                f"q {_num(fw)} 0 0 {_num(fh)} {_num(fx0)} {_num(fy0)} cm /Im{k} Do Q"
            )

        content = ("\n".join(ops)).encode("latin-1", "replace")
        resources = f"/Resources << /Font << {fonts} >>"
        if xobj_entries:
            xo = " ".join(f"/{r} {n} 0 R" for r, n in xobj_entries)
            resources += f" /XObject << {xo} >>"
        resources += " >>"
        if form_wrap:
            # the page's ENTIRE content moves into one /Subtype /Form
            # XObject carrying its own /Resources; the page contents
            # shrink to a single `/Fp Do` under a translation `cm` the
            # form /Matrix must compose with. Round-tripping this file
            # proves the form-replay path end-to-end (text, figures,
            # fonts all live inside the form).
            # matrix (0, -7) + cm (0, 7) cancel — coordinates survive
            form_num = add(
                _stream(
                    content, compress,
                    head=(
                        f"/Type /XObject /Subtype /Form "
                        f"/BBox [0 0 {_num(w)} {_num(h)}] "
                        f"/Matrix [1 0 0 1 0 -7] {resources} "
                    ).encode(),
                )
            )
            content = b"q 1 0 0 1 0 7 cm /Fp Do Q"
            resources = f"/Resources << /XObject << /Fp {form_num} 0 R >> >>"
        content_num = add(_stream(content, compress))
        page_num = add()  # placeholder: /Annots needs anno objs (below)
        body = (
            f"<< /Type /Page /Parent {pages_num} 0 R "
            f"/MediaBox [0 0 {_num(w)} {_num(h)}] "
            f"{resources} /Contents {content_num} 0 R__ANNOTS__ >>"
        )
        deferred_pages.append((page_num, body))
        page_obj_nums.append(page_num)

    page_of = {int(p["number"]): obj for p, obj in zip(pages, page_obj_nums)}

    def dest_str(d: dict) -> str:
        pg = page_of.get(int(d["page"]), page_obj_nums[0] if page_obj_nums else 0)
        return (
            f"[{pg} 0 R /XYZ {_num(float(d.get('x', 0.0)))} "
            f"{_num(float(d.get('y', 0.0)))} 0]"
        )

    # --- link annotations ---
    annots_of_page: dict[int, list[int]] = {}
    for a in annos:
        rect = a["rect"]
        parts = [
            "/Type /Annot /Subtype /Link /Border [0 0 0]",
            f"/Rect [{' '.join(_num(float(v)) for v in rect)}]",
        ]
        if a.get("dest"):
            parts.append(f"/Dest {dest_str(a['dest'])}")
        elif a.get("dest_name") is not None:
            parts.append(f"/Dest {_pdf_string(str(a['dest_name']))}")
        elif a.get("uri"):
            parts.append(f"/A << /S /URI /URI {_pdf_string(str(a['uri']))} >>")
        n = add(f"<< {' '.join(parts)} >>".encode("latin-1", "replace"))
        annots_of_page.setdefault(int(a["page"]), []).append(n)

    for (page_num, body), p in zip(deferred_pages, pages):
        nums = annots_of_page.get(int(p["number"]))
        slot = f" /Annots [{' '.join(f'{n} 0 R' for n in nums)}]" if nums else ""
        objects[page_num - 1] = body.replace("__ANNOTS__", slot).encode()

    # --- outline tree from flat (title, level) list ---
    outlines_num = None
    if outline:
        item_nums = [add() for _ in outline]
        outlines_num = add()
        parents = [-1] * len(outline)
        stack: list[tuple[int, int]] = []
        for idx, it in enumerate(outline):
            lev = int(it.get("level", 1))
            while stack and stack[-1][0] >= lev:
                stack.pop()
            parents[idx] = stack[-1][1] if stack else -1
            stack.append((lev, idx))
        children: dict[int, list[int]] = {}
        for idx, par in enumerate(parents):
            children.setdefault(par, []).append(idx)

        def descendants(idx: int) -> int:
            kids = children.get(idx, [])
            return len(kids) + sum(descendants(kk) for kk in kids)

        for idx, it in enumerate(outline):
            sibs = children[parents[idx]]
            pos = sibs.index(idx)
            parts = [f"/Title {_pdf_string(str(it.get('title') or ''))}"]
            par_obj = outlines_num if parents[idx] < 0 else item_nums[parents[idx]]
            parts.append(f"/Parent {par_obj} 0 R")
            if pos > 0:
                parts.append(f"/Prev {item_nums[sibs[pos - 1]]} 0 R")
            if pos + 1 < len(sibs):
                parts.append(f"/Next {item_nums[sibs[pos + 1]]} 0 R")
            kids = children.get(idx, [])
            if kids:
                parts.append(f"/First {item_nums[kids[0]]} 0 R")
                parts.append(f"/Last {item_nums[kids[-1]]} 0 R")
                parts.append(f"/Count {descendants(idx)}")
            if it.get("dest"):
                parts.append(f"/Dest {dest_str(it['dest'])}")
            objects[item_nums[idx] - 1] = (
                f"<< {' '.join(parts)} >>".encode("latin-1", "replace")
            )
        top = children[-1]
        objects[outlines_num - 1] = (
            f"<< /Type /Outlines /First {item_nums[top[0]]} 0 R "
            f"/Last {item_nums[top[-1]]} 0 R /Count {len(outline)} >>"
        ).encode()

    # --- named destinations (PDF 1.1 catalog /Dests dict) ---
    dests_num = None
    if dests:
        entries = " ".join(
            f"/{_pdf_name(name)} {dest_str(d)}"
            for name, d in sorted(dests.items())
        )
        dests_num = add(f"<< {entries} >>".encode())

    # --- /Info metadata ---
    info_num = None
    info_parts = [
        f"/{_META_TO_INFO[k]} {_pdf_string(str(meta[k]))}"
        for k in sorted(_META_TO_INFO)
        if meta.get(k) not in (None, "")
    ]
    if meta.get("trapped"):
        info_parts.append(f"/Trapped /{_pdf_name(meta['trapped'])}")
    if info_parts:
        info_num = add(f"<< {' '.join(info_parts)} >>".encode("latin-1", "replace"))

    kids = " ".join(f"{n} 0 R" for n in page_obj_nums)
    objects[pages_num - 1] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {len(page_obj_nums)} >>"
    ).encode()
    cat_parts = [f"/Type /Catalog /Pages {pages_num} 0 R"]
    if outlines_num:
        cat_parts.append(f"/Outlines {outlines_num} 0 R")
    if dests_num:
        cat_parts.append(f"/Dests {dests_num} 0 R")
    catalog_num = add(f"<< {' '.join(cat_parts)} >>".encode())

    enc_num = None
    fid_hex = ""
    if encrypt:
        if xref_stream:
            raise ValueError(
                "encrypt is not supported with xref_stream serialization"
            )
        id0 = hashlib.md5(
            b"libpdf-file-id"
            + str(len(objects)).encode()
            + repr(sorted(meta.items())).encode("utf-8", "replace")
        ).digest()
        pw = (
            encrypt_password.encode("utf-8")
            if isinstance(encrypt_password, str) else encrypt_password
        )
        enc_body, sec = _make_encrypt_dict(encrypt, id0, pw)
        for i, obj in enumerate(objects):
            if obj is not None:
                objects[i] = _encrypt_object_body(obj, i + 1, sec)
        enc_num = add(enc_body)  # the /Encrypt dict itself stays plaintext
        fid_hex = id0.hex().upper()

    if xref_stream:
        # --- PDF 1.5 serialization: ObjStm-packed objects + xref STREAM ---
        out = bytearray(b"%PDF-1.5\n")
        objstm_num = len(objects) + 1
        xref_num = len(objects) + 2
        top_offset: dict[int, int] = {}
        in_objstm: dict[int, int] = {}  # objnum → index within the ObjStm
        members: list[tuple[int, bytes]] = []
        for num, obj in enumerate(objects, start=1):
            body = obj or b"null"
            if body.endswith(b"endstream"):  # streams cannot live in an ObjStm
                top_offset[num] = len(out)
                out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
            else:
                in_objstm[num] = len(members)
                members.append((num, body))
        header_parts: list[str] = []
        bodies = bytearray()
        for num, body in members:
            header_parts.append(f"{num} {len(bodies)}")
            bodies += body + b"\n"
        header = (" ".join(header_parts) + "\n").encode()
        top_offset[objstm_num] = len(out)
        out += f"{objstm_num} 0 obj\n".encode() + _stream(
            bytes(header + bodies), True,
            head=f"/Type /ObjStm /N {len(members)} /First {len(header)} ".encode(),
        ) + b"\nendobj\n"
        xref_pos = len(out)
        top_offset[xref_num] = xref_pos
        size = xref_num + 1
        rows = bytearray()
        for num in range(size):  # /W [1 4 2]: type, offset|objstm, gen|idx
            if num == 0:
                t, f2, f3 = 0, 0, 65535
            elif num in top_offset:
                t, f2, f3 = 1, top_offset[num], 0
            else:
                t, f2, f3 = 2, objstm_num, in_objstm[num]
            rows += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
        xhead = (
            f"/Type /XRef /Size {size} /W [1 4 2] /Root {catalog_num} 0 R"
            + (f" /Info {info_num} 0 R" if info_num else "")
            + " "
        )
        out += (
            f"{xref_num} 0 obj\n".encode()
            + _stream(bytes(rows), True, head=xhead.encode())
            + b"\nendobj\n"
        )
        out += f"startxref\n{xref_pos}\n%%EOF\n".encode()
        return bytes(out)

    # --- PDF 1.4 serialization with a classic xref table ---
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, obj in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + (obj or b"null") + b"\nendobj\n"
    xref_pos = len(out)
    out += f"xref\n0 {len(objects) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    trailer = f"<< /Size {len(objects) + 1} /Root {catalog_num} 0 R"
    if info_num:
        trailer += f" /Info {info_num} 0 R"
    if enc_num:
        trailer += f" /Encrypt {enc_num} 0 R /ID [<{fid_hex}> <{fid_hex}>]"
    trailer += " >>"
    out += f"trailer\n{trailer}\nstartxref\n{xref_pos}\n%%EOF\n".encode()
    return bytes(out)
