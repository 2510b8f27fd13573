"""Geometry rasterizer + dependency-free PNG writer (S8/S9 sinks).

The reference exports figure crops via pdfplumber's raster backend
(``extract.py:734-754``) and draws translucent element overlays for
visual debugging (``utils.py:679-838``). No raster library exists in
this environment, so both sinks are served by a small numpy rasterizer
over the layout payload itself plus a pure-``zlib`` PNG encoder:

* chars draw as filled boxes in their fill color (no font rasterizer —
  a geometry raster, honestly documented as such),
* rects fill with their non-stroking color, ruled lines stroke black,
* figures fill light gray,
* visual-debug pages overlay per-kind translucent colors matching the
  reference's ``VIS_DBG_MAP_ELEMENTS_COLOR`` (``parameters.py:200-206``).

PNG output is real and standard: 8-bit RGB, filter 0 scanlines,
zlib-compressed IDAT, CRC'd chunks — readable by any image tool.
"""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np

from libpdf_spark.payload import decode_chars

# reference parameters.py:200-206 (RGB + alpha/255)
VIS_DBG_MAP_ELEMENTS_COLOR = {
    "chapter": ((0, 128, 0), 80),
    "paragraph": ((0, 0, 255), 40),
    "table": ((255, 0, 0), 40),
    "cell": ((255, 0, 0), 24),
    "figure": ((255, 255, 0), 80),
    "rect": ((0, 255, 255), 160),
}

RENDER_ELEMENTS = ["chapter", "paragraph", "table", "figure", "rect"]


def write_png(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → PNG bytes (8-bit RGB, filter 0, one IDAT)."""
    h, w = rgb.shape[:2]

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    raw = np.zeros((h, w * 3 + 1), dtype=np.uint8)
    raw[:, 1:] = rgb.reshape(h, w * 3)  # filter byte 0 per scanline
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
        + chunk(b"IEND", b"")
    )


def read_png_size(data: bytes) -> tuple[int, int]:
    """(width, height) of a PNG — for tests and sanity checks."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    w, h = struct.unpack(">II", data[16:24])
    return w, h


class _Raster:
    """RGB canvas over one page region in PDF coordinates (y-up)."""

    def __init__(self, x0: float, y0: float, x1: float, y1: float, scale: float):
        self.x0, self.y0, self.scale = x0, y0, scale
        self.w = max(1, int(round((x1 - x0) * scale)))
        self.h = max(1, int(round((y1 - y0) * scale)))
        self.img = np.full((self.h, self.w, 3), 255, dtype=np.uint8)

    def _span(self, bx0, by0, bx1, by1):
        # PDF y-up → raster row 0 at the TOP of the region
        cx0 = int(np.floor((bx0 - self.x0) * self.scale))
        cx1 = int(np.ceil((bx1 - self.x0) * self.scale))
        ry1 = self.h - int(np.floor((by0 - self.y0) * self.scale))
        ry0 = self.h - int(np.ceil((by1 - self.y0) * self.scale))
        cx0, cx1 = max(0, cx0), min(self.w, max(cx1, cx0 + 1))
        ry0, ry1 = max(0, ry0), min(self.h, max(ry1, ry0 + 1))
        return cx0, ry0, cx1, ry1

    def fill(self, bbox, color, alpha: int = 255):
        cx0, ry0, cx1, ry1 = self._span(*bbox)
        if cx0 >= cx1 or ry0 >= ry1:
            return
        region = self.img[ry0:ry1, cx0:cx1].astype(np.uint16)
        col = np.array(color, dtype=np.uint16)
        self.img[ry0:ry1, cx0:cx1] = (
            (region * (255 - alpha) + col * alpha) // 255
        ).astype(np.uint8)

    def outline(self, bbox, color, px: int = 1):
        cx0, ry0, cx1, ry1 = self._span(*bbox)
        col = np.array(color, dtype=np.uint8)
        self.img[ry0 : min(ry0 + px, ry1), cx0:cx1] = col
        self.img[max(ry1 - px, ry0) : ry1, cx0:cx1] = col
        self.img[ry0:ry1, cx0 : min(cx0 + px, cx1)] = col
        self.img[ry0:ry1, max(cx1 - px, cx0) : cx1] = col


def _rgb255(ncolor) -> tuple[int, int, int]:
    if not ncolor:
        return (0, 0, 0)
    return tuple(int(round(float(c) * 255)) for c in ncolor[:3])


def _draw_payload(r: _Raster, doc: dict, page: int) -> None:
    """Draw one page's payload geometry onto the canvas."""
    for fg in doc.get("figures") or []:
        if int(fg["page"]) == page:
            r.fill((fg["x0"], fg["y0"], fg["x1"], fg["y1"]), (210, 210, 210))
    for rc in doc.get("rects") or []:
        if int(rc["page"]) == page:
            r.fill(
                (rc["x0"], rc["y0"], rc["x1"], rc["y1"]),
                _rgb255(rc.get("non_stroking_color")),
            )
    for ln in doc.get("lines") or []:
        if int(ln["page"]) == page:
            r.fill((ln["x0"], ln["y0"], ln["x1"], ln["y1"]), (0, 0, 0))
    cols = decode_chars(doc.get("chars"))
    on_page = cols["page"] == page
    bboxes = zip(*(cols[k][on_page].tolist() for k in ("x0", "y0", "x1", "y1")))
    for bbox, ncolor in zip(bboxes, cols["ncolor"][on_page]):
        r.fill(bbox, _rgb255(ncolor), alpha=230)


def render_region(
    doc: dict, page: int, bbox, scale: float = 2.0
) -> np.ndarray:
    """Rasterize one region of one page of a layout payload → RGB."""
    r = _Raster(bbox[0], bbox[1], bbox[2], bbox[3], scale)
    _draw_payload(r, doc, page)
    return r.img


def save_figures(
    doc: dict, result, figure_dir: str = "figures", scale: float = 2.0
) -> list[str]:
    """S8 sink (``extract.py:734-754``): one PNG per extracted figure
    element, named ``<uid with / → ->.png`` under ``figure_dir``.

    Rasterizes the figure's page region from the layout payload (the
    reference rasterizes via pdfplumber at 300 dpi; same contract —
    a real PNG per figure crop — different renderer)."""
    os.makedirs(figure_dir, exist_ok=True)
    paths: list[str] = []
    for el in result.elements:
        if el.kind != "figure":
            continue
        img = render_region(doc, el.page, (el.x0, el.y0, el.x1, el.y1), scale)
        name = el.uid.replace("/", "-") or f"figure-p{el.page}"
        path = os.path.join(figure_dir, f"{name}.png")
        with open(path, "wb") as fh:
            fh.write(write_png(img))
        paths.append(path)
    return paths


def visual_debug(
    doc: dict,
    result,
    output_dir: str = "visual_debug_libpdf",
    include_elements: list[str] | None = None,
    exclude_elements: list[str] | None = None,
    split_elements: bool = False,
    scale: float = 1.5,
) -> list[str]:
    """S9 sink (``utils.py:679-838``): per-page PNGs with translucent
    per-kind element overlays (reference colors), optionally one
    directory per element kind (``split_elements``)."""
    if include_elements and exclude_elements:
        raise ValueError("cannot visual-include and -exclude at the same time")
    kinds = [
        k
        for k in RENDER_ELEMENTS
        if (not include_elements or k in include_elements)
        and (not exclude_elements or k not in exclude_elements)
    ]
    os.makedirs(output_dir, exist_ok=True)
    paths: list[str] = []
    groups = [[k] for k in kinds] if split_elements else [kinds]
    for group in groups:
        sub = os.path.join(output_dir, group[0]) if split_elements else output_dir
        os.makedirs(sub, exist_ok=True)
        for p in result.pages:
            pno = int(p["number"])
            r = _Raster(0.0, 0.0, float(p["width"]), float(p["height"]), scale)
            _draw_payload(r, doc, pno)
            for el in result.elements:
                want = el.kind if el.kind != "cell" else "table"
                if el.page != pno or want not in group:
                    continue
                color, alpha = VIS_DBG_MAP_ELEMENTS_COLOR[el.kind]
                r.fill(el.bbox, color, alpha)
                r.outline(el.bbox, color)
            path = os.path.join(sub, f"page-{pno}.png")
            with open(path, "wb") as fh:
                fh.write(write_png(r.img))
            paths.append(path)
    return paths
