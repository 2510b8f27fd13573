"""Link-source scanning and link-target resolution.

J7: annotation rectangles × textbox chars → char-index ranges
(``textbox.py:603-795`` extract_linked_chars / annos_scanner,
tolerances ANNO_X/Y_TOLERANCE ``parameters.py:85-86``) — the
reference's sequential char scanner becomes a vectorized
char-in-rect mask + run-length extraction.

J9: named-destination lookup (``textbox.py:817-836``,
``catalog.py:25-113``).

J8: target (page, x, y) → containing element with 65 pt left/up
tolerance (``process.py:397-536``, ``parameters.py:116``,
``models/position.py:102-120``); unresolvable targets render as
``page.N/X:Y`` (``process.py:440-447`` behavior).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from libpdf_spark.config import ExtractConfig
from libpdf_spark.kernel.layout import Box, CharArrays


@dataclass
class Link:
    idx_start: int
    idx_stop: int
    page: int | None = None
    x: float | None = None
    y: float | None = None
    target_uid: str | None = None

    @property
    def target(self) -> str | None:
        if self.target_uid:
            return self.target_uid
        if self.page is not None:
            # unresolvable target → raw page coordinate string, format
            # per the reference (process.py:519-522): str() of the
            # stored values, page id as "page.<number>"
            return f"page.{self.page}/{self.x}:{self.y}"
        # no target page at all (process.py:535)
        return "Out Of extracted pages scope"


def resolve_anno_dest(anno: dict, dests: dict) -> tuple | None:
    """dest or dest_name → (page, x, y); None when unresolvable (J9)."""
    dest = anno.get("dest")
    if dest:
        return int(dest["page"]), float(dest.get("x", 0.0)), float(dest.get("y", 0.0))
    name = anno.get("dest_name")
    if name is not None and name in dests:
        d = dests[name]
        return int(d["page"]), float(d.get("x", 0.0)), float(d.get("y", 0.0))
    return None


def scan_box_links(
    box: Box,
    annos: list[dict],
    dests: dict,
    chars: CharArrays,
    cfg: ExtractConfig,
) -> list[Link]:
    """Char-index ranges of annotated spans within one textbox.

    Per the reference: annos intersecting the box bbox are considered
    (``textbox.py:624-631``); per line, an anno counts when its
    x-range overlaps and its vertical CENTER falls inside the line
    (``textbox.py:638-648``); within a line, chars inside the anno
    rect expanded by ±3 pt form the linked run (``textbox.py:670-795``).
    ``idx_start``/``idx_stop`` index into the box's assembled text
    (separators included), i.e. ``text[idx_start:idx_stop]`` is the
    linked substring (``models/link.py:59-69``).
    """
    cand = [
        a
        for a in annos
        if a["rect"][0] < box.x1
        and a["rect"][1] < box.y1
        and a["rect"][2] > box.x0
        and a["rect"][3] > box.y0
    ]
    if not cand:
        return []

    links: list[Link] = []
    for start, stop in box.line_spans:
        idx = box.char_idx[start:stop]
        off = box.offsets[start:stop]
        if len(idx) == 0:
            continue
        ly0 = float(chars.y0[idx].min())
        ly1 = float(chars.y1[idx].max())
        lx0 = float(chars.x0[idx].min())
        lx1 = float(chars.x1[idx].max())
        line_annos = [
            a
            for a in cand
            if a["rect"][0] < lx1
            and a["rect"][2] > lx0
            and ly1 > (a["rect"][1] + abs(a["rect"][1] - a["rect"][3]) / 2) > ly0
        ]
        line_annos.sort(key=lambda a: a["rect"][0])  # left-to-right (O3)
        for a in line_annos:
            rx0, ry0, rx1, ry1 = (float(v) for v in a["rect"])
            mask = (
                (chars.x0[idx] >= rx0 - cfg.anno_x_tolerance)
                & (chars.x1[idx] <= rx1 + cfg.anno_x_tolerance)
                & (chars.y0[idx] >= ry0 - cfg.anno_y_tolerance)
                & (chars.y1[idx] <= ry1 + cfg.anno_y_tolerance)
            )
            if not mask.any():
                continue
            pos = np.where(mask)[0]
            first, last = int(pos[0]), int(pos[-1])
            resolved = resolve_anno_dest(a, dests)
            link = Link(
                idx_start=int(off[first]),
                idx_stop=int(off[last]) + 1,
            )
            if resolved:
                link.page, link.x, link.y = resolved
            links.append(link)
    return links


# Position-creation order in the reference (extract.py: figures →
# rects → tables → chapters → paragraphs); cells are excluded from the
# target search (their Position has no b_element, process.py:548-550)
_TARGET_KIND_ORDER = {"figure": 0, "rect": 1, "table": 2, "chapter": 3, "paragraph": 4}


def resolve_target_uid(
    links: list[Link],
    elements: list,  # DocElements in document order, each with .page/.bbox/.uid
    cfg: ExtractConfig,
) -> None:
    """J8: map each link's (page, x, y) to the uid of the first
    element whose bbox, expanded 65 pt leftwards and upwards, contains
    the point — ``x1 > x >= x0-TOL and y1+TOL > y >= y0``
    (``models/position.py:102-118``), candidates visited in the
    reference's Position-creation order (``process.py:397-553``).
    Mutates ``links``."""
    tol = cfg.target_coor_tolerance
    candidates = sorted(
        (
            (i, el)
            for i, el in enumerate(elements)
            if el.kind in _TARGET_KIND_ORDER
        ),
        key=lambda t: (_TARGET_KIND_ORDER[t[1].kind], t[0]),
    )
    # each page's candidates, still in visiting order: a link walks its
    # own page only, not every page of the document
    on_page: dict[int, list] = {}
    for _, el in candidates:
        on_page.setdefault(el.page, []).append(el)
    for link in links:
        if link.page is None:
            continue
        for el in on_page.get(link.page, ()):
            x0, y0, x1, y1 = el.bbox
            if x1 > link.x >= (x0 - tol) and (y1 + tol) > link.y >= y0:
                link.target_uid = el.uid
                break
