"""Figure and rect extraction (turn-local).

Figures: sanity filter + containment/overlap dedup + contained-text
join — reference ``extract.py:593-659`` (extract_figures),
``extract.py:796-860`` (check_and_filter_figures).
Rects: colored rectangles with their contained text cropped into one
textbox, as table cells are — reference ``extract.py:662-731``
(extract_rects).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from libpdf_spark.config import ExtractConfig
from libpdf_spark.kernel.geometry import (
    bbox_area,
    bbox_contains,
    bbox_overlaps,
    crop_cell_box,
)
from libpdf_spark.kernel.layout import Box, CharArrays


@dataclass
class Figure:
    page: int
    x0: float
    y0: float
    x1: float
    y1: float
    text: str = ""
    boxes: list = field(default_factory=list)

    @property
    def bbox(self):
        return (self.x0, self.y0, self.x1, self.y1)


@dataclass
class Rect:
    page: int
    x0: float
    y0: float
    x1: float
    y1: float
    non_stroking_color: tuple | None = None
    text: str = ""
    textbox: Box | None = None

    @property
    def bbox(self):
        return (self.x0, self.y0, self.x1, self.y1)


def filter_figures(raw: list[dict], cfg: ExtractConfig) -> list[Figure]:
    """Sanity filter (F4) + containment/overlap dedup (F5).

    * negative coords clamped to 0, figures smaller than 15×15 pt
      dropped (``extract.py:796-822``, ``parameters.py:120-121``);
    * a figure fully inside another is dropped; on partial overlap the
      smaller area is dropped (``extract.py:825-860``).
    """
    figs: list[Figure] = []
    for f in raw:
        x0 = max(0.0, float(f["x0"]))
        y0 = max(0.0, float(f["y0"]))
        x1 = max(0.0, float(f["x1"]))
        y1 = max(0.0, float(f["y1"]))
        if (x1 - x0) > cfg.figure_min_width and (y1 - y0) > cfg.figure_min_height:
            figs.append(Figure(page=int(f["page"]), x0=x0, y0=y0, x1=x1, y1=y1))

    # pairwise dedup within each page, in index order — n is tiny per
    # page, but a loop over the whole document is quadratic in pages
    on_page: dict[int, list[int]] = {}
    for k, f in enumerate(figs):
        on_page.setdefault(f.page, []).append(k)
    drop: set[int] = set()
    for members in on_page.values():
        for i in members:
            if i in drop:
                continue
            for j in members:
                if i == j or j in drop:
                    continue
                bi, bj = figs[i].bbox, figs[j].bbox
                if bbox_contains(bi, bj):
                    drop.add(j)
                elif bbox_overlaps(bi, bj) and bbox_area(bi) >= bbox_area(bj):
                    drop.add(j)
    return [f for k, f in enumerate(figs) if k not in drop]


def attach_figure_text(
    figures: list[Figure], page_boxes: dict[int, list[Box]]
) -> None:
    """Join textboxes fully inside each figure (J3,
    ``extract.py:629-645``); figure text = box texts joined "\\n"
    (``process.py:94``). Mutates ``figures``; the consumed boxes stay
    in the page pool — the box-in-element filter (F7) removes them
    separately, as in the reference."""
    for fig in figures:
        inside = [
            b
            for b in page_boxes.get(fig.page, [])
            if bbox_contains(fig.bbox, (b.x0, b.y0, b.x1, b.y1))
        ]
        fig.boxes = inside
        fig.text = "\n".join(b.text for b in inside)


def extract_rects(
    raw: list[dict], chars: CharArrays, cfg: ExtractConfig
) -> list[Rect]:
    """Rects with the text of the chars inside rect bbox + 5 pt,
    cropped into one textbox like a table cell (J4,
    ``extract.py:698-722``, ``utils.py:547-582``)."""
    rects: list[Rect] = []
    off = cfg.rect_crop_offset
    for r in raw:
        rect = Rect(
            page=int(r["page"]),
            x0=float(r["x0"]),
            y0=float(r["y0"]),
            x1=float(r["x1"]),
            y1=float(r["y1"]),
            non_stroking_color=(
                tuple(r["non_stroking_color"])
                if r.get("non_stroking_color")
                else None
            ),
        )
        rect.textbox = crop_cell_box(
            chars,
            rect.page,
            (rect.x0 - off, rect.y0 - off, rect.x1 + off, rect.y1 + off),
            cfg,
        )
        if rect.textbox is not None:
            rect.text = rect.textbox.text
        rects.append(rect)
    return rects


def remove_boxes_in_elements(
    boxes: list[Box],
    element_bboxes: list[tuple[float, float, float, float]],
    margin: float,
) -> list[Box]:
    """Textbox-in-element anti-filter (F7): drop boxes of one page
    inside any table/figure bbox of that page expanded by ``margin``
    (``textbox.py:863-902``, TABLE_MARGIN ``parameters.py:26``)."""
    out = []
    for b in boxes:
        bb = (b.x0, b.y0, b.x1, b.y1)
        if any(bbox_contains(eb, bb, margin=margin) for eb in element_bboxes):
            continue
        out.append(b)
    return out
