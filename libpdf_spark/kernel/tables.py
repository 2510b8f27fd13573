"""Ruled-table reconstruction from line edges (turn-local).

Implements the semantics of pdfplumber's ``lines`` table strategy as
the reference configures it (``tables.py:62-79``: snap_tolerance 3,
join_tolerance 3, edge_min_length 3) plus the reference's own cell
text extraction (chars within cell bbox + 5 pt regrouped,
``tables.py:237-263``) and the table-vs-figure dedup
(``tables.py:207-234``, margin 5 pt).

Algorithm (per page):
1. snap vertical edges to canonical x positions and horizontal edges
   to canonical y positions (cluster within snap_tolerance);
2. merge collinear segments whose gaps are <= join_tolerance;
3. intersections = (x, y) where a vertical and horizontal segment
   cross (within tolerance);
4. cells = for each intersection (as a top-left corner) the minimal
   rectangle whose four corners are intersections and whose four
   sides are fully covered by edges — merged cells fall out of
   "minimal with covered sides" naturally;
5. tables = connected components of cells sharing grid coordinates;
   row = rank of cell top among the table's distinct tops (desc),
   col = rank of cell left among distinct lefts (asc), 1-based
   (matches pdfplumber row/col addressing used in
   ``tables.py:157-201`` extract_cells).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from libpdf_spark.config import ExtractConfig
from libpdf_spark.kernel.geometry import bbox_contains, crop_cell_box
from libpdf_spark.kernel.layout import CharArrays, _connected_components


@dataclass
class Cell:
    row: int
    col: int
    x0: float
    y0: float
    x1: float
    y1: float
    text: str = ""
    box: object = None  # assembled Box for link scanning


@dataclass
class Table:
    page: int
    x0: float
    y0: float
    x1: float
    y1: float
    cells: list[Cell] = field(default_factory=list)

    @property
    def bbox(self):
        return (self.x0, self.y0, self.x1, self.y1)

    @property
    def rows(self) -> int:
        return max((c.row for c in self.cells), default=0)

    @property
    def columns(self) -> int:
        return max((c.col for c in self.cells), default=0)


def _snap(values: np.ndarray, tol: float) -> dict[float, float]:
    """Map raw coordinates to cluster-canonical coordinates (cluster
    mean), clustering values within ``tol`` of their neighbor."""
    if len(values) == 0:
        return {}
    vs = np.unique(values)
    groups: list[list[float]] = [[vs[0]]]
    for v in vs[1:]:
        if v - groups[-1][-1] <= tol:
            groups[-1].append(v)
        else:
            groups.append([v])
    mapping = {}
    for g in groups:
        canon = float(np.mean(g))
        for v in g:
            mapping[float(v)] = canon
    return mapping


def _merge_segments(segs: list[tuple[float, float]], join_tol: float) -> list[tuple[float, float]]:
    segs = sorted(segs)
    out: list[list[float]] = []
    for lo, hi in segs:
        if out and lo <= out[-1][1] + join_tol:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return [(a, b) for a, b in out]


def detect_tables(
    lines: list[dict], page: int, cfg: ExtractConfig
) -> list[Table]:
    """Grid reconstruction for the ruled edges ``lines`` of ``page``."""
    v_raw, h_raw = [], []
    for ln in lines:
        x0, y0, x1, y1 = (
            float(ln["x0"]),
            float(ln["y0"]),
            float(ln["x1"]),
            float(ln["y1"]),
        )
        if abs(x1 - x0) <= cfg.snap_tolerance and abs(y1 - y0) >= cfg.edge_min_length:
            v_raw.append(((x0 + x1) / 2, min(y0, y1), max(y0, y1)))
        elif abs(y1 - y0) <= cfg.snap_tolerance and abs(x1 - x0) >= cfg.edge_min_length:
            h_raw.append(((y0 + y1) / 2, min(x0, x1), max(x0, x1)))
    if not v_raw or not h_raw:
        return []

    xsnap = _snap(np.array([v[0] for v in v_raw]), cfg.snap_tolerance)
    ysnap = _snap(np.array([h[0] for h in h_raw]), cfg.snap_tolerance)

    v_edges: dict[float, list[tuple[float, float]]] = {}
    for x, lo, hi in v_raw:
        v_edges.setdefault(xsnap[float(x)], []).append((lo, hi))
    h_edges: dict[float, list[tuple[float, float]]] = {}
    for y, lo, hi in h_raw:
        h_edges.setdefault(ysnap[float(y)], []).append((lo, hi))
    v_edges = {x: _merge_segments(s, cfg.join_tolerance) for x, s in v_edges.items()}
    h_edges = {y: _merge_segments(s, cfg.join_tolerance) for y, s in h_edges.items()}

    tol = cfg.snap_tolerance

    def v_covers(x: float, ylo: float, yhi: float) -> bool:
        return any(lo - tol <= ylo and hi + tol >= yhi for lo, hi in v_edges.get(x, []))

    def h_covers(y: float, xlo: float, xhi: float) -> bool:
        return any(lo - tol <= xlo and hi + tol >= xhi for lo, hi in h_edges.get(y, []))

    xs = sorted(v_edges)
    ys = sorted(h_edges)
    inter = {
        (x, y)
        for x in xs
        for y in ys
        if v_covers(x, y, y) and h_covers(y, x, x)
    }

    cells: list[Cell] = []
    for x, y in sorted(inter, key=lambda p: (-p[1], p[0])):  # top-left corners, top-down
        rights = sorted(x2 for x2 in xs if x2 > x + tol and (x2, y) in inter)
        bottoms = sorted((y2 for y2 in ys if y2 < y - tol and (x, y2) in inter), reverse=True)
        found = None
        for y2 in bottoms:
            for x2 in rights:
                if (
                    (x2, y2) in inter
                    and v_covers(x, y2, y)
                    and v_covers(x2, y2, y)
                    and h_covers(y, x, x2)
                    and h_covers(y2, x, x2)
                ):
                    found = (x2, y2)
                    break
            if found:
                break
        if found:
            x2, y2 = found
            cells.append(Cell(row=0, col=0, x0=x, y0=y2, x1=x2, y1=y))

    if not cells:
        return []

    # group cells into tables: connected via shared snapped coordinates
    ii, jj = [], []
    for i in range(len(cells)):
        for j in range(i + 1, len(cells)):
            a, b = cells[i], cells[j]
            touch_x = abs(a.x1 - b.x0) <= tol or abs(b.x1 - a.x0) <= tol or (a.x0 < b.x1 and a.x1 > b.x0)
            touch_y = abs(a.y0 - b.y1) <= tol or abs(b.y0 - a.y1) <= tol or (a.y0 < b.y1 and a.y1 > b.y0)
            if touch_x and touch_y:
                ii.append(i)
                jj.append(j)
    labels = _connected_components(len(cells), np.array(ii, dtype=np.int64), np.array(jj, dtype=np.int64))

    # groups in first-member order, members in cell order
    groups: dict[int, list[Cell]] = {}
    for lab, c in zip(labels.tolist(), cells):
        groups.setdefault(lab, []).append(c)

    tables: list[Table] = []
    for group in groups.values():
        tops = sorted({c.y1 for c in group}, reverse=True)
        lefts = sorted({c.x0 for c in group})
        for c in group:
            c.row = tops.index(c.y1) + 1
            c.col = lefts.index(c.x0) + 1
        group.sort(key=lambda c: (c.row, c.col))
        tables.append(
            Table(
                page=page,
                x0=min(c.x0 for c in group),
                y0=min(c.y0 for c in group),
                x1=max(c.x1 for c in group),
                y1=max(c.y1 for c in group),
                cells=group,
            )
        )
    tables.sort(key=lambda t: (-t.y1, t.x0))
    return tables


def drop_tables_in_figures(
    tables: list[Table], figures: list, margin: float
) -> list[Table]:
    """Table-vs-figure dedup (F6, ``tables.py:207-234``): drop a table
    recognized inside a figure (figure bbox expanded by 5 pt)."""
    out = []
    for t in tables:
        inside = any(
            f.page == t.page and bbox_contains(f.bbox, t.bbox, margin=margin)
            for f in figures
        )
        if not inside:
            out.append(t)
    return out


def fill_cell_text(
    tables: list[Table], chars: CharArrays, cfg: ExtractConfig
) -> None:
    """Cell text via char crop of cell bbox + 5 pt (J5,
    ``tables.py:237-263`` / ``cell_lttextbox_extraction``).

    Uses :func:`crop_cell_box` — the reference's ``lt_textbox_crop``
    regroup (absolute 0.5 pt y-center tolerance, no column split,
    ONE box) so a wide in-cell gap stays a single space-joined line
    and link scanning sees every line of the cell (ADVICE r1)."""
    off = cfg.cell_crop_offset
    for t in tables:
        for c in t.cells:
            box = crop_cell_box(
                chars,
                t.page,
                (c.x0 - off, c.y0 - off, c.x1 + off, c.y1 + off),
                cfg,
            )
            if box is not None:
                c.text = box.text
                c.box = box
