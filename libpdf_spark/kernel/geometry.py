"""Shared bbox predicates and char-crop text assembly.

The reference's recursive bbox-crop (``utils.py:260-431``
find_lt_obj_in_bbox / lt_page_crop) is replaced by working at char
granularity: select the chars of the crop's page whose boxes lie
inside the (expanded) crop bbox, then group just those chars into the
lines of one box (semantics of ``utils.py:547-582`` lt_textbox_crop).
Recursion eliminated; everything is a vectorized mask.
"""

from __future__ import annotations

import numpy as np

from libpdf_spark.config import ExtractConfig
from libpdf_spark.kernel.layout import Box, CharArrays, _line_runs, assemble_boxes


def chars_in_bbox_mask(
    chars: CharArrays,
    page: int,
    bbox: tuple[float, float, float, float],
) -> np.ndarray:
    """Strict containment of char boxes in ``bbox`` on ``page``
    (``utils.py:212-257`` check_lt_obj_in_bbox, J1); only the page's
    own span of ``chars`` is tested."""
    lo, hi = chars.page_span(page)
    x0, y0, x1, y1 = bbox
    inside = np.zeros(len(chars), dtype=bool)
    inside[lo:hi] = (
        (chars.x0[lo:hi] >= x0)
        & (chars.y0[lo:hi] >= y0)
        & (chars.x1[lo:hi] <= x1)
        & (chars.y1[lo:hi] <= y1)
    )
    return inside


def crop_cell_box(
    chars: CharArrays,
    page: int,
    bbox: tuple[float, float, float, float],
    cfg: ExtractConfig,
) -> Box | None:
    """Single-textbox crop of a table cell or a rect —
    ``lt_textbox_crop`` semantics (``utils.py:547-582`` +
    ``assemble_to_lt_textlines`` ``utils.py:585-631``): the chars
    inside ``bbox`` group into lines as :func:`_line_runs` forms them, with
    an ABSOLUTE y-center tolerance (the reference passes
    LA_PARAMS["line_overlap"] = 0.5 as plain points) and NO
    char_margin column split; then the page path's
    :func:`assemble_boxes` joins every line, in that top-to-bottom
    order, into ONE returned box, as the reference returns one
    LTTextBoxHorizontal. A wide horizontal gap stays one space-joined
    line, and link scanning sees every line. Only the chars of
    ``page`` are read.
    """
    lo, hi = chars.page_span(page)
    on_page = chars.take(slice(lo, hi))
    idx = np.flatnonzero(chars_in_bbox_mask(on_page, page, bbox))
    if len(idx) == 0:
        return None
    sub = on_page.take(idx)
    members, bounds = _line_runs(sub, cfg.line_overlap)  # absolute points, reference quirk
    n_lines = len(bounds) - 1
    (box,) = assemble_boxes(
        [page], sub, members, bounds, np.arange(n_lines), np.array([0, n_lines]),
        [(float(sub.x0.min()), float(sub.y0.min()), float(sub.x1.max()), float(sub.y1.max()))],
        cfg.word_margin, idx + lo,
    )
    return box


def bbox_contains(outer, inner, margin: float = 0.0) -> bool:
    """``inner`` fully inside ``outer`` expanded by ``margin``."""
    return (
        outer[0] - margin <= inner[0]
        and outer[1] - margin <= inner[1]
        and outer[2] + margin >= inner[2]
        and outer[3] + margin >= inner[3]
    )


def bbox_overlaps(a, b) -> bool:
    return a[0] < b[2] and a[2] > b[0] and a[1] < b[3] and a[3] > b[1]


def bbox_area(b) -> float:
    return max(0.0, b[2] - b[0]) * max(0.0, b[3] - b[1])
