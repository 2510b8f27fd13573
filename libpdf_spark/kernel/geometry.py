"""Shared bbox predicates and char-crop text assembly.

The reference's recursive bbox-crop (``utils.py:260-431``
find_lt_obj_in_bbox / lt_page_crop) is replaced by working at char
granularity: select chars whose boxes lie inside the (expanded) crop
bbox, then re-run the line/box grouping on just those chars
(semantics of ``utils.py:547-582`` lt_textbox_crop). Recursion
eliminated; everything is a vectorized mask.
"""

from __future__ import annotations

import numpy as np

from libpdf_spark.config import ExtractConfig
from libpdf_spark.kernel.layout import (
    Box,
    CharArrays,
    assemble_lines_bulk,
    build_boxes,
    group_lines,
    lines_to_box,
)


def chars_in_bbox_mask(
    chars: CharArrays,
    page: int,
    bbox: tuple[float, float, float, float],
) -> np.ndarray:
    """Strict containment of char boxes in ``bbox``
    (``utils.py:212-257`` check_lt_obj_in_bbox, J1)."""
    x0, y0, x1, y1 = bbox
    return (
        (chars.page == page)
        & (chars.x0 >= x0)
        & (chars.y0 >= y0)
        & (chars.x1 <= x1)
        & (chars.y1 <= y1)
    )


def crop_boxes(
    chars: CharArrays,
    page: int,
    bbox: tuple[float, float, float, float],
    cfg: ExtractConfig,
) -> list[Box]:
    """Group the chars inside ``bbox`` into text boxes (J2/J4/J5)."""
    idx = np.where(chars_in_bbox_mask(chars, page, bbox))[0]
    if len(idx) == 0:
        return []
    return build_boxes(chars.take(idx), cfg, char_index_base=idx)


def crop_cell_box(
    chars: CharArrays,
    page: int,
    bbox: tuple[float, float, float, float],
    cfg: ExtractConfig,
) -> Box | None:
    """Single-textbox cell crop — ``lt_textbox_crop`` semantics
    (``utils.py:547-582`` + ``assemble_to_lt_textlines``
    ``utils.py:585-631``): the chars inside ``bbox`` run through
    :func:`group_lines` with an ABSOLUTE y-center tolerance (the
    reference passes LA_PARAMS["line_overlap"] = 0.5 as plain points)
    and NO char_margin column split, then through the page path's
    :func:`assemble_lines_bulk` and :func:`lines_to_box`; every line
    joins into ONE returned box.

    This differs from :func:`crop_boxes`/``build_boxes`` (height-
    relative tolerance + column splits + box grouping): a wide in-cell
    horizontal gap must stay one space-joined line here, and link
    scanning must see every line — the reference returns one
    LTTextBoxHorizontal.
    """
    idx = np.where(chars_in_bbox_mask(chars, page, bbox))[0]
    if len(idx) == 0:
        return None
    sub = chars.take(idx)
    lines = group_lines(sub, cfg.line_overlap)  # absolute points, reference quirk
    return lines_to_box(
        page, sub, lines, assemble_lines_bulk(sub, lines, cfg.word_margin), idx,
        (float(sub.x0.min()), float(sub.y0.min()), float(sub.x1.max()), float(sub.y1.max())),
    )


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
