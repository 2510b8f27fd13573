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
from libpdf_spark.kernel.layout import Box, CharArrays, build_boxes


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
    """Single-textbox cell crop — exact ``lt_textbox_crop`` semantics
    (``utils.py:547-582`` + ``assemble_to_lt_textlines``
    ``utils.py:585-631``): the chars inside ``bbox`` are regrouped into
    lines by an ABSOLUTE y-center tolerance (the reference passes
    LA_PARAMS["line_overlap"] = 0.5 as plain points), comparing each
    char to the PREVIOUS one in flatten order, with NO char_margin
    column split; every line joins into ONE returned box.

    This differs from :func:`crop_boxes`/``build_boxes`` (height-
    relative tolerance + column splits): a wide in-cell horizontal gap
    must stay one space-joined line here, and link scanning must see
    every line — the reference returns one LTTextBoxHorizontal.
    """
    idx = np.where(chars_in_bbox_mask(chars, page, bbox))[0]
    if len(idx) == 0:
        return None
    sub = chars.take(idx)
    yc = (sub.y0 + sub.y1) * 0.5
    order = np.lexsort((sub.x0, -yc))  # flatten order: top-down, then x
    tol = cfg.line_overlap  # absolute points, reference quirk
    lines: list[np.ndarray] = []
    cur = [int(order[0])]
    for k in range(1, len(order)):
        i = int(order[k])
        if abs(yc[i] - yc[cur[-1]]) < tol:
            cur.append(i)
        else:
            lines.append(np.asarray(cur, dtype=np.int64))
            cur = [i]
    lines.append(np.asarray(cur, dtype=np.int64))
    lines = [l[np.argsort(sub.x0[l], kind="stable")] for l in lines]

    from libpdf_spark.kernel.layout import _uniform, assemble_line_text

    text_parts: list[str] = []
    all_idx: list[np.ndarray] = []
    all_off: list[np.ndarray] = []
    line_spans: list[tuple[int, int]] = []
    cursor = 0
    nchars = 0
    for k, line in enumerate(lines):
        ltext, loff = assemble_line_text(sub, line, cfg.word_margin)
        if k > 0:
            cursor += 1  # the "\n" separator
        text_parts.append(ltext)
        all_idx.append(idx[line])
        all_off.append(loff + cursor)
        line_spans.append((nchars, nchars + len(line)))
        nchars += len(line)
        cursor += len(ltext)
    members = np.concatenate(lines)
    return Box(
        page=page,
        x0=float(sub.x0.min()),
        y0=float(sub.y0.min()),
        x1=float(sub.x1.max()),
        y1=float(sub.y1.max()),
        text="\n".join(text_parts),
        char_idx=np.concatenate(all_idx),
        offsets=np.concatenate(all_off),
        line_spans=line_spans,
        fontname=_uniform(sub.fontname[members]),
        ncolor=_uniform(sub.ncolor[members]),
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
