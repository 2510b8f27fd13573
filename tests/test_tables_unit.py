"""Unit tests for ruled-table grid reconstruction edge cases."""

from __future__ import annotations

from libpdf_spark.config import ExtractConfig
from libpdf_spark.kernel.tables import detect_tables

CFG = ExtractConfig()


def _grid_lines(x0, y_top, n_rows, n_cols, col_w=50.0, row_h=20.0, page=1):
    xs = [x0 + i * col_w for i in range(n_cols + 1)]
    ys = [y_top - i * row_h for i in range(n_rows + 1)]
    lines = []
    for x in xs:
        lines.append(dict(page=page, x0=x, x1=x, y0=ys[-1], y1=ys[0]))
    for y in ys:
        lines.append(dict(page=page, x0=xs[0], x1=xs[-1], y0=y, y1=y))
    return lines


def test_two_separate_tables_on_one_page():
    lines = _grid_lines(50, 700, 2, 2) + _grid_lines(300, 400, 3, 1)
    tables = detect_tables(lines, 1, CFG)
    assert len(tables) == 2
    # reading order: higher table first
    assert tables[0].y1 > tables[1].y1
    assert (tables[0].rows, tables[0].columns) == (2, 2)
    assert (tables[1].rows, tables[1].columns) == (3, 1)


def test_stray_lines_do_not_make_tables():
    # a single horizontal rule (e.g. a divider) has no intersections
    lines = [dict(page=1, x0=50, x1=500, y0=600, y1=600)]
    assert detect_tables(lines, 1, CFG) == []
    # a cross with no closed cell: one vertical + one horizontal
    lines = [
        dict(page=1, x0=100, x1=100, y0=500, y1=700),
        dict(page=1, x0=50, x1=300, y0=600, y1=600),
    ]
    assert detect_tables(lines, 1, CFG) == []


def test_snap_tolerance_merges_jittery_edges():
    # edges drawn with up to 2pt jitter (< snap_tolerance 3) still
    # form one clean 2x2 grid
    lines = [
        dict(page=1, x0=50, x1=50, y0=660, y1=700),
        dict(page=1, x0=101.5, x1=101.5, y0=660, y1=700),  # x jitter
        dict(page=1, x0=150, x1=150, y0=660, y1=700),
        dict(page=1, x0=50, x1=150, y0=700, y1=700),
        dict(page=1, x0=50, x1=150, y0=681.2, y1=681.2),   # y jitter
        dict(page=1, x0=50, x1=150, y0=660, y1=660),
    ]
    tables = detect_tables(lines, 1, CFG)
    assert len(tables) == 1
    assert (tables[0].rows, tables[0].columns) == (2, 2)
    assert len(tables[0].cells) == 4


def test_row_spanning_merge():
    # full 2x2 grid minus the internal horizontal edge in column 1
    # → left cell spans both rows
    lines = [
        dict(page=1, x0=50, x1=50, y0=660, y1=700),
        dict(page=1, x0=100, x1=100, y0=660, y1=700),
        dict(page=1, x0=150, x1=150, y0=660, y1=700),
        dict(page=1, x0=50, x1=150, y0=700, y1=700),
        dict(page=1, x0=100, x1=150, y0=680, y1=680),  # only col 2
        dict(page=1, x0=50, x1=150, y0=660, y1=660),
    ]
    tables = detect_tables(lines, 1, CFG)
    assert len(tables) == 1
    cells = {(c.row, c.col): c for c in tables[0].cells}
    assert set(cells) == {(1, 1), (1, 2), (2, 2)}
    merged = cells[(1, 1)]
    assert merged.y1 - merged.y0 == 40.0  # spans both rows


# ---------------------------------------------------------------------------
# cell-crop parity with the reference's lt_textbox_crop (ADVICE r1)
# ---------------------------------------------------------------------------

from libpdf_spark.kernel.layout import CharArrays
from libpdf_spark.kernel.tables import fill_cell_text
from libpdf_spark.payload import decode_chars


def _chars(specs, page=1, h=10.0, w=6.0):
    """specs: list of (text, x0, y0) one-char entries on a 6x10 grid."""
    return CharArrays(**decode_chars(
        [
            dict(page=page, text=t, x0=x, y0=y, x1=x + w, y1=y + h,
                 fontname="Mono", ncolor=(0.0, 0.0, 0.0))
            for t, x, y in specs
        ]
    ))


def _one_cell_table(x0=50.0, y0=600.0, x1=350.0, y1=700.0):
    lines = [
        dict(page=1, x0=x0, x1=x0, y0=y0, y1=y1),
        dict(page=1, x0=x1, x1=x1, y0=y0, y1=y1),
        dict(page=1, x0=x0, x1=x1, y0=y0, y1=y0),
        dict(page=1, x0=x0, x1=x1, y0=y1, y1=y1),
    ]
    tables = detect_tables(lines, 1, CFG)
    assert len(tables) == 1 and len(tables[0].cells) == 1
    return tables


def test_wide_in_cell_gap_stays_one_line():
    # "AB" then "CD" with a 120 pt gap — far beyond char_margin*width
    # (6*6=36 pt): build_boxes would column-split into two boxes, but
    # the reference's lt_textbox_crop keeps ONE y-grouped line joined
    # with a space (tables.py:237-263, utils.py:547-631)
    tables = _one_cell_table()
    chars = _chars(
        [("A", 60.0, 650.0), ("B", 66.0, 650.0),
         ("C", 192.0, 650.0), ("D", 198.0, 650.0)]
    )
    fill_cell_text(tables, chars, CFG)
    cell = tables[0].cells[0]
    assert cell.text == "AB CD"          # NOT "AB\nCD"
    assert len(cell.box.line_spans) == 1


def test_multiline_cell_keeps_all_lines_in_one_box():
    # two physical lines -> "\n"-joined, and the SINGLE returned box
    # carries both lines' char indices (links on line 2 must be
    # scannable — previously only boxes[0] was kept)
    tables = _one_cell_table()
    line1 = [(c, 60.0 + 6.0 * i, 660.0) for i, c in enumerate("Henry")]
    line2 = [(c, 60.0 + 6.0 * i, 646.0) for i, c in enumerate("cavill")]
    chars = _chars(line1 + line2)
    fill_cell_text(tables, chars, CFG)
    cell = tables[0].cells[0]
    assert cell.text == "Henry\ncavill"
    assert len(cell.box.line_spans) == 2
    assert len(cell.box.char_idx) == 11  # every char of both lines


def test_sub_tolerance_baseline_jitter_groups_one_line():
    # y-centers 0.4 pt apart (< 0.5 absolute tolerance) stay one line;
    # 0.6 pt apart split — the ABSOLUTE tolerance, not height-relative
    tables = _one_cell_table()
    chars = _chars([("a", 60.0, 650.0), ("b", 66.0, 650.4)])
    fill_cell_text(tables, chars, CFG)
    assert tables[0].cells[0].text == "ab"

    tables = _one_cell_table()
    chars = _chars([("a", 60.0, 650.0), ("b", 66.0, 650.6)])
    fill_cell_text(tables, chars, CFG)
    # split into two lines, top-down: "b" sits 0.6 pt higher
    assert tables[0].cells[0].text == "b\na"
