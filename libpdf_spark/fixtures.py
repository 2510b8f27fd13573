"""Deterministic synthetic fixtures with ground truth by construction.

Mirrors the reference's fixture corpus (FIXTURES.md §3,
``/root/reference/tests/conftest.py:16-37``) as generated layout
payloads: every fixture family places chars/lines/figures/rects on a
monospace grid whose expected extraction output is computed from the
PLACEMENT SPEC (not by running the engine), so per-turn text equality
is a real oracle.

Grid model: char width 6 pt, char height 10 pt, intra-paragraph line
pitch 13 pt (3 pt gap < line_margin·h = 4), paragraph gap >= 26 pt,
page US-Letter 612×792.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from libpdf_spark.payload import embed

CHAR_W = 6.0
CHAR_H = 10.0
LINE_PITCH = 13.0
PAGE_W = 612.0
PAGE_H = 792.0


def _norm_text(lines: list[str]) -> str:
    """Expected assembled text: words joined by single spaces, lines
    joined by newline (horizontal_box.py join semantics)."""
    return "\n".join(" ".join(l.split()) for l in lines)


@dataclass
class _Item:
    kind: str                   # paragraph | chapter | table | figure | rect
    page: int
    x0: float
    y0: float
    x1: float
    y1: float
    text: str = ""
    number: str | None = None
    cells: list = field(default_factory=list)   # (row, col, bbox, text)
    links: list = field(default_factory=list)   # (idx_start, idx_stop, target)
    outline_level: int = 0      # chapters


class DocBuilder:
    """Compose one synthetic document + its expected extraction."""

    def __init__(self, n_pages: int = 1, title: str | None = None):
        self.pages = [
            {"number": i + 1, "width": PAGE_W, "height": PAGE_H}
            for i in range(n_pages)
        ]
        self.chars: list[dict] = []
        self.lines: list[dict] = []
        self.figures: list[dict] = []
        self.rects: list[dict] = []
        self.outline: list[dict] = []
        self.annos: list[dict] = []
        self.dests: dict[str, dict] = {}
        self.meta = {"title": title} if title else {}
        self.items: list[_Item] = []          # placement order == document order
        self._expected_headers: list[_Item] = []   # removed under smart crop

    # ---- char rendering -------------------------------------------------
    def _render_lines(
        self,
        page: int,
        x0: float,
        y_top: float,
        lines: list[str],
        font: str = "Mono",
        color=(0.0, 0.0, 0.0),
    ) -> tuple[float, float, float, float]:
        """Place monospace chars; returns the tight bbox."""
        max_w = 0.0
        y1 = y_top
        y = y_top - CHAR_H
        for li, line in enumerate(lines):
            x = x0
            for ch in line:
                if ch == " ":
                    x += CHAR_W
                    continue
                self.chars.append(
                    dict(
                        page=page, text=ch,
                        x0=x, y0=y, x1=x + CHAR_W, y1=y + CHAR_H,
                        fontname=font, ncolor=list(color),
                    )
                )
                x += CHAR_W
            max_w = max(max_w, x - x0)
            y -= LINE_PITCH
        y0 = y + LINE_PITCH  # bottom of last line
        return (x0, y0, x0 + max_w, y1)

    # ---- public element placement ---------------------------------------
    def add_paragraph(
        self, page: int, x0: float, y_top: float, lines: list[str],
        font: str = "Mono", color=(0.0, 0.0, 0.0), is_header_footer: bool = False,
    ) -> _Item:
        bbox = self._render_lines(page, x0, y_top, lines, font, color)
        item = _Item("paragraph", page, *bbox, text=_norm_text(lines))
        self.items.append(item)
        if is_header_footer:
            self._expected_headers.append(item)
        return item

    def add_chapter(
        self,
        page: int,
        x0: float,
        y_top: float,
        title: str,
        number: str | None = None,
        level: int = 1,
        ghost: bool = False,
        dest_name: str | None = None,
    ) -> _Item:
        """Outline entry + (unless ghost) a heading textbox at the dest.

        With ``number``, the outline title is "<number> <title>" and the
        on-page heading shows the same content → 100% content match.
        Without, the chapter gets a virtual number (virt.…) and matches
        on title alone.
        """
        outline_title = f"{number} {title}" if number else title
        dest = {"page": page, "x": x0, "y": y_top}
        self.outline.append(
            {"title": outline_title, "level": level, "dest": dest}
        )
        if dest_name:
            self.dests[dest_name] = dest
        if ghost:
            ext = 20.0
            item = _Item(
                "chapter", page,
                x0, max(y_top - ext, 0.0), min(x0 + ext, PAGE_W), y_top,
                text="", number=number or "", outline_level=level,
            )
            item.ghost = True  # type: ignore[attr-defined]
            self.items.append(item)
            return item
        bbox = self._render_lines(page, x0, y_top, [outline_title])
        item = _Item(
            "chapter", page, *bbox,
            text=_norm_text([outline_title]),
            number=number or "", outline_level=level,
        )
        self.items.append(item)
        return item

    def add_table(
        self,
        page: int,
        x0: float,
        y_top: float,
        cell_texts: list[list[str | None]],
        col_w: float = 90.0,
        row_h: float = 26.0,
        merges: set | None = None,
    ) -> _Item:
        """Ruled table. ``cell_texts[r][c]`` = text (None for a slot
        covered by a merge). ``merges`` = {(row, col, rowspan, colspan)}
        with 1-based row/col of the top-left slot."""
        merges = merges or set()
        n_rows = len(cell_texts)
        n_cols = len(cell_texts[0])
        covered = set()
        spans = {}
        for (r, c, rs, cs) in merges:
            spans[(r, c)] = (rs, cs)
            for rr in range(r, r + rs):
                for cc in range(c, c + cs):
                    if (rr, cc) != (r, c):
                        covered.add((rr, cc))

        xs = [x0 + i * col_w for i in range(n_cols + 1)]
        ys = [y_top - i * row_h for i in range(n_rows + 1)]

        def v_interior(i: int, r: int) -> bool:
            # vertical boundary xs[i] (after 1-based col i), crossing
            # 1-based row r+1 — interior to a merge?
            return any(
                mr <= r + 1 <= mr + rs - 1 and mc <= i <= mc + cs - 2
                for (mr, mc), (rs, cs) in spans.items()
            )

        def h_interior(j: int, c: int) -> bool:
            # horizontal boundary ys[j] (below 1-based row j), crossing
            # 1-based col c+1 — interior to a merge?
            return any(
                mc <= c + 1 <= mc + cs - 1 and mr <= j <= mr + rs - 2
                for (mr, mc), (rs, cs) in spans.items()
            )

        for i, x in enumerate(xs):
            segs = [r for r in range(n_rows) if not v_interior(i, r)]
            for grp in _consecutive_groups(segs):
                self.lines.append(
                    dict(page=page, x0=x, x1=x, y0=ys[grp[-1] + 1], y1=ys[grp[0]])
                )
        for j, y in enumerate(ys):
            segs = [c for c in range(n_cols) if not h_interior(j, c)]
            for grp in _consecutive_groups(segs):
                self.lines.append(
                    dict(page=page, x0=xs[grp[0]], x1=xs[grp[-1] + 1], y0=y, y1=y)
                )

        cells = []
        for r in range(n_rows):
            for c in range(n_cols):
                if (r + 1, c + 1) in covered:
                    continue
                txt = cell_texts[r][c]
                if txt is None:
                    continue
                rs, cs = spans.get((r + 1, c + 1), (1, 1))
                bbox = (
                    xs[c], ys[r + rs], xs[c + cs], ys[r],
                )
                tlines = txt.split("\n")
                if txt:
                    self._render_lines(page, bbox[0] + 7, bbox[3] - 7, tlines)
                cells.append((r + 1, c + 1, bbox, _norm_text(tlines) if txt else ""))

        item = _Item(
            "table", page,
            xs[0], ys[-1], xs[-1], ys[0],
            cells=cells,
        )
        self.items.append(item)
        return item

    def add_figure(
        self, page: int, bbox: tuple, caption_lines: list[str] | None = None
    ) -> _Item:
        self.figures.append(
            dict(page=page, x0=bbox[0], y0=bbox[1], x1=bbox[2], y1=bbox[3])
        )
        text = ""
        if caption_lines:
            self._render_lines(page, bbox[0] + 10, bbox[3] - 10, caption_lines)
            text = _norm_text(caption_lines)
        item = _Item(
            "figure", page,
            max(0.0, bbox[0]), max(0.0, bbox[1]),
            max(0.0, bbox[2]), max(0.0, bbox[3]),
            text=text,
        )
        self.items.append(item)
        return item

    def add_raw_figure(self, page: int, bbox: tuple) -> None:
        """A figure that the sanity/dedup filters are expected to DROP."""
        self.figures.append(
            dict(page=page, x0=bbox[0], y0=bbox[1], x1=bbox[2], y1=bbox[3])
        )

    def add_rect(
        self, page: int, bbox: tuple, color=(0.9, 0.9, 0.5),
        text_lines: list[str] | None = None,
    ) -> tuple[_Item, _Item | None]:
        """Colored rect; its text chars ALSO form a paragraph (the
        reference's F7 removes boxes only inside tables/figures)."""
        self.rects.append(
            dict(
                page=page, x0=bbox[0], y0=bbox[1], x1=bbox[2], y1=bbox[3],
                non_stroking_color=list(color),
            )
        )
        para_item = None
        text = ""
        if text_lines:
            para_item = self.add_paragraph(
                page, bbox[0] + 10, bbox[3] - 10, text_lines
            )
            text = _norm_text(text_lines)
        item = _Item("rect", page, *bbox, text=text)
        item.color = tuple(color)  # type: ignore[attr-defined]
        self.items.append(item)
        return item, para_item

    def add_link(
        self,
        para: _Item,
        line_no: int,
        word_range: tuple[int, int],
        dest: dict | None = None,
        dest_name: str | None = None,
    ) -> tuple[int, int]:
        """Annotate words [a, b) of line ``line_no`` of a paragraph.

        Emits an anno rect tightly around those words (+1 pt) and
        records the expected (idx_start, idx_stop) char-slice into the
        paragraph's assembled text.
        """
        lines = para.text.split("\n")
        line = lines[line_no]
        words = line.split(" ")
        a, b = word_range
        prefix = " ".join(words[:a])
        span = " ".join(words[a:b])
        idx_start = len("\n".join(lines[:line_no])) + (1 if line_no else 0)
        idx_start += len(prefix) + (1 if prefix else 0)
        idx_stop = idx_start + len(span)

        # geometry: chars of that span on the rendered grid
        x_line = para.x0 + (len(prefix) + (1 if prefix else 0)) * CHAR_W
        width = len(span) * CHAR_W
        y_top = para.y1 - line_no * LINE_PITCH
        rect = [x_line - 1, y_top - CHAR_H - 1, x_line + width + 1, y_top + 1]
        anno = {"page": para.page, "rect": rect}
        if dest:
            anno["dest"] = dest
        if dest_name:
            anno["dest_name"] = dest_name
        self.annos.append(anno)
        return idx_start, idx_stop

    # ---- expected output --------------------------------------------------
    def expected_elements(self, smart_crop: bool = False) -> list[dict]:
        """Expected element rows (uid/kind/bbox/text), computed from
        the placement spec by walking items in document order and
        applying the uid/renumbering rules of SURVEY §2 A5/X10."""
        removed = set(id(i) for i in self._expected_headers) if smart_crop else set()
        chapter_stack: list[tuple[int, str]] = []  # (outline_level, uid)
        counters: dict[tuple[str, str], int] = {}
        rows: list[dict] = []
        ordered = sorted(self.items, key=lambda it: (it.page, PAGE_H - it.y0))
        for it in ordered:
            if id(it) in removed:
                continue
            if it.kind == "chapter":
                while chapter_stack and chapter_stack[-1][0] >= it.outline_level:
                    chapter_stack.pop()
                prefix = chapter_stack[-1][1] + "/" if chapter_stack else ""
                number = it.number or self._virtual_number(it)
                uid = f"{prefix}chapter.{number}"
                chapter_stack.append((it.outline_level, uid))
                rows.append(self._row(it, uid, number=number))
                continue
            scope = chapter_stack[-1][1] if chapter_stack else ""
            key = (scope, it.kind)
            counters[key] = counters.get(key, 0) + 1
            prefix = scope + "/" if scope else ""
            uid = f"{prefix}{it.kind}.{counters[key]}"
            rows.append(self._row(it, uid))
            if it.kind == "table":
                for (r, c, bbox, txt) in it.cells:
                    rows.append(
                        {
                            "kind": "cell",
                            "uid": f"{uid}/cell.{r}.{c}",
                            "page": it.page,
                            "x0": bbox[0], "y0": bbox[1],
                            "x1": bbox[2], "y1": bbox[3],
                            "row": r, "col": c, "text": txt,
                        }
                    )
        return rows

    def _virtual_number(self, item: _Item) -> str:
        """Virtual number of a chapter item from outline positions."""
        # reconstruct positional path among chapter items
        path = []
        stack: list[tuple[int, int]] = []  # (level, sibling_idx)
        for it in self.items:
            if it.kind != "chapter":
                continue
            while stack and stack[-1][0] >= it.outline_level:
                stack.pop()
            depth = len(stack)
            sibling = 1
            # count previous siblings at same level under same stack depth
            # simple recount pass
            cnt = 0
            st2: list[int] = []
            for jt in self.items:
                if jt.kind != "chapter":
                    continue
                while st2 and st2[-1] >= jt.outline_level:
                    st2.pop()
                if len(st2) == depth and jt.outline_level == it.outline_level:
                    cnt += 1
                if jt is it:
                    sibling = cnt
                    break
                st2.append(jt.outline_level)
            stack.append((it.outline_level, sibling))
            if it is item:
                return "virt." + ".".join(str(s) for _, s in stack)
        return "virt.1"

    @staticmethod
    def _row(it: _Item, uid: str, number: str | None = None) -> dict:
        return {
            "kind": it.kind,
            "uid": uid,
            "page": it.page,
            "x0": it.x0, "y0": it.y0, "x1": it.x1, "y1": it.y1,
            "row": None, "col": None,
            "text": it.text,
            "links": list(it.links),
            **({"number": number} if number is not None else {}),
        }

    def expected_text(self, smart_crop: bool = False) -> str:
        removed = set(id(i) for i in self._expected_headers) if smart_crop else set()
        ordered = sorted(self.items, key=lambda it: (it.page, PAGE_H - it.y0))
        parts = [
            it.text
            for it in ordered
            if it.kind in ("chapter", "paragraph") and it.text and id(it) not in removed
        ]
        return "\n\n".join(parts)

    def build(self) -> dict:
        return {
            "meta": self.meta,
            "pages": self.pages,
            "chars": self.chars,
            "figures": self.figures,
            "rects": self.rects,
            "lines": self.lines,
            "outline": self.outline,
            "annos": self.annos,
            "dests": self.dests,
        }


def _consecutive_groups(idx: list[int]) -> list[list[int]]:
    groups: list[list[int]] = []
    for i in idx:
        if groups and i == groups[-1][-1] + 1:
            groups[-1].append(i)
        else:
            groups.append([i])
    return groups


# --------------------------------------------------------------------------
# fixture families (FIXTURES.md §3)
# --------------------------------------------------------------------------

LOREM = (
    "Lorem ipsum dolor sit amet consectetur adipiscing elit "
    "sed do eiusmod tempor incididunt ut labore et dolore magna aliqua"
).split()


def _wrap(words: list[str], per_line: int, n_lines: int, start: int = 0) -> list[str]:
    out = []
    i = start
    for _ in range(n_lines):
        out.append(" ".join(words[(i + k) % len(words)] for k in range(per_line)))
        i += per_line
    return out


def family_plain_paragraphs(seed: int = 0) -> DocBuilder:
    rng = random.Random(seed)
    b = DocBuilder(n_pages=2, title="lorem-ipsum")
    for page in (1, 2):
        y = 720.0
        for _ in range(rng.randint(3, 5)):
            n_lines = rng.randint(1, 4)
            b.add_paragraph(page, 72.0, y, _wrap(LOREM, rng.randint(3, 6), n_lines, rng.randrange(20)))
            y -= n_lines * LINE_PITCH + 26.0
    return b


def family_multi_column(seed: int = 0) -> DocBuilder:
    b = DocBuilder(n_pages=1, title="two-columns")
    # left column first (reading order), then right column
    y = 700.0
    b.add_paragraph(1, 50.0, y, _wrap(LOREM, 3, 3, 0))
    b.add_paragraph(1, 50.0, y - 3 * LINE_PITCH - 26, _wrap(LOREM, 3, 2, 5))
    b.add_paragraph(1, 330.0, y, _wrap(LOREM, 3, 3, 9))
    b.add_paragraph(1, 330.0, y - 3 * LINE_PITCH - 26, _wrap(LOREM, 3, 2, 13))
    # NOTE: expected document order is column-major; items were added
    # in that order already (left column top-down, then right column).
    return b


def family_nested_chapters(seed: int = 0) -> DocBuilder:
    b = DocBuilder(n_pages=2, title="nested-chapters")
    b.add_chapter(1, 72.0, 740.0, "Introduction", number="1", level=1)
    b.add_paragraph(1, 72.0, 700.0, _wrap(LOREM, 4, 2, 0))
    b.add_chapter(1, 72.0, 620.0, "Background", number="1.1", level=2)
    b.add_paragraph(1, 72.0, 580.0, _wrap(LOREM, 4, 2, 4))
    b.add_chapter(2, 72.0, 740.0, "Methods", number="2", level=1)
    b.add_paragraph(2, 72.0, 700.0, _wrap(LOREM, 4, 3, 8))
    b.add_chapter(2, 72.0, 600.0, "Details", number="2.1", level=2)
    b.add_paragraph(2, 72.0, 560.0, _wrap(LOREM, 4, 1, 12))
    return b


def family_virtual_chapters(seed: int = 0) -> DocBuilder:
    b = DocBuilder(n_pages=1, title="virt-chapters")
    b.add_chapter(1, 72.0, 740.0, "Overview", level=1)          # virt.1
    b.add_paragraph(1, 72.0, 700.0, _wrap(LOREM, 4, 2, 2))
    b.add_chapter(1, 72.0, 620.0, "Scope", level=2)             # virt.1.1
    b.add_paragraph(1, 72.0, 580.0, _wrap(LOREM, 4, 2, 6))
    return b


def family_split_heading(seed: int = 0) -> DocBuilder:
    """DS93 parity: the chapter number and title live in TWO separate
    textboxes (referee case ``textbox.py:492-508``), and a chapter
    whose window only holds dissimilar text falls back to a ghost.
    Mirrors ``tests/test_ds93_chapter.py:7-26`` ('3.5.4', '9.')."""
    b = DocBuilder(n_pages=2, title="split-heading")
    # page 1: "3.5.4" box and "Results" box, >char_margin apart so the
    # layout pass keeps them separate; outline carries "3.5.4 Results"
    b.outline.append(
        {"title": "3.5.4 Results", "level": 1,
         "dest": {"page": 1, "x": 72.0, "y": 740.0}}
    )
    nb = b._render_lines(1, 72.0, 740.0, ["3.5.4"])
    tb = b._render_lines(1, 160.0, 740.0, ["Results"])
    item = _Item(
        "chapter", 1,
        min(nb[0], tb[0]), min(nb[1], tb[1]),
        max(nb[2], tb[2]), max(nb[3], tb[3]),
        text="3.5.4\nResults", number="3.5.4", outline_level=1,
    )
    b.items.append(item)
    b.add_paragraph(1, 72.0, 700.0, _wrap(LOREM, 4, 2, 0))
    # page 2: outline "9. Conclusion" but the only nearby box is
    # dissimilar → ghost chapter; the box stays a paragraph
    b.outline.append(
        {"title": "9. Conclusion", "level": 1,
         "dest": {"page": 2, "x": 72.0, "y": 700.0}}
    )
    ghost = _Item(
        "chapter", 2,
        72.0, 700.0 - 20.0, 72.0 + 20.0, 700.0,
        text="", number="9.", outline_level=1,
    )
    b.items.append(ghost)
    b.add_paragraph(2, 72.0, 660.0, ["totally unrelated body text"])
    return b


def family_ghost_chapter(seed: int = 0) -> DocBuilder:
    b = DocBuilder(n_pages=1, title="ghost-chapter")
    b.add_chapter(1, 72.0, 740.0, "Visible", number="1", level=1)
    b.add_paragraph(1, 72.0, 700.0, _wrap(LOREM, 4, 2, 0))
    # outline points at empty space → ghost chapter (textbox.py:267-295)
    b.add_chapter(1, 72.0, 400.0, "Phantom", number="2", level=1, ghost=True)
    b.add_paragraph(1, 72.0, 360.0, _wrap(LOREM, 4, 2, 4))
    return b


def family_ruled_tables(seed: int = 0) -> DocBuilder:
    b = DocBuilder(n_pages=1, title="ruled-tables")
    b.add_paragraph(1, 72.0, 740.0, ["Table below"])
    b.add_table(
        1, 72.0, 700.0,
        [
            ["name", "actor", "films"],
            ["some", "Henry\ncavill", "3"],
            ["other", "Amy adams", "5"],
        ],
        row_h=34.0,  # room for the two-line cell within the crop offset
    )
    return b


def family_merged_cells(seed: int = 0) -> DocBuilder:
    b = DocBuilder(n_pages=1, title="merged-cells")
    b.add_table(
        1, 72.0, 700.0,
        [
            ["span", None, "c"],
            ["a", "b", "d"],
        ],
        merges={(1, 1, 1, 2)},
    )
    return b


def family_figures_filtering(seed: int = 0) -> DocBuilder:
    b = DocBuilder(n_pages=1, title="figures")
    b.add_figure(1, (72.0, 500.0, 300.0, 700.0), caption_lines=["Figure one caption"])
    b.add_raw_figure(1, (100.0, 550.0, 200.0, 650.0))   # fully contained → dropped
    b.add_raw_figure(1, (400.0, 600.0, 410.0, 610.0))   # 10×10 < 15×15 → dropped
    b.add_raw_figure(1, (-20.0, -20.0, -1.0, -1.0))     # clamps to 0-area → dropped
    b.add_figure(1, (320.0, 100.0, 560.0, 300.0))
    b.add_raw_figure(1, (330.0, 110.0, 520.0, 290.0))   # overlap, smaller → dropped
    return b


def family_rects_code(seed: int = 0) -> DocBuilder:
    b = DocBuilder(n_pages=1, title="rects")
    b.add_paragraph(1, 72.0, 740.0, ["Intro text"])
    b.add_rect(
        1, (72.0, 600.0, 400.0, 660.0), color=(0.9, 0.2, 0.2),
        text_lines=["warning admonition body"],
    )
    b.add_rect(1, (72.0, 500.0, 400.0, 540.0), color=(0.2, 0.9, 0.2),
               text_lines=["note body"])
    return b


def family_word_colors(seed: int = 0) -> DocBuilder:
    b = DocBuilder(n_pages=1, title="word-colors")
    b.add_paragraph(1, 72.0, 700.0, ["uniform font para"], font="Bold",
                    color=(1.0, 0.0, 0.0))
    b.add_paragraph(1, 72.0, 640.0, ["plain para"])
    return b


def family_header_footer(seed: int = 0) -> DocBuilder:
    b = DocBuilder(n_pages=4, title="header-footer")
    for page in range(1, 5):
        b.add_paragraph(page, 72.0, 780.0, ["Product Manual"], is_header_footer=True)
        # body y staggered per page so body text shares no y stratum
        # across pages (only true headers/footers repeat geometrically)
        y = 620.0 - (page - 1) * 7.0
        for k in range(3):
            b.add_paragraph(page, 72.0, y, _wrap(LOREM, 4, 2, page * 3 + k))
            y -= 2 * LINE_PITCH + 26.0 + k * 3.0
        b.add_paragraph(page, 72.0, 40.0, [f"Page {page} of 4"], is_header_footer=True)
    return b


def family_links(seed: int = 0) -> DocBuilder:
    b = DocBuilder(n_pages=2, title="links")
    ch = b.add_chapter(1, 72.0, 740.0, "Target Chapter", number="1", level=1,
                       dest_name="chap1")
    p1 = b.add_paragraph(1, 72.0, 680.0, ["click the link here to jump",
                                          "second line of paragraph"])
    # link on words 2..4 ("link here") of line 0, explicit dest → chapter pos
    s, e = b.add_link(p1, 0, (2, 4), dest={"page": 1, "x": 72.0, "y": 740.0})
    p1.links.append((s, e, "chapter.1"))
    # named destination link on line 1 words 0..2
    s2, e2 = b.add_link(p1, 1, (0, 2), dest_name="chap1")
    p1.links.append((s2, e2, "chapter.1"))
    # unresolvable target → page.N/X:Y form
    p2 = b.add_paragraph(2, 72.0, 700.0, ["dangling pointer text"])
    s3, e3 = b.add_link(p2, 0, (0, 1), dest={"page": 2, "x": 9.0, "y": 9.0})
    p2.links.append((s3, e3, "page.2/9.0:9.0"))
    return b


def family_catalog_edge(seed: int = 0) -> DocBuilder:
    b = DocBuilder(n_pages=1, title="catalog-edge")
    # outline entry without dest → skipped entirely
    b.outline.append({"title": "No Dest", "level": 1, "dest": None})
    b.add_paragraph(1, 72.0, 700.0, _wrap(LOREM, 4, 2, 0))
    return b


def family_full_features(seed: int = 0) -> DocBuilder:
    """The big one — chapters incl. virtual, table, figures, rects,
    links (mirrors full_features.pdf coverage)."""
    b = DocBuilder(n_pages=3, title="full-features")
    b.add_chapter(1, 72.0, 740.0, "Intro", number="1", level=1)
    p = b.add_paragraph(1, 72.0, 700.0, _wrap(LOREM, 4, 2, 0))
    b.add_chapter(1, 72.0, 600.0, "Data", number="2", level=1)
    b.add_paragraph(1, 72.0, 560.0, _wrap(LOREM, 4, 2, 4))
    b.add_chapter(1, 72.0, 480.0, "Detail", number="2.1", level=2)
    b.add_paragraph(1, 72.0, 440.0, _wrap(LOREM, 4, 1, 8))
    b.add_chapter(2, 72.0, 740.0, "Tables", number="3", level=1)
    tbl = b.add_table(
        2, 72.0, 700.0,
        [["h1", "h2"], ["v1", "v2"]],
    )
    # link inside cell row2/col1 ("v1") → chapter 1 (tables.py:177-187)
    cell_bbox = next(bb for (r, c, bb, _) in tbl.cells if (r, c) == (2, 1))
    cx, cy_top = cell_bbox[0] + 7, cell_bbox[3] - 7
    b.annos.append(
        {
            "page": 2,
            "rect": [cx - 1, cy_top - CHAR_H - 1, cx + 2 * CHAR_W + 1, cy_top + 1],
            "dest": {"page": 1, "x": 72.0, "y": 740.0},
        }
    )
    tbl.cell_links = {(2, 1): [(0, 2, "chapter.1")]}  # type: ignore[attr-defined]
    b.add_figure(2, (72.0, 300.0, 400.0, 500.0), caption_lines=["figure caption"])
    b.add_chapter(3, 72.0, 740.0, "Extras", level=1)  # virt number
    b.add_rect(3, (72.0, 600.0, 400.0, 660.0), text_lines=["rect content"])
    s, e = b.add_link(p, 0, (0, 2), dest={"page": 2, "x": 72.0, "y": 740.0})
    p.links.append((s, e, "chapter.3"))
    return b


# --------------------------------------------------------------------------
# transcript corpus generation (input_hint shape)
# --------------------------------------------------------------------------


def _pdf_variant(pdf_seq: int) -> int:
    """Serialization-variant index for the ``pdf_seq``-th PDF-embedded
    turn of a corpus.

    Round 4 derived the variant from ``(ci*3 + ti) % 6``, but PDF
    embedding is gated on ``(ci + ti) % 2 == 0`` — which forces
    ``3ci + ti`` even, so variants 1/3/5 (FlateDecode-only, AES, the
    second compress slot) were unreachable and no corpus ever contained
    an AES-encrypted PDF (ADVICE r4). Arithmetic in ``(ci, ti)`` keeps
    aliasing with the gate and the ``doc_every`` stride (embedded turns
    step ``ti`` by 6, collapsing any linear form to 2 residues mod 6),
    so the rotation is now a plain per-corpus counter: every corpus
    with ≥ 10 embedded PDFs provably carries all ten variants
    (r5 added the UniJIS-UCS2-H and 90ms-RKSJ-H predefined-CMap
    serializations alongside Identity-H and the three encryptions;
    r6 added the embedded-CMap-stream /Encoding shape and the
    form-wrapped page-content shape).
    """
    return pdf_seq % 10


def doc_from_text(text: str, per_line: int = 8, lines_per_para: int = 4) -> DocBuilder:
    """Wrap arbitrary text into a single-column layout document.

    Deterministic: words flow onto a monospace grid, ``lines_per_para``
    lines per paragraph, new pages as needed. Used to turn the driver's
    ``documents`` table into document-bearing turns for ``entry()`` and
    the bench harness.
    """
    words = text.split()
    if not words:
        words = ["empty"]
    lines: list[str] = []
    for i in range(0, len(words), per_line):
        lines.append(" ".join(words[i : i + per_line]))
    paras = [
        lines[i : i + lines_per_para] for i in range(0, len(lines), lines_per_para)
    ]
    paras_per_page = 5
    n_pages = max(1, (len(paras) + paras_per_page - 1) // paras_per_page)
    b = DocBuilder(n_pages=n_pages)
    for pi, para in enumerate(paras):
        page = pi // paras_per_page + 1
        slot = pi % paras_per_page
        y = 740.0 - slot * (lines_per_para * LINE_PITCH + 26.0)
        b.add_paragraph(page, 72.0, y, para)
    return b


def gen_transcripts(
    n_convs: int = 20,
    seed: int = 42,
    doc_every: int = 3,
    zipf_a: float = 1.8,
    max_turns: int = 40,
):
    """Deterministic transcript corpus matching ``input_hint`` exactly:
    ``(conv_id string, turn_idx int32, role string, text string,
    tool string, ts timestamp)``.

    Conversation lengths are Zipf-skewed (to exercise salting); every
    ``doc_every``-th turn embeds a fixture-family document; families
    cycle deterministically. Returns
    ``(transcripts_df, expected_text_df, expected_elements_df)`` as
    pandas DataFrames.
    """
    import pandas as pd

    rng = random.Random(seed)
    fam_names = sorted(FAMILIES)
    rows = []
    exp_text = []
    exp_elem = []
    base_ts = pd.Timestamp("2026-01-01 00:00:00")
    pdf_seq = 0  # deterministic per-corpus counter driving _pdf_variant
    for ci in range(n_convs):
        conv_id = f"conv-{seed}-{ci:05d}"
        # Zipf-ish length: heavy head, long tail
        r = rng.random()
        n_turns = max(2, min(max_turns, int((1.0 / (r + 0.02)) ** (1.0 / zipf_a) * 4)))
        for ti in range(n_turns):
            role = ("user", "assistant", "tool")[ti % 3]
            ts = base_ts + pd.Timedelta(minutes=ci * 1000 + ti)
            if ti % doc_every == doc_every - 1:
                fam = fam_names[(ci * 7 + ti) % len(fam_names)]
                builder = FAMILIES[fam](seed=seed + ci)
                # the corpus-level pipeline runs the DEFAULT config
                # (smart_page_crop off, like the reference CLI default);
                # smart-crop behavior is covered by the kernel tests
                smart = False
                doc = builder.build()
                if (ci + ti) % 2 == 0:
                    # real PDF byte-stream embedding (same ground truth);
                    # the ten serialization variants rotate
                    # deterministically (see _pdf_variant) so the corpus
                    # carries the real-world mix: plain, FlateDecode,
                    # RC4/AES-128/AES-256-encrypted (empty password),
                    # Identity-H, UniJIS-UCS2-H, 90ms-RKSJ-H and
                    # embedded-CMap CID fonts, and form-wrapped pages
                    from libpdf_spark.payload import embed_pdf
                    from libpdf_spark.pdfwrite import write_pdf

                    variant = _pdf_variant(pdf_seq)
                    pdf_seq += 1
                    pdf_kw = (
                        {}, {"compress": True},
                        {"encrypt": "rc4"},
                        {"compress": True, "encrypt": "aes"},
                        {"compress": True, "cid_font": True},
                        {"compress": True, "encrypt": "aes256"},
                        {"compress": True, "cid_font": "ucs2"},
                        {"compress": True, "cid_font": "rksj"},
                        {"compress": True, "cid_font": "embedded"},
                        # maximal composition: nested-form pages
                        # whose form content is AES-encrypted and
                        # CID-encoded — three parser layers in one
                        # serialization
                        {"compress": True, "encrypt": "aes",
                         "cid_font": True, "form_wrap": True},
                    )[variant]
                    body = embed_pdf(
                        write_pdf(doc, **pdf_kw),
                        prefix=f"turn {ti} of {conv_id} attaches a pdf: ",
                    )
                else:
                    body = embed(
                        doc,
                        prefix=f"turn {ti} of {conv_id} carries a document: ",
                        suffix=" (end of document)",
                    )
                rows.append((conv_id, ti, role, body, "document_reader", ts))
                exp_text.append(
                    (conv_id, ti, builder.expected_text(smart_crop=smart), fam)
                )
                for er in builder.expected_elements(smart_crop=smart):
                    exp_elem.append(
                        (
                            conv_id, ti, er["uid"], er["kind"], er["page"],
                            er["x0"], er["y0"], er["x1"], er["y1"],
                            er.get("row"), er.get("col"), er["text"],
                        )
                    )
            else:
                rows.append(
                    (
                        conv_id, ti, role,
                        f"plain chatter turn {ti} with no embedded document",
                        "search" if role == "tool" else None,
                        ts,
                    )
                )
    transcripts = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    transcripts["turn_idx"] = transcripts["turn_idx"].astype("int32")
    expected_text = pd.DataFrame(
        exp_text, columns=["conv_id", "turn_idx", "extracted_text", "family"]
    )
    expected_elements = pd.DataFrame(
        exp_elem,
        columns=[
            "conv_id", "turn_idx", "uid", "kind", "page",
            "x0", "y0", "x1", "y1", "row", "col", "text",
        ],
    )
    return transcripts, expected_text, expected_elements


FAMILIES = {
    "plain_paragraphs": family_plain_paragraphs,
    "multi_column": family_multi_column,
    "nested_chapters": family_nested_chapters,
    "virtual_chapters": family_virtual_chapters,
    "ghost_chapter": family_ghost_chapter,
    "split_heading": family_split_heading,
    "ruled_tables": family_ruled_tables,
    "merged_cells": family_merged_cells,
    "figures_filtering": family_figures_filtering,
    "rects_code": family_rects_code,
    "word_colors": family_word_colors,
    "header_footer": family_header_footer,
    "links": family_links,
    "catalog_edge": family_catalog_edge,
    "full_features": family_full_features,
}
