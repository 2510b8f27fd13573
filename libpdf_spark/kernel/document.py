"""Whole-document extraction orchestrator.

The fixed dataflow DAG of the reference's ``extract.py:60-222``,
re-expressed over vectorized kernels, for ONE embedded document:

  parse payload → page prune (S3) → file meta (S4) → figures (F4/F5)
  → rects (J4) → ruled tables (grid + J5, F6) → page textboxes
  (F1/F3, char_margin/line_margin/word_margin grouping) → F7
  box-in-element filter → smart header/footer crop (A4, optional)
  → chapters (outline + fuzzy match J6) → paragraphs (W1) → merge +
  reading-order sort (O1) → chapter nesting + per-scope renumbering
  (A5) + uid paths (X10) → link scanning (J7/J9) + target resolution
  (J8) → extracted_text.

The page textboxes are the one stage that runs per batch, not per
document: :func:`lay_out_documents` decodes every document of an Arrow
batch (pages, meta, chars) and lays out all their pages together,
then :func:`extract_document` runs the rest of each document's DAG on
its entry. A document alone is a batch of one.

Runs inside a ``mapInPandas`` batch; pure Python+numpy, no Spark.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np

from libpdf_spark.config import ExtractConfig
from libpdf_spark.kernel import headers
from libpdf_spark.kernel.chapters import Chapter, build_outline, render_chapters
from libpdf_spark.kernel.elements import (
    Figure,
    Rect,
    attach_figure_text,
    extract_rects,
    filter_figures,
    remove_boxes_in_elements,
)
from libpdf_spark.kernel.layout import Box, CharArrays, boxes_for_page
from libpdf_spark.kernel.links import Link, resolve_target_uid, scan_box_links
from libpdf_spark.kernel.tables import (
    Table,
    detect_tables,
    drop_tables_in_figures,
    fill_cell_text,
)

PDF_DATE_RE = re.compile(
    r"^D:(\d{4})(\d{2})?(\d{2})?(\d{2})?(\d{2})?(\d{2})?"
    r"(?:([+\-Z])(\d{2})?'?(\d{2})?'?)?"
)


def parse_pdf_date(raw: str | None) -> str | None:
    """PDF date string → ISO-8601 (X5, ``extract.py:505-542``)."""
    if not raw:
        return None
    m = PDF_DATE_RE.match(raw.strip())
    if not m:
        return None
    y, mo, d, h, mi, s, tzs, tzh, tzm = m.groups()
    iso = f"{y}-{mo or '01'}-{d or '01'}T{h or '00'}:{mi or '00'}:{s or '00'}"
    if tzs in ("+", "-"):
        iso += f"{tzs}{tzh or '00'}:{tzm or '00'}"
    elif tzs == "Z":
        iso += "+00:00"
    return iso


@dataclass
class DocElement:
    kind: str           # chapter | paragraph | table | cell | figure | rect
    page: int
    x0: float
    y0: float
    x1: float
    y1: float
    text: str = ""
    number: str | None = None   # chapters
    row: int | None = None      # cells
    col: int | None = None
    fontname: str | None = None
    ncolor: tuple | None = None
    uid: str = ""
    idx: int = 0
    links: list[Link] = field(default_factory=list)
    # the element's text boxes (a chapter's matched heading boxes, a
    # paragraph's, cell's or rect's one box); links and words read these
    boxes: list[Box] = field(default_factory=list)
    table: Table | None = None   # tables only: the cells to expand
    outline_node: object = None  # chapters only
    children: list = field(default_factory=list)
    # word/line tree (cfg.keep_words; horizontal_box.py:50-147)
    words: list[dict] | None = None
    tlines: list[dict] | None = None

    @property
    def bbox(self):
        return (self.x0, self.y0, self.x1, self.y1)


@dataclass
class DocResult:
    meta: dict
    pages: list[dict]
    elements: list[DocElement]  # flat, document order, cells after their table
    extracted_text: str
    n_chars: int


def _requested_pages(doc_pages: list[dict], cfg: ExtractConfig) -> list[dict]:
    """Page-range pruning (S3, ``core.py:536-553``)."""
    if not cfg.pages:
        return doc_pages
    wanted = set(int(p) for p in cfg.pages)
    return [p for p in doc_pages if int(p["number"]) in wanted]


def _apply_smart_crop_objs(objs: list, n_pages: int, page_h: dict, cfg: ExtractConfig):
    if not objs:
        return objs
    pages = np.array([o.page for o in objs], dtype=np.int64)
    y0 = np.array([o.y0 for o in objs])
    y1 = np.array([o.y1 for o in objs])
    heights = np.array([page_h[o.page] for o in objs])
    keep = headers.smart_crop_mask(pages, y0, y1, heights, n_pages, cfg)
    return [o for o, k in zip(objs, keep) if k]


def _meta(doc: dict) -> dict:
    """File metadata (S4), dates as ISO-8601 (X5)."""
    meta_raw = doc.get("meta") or {}
    return {
        "author": meta_raw.get("author"),
        "title": meta_raw.get("title"),
        "subject": meta_raw.get("subject"),
        "creator": meta_raw.get("creator"),
        "producer": meta_raw.get("producer"),
        "keywords": meta_raw.get("keywords"),
        "creation_date": parse_pdf_date(meta_raw.get("creation_date")),
        "mod_date": parse_pdf_date(meta_raw.get("mod_date")),
        "trapped": meta_raw.get("trapped"),
    }


@dataclass
class DocLayout:
    """One document decoded and laid out: its wanted pages, metadata,
    chars and each page's text boxes — what :func:`extract_document`
    reads besides the rest of the payload."""

    pages: list[dict]
    page_dims: dict[int, tuple[float, float]]
    meta: dict
    chars: CharArrays
    page_boxes: dict[int, list[Box]]


def lay_out_documents(docs: list[dict], cfg: ExtractConfig) -> list[DocLayout | Exception]:
    """Decode every document of a batch — page prune (S3), file meta
    (S4), chars — then lay out every page of all of them in one
    :func:`boxes_for_page` call (S1/F1/F3 + grouping). A document that
    fails to decode is its own exception in the result. If the call
    raises, each document is laid out alone, so a bad document ends as
    its own exception and every other one as it would alone."""
    decoded: list = []
    for doc in docs:
        try:
            pages = _requested_pages(doc.get("pages", []), cfg)
            dims = {int(p["number"]): (float(p["width"]), float(p["height"])) for p in pages}
            meta = _meta(doc)
            chars, bounds = CharArrays.from_payload(doc.get("chars")).keep_pages(sorted(dims))
            decoded.append((DocLayout(pages, dims, meta, chars, {}), bounds))
        except Exception as exc:  # noqa: BLE001 — per-document isolation
            decoded.append((exc, None))
    ok = [(d, bounds) for d, bounds in decoded if bounds is not None]
    try:
        laid = boxes_for_page(
            [(d.chars, bounds, [d.page_dims[p] for p in sorted(d.page_dims)]) for d, bounds in ok],
            cfg,
        )
    except Exception as exc:  # noqa: BLE001 — rerun alone to find the bad one
        if len(docs) == 1:
            return [exc]
        return [lay_out_documents([doc], cfg)[0] for doc in docs]
    for (d, _), boxes in zip(ok, laid):
        d.page_boxes = dict(zip(sorted(d.page_dims), boxes))
    return [d for d, _ in decoded]


def extract_document(
    doc: dict, cfg: ExtractConfig, layout: DocLayout | Exception | None = None
) -> DocResult:
    """Run the full extraction DAG on one parsed payload. ``layout`` is
    the document's entry of :func:`lay_out_documents` over the batch it
    came in (an exception there is raised here); without one, the
    document is laid out as a batch of one."""
    if layout is None:
        (layout,) = lay_out_documents([doc], cfg)
    if isinstance(layout, Exception):
        raise layout
    pages, page_dims, chars = layout.pages, layout.page_dims, layout.chars
    page_h = {n: wh[1] for n, wh in page_dims.items()}
    n_pages = len(pages)
    page_numbers = sorted(page_dims)

    # Smart header/footer crop (A4) runs per element kind immediately
    # after that kind's extraction, exactly like the reference's ×4
    # call sites (extract.py:153,163,175,188) — in particular, figures/
    # tables are cropped BEFORE the F7 textbox filter consults them,
    # and paragraphs are cropped only AFTER chapter matching consumed
    # its boxes (chapter headings are immune to the crop).

    # --- figures (F4, F5) ---
    figures: list[Figure] = []
    if not cfg.no_figures:
        figures = filter_figures(
            [f for f in doc.get("figures", []) if int(f["page"]) in page_dims], cfg
        )
        if cfg.smart_page_crop:
            figures = _apply_smart_crop_objs(figures, n_pages, page_h, cfg)

    # --- rects (J4) ---
    rects: list[Rect] = []
    if not cfg.no_rects:
        rects = extract_rects(
            [r for r in doc.get("rects", []) if int(r["page"]) in page_dims],
            chars,
            cfg,
        )
        if cfg.smart_page_crop:
            rects = _apply_smart_crop_objs(rects, n_pages, page_h, cfg)

    # --- ruled tables (grid + F6 + J5) ---
    tables: list[Table] = []
    if not cfg.no_tables:
        lines_by_page: dict[int, list[dict]] = {}
        for ln in doc.get("lines", []):
            lines_by_page.setdefault(int(ln["page"]), []).append(ln)
        for pno in page_numbers:
            tables.extend(detect_tables(lines_by_page.get(pno, []), pno, cfg))
        tables = drop_tables_in_figures(tables, figures, cfg.table_figure_margin)
        fill_cell_text(tables, chars, cfg)
        if cfg.smart_page_crop:
            tables = _apply_smart_crop_objs(tables, n_pages, page_h, cfg)

    # --- page textboxes: laid out with the batch (lay_out_documents) ---
    page_boxes = dict(layout.page_boxes)

    # figure text from boxes fully inside (J3) — before F7 removal
    attach_figure_text(figures, page_boxes)

    # F7: drop boxes inside table/figure bboxes (margin TABLE_MARGIN)
    element_bboxes: dict[int, list[tuple]] = {}
    for el in (*tables, *figures):
        element_bboxes.setdefault(el.page, []).append(el.bbox)
    for pno in page_numbers:
        page_boxes[pno] = remove_boxes_in_elements(
            page_boxes[pno], element_bboxes.get(pno, []), cfg.table_margin
        )

    # --- chapters (S6/X2/X3 + J6) — consumes matched boxes ---
    chapters: list[Chapter] = []
    if not cfg.no_chapters:
        roots = build_outline(doc.get("outline", []), cfg)
        chapters = render_chapters(roots, page_boxes, page_dims, cfg)

    # --- smart crop of the remaining (paragraph) boxes — AFTER the
    # chapter matching, so headings can't be eaten by the crop ---
    if cfg.smart_page_crop:
        flat_boxes = [b for pno in page_numbers for b in page_boxes[pno]]
        kept = set(
            id(b)
            for b in _apply_smart_crop_objs(flat_boxes, n_pages, page_h, cfg)
        )
        for pno in page_numbers:
            page_boxes[pno] = [b for b in page_boxes[pno] if id(b) in kept]

    # --- elements in document order (O1: page, top-down) ---
    elements: list[DocElement] = []
    # merge order matches the reference for stable-sort tie parity:
    # figures, tables, paragraphs, chapters, rects (extract.py:190-192)
    for f in figures:
        elements.append(
            DocElement(
                kind="figure", page=f.page,
                x0=f.x0, y0=f.y0, x1=f.x1, y1=f.y1, text=f.text,
            )
        )
    for t in tables:
        elements.append(
            DocElement(
                kind="table", page=t.page,
                x0=t.x0, y0=t.y0, x1=t.x1, y1=t.y1, table=t,
            )
        )
    if not cfg.no_paragraphs:
        for pno in page_numbers:
            for b in page_boxes[pno]:
                elements.append(
                    DocElement(
                        kind="paragraph", page=pno,
                        x0=b.x0, y0=b.y0, x1=b.x1, y1=b.y1,
                        text=b.text, fontname=b.fontname, ncolor=b.ncolor,
                        boxes=[b],
                    )
                )
    for ch in chapters:
        elements.append(
            DocElement(
                kind="chapter", page=ch.page,
                x0=ch.x0, y0=ch.y0, x1=ch.x1, y1=ch.y1,
                text=ch.text, number=ch.number,
                outline_node=ch.outline,
                boxes=ch.boxes,
            )
        )
    for r in rects:
        elements.append(
            DocElement(
                kind="rect", page=r.page,
                x0=r.x0, y0=r.y0, x1=r.x1, y1=r.y1, text=r.text,
                ncolor=r.non_stroking_color,
                boxes=[r.textbox] if r.textbox is not None else [],
            )
        )

    # reading-order sort: (page, page_height - y0) — process.py:202-207;
    # Python's stable sort preserves the merge order on exact y0 ties,
    # like the reference's list.sort
    elements.sort(key=lambda e: (e.page, page_h.get(e.page, 0.0) - e.y0))

    # --- chapter nesting + per-scope renumbering (A5) + uids (X10) ---
    ordered = _assign_uids(elements)

    # --- expand table cells as child elements ---
    final: list[DocElement] = []
    for el in ordered:
        final.append(el)
        if el.table is not None:
            t = el.table
            for c in t.cells:
                cell_el = DocElement(
                    kind="cell", page=t.page,
                    x0=c.x0, y0=c.y0, x1=c.x1, y1=c.y1,
                    text=c.text, row=c.row, col=c.col,
                    uid=f"{el.uid}/cell.{c.row}.{c.col}",
                    boxes=[c.box] if c.box is not None else [],
                )
                final.append(cell_el)

    # --- word/line tree with per-level attr lift (cfg.keep_words) ---
    if cfg.keep_words:
        from libpdf_spark.kernel.layout import box_words_lines

        for el in final:
            if not el.boxes:
                continue
            el.words, el.tlines = [], []
            for b in el.boxes:
                ws, ls = box_words_lines(chars, b)
                base = len(el.tlines)
                for w in ws:
                    w["line"] += base
                el.words.extend(ws)
                el.tlines.extend(ls)

    # --- links: scan sources (J7) then resolve targets (J8) ---
    annos_by_page: dict[int, list[dict]] = {}
    if not cfg.no_annotations:
        for a in doc.get("annos", []):
            annos_by_page.setdefault(int(a["page"]), []).append(a)
    dests = doc.get("dests", {}) or {}
    if annos_by_page:
        all_links: list[Link] = []
        for el in final:
            for b in el.boxes:
                el.links.extend(
                    scan_box_links(b, annos_by_page.get(el.page, []), dests, chars, cfg)
                )
            all_links.extend(el.links)
        resolve_target_uid(all_links, final, cfg)

    # --- per-turn extracted text: main content in document order ---
    content_parts = [
        el.text for el in final if el.kind in ("chapter", "paragraph") and el.text
    ]
    extracted_text = "\n\n".join(content_parts)

    return DocResult(
        meta=layout.meta,
        pages=[
            {"number": n, "width": page_dims[n][0], "height": page_dims[n][1]}
            for n in page_numbers
        ],
        elements=final,
        extracted_text=extracted_text,
        n_chars=len(chars),
    )


def _assign_uids(elements: list[DocElement]) -> list[DocElement]:
    """Nest elements under chapters and assign uids.

    Chapters nest by their outline parent chain; every non-chapter
    element belongs to the most recent chapter in document order
    (``process.py:223-394`` map_elements_outline +
    ``process.py:297-332`` fill_elements_content). ``idx`` counters
    restart per scope and kind (``process.py:308-317``); uid is the
    "/"-joined chapter path (``models/element.py:62-81``).
    """
    chapter_stack: list[DocElement] = []
    counters: dict[tuple[str, str], int] = {}
    out: list[DocElement] = []

    for el in elements:
        if el.kind == "chapter":
            node = el.outline_node
            # pop to this chapter's outline parent
            ancestors = set()
            p = node.parent if node else None
            while p is not None:
                ancestors.add(id(p))
                p = p.parent
            while chapter_stack and id(chapter_stack[-1].outline_node) not in ancestors:
                chapter_stack.pop()
            prefix = chapter_stack[-1].uid + "/" if chapter_stack else ""
            el.uid = f"{prefix}chapter.{el.number}"
            chapter_stack.append(el)
            out.append(el)
            continue
        scope = chapter_stack[-1].uid if chapter_stack else ""
        key = (scope, el.kind)
        counters[key] = counters.get(key, 0) + 1
        el.idx = counters[key]
        prefix = scope + "/" if scope else ""
        el.uid = f"{prefix}{el.kind}.{el.idx}"
        out.append(el)
    return out
