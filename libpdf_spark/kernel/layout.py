"""Geometric layout analysis: chars → words → lines → boxes.

Re-implements, vectorized, the grouping pdfminer performs for the
reference (LA_PARAMS ``parameters.py:220-228``: line_overlap 0.5,
char_margin 6.0, line_margin 0.4, word_margin 0.1) plus the
reference's own custom regrouping
(``utils.py:585-631`` assemble_to_lt_textlines — new line when the
vertical char-center deviates by >= y_tolerance) and its text-assembly
joins (``models/horizontal_box.py:93-200``: chars join "" → word,
words join " " → line, lines join "\\n" → box).

The input is a struct-of-arrays over one document's chars; the output
is a list of :class:`Box` (the LTTextBoxHorizontal equivalent) with
per-char text offsets retained for link-index computation
(``textbox.py:670-795``).
"""

from __future__ import annotations

from bisect import bisect_left
from dataclasses import dataclass, field, fields

import numpy as np

from libpdf_spark.config import ExtractConfig
from libpdf_spark.payload import decode_chars


@dataclass
class CharArrays:
    """Struct-of-arrays view of a document's chars (one page or all),
    in page order: each page's chars are one contiguous run, found by
    :meth:`page_span`, in the order the input gave them."""

    page: np.ndarray    # int32
    text: np.ndarray    # object (str), or <U1 from packed payloads
    x0: np.ndarray
    y0: np.ndarray
    x1: np.ndarray
    y1: np.ndarray
    fontname: np.ndarray  # object (str | None)
    ncolor: np.ndarray    # object (tuple | None)

    def __post_init__(self) -> None:
        # a stable sort, and only when the pages are out of order, so
        # every page keeps its chars in input order
        page = self.page
        if len(page) > 1 and (page[1:] < page[:-1]).any():
            order = np.argsort(page, kind="stable")
            for f in fields(self):
                setattr(self, f.name, getattr(self, f.name)[order])

    def __len__(self) -> int:
        return len(self.page)

    def page_span(self, page: int) -> tuple[int, int]:
        """``(lo, hi)`` such that ``self.take(slice(lo, hi))`` holds
        exactly the chars of ``page``; empty when it has none."""
        info = np.iinfo(self.page.dtype)
        if not info.min <= page <= info.max:
            return 0, 0
        # a key of the array's own dtype: a Python int would make
        # searchsorted cast the whole array on every call
        key = self.page.dtype.type(page)
        return (
            int(self.page.searchsorted(key, side="left")),
            int(self.page.searchsorted(key, side="right")),
        )

    @classmethod
    def from_payload(cls, chars) -> "CharArrays":
        """Decode payload chars in any encoding
        (:func:`libpdf_spark.payload.decode_chars`), then apply the
        anno-noise filter (F2, ``extract.py:446-486``
        ``delete_page_ann``): pdfminer's layout analysis injects
        virtual ``anno`` objects whose text is ``" "`` or ``"\\n"``
        (pdfplumber issue #1); a producer that serialized that object
        soup lands them in the char array. Real payloads carry spacing
        as geometry (gaps), never as whitespace glyphs, so any such
        row is an artifact and is dropped before grouping.

        DOCUMENTED DIVERGENCE (ADVICE r3): the reference's
        ``delete_page_ann`` removes only items whose pdfminer
        ``object_type == "anno"``; the payload schema here carries no
        object-type column, so the filter keys on text alone. A
        producer that serialized *real* space glyphs (nonzero-width
        geometry) loses those rows — word segmentation then relies on
        gap geometry, which reconstructs the same word boundaries
        (covered by ``test_kernel_robustness.py::
        test_f2_real_space_glyph_word_segmentation``)."""
        arr = cls(**decode_chars(chars))
        # two vector compares: a sort-based membership test costs more
        # on this every-char hot path
        keep = (arr.text != " ") & (arr.text != "\n")
        return arr if keep.all() else arr.take(keep)

    def take(self, idx: np.ndarray | slice) -> "CharArrays":
        """The chars at ``idx``, in page order; a slice gives views,
        not copies."""
        return CharArrays(
            self.page[idx], self.text[idx], self.x0[idx], self.y0[idx],
            self.x1[idx], self.y1[idx], self.fontname[idx], self.ncolor[idx],
        )


@dataclass
class Box:
    """An assembled text box (LTTextBoxHorizontal equivalent)."""

    page: int
    x0: float
    y0: float
    x1: float
    y1: float
    text: str
    # char indices (into the ORIGINAL document char arrays) in text order,
    # one entry per physical char; offsets[i] = position of that char in
    # `text` (separators occupy offsets with no char index).
    char_idx: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    offsets: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    # line spans: list of (start, stop) slices into char_idx per text line
    line_spans: list = field(default_factory=list)
    fontname: str | None = None   # uniform-lift, horizontal_box.py:188-195
    ncolor: tuple | None = None


def _median1d(a: np.ndarray) -> float:
    """``float(np.median(a))`` for a non-empty 1-D float array without
    the ``_ureduce`` wrapper overhead (np.median showed up as ~8% of
    the per-page kernel — one call per page on a small array is pure
    Python-layer cost). Bit-identical: same partition selection, same
    even-count ``(lo + hi) / 2`` mean, same NaN propagation (NaN sorts
    last under partition; np.median checks the last slot the same
    way)."""
    n = a.size
    k = n >> 1
    if n & 1:
        part = np.partition(a, (k, n - 1))
        lo = hi = part[k]
    else:
        part = np.partition(a, (k - 1, k, n - 1))
        lo, hi = part[k - 1], part[k]
    if np.isnan(part[-1]):
        return float("nan")
    return float((lo + hi) / 2.0)


def _uniform(values) -> object | None:
    """Promote an attribute iff identical across children
    (``horizontal_box.py:84-90,136-142,188-195``)."""
    it = iter(values)
    try:
        first = next(it)
    except StopIteration:
        return None
    for v in it:
        if v != first:
            return None
    return first


def group_lines(
    chars: CharArrays, y_tolerance: float, char_margin: float | None = None
) -> list[np.ndarray]:
    """Cluster char indices into text lines by vertical center.

    Vectorized form of the reference's line grouping
    (``utils.py:585-631``): sort the vertical centers descending (top
    of page first) and start a new line wherever the gap between two
    consecutive centers is >= ``y_tolerance``, then order each line's
    chars left-to-right (ties keep the y-order). When ``char_margin``
    is given, a y-line is additionally split where the horizontal gap
    between consecutive chars exceeds ``char_margin × char_width``
    (pdfminer LAParams char_margin — this is what separates
    side-by-side columns).

    Returns a list of index arrays (into ``chars``), top-to-bottom,
    each sorted by x0.
    """
    n = len(chars)
    if n == 0:
        return []
    yc = (chars.y0 + chars.y1) * 0.5
    order = np.argsort(-yc, kind="stable")
    yc_sorted = yc[order]
    # new line where the descending center drops by >= tolerance
    breaks = np.empty(n, dtype=bool)
    breaks[0] = True
    if n > 1:
        breaks[1:] = (yc_sorted[:-1] - yc_sorted[1:]) >= y_tolerance
    # members of line k are CONTIGUOUS in `order` (breaks are cuts in
    # the y-sorted sequence). r8: ONE stable lexsort orders every
    # line's members by x0 at once (primary key = line id, secondary
    # = x0; stable ties keep the y-order, exactly like the previous
    # per-line stable argsort), and the char_margin sub-split runs as
    # one vector compare over the page — the per-line loop with L
    # small argsorts was the remaining group_lines hotspot.
    line_id = np.cumsum(breaks) - 1
    order2 = order[np.lexsort((chars.x0[order], line_id))]
    cut = breaks  # line starts sit at the same positions after the
    # within-line reorder (line blocks are contiguous either way)
    if char_margin is not None and n > 1:
        x0s = chars.x0[order2]
        x1s = chars.x1[order2]
        widths = x1s - x0s
        hgap = np.empty(n)
        hgap[0] = 0.0
        hgap[1:] = x0s[1:] - x1s[:-1]
        # hgap at a line-start position compares across lines — the
        # cut is already True there, so the bogus value never splits
        cut = cut | (hgap > char_margin * widths)
    # inline np.split: same contiguous views without array_split's
    # per-piece Python checks (~0.1 s of the profiled kernel run)
    cuts = np.flatnonzero(cut[1:]) + 1
    bounds = np.empty(len(cuts) + 2, dtype=np.int64)
    bounds[0] = 0
    bounds[1:-1] = cuts
    bounds[-1] = n
    bl = bounds.tolist()
    return [order2[a:b] for a, b in zip(bl[:-1], bl[1:])]


def assemble_lines_bulk(
    chars: CharArrays, lines: list[np.ndarray], word_margin: float
) -> list[tuple[str, np.ndarray]]:
    """Assemble the text of every line in ``lines`` in one vectorized
    pass.

    pdfminer semantics: a space separator is inserted before a char
    whose horizontal gap to the previous char exceeds
    ``word_margin * width(char)`` (LTTextLineHorizontal.add). Words
    join with "" internally and with " " across
    (``horizontal_box.py:93-95,144-147``).

    Returns one ``(text, offsets)`` per line, where ``offsets[i]`` is
    the position of line char ``i`` in ``text``. The gap/space/offset
    math runs once over all the chars: per-line numpy call overhead
    dominated the kernel profile (24 lines × ~8 small numpy ops each
    per document).
    """
    if not lines:
        return []
    lens = np.fromiter((len(l) for l in lines), dtype=np.int64, count=len(lines))
    members = np.concatenate(lines)
    n = len(members)
    starts = np.zeros(len(lines), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])

    x0 = chars.x0[members]
    x1 = chars.x1[members]
    widths = x1 - x0
    gaps = np.empty(n)
    gaps[0] = 0.0
    gaps[1:] = x0[1:] - x1[:-1]
    space = gaps > word_margin * widths
    space[starts] = False

    cum = np.cumsum(space)
    line_id = np.repeat(np.arange(len(lines)), lens)
    cum_at_start = (cum - space)[starts]  # spaces before line start
    within_spaces = cum - cum_at_start[line_id]
    idx_in_line = np.arange(n, dtype=np.int64) - starts[line_id]
    offsets_all = idx_in_line + within_spaces

    texts_np = chars.text[members]
    # r8: when text is the packed-payload <U1 array, the page's full
    # concatenation is ONE UTF-32 buffer reinterpretation (each slot
    # is exactly one char) — no per-char Python string creation. The
    # guard pins little-endian <U1: a byte-swapped >U1 array would
    # reinterpret to garbage code points, so it takes the list path. A
    # numpy U-slot holding "" is NUL padding, indistinguishable from
    # a real "\x00" glyph under the view, so any empty slot falls
    # back to the list path (which renders "" exactly as before).
    page_str = None
    if n and texts_np.dtype == np.dtype("<U1") and (texts_np != "").all():
        page_str = np.ascontiguousarray(texts_np).view(f"<U{n}")[0]
    else:
        texts_all = texts_np.tolist()
        space_list = space.tolist()
    # r8: word-cut positions for the whole page at once — the previous
    # per-line `[k for k in range(a+1, b) if space_list[k]]` was a
    # per-CHAR Python loop inside the hot path
    cuts_all = np.flatnonzero(space)
    # one vectorized searchsorted for every line's cut range (r8: the
    # per-line two-element searchsorted was 2·L small calls per page)
    los = np.searchsorted(cuts_all, starts + 1)
    his = np.searchsorted(cuts_all, starts + lens)
    out: list[tuple[str, np.ndarray]] = []
    for li in range(len(lines)):
        a = int(starts[li])
        b = a + int(lens[li])
        if page_str is not None:
            joined = page_str[a:b]
            one_char = True
        else:
            seg = texts_all[a:b]
            joined = "".join(seg)
            one_char = len(joined) == len(seg)
        if one_char:  # all 1-char glyphs: slice per WORD
            lo, hi = los[li], his[li]
            if hi > lo:
                bounds = (cuts_all[lo:hi] - a).tolist()
                parts = []
                prev = 0
                for cut in bounds:
                    parts.append(joined[prev:cut])
                    prev = cut
                parts.append(joined[prev:])
                joined = " ".join(parts)
        else:  # rare multi-char glyphs
            joined = "".join(
                (" " + t) if space_list[a + k] else t for k, t in enumerate(seg)
            )
        out.append((joined, offsets_all[a:b]))
    return out


def _connected_components(n: int, ii: np.ndarray, jj: np.ndarray) -> np.ndarray:
    """Connected-component labels of ``n`` nodes from the edge list
    ``(ii[k], jj[k])``; edge direction and duplicate edges do not
    matter, and time and memory are linear in nodes + edges.

    Union-find that always attaches the larger root under the smaller,
    so every component's root — and therefore its label — is its
    minimum member index, the same labels min-label propagation gives
    (the label VALUE matters: it orders ``group_boxes``' groups). A
    node's parent is never above the node itself, so one ascending
    pass resolves every final label without a ``find`` per node."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in zip(ii.tolist(), jj.tolist()):
        ri, rj = find(i), find(j)
        if ri != rj:
            if ri < rj:
                parent[rj] = ri
            else:
                parent[ri] = rj
    for x in range(n):
        parent[x] = parent[parent[x]]
    return np.array(parent, dtype=np.int64)


def _window_pairs(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Every ``(p, q)`` with ``lo[p] <= q < hi[p]``, grouped by ``p``."""
    counts = hi - lo
    p = np.repeat(np.arange(len(lo)), counts)
    first = np.cumsum(counts) - counts  # p's first slot in the pair list
    return p, np.arange(len(p)) + np.repeat(lo - first, counts)


def group_boxes(
    chars: CharArrays,
    lines: list[np.ndarray],
    line_margin: float,
) -> list[list[int]]:
    """Group text lines into boxes (LTTextBox grouping).

    pdfminer groups two lines into one box when they overlap
    horizontally and their vertical gap is below
    ``line_margin * line_height``. Candidate pairs come from a y-band
    sweep (SparkER's blocking: generate the pairs that can match, then
    test them): lines sorted by bottom edge ``ly0``; a pair can only
    match when its ``ly0`` values lie within ``(1 + |line_margin|) ×
    |height|`` of its taller line, so each line's window is that wide
    on both sides (widened by 1e-9 relative for float rounding) and
    each pair is kept from one window only. Sizing the window per line
    keeps one very tall line from widening every other line's window.
    The exact pairwise predicate then runs on the candidates and the
    surviving edges go to :func:`_connected_components`, so time and
    memory follow lines + candidate pairs, not L².

    A line with a NaN coordinate fails every comparison of the
    predicate and stays a box of its own. A line whose y extent is not
    finite has no finite window, so it is tested against every other
    line directly (it can truly match them all); such lines, and many
    lines sharing one y-band, are the inputs whose candidates grow
    faster than L.

    Returns ``(groups, line_hulls)``: lists of line indices per box
    (ordered by their smallest line index) and the per-line hulls
    (lx0, ly0, lx1, ly1) so callers don't recompute them per char.
    """
    L = len(lines)
    if L == 0:
        return [], None
    # r8: hulls via 4 reduceat calls over the concatenated members —
    # the per-line min()/max() list comprehensions were 4·L small
    # numpy reductions per page in the hot profile
    cat = np.concatenate(lines)
    starts = np.zeros(L, dtype=np.int64)
    np.cumsum(
        np.fromiter((len(l) for l in lines), dtype=np.int64, count=L)[:-1],
        out=starts[1:],
    )
    hull = np.empty((5, L))
    lx0, ly0, lx1, ly1, height = hull
    np.minimum.reduceat(chars.x0[cat], starts, out=lx0)
    np.minimum.reduceat(chars.y0[cat], starts, out=ly0)
    np.maximum.reduceat(chars.x1[cat], starts, out=lx1)
    np.maximum.reduceat(chars.y1[cat], starts, out=ly1)
    np.subtract(ly1, ly0, out=height)
    swept = np.isfinite(ly0 + height)  # finite only if both terms are
    all_swept = swept.all()
    s = np.argsort(ly0, kind="stable")
    if not all_swept:
        s = s[swept[s]]
    ci = cj = s
    if len(s):
        ys = ly0[s]
        hs = np.abs(height[s])
        m = abs(line_margin)
        w = (1.0 + m) * hs + 1e-9 * (max(-ys[0], ys[-1]) + (2.0 + m) * hs.max())
        lo = np.searchsorted(ys, ys - w)
        hi = np.searchsorted(ys, ys + w, side="right")
        a, b = _window_pairs(lo, hi)
        # keep (a, b) from a's window when b is above a, and from below
        # only when a is outside b's own upward window
        keep = (b > a) | (hi[b] <= a)
        ci, cj = s[a[keep]], s[b[keep]]
    if not all_swept:
        no_nan = ~np.isnan(hull).any(axis=0)
        wild = np.flatnonzero(no_nan & ~swept)
        every = np.flatnonzero(no_nan)
        ci = np.concatenate([ci, np.repeat(wild, len(every))])
        cj = np.concatenate([cj, np.tile(every, len(wild))])
    # exact predicate: horizontal overlap AND vertical gap < line_margin
    # * max(height) (gap > 0 between vertically disjoint lines)
    x0i, y0i, x1i, y1i, hgt_i = hull[:, ci]
    x0j, y0j, x1j, y1j, hgt_j = hull[:, cj]
    edge = (
        (x0i < x1j) & (x1i > x0j)
        & (np.maximum(y0i - y1j, y0j - y1i) < line_margin * np.maximum(hgt_i, hgt_j))
    )
    labels = _connected_components(L, ci[edge], cj[edge])
    boxes: dict[int, list[int]] = {}
    for i, lab in enumerate(labels.tolist()):
        boxes.setdefault(lab, []).append(i)
    return list(boxes.values()), (lx0, ly0, lx1, ly1)


def order_boxes_reading(boxes_meta: list[tuple[float, float, float, float]]) -> list[int]:
    """Reading order for boxes on one page (column-major).

    Column-aware: boxes whose x-intervals transitively overlap
    (strictly: ``x0ᵢ < x1ⱼ and x0ⱼ < x1ᵢ``) form a column; columns read
    left-to-right, boxes within a column top-to-bottom. On
    single-column pages this degenerates to plain top-down order,
    matching the reference's sort key ``(page, page_height - y0)``
    (``process.py:202-207``); on multi-column fixtures it yields
    column-major order like pdfminer's box-flow ordering.

    Columns come from a 1-D interval sweep: the boxes with ``x0 < x1``
    sorted by ``x0``, a new column wherever ``x0`` reaches the running
    max of ``x1``. A box with ``x1 <= x0`` (zero width, or inverted)
    overlaps no other such box and joins at most one column: the
    column of the last sorted box whose ``x0`` is below its ``x1``, if
    the running max there passes its ``x0``. A box with a NaN x
    overlaps nothing. Each column is labelled by its smallest box index
    and keyed by its smallest ``x0`` (inf for a lone box whose ``x0``
    is NaN) — the labels and keys of the all-pairs form. Plain Python:
    pages hold few boxes, and a dozen numpy calls cost more than the
    loop.
    """
    B = len(boxes_meta)
    bx0 = [b[0] for b in boxes_meta]
    bx1 = [b[2] for b in boxes_meta]
    order = sorted((i for i in range(B) if bx0[i] < bx1[i]), key=bx0.__getitem__)
    x0s = [bx0[i] for i in order]
    columns: list[list[int]] = []
    col: list[int] = []    # column of each sorted box
    reach: list[float] = []  # running max of x1 up to each sorted box
    r = -np.inf
    for i, x0 in zip(order, x0s):
        if x0 >= r:
            columns.append([])
        columns[-1].append(i)
        r = max(r, bx1[i])
        col.append(len(columns) - 1)
        reach.append(r)
    for i in range(B):
        if bx1[i] <= bx0[i]:
            k = bisect_left(x0s, bx1[i])
            if k and reach[k - 1] > bx0[i]:
                columns[col[k - 1]].append(i)
    label = list(range(B))
    col_minx = [x if x == x else np.inf for x in bx0]
    for members in columns:
        lab, minx = min(members), bx0[members[0]]
        for i in members:
            label[i] = lab
            col_minx[i] = minx
    keys = [(col_minx[i], label[i], -boxes_meta[i][3], bx0[i]) for i in range(B)]
    return sorted(range(B), key=keys.__getitem__)


def lines_to_box(
    page: int,
    chars: CharArrays,
    lines: list[np.ndarray],
    assembled: list[tuple[str, np.ndarray]],
    char_index_base: np.ndarray,
    bbox: tuple[float, float, float, float],
) -> Box:
    """One text box from its lines, given top to bottom with their
    :func:`assemble_lines_bulk` output: line texts join with "\\n"
    (``horizontal_box.py:197-200``), each line's offsets shift past
    the text before it, and fontname/ncolor lift iff uniform across
    the member chars. ``char_index_base`` maps positions in ``chars``
    to document char indices; ``bbox`` is the caller's."""
    text_parts: list[str] = []
    all_off: list[np.ndarray] = []
    line_spans: list[tuple[int, int]] = []
    cursor = nchars = 0
    for line, (ltext, loff) in zip(lines, assembled):
        text_parts.append(ltext)
        all_off.append(loff + cursor)
        line_spans.append((nchars, nchars + len(line)))
        nchars += len(line)
        cursor += len(ltext) + 1  # past the "\n" separator
    members = np.concatenate(lines)
    x0, y0, x1, y1 = bbox
    return Box(
        page=page,
        x0=x0, y0=y0, x1=x1, y1=y1,
        text="\n".join(text_parts),
        char_idx=char_index_base[members],
        offsets=np.concatenate(all_off),
        line_spans=line_spans,
        fontname=_uniform(chars.fontname[members]),
        ncolor=_uniform(chars.ncolor[members]),
    )


def build_boxes(
    chars: CharArrays,
    cfg: ExtractConfig,
    char_index_base: np.ndarray | None = None,
) -> list[Box]:
    """Full char→line→box assembly for ONE page's chars.

    ``char_index_base`` maps local char positions back to document-level
    char indices (for link scanning); defaults to identity.
    """
    if len(chars) == 0:
        return []
    if char_index_base is None:
        char_index_base = np.arange(len(chars), dtype=np.int64)
    heights = chars.y1 - chars.y0
    med_h = _median1d(heights) if len(heights) else 10.0
    y_tol = max(cfg.line_overlap * med_h, 1e-9)
    lines = group_lines(chars, y_tol, char_margin=cfg.char_margin)
    line_groups, hulls = group_boxes(chars, lines, cfg.line_margin)
    lx0, ly0, lx1, ly1 = hulls if hulls else (None, None, None, None)
    assembled = assemble_lines_bulk(chars, lines, cfg.word_margin)

    page = int(chars.page[0])
    boxes: list[Box] = []
    metas: list[tuple[float, float, float, float]] = []
    for group in line_groups:
        # order lines inside the box top-to-bottom
        group_sorted = sorted(group, key=lambda li: -ly1[li])
        x0 = float(min(lx0[li] for li in group))
        y0 = float(min(ly0[li] for li in group))
        x1 = float(max(lx1[li] for li in group))
        y1 = float(max(ly1[li] for li in group))
        boxes.append(
            lines_to_box(
                page, chars,
                [lines[li] for li in group_sorted],
                [assembled[li] for li in group_sorted],
                char_index_base, (x0, y0, x1, y1),
            )
        )
        metas.append((x0, y0, x1, y1))

    order = order_boxes_reading(metas)
    return [boxes[i] for i in order]


def box_words_lines(
    chars: CharArrays, box: Box
) -> tuple[list[dict], list[dict]]:
    """Word/line tree of an assembled box with uniform attr lift at
    EACH level (reference ``models/horizontal_box.py:50-147``): a word
    lifts ncolor/fontname iff identical across its chars, a line iff
    identical across its words, mirroring the Word/HorizontalLine
    constructors the reference's ``tests/test_word_colors.py`` asserts.

    A word starts where the line assembly put a space, i.e. where the
    box offsets of two neighbouring chars differ by more than one.
    Returns ``(words, lines)``; each word carries its 0-based ``line``
    index so the tree is recoverable downstream.
    """
    words: list[dict] = []
    lines: list[dict] = []
    for li, (a, b) in enumerate(box.line_spans):
        idx = box.char_idx[a:b]  # document-level indices, x-ordered
        starts = np.flatnonzero(np.diff(box.offsets[a:b]) > 1) + 1
        line_words: list[dict] = []
        for w_idx in np.split(idx, starts):
            rec = {
                "line": li,
                "text": "".join(chars.text[w_idx].tolist()),
                "x0": float(chars.x0[w_idx].min()),
                "y0": float(chars.y0[w_idx].min()),
                "x1": float(chars.x1[w_idx].max()),
                "y1": float(chars.y1[w_idx].max()),
                "fontname": _uniform(chars.fontname[w_idx]),
                "ncolor": _uniform(chars.ncolor[w_idx]),
            }
            line_words.append(rec)
            words.append(rec)
        lines.append(
            {
                "text": " ".join(w["text"] for w in line_words),
                "x0": min(w["x0"] for w in line_words),
                "y0": min(w["y0"] for w in line_words),
                "x1": max(w["x1"] for w in line_words),
                "y1": max(w["y1"] for w in line_words),
                "fontname": _uniform(w["fontname"] for w in line_words),
                "ncolor": _uniform(w["ncolor"] for w in line_words),
            }
        )
    return words, lines


def crop_mask(
    chars: CharArrays, page_w: float, page_h: float, cfg: ExtractConfig
) -> np.ndarray:
    """Static page-crop filter (F1): keep chars inside crop margins
    (``textbox.py:963-975``, ``parameters.py:131-136``)."""
    if not (cfg.crop_top or cfg.crop_right or cfg.crop_bottom or cfg.crop_left):
        return np.ones(len(chars), dtype=bool)
    return (
        (chars.y1 <= page_h - cfg.crop_top)
        & (chars.y0 >= cfg.crop_bottom)
        & (chars.x0 >= cfg.crop_left)
        & (chars.x1 <= page_w - cfg.crop_right)
    )


def is_noise(text: str) -> bool:
    """Empty/whitespace-textbox filter (F3, ``textbox.py:124-134``)."""
    return text.strip() == ""


def boxes_for_page(
    chars: CharArrays,
    page_no: int,
    page_w: float,
    page_h: float,
    cfg: ExtractConfig,
) -> list[Box]:
    """Assemble the noise-filtered, crop-filtered boxes of one page."""
    lo, hi = chars.page_span(page_no)
    sub = chars.take(slice(lo, hi))
    on_page = np.arange(lo, hi)
    keep = crop_mask(sub, page_w, page_h, cfg)
    if not keep.all():
        sub, on_page = sub.take(keep), on_page[keep]
    if len(on_page) == 0:
        return []
    boxes = build_boxes(sub, cfg, char_index_base=on_page)
    return [b for b in boxes if not is_noise(b.text)]
