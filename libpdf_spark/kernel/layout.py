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

One path per page: :func:`_line_runs` forms the lines,
:func:`_box_labels` the boxes, and :func:`assemble_boxes` every box's
text, offsets and lifts in one segmented pass, so Python runs per box
only to construct each :class:`Box` and order the boxes for reading.
Table cells and rects (``geometry.crop_cell_box``) are one box through
the same :func:`assemble_boxes`.
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


_U1 = np.dtype("<U1")


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
    each sorted by x0: the lines of :func:`_line_runs`, one array each.
    """
    members, bounds = _line_runs(chars, y_tolerance, char_margin)
    bl = bounds.tolist()
    return [members[a:b] for a, b in zip(bl[:-1], bl[1:])]


def _line_runs(
    chars: CharArrays, y_tolerance: float, char_margin: float | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """:func:`group_lines` as two arrays: line ``i`` is
    ``members[bounds[i]:bounds[i + 1]]``."""
    n = len(chars)
    if n == 0:
        return np.empty(0, dtype=np.int64), np.zeros(1, dtype=np.int64)
    yc = (chars.y0 + chars.y1) * 0.5
    order = np.argsort(-yc, kind="stable")
    yc_sorted = yc[order]
    # new line where the descending center drops by >= tolerance
    breaks = np.empty(n, dtype=bool)
    breaks[0] = True
    if n > 1:
        breaks[1:] = (yc_sorted[:-1] - yc_sorted[1:]) >= y_tolerance
    # members of line k are CONTIGUOUS in `order` (breaks are cuts in
    # the y-sorted sequence): ONE stable lexsort orders every line's
    # members by x0 (ties keep the y-order), and the char_margin
    # sub-split is one vector compare over the page
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
    cuts = np.flatnonzero(cut)
    bounds = np.empty(len(cuts) + 1, dtype=np.int64)
    bounds[:-1] = cuts
    bounds[-1] = n
    return order2, bounds


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
    """Group text lines into boxes (LTTextBox grouping): the labels
    of :func:`_box_labels` as lists.

    Returns ``(groups, line_hulls)``: lists of line indices per box
    (ordered by their smallest line index) and the per-line hulls
    (lx0, ly0, lx1, ly1) so callers don't recompute them per char.
    """
    if not lines:
        return [], None
    bounds = np.zeros(len(lines) + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, lines), np.int64, len(lines)), out=bounds[1:])
    labels, hull = _box_labels(chars, np.concatenate(lines), bounds, line_margin)
    boxes: dict[int, list[int]] = {}
    for i, lab in enumerate(labels.tolist()):
        boxes.setdefault(lab, []).append(i)
    return list(boxes.values()), tuple(hull[:4])


def _box_labels(
    chars: CharArrays, members: np.ndarray, bounds: np.ndarray, line_margin: float
) -> tuple[np.ndarray, np.ndarray]:
    """The box label of every line of :func:`_line_runs` (the
    smallest line index in its box) and the line hulls as rows
    ``lx0, ly0, lx1, ly1, height``.

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
    """
    L = len(bounds) - 1
    starts = bounds[:-1]
    hull = np.empty((5, L))
    lx0, ly0, lx1, ly1, height = hull
    np.minimum.reduceat(chars.x0[members], starts, out=lx0)
    np.minimum.reduceat(chars.y0[members], starts, out=ly0)
    np.maximum.reduceat(chars.x1[members], starts, out=lx1)
    np.maximum.reduceat(chars.y1[members], starts, out=ly1)
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
    return _connected_components(L, ci[edge], cj[edge]), hull


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


def assemble_boxes(
    page: int,
    chars: CharArrays,
    members: np.ndarray,
    bounds: np.ndarray,
    line_order: np.ndarray,
    box_bounds: np.ndarray,
    bboxes: list,
    word_margin: float,
    char_index_base: np.ndarray,
) -> list[Box]:
    """Every box of one page, assembled in one segmented pass.

    Line ``i`` holds the chars ``members[bounds[i]:bounds[i + 1]]``,
    left to right; box ``b`` holds the lines
    ``line_order[box_bounds[b]:box_bounds[b + 1]]``, top to bottom,
    and has the bbox ``bboxes[b]``. The joins are pdfminer's: a space
    goes before a char whose gap to the previous char of its line
    exceeds ``word_margin * width(char)`` (LTTextLineHorizontal.add),
    lines join with "\\n" (``horizontal_box.py:93-95,144-147,197-200``).
    fontname/ncolor lift to a box iff identical across its chars
    (:func:`_uniform`). ``char_index_base`` maps positions in
    ``chars`` to document char indices.

    The text of the whole page is one string with every box's lines
    in order: a glyph, separator or "\\n" per slot, scattered into one
    buffer. Each box's ``text``, ``char_idx``, ``offsets`` and
    ``line_spans`` are slices of page arrays, so only the ``Box``
    construction runs per box. ``offsets[i]`` counts the box's
    separators and glyphs before char ``i`` within its line, plus the
    code points of the lines above it (each with its "\\n").
    """
    L = len(line_order)
    # ufuncs and array methods, not np.diff/np.cumsum/np.repeat: their
    # Python wrappers cost more than the work on a table cell's chars
    lens = (bounds[1:] - bounds[:-1])[line_order]
    first = np.zeros(L + 1, dtype=np.int64)  # each line's chars, box order
    np.add.accumulate(lens, out=first[1:])
    n = int(first[-1])
    idx = members[np.arange(n) + (bounds[:-1][line_order] - first[:-1]).repeat(lens)]

    # sep[k]: a separator slot before char k — " " inside a line, "\n"
    # before every line but the first
    x0 = chars.x0[idx]
    x1 = chars.x1[idx]
    sep = np.empty(n, dtype=bool)
    sep[0] = False
    np.greater(x0[1:] - x1[:-1], word_margin * (x1 - x0)[1:], out=sep[1:])
    sep[first[1:-1]] = True
    slot = np.arange(n) + np.add.accumulate(sep, dtype=np.int64)
    newline = slot[first[1:-1]] - 1
    glyphs = chars.text[idx]
    # a <U1 glyph array is one UTF-32 buffer: the page string is ONE
    # reinterpretation, no Python string per char. A numpy U slot
    # holding "" is NUL padding, indistinguishable from a "\x00" glyph
    # under the view, and a byte-swapped >U1 would read as garbage, so
    # those take the object path, which renders "" as ""
    u1 = glyphs.dtype == _U1 and (glyphs != "").all()
    buf = np.empty(int(slot[-1]) + 1, dtype=_U1 if u1 else object)
    buf.fill(" ")
    buf[slot] = glyphs
    buf[newline] = "\n"
    if u1:
        text = str(buf.view(f"<U{len(buf)}")[0])
        cp = slot
        line_shift = 0
    else:
        text = "".join(buf.tolist())
        # a glyph may be "" or more than one code point ("fi"): a line
        # starts at its code point, its chars count glyph slots
        extra = np.fromiter(map(len, glyphs.tolist()), np.int64, n) - 1
        cp = slot + np.add.accumulate(extra) - extra
        line_shift = (cp - slot)[first[:-1]].repeat(lens)
    box_first = first[box_bounds]
    start = cp[box_first[:-1]]
    box_n = box_first[1:] - box_first[:-1]
    offsets = slot + line_shift - start.repeat(box_n)
    span = first[:-1] - box_first[:-1].repeat(box_bounds[1:] - box_bounds[:-1])
    spans = list(zip(span.tolist(), (span + lens).tolist()))

    def lift(attr: np.ndarray) -> list:
        # each char against its box's first, as _uniform compares
        v = attr[idx]
        head = v[box_first[:-1]]
        mixed = np.logical_or.reduceat(v != head.repeat(box_n), box_first[:-1])
        return [None if m else h for h, m in zip(head.tolist(), mixed.tolist())]

    char_idx = char_index_base[idx]
    fontnames, ncolors = lift(chars.fontname), lift(chars.ncolor)
    bf, bb, ts = box_first.tolist(), box_bounds.tolist(), start.tolist()
    ts.append(len(text) + 1)  # past the "\n" a next box would follow
    return [
        Box(page, *bbox, text[ts[b]:ts[b + 1] - 1], char_idx[bf[b]:bf[b + 1]],
            offsets[bf[b]:bf[b + 1]], spans[bb[b]:bb[b + 1]], fontnames[b], ncolors[b])
        for b, bbox in enumerate(bboxes)
    ]


def _box_hulls(hull: np.ndarray, box: np.ndarray, box_bounds: np.ndarray) -> list:
    """Box bboxes ``[x0, y0, x1, y1]`` from the line hulls, as
    Python's ``min``/``max`` over each box's lines in line order give
    them: a reduction may return either sign of a zero, while ``min``
    and ``max`` keep the first of equal values, so a zero takes its
    sign from the box's first zero line. (A line with a NaN coordinate
    is a box of its own, so NaN never meets another value.)"""
    by_box = np.argsort(box, kind="stable")
    h = hull[:4, by_box]
    bb = np.empty((4, len(box_bounds) - 1))
    np.minimum.reduceat(h[:2], box_bounds[:-1], axis=1, out=bb[:2])
    np.maximum.reduceat(h[2:], box_bounds[:-1], axis=1, out=bb[2:])
    zero = bb == 0
    if zero.any():
        owner = box[by_box]
        k, pos = np.nonzero((h == 0) & zero[:, owner])  # k, then line order
        _, head = np.unique(k * bb.shape[1] + owner[pos], return_index=True)
        bb[k[head], owner[pos[head]]] = h[k[head], pos[head]]
    return bb.T.tolist()


def build_boxes(
    chars: CharArrays,
    cfg: ExtractConfig,
    char_index_base: np.ndarray | None = None,
) -> list[Box]:
    """Full char→line→box assembly for ONE page's chars, in reading
    order (:func:`order_boxes_reading`).

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
    members, bounds = _line_runs(chars, y_tol, char_margin=cfg.char_margin)
    labels, hull = _box_labels(chars, members, bounds, cfg.line_margin)
    # dense box ids in label order (a label is its box's smallest line)
    root = labels == np.arange(len(labels))
    box = (np.cumsum(root) - 1)[labels]
    box_bounds = np.zeros(int(root.sum()) + 1, dtype=np.int64)
    np.cumsum(np.bincount(box), out=box_bounds[1:])
    bboxes = _box_hulls(hull, box, box_bounds)
    boxes = assemble_boxes(
        int(chars.page[0]), chars, members, bounds,
        np.lexsort((-hull[3], box)),  # each box's lines by descending ly1
        box_bounds, bboxes, cfg.word_margin, char_index_base,
    )
    return [boxes[i] for i in order_boxes_reading(bboxes)]


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
