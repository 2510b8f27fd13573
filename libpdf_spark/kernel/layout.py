"""Geometric layout analysis: chars → words → lines → boxes.

Re-implements, vectorized, the grouping pdfminer performs for the
reference (LA_PARAMS ``parameters.py:220-228``: line_overlap 0.5,
char_margin 6.0, line_margin 0.4, word_margin 0.1) plus the
reference's own custom regrouping
(``utils.py:585-631`` assemble_to_lt_textlines — new line when the
vertical char-center deviates by >= y_tolerance) and its text-assembly
joins (``models/horizontal_box.py:93-200``: chars join "" → word,
words join " " → line, lines join "\\n" → box).

The input is a struct-of-arrays over chars; the output is a list of
:class:`Box` (the LTTextBoxHorizontal equivalent) with per-char text
offsets retained for link-index computation (``textbox.py:670-795``).

Whole batches, not pages: :func:`boxes_for_page` lays out every page
of every document of an Arrow batch together, in passes of up to
``_PASS_CHARS`` chars. A pass's chars are one array cut into segments,
one page of one document each; the segment is the first key of every
sort, and no line, box, sweep window or column crosses a segment.
:func:`_line_runs` forms the lines, :func:`_box_labels` the boxes,
:func:`assemble_boxes` every box's text, offsets and lifts, and
:func:`order_boxes_reading` the reading order, each once per pass, so
Python runs per box only to construct each :class:`Box`.
Table cells and rects (``geometry.crop_cell_box``) are one box through
the same :func:`_line_runs` and :func:`assemble_boxes`.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from libpdf_spark.config import ExtractConfig
from libpdf_spark.payload import decode_chars

_FIELDS = ("page", "text", "x0", "y0", "x1", "y1", "fontname", "ncolor")


@dataclass
class CharArrays:
    """Struct-of-arrays view of chars: one document's (one page or
    all) in page order, each page's chars one contiguous run, found by
    :meth:`page_span`, in the order the input gave them; or a batch of
    documents one after another (:meth:`concat`)."""

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
            for name in _FIELDS:
                setattr(self, name, getattr(self, name)[order])

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

    def keep_pages(self, pages: list[int]) -> tuple["CharArrays", np.ndarray]:
        """The chars of ``pages`` (ascending, distinct) and where each
        page's run starts in them: page ``pages[i]`` holds the chars
        ``bounds[i]:bounds[i + 1]``. No take when the pages hold every
        char."""
        spans = [self.page_span(p) for p in pages]
        bounds = np.zeros(len(pages) + 1, dtype=np.int64)
        np.cumsum(np.array([hi - lo for lo, hi in spans], dtype=np.int64), out=bounds[1:])
        if bounds[-1] == len(self):
            return self, bounds
        keep = np.concatenate([np.empty(0, np.int64), *(np.arange(lo, hi) for lo, hi in spans)])
        return self.take(keep), bounds

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

    @classmethod
    def concat(cls, parts: list["CharArrays"]) -> "CharArrays":
        """The chars of ``parts`` one after another, as they stand: a
        batch runs document by document, so its pages need not
        ascend."""
        out = cls.__new__(cls)
        for name in _FIELDS:
            setattr(out, name, np.concatenate([getattr(p, name) for p in parts]))
        return out

    def take(self, idx: np.ndarray | slice) -> "CharArrays":
        """The chars at ``idx``, in that order; a slice gives views,
        not copies."""
        out = CharArrays.__new__(CharArrays)
        for name in _FIELDS:
            setattr(out, name, getattr(self, name)[idx])
        return out


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


def _median1d(a: np.ndarray, bounds: np.ndarray) -> np.ndarray:
    """The median of every segment ``a[bounds[s]:bounds[s + 1]]``
    (NaN for an empty one), as ``np.median`` gives it per segment: one
    sort by (segment, value), then the middle value, or the mean
    ``(lo + hi) / 2`` of the middle two (an odd count averages the
    middle value with itself, as the page median always did). A NaN
    sorts last, so a segment holding one has a NaN median and no other
    segment does."""
    starts, n = bounds[:-1], bounds[1:] - bounds[:-1]
    part = np.sort(a, kind="stable") if len(n) == 1 else a[
        np.lexsort((a, np.arange(len(n)).repeat(n)))]
    if not len(part):
        return np.full(len(n), np.nan)
    top = len(part) - 1
    # an empty segment reads one value twice, so its unused mean
    # cannot be inf - inf
    lo = part[np.minimum(np.maximum(starts + (n - 1) // 2, starts), top)]
    hi = part[np.minimum(starts + n // 2, top)]
    med = (lo + hi) / 2.0
    med[(n == 0) | np.isnan(part[bounds[1:] - 1])] = np.nan
    return med


def _by_segment(seg: np.ndarray | None, key: np.ndarray) -> np.ndarray:
    """The stable order by ``(seg, key)``, ``seg`` nondecreasing or
    ``None`` for one segment (as in every function here), which sorts
    by ``key`` alone."""
    if seg is None:
        return np.argsort(key, kind="stable")
    return np.lexsort((key, seg))


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


def _searchsorted_within(
    seg: np.ndarray | None, a: np.ndarray, qseg: np.ndarray | None, left: np.ndarray,
    right: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """``np.searchsorted`` inside segments: ``a`` is sorted by
    ``(seg, a)``, and each query searches only the run of its own
    segment ``qseg``, ``left`` with ``side="left"`` and ``right`` (if
    given; else the second result is empty) with ``side="right"``.
    Returns indices into ``a``. One lexsort of data and queries
    together: a left query sorts before the data it equals, a right one
    after, and a NaN query after its whole segment, as
    ``np.searchsorted`` places them. One segment (``seg`` ``None``) is
    ``np.searchsorted`` itself."""
    right = left[:0] if right is None else right
    if seg is None:
        return a.searchsorted(left), a.searchsorted(right, side="right")
    vals = np.concatenate([left, a, right])
    segs = np.concatenate([qseg, seg, qseg[:len(right)]])
    tie = np.repeat(np.array([0, 1, 2], dtype=np.int8), [len(left), len(a), len(right)])
    order = np.lexsort((tie, vals, segs))
    data = tie[order] == 1
    at = np.empty(len(order), dtype=np.int64)
    at[order] = np.cumsum(data) - data  # data strictly before each slot
    return at[:len(left)], at[len(left) + len(a):]


def _line_runs(
    chars: CharArrays, y_tolerance, char_margin: float | None = None,
    seg: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Cluster chars into text lines by vertical center, every segment
    at once: line ``i`` is ``members[bounds[i]:bounds[i + 1]]``.

    ``seg`` is each char's segment (nondecreasing, one page each) and
    ``y_tolerance`` one tolerance per segment; with no ``seg`` the
    chars are one segment and ``y_tolerance`` a number. Vectorized form of the
    reference's line grouping (``utils.py:585-631``): sort each
    segment's vertical centers descending (top of page first) and start
    a new line wherever the gap between two consecutive centers is >=
    the segment's tolerance, and at every segment's first char; then
    order each line's chars left-to-right (ties keep the y-order). When
    ``char_margin`` is given, a y-line is additionally split where the
    horizontal gap between consecutive chars exceeds ``char_margin ×
    char_width`` (pdfminer LAParams char_margin — this is what
    separates side-by-side columns). The sort keeps the segments in
    place, so a line's segment is ``seg`` at its first position."""
    n = len(chars)
    if n == 0:
        return np.empty(0, dtype=np.int64), np.zeros(1, dtype=np.int64)
    yc = (chars.y0 + chars.y1) * 0.5
    order = _by_segment(seg, -yc)
    yc_sorted = yc[order]
    # new line where the descending center drops by >= tolerance
    breaks = np.empty(n, dtype=bool)
    breaks[0] = True
    if n > 1:
        if seg is None:
            breaks[1:] = (yc_sorted[:-1] - yc_sorted[1:]) >= y_tolerance
        else:
            breaks[1:] = (yc_sorted[:-1] - yc_sorted[1:]) >= y_tolerance[seg[1:]]
            breaks[1:] |= seg[1:] != seg[:-1]
    # members of line k are CONTIGUOUS in `order` (breaks are cuts in
    # the y-sorted sequence): ONE stable lexsort orders every line's
    # members by x0 (ties keep the y-order), and the char_margin
    # sub-split is one vector compare over the batch
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
    matter.

    Min-label pointer jumping: every node points at a node no larger
    than itself, at first itself. Each round hooks the larger root of
    every edge whose ends have different roots under the smaller one,
    then jumps pointers until every node points at its root. A root is
    the smallest node of its tree, so once no edge joins two trees each
    component is labelled by its smallest member, as union-find with
    the larger root under the smaller labels it (the label VALUE
    matters: it orders the boxes)."""
    label = np.arange(n, dtype=np.int64)
    while True:
        a, b = label[ii], label[jj]
        apart = a != b
        if not apart.any():
            return label
        a, b = a[apart], b[apart]
        np.minimum.at(label, np.maximum(a, b), np.minimum(a, b))
        while True:
            up = label[label]
            if np.array_equal(up, label):
                break
            label = up


def _window_pairs(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Every ``(p, q)`` with ``lo[p] <= q < hi[p]``, grouped by ``p``."""
    counts = hi - lo
    p = np.repeat(np.arange(len(lo)), counts)
    first = np.cumsum(counts) - counts  # p's first slot in the pair list
    return p, np.arange(len(p)) + np.repeat(lo - first, counts)


def _box_labels(
    chars: CharArrays, members: np.ndarray, bounds: np.ndarray, line_margin: float,
    lseg: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The box label of every line of :func:`_line_runs` (the
    smallest line index in its box) and the line hulls as rows
    ``lx0, ly0, lx1, ly1, height``; ``lseg`` is each line's segment
    (nondecreasing; ``None``: one), and no box crosses a segment.

    pdfminer groups two lines into one box when they overlap
    horizontally and their vertical gap is below
    ``line_margin * line_height``. Candidate pairs come from a y-band
    sweep (SparkER's blocking: generate the pairs that can match, then
    test them): lines sorted by (segment, bottom edge ``ly0``); a pair
    can only match when its ``ly0`` values lie within ``(1 +
    |line_margin|) × |height|`` of its taller line, so each line's
    window is that wide on both sides (widened by 1e-9 relative to its
    segment's extent for float rounding), searched within its segment
    only, and each pair is kept from one window only. Sizing the window
    per line keeps one very tall line from widening every other line's
    window. The exact pairwise predicate then runs on the candidates
    and the surviving edges go to :func:`_connected_components`, so
    time and memory follow lines + candidate pairs, not L².

    A line with a NaN coordinate fails every comparison of the
    predicate and stays a box of its own. A line whose y extent is not
    finite has no finite window, so it is tested against every other
    line of its segment directly (it can truly match them all); such
    lines, and many lines sharing one y-band, are the inputs whose
    candidates grow faster than L.
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
    s = _by_segment(lseg, ly0)
    if not all_swept:
        s = s[swept[s]]
    ci = cj = s
    if len(s):
        ys = ly0[s]
        hs = np.abs(height[s])
        m = abs(line_margin)
        # per segment: its lowest and highest ly0 and its tallest line
        if lseg is None:
            sseg = None
            w = (1.0 + m) * hs + 1e-9 * (max(-ys[0], ys[-1]) + (2.0 + m) * hs.max())
        else:
            sseg = lseg[s]
            first = np.flatnonzero(np.concatenate([[True], sseg[1:] != sseg[:-1]]))
            runs = np.diff(np.append(first, len(s)))
            reach = np.maximum(-ys[first], ys[first + runs - 1])
            tallest = np.maximum.reduceat(hs, first)
            w = (1.0 + m) * hs + (1e-9 * (reach + (2.0 + m) * tallest)).repeat(runs)
        lo, hi = _searchsorted_within(sseg, ys, sseg, ys - w, ys + w)
        a, b = _window_pairs(lo, hi)
        # keep (a, b) from a's window when b is above a, and from below
        # only when a is outside b's own upward window
        keep = (b > a) | (hi[b] <= a)
        ci, cj = s[a[keep]], s[b[keep]]
    if not all_swept:
        no_nan = ~np.isnan(hull).any(axis=0)
        wild = np.flatnonzero(no_nan & ~swept)
        every = np.flatnonzero(no_nan)  # in line order, so by segment
        if lseg is None:
            lo, hi = np.zeros(len(wild), dtype=np.int64), np.full(len(wild), len(every))
        else:
            eseg = lseg[every]
            lo, hi = eseg.searchsorted(lseg[wild]), eseg.searchsorted(lseg[wild], side="right")
        p, q = _window_pairs(lo, hi)
        ci = np.concatenate([ci, wild[p]])
        cj = np.concatenate([cj, every[q]])
    # exact predicate: horizontal overlap AND vertical gap < line_margin
    # * max(height) (gap > 0 between vertically disjoint lines)
    x0i, y0i, x1i, y1i, hgt_i = hull[:, ci]
    x0j, y0j, x1j, y1j, hgt_j = hull[:, cj]
    edge = (
        (x0i < x1j) & (x1i > x0j)
        & (np.maximum(y0i - y1j, y0j - y1i) < line_margin * np.maximum(hgt_i, hgt_j))
    )
    return _connected_components(L, ci[edge], cj[edge]), hull


def order_boxes_reading(bb: np.ndarray, seg: np.ndarray | None = None) -> np.ndarray:
    """Reading order of the boxes ``bb`` (rows ``x0, y0, x1, y1``),
    segment by segment: ``seg`` is each box's segment (nondecreasing,
    one page each; ``None``: one page), and the result lists every box
    index, each segment's boxes in its reading order (column-major).

    Column-aware: boxes whose x-intervals transitively overlap
    (strictly: ``x0ᵢ < x1ⱼ and x0ⱼ < x1ᵢ``) form a column; columns read
    left-to-right, boxes within a column top-to-bottom. On
    single-column pages this degenerates to plain top-down order,
    matching the reference's sort key ``(page, page_height - y0)``
    (``process.py:202-207``); on multi-column fixtures it yields
    column-major order like pdfminer's box-flow ordering.

    Columns come from a 1-D interval sweep: the boxes with ``x0 < x1``
    sorted by (segment, ``x0``), a new column at each segment's first
    box and wherever ``x0`` reaches the running max of ``x1`` before
    it. Over several segments that running max is
    ``np.maximum.accumulate`` over the integer keys (segment, rank of
    ``x1``), so it stays in its segment and compares values (a
    per-segment offset added to the floats would change ties and zero
    signs). A box with ``x1 <= x0`` (zero width, or inverted) joins at
    most one column: that of the last sorted box of its segment whose
    ``x0`` is below its ``x1``, if the running max there passes its
    ``x0``. A box with a NaN x overlaps nothing. A column is labelled
    by its smallest box index and keyed by its smallest ``x0`` (inf for
    a lone box whose ``x0`` is NaN), and one lexsort by (segment, key,
    label, ``-y1``, ``x0``) orders the batch.

    A NaN ``y1`` in a column of two or more boxes compares neither
    below nor above the others under the per-page loop's Python tuple
    sort; no array sort gives that order, so such a segment alone is
    sorted by those tuples, as before.
    """
    B = bb.shape[1]
    bx0, bx1, by1 = bb[0], bb[2], bb[3]
    valid = np.flatnonzero(bx0 < bx1)
    order = valid[_by_segment(None if seg is None else seg[valid], bx0[valid])]
    x0s, x1s = bx0[order], bx1[order]
    new = np.ones(len(order), dtype=bool)
    if seg is None:
        vseg = None
        reach = np.maximum.accumulate(x1s)
        np.greater_equal(x0s[1:], reach[:-1], out=new[1:])
    else:
        vseg = seg[order]
        ux1 = np.sort(x1s)  # a value's rank: its first slot here (±0.0 tie)
        key = vseg * len(ux1) + ux1.searchsorted(x1s)
        reach = ux1[np.maximum.accumulate(key) - vseg * len(ux1)]
        new[1:] = (vseg[1:] != vseg[:-1]) | (x0s[1:] >= reach[:-1])
    col = np.cumsum(new) - 1  # each sorted box's column
    head = np.flatnonzero(new)  # each column's first sorted box
    lab = np.minimum.reduceat(order, head) if len(order) else order
    members, member_col = order, col
    zw = np.flatnonzero(bx1 <= bx0)
    if len(zw) and len(order):
        zseg = None if seg is None else seg[zw]
        k, _ = _searchsorted_within(vseg, x0s, zseg, bx1[zw])
        at = np.maximum(k - 1, 0)
        joins = (k > 0) & (reach[at] > bx0[zw])
        if seg is not None:
            joins &= vseg[at] == zseg
        if joins.any():
            members = np.concatenate([order, zw[joins]])
            member_col = np.concatenate([col, col[at[joins]]])
            np.minimum.at(lab, member_col[len(order):], zw[joins])
    label = np.arange(B)
    label[members] = lab[member_col]
    minx = np.fmin(bx0, np.inf)  # a NaN x0 keys as inf
    minx[members] = x0s[head][member_col]
    neg_y1 = -by1
    keys = (bx0, neg_y1, label, minx)
    perm = np.lexsort(keys if seg is None else keys + (seg,))
    if np.isnan(by1).any():
        shared = members[np.bincount(member_col)[member_col] > 1]
        nan_shared = shared[np.isnan(by1[shared])]
        seg = np.zeros(B, dtype=np.int64) if seg is None else seg
        for s in np.unique(seg[nan_shared]).tolist():
            lo, hi = int(seg.searchsorted(s)), int(seg.searchsorted(s, side="right"))
            rows = list(zip(minx[lo:hi].tolist(), label[lo:hi].tolist(),
                            neg_y1[lo:hi].tolist(), bx0[lo:hi].tolist()))
            local = sorted(range(hi - lo), key=rows.__getitem__)
            perm[lo:hi] = lo + np.array(local, dtype=np.int64)
    return perm


def assemble_boxes(
    pages: list[int],
    chars: CharArrays,
    members: np.ndarray,
    bounds: np.ndarray,
    line_order: np.ndarray,
    box_bounds: np.ndarray,
    bboxes: list,
    word_margin: float,
    char_index_base: np.ndarray,
) -> list[Box]:
    """Every box of a layout pass, assembled at once.

    Line ``i`` holds the chars ``members[bounds[i]:bounds[i + 1]]``,
    left to right; box ``b`` holds the lines
    ``line_order[box_bounds[b]:box_bounds[b + 1]]``, top to bottom,
    and has the page ``pages[b]`` and the bbox ``bboxes[b]``. The joins
    are pdfminer's: a space goes before a char whose gap to the
    previous char of its line exceeds ``word_margin * width(char)``
    (LTTextLineHorizontal.add), lines join with "\\n"
    (``horizontal_box.py:93-95,144-147,197-200``). fontname/ncolor lift
    to a box iff identical across its chars (:func:`_uniform`).
    ``char_index_base`` maps positions in ``chars`` to document char
    indices.

    The text of the whole pass is one string with every box's lines
    in order: a glyph, separator or "\\n" per slot, scattered into one
    buffer. Each box's ``text``, ``char_idx``, ``offsets`` and
    ``line_spans`` are slices of pass arrays, so only the ``Box``
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
    # a <U1 glyph array is one UTF-32 buffer: the batch string is ONE
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
        for b, (page, bbox) in enumerate(zip(pages, bboxes))
    ]


def _box_hulls(hull: np.ndarray, box: np.ndarray, box_bounds: np.ndarray) -> np.ndarray:
    """Box bboxes, rows ``x0, y0, x1, y1``, from the line hulls, as
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
    return bb


def build_boxes(
    chars: CharArrays, bounds: np.ndarray, cfg: ExtractConfig, char_index: np.ndarray,
) -> tuple[list[Box], np.ndarray]:
    """Full char→line→box assembly of every segment
    ``chars[bounds[s]:bounds[s + 1]]`` (one page each) in one pass.

    Returns the boxes of every segment in reading order
    (:func:`order_boxes_reading`), segment ``s``'s being
    ``boxes[box_bounds[s]:box_bounds[s + 1]]``. Each segment's line
    tolerance comes from its own median char height; ``char_index``
    maps positions in ``chars`` to document char indices."""
    S = len(bounds) - 1
    if len(chars) == 0:
        return [], np.zeros(S + 1, dtype=np.int64)
    y_tol = np.maximum(cfg.line_overlap * _median1d(chars.y1 - chars.y0, bounds), 1e-9)
    if S == 1:  # one segment: no segment keys
        lseg = None
        members, lbounds = _line_runs(chars, y_tol[0], cfg.char_margin)
    else:
        seg = np.arange(S).repeat(bounds[1:] - bounds[:-1])
        members, lbounds = _line_runs(chars, y_tol, cfg.char_margin, seg)
        lseg = seg[lbounds[:-1]]
    labels, hull = _box_labels(chars, members, lbounds, cfg.line_margin, lseg)
    # dense box ids in label order (a label is its box's smallest line)
    root = labels == np.arange(len(labels))
    box = (np.cumsum(root) - 1)[labels]
    B = int(root.sum())
    box_bounds = np.zeros(B + 1, dtype=np.int64)
    np.cumsum(np.bincount(box), out=box_bounds[1:])
    bb = _box_hulls(hull, box, box_bounds)
    if lseg is None:
        bseg, seg_bounds = None, np.array([0, B])
    else:
        bseg = lseg[root]
        seg_bounds = np.zeros(S + 1, dtype=np.int64)
        np.cumsum(np.bincount(bseg, minlength=S), out=seg_bounds[1:])
    first = np.minimum(bounds[:-1], len(chars) - 1)  # an empty segment has no boxes
    boxes = assemble_boxes(
        chars.page[first].repeat(seg_bounds[1:] - seg_bounds[:-1]).tolist(),
        chars, members, lbounds,
        np.lexsort((-hull[3], box)),  # each box's lines by descending ly1
        box_bounds, bb.T.tolist(), cfg.word_margin, char_index,
    )
    return [boxes[i] for i in order_boxes_reading(bb, bseg).tolist()], seg_bounds


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
    chars: CharArrays, page_w, page_h, cfg: ExtractConfig
) -> np.ndarray:
    """Static page-crop filter (F1): keep chars inside crop margins
    (``textbox.py:963-975``, ``parameters.py:131-136``); ``page_w``
    and ``page_h`` are the page size, or each char's page's."""
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


# The most chars one pass lays out, in whole pages (a larger page is a
# pass of its own). A pass's arrays are alive at once, so this bounds a
# batch's layout memory as the per-page pass bounded a page's. Over
# the corpus_resumable rows of seed 5 (256-row batches, one core),
# layout took 0.21-0.24 s in passes of 8k chars, with a traced peak of
# 8.5 MB per batch; 4k: 0.31-0.33 s; 32k: 0.24-0.27 s, 11.5 MB; whole
# batches: 0.26-0.31 s, 14.4 MB (the per-page pass: 0.74 s, 0.9 MB).
_PASS_CHARS = 1 << 13


def boxes_for_page(
    docs: list[tuple[CharArrays, np.ndarray, list[tuple[float, float]]]],
    cfg: ExtractConfig,
) -> list[list[list[Box]]]:
    """The noise-filtered, crop-filtered boxes of every page of every
    document in ``docs``, laid out together.

    Each document is ``(chars, bounds, sizes)``: page ``i`` holds the
    chars ``bounds[i]:bounds[i + 1]`` (:meth:`CharArrays.keep_pages`)
    and has the size ``sizes[i] = (width, height)``. Returns, per
    document, each page's boxes in reading order, their ``char_idx``
    indexing that document's chars. The pages, document by document,
    are the segments of :func:`build_boxes` passes of up to
    ``_PASS_CHARS`` chars each; the crop mask takes each char's page
    size, the noise filter runs per box. Packed ``<U1`` text and object
    text go in separate passes, so the ``<U1`` documents keep the
    one-buffer text assembly."""
    out: list[list[list[Box]]] = [[[] for _ in sizes] for _, _, sizes in docs]
    for u1 in (True, False):
        run: list[tuple[int, int]] = []  # (document, page) of the next pass
        size = 0
        for d, (chars, bounds, _) in enumerate(docs):
            if (chars.text.dtype == _U1) != u1:
                continue
            for i, n in enumerate((bounds[1:] - bounds[:-1]).tolist()):
                if run and size + n > _PASS_CHARS:
                    _lay_out_pass(docs, run, cfg, out)
                    run, size = [], 0
                run.append((d, i))
                size += n
        if run:
            _lay_out_pass(docs, run, cfg, out)
    return out


def _lay_out_pass(docs: list, run: list[tuple[int, int]], cfg: ExtractConfig, out: list) -> None:
    """One :func:`build_boxes` pass over the pages ``run`` (``(document,
    page)`` in order) of ``docs``; their boxes go to ``out``."""
    index, bounds, sizes = [], [0], []
    for d, i in run:
        _, page_bounds, page_sizes = docs[d]
        lo, hi = int(page_bounds[i]), int(page_bounds[i + 1])
        if index and index[-1][0] == d and index[-1][2] == lo:
            index[-1][2] = hi  # the next page of the same document
        else:
            index.append([d, lo, hi])
        bounds.append(bounds[-1] + hi - lo)
        sizes.append(page_sizes[i])
    parts = [docs[d][0].take(slice(lo, hi)) for d, lo, hi in index]
    chars = parts[0] if len(parts) == 1 else CharArrays.concat(parts)
    char_index = np.concatenate([np.arange(lo, hi) for _, lo, hi in index])
    bounds = np.array(bounds, dtype=np.int64)
    if cfg.crop_top or cfg.crop_right or cfg.crop_bottom or cfg.crop_left:
        w, h = np.array(sizes, dtype=np.float64).reshape(-1, 2).T
        seg = np.arange(len(run)).repeat(bounds[1:] - bounds[:-1])
        keep = crop_mask(chars, w[seg], h[seg], cfg)
        if not keep.all():
            chars, char_index = chars.take(keep), char_index[keep]
            kept = np.zeros(len(keep) + 1, dtype=np.int64)
            np.cumsum(keep, out=kept[1:])
            bounds = kept[bounds]
    boxes, box_bounds = build_boxes(chars, bounds, cfg, char_index)
    for (d, i), lo, hi in zip(run, box_bounds[:-1].tolist(), box_bounds[1:].tolist()):
        out[d][i] = [b for b in boxes[lo:hi] if not is_noise(b.text)]
