"""Equivalence pins for the layout kernel's rewrites.

Each rewrite below replaced a slower exact form; these tests pin the
bit-level equivalence argument so a future refactor cannot silently
change grouping or medians:

* the segmented ``_median1d`` vs ``np.median`` and the one-page
  partition median it replaced (selection, even-count mean, NaN
  propagation per segment);
* ``_connected_components`` (min-label pointer jumping) vs min-label
  propagation over the adjacency matrix and the edge-list union-find
  it replaced — the label VALUE is load-bearing (it orders the boxes);
* ``_line_runs`` as one-page ``group_lines`` (one stable lexsort +
  global char_margin cut) vs the per-line reference loop;
* the sort-based sweeps of ``_box_labels`` (y-band candidate pairs,
  as one-page ``group_boxes``) and ``order_boxes_reading`` (segmented
  1-D interval sweep) vs the all-pairs dense forms they replaced, and
  the reading order vs the per-box column loop it replaced, page by
  page and over batches of pages;
* the one char→line→box path (every box of a page in one
  ``assemble_boxes`` pass) for table cells and pages, and word cuts
  read from the assembled offsets, vs the per-char cell loop with
  ``assemble_line_text``, the per-line ``assemble_lines_bulk`` with
  the per-box loop of ``build_boxes`` (over the old union-find, the
  old reading-order loop and the old median), and the gap-rule
  ``box_words_lines`` they replaced, kept below as oracles. Both text
  oracles put the word space before a flagged glyph whenever a line
  holds a glyph that is not one char (see
  ``test_word_space_before_ligature_next_to_empty_glyph``);
* the batch pass: every turn of a batch laid out together reads as it
  reads alone.
"""
from __future__ import annotations

import warnings

import numpy as np

from libpdf_spark.config import ExtractConfig
from libpdf_spark.kernel.geometry import chars_in_bbox_mask, crop_cell_box
from libpdf_spark.kernel import layout
from libpdf_spark.kernel.layout import (
    Box,
    CharArrays,
    _box_labels,
    _connected_components,
    _line_runs,
    _median1d,
    _uniform,
    assemble_boxes,
    box_words_lines,
    build_boxes,
    order_boxes_reading,
)


# --- one-page forms of the segmented kernel, as the package had them --------
def group_lines(chars, y_tolerance, char_margin=None):
    """The lines of :func:`_line_runs` over one page, one index array
    each, top to bottom."""
    members, bounds = _line_runs(chars, y_tolerance, char_margin)
    bl = bounds.tolist()
    return [members[a:b] for a, b in zip(bl[:-1], bl[1:])]


def group_boxes(chars, lines, line_margin):
    """The labels of :func:`_box_labels` over one page's ``lines`` as
    lists of line indices per box (ordered by their smallest line),
    and the line hulls ``(lx0, ly0, lx1, ly1)``."""
    if not lines:
        return [], None
    bounds = np.zeros(len(lines) + 1, dtype=np.int64)
    np.cumsum([len(line) for line in lines], out=bounds[1:])
    labels, hull = _box_labels(chars, np.concatenate(lines), bounds, line_margin)
    boxes: dict[int, list[int]] = {}
    for i, lab in enumerate(labels.tolist()):
        boxes.setdefault(lab, []).append(i)
    return list(boxes.values()), tuple(hull[:4])


def _page_boxes(chars, cfg, char_index_base=None):
    """:func:`build_boxes` over ``chars`` as one page."""
    if char_index_base is None:
        char_index_base = np.arange(len(chars), dtype=np.int64)
    boxes, _ = build_boxes(chars, np.array([0, len(chars)]), cfg, char_index_base)
    return boxes


def _reading_order(metas, seg=None):
    """:func:`order_boxes_reading` over ``(x0, y0, x1, y1)`` tuples."""
    return order_boxes_reading(np.array(metas, dtype=np.float64).reshape(-1, 4).T, seg).tolist()


# --- the step-2a forms the segmented kernel replaced, kept as oracles -------
def _union_find_cc(n, ii, jj):
    """Edge-list union-find attaching the larger root under the
    smaller: the ``_connected_components`` the pointer jumping
    replaced."""
    parent = list(range(n))

    def find(x):
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


def _old_median1d(a):
    """The one-page partition median the segmented median replaced."""
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


def _old_order_boxes_reading(boxes_meta):
    """The per-box column loop ``order_boxes_reading`` was on one page."""
    from bisect import bisect_left

    B = len(boxes_meta)
    bx0 = [b[0] for b in boxes_meta]
    bx1 = [b[2] for b in boxes_meta]
    order = sorted((i for i in range(B) if bx0[i] < bx1[i]), key=bx0.__getitem__)
    x0s = [bx0[i] for i in order]
    columns: list[list[int]] = []
    col: list[int] = []
    reach: list[float] = []
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


def _old_cc(adjacent: np.ndarray) -> np.ndarray:
    n = adjacent.shape[0]
    adj = adjacent | np.eye(n, dtype=bool)
    labels = np.arange(n)
    while True:
        neigh = np.where(adj, labels[None, :], n)
        new = neigh.min(axis=1)
        if np.array_equal(new, labels):
            return labels
        labels = new


class _Page:
    """Minimal CharArrays stand-in (group_lines touches x0/x1/y0/y1)."""

    def __init__(self, x0, x1, y0, y1):
        self.x0, self.x1, self.y0, self.y1 = x0, x1, y0, y1

    def __len__(self):
        return len(self.x0)


def _old_group_lines(chars, y_tolerance, char_margin=None):
    n = len(chars)
    if n == 0:
        return []
    yc = (chars.y0 + chars.y1) * 0.5
    order = np.argsort(-yc, kind="stable")
    yc_sorted = yc[order]
    breaks = np.empty(n, dtype=bool)
    breaks[0] = True
    if n > 1:
        breaks[1:] = (yc_sorted[:-1] - yc_sorted[1:]) >= y_tolerance
    lines = []
    for members in np.split(order, np.flatnonzero(breaks[1:]) + 1):
        members = members[np.argsort(chars.x0[members], kind="stable")]
        if char_margin is None or len(members) < 2:
            lines.append(members)
            continue
        widths = chars.x1[members] - chars.x0[members]
        hgaps = chars.x0[members][1:] - chars.x1[members][:-1]
        split_after = hgaps > char_margin * widths[1:]
        if not split_after.any():
            lines.append(members)
            continue
        lines.extend(np.split(members, np.flatnonzero(split_after) + 1))
    return lines


def test_median1d_matches_np_median():
    rng = np.random.default_rng(7)
    for trial in range(3000):
        n = int(rng.integers(1, 50))
        a = rng.normal(10.0, 3.0, n)
        if trial % 5 == 0:
            a[rng.integers(0, n)] = np.nan
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            ref = float(np.median(a))
        got = float(_median1d(a.copy(), np.array([0, n]))[0])
        assert ref == got or (np.isnan(ref) and np.isnan(got)), (n, ref, got)


def test_median1d_tiny_and_even():
    def one(*v):
        return float(_median1d(np.array(v), np.array([0, len(v)]))[0])

    assert one(4.0) == 4.0
    assert one(1.0, 2.0) == 1.5
    assert one(3.0, 1.0, 2.0) == 2.0


def test_median1d_per_segment():
    """Each segment's median is the one it has alone: NaN stays in its
    own segment, an empty segment reads NaN, and ±inf and ±0.0
    neighbours do not leak."""
    rng = np.random.default_rng(8)
    for trial in range(500):
        sizes = rng.integers(0, 12, int(rng.integers(1, 9)))
        parts = [rng.choice([0.0, -0.0, 1.5, 3.0, np.inf, -np.inf, np.nan], k)
                 if trial % 3 == 0 else rng.normal(10.0, 3.0, k) for k in sizes]
        bounds = np.zeros(len(sizes) + 1, dtype=np.int64)
        np.cumsum(sizes, out=bounds[1:])
        with np.errstate(invalid="ignore"):
            got = _median1d(np.concatenate(parts), bounds)
            alone = [_median1d(p, np.array([0, len(p)]))[0] for p in parts]
        for k, (g, part, a) in enumerate(zip(got.tolist(), parts, alone)):
            if len(part) == 0:
                assert np.isnan(g), (trial, k)
                continue
            with warnings.catch_warnings(), np.errstate(invalid="ignore"):
                warnings.simplefilter("ignore")
                ref = float(np.median(part))
            with np.errstate(invalid="ignore"):
                old = _old_median1d(part.copy())
            assert repr(g) == repr(float(a)), (trial, k)
            assert g == old or (np.isnan(g) and np.isnan(old)), (trial, k)
            assert g == ref or (np.isnan(g) and np.isnan(ref)) or np.isinf(part).any(), (trial, k)


def test_connected_components_matches_min_label_propagation():
    rng = np.random.default_rng(11)
    for _ in range(800):
        n = int(rng.integers(1, 35))
        m = rng.random((n, n)) < rng.random() * 0.35
        m = m | m.T
        np.fill_diagonal(m, False)
        ii, jj = np.nonzero(m)
        assert np.array_equal(_old_cc(m), _connected_components(n, ii, jj))
        assert np.array_equal(_union_find_cc(n, ii, jj), _connected_components(n, ii, jj))
        # one direction of each edge, shuffled, gives the same labels
        up = ii < jj
        perm = rng.permutation(int(up.sum()))
        got = _connected_components(n, jj[up][perm], ii[up][perm])
        assert np.array_equal(_old_cc(m), got)
        assert np.array_equal(_union_find_cc(n, jj[up][perm], ii[up][perm]), got)


def test_connected_components_long_chains_and_empty():
    # a path numbered against the hooking direction and a shuffled
    # path both end with every node under node 0; no edges, no rounds
    rng = np.random.default_rng(12)
    n = 3000
    for path in (np.arange(n)[::-1], rng.permutation(n)):
        got = _connected_components(n, path[:-1], path[1:])
        assert np.array_equal(got, np.zeros(n, dtype=np.int64))
        assert np.array_equal(got, _union_find_cc(n, path[:-1], path[1:]))
    none = np.empty(0, dtype=np.int64)
    assert np.array_equal(_connected_components(4, none, none), np.arange(4))
    assert _connected_components(0, none, none).tolist() == []


def test_group_lines_matches_per_line_reference():
    rng = np.random.default_rng(13)
    for trial in range(300):
        nlines = int(rng.integers(1, 30))
        perline = int(rng.integers(1, 40))
        n = nlines * perline
        y0 = np.repeat(700 - 12.0 * np.arange(nlines), perline)
        y0 = y0 + rng.normal(0, 0.4, n)
        x0 = np.tile(50 + 6.0 * np.arange(perline), nlines)
        x0 = x0 + rng.normal(0, 0.2, n)
        # duplicate x0 values exercise the stable-tie path
        if trial % 3 == 0:
            x0 = np.round(x0, 0)
        page = _Page(x0, x0 + rng.uniform(3, 7, n), y0, y0 + 10.0)
        margin = None if trial % 4 == 0 else float(rng.uniform(0.5, 6.0))
        a = _old_group_lines(page, 5.0, margin)
        b = group_lines(page, 5.0, margin)
        assert len(a) == len(b)
        for x, y in zip(a, b):
            assert np.array_equal(x, y)


def test_assemble_boxes_view_fast_path_and_empty_slot_fallback():
    """The <U1 page-string view must render identically to the object
    path, and an empty slot ('' — numpy NUL padding) must take the
    fallback and render '' exactly as before."""
    n, nlines = 48, 4
    per = n // nlines

    class P:
        def __init__(self, text):
            self.x0 = np.tile(50 + 6.0 * np.arange(per), nlines)
            # a wide gap before char 3 of each line -> one word space
            self.x0[3::per] += 30.0
            self.x1 = self.x0 + 5.5
            self.y0 = np.repeat(700 - 12.0 * np.arange(nlines), per)
            self.y1 = self.y0 + 10.0
            self.text = text
            self.fontname = self.ncolor = np.full(n, None, dtype=object)

        def __len__(self):
            return len(self.x0)

    def one_box_per_line(glyphs, dtype):
        bounds = np.arange(0, n + 1, per)
        boxes = assemble_boxes(
            [1] * nlines, P(np.array(glyphs, dtype=dtype)), np.arange(n), bounds,
            np.arange(nlines), np.arange(nlines + 1), [(0.0, 0.0, 1.0, 1.0)] * nlines,
            0.1, np.arange(n),
        )
        return [(b.text, b.offsets) for b in boxes]

    glyphs = list("abcdefghijkl" * (n // 12))
    u1 = one_box_per_line(glyphs, "<U1")
    obj = one_box_per_line(glyphs, object)
    assert [t for t, _ in u1] == [t for t, _ in obj]
    assert all(np.array_equal(a, b) for (_, a), (_, b) in zip(u1, obj))
    assert " " in u1[0][0]  # the word gap rendered

    # empty slot: both dtypes must agree (fallback path) and keep ''
    glyphs2 = list(glyphs)
    glyphs2[5] = ""
    u1e = one_box_per_line(glyphs2, "<U1")
    obje = one_box_per_line(glyphs2, object)
    assert [t for t, _ in u1e] == [t for t, _ in obje]
    assert len(u1e[0][0]) == len(u1[0][0]) - 1


# --- all-pairs oracles for the box grouping and reading order ---------------
def _dense_cc(adjacent: np.ndarray) -> np.ndarray:
    """Union-find over the upper triangle of a symmetric adjacency
    matrix (the pre-sweep ``_connected_components``)."""
    n = adjacent.shape[0]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ii, jj = np.nonzero(adjacent)
    keep = ii < jj
    for i, j in zip(ii[keep].tolist(), jj[keep].tolist()):
        ri, rj = find(i), find(j)
        if ri != rj:
            if ri < rj:
                parent[rj] = ri
            else:
                parent[ri] = rj
    return np.fromiter((find(i) for i in range(n)), dtype=np.int64, count=n)


def _dense_group_boxes(chars, lines, line_margin):
    L = len(lines)
    if L == 0:
        return [], None
    cat = np.concatenate(lines)
    starts = np.zeros(L, dtype=np.int64)
    np.cumsum(np.array([len(l) for l in lines], dtype=np.int64)[:-1], out=starts[1:])
    lx0 = np.minimum.reduceat(chars.x0[cat], starts)
    lx1 = np.maximum.reduceat(chars.x1[cat], starts)
    ly0 = np.minimum.reduceat(chars.y0[cat], starts)
    ly1 = np.maximum.reduceat(chars.y1[cat], starts)
    height = ly1 - ly0
    x_overlap = (lx0[:, None] < lx1[None, :]) & (lx1[:, None] > lx0[None, :])
    gap = np.maximum(ly0[:, None] - ly1[None, :], ly0[None, :] - ly1[:, None])
    tol = line_margin * np.maximum(height[:, None], height[None, :])
    labels = _dense_cc(x_overlap & (gap < tol))
    boxes: dict[int, list[int]] = {}
    for i, lab in enumerate(labels):
        boxes.setdefault(int(lab), []).append(i)
    return list(boxes.values()), (lx0, ly0, lx1, ly1)


def _dense_order_boxes_reading(boxes_meta):
    B = len(boxes_meta)
    if B == 0:
        return []
    bx0 = np.array([b[0] for b in boxes_meta])
    bx1 = np.array([b[2] for b in boxes_meta])
    by1 = np.array([b[3] for b in boxes_meta])
    overlap = (bx0[:, None] < bx1[None, :]) & (bx1[:, None] > bx0[None, :])
    labels = _dense_cc(overlap)
    col_minx = {}
    for i, lab in enumerate(labels):
        col_minx[lab] = min(col_minx.get(lab, np.inf), bx0[i])
    keys = [(col_minx[labels[i]], labels[i], -by1[i], bx0[i]) for i in range(B)]
    return sorted(range(B), key=lambda i: keys[i])


_SPECIAL = (np.nan, np.inf, -np.inf)


def _spoil(rng, arrays, frac):
    """Overwrite a random share of the coordinates with NaN or ±inf."""
    for a in arrays:
        hit = rng.random(len(a)) < frac
        a[hit] = rng.choice(_SPECIAL, int(hit.sum()))


def _random_hulls(rng, kind, n):
    """Line hulls ``(x0, y0, x1, y1)`` of one page of a given family."""
    if kind == "columns":  # multi-column paragraphs, mixed line heights
        ncol = int(rng.integers(1, 4))
        col = rng.integers(0, ncol, n)
        x0 = 50.0 + 180.0 * col + rng.choice([0.0, 6.0, 12.0], n)
        x1 = x0 + rng.choice([60.0, 120.0, 170.0, 180.0], n)
        h = rng.choice([8.0, 10.0, 12.0, 24.0], n)
        y0 = np.zeros(n)
        for c in range(ncol):
            m = np.flatnonzero(col == c)
            steps = h[m] + rng.choice([3.0, 4.0, 4.8, 26.0], len(m))
            y0[m] = 760.0 - np.cumsum(steps)
        return x0, y0, x1, y0 + h
    if kind == "grid":  # integer grid: touching, duplicate x0, zero width
        x0 = rng.integers(0, 12, n).astype(float) * 6.0
        x1 = x0 + rng.integers(0, 4, n) * 6.0
        y0 = rng.integers(0, 20, n).astype(float) * 2.0
        y1 = y0 + rng.choice([0.0, 10.0, 10.0, 4.0], n)
        return x0, y0, x1, y1
    if kind == "tol":  # vertical gaps exactly at (and one ulp around) tol
        h = 10.0
        x0 = np.full(n, 72.0)
        x1 = x0 + 100.0
        gaps = rng.choice([4.0, np.nextafter(4.0, 0.0), np.nextafter(4.0, 9.0), 3.0], n)
        y0 = 700.0 - np.cumsum(h + gaps)
        return x0, y0, x1, y0 + h
    if kind == "band":  # many lines sharing one y-band
        x0 = rng.uniform(0, 500, n)
        x1 = x0 + rng.uniform(-2, 40, n)  # some inverted
        y0 = 300.0 + rng.integers(0, 3, n) * rng.choice([0.5, 11.0])
        return x0, y0, x1, y0 + rng.choice([10.0, 10.0, 2.0, -1.0], n)
    # "wild": arbitrary floats, negative sizes
    x0 = rng.normal(100, 60, n)
    y0 = rng.normal(400, 200, n)
    return x0, y0, x0 + rng.normal(20, 30, n), y0 + rng.normal(8, 6, n)


def _page_lines(rng, hulls):
    """A page whose lines are one char each (the given hull), some with
    a second char at that hull's centre, in shuffled line order."""
    x0, y0, x1, y1 = (np.asarray(a, dtype=float) for a in hulls)
    n = len(x0)
    extra = np.flatnonzero(rng.random(n) < 0.3)
    cx, cy = (x0[extra] + x1[extra]) / 2, (y0[extra] + y1[extra]) / 2
    page = _Page(np.concatenate([x0, cx]), np.concatenate([x1, cx]),
                 np.concatenate([y0, cy]), np.concatenate([y1, cy]))
    lines = [[i] for i in range(n)]
    for k, i in enumerate(extra.tolist()):
        lines[i].append(n + k)
    return page, [np.array(lines[i]) for i in rng.permutation(n)]


def _same_hulls(a, b):
    return all(np.array_equal(x, y, equal_nan=True) for x, y in zip(a, b))


@np.errstate(invalid="ignore")  # inf - inf on the spoiled pages is deliberate
def test_group_boxes_sweep_matches_dense():
    rng = np.random.default_rng(17)
    kinds = ("columns", "grid", "tol", "band", "wild")
    for trial in range(2500):
        kind = kinds[trial % len(kinds)]
        n = int(rng.integers(1, 60))
        hulls = _random_hulls(rng, kind, n)
        if trial % 7 == 3:
            _spoil(rng, hulls, 0.08)
        page, lines = _page_lines(rng, hulls)
        margin = [0.4, 0.4, 0.0, float(rng.uniform(0, 2)), -0.3][trial // 5 % 5]
        exp_groups, exp_hulls = _dense_group_boxes(page, lines, margin)
        groups, got_hulls = group_boxes(page, lines, margin)
        assert groups == exp_groups, (trial, kind)
        assert _same_hulls(got_hulls, exp_hulls)


def test_group_boxes_tol_boundary_is_strict():
    # lines 10 high: a 4.0 gap equals 0.4 * 10 and does not join; one
    # ulp less does
    y1 = np.array([110.0, 96.0, np.nextafter(82.0, 99.0)])
    page = _Page(np.full(3, 72.0), np.full(3, 172.0), y1 - 10.0, y1)
    lines = [np.array([i]) for i in range(3)]
    groups, _ = group_boxes(page, lines, 0.4)
    assert groups == _dense_group_boxes(page, lines, 0.4)[0] == [[0], [1, 2]]


def test_group_boxes_band_edge_survives_rounding():
    # two lines whose gap is about one ulp below tol sit at the edge of
    # the sweep's band; the band's float widening must keep the pair
    rng = np.random.default_rng(23)
    lines = [np.array([0]), np.array([1])]
    for margin in (0.4, 1.3):
        for _ in range(1500):
            h = float(rng.uniform(1, 50))
            y0 = np.array([0.0, h + np.nextafter(margin * h, 0.0)])
            page = _Page(np.zeros(2), np.full(2, 5.0), y0, y0 + h)
            exp = _dense_group_boxes(page, lines, margin)[0]
            assert group_boxes(page, lines, margin)[0] == exp, (margin, h)


def _random_metas(rng, kind, n):
    if kind == "columns":
        col = rng.integers(0, 3, n)
        x0 = 50.0 + 190.0 * col + rng.choice([0.0, 0.0, 30.0], n)
        x1 = x0 + rng.choice([100.0, 150.0, 190.0], n)  # 190: touching
        y1 = rng.uniform(50, 750, n)
        return x0, y1 - 20.0, x1, y1
    if kind == "grid":  # touching, duplicate x0, zero width, inverted
        x0 = rng.integers(0, 10, n).astype(float)
        x1 = x0 + rng.integers(-2, 4, n)
        y1 = rng.integers(0, 5, n).astype(float)
        return x0, y1 - 1.0, x1, y1
    x0 = rng.normal(100, 80, n)
    return x0, rng.normal(0, 1, n), x0 + rng.normal(30, 40, n), rng.normal(300, 200, n)


def test_order_boxes_reading_sweep_matches_dense():
    rng = np.random.default_rng(19)
    kinds = ("columns", "grid", "wild")
    for trial in range(3000):
        n = int(rng.integers(1, 50))
        x0, y0, x1, y1 = _random_metas(rng, kinds[trial % 3], n)
        if trial % 6 == 5:
            _spoil(rng, (x0, x1, y1), 0.1)
        metas = list(zip(x0.tolist(), y0.tolist(), x1.tolist(), y1.tolist()))
        exp = _dense_order_boxes_reading(metas)
        assert _old_order_boxes_reading(metas) == exp, trial
        assert _reading_order(metas) == exp, trial


def test_order_boxes_reading_segments_do_not_leak():
    """Pages of the reading-order trials, in batches of 1–12 segments
    (some empty), read each page as it reads alone: no column, running
    max or zero-width join reaches across a segment."""
    rng = np.random.default_rng(20)
    kinds = ("columns", "grid", "wild")
    for trial in range(400):
        pages = []
        for k in range(int(rng.integers(1, 13))):
            n = int(rng.integers(0, 30))
            x0, y0, x1, y1 = _random_metas(rng, kinds[(trial + k) % 3], n)
            if rng.random() < 0.3:
                _spoil(rng, (x0, x1, y1), 0.1)
            pages.append(list(zip(x0.tolist(), y0.tolist(), x1.tolist(), y1.tolist())))
        seg = np.arange(len(pages)).repeat([len(p) for p in pages])
        got = _reading_order([m for p in pages for m in p], seg)
        base = 0
        for p in pages:
            assert got[base:base + len(p)] == [base + i for i in _old_order_boxes_reading(p)], trial
            base += len(p)


def test_order_boxes_reading_degenerate_boxes():
    # a zero-width box inside a column joins it (and lends it its
    # smaller index); at the column's edge, or inverted across two
    # overlapping boxes without one holding it whole, it stays apart
    cases = [
        [(5.0, 0, 5.0, 9), (0.0, 0, 10.0, 5)],
        [(0.0, 0, 0.0, 9), (0.0, 0, 10.0, 5)],
        [(10.0, 0, 10.0, 9), (0.0, 0, 10.0, 5)],
        [(2.5, 0, 0.5, 9), (0.0, 0, 2.0, 5), (1.0, 0, 3.0, 7)],
        [(2.5, 0, 0.5, 9), (0.0, 0, 3.0, 5), (20.0, 0, 30.0, 7)],
        [(np.nan, 0, 5.0, 9), (0.0, 0, 10.0, 5), (3.0, 0, np.nan, 1)],
        [(np.inf, 0, np.inf, 9), (-np.inf, 0, np.inf, 5), (3.0, 0, 4.0, 1)],
    ]
    for metas in cases:
        exp = _dense_order_boxes_reading(metas)
        assert _old_order_boxes_reading(metas) == exp, metas
        assert _reading_order(metas) == exp, metas


# --- the single box path vs the cell loop, box loop and gap-rule words ------
# Verbatim copies of the forms the shared path replaced: the cell crop
# regrouped chars in a per-char Python loop and assembled each line
# with ``assemble_line_text``; ``build_boxes`` built each Box inline;
# ``box_words_lines`` re-derived word cuts from the gap rule.
def _old_assemble_line_text(
    chars: CharArrays, line: np.ndarray, word_margin: float
) -> tuple[str, np.ndarray]:
    xs0 = chars.x0[line]
    xs1 = chars.x1[line]
    widths = xs1 - xs0
    gaps = np.empty(len(line))
    gaps[0] = 0.0
    if len(line) > 1:
        gaps[1:] = xs0[1:] - xs1[:-1]
    space_before = gaps > word_margin * widths
    space_before[0] = False
    offsets = np.arange(len(line), dtype=np.int64) + np.cumsum(space_before)
    texts = chars.text[line].tolist()
    joined = "".join(texts)
    if not space_before.any():
        return joined, offsets
    if all(len(t) == 1 for t in texts):  # all 1-char glyphs: slice per WORD
        bounds = np.flatnonzero(space_before).tolist()
        segs = []
        prev = 0
        for b in bounds:
            segs.append(joined[prev:b])
            prev = b
        segs.append(joined[prev:])
        return " ".join(segs), offsets
    # rare multi-char glyphs (ligatures): per-char fallback
    flags = space_before.tolist()
    text = "".join(" " + t if sp else t for t, sp in zip(texts, flags))
    return text, offsets


def _old_assemble_lines_bulk(
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
            one_char = all(len(t) == 1 for t in seg)
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


def _old_build_boxes(
    chars: CharArrays,
    cfg: ExtractConfig,
    char_index_base: np.ndarray | None = None,
) -> list[Box]:
    if len(chars) == 0:
        return []
    if char_index_base is None:
        char_index_base = np.arange(len(chars), dtype=np.int64)
    heights = chars.y1 - chars.y0
    med_h = _old_median1d(heights) if len(heights) else 10.0
    y_tol = max(cfg.line_overlap * med_h, 1e-9)
    lines = group_lines(chars, y_tol, char_margin=cfg.char_margin)
    # the box graph's components by the old union-find
    real, layout._connected_components = layout._connected_components, _union_find_cc
    try:
        line_groups, hulls = group_boxes(chars, lines, cfg.line_margin)
    finally:
        layout._connected_components = real
    lx0, ly0, lx1, ly1 = hulls if hulls else (None, None, None, None)
    assembled = _old_assemble_lines_bulk(chars, lines, cfg.word_margin)

    boxes: list[Box] = []
    metas: list[tuple[float, float, float, float]] = []
    for group in line_groups:
        # order lines inside the box top-to-bottom
        group_sorted = sorted(group, key=lambda li: -ly1[li])
        text_parts: list[str] = []
        all_idx: list[np.ndarray] = []
        all_off: list[np.ndarray] = []
        line_spans: list[tuple[int, int]] = []
        cursor = 0
        nchars = 0
        for k, li in enumerate(group_sorted):
            line = lines[li]
            ltext, loff = assembled[li]
            if k > 0:
                cursor += 1  # the "\n" separator (horizontal_box.py:197-200)
            text_parts.append(ltext)
            all_idx.append(char_index_base[line])
            all_off.append(loff + cursor)
            line_spans.append((nchars, nchars + len(line)))
            nchars += len(line)
            cursor += len(ltext)
        text = "\n".join(text_parts)
        idx = np.concatenate(all_idx)
        off = np.concatenate(all_off)
        member_chars = np.concatenate([lines[li] for li in group_sorted])
        x0 = float(min(lx0[li] for li in group))
        y0 = float(min(ly0[li] for li in group))
        x1 = float(max(lx1[li] for li in group))
        y1 = float(max(ly1[li] for li in group))
        boxes.append(
            Box(
                page=int(chars.page[0]),
                x0=x0, y0=y0, x1=x1, y1=y1,
                text=text,
                char_idx=idx,
                offsets=off,
                line_spans=line_spans,
                fontname=_uniform(chars.fontname[member_chars]),
                ncolor=_uniform(chars.ncolor[member_chars]),
            )
        )
        metas.append((x0, y0, x1, y1))

    order = _old_order_boxes_reading(metas)
    return [boxes[i] for i in order]


def _old_box_words_lines(
    chars: CharArrays, box: Box, word_margin: float
) -> tuple[list[dict], list[dict]]:
    words: list[dict] = []
    lines: list[dict] = []
    for li, (a, b) in enumerate(box.line_spans):
        idx = box.char_idx[a:b]  # document-level indices, x-ordered
        n = len(idx)
        x0s = chars.x0[idx]
        x1s = chars.x1[idx]
        widths = x1s - x0s
        if n > 1:
            gaps = x0s[1:] - x1s[:-1]
            breaks = np.flatnonzero(gaps > word_margin * widths[1:]) + 1
            segs = np.split(np.arange(n), breaks)
        else:
            segs = [np.arange(n)]
        line_words: list[dict] = []
        for seg in segs:
            w_idx = idx[seg]
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


def _old_crop_cell_box(
    chars: CharArrays,
    page: int,
    bbox: tuple[float, float, float, float],
    cfg: ExtractConfig,
) -> Box | None:
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

    text_parts: list[str] = []
    all_idx: list[np.ndarray] = []
    all_off: list[np.ndarray] = []
    line_spans: list[tuple[int, int]] = []
    cursor = 0
    nchars = 0
    for k, line in enumerate(lines):
        ltext, loff = _old_assemble_line_text(sub, line, cfg.word_margin)
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


_NCOLORS = (None, (0.0, 0.0, 0.0), (1.0, 0.0, 0.0))
_EDGE = (np.nan, np.inf, -np.inf, 0.0, -0.0)


def _chars(x0, x1, y0, y1, glyphs, page=None, fonts=None, colors=None, u1=False):
    n = len(x0)
    ncolor = np.empty(n, dtype=object)
    ncolor[:] = [None] * n if colors is None else colors
    fontname = np.empty(n, dtype=object)
    fontname[:] = ["F1"] * n if fonts is None else fonts
    text = np.array(glyphs, dtype="<U1" if u1 else object)
    return CharArrays(
        np.ones(n, dtype=np.int32) if page is None else np.asarray(page, dtype=np.int32),
        text, np.asarray(x0, float), np.asarray(y0, float),
        np.asarray(x1, float), np.asarray(y1, float), fontname, ncolor,
    )


def _random_chars(rng, trial):
    """A few text rows with y-center and x0 ties, zero widths and
    heights, close rows, word gaps, 'fi' and '' glyphs, as <U1 or
    object text, some chars on another page."""
    nrows = int(rng.integers(1, 7))
    step = float(rng.choice([12.0, 3.0, 0.6, 0.3]))
    xs, ys, ws, hs = [], [], [], []
    for r in range(nrows):
        k = int(rng.integers(1, 13))
        gaps = rng.choice([0.0, 0.0, 0.2, 1.0, 3.0, 20.0], k)
        w = rng.choice([5.0, 5.0, 3.0, 0.0], k)
        x = 40.0 + np.cumsum(gaps + w) - w
        if trial % 3 == 0:  # integer grid: x0 ties
            x = np.round(x / 6.0) * 6.0
        y = 700.0 - step * r + rng.choice([0.0, 0.0, 0.25, -0.25, 0.1], k)
        xs.append(x); ws.append(w); ys.append(y)
        hs.append(rng.choice([10.0, 10.0, 6.0, 0.0], k))
    x0, w, y0, h = (np.concatenate(a) for a in (xs, ws, ys, hs))
    n = len(x0)
    perm = rng.permutation(n)
    x0, w, y0, h = x0[perm], w[perm], y0[perm], h[perm]
    u1 = trial % 2 == 0
    pool = list("abcdefgh") + ([""] if u1 else ["fi", ""])
    glyphs = [pool[i] for i in rng.integers(0, len(pool), n)]
    fonts = None if trial % 4 else [("F1", "F2")[i] for i in rng.integers(0, 2, n)]
    colors = [_NCOLORS[1]] * n if trial % 5 == 0 else [_NCOLORS[i] for i in rng.integers(0, 3, n)]
    page = np.where(rng.random(n) < 0.1, 2, 1) if trial % 7 == 0 else None
    return _chars(x0, x0 + w, y0, y0 + h, glyphs, page, fonts, colors, u1)


def _spoil_with(rng, arrays, values, frac=0.15):
    for a in arrays:
        hit = rng.random(len(a)) < frac
        a[hit] = rng.choice(values, int(hit.sum()))


def _spoiled(chars, rng):
    """A copy of ``chars`` with segment-edge coordinates: NaN, ±inf
    and ±0.0 x, ±0.0 y."""
    chars = chars.take(np.arange(len(chars)))
    _spoil_with(rng, (chars.x0, chars.x1), _EDGE)
    _spoil_with(rng, (chars.y0, chars.y1), (0.0, -0.0))
    return chars


def _box_fields(b):
    # repr: a NaN equals a NaN, and 0.0 and -0.0 differ
    return (
        type(b.page), b.page, repr((b.x0, b.y0, b.x1, b.y1)), b.text,
        b.char_idx.dtype, b.char_idx.tolist(), b.offsets.dtype, b.offsets.tolist(),
        b.line_spans, b.fontname, b.ncolor,
    )


def _same_box_and_words(chars, got, exp, word_margin):
    if exp is None:
        return got is None
    return (
        _box_fields(got) == _box_fields(exp)
        and repr(box_words_lines(chars, got))
        == repr(_old_box_words_lines(chars, exp, word_margin))
    )


def _assert_cell_and_page_match(chars, bbox, cfg, trial, spoil_page_y=None):
    exp = _old_crop_cell_box(chars, 1, bbox, cfg)
    got = crop_cell_box(chars, 1, bbox, cfg)
    assert _same_box_and_words(chars, got, exp, cfg.word_margin), trial
    on_page = np.flatnonzero(chars.page == 1)
    sub = chars.take(on_page)
    if spoil_page_y is not None:
        # NaN and ±inf y on pages only: a non-finite y-center splits
        # lines by the page rule, which the per-char cell loop does
        # not follow (test_cell_with_overflowing_y_centers_...)
        _spoil_with(spoil_page_y, (sub.y0, sub.y1), _EDGE)
    exp_boxes = _old_build_boxes(sub, cfg, char_index_base=on_page)
    got_boxes = _page_boxes(sub, cfg, char_index_base=on_page)
    assert len(got_boxes) == len(exp_boxes), trial
    for g, e in zip(got_boxes, exp_boxes):
        assert _same_box_and_words(chars, g, e, cfg.word_margin), trial


def _fuzz_cfg(k):
    return ExtractConfig(
        line_overlap=(0.1, 0.5, 2.0, 5.0)[k % 4],
        word_margin=(0.0, 0.1, 0.5)[k // 4 % 3],
    )


@np.errstate(invalid="ignore", over="ignore")  # inf - inf on the edge copies is deliberate
def test_cells_and_pages_match_old_paths():
    rng = np.random.default_rng(29)
    for trial in range(3000):
        chars = _random_chars(rng, trial)
        cfg = _fuzz_cfg(trial)
        # the cell bbox clips a random margin off each side
        x0, y0 = chars.x0.min(), chars.y0.min()
        x1, y1 = chars.x1.max(), chars.y1.max()
        cut = rng.choice([0.0, 0.0, 0.0, 1.0, 4.0], 4)
        bbox = (x0 + cut[0], y0 + cut[1], x1 - cut[2], y1 - cut[3])
        _assert_cell_and_page_match(chars, bbox, cfg, trial)
        if trial % 6 == 5:
            # one extra check in six on a spoiled copy, from a generator
            # of its own so the clean trials stay as they are; its
            # config cycles through all twelve, and its cell is the
            # clean bbox widened to hold ±0.0, or the whole plane so
            # ±inf chars fall inside it too
            edge = np.random.default_rng(trial)
            spoiled = _spoiled(chars, edge)
            if edge.random() < 0.5:
                wide = (min(bbox[0], 0.0), min(bbox[1], 0.0), bbox[2], bbox[3])
            else:
                wide = (-np.inf, -np.inf, np.inf, np.inf)
            _assert_cell_and_page_match(
                spoiled, wide, _fuzz_cfg(trial // 6), trial, spoil_page_y=edge
            )


def test_cell_with_overflowing_y_centers_splits_like_build_boxes():
    # y0 + y1 overflows to inf, so each gap between consecutive
    # y-centers is inf - inf = NaN: the page rule keeps such chars on
    # one line (a NaN gap is not >= tolerance); the old cell loop put
    # each char on a line of its own (a NaN |gap| is not < tolerance)
    y = np.full(4, 1.7e308)
    x0 = np.array([10.0, 15.0, 40.0, 45.0])
    chars = _chars(x0, x0 + 5.0, y, y, list("abcd"))
    cfg = ExtractConfig()
    bbox = (0.0, 1.0e308, 100.0, 1.79e308)
    with np.errstate(over="ignore", invalid="ignore"):
        (page_box,) = _page_boxes(chars, cfg)
        cell = crop_cell_box(chars, 1, bbox, cfg)
        old = _old_crop_cell_box(chars, 1, bbox, cfg)
    assert page_box.line_spans == cell.line_spans == [(0, 4)]
    assert page_box.text == cell.text == "ab cd"
    assert old.text == "a\nb\nc\nd"


def test_word_space_before_ligature_next_to_empty_glyph():
    # a "fi" glyph and a "" glyph in one line balance out in code
    # points; the word space still goes before each flagged glyph, as
    # pdfminer's LTAnno does, not at a char count into the string
    x0 = np.array([10.0, 15.0, 40.0, 46.0])
    chars = _chars(x0, x0 + 5.0, np.full(4, 700.0), np.full(4, 710.0), ["a", "", "fi", "x"])
    cfg = ExtractConfig()
    (page_box,) = _page_boxes(chars, cfg)
    cell = crop_cell_box(chars, 1, (0.0, 690.0, 100.0, 720.0), cfg)
    for box in (page_box, cell):
        assert box.text == "a fi x"
        assert box.offsets.tolist() == [0, 1, 3, 5]


# --- the batch pass: each turn as it reads alone -----------------------------
_PAGE_W, _PAGE_H = 612.0, 792.0
_CROP = {"crop_top": 40.0, "crop_bottom": 40.0, "crop_left": 20.0, "crop_right": 20.0}


def _batch_doc(rng, u1):
    """A payload of 1–4 pages, each normal, empty, inside the crop
    margins only, with NaN or ±inf y and ±0.0 x, or of zero-width and
    inverted chars; packed ``<U1`` text when ``u1``, else columnar
    object text with "fi" and "" glyphs. Chars come shuffled, so the
    pages arrive out of order."""
    from libpdf_spark.payload import to_packed_chars

    pool = list("abcdefgh") if u1 else list("abcdefgh") + ["fi", ""]
    cols = {k: [] for k in ("page", "text", "x0", "y0", "x1", "y1", "fontname", "ncolor")}
    n_pages = int(rng.integers(1, 5))
    for p in range(1, n_pages + 1):
        kind = rng.choice(["normal", "normal", "empty", "cropped", "edge", "zero"])
        if kind == "empty":
            continue
        for r in range(int(rng.integers(1, 7))):
            k = int(rng.integers(1, 10))
            w = rng.choice([5.0, 5.0, 3.0, 0.0], k)
            x0 = (40.0 + 150.0 * (r % 2) * (kind == "normal")
                  + np.cumsum(rng.choice([0.0, 0.2, 1.0, 20.0], k) + w) - w)
            top = _PAGE_H - 30.0 if kind == "cropped" else 700.0 - 12.0 * r
            y0 = top + rng.choice([0.0, 0.0, 0.25, -0.25], k)
            x1, y1 = x0 + w, y0 + rng.choice([10.0, 10.0, 6.0, 0.0], k)
            if kind == "zero":
                x1 = x0 - rng.choice([0.0, 0.0, 2.0], k)
            if kind == "edge":
                _spoil_with(rng, (y0, y1), (np.nan, np.inf, -np.inf), frac=0.3)
                _spoil_with(rng, (x0, x1), (0.0, -0.0), frac=0.2)
            cols["page"] += [p] * k
            cols["text"] += [pool[i] for i in rng.integers(0, len(pool), k)]
            for key, v in (("x0", x0), ("y0", y0), ("x1", x1), ("y1", y1)):
                cols[key] += v.tolist()
            cols["fontname"] += [("F1", "F2")[i] for i in rng.integers(0, 2, k)]
            cols["ncolor"] += [_NCOLORS[i] for i in rng.integers(0, 3, k)]
    perm = rng.permutation(len(cols["page"])).tolist()
    cols = {k: [v[i] for i in perm] for k, v in cols.items()}
    chars = (to_packed_chars(cols) if u1 else None) or cols
    return {
        "pages": [{"number": p, "width": _PAGE_W, "height": _PAGE_H} for p in range(1, n_pages + 1)],
        "chars": chars, "lines": [], "rects": [], "figures": [], "annos": [], "outline": [],
    }


def _doc_fields(res):
    return [
        (e.kind, e.uid, e.page, repr(e.bbox), e.text, [_box_fields(b) for b in e.boxes])
        for e in res.elements
    ] + [res.extracted_text, res.n_chars, res.pages]


@np.errstate(invalid="ignore", over="ignore")  # NaN and ±inf y on the edge pages
def test_batch_layout_reads_each_turn_as_alone(monkeypatch):
    """Batches of 1–40 turns, with edge, empty, fully cropped and
    zero-width pages next to normal ones and ``<U1`` turns next to
    object-text turns: every turn's boxes from the batch pass, and its
    DocResult, equal the turn laid out alone, on every Box field. Every
    fourth batch is cut into passes of at most 1–300 chars, so passes
    also start and end inside a document."""
    from libpdf_spark.kernel import document
    from libpdf_spark.kernel.document import extract_document, lay_out_documents

    # a batch pass that raised would rerun each turn alone and hide the
    # fault, so every pass must run through
    raised = []
    real = document.boxes_for_page

    def watched(docs, cfg):
        try:
            return real(docs, cfg)
        except Exception as exc:
            raised.append(exc)
            raise

    monkeypatch.setattr(document, "boxes_for_page", watched)
    rng = np.random.default_rng(41)
    default = layout._PASS_CHARS
    for trial in range(120):
        cfg = ExtractConfig(**(_CROP if trial % 2 else {}), **(
            {"line_overlap": 2.0, "word_margin": 0.5} if trial % 3 == 2 else {}))
        monkeypatch.setattr(
            layout, "_PASS_CHARS", int(rng.integers(1, 301)) if trial % 4 == 3 else default
        )
        docs = [_batch_doc(rng, rng.random() < 0.5) for _ in range(int(rng.integers(1, 41)))]
        for doc, laid in zip(docs, lay_out_documents(docs, cfg)):
            (alone,) = lay_out_documents([doc], cfg)
            assert laid.page_boxes.keys() == alone.page_boxes.keys(), trial
            for pno, boxes in alone.page_boxes.items():
                got = [_box_fields(b) for b in laid.page_boxes[pno]]
                assert got == [_box_fields(b) for b in boxes], (trial, pno)
            assert _doc_fields(extract_document(doc, cfg, laid)) == _doc_fields(
                extract_document(doc, cfg)), trial
    assert not raised, raised[0]


def test_passes_take_whole_pages_up_to_the_cap(monkeypatch):
    """Pages go to passes in batch order, each pass as many whole pages
    as fit in ``_PASS_CHARS`` chars, a larger page alone, and packed
    ``<U1`` text apart from object text."""
    passes = []
    real = layout.build_boxes

    def recording(chars, bounds, cfg, char_index):
        passes.append((chars.text.dtype.kind, (bounds[1:] - bounds[:-1]).tolist()))
        return real(chars, bounds, cfg, char_index)

    monkeypatch.setattr(layout, "build_boxes", recording)
    monkeypatch.setattr(layout, "_PASS_CHARS", 10)

    def doc(sizes, u1):
        n = sum(sizes)
        page = np.repeat(np.arange(1, len(sizes) + 1), sizes)
        x0 = np.arange(n, dtype=float) * 6.0
        chars = _chars(x0, x0 + 5.0, np.full(n, 700.0), np.full(n, 710.0), ["a"] * n, page, u1=u1)
        return chars.keep_pages(list(range(1, len(sizes) + 1))) + ([(612.0, 792.0)] * len(sizes),)

    layout.boxes_for_page(
        [doc([4, 5, 0], True), doc([3], False), doc([12, 2, 3], True), doc([6, 6], False)],
        ExtractConfig(),
    )
    assert passes == [("U", [4, 5, 0]), ("U", [12]), ("U", [2, 3]), ("O", [3, 6]), ("O", [6])]


@np.errstate(invalid="ignore", over="ignore")  # NaN and ±inf y on the edge pages
def test_mixed_batch_keeps_u1_text_path(monkeypatch):
    """A batch of packed ``<U1`` turns and object-text turns assembles
    in two passes: the ``<U1`` turns' glyphs reach ``assemble_boxes``
    as one ``<U1`` array (the one-buffer page string), the others as
    an object array."""
    from libpdf_spark.kernel.document import lay_out_documents

    seen = []
    real = layout.assemble_boxes

    def recording(pages, chars, *args):
        seen.append((chars.text.dtype, len(chars)))
        return real(pages, chars, *args)

    monkeypatch.setattr(layout, "assemble_boxes", recording)
    rng = np.random.default_rng(43)
    docs = [_batch_doc(rng, u1) for u1 in (True, False, True, False, True)]
    u1_chars = obj_chars = 0
    for doc, laid in zip(docs, lay_out_documents(docs, ExtractConfig())):
        if laid.chars.text.dtype == np.dtype("<U1"):
            u1_chars += len(laid.chars)
        else:
            obj_chars += len(laid.chars)
    assert u1_chars and obj_chars
    assert sorted(seen, key=str) == sorted(
        [(np.dtype("<U1"), u1_chars), (np.dtype(object), obj_chars)], key=str)
