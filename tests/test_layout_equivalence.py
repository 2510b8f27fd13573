"""Equivalence pins for the r8 layout-kernel micro-optimizations.

Each rewrite below replaced a slower exact form; these tests pin the
bit-level equivalence argument so a future refactor cannot silently
change grouping or medians:

* ``_median1d`` vs ``np.median`` (partition selection, even-count
  mean, NaN propagation);
* ``_connected_components`` (edge-list union-find, min-member root)
  vs min-label propagation over the adjacency matrix — the label VALUE
  is load-bearing (it orders the box groups);
* vectorized ``group_lines`` (one stable lexsort + global
  char_margin cut) vs the per-line reference loop;
* the sort-based sweeps of ``group_boxes`` (y-band candidate pairs)
  and ``order_boxes_reading`` (1-D interval sweep) vs the all-pairs
  dense forms they replaced, kept below as oracles.
"""
from __future__ import annotations

import warnings

import numpy as np

from libpdf_spark.kernel.layout import (
    _connected_components,
    _median1d,
    group_boxes,
    group_lines,
    order_boxes_reading,
)


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
        got = _median1d(a.copy())
        assert ref == got or (np.isnan(ref) and np.isnan(got)), (n, ref, got)


def test_median1d_tiny_and_even():
    assert _median1d(np.array([4.0])) == 4.0
    assert _median1d(np.array([1.0, 2.0])) == 1.5
    assert _median1d(np.array([3.0, 1.0, 2.0])) == 2.0


def test_connected_components_matches_min_label_propagation():
    rng = np.random.default_rng(11)
    for _ in range(800):
        n = int(rng.integers(1, 35))
        m = rng.random((n, n)) < rng.random() * 0.35
        m = m | m.T
        np.fill_diagonal(m, False)
        ii, jj = np.nonzero(m)
        assert np.array_equal(_old_cc(m), _connected_components(n, ii, jj))
        # one direction of each edge, shuffled, gives the same labels
        up = ii < jj
        perm = rng.permutation(int(up.sum()))
        got = _connected_components(n, jj[up][perm], ii[up][perm])
        assert np.array_equal(_old_cc(m), got)


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


def test_assemble_lines_bulk_view_fast_path_and_empty_slot_fallback():
    """The <U1 page-string view must render identically to the list
    path, and an empty slot ('' — numpy NUL padding) must take the
    fallback and render '' exactly as before."""
    from libpdf_spark.kernel.layout import assemble_lines_bulk

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

        def __len__(self):
            return len(self.x0)

    lines = [np.arange(i * per, (i + 1) * per) for i in range(nlines)]
    glyphs = list("abcdefghijkl" * (n // 12))

    u1 = assemble_lines_bulk(P(np.array(glyphs, dtype="<U1")), lines, 0.1)
    obj = assemble_lines_bulk(P(np.array(glyphs, dtype=object)), lines, 0.1)
    assert [t for t, _ in u1] == [t for t, _ in obj]
    assert all(np.array_equal(a, b) for (_, a), (_, b) in zip(u1, obj))
    assert " " in u1[0][0]  # the word gap rendered

    # empty slot: both dtypes must agree (fallback path) and keep ''
    glyphs2 = list(glyphs)
    glyphs2[5] = ""
    u1e = assemble_lines_bulk(P(np.array(glyphs2, dtype="<U1")), lines, 0.1)
    obje = assemble_lines_bulk(P(np.array(glyphs2, dtype=object)), lines, 0.1)
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
        assert order_boxes_reading(metas) == _dense_order_boxes_reading(metas), trial


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
        assert order_boxes_reading(metas) == _dense_order_boxes_reading(metas), metas
