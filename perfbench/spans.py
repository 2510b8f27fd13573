"""In-memory spans around calls into the program's public functions.

The benchmark wraps module attributes of the program (never its
source) for the duration of a traced pass, records one span per call
— name, start, end and parent span — and writes them out when the
run ends. A span's self time is its duration minus the time its
direct children cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

# kernel.document calls these by the names it imported; each group is
# one kernel layer.
KERNEL_LAYERS = {
    "layout": ("boxes_for_page",),
    "tables": ("detect_tables", "fill_cell_text"),
    "chapters": ("build_outline", "render_chapters"),
    "links": ("scan_box_links", "resolve_target_uid"),
    "elements": ("filter_figures", "extract_rects", "attach_figure_text",
                 "remove_boxes_in_elements"),
}


class Tracer:
    def __init__(self):
        self.name: list[str] = []
        self.start: list[int] = []
        self.end: list[int] = []
        self.parent: list[int] = []
        self._stack: list[int] = []

    def _open(self, name: str) -> int:
        i = len(self.name)
        parent = self._stack[-1] if self._stack else -1
        self.name.append(name)
        self.parent.append(parent)
        self.end.append(0)
        self._stack.append(i)
        self.start.append(time.perf_counter_ns())
        return i

    def _close(self, i: int) -> None:
        self.end[i] = time.perf_counter_ns()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        i = self._open(name)
        try:
            yield
        finally:
            self._close(i)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            i = self._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(i)

        return traced

    @contextlib.contextmanager
    def patched(self, targets):
        """Replace ``module.attr`` with a traced wrapper for each
        ``(module, attr, span_name)`` and restore the originals after."""
        saved = []
        try:
            for module, attr, name in targets:
                fn = getattr(module, attr)
                saved.append((module, attr, fn))
                setattr(module, attr, self.wrap(name, fn))
            yield self
        finally:
            for module, attr, fn in reversed(saved):
                setattr(module, attr, fn)

    def self_ns(self) -> list[int]:
        own = [e - s for s, e in zip(self.start, self.end)]
        for i, p in enumerate(self.parent):
            if p >= 0:
                own[p] -= self.end[i] - self.start[i]
        return own

    def by_ancestor(self, ancestor: str) -> dict[int, dict[str, int]]:
        """Self nanoseconds per span name, grouped by the nearest
        enclosing (or own) span named ``ancestor``; spans outside any
        such span are left out."""
        own = self.self_ns()
        out: dict[int, dict[str, int]] = {}
        for i, ns in enumerate(own):
            j = i
            while j >= 0 and self.name[j] != ancestor:
                j = self.parent[j]
            if j >= 0:
                per = out.setdefault(j, {})
                per[self.name[i]] = per.get(self.name[i], 0) + ns
        return out

    def totals(self) -> dict[str, int]:
        """Self nanoseconds per span name."""
        out: dict[str, int] = {}
        for i, own in enumerate(self.self_ns()):
            out[self.name[i]] = out.get(self.name[i], 0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for row in zip(self.name, self.start, self.end, self.parent):
                fh.write(json.dumps(row) + "\n")


def kernel_targets():
    """``(module, attr, span)`` for ``extract_document``'s kernel calls."""
    from libpdf_spark.kernel import document

    return [(document, fn, f"kernel.{layer}")
            for layer, fns in KERNEL_LAYERS.items() for fn in fns]


def kernel_layer_metrics(tracer: Tracer) -> dict[str, float]:
    """p50 and p99 over documents of each kernel layer's ms and of
    ``extract_document``'s self time (spans named ``kernel.document``)."""
    from perfbench.common import percentile

    per_doc = list(tracer.by_ancestor("kernel.document").values())
    out = {}
    for span, metric in [(f"kernel.{l}", f"kernel.{l}_ms") for l in KERNEL_LAYERS] + [
            ("kernel.document", "kernel.document_self_ms")]:
        vals = [doc.get(span, 0) / 1e6 for doc in per_doc]
        out[metric + "_p50"] = percentile(vals, 50)
        out[metric + "_p99"] = percentile(vals, 99)
    return out
