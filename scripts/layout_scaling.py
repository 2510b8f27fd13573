"""Wall time and peak memory of ``libpdf_spark.load`` on one tall page,
or wall time per page on many pages.

For each line count, builds a single-page document of short text lines
in paragraphs of four (``fixtures.DocBuilder``), then loads it in a
fresh child process. The child first loads a small warm-up document
and reads its RSS as the baseline (``VmRSS``, Linux), then times the
large load and reads the process's peak RSS after it (``VmHWM``): the
warm-up document is far smaller, so that peak is the large load's.
``getrusage``'s ``ru_maxrss`` does not serve here: Linux carries the
parent's peak across fork and exec, so a child of this script read
95 MB there before loading anything. One JSON object per line count
is printed:

    {"lines": 8000, "wall_s": 0.205, "peak_rss_mb": 72.0,
     "base_rss_mb": 52.7, "rss_growth_mb": 19.4, "text_ok": true}

With ``--pages``, each count instead builds a document of that many
copies of one page of about 800 chars (eight paragraphs of four
lines), with ``--table`` also a ruled 6×4 table on every page, and
the child times the load without reading memory:

    {"pages": 400, "table": true, "wall_s": 0.61, "ms_per_page": 1.52,
     "text_ok": true}

A per-page time that stays flat as pages grow means each page's work
reads only that page.

Run:  python scripts/layout_scaling.py [--repo PATH] [--lines 2000,4000,8000,16000]
      python scripts/layout_scaling.py [--repo PATH] --pages 50,400,1600 [--table]

``--repo`` loads the package from another checkout (for example a copy
of the parent commit), so two versions can be compared on the same
documents.
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

from libpdf_spark.fixtures import LINE_PITCH, PAGE_H, DocBuilder  # noqa: E402
from libpdf_spark.payload import embed, to_columnar_chars  # noqa: E402

CHILD = r"""
import json, sys, time
sys.path.insert(0, sys.argv[1])
import libpdf_spark
from libpdf_spark.fixtures import doc_from_text
from libpdf_spark.payload import embed

def status(key):
    with open("/proc/self/status") as fh:
        return next(int(l.split()[1]) / 1024 for l in fh if l.startswith(key + ":"))

with open(sys.argv[2]) as fh:
    source, expected = json.load(fh)
libpdf_spark.load(embed(doc_from_text("warm up the loader").build()), init_logging=False)
peak = sys.argv[3] == "peak"
base = status("VmRSS")
t0 = time.perf_counter()
result = libpdf_spark.load(source, init_logging=False)
wall = time.perf_counter() - t0
ok = result.root.extracted_text == expected
print(json.dumps([wall, ok] + ([base, status("VmHWM")] if peak else [])))
"""


def tall_page(n_lines: int) -> DocBuilder:
    """One page of ``n_lines`` two-word lines in paragraphs of four,
    the page as tall as they need."""
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    n_paras = -(-n_lines // 4)
    height = 72.0 + n_paras * (4 * LINE_PITCH + 26.0)
    b = DocBuilder(n_pages=1)
    b.pages[0]["height"] = height
    y = height - 36.0
    for first in range(0, n_lines, 4):
        para = [
            f"{words[k % 10]} {words[(7 * k + 3) % 10]}"
            for k in range(first, min(first + 4, n_lines))
        ]
        b.add_paragraph(1, 72.0, y, para)
        y -= len(para) * LINE_PITCH + 26.0
    return b


def many_pages(n_pages: int, table: bool) -> tuple[str, str]:
    """``(turn, expected text)`` of ``n_pages`` copies of one page:
    eight paragraphs of four 25-char lines (800 chars), below a ruled
    6×4 table when ``table``. The page is built once and its chars
    tiled as columns, so a large count costs no per-char dicts."""
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    page = DocBuilder(n_pages=1)
    y = PAGE_H - 36.0
    if table:
        cells = [[f"r{r}c{c}" for c in range(4)] for r in range(6)]
        page.add_table(1, 72.0, y, cells)
        y -= 6 * 26.0 + 26.0
    for p in range(8):
        para = [" ".join(words[(p + k + i) % 10] for i in range(4))[:29] for k in range(4)]
        page.add_paragraph(1, 72.0, y, para)
        y -= 4 * LINE_PITCH + 26.0
    page.pages[0]["height"] = PAGE_H + max(0.0, -y)
    one = page.build()
    tile = to_columnar_chars(one["chars"])
    n = len(tile["page"])
    doc = dict(one)
    doc["pages"] = [dict(one["pages"][0], number=k) for k in range(1, n_pages + 1)]
    doc["chars"] = {
        key: (np.repeat(np.arange(1, n_pages + 1), n) if key == "page"
              else np.tile(tile[key], n_pages) if key in ("x0", "y0", "x1", "y1")
              else tile[key] * n_pages)
        for key in tile
    }
    doc["lines"] = [dict(ln, page=k) for k in range(1, n_pages + 1) for ln in one["lines"]]
    return embed(doc), "\n\n".join([page.expected_text()] * n_pages)


def run_child(repo: str, turn: str, expected: str, peak: bool) -> list:
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "doc.json")
        with open(path, "w") as fh:
            json.dump([turn, expected], fh)
        out = subprocess.run(
            [sys.executable, "-c", CHILD, repo, path, "peak" if peak else "wall"],
            check=True, capture_output=True, text=True, timeout=600,
        ).stdout
    return json.loads(out.strip().splitlines()[-1])


def measure(repo: str, n_lines: int) -> dict:
    doc = tall_page(n_lines)
    wall, ok, base, peak = run_child(repo, embed(doc.build()), doc.expected_text(), True)
    return {"lines": n_lines, "wall_s": round(wall, 3), "peak_rss_mb": round(peak, 1),
            "base_rss_mb": round(base, 1), "rss_growth_mb": round(peak - base, 1),
            "text_ok": ok}


def measure_pages(repo: str, n_pages: int, table: bool) -> dict:
    wall, ok = run_child(repo, *many_pages(n_pages, table), False)
    return {"pages": n_pages, "table": table, "wall_s": round(wall, 3),
            "ms_per_page": round(1000 * wall / n_pages, 3), "text_ok": ok}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--repo", default=HERE, help="checkout to load libpdf_spark from")
    ap.add_argument("--lines", default="2000,4000,8000,16000",
                    help="comma-separated line counts")
    ap.add_argument("--pages", help="comma-separated page counts (many-pages mode)")
    ap.add_argument("--table", action="store_true",
                    help="many-pages mode: a ruled table on every page")
    args = ap.parse_args()
    repo = os.path.abspath(args.repo)
    if args.pages:
        for n in (int(x) for x in args.pages.split(",")):
            print(json.dumps(measure_pages(repo, n, args.table)), flush=True)
        return
    for n in (int(x) for x in args.lines.split(",")):
        print(json.dumps(measure(repo, n)), flush=True)


if __name__ == "__main__":
    main()
