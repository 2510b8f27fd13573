"""Wall time and peak memory of ``libpdf_spark.load`` on one tall page.

For each line count, builds a single-page document of short text lines
in paragraphs of four (``fixtures.DocBuilder``), then loads it in a
fresh child process. The child first loads a small warm-up document,
resets the kernel's peak-RSS mark (``/proc/self/clear_refs``, Linux)
and reads its RSS as the baseline, then times the large load. One JSON
object per line count is printed:

    {"lines": 8000, "wall_s": 0.205, "peak_rss_mb": 72.0,
     "base_rss_mb": 52.7, "rss_growth_mb": 19.4, "text_ok": true}

Run:  python scripts/layout_scaling.py [--repo PATH] [--lines 2000,4000,8000,16000]

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

from libpdf_spark.fixtures import LINE_PITCH, DocBuilder  # noqa: E402
from libpdf_spark.payload import embed  # noqa: E402

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
with open("/proc/self/clear_refs", "w") as fh:
    fh.write("5")  # reset the peak (VmHWM) to the current RSS
base = status("VmRSS")
t0 = time.perf_counter()
result = libpdf_spark.load(source, init_logging=False)
wall = time.perf_counter() - t0
print(json.dumps([wall, base, status("VmHWM"), result.root.extracted_text == expected]))
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


def measure(repo: str, n_lines: int) -> dict:
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "doc.json")
        with open(path, "w") as fh:
            doc = tall_page(n_lines)
            json.dump([embed(doc.build()), doc.expected_text()], fh)
        out = subprocess.run([sys.executable, "-c", CHILD, repo, path], check=True,
                             capture_output=True, text=True, timeout=600).stdout
    wall, base, peak, ok = json.loads(out.strip().splitlines()[-1])
    return {"lines": n_lines, "wall_s": round(wall, 3), "peak_rss_mb": round(peak, 1),
            "base_rss_mb": round(base, 1), "rss_growth_mb": round(peak - base, 1),
            "text_ok": ok}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--repo", default=HERE, help="checkout to load libpdf_spark from")
    ap.add_argument("--lines", default="2000,4000,8000,16000",
                    help="comma-separated line counts")
    args = ap.parse_args()
    for n in (int(x) for x in args.lines.split(",")):
        print(json.dumps(measure(os.path.abspath(args.repo), n)), flush=True)


if __name__ == "__main__":
    main()
