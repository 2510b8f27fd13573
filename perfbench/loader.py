"""The ``docs_local`` loader: a fresh process that times
``libpdf_spark.load`` over documents its parent generated.

Only the standard library is imported before set-up is timed, so
``setup_s`` covers the program's own imports plus its first ``load``.

    python3 -m perfbench.loader <measure|trace|setup> <inputs.pkl> <out.json> <seconds>
"""

from __future__ import annotations

import json
import os
import pickle
import resource
import sys
import time

# p99 with at least ten samples beyond it
MIN_LOADS = 1000


def _load_one(load, source, expected):
    """Milliseconds for one ``load`` and its result, or ``None`` when it
    raised or extracted other text than expected."""
    t0 = time.perf_counter_ns()
    try:
        result = load(source)
    except Exception:  # noqa: BLE001 — a load that raises is a failed operation
        result = None
    ms = (time.perf_counter_ns() - t0) / 1e6
    if result is not None and result.root.extracted_text != expected:
        result = None
    return ms, result


def _measure(docs, seconds: float) -> dict:
    """Load every document in order, pass after pass, until ``seconds``
    have passed and at least ``MIN_LOADS`` loads are done."""
    from libpdf_spark import api

    lat, passes, failed = [], [], 0
    deadline = time.perf_counter() + seconds
    while len(lat) < MIN_LOADS or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        for doc in docs:
            ms, result = _load_one(api.load, *doc)
            lat.append(ms)
            failed += result is None
        passes.append(time.perf_counter() - t0)
    return {"latency_ms": lat, "failed": failed, "attempted": len(lat), "pass_s": passes}


def _trace(docs) -> dict:
    """Load every document twice, once with spans around the program's
    public functions and once without, alternating which goes first.
    Per-layer metrics come from the traced loads; the overhead is the
    traced total against the untraced total of the same documents."""
    from libpdf_spark import api, payload, pdfmini
    from perfbench import common
    from perfbench.spans import Tracer, kernel_layer_metrics, kernel_targets

    tracer = Tracer()
    targets = [(api, "load", "api.load"), (api, "extract_document", "kernel.document"),
               (payload, "find_payload", "payload.find_payload"),
               (pdfmini, "parse_pdf", "pdfmini.parse_pdf")] + kernel_targets()
    lat, traced_ms, failed, chars, pages = [], 0.0, 0, 0, 0
    for i, doc in enumerate(docs):
        for traced in ((False, True) if i % 2 == 0 else (True, False)):
            if traced:
                with tracer.patched(targets):
                    ms, result = _load_one(api.load, *doc)
                traced_ms += ms
                if result is not None:
                    chars += result.root.n_chars
                    pages += len(result.root.pages)
            else:
                ms, result = _load_one(api.load, *doc)
                lat.append(ms)
            failed += result is None
    totals = tracer.totals()
    untraced_ms = sum(lat)
    n = len(docs)
    layers = {
        "payload.find_payload_ms": totals.get("payload.find_payload", 0) / 1e6 / n,
        "pdfmini.parse_pdf_ms": totals.get("pdfmini.parse_pdf", 0) / 1e6 / n,
        "api.load_self_ms": totals.get("api.load", 0) / 1e6 / n,
        "kernel.chars": chars,
        "kernel.pages": pages,
        "trace.overhead_pct": 100.0 * (traced_ms - untraced_ms) / untraced_ms,
        "trace.coverage": sum(totals.values()) / 1e6 / traced_ms,
    }
    layers.update(kernel_layer_metrics(tracer))
    os.makedirs(common.ARTIFACTS, exist_ok=True)
    tracer.dump(os.path.join(common.ARTIFACTS, "docs_local-spans.jsonl"))
    return {"latency_ms": lat, "failed": failed, "attempted": 2 * n,
            "pass_s": [untraced_ms / 1e3], "layers": layers}


def child_main(mode: str, inputs: str, out: str, seconds: float) -> None:
    with open(inputs, "rb") as fh:
        data = pickle.load(fh)
    t0 = time.perf_counter()
    import libpdf_spark

    libpdf_spark.load(data["setup"])
    res = {"setup_s": time.perf_counter() - t0}
    if mode != "setup":
        # One untimed pass first: the first load of each document ran
        # about 15% slower than later ones, a cost a long-lived caller
        # pays once. It goes from the largest source to the smallest,
        # and the peak memory is taken after it: in the seeded order
        # the peak ran 293-313 MB, by how the documents before the
        # largest one had fragmented the heap, not by what was loaded.
        for source, _ in sorted(data["docs"], key=lambda d: -len(d[0])):
            libpdf_spark.load(source)
        res["peak_rss_mb"] = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    if mode == "measure":
        res.update(_measure(data["docs"], seconds))
    elif mode == "trace":
        res.update(_trace(data["docs"]))
    with open(out, "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    child_main(sys.argv[1], sys.argv[2], sys.argv[3], float(sys.argv[4]))
