"""``docs_local``: one closed-loop client calling ``libpdf_spark.load``.

The parent process generates the documents and hands them to a fresh
child process through a pickle it wrote itself; the child does the
loading, so its peak resident memory is the loader's alone. Set-up
(imports plus the first ``load``) is sampled in three fresh children.

The child is :mod:`perfbench.loader`.
"""

from __future__ import annotations

import json
import os
import pickle
import shutil
import subprocess
import sys
import time

from perfbench import common, gen

SETUP_SAMPLES = 3


def run(seed: int, seconds: float, trace: bool) -> None:
    work = common.fresh_dir(f"docs_local-{os.getpid()}")
    probes = [common.drift_probe("before")]
    docs = gen.local_documents(seed)
    variants = [d["variant"] for d in docs]
    from libpdf_spark.fixtures import family_full_features
    from libpdf_spark.pdfmini import write_pdf

    # a fixed first document touching every layer: AES, CID fonts, a
    # form-wrapped page, chapters, a table, a figure, rects and links
    setup_doc = write_pdf(family_full_features().build(), **gen.PDF_VARIANTS[9])
    inputs = os.path.join(work, "inputs.pkl")
    with open(inputs, "wb") as fh:
        pickle.dump({"setup": setup_doc,
                     "docs": [(d["source"], d["expected"]) for d in docs]}, fh)

    def child(mode: str) -> dict:
        out = os.path.join(work, f"{mode}-{time.monotonic_ns()}.json")
        subprocess.run([sys.executable, "-m", "perfbench.loader", mode, inputs, out,
                        str(seconds)], cwd=common.REPO, check=True, timeout=150)
        with open(out) as fh:
            return json.load(fh)

    res = child("trace" if trace else "measure")
    setups = [res["setup_s"]] + [child("setup")["setup_s"] for _ in range(SETUP_SAMPLES - 1)]
    probes.append(common.drift_probe("after"))

    lat = res["latency_ms"]
    q = common.tail_percentile(len(lat))
    values = {
        "setup_s": common.median(setups),
        "throughput_per_s": len(docs) / common.median(res["pass_s"]),
        "latency_p50_ms": common.percentile(lat, 50),
        "latency_tail_ms": common.percentile(lat, q),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    if trace:
        values.update(res["layers"])
        for v in range(len(gen.PDF_VARIANTS)):
            values[f"pdfmini.pdfs_v{v}"] = variants.count(v)
    artifact = {
        "workload": "docs_local", "seed": seed, "trace": trace, "seconds": seconds,
        "input_hash": gen.sources_hash(docs), "n_docs": len(docs),
        "big_pages": sorted(d["lines"] for d in docs if d["lines"]),
        "setup_samples_s": setups, "drift_probes": probes, "tail_percentile": q,
        "docs_loaded": len(lat), "pass_s": res["pass_s"], "values": values,
    }
    path = common.write_artifact(f"docs_local-seed{seed}-trace{int(trace)}.json", artifact)
    common.emit(res["failed"] == 0, res["attempted"], res["failed"], values, trace, notes={
        "docs_per_s (throughput_per_s)": f"{values['throughput_per_s']:.1f} docs/s",
        "load_ms_p50 / load_ms_p%d" % q: "%.3f / %.3f ms over %d loads" % (
            values["latency_p50_ms"], values["latency_tail_ms"], len(lat)),
        "setup samples (s)": ", ".join(f"{s:.3f}" for s in setups),
        "drift probe docs/s": ", ".join(f"{p['docs_per_s']:.0f}" for p in probes),
        "artifact": os.path.relpath(path, common.REPO),
    })
    shutil.rmtree(work, ignore_errors=True)
