"""``corpus_resumable``: ``lineage.run_resumable`` over a seeded
transcripts table, into a fresh output directory each pass.

The table (parquet, ``conv_id, turn_idx, role, text, tool, ts``) mixes
sf0.1-shaped documents wrapped by
``operators.extraction.transcripts_from_documents``,
``fixtures.gen_transcripts`` conversations, one hot conversation and a
few planted malformed turns. Every pass's output is checked turn by
turn against the generator's expected text.

The traced run times five Spark jobs per round (scan only, a
pass-through ``mapInPandas``, unsalted extract, salted extract and
``run_resumable``), reads shuffle and job figures from the event log,
and runs the same rows in-process through ``make_extract_batch`` with
spans around the program's decode and kernel functions. In the same
session it then measures the operator tier (:mod:`perfbench.operators`).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

from perfbench import common, eventlog, gen, operators

N_DOCS = 2000        # documents wrapped as turns
N_CONVS = 80         # gen_transcripts conversations (483-657 turns)
CONV_TURNS = 1000    # those plus the hot conversation's turns
N_MALFORMED = 12     # broken payloads, four of each kind
N_FILES = 8          # corpus files (scan splits)
N_BUCKETS = 16       # run_resumable's default bucketing
# Buckets per committed chunk; run_resumable's default is 4. Two chunks
# of eight halve the Spark jobs of a pass (18 instead of 34), so that
# the three warm-up passes a steady median needs and the timed passes
# fit one run on a 4-vCPU host.
CHUNK_SIZE = 8
SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
          "tool string, ts timestamp")
JOBS = ("scan", "passthrough", "unsalted", "salted", "resumable")
WARMUP_PASSES = 3


def _md5(text) -> str | None:
    return None if text is None else hashlib.md5(text.encode()).hexdigest()


def materialize(spark, seed: int, work: str) -> dict:
    """Write the corpus to ``<work>/corpus``; return its path, the
    expected md5 per well-formed turn, the malformed keys and the
    content hashes of the generated inputs."""
    from libpdf_spark.operators.extraction import transcripts_from_documents

    docs = gen.documents(seed, N_DOCS)
    tables = os.path.join(work, "tables")
    os.makedirs(tables)
    docs.to_parquet(os.path.join(tables, "documents.parquet"), index=False)
    turns, expected, malformed, pdf_variants = gen.conversation_turns(
        seed, N_CONVS, CONV_TURNS, N_MALFORMED)
    expected.update(gen.doc_turn_expectations(docs))
    path = os.path.join(work, "corpus")
    (transcripts_from_documents(spark, tables)
     .unionByName(spark.createDataFrame(turns, schema=SCHEMA))
     .repartition(N_FILES)
     .write.parquet(path))
    return {
        "path": path,
        "expected": {k: _md5(v) for k, v in expected.items()},
        "malformed": malformed,
        "pdf_variants": pdf_variants,
        "hashes": {"documents": gen.content_hash(docs), "turns": gen.content_hash(turns)},
    }


def check_output(out_dir: str, corpus: dict) -> tuple[int, int, int, list[str]]:
    """Check one ``run_resumable`` output. Returns (attempted, failed,
    malformed_ok, problems): every well-formed turn is one operation;
    it fails when its row is missing, duplicated, in a bucket not
    committed exactly once, or carries other text than expected. Rows
    for unknown keys count as failures too. Malformed turns are checked
    apart: each must be one ``parse_ok = false`` row with ``error`` set."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    rows = ds.dataset(os.path.join(out_dir, "data"), format="parquet",
                      partitioning="hive").to_table(
        columns=["conv_id", "turn_idx", "doc_found", "parse_ok", "error",
                 "extracted_text", "bucket"]).to_pylist()
    lineage = pq.read_table(os.path.join(out_dir, "lineage")).to_pylist()
    commits = [r["bucket"] for r in lineage if r["status"] == "done"]
    bad_buckets = {b for b in range(N_BUCKETS) if commits.count(b) != 1}
    problems = [f"bucket {b} committed {commits.count(b)} times" for b in sorted(bad_buckets)]

    by_key: dict[tuple, list[dict]] = {}
    for r in rows:
        by_key.setdefault((r["conv_id"], r["turn_idx"]), []).append(r)
    expected, malformed = corpus["expected"], corpus["malformed"]
    failed = 0
    for key, want in expected.items():
        got = by_key.get(key, [])
        r = got[0] if len(got) == 1 else None
        ok = r is not None and r["bucket"] not in bad_buckets and (
            (r["parse_ok"] and _md5(r["extracted_text"]) == want) if want
            else (not r["doc_found"] and r["extracted_text"] is None))
        failed += not ok
    malformed_ok = 0
    for key, kind in malformed.items():
        got = by_key.get(key, [])
        if len(got) == 1 and not got[0]["parse_ok"] and got[0]["error"]:
            malformed_ok += 1
        else:
            problems.append(f"malformed {kind} turn {key}: {len(got)} rows")
    unknown = set(by_key) - set(expected) - set(malformed)
    failed += len(unknown)
    if failed:
        problems.append(f"{failed} turns wrong")
    return len(expected) + len(unknown), failed, malformed_ok, problems


def _resumable_pass(spark, corpus: dict, out: str) -> float:
    from libpdf_spark.lineage import run_resumable
    from libpdf_spark.pipeline import read_transcripts

    t0 = time.perf_counter()
    run_resumable(spark, read_transcripts(spark, corpus["path"]), out, n_buckets=N_BUCKETS,
                  chunk_size=CHUNK_SIZE)
    return time.perf_counter() - t0


def _job(spark, kind: str, corpus: dict, out: str | None) -> float:
    """One Spark job over the whole corpus (``out`` is the output
    directory of a ``resumable`` job); its wall seconds."""
    from pyspark.sql import functions as F

    from libpdf_spark.config import DEFAULT_CONFIG
    from libpdf_spark.pipeline import extract_turns, read_transcripts

    if kind == "resumable":
        return _resumable_pass(spark, corpus, out)
    t0 = time.perf_counter()
    df = read_transcripts(spark, corpus["path"])
    if kind == "scan":
        df.select(F.sum(F.length("text"))).collect()
    else:
        if kind == "passthrough":
            out_df = df.select("conv_id", "turn_idx", "text", "tool").mapInPandas(
                lambda batches: batches,
                schema="conv_id string, turn_idx int, text string, tool string")
        else:
            out_df = extract_turns(df, DEFAULT_CONFIG, salted=kind == "salted")
        out_df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _udf_body(corpus: dict) -> dict:
    """The corpus rows in-process through ``make_extract_batch``, in
    Arrow-batch-sized frames, each batch once with spans and once
    without (alternating which goes first)."""
    import pyarrow.parquet as pq

    from libpdf_spark import pdfmini, pipeline
    from libpdf_spark.config import DEFAULT_CONFIG
    from perfbench.spans import Tracer, kernel_layer_metrics, kernel_targets

    frame = pq.read_table(corpus["path"], columns=["conv_id", "turn_idx", "text", "tool"]).to_pandas()
    size = 256  # configure_session's spark.sql.execution.arrow.maxRecordsPerBatch
    extract_batch = pipeline.make_extract_batch(DEFAULT_CONFIG)
    tracer = Tracer()
    targets = [(pipeline, "find_payload", "payload.decode"),
               (pdfmini, "parse_pdf", "pdfmini.parse"),
               (pipeline, "extract_document", "kernel.document")] + kernel_targets()
    untraced_ns = traced_ns = n_docs = chars = pages = 0
    for i in range(0, len(frame), size):
        batch = frame.iloc[i : i + size]
        for traced in ((False, True) if (i // size) % 2 == 0 else (True, False)):
            t0 = time.perf_counter_ns()
            if traced:
                with tracer.patched(targets), tracer.span("pipeline.rows"):
                    out = next(extract_batch(iter([batch])))
                traced_ns += time.perf_counter_ns() - t0
                n_docs += int(out["doc_found"].sum())
                chars += int(out["n_chars"].sum())
                pages += int(out["n_pages"].sum())
            else:
                next(extract_batch(iter([batch])))
                untraced_ns += time.perf_counter_ns() - t0
    totals = tracer.totals()
    kernel_ns = sum(ns for name, ns in totals.items() if name.startswith("kernel."))
    layers = {
        "payload.decode_ms": totals.get("payload.decode", 0) / 1e6 / n_docs,
        "pdfmini.parse_ms": totals.get("pdfmini.parse", 0) / 1e6 / n_docs,
        "kernel.extract_ms": kernel_ns / 1e6 / n_docs,
        "pipeline.rows_ms": totals.get("pipeline.rows", 0) / 1e6 / n_docs,
        "kernel.chars": chars,
        "kernel.pages": pages,
        "trace.overhead_pct": 100.0 * (traced_ns - untraced_ns) / untraced_ns,
        "trace.coverage": sum(totals.values()) / traced_ns,
    }
    layers.update(kernel_layer_metrics(tracer))
    tracer.dump(os.path.join(common.ARTIFACTS, "corpus_resumable-spans.jsonl"))
    return layers


def _spark_layers(walls: dict[str, list[float]], groups: dict) -> dict:
    med = {k: common.median(v) for k, v in walls.items()}
    salted = [g for name, g in groups.items() if name.startswith("salted:")]
    resumable = [g for name, g in groups.items() if name.startswith("resumable:")]
    def skew(values):
        """Median over the salted jobs of max ÷ median across tasks."""
        ratios = [max(v) / common.median(v) for v in values if v and common.median(v)]
        return common.median(ratios) if ratios else 0.0

    return {
        "pipeline.scan_s": med["scan"],
        "pipeline.arrow_handoff_s": med["passthrough"] - med["scan"],
        "pipeline.extract_s": med["unsalted"] - med["passthrough"],
        "pipeline.exchange_s": med["salted"] - med["unsalted"],
        "lineage.commit_s": med["resumable"] - med["salted"],
        "lineage.run_s": med["resumable"],
        "pipeline.shuffle_bytes": common.median([g.shuffle_write_bytes for g in salted]),
        "pipeline.shuffle_records": common.median([g.shuffle_write_records for g in salted]),
        "pipeline.partition_skew": skew([g.task_shuffle_read for g in salted]),
        "pipeline.task_time_skew": skew([g.task_run_ms for g in salted]),
        "lineage.spark_jobs": common.median([g.jobs for g in resumable]),
    }


def run(seed: int, seconds: float, trace: bool) -> None:
    work = common.fresh_dir(f"corpus_resumable-{os.getpid()}")
    probes = [common.drift_probe("before")]
    event_dir = os.path.join(work, "eventlog") if trace else None
    t0 = time.perf_counter()
    spark = common.start_spark(work, "perfbench-corpus_resumable", event_dir)
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        corpus = materialize(spark, seed, work)
        materialize_s = time.perf_counter() - t0
        n_turns = len(corpus["expected"]) + len(corpus["malformed"])
        outputs = []

        def out_dir() -> str:
            outputs.append(os.path.join(work, f"out{len(outputs)}"))
            return outputs[-1]

        # Whole passes warm up: after two, the first timed passes still
        # ran up to a quarter slower than the later ones; after three,
        # the timed passes of a run showed no such trend.
        spark.sparkContext.setJobGroup("warmup", "warm-up passes")
        warmup_s = sum(_resumable_pass(spark, corpus, out_dir()) for _ in range(WARMUP_PASSES))
        if trace:
            for kind in JOBS[:-1]:
                _job(spark, kind, corpus, None)
        walls: dict[str, list[float]] = {k: [] for k in JOBS}
        with common.RssSampler() as rss:
            deadline = time.perf_counter() + seconds
            while len(walls["resumable"]) < common.MIN_PASSES or time.perf_counter() < deadline:
                r = len(walls["resumable"])
                for kind in (JOBS if trace else ("resumable",)):
                    spark.sparkContext.setJobGroup(f"{kind}:{r}", kind)
                    out = out_dir() if kind == "resumable" else None
                    walls[kind].append(_job(spark, kind, corpus, out))
                rss.lap()
        layers = _udf_body(corpus) if trace else {}
        ops = operators.run_queries(spark, seed, work) if trace else None
    finally:
        common.stop_spark(spark)
    attempted = failed = malformed_ok = 0
    problems = []
    if trace:
        groups = eventlog.read_groups(event_dir)
        layers.update(_spark_layers(walls, groups))
        for v, count in enumerate(corpus["pdf_variants"]):
            layers[f"pdfmini.pdfs_v{v}"] = count
        ops_values, attempted, failed, problems = operators.layers(ops, groups)
        layers.update(ops_values)

    t0 = time.perf_counter()
    for out in outputs:
        a, f, m, p = check_output(out, corpus)
        attempted, failed, malformed_ok = attempted + a, failed + f, malformed_ok + m
        problems += p
    check_s = time.perf_counter() - t0
    probes.append(common.drift_probe("after"))

    passes = walls["resumable"]
    q = common.tail_percentile(len(passes))
    values = {
        "setup_s": session_s + warmup_s,
        "throughput_per_s": n_turns / common.median(passes),
        "latency_p50_ms": 1e3 * common.median(passes),
        "latency_tail_ms": 1e3 * common.percentile(passes, q),
        # the median pass's peak: a whole-run peak read 1.7 GB in one run
        # of about fifteen, against about 480 MB in every other run
        "peak_rss_mb": common.median(rss.laps),
        **layers,
    }
    artifact = {
        "workload": "corpus_resumable", "seed": seed, "trace": trace, "seconds": seconds,
        "input_hashes": corpus["hashes"], "turns": n_turns,
        "operator_input_hashes": ops and ops["input_hashes"],
        "query_walls_s": ops and ops["walls"],
        "malformed": {f"{c}/{t}": k for (c, t), k in corpus["malformed"].items()},
        "session_s": session_s, "materialize_s": materialize_s, "warmup_s": warmup_s,
        "check_s": check_s, "walls_s": walls, "pass_peak_mb": rss.laps,
        "drift_probes": probes, "tail_percentile": q, "problems": problems, "values": values,
    }
    path = common.write_artifact(f"corpus_resumable-seed{seed}-trace{int(trace)}.json", artifact)
    common.emit(not problems, attempted, failed, values, trace, notes={
        "turns_per_s (throughput_per_s)": "%.1f turns/s over %d turns" % (
            values["throughput_per_s"], n_turns),
        "run_resumable walls (s)": ", ".join(f"{w:.3f}" for w in passes),
        "setup: session + warm-up passes (s)": f"{session_s:.3f} + {warmup_s:.3f}",
        "malformed turns accounted for": "%d/%d over %d passes" % (
            malformed_ok, len(corpus["malformed"]) * len(outputs), len(outputs)),
        "drift probe docs/s": ", ".join(f"{p['docs_per_s']:.0f}" for p in probes),
        "problems": "; ".join(problems[:5]) or "none",
        "artifact": os.path.relpath(path, common.REPO),
    })
    shutil.rmtree(work, ignore_errors=True)
