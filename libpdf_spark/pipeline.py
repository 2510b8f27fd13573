"""The Spark extraction pipeline.

Lifecycle of :func:`extract_turns` (SURVEY.md §3.4), default
``salt_stage="output"``:

    spark.read(transcripts)                       -- Iceberg/parquet scan
      → select(conv_id, turn_idx, text, tool)     -- explicit column pruning
                                                     BEFORE the UDF (Catalyst
                                                     cannot see inside it)
      → mapInPandas(extract_batch)                -- the whole turn-local DAG,
                                                     Arrow-batched, no
                                                     per-row Python driver code;
                                                     ONE layout call over every
                                                     page of a batch
      → salted repartition on conv_id             -- long-conversation skew
      → write / orderBy(conv_id, turn_idx)        -- stable output ordering

``salt_stage="input"`` salts before ``mapInPandas`` instead.
``lineage.run_resumable`` has no salted exchange: its one exchange is
on ``bucket``, before the write.

Design notes for 100 TB:
* the UDF is the ONLY Python stage; everything before/after is
  whole-stage-codegen relational ops;
* Arrow batch size is capped (payloads can be MBs) via
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` — set by
  :func:`configure_session`;
* per-turn independence makes salting safe: any turn can be processed
  on any partition; output ordering is restored at write time. The
  batch-wide layout keeps it: nothing it forms crosses a page, so a
  turn's output does not depend on the turns batched with it;
* parse failures NEVER abort the job — they surface as
  ``parse_ok = false`` rows feeding the metrics table. If the layout
  call raises, the batch's documents are laid out one at a time, so a
  bad turn is still one failure row and no other row changes.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import pandas as pd

from libpdf_spark.config import DEFAULT_CONFIG, ExtractConfig
from libpdf_spark.kernel.document import extract_document, lay_out_documents
from libpdf_spark.payload import find_payload

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import Column, DataFrame, SparkSession

# ---------------------------------------------------------------------------
# output schemas (DDL strings keep this module importable without a JVM)
# ---------------------------------------------------------------------------

# word/line ncolor is a struct<r,g,b>, NOT array<double> like the
# element-level ncolor: an array here would nest three list levels
# (elements → words → ncolor), and this environment's pyarrow
# segfaults in toPandas when such a triple-nested list column is
# all-empty (reproduced+bisected; struct nesting is unaffected).
_WORD_DDL = (
    "array<struct<line:int,text:string,"
    "x0:double,y0:double,x1:double,y1:double,"
    "fontname:string,ncolor:struct<r:double,g:double,b:double>>>"
)
_LINE_DDL = (
    "array<struct<text:string,"
    "x0:double,y0:double,x1:double,y1:double,"
    "fontname:string,ncolor:struct<r:double,g:double,b:double>>>"
)
ELEMENT_DDL = (
    "array<struct<"
    "uid:string,kind:string,page:int,"
    "x0:double,y0:double,x1:double,y1:double,"
    "row:int,col:int,text:string,number:string,"
    "fontname:string,ncolor:array<double>,"
    "links:array<struct<idx_start:int,idx_stop:int,target:string>>,"
    # word/line tree (cfg.keep_words; empty arrays when disabled) —
    # uniform ncolor/fontname lift per level, horizontal_box.py:50-147
    f"words:{_WORD_DDL},"
    f"lines:{_LINE_DDL}"
    ">>"
)

EXTRACT_SCHEMA = (
    "conv_id string, turn_idx int, doc_found boolean, parse_ok boolean, "
    "error string, extracted_text string, "
    f"elements {ELEMENT_DDL}, "
    "n_elements int, n_chars int, n_pages int, bytes_in bigint"
)


def _rgb(color) -> dict | None:
    if not color:
        return None
    return {"r": float(color[0]), "g": float(color[1]), "b": float(color[2])}


def _element_rows(result) -> list[dict]:
    rows = []
    for e in result.elements:
        rows.append(
            {
                "uid": e.uid,
                "kind": e.kind,
                "page": e.page,
                "x0": e.x0,
                "y0": e.y0,
                "x1": e.x1,
                "y1": e.y1,
                "row": e.row,
                "col": e.col,
                "text": e.text,
                "number": e.number,
                "fontname": e.fontname,
                "ncolor": list(e.ncolor) if e.ncolor else None,
                "links": [
                    {
                        "idx_start": l.idx_start,
                        "idx_stop": l.idx_stop,
                        "target": l.target,
                    }
                    for l in e.links
                ],
                "words": [
                    {
                        "line": w["line"], "text": w["text"],
                        "x0": w["x0"], "y0": w["y0"],
                        "x1": w["x1"], "y1": w["y1"],
                        "fontname": w["fontname"],
                        "ncolor": _rgb(w["ncolor"]),
                    }
                    for w in (e.words or [])
                ],
                "lines": [
                    {
                        "text": l["text"],
                        "x0": l["x0"], "y0": l["y0"],
                        "x1": l["x1"], "y1": l["y1"],
                        "fontname": l["fontname"],
                        "ncolor": _rgb(l["ncolor"]),
                    }
                    for l in (e.tlines or [])
                ],
            }
        )
    return rows


def make_extract_batch(cfg: ExtractConfig):
    """Build the ``mapInPandas`` function (cfg travels in the closure —
    the broadcast-config pattern replacing the reference's module
    globals, ``parameters.py:131``)."""

    def extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "conv_id": [], "turn_idx": [], "doc_found": [], "parse_ok": [],
                "error": [], "extracted_text": [], "elements": [],
                "n_elements": [], "n_chars": [], "n_pages": [], "bytes_in": [],
            }
            texts = pdf["text"].to_numpy()
            tools = pdf["tool"].to_numpy() if "tool" in pdf else [None] * len(pdf)
            convs = pdf["conv_id"].to_numpy()
            turns = pdf["turn_idx"].to_numpy()
            docs: list = [None] * len(pdf)
            errors: list = [None] * len(pdf)
            for i in range(len(pdf)):
                try:
                    docs[i] = find_payload(
                        texts[i] if isinstance(texts[i], str) else None,
                        cfg.pdf_password,
                    )
                    if docs[i] is None:
                        docs[i] = find_payload(
                            tools[i] if isinstance(tools[i], str) else None,
                            cfg.pdf_password,
                        )
                except Exception as exc:  # noqa: BLE001 — per-turn isolation:
                    # one malformed document must record one turn's
                    # failure, never abort the whole Arrow batch/task
                    # (mirrors the extract stage below)
                    errors[i] = f"payload: {type(exc).__name__}: {exc}"
            # every page of every document of the batch in one layout
            # call; a document it cannot lay out gets its own exception.
            # Popped in turn order, each turn's decoded document and
            # layout are freed once its row is built
            layouts = lay_out_documents([d for d in docs if d is not None], cfg)[::-1]
            for doc in docs:
                # decoded into each layout's CharArrays: the packed chars
                # strings need not live until their turn's row is built
                if doc is not None:
                    doc.pop("chars", None)
            for i in range(len(pdf)):
                text, tool, doc, err = texts[i], tools[i], docs[i], errors[i]
                docs[i] = None
                bytes_in = (len(text) if isinstance(text, str) else 0) + (
                    len(tool) if isinstance(tool, str) else 0
                )
                result = None
                if doc is not None:
                    try:
                        result = extract_document(doc, cfg, layouts.pop())
                    except Exception as exc:  # noqa: BLE001 — per-turn isolation
                        err = f"extract: {type(exc).__name__}: {exc}"
                out["conv_id"].append(convs[i])
                try:
                    out["turn_idx"].append(int(turns[i]))
                except (TypeError, ValueError):
                    # null turn_idx arrives as NaN through pandas — keep
                    # the row with a NULL key (the schema column is
                    # nullable) so multiple null-turn rows in one
                    # conversation stay distinguishable by payload
                    # instead of colliding on a sentinel.
                    out["turn_idx"].append(None)
                out["doc_found"].append(doc is not None or err is not None)
                out["parse_ok"].append(result is not None)
                out["error"].append(err)
                out["extracted_text"].append(
                    result.extracted_text if result else None
                )
                out["elements"].append(_element_rows(result) if result else [])
                out["n_elements"].append(len(result.elements) if result else 0)
                out["n_chars"].append(result.n_chars if result else 0)
                out["n_pages"].append(len(result.pages) if result else 0)
                out["bytes_in"].append(bytes_in)
            res = pd.DataFrame(out)
            # nullable Int32 so None survives Arrow conversion as NULL
            res["turn_idx"] = pd.array(out["turn_idx"], dtype="Int32")
            yield res

    return extract_batch


def salted_repartition(df: "DataFrame", cfg: ExtractConfig, num_partitions: int | None = None) -> "DataFrame":
    """Explicit salted repartitioning on conv_id (north_star verbatim).

    ``conv_id`` alone is a skew key (Zipf conversation lengths);
    hashing ``(conv_id, pmod(hash(turn_idx), SALT))`` spreads one hot
    conversation over ``salt_buckets`` partitions. Safe because each
    turn is independently extractable; ``(conv_id, turn_idx)`` ordering
    is restored at write time.
    """
    from pyspark.sql import functions as F

    salt = F.pmod(F.hash("turn_idx"), F.lit(cfg.salt_buckets))
    key = F.concat_ws("#", F.col("conv_id"), salt.cast("string"))
    if num_partitions:
        return df.repartition(num_partitions, key)
    return df.repartition(key)


def extract_turns(
    transcripts: "DataFrame",
    cfg: ExtractConfig = DEFAULT_CONFIG,
    num_partitions: int | None = None,
    salted: bool = True,
    salt_stage: str = "output",
) -> "DataFrame":
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → extraction
    results, one row per input turn (the flagship pipeline).

    The ``tool`` column is optional: corpora that only carry ``text``
    (single-field exports) extract identically — the probe order is
    text first, tool second.

    ``salt_stage`` picks WHERE the explicit salted conv_id
    repartitioning sits relative to the UDF:

    * ``"output"`` (default): the UDF runs directly on the scan splits
      (splittable columnar input distributes raw bytes evenly BY
      CONSTRUCTION — parquet/Iceberg splits are byte ranges, not key
      ranges, so a 10⁶-turn conversation never lands on one task no
      matter how the table is clustered), and the salted exchange
      moves only the extracted output — measured 5.0× fewer
      zstd-compressed bytes on the wire (307 KB vs 62 KB for the same
      524-turn corpus; the raw payload carries ~44 B of packed
      coordinate buffer per glyph, the output ~2 B/char of text plus
      element structs, and the b64 coordinate data also compresses
      worse than prose). The salt still defuses conversation skew for
      everything downstream of the exchange (stable writes,
      per-conversation assembly).
    * ``"input"``: the classic shape — salt-repartition the raw turns,
      then extract. Needed when the input is NOT splittable (one huge
      row-group per file, or a row-per-conversation upstream layout)
      so the scan itself is skewed; it pays raw-payload shuffle for
      that immunity.

    Results are identical (each turn is independently extractable);
    only the exchange placement differs."""
    from pyspark.sql import functions as F

    if salt_stage not in ("input", "output"):
        raise ValueError(f"salt_stage must be 'input' or 'output', got {salt_stage!r}")
    cols = ["conv_id", "turn_idx", "text"]
    if "tool" in transcripts.columns:
        pruned = transcripts.select(*cols, "tool")
    else:
        pruned = transcripts.select(*cols, F.lit(None).cast("string").alias("tool"))
    # (page pruning happens inside the kernel via cfg.pages; turn-level
    # pruning — e.g. only tool turns carry documents — is the caller's)
    if salted and salt_stage == "input":
        part = salted_repartition(pruned, cfg, num_partitions)
        return part.mapInPandas(make_extract_batch(cfg), schema=EXTRACT_SCHEMA)
    out = pruned.mapInPandas(make_extract_batch(cfg), schema=EXTRACT_SCHEMA)
    if salted:
        out = salted_repartition(out, cfg, num_partitions)
    return out


def conv_bucket(n_buckets: int) -> "Column":
    """``pmod(hash(conv_id), n_buckets)``: the bucket a conversation
    lands in. The resumable job partitions its output and its lineage
    by it, so resume is exact only while every caller computes it here."""
    from pyspark.sql import functions as F

    return F.pmod(F.hash("conv_id"), F.lit(n_buckets))


# The per-bucket sums of an extraction, as SQL over ``EXTRACT_SCHEMA``
# rows: ``extraction_metrics`` aggregates them per bucket, and
# ``lineage.run_resumable`` observes them on its data write as the
# ``n_turns, n_docs, n_parse_failures, n_elements, bytes_in`` of its
# lineage rows (same order).
BUCKET_SUMS = {
    "turns": "1",
    "docs": "CAST(doc_found AS INT)",
    "parse_failures": "CAST(doc_found AS INT) - CAST(parse_ok AS INT)",
    "elements": "n_elements",
    "bytes_in": "bytes_in",
}


def extraction_metrics(extracted: "DataFrame", n_buckets: int = 64) -> "DataFrame":
    """Per-conversation-bucket extraction metrics (north_star: elements/
    turn, parse failures, bytes processed) — plain hash aggregation.
    The summed columns are ``BUCKET_SUMS``, the one definition the
    lineage rows of ``lineage.run_resumable`` observe as well."""
    from pyspark.sql import functions as F

    return (
        extracted.groupBy(conv_bucket(n_buckets).alias("bucket"))
        .agg(
            *(F.sum(F.expr(v)).alias(k) for k, v in BUCKET_SUMS.items()),
            F.sum(F.col("parse_ok").cast("int")).alias("parsed"),
            F.avg("n_elements").alias("elements_per_turn"),
        )
        .select("bucket", "turns", "docs", "parsed", "parse_failures",
                "elements", "bytes_in", "elements_per_turn")
    )


def configure_session(builder, shuffle_partitions: int = 32, arrow_batch: int = 256):
    """Apply the engine's recommended session config (AQE, Arrow caps)."""
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate turns explode(expensive_expr) into a
        # scan-level filter that re-evaluates the generator expression
        # per input row BEFORE any repartition — measured 10-60× wall
        # regression on the shingle/minhash pipeline. Excluding it is
        # the standard mitigation for expensive generators.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # zstd shuffle/broadcast compression: transcript payloads are
        # fat compressible text, and the shuffle's memory-bus traffic
        # is what caps the salted path at high core counts — measured
        # 1.5× over lz4 on the salted extraction at local[32]
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # no DataFrame call-site capture: with it, every PySpark API
        # call on the driver adds a conf read and an origin set/clear
        # over py4j (F.col took 1.7-2.6 ms with it, 0.5 ms without,
        # 4-vCPU Xeon); plans and results are the same, only analysis
        # errors lose the Python call site
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )


def read_transcripts(spark: "SparkSession", path: str, reader_batch: int = 512) -> "DataFrame":
    """Extraction-job transcript scan entrypoint.

    Transcript payloads are ~50-100 KB strings: the default 4096-row
    columnar reader batch allocates 0.5-1 GB on-heap per scan task and
    OOMs small JVMs (observed: kill-resume drill with a default 1g
    driver). 512 rows ≈ 25-50 MB per batch. The batch size is a session
    conf (no per-read parquet option exists for it), so it is set HERE,
    at the extraction entrypoint, rather than in
    :func:`configure_session` — narrow relational tables read in the
    same session keep the default-sized batches until an extraction
    scan runs.
    """
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", str(reader_batch))
    return spark.read.parquet(path)


def write_stable(extracted: "DataFrame", path: str, fmt: str = "parquet") -> None:
    """S7 sink with stable (conv_id, turn_idx) ordering (north_rule)."""
    (
        extracted.orderBy("conv_id", "turn_idx")
        .write.mode("overwrite")
        .format(fmt)
        .save(path)
    )
