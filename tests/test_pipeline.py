"""End-to-end Spark pipeline tests: per-turn text equality under
stable (conv_id, turn_idx) ordering (the north rule gate)."""

from __future__ import annotations

import pandas as pd
import pytest

from libpdf_spark.config import ExtractConfig
from libpdf_spark.fixtures import gen_transcripts
from libpdf_spark.pipeline import extract_turns, extraction_metrics


@pytest.fixture(scope="module")
def corpus():
    return gen_transcripts(n_convs=12, seed=42)


@pytest.fixture(scope="module")
def extracted(spark, corpus):
    transcripts, _, _ = corpus
    df = spark.createDataFrame(transcripts)
    out = extract_turns(df, ExtractConfig(), num_partitions=8)
    return out.orderBy("conv_id", "turn_idx").toPandas()


def test_per_turn_text_equality(extracted, corpus):
    _, expected_text, _ = corpus
    got = (
        extracted[extracted.parse_ok]
        .loc[:, ["conv_id", "turn_idx", "extracted_text"]]
        .reset_index(drop=True)
    )
    exp = (
        expected_text.sort_values(["conv_id", "turn_idx"])
        .loc[:, ["conv_id", "turn_idx", "extracted_text"]]
        .reset_index(drop=True)
    )
    assert len(got) == len(exp), "every document-bearing turn must parse"
    merged = got.merge(
        exp, on=["conv_id", "turn_idx"], suffixes=("_got", "_exp"), how="outer"
    )
    bad = merged[merged.extracted_text_got != merged.extracted_text_exp]
    assert bad.empty, bad.head(3).to_dict("records")


def test_element_spans_match(extracted, corpus):
    _, _, expected_elements = corpus
    rows = []
    for _, r in extracted[extracted.parse_ok].iterrows():
        for e in r["elements"]:
            rows.append(
                (
                    r["conv_id"], r["turn_idx"], e["uid"], e["kind"], e["page"],
                    e["x0"], e["y0"], e["x1"], e["y1"], e["row"], e["col"],
                    e["text"],
                )
            )
    got = pd.DataFrame(rows, columns=list(expected_elements.columns))
    key = ["conv_id", "turn_idx", "uid"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = expected_elements.sort_values(key).reset_index(drop=True)
    assert len(got) == len(exp)
    for col in ("kind", "page", "text"):
        assert (got[col] == exp[col]).all(), col
    for col in ("x0", "y0", "x1", "y1"):
        assert (got[col] - exp[col]).abs().max() < 1e-6, col


def test_non_document_turns_pass_through(extracted):
    chatter = extracted[~extracted.doc_found]
    assert len(chatter) > 0
    assert chatter.extracted_text.isna().all()
    assert (chatter.n_elements == 0).all()


def test_corrupt_payload_is_isolated(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c1"],
            "turn_idx": pd.array([0, 1], dtype="int32"),
            "role": ["tool", "tool"],
            "text": [
                "<<<LIBPDF_DOC>>>{not json<<<END_LIBPDF_DOC>>>",
                "fine chatter",
            ],
            "tool": [None, None],
            "ts": pd.to_datetime(["2026-01-01", "2026-01-01"]),
        }
    )
    out = extract_turns(spark.createDataFrame(pdf), ExtractConfig()).toPandas()
    out = out.sort_values("turn_idx").reset_index(drop=True)
    assert bool(out.loc[0, "doc_found"]) is True
    assert bool(out.loc[0, "parse_ok"]) is False
    assert "payload" in out.loc[0, "error"]
    assert bool(out.loc[1, "doc_found"]) is False


def test_payload_in_tool_column(spark):
    """A document embedded in the `tool` field (not `text`) extracts
    identically — the pipeline probes text first, then tool."""
    from libpdf_spark.fixtures import FAMILIES
    from libpdf_spark.payload import embed

    b = FAMILIES["plain_paragraphs"]()
    pdf = pd.DataFrame(
        {
            "conv_id": ["t1"],
            "turn_idx": pd.array([0], dtype="int32"),
            "role": ["tool"],
            "text": ["tool call result follows"],
            "tool": [embed(b.build(), prefix="payload: ")],
            "ts": pd.to_datetime(["2026-01-01"]),
        }
    )
    out = extract_turns(spark.createDataFrame(pdf), ExtractConfig()).toPandas()
    assert bool(out.loc[0, "parse_ok"])
    assert out.loc[0, "extracted_text"] == b.expected_text()


def test_null_turn_idx_does_not_kill_task(spark):
    pdf = pd.DataFrame(
        {
            "conv_id": ["n1", "n1"],
            "turn_idx": pd.array([None, 4], dtype="Int32"),
            "role": ["tool", "tool"],
            "text": ["no doc here", "also no doc"],
            "tool": [None, None],
            "ts": pd.to_datetime(["2026-01-01", "2026-01-01"]),
        }
    )
    out = extract_turns(spark.createDataFrame(pdf), ExtractConfig()).toPandas()
    # convention: null turn_idx stays NULL (nullable key) so distinct
    # null-turn rows never collide on a sentinel value
    vals = out.turn_idx.tolist()
    assert len(vals) == 2
    assert any(pd.isna(v) for v in vals)
    assert 4 in [v for v in vals if not pd.isna(v)]


def test_metrics_aggregation(spark, corpus, tmp_path):
    from libpdf_spark.lineage import run_resumable

    transcripts, expected_text, _ = corpus
    df = spark.createDataFrame(transcripts)
    m = extraction_metrics(extract_turns(df, ExtractConfig())).toPandas()
    assert m.turns.sum() == len(transcripts)
    assert m.parsed.sum() == len(expected_text)
    assert m.parse_failures.sum() == 0

    # with run_resumable's bucket count, the metric buckets are the
    # buckets the job writes each conversation to
    m8 = extraction_metrics(extract_turns(df, ExtractConfig()), 8).toPandas()
    out = str(tmp_path / "resumable")
    run_resumable(spark, df, out, ExtractConfig(), n_buckets=8, chunk_size=4)
    written = (
        spark.read.parquet(f"{out}/data").groupBy("bucket").count().toPandas()
    )
    assert dict(zip(m8.bucket, m8.turns)) == dict(zip(written.bucket, written["count"]))


def test_salted_repartition_spreads_hot_conversation(spark):
    from libpdf_spark.pipeline import salted_repartition

    pdf = pd.DataFrame(
        {
            "conv_id": ["hot"] * 64,
            "turn_idx": pd.array(range(64), dtype="int32"),
            "text": ["x"] * 64,
            "tool": [None] * 64,
        }
    )
    df = salted_repartition(spark.createDataFrame(pdf), ExtractConfig(), 8)
    import pyspark.sql.functions as F

    counts = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .toPandas()
    )
    # a single conv_id must land on >1 partition thanks to the salt
    assert len(counts) > 1, counts


def test_transcripts_without_tool_column(spark):
    """Single-field corpora (no `tool` column) extract identically."""
    from libpdf_spark.fixtures import FAMILIES
    from libpdf_spark.payload import embed

    b = FAMILIES["plain_paragraphs"]()
    pdf = pd.DataFrame(
        {
            "conv_id": ["nt1"],
            "turn_idx": pd.array([0], dtype="int32"),
            "text": [embed(b.build())],
        }
    )
    out = extract_turns(spark.createDataFrame(pdf), ExtractConfig()).toPandas()
    assert bool(out.loc[0, "parse_ok"])
    assert out.loc[0, "extracted_text"] == b.expected_text()


def test_salt_stage_input_output_identical_results(spark, corpus):
    """The exchange placement (salt raw input vs salt extracted
    output) is a pure plan choice: results are identical row-for-row,
    and both plans carry the explicit salted conv_id repartition."""
    transcripts, expected_text, _ = corpus
    df = spark.createDataFrame(transcripts)
    cols = ["conv_id", "turn_idx", "parse_ok", "extracted_text", "n_elements"]
    a = (
        extract_turns(df, ExtractConfig(), num_partitions=8, salt_stage="input")
        .select(*cols).orderBy("conv_id", "turn_idx").toPandas()
    )
    b = (
        extract_turns(df, ExtractConfig(), num_partitions=8, salt_stage="output")
        .select(*cols).orderBy("conv_id", "turn_idx").toPandas()
    )
    pd.testing.assert_frame_equal(a, b)
    with pytest.raises(ValueError, match="salt_stage"):
        extract_turns(df, ExtractConfig(), salt_stage="sideways")


def test_output_salting_spreads_hot_conversation_output(spark, corpus):
    """Output-stage salting: one hot conversation's EXTRACTED rows are
    spread across partitions for the downstream write/agg stages."""
    import pyspark.sql.functions as F

    transcripts, _, _ = corpus
    hot = transcripts.copy()
    hot["conv_id"] = "hot-conversation"
    hot["turn_idx"] = pd.array(range(len(hot)), dtype="int32")
    out = extract_turns(
        spark.createDataFrame(hot), ExtractConfig(), num_partitions=8,
        salt_stage="output",
    )
    counts = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().toPandas()
    )
    assert len(counts) > 1, counts


def test_payload_stage_catches_every_exception_class(monkeypatch):
    """Per-turn isolation (round-5 contract): the payload stage must
    record ANY exception class as one turn's failure — a single
    malformed document aborting the whole Arrow batch is the failure
    mode VERDICT r4 flagged. Drives make_extract_batch directly (same
    function mapInPandas ships to executors) with find_payload forced
    to raise classes OUTSIDE the old (ValueError, KeyError, TypeError)
    catch list."""
    import libpdf_spark.pipeline as pl
    from libpdf_spark.pipeline import make_extract_batch

    for exc_cls in (IndexError, RuntimeError, ZeroDivisionError, OverflowError):
        def boom(text, pdf_password="", _cls=exc_cls):
            if text:
                raise _cls("synthetic parse failure")
            return None

        monkeypatch.setattr(pl, "find_payload", boom)
        batch_fn = make_extract_batch(ExtractConfig())
        pdf = pd.DataFrame(
            {
                "conv_id": ["c1", "c1"],
                "turn_idx": pd.array([0, 1], dtype="int32"),
                "text": ["<<<LIBPDF_DOC>>>x<<<END_LIBPDF_DOC>>>", ""],
                "tool": [None, None],
            }
        )
        out = pd.concat(list(batch_fn(iter([pdf]))), ignore_index=True)
        assert len(out) == 2, exc_cls
        bad = out[out["turn_idx"] == 0].iloc[0]
        assert bad["parse_ok"] is False or not bad["parse_ok"]
        assert exc_cls.__name__ in bad["error"], bad["error"]


def test_pdf_variant_rotation_reaches_all_ten():
    """ADVICE r4: the old rotation (ci*3+ti)%6 shared parity with the
    (ci+ti)%2==0 embed gate, so variants 1/3/5 — FlateDecode-only and
    AES — never appeared in any corpus. Pin the fix at both levels:
    the rotation function itself (now a per-corpus counter), and a real
    generated corpus whose embedded PDF bytes must include encrypted
    AND compressed files."""
    from libpdf_spark.fixtures import _pdf_variant

    seen = {_pdf_variant(k) for k in range(10)}
    assert seen == set(range(10)), seen


def test_corpus_contains_all_pdf_serialization_variants(corpus):
    import base64
    import re as _re

    transcripts, _, _ = corpus
    pdfs = []
    for body in transcripts["text"].tolist():
        if not isinstance(body, str):
            continue
        m = _re.search(r"<<<LIBPDF_PDF_B64>>>(.*?)<<<END_LIBPDF_PDF_B64>>>", body, _re.S)
        if m:
            pdfs.append(base64.b64decode(m.group(1)))
    assert len(pdfs) >= 6, len(pdfs)
    has_encrypt = [b"/Encrypt" in p for p in pdfs]
    has_aes = [b"AESV2" in p for p in pdfs]
    has_rc4 = [
        b"/Encrypt" in p and b"AESV2" not in p and b"AESV3" not in p
        for p in pdfs
    ]
    has_flate_plain = [
        b"FlateDecode" in p and b"/Encrypt" not in p for p in pdfs
    ]
    has_cid = [b"Identity-H" in p for p in pdfs]
    has_bare = [
        b"FlateDecode" not in p and b"/Encrypt" not in p for p in pdfs
    ]
    has_aes256 = [b"AESV3" in p for p in pdfs]
    has_ucs2 = [b"UniJIS-UCS2-H" in p for p in pdfs]
    has_rksj = [b"90ms-RKSJ-H" in p for p in pdfs]
    # the CMap stream body is Flate-compressed in the corpus variant,
    # but its stream DICT (/Type /CMap) is plaintext
    has_embedded = [b"/Type /CMap" in p for p in pdfs]
    has_form = [b"/Subtype /Form" in p for p in pdfs]
    assert any(has_aes), "no AES-encrypted PDF in corpus"
    assert any(has_rc4), "no RC4-encrypted PDF in corpus"
    assert any(has_aes256), "no AES-256 (V5/R6) PDF in corpus"
    assert any(has_ucs2), "no UniJIS-UCS2-H predefined-CMap PDF in corpus"
    assert any(has_rksj), "no 90ms-RKSJ-H variable-CMap PDF in corpus"
    assert any(has_embedded), "no embedded-CMap-stream PDF in corpus"
    assert any(has_form), "no form-wrapped PDF in corpus"
    assert any(has_flate_plain), "no compressed-unencrypted PDF in corpus"
    assert any(has_cid), "no Identity-H CID PDF in corpus"
    assert any(has_bare), "no plain PDF in corpus"
    assert any(has_encrypt)


def test_unsupported_pdf_feature_is_recorded_failure_e2e(spark):
    """A PDF payload using a feature the parser deliberately rejects
    (an unimplemented predefined CMap) must flow through extract_turns
    as ONE turn's recorded parse failure — doc_found=true,
    parse_ok=false, error naming the cause — while sibling turns in
    the same Arrow batch extract normally."""
    from libpdf_spark.fixtures import FAMILIES, doc_from_text
    from libpdf_spark.payload import embed_pdf
    from libpdf_spark.pdfwrite import write_pdf

    good = FAMILIES["plain_paragraphs"]()
    bad_pdf = write_pdf(doc_from_text("apple banana").build(), cid_font="ucs2")
    bad_pdf = bad_pdf.replace(
        b"/Encoding /UniJIS-UCS2-H", b"/Encoding /Add-RKSJ-H\x20\x20\x20"
    )
    pdf = pd.DataFrame(
        {
            "conv_id": ["u1", "u1"],
            "turn_idx": pd.array([0, 1], dtype="int32"),
            "role": ["tool", "tool"],
            "text": [
                embed_pdf(bad_pdf, prefix="attached: "),
                embed_pdf(write_pdf(good.build()), prefix="attached: "),
            ],
            "tool": [None, None],
            "ts": pd.to_datetime(["2026-01-01", "2026-01-01"]),
        }
    )
    out = extract_turns(spark.createDataFrame(pdf), ExtractConfig()).toPandas()
    out = out.sort_values("turn_idx").reset_index(drop=True)
    assert bool(out.loc[0, "doc_found"]) and not bool(out.loc[0, "parse_ok"])
    assert "unsupported" in out.loc[0, "error"].lower()
    assert bool(out.loc[1, "parse_ok"])
    assert out.loc[1, "extracted_text"] == good.expected_text()


def test_password_protected_pdf_turn_e2e(spark):
    """ExtractConfig.pdf_password flows to the payload stage: a
    password-protected PDF turn extracts when the config carries the
    document password, and records ONE turn's parse failure (never a
    job abort) under the default config."""
    import pandas as pd

    from libpdf_spark.config import ExtractConfig
    from libpdf_spark.fixtures import FAMILIES, doc_from_text
    from libpdf_spark.payload import embed_pdf
    from libpdf_spark.pdfwrite import write_pdf
    from libpdf_spark.pipeline import extract_turns

    builder = doc_from_text("locked document body text")
    locked = embed_pdf(
        write_pdf(builder.build(), compress=True, encrypt="aes256",
                  encrypt_password="open sesame"),
        prefix="turn 0 attaches a locked pdf: ",
    )
    plain = FAMILIES["plain_paragraphs"]()
    rows = pd.DataFrame(
        {
            "conv_id": ["c", "c"],
            "turn_idx": [0, 1],
            "role": ["user", "assistant"],
            "text": [locked, "no doc here"],
            "tool": [None, None],
            "ts": pd.to_datetime(["2026-01-01", "2026-01-01"]),
        }
    )
    df = spark.createDataFrame(rows)
    with_pw = (
        extract_turns(df, ExtractConfig(pdf_password="open sesame"))
        .orderBy("turn_idx")
        .toPandas()
    )
    assert bool(with_pw.iloc[0].parse_ok)
    assert "locked document body text" in with_pw.iloc[0].extracted_text
    without = extract_turns(df, ExtractConfig()).orderBy("turn_idx").toPandas()
    assert not bool(without.iloc[0].parse_ok)
    assert "password" in (without.iloc[0].error or "")
