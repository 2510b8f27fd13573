"""API facade (load / ApiObjects / CLI) + S8/S9 render sinks.

Mirrors the reference's entry-point shape (``core.py:171-262``,
``apiobjects.py:19-90``) and its CLI smoke coverage
(``tests/test_cli.py:14-21`` spirit)."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zlib

import pytest

import libpdf_spark
from libpdf_spark.fixtures import FAMILIES
from libpdf_spark.pdfwrite import write_pdf
from libpdf_spark.render import read_png_size, write_png


@pytest.fixture(scope="module")
def pdf_path(tmp_path_factory):
    doc = FAMILIES["full_features"]().build()
    path = tmp_path_factory.mktemp("api") / "full_features.pdf"
    path.write_bytes(write_pdf(doc, compress=True))
    return str(path)


def test_load_from_pdf_path_flattened_views(pdf_path):
    objects = libpdf_spark.load(pdf_path)
    assert objects.root.pages
    f = objects.flattened
    assert f.chapters and f.paragraphs and f.tables and f.cells
    assert f.figures and f.rects
    # every flattened element is also in root.elements
    assert len(objects.root.elements) == sum(len(v) for v in f)


def test_load_from_bytes_dict_and_turn_string():
    from libpdf_spark.payload import embed

    builder = FAMILIES["plain_paragraphs"]()
    doc = builder.build()
    via_bytes = libpdf_spark.load(write_pdf(doc))
    via_dict = libpdf_spark.load(doc)
    via_turn = libpdf_spark.load(embed(doc, prefix="chatter "))
    exp = builder.expected_text()
    assert via_bytes.root.extracted_text == exp
    assert via_dict.root.extracted_text == exp
    assert via_turn.root.extracted_text == exp


def test_load_kwargs_page_range_and_no_flags(pdf_path):
    objects = libpdf_spark.load(pdf_path, page_range="1", no_tables=True, no_rects=True)
    assert all(e.page == 1 for e in objects.root.elements)
    assert not objects.flattened.tables and not objects.flattened.cells
    assert not objects.flattened.rects


def test_parse_page_range():
    from libpdf_spark.api import parse_page_range

    assert parse_page_range("3-5,7") == (3, 4, 5, 7)
    assert parse_page_range("3,4,7") == (3, 4, 7)
    assert parse_page_range(None) == ()
    with pytest.raises(ValueError):
        parse_page_range("5-3")
    with pytest.raises(ValueError):
        parse_page_range("x")


def test_page_crop_kwarg_maps_to_margins():
    from libpdf_spark.api import config_from_kwargs

    cfg = config_from_kwargs(page_crop=(10, 20, 30, 40))
    assert (cfg.crop_top, cfg.crop_right, cfg.crop_bottom, cfg.crop_left) == (
        10.0, 20.0, 30.0, 40.0,
    )


# ---------------------------------------------------------------------------
# S8 figure PNG export + S9 visual debug
# ---------------------------------------------------------------------------


def _decode_png(data: bytes):
    """Minimal PNG reader (filter-0 RGB) to verify the sink's output."""
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = read_png_size(data)
    idat = b""
    pos = 8
    while pos < len(data):
        (length,) = __import__("struct").unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat += data[pos + 8 : pos + 8 + length]
        pos += 12 + length
    raw = zlib.decompress(idat)
    assert len(raw) == h * (w * 3 + 1)
    return w, h, raw


def test_png_writer_roundtrip():
    import numpy as np

    img = np.zeros((4, 3, 3), dtype=np.uint8)
    img[1, 2] = (255, 0, 10)
    w, h, raw = _decode_png(write_png(img))
    assert (w, h) == (3, 4)
    # row 1 filter byte + pixel 2
    row = raw[(3 * 3 + 1) * 1 :][: 3 * 3 + 1]
    assert row[0] == 0 and tuple(row[1 + 6 : 1 + 9]) == (255, 0, 10)


def test_save_figures_s8(pdf_path, tmp_path):
    objects = libpdf_spark.load(
        pdf_path, save_figures=True, figure_dir=str(tmp_path / "figs")
    )
    figs = objects.flattened.figures
    files = sorted(os.listdir(tmp_path / "figs"))
    assert len(files) == len(figs) and files
    for name in files:
        data = (tmp_path / "figs" / name).read_bytes()
        w, h, _ = _decode_png(data)
        assert w > 1 and h > 1


def test_visual_debug_s9(pdf_path, tmp_path):
    libpdf_spark.load(
        pdf_path,
        visual_debug=True,
        visual_debug_output_dir=str(tmp_path / "vd"),
    )
    pages = sorted(os.listdir(tmp_path / "vd"))
    assert pages == ["page-1.png", "page-2.png"] or len(pages) >= 1
    w, h, _ = _decode_png((tmp_path / "vd" / pages[0]).read_bytes())
    assert w > 100 and h > 100


def test_visual_debug_include_exclude_conflict(pdf_path, tmp_path):
    with pytest.raises(ValueError):
        libpdf_spark.load(
            pdf_path,
            visual_debug=True,
            visual_debug_output_dir=str(tmp_path / "vd2"),
            visual_debug_include_elements=["table"],
            visual_debug_exclude_elements=["rect"],
        )


def test_visual_debug_split_elements(pdf_path, tmp_path):
    libpdf_spark.load(
        pdf_path,
        visual_debug=True,
        visual_debug_output_dir=str(tmp_path / "vd3"),
        visual_split_elements=True,
        visual_debug_include_elements=["table", "figure"],
    )
    assert sorted(os.listdir(tmp_path / "vd3")) == ["figure", "table"]


# ---------------------------------------------------------------------------
# CLI (reference tests/test_cli.py spirit)
# ---------------------------------------------------------------------------


def _run_cli(*args):
    return subprocess.run(
        [sys.executable, "-m", "libpdf_spark", *args],
        capture_output=True, text=True, timeout=120,
        cwd="/root/repo",
    )


def test_cli_stdout(pdf_path):
    r = _run_cli(pdf_path)
    assert r.returncode == 0, r.stderr
    assert "elements:" in r.stdout and "chapter." in r.stdout


def test_cli_json_output(pdf_path, tmp_path):
    out = tmp_path / "out.json"
    r = _run_cli(pdf_path, "-of", "json", "-o", str(out), "-p", "1-2")
    assert r.returncode == 0, r.stderr
    payload = json.loads(out.read_text())
    assert payload["n_elements"] == len(payload["elements"]) > 0
    assert payload["extracted_text"]


def test_cli_jsonl_and_flags(pdf_path, tmp_path):
    out = tmp_path / "out.jsonl"
    r = _run_cli(pdf_path, "-of", "jsonl", "-o", str(out), "--no-tables")
    assert r.returncode == 0, r.stderr
    rows = [json.loads(line) for line in out.read_text().splitlines()]
    assert rows and all(row["kind"] not in ("table", "cell") for row in rows)


def test_load_corpus_dataframe_views(spark):
    import pandas as pd

    from libpdf_spark.fixtures import gen_transcripts

    t, expected_text, _ = gen_transcripts(n_convs=4, seed=9)
    corpus = __import__("libpdf_spark").load_corpus(
        spark, spark.createDataFrame(t), verbose=0, keep_words=True
    )
    out = corpus.extracted.toPandas()
    assert len(out) == len(t)
    paras = corpus.flattened("paragraph").toPandas()
    assert len(paras) > 0 and (paras.kind == "paragraph").all()
    assert {"conv_id", "turn_idx", "uid", "text", "words"} <= set(paras.columns)
    # keep_words flowed through: box-backed elements carry word arrays
    assert paras.words.map(len).sum() > 0


def test_cli_keep_words(pdf_path, tmp_path):
    out = tmp_path / "w.json"
    r = _run_cli(pdf_path, "-of", "json", "-o", str(out), "--keep-words")
    assert r.returncode == 0, r.stderr
    payload = json.loads(out.read_text())
    wordy = [e for e in payload["elements"] if e.get("words")]
    assert wordy
    w = wordy[0]["words"][0]
    assert {"line", "text", "x0", "fontname"} <= set(w)


def test_load_pdf_password():
    """`load(pdf, pdf_password=...)` opens password-protected bytes;
    without the password the ValueError surfaces to the caller (the
    single-document API has no per-turn recording to hide behind)."""
    import pytest

    from libpdf_spark.api import load
    from libpdf_spark.fixtures import doc_from_text
    from libpdf_spark.pdfwrite import write_pdf

    data = write_pdf(
        doc_from_text("locked api doc").build(),
        encrypt="aes", encrypt_password="k3y",
    )
    objs = load(data, pdf_password="k3y", init_logging=False)
    assert "locked api doc" in objs.root.extracted_text
    with pytest.raises(ValueError):
        load(data, init_logging=False)


def test_load_corpus_pdf_password(spark):
    """`load_corpus(..., pdf_password=...)` reaches ExtractConfig via
    the kwargs passthrough: a protected PDF turn extracts with the
    password and records a failure without it."""
    import pandas as pd

    from libpdf_spark import load_corpus
    from libpdf_spark.fixtures import doc_from_text
    from libpdf_spark.payload import embed_pdf
    from libpdf_spark.pdfwrite import write_pdf

    locked = embed_pdf(
        write_pdf(doc_from_text("corpus locked body").build(),
                  encrypt="rc4", encrypt_password="pw"),
        prefix="attachment: ",
    )
    df = spark.createDataFrame(
        pd.DataFrame(
            {"conv_id": ["c"], "turn_idx": pd.array([0], dtype="int32"),
             "text": [locked], "tool": [None]}
        )
    )
    ok = load_corpus(spark, df, pdf_password="pw").extracted.toPandas()
    assert bool(ok.iloc[0].parse_ok)
    assert "corpus locked body" in ok.iloc[0].extracted_text
    bad = load_corpus(spark, df).extracted.toPandas()
    assert not bool(bad.iloc[0].parse_ok)
