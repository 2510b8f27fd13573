"""X11 YAML sink: golden layout test (ruamel sequence=4/offset=2 block
style, reference process.py:131-186) + CLI integration."""

from __future__ import annotations

from libpdf_spark.yamlmini import dump

GOLDEN_IN = {
    "root": {
        "meta": {"title": "T: x", "author": None, "n": 3, "ratio": 0.5},
        "pages": [{"number": 1, "width": 612.0}],
        "extracted_text": "line one\nline two",
        "elements": [
            {
                "id": "paragraph.1",
                "text": "He said 'hi'",
                "ncolor": [0.0, 1.0, 0.0],
                "links": [],
                "props": {},
                "ok": True,
            }
        ],
    }
}

GOLDEN_OUT = """\
root:
  meta:
    title: 'T: x'
    author: null
    n: 3
    ratio: 0.5
  pages:
    - number: 1
      width: 612.0
  extracted_text: |-
    line one
    line two
  elements:
    - id: paragraph.1
      text: 'He said ''hi'''
      ncolor:
        - 0.0
        - 1.0
        - 0.0
      links: []
      props: {}
      ok: true
"""


def test_golden_block_layout():
    assert dump(GOLDEN_IN) == GOLDEN_OUT


def test_scalar_edge_cases():
    assert dump({"a": "true"}) == "a: 'true'\n"  # string, not bool
    assert dump({"a": "null"}) == "a: 'null'\n"
    assert dump({"a": "007"}) == "a: '007'\n"  # leading zero stays string
    assert dump({"a": "x: y"}) == "a: 'x: y'\n"
    assert dump({"a": "#note"}) == "a: '#note'\n"
    assert dump({"a": "- dash"}) == "a: '- dash'\n"
    assert dump({"a": ""}) == "a: ''\n"
    assert dump({"a": "trail "}) == "a: 'trail '\n"
    assert dump([1, [2, 3]]) == "- 1\n-\n  - 2\n  - 3\n"


def test_trailing_newline_literal_vs_chomped():
    assert dump({"t": "a\nb\n"}).splitlines()[0] == "t: |"
    assert dump({"t": "a\nb"}).splitlines()[0] == "t: |-"
    # trailing-space lines are not literal-block-safe → double-quoted
    # fallback with \n escapes (single-quoting would fold the newline)
    assert dump({"t": "a \nb"}) == 't: "a \\nb"\n'


def test_cli_yaml_output(tmp_path):
    from libpdf_spark.__main__ import main
    from libpdf_spark.fixtures import FAMILIES
    from libpdf_spark.pdfwrite import write_pdf

    pdf = tmp_path / "doc.pdf"
    pdf.write_bytes(write_pdf(FAMILIES["plain_paragraphs"]().build(), compress=True))
    out = tmp_path / "out.yaml"
    rc = main([str(pdf), "-of", "yaml", "-o", str(out)])
    assert rc == 0
    text = out.read_text()
    assert text.startswith("meta:")
    assert "\nelements:\n" in text
    assert "\n    - uid: " in text or "\n  - uid: " in text
    assert "extracted_text: |" in text


def test_empty_containers_in_sequences():
    """ADVICE r3: empty dict/list as SEQUENCE items must load back as
    containers, not the strings '{}' / '[]'."""
    out = dump({"a": [{}, [], "x"]})
    assert out == "a:\n  - {}\n  - []\n  - x\n"
    try:
        import yaml
    except ImportError:
        return
    assert yaml.safe_load(out) == {"a": [{}, [], "x"]}
    assert yaml.safe_load(dump([[], {}])) == [[], {}]
    assert yaml.safe_load(dump({"m": {}, "l": []})) == {"m": {}, "l": []}


def test_folded_scalar_cells():
    """Reference parity: cell text is a YAML *folded* scalar
    (tables.py:40,193 FoldedStr); content newlines become blank
    separator lines and load back byte-identical."""
    from libpdf_spark.yamlmini import FoldedStr

    out = dump({"cells": [{"text": FoldedStr("Henry\ncavill"), "row": 1}]})
    assert out == (
        "cells:\n  - text: >-\n      Henry\n\n      cavill\n    row: 1\n"
    )
    assert dump({"t": FoldedStr("single")}) == "t: >-\n  single\n"
    # not folded-block-safe (leading space) -> quoted fallback
    assert dump({"t": FoldedStr(" lead")}) == "t: ' lead'\n"
    try:
        import yaml
    except ImportError:
        return
    assert yaml.safe_load(out)["cells"][0]["text"] == "Henry\ncavill"
    assert yaml.safe_load(dump([FoldedStr("a\nb")])) == ["a\nb"]
    assert yaml.safe_load(dump({"t": FoldedStr("x\ny\nz")})) == {"t": "x\ny\nz"}


def test_cli_yaml_cell_text_folded(tmp_path):
    """Ruled-table document: YAML cell text uses the folded (>) style
    and loads back identical to the JSON output (VERDICT r3 ask #6)."""
    import json as _json

    from libpdf_spark.__main__ import main
    from libpdf_spark.fixtures import FAMILIES
    from libpdf_spark.pdfwrite import write_pdf

    pdf = tmp_path / "doc.pdf"
    pdf.write_bytes(write_pdf(FAMILIES["merged_cells"]().build(), compress=True))
    yml = tmp_path / "out.yaml"
    jsn = tmp_path / "out.json"
    assert main([str(pdf), "-of", "yaml", "-o", str(yml)]) == 0
    assert main([str(pdf), "-of", "json", "-o", str(jsn)]) == 0
    text = yml.read_text()
    assert "text: >-" in text or "text: >" in text  # folded cells present
    try:
        import yaml
    except ImportError:
        return
    got = yaml.safe_load(text)
    want = _json.loads(jsn.read_text())
    cells_y = [e for e in got["elements"] if "row" in e]
    cells_j = [e for e in want["elements"] if "row" in e]
    assert cells_y and [c["text"] for c in cells_y] == [c["text"] for c in cells_j]
    assert got == want
