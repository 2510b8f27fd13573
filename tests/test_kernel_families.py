"""Golden tests: extraction kernel vs fixture-family ground truth.

Mirrors the reference's golden-assertion test style
(``/root/reference/tests/test_full_features.py`` etc.) over the
synthetic fixture corpus (FIXTURES.md §3) — per-document text equality
and element-level structural assertions, no Spark required.
"""

from __future__ import annotations

import hashlib
import json

import pytest

from libpdf_spark.config import ExtractConfig
from libpdf_spark.fixtures import FAMILIES
from libpdf_spark.kernel.document import extract_document
from libpdf_spark.payload import encode, find_payload, embed


SMART_CROP_FAMILIES = {"header_footer"}


def _run(family: str):
    builder = FAMILIES[family]()
    doc = find_payload(embed(builder.build(), prefix="chatter ", suffix=" more"))
    cfg = ExtractConfig(smart_page_crop=family in SMART_CROP_FAMILIES)
    result = extract_document(doc, cfg)
    return builder, result


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_extracted_text_equality(family):
    builder, result = _run(family)
    expected = builder.expected_text(smart_crop=family in SMART_CROP_FAMILIES)
    assert result.extracted_text == expected


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_element_structure(family):
    builder, result = _run(family)
    expected = builder.expected_elements(
        smart_crop=family in SMART_CROP_FAMILIES
    )
    got = [
        {
            "kind": e.kind,
            "uid": e.uid,
            "page": e.page,
            "text": e.text,
            "row": e.row,
            "col": e.col,
        }
        for e in result.elements
    ]
    exp = [
        {
            "kind": r["kind"],
            "uid": r["uid"],
            "page": r["page"],
            "text": r["text"],
            "row": r.get("row"),
            "col": r.get("col"),
        }
        for r in expected
    ]
    assert got == exp

    # bbox parity (tight grid geometry, exact floats by construction)
    for e, r in zip(result.elements, expected):
        for k in ("x0", "y0", "x1", "y1"):
            assert abs(getattr(e, k) - r[k]) < 1e-6, (e.uid, k, getattr(e, k), r[k])


def test_links_family_targets():
    builder, result = _run("links")
    by_uid = {e.uid: e for e in result.elements}
    expected = builder.expected_elements()
    for row in expected:
        if not row.get("links"):
            continue
        el = by_uid[row["uid"]]
        got = [(l.idx_start, l.idx_stop, l.target) for l in el.links]
        assert got == row["links"], (row["uid"], got, row["links"])
        # the char slice round-trips through the assembled text
        for (s, e_, tgt) in row["links"]:
            assert el.text[s:e_].strip() != ""


def test_cell_links():
    """Links inside table cells resolve to element uids
    (``tables.py:177-187`` cell link extraction)."""
    _, result = _run("full_features")
    cell = next(
        e for e in result.elements if e.kind == "cell" and e.row == 2 and e.col == 1
    )
    got = [(l.idx_start, l.idx_stop, l.target) for l in cell.links]
    assert got == [(0, 2, "chapter.1")]
    assert cell.text[0:2] == "v1"


def test_word_colors_uniform_lift():
    _, result = _run("word_colors")
    paras = [e for e in result.elements if e.kind == "paragraph"]
    assert paras[0].fontname == "Bold"
    assert paras[0].ncolor == (1.0, 0.0, 0.0)
    assert paras[1].fontname == "Mono"


def test_payload_roundtrip():
    builder = FAMILIES["plain_paragraphs"]()
    doc = builder.build()
    assert find_payload(embed(doc)) is not None
    assert find_payload("no payload here") is None
    assert find_payload(None) is None
    with pytest.raises(ValueError):
        find_payload("<<<LIBPDF_DOC>>>{unterminated")


# --- pinned kernel output: text, geometry, cells, links and words ------------
# One md5 per family × config over every element's (uid, kind, page,
# bbox, text, number, row, col, fontname, ncolor, links, words, lines),
# taken before table cells moved onto the page's line/box path. Any
# change to the kernel output of a fixture family shows here.
DIGEST_CONFIGS = {
    "default": {},
    "keep_words": {"keep_words": True},
    "smart_crop": {"smart_page_crop": True},
}

PINNED_DIGESTS = {
    "catalog_edge/default": "c30bdcf85bb5b98e4c06e3e655d4cc49",
    "catalog_edge/keep_words": "7ffafdb009d265716a6a2a3d2313ae32",
    "catalog_edge/smart_crop": "c30bdcf85bb5b98e4c06e3e655d4cc49",
    "figures_filtering/default": "14431affba8f1644c423e72aeabab769",
    "figures_filtering/keep_words": "14431affba8f1644c423e72aeabab769",
    "figures_filtering/smart_crop": "14431affba8f1644c423e72aeabab769",
    "full_features/default": "439a45c0c41f1a26c3de916e50ded4a7",
    "full_features/keep_words": "11143d92a249b61ec61092d8f089ebaa",
    "full_features/smart_crop": "439a45c0c41f1a26c3de916e50ded4a7",
    "ghost_chapter/default": "b68fc049fe463e3107cc10f7c4e253b6",
    "ghost_chapter/keep_words": "ad764ffbf4b29d492aee33b228832f5a",
    "ghost_chapter/smart_crop": "b68fc049fe463e3107cc10f7c4e253b6",
    "header_footer/default": "73957d5914570cafab56ca8ab3c194cf",
    "header_footer/keep_words": "c29c94b833b7098ebf6916d5ae54406e",
    "header_footer/smart_crop": "b750d31d89d5004c5dcfa7dff9368415",
    "links/default": "d61567d2bee5cbb39e229d4ba4021f9e",
    "links/keep_words": "b704eb0ff438bb2776a01e37ac92d983",
    "links/smart_crop": "1ddb1b0a2886d58bc469822cd45d72db",
    "merged_cells/default": "21363060e057b714f472902729ee11b4",
    "merged_cells/keep_words": "7432cfe5620093cb71394cd96b1c3e32",
    "merged_cells/smart_crop": "21363060e057b714f472902729ee11b4",
    "multi_column/default": "631bcdab4b960f79db57ace2ed45319d",
    "multi_column/keep_words": "c269bed63f7b6adfc3a9cbaa44b09d54",
    "multi_column/smart_crop": "a2e0c384cad269d9a688081ebeccae04",
    "nested_chapters/default": "f2ba503e07c00b50dfd4924b39a98976",
    "nested_chapters/keep_words": "8b7a138e3c56bbcb44505427c015478d",
    "nested_chapters/smart_crop": "a398979f59c09b9772c438b738c8d0a6",
    "plain_paragraphs/default": "2ba8596f579a14f744346eb46b08b34c",
    "plain_paragraphs/keep_words": "7216cc6b3b342e1832c41a2bbb14326b",
    "plain_paragraphs/smart_crop": "b0381b29d03e0b64646d22aa1eea4f28",
    "rects_code/default": "b43dee24bf73e2f4e5fe5e3ca2330811",
    "rects_code/keep_words": "da2101dd6a86e34639e168f078761325",
    "rects_code/smart_crop": "3a83dac724ad0fc8d8b49d0c7a74b638",
    "ruled_tables/default": "463510a670cc549e7dad29686566871f",
    "ruled_tables/keep_words": "55881c5f411138fce0f6b76cfa5aaf31",
    "ruled_tables/smart_crop": "463510a670cc549e7dad29686566871f",
    "split_heading/default": "160c030009b4cb33e3b280e90662e4c4",
    "split_heading/keep_words": "673fc1468ab1491a9c73740adc004dff",
    "split_heading/smart_crop": "ea0228f96281b20c2bfa07b5e342cbd9",
    "virtual_chapters/default": "13f1cc58a78c879c42080dedc927e05d",
    "virtual_chapters/keep_words": "b8c3e68abbc99121d8ea9dbe6a7e5a40",
    "virtual_chapters/smart_crop": "13f1cc58a78c879c42080dedc927e05d",
    "word_colors/default": "21911c536bd017557f611a9b3fa6c68c",
    "word_colors/keep_words": "afcc2bbcee3eb89b843a550ebf3a30ef",
    "word_colors/smart_crop": "21911c536bd017557f611a9b3fa6c68c",
}


def _plain(o):
    return o.item() if hasattr(o, "item") else repr(o)


def _kernel_digest(result) -> str:
    h = hashlib.md5()
    for e in result.elements:
        links = [(l.idx_start, l.idx_stop, l.page, l.x, l.y, l.target_uid) for l in e.links]
        rec = (e.uid, e.kind, e.page, e.bbox, e.text, e.number, e.row, e.col,
               e.fontname, e.ncolor, links, e.words, e.tlines)
        h.update(json.dumps(rec, default=_plain, sort_keys=True).encode() + b"\n")
    return h.hexdigest()


def test_pinned_digests_cover_every_family():
    assert {k.split("/")[0] for k in PINNED_DIGESTS} == set(FAMILIES)
    assert len(PINNED_DIGESTS) == len(FAMILIES) * len(DIGEST_CONFIGS)


@pytest.mark.parametrize("family", sorted(FAMILIES))
@pytest.mark.parametrize("config", sorted(DIGEST_CONFIGS))
def test_kernel_output_pinned(family, config):
    doc = find_payload(embed(FAMILIES[family]().build(), prefix="chatter ", suffix=" more"))
    result = extract_document(doc, ExtractConfig(**DIGEST_CONFIGS[config]))
    assert _kernel_digest(result) == PINNED_DIGESTS[f"{family}/{config}"]
