"""Seeded input generator: every input a workload hands the program.

Each function takes the seed and returns plain pandas frames, bytes or
strings, so a workload materializes all of its inputs before timing
starts and the program only ever sees generated data. Every generated
input also gets a content hash (:func:`content_hash`), recorded in the
run artifact, so a claim can be rerun on an unseen seed and shown to
have run on different inputs.

Shapes follow the repository's sf0.1 testdata: ``documents`` (30-word
vocabulary, 10-100 words, ~5% near-duplicates marked `` dup``),
``embeddings`` (random unit vectors in 64 dimensions) and a
TPC-H-style ``lineitem``.
"""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pandas as pd

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "zh", "es", "fr", "de")

# write_pdf keyword sets, in the order of fixtures._pdf_variant: plain,
# FlateDecode, RC4, AES-128, Identity-H, AES-256, UniJIS-UCS2-H,
# 90ms-RKSJ-H, embedded CMap stream, and the AES + CID + form-wrapped page.
PDF_VARIANTS = (
    {},
    {"compress": True},
    {"encrypt": "rc4"},
    {"compress": True, "encrypt": "aes"},
    {"compress": True, "cid_font": True},
    {"compress": True, "encrypt": "aes256"},
    {"compress": True, "cid_font": "ucs2"},
    {"compress": True, "cid_font": "rksj"},
    {"compress": True, "cid_font": "embedded"},
    {"compress": True, "encrypt": "aes", "cid_font": True, "form_wrap": True},
)


def content_hash(*parts) -> str:
    """md5 over a sequence of frames, byte strings and strings."""
    h = hashlib.md5()
    for part in parts:
        if isinstance(part, pd.DataFrame):
            for col in part.columns:
                h.update(col.encode())
                values = part[col]
                if len(values) and isinstance(values.iloc[0], np.ndarray):
                    h.update(np.stack(values.to_numpy()).tobytes())
                else:
                    h.update(pd.util.hash_pandas_object(values, index=False).to_numpy().tobytes())
        elif isinstance(part, bytes):
            h.update(part)
        else:
            h.update(str(part).encode())
    return h.hexdigest()


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n))


# --------------------------------------------------------------------------
# operator tables
# --------------------------------------------------------------------------


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """``documents(doc_id, text, lang, source, n_chars)`` in seeded row
    order. 5% of documents copy an earlier one plus `` dup``
    (near-duplicates for the MinHash tier); 3% of the documents past
    the held-out set (``doc_id < 50``, as ``operators.textops``
    decontaminates against) embed a 12-word span of a held-out one."""
    rng = random.Random(seed * 1_000_003 + 11)
    texts = [_words(rng, rng.randint(10, 100)) for _ in range(n_docs)]
    for i in rng.sample(range(1, n_docs), int(n_docs * 0.05)):
        texts[i] = texts[rng.randrange(i)] + " dup"
    for i in rng.sample(range(50, n_docs), int(n_docs * 0.03)):
        src = texts[rng.randrange(50)].split()
        start = rng.randrange(max(1, len(src) - 12))
        words = texts[i].split()
        cut = rng.randrange(len(words) + 1)
        texts[i] = " ".join(words[:cut] + src[start : start + 12] + words[cut:])
    df = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return df.sample(frac=1.0, random_state=seed).reset_index(drop=True)


def embeddings(seed: int, n: int) -> pd.DataFrame:
    """``embeddings(vec_id, embedding float[64], label)``: random unit
    vectors, 5% of them a perturbed copy of another."""
    rng = np.random.default_rng(seed * 7 + 3)
    v = rng.standard_normal((n, 64))
    dups = rng.choice(np.arange(1, n), size=int(n * 0.05), replace=False)
    for i in dups:
        v[i] = v[rng.integers(i)] + 0.15 * rng.standard_normal(64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    df = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(v.astype(np.float32)),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )
    return df.sample(frac=1.0, random_state=seed).reset_index(drop=True)


def lineitem(seed: int, n: int) -> pd.DataFrame:
    """TPC-H-style ``lineitem`` with the sf0.1 value domains: money with
    two decimals, discount 0-0.10, ship dates 1995-01-02 .. 2001-11-04."""
    rng = np.random.default_rng(seed * 13 + 5)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price_cents = rng.integers(90_000, 10_500_000, n)
    ship = np.datetime64("1995-01-02") + rng.integers(0, 2498, n).astype("timedelta64[D]")
    return pd.DataFrame(
        {
            "l_orderkey": rng.integers(1, 150_000, n),
            "l_partkey": rng.integers(1, 20_000, n),
            "l_suppkey": rng.integers(1, 1_000, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": price_cents / 100.0,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": ship.astype("datetime64[us]"),
        }
    )


# --------------------------------------------------------------------------
# corpus_resumable: transcript turns
# --------------------------------------------------------------------------


def doc_turn_expectations(docs: pd.DataFrame) -> dict:
    """Expected extracted text per (conv_id, turn_idx) for the turns
    ``operators.extraction.transcripts_from_documents`` builds from
    ``docs`` (16 documents per conversation)."""
    from libpdf_spark.fixtures import doc_from_text

    return {
        (f"doc-conv-{int(d) // 16:06d}", int(d) % 16): doc_from_text(t).expected_text()
        for d, t in zip(docs["doc_id"], docs["text"])
    }


def _hot_conversation(seed: int, n_turns: int):
    """One long conversation: every third turn carries a fixture-family
    layout document."""
    from libpdf_spark.fixtures import FAMILIES
    from libpdf_spark.payload import embed

    rng = random.Random(seed * 31 + 7)
    fams = sorted(FAMILIES)
    conv_id = f"hot-{seed}"
    ts = pd.Timestamp("2026-02-01")
    rows, expected = [], {}
    for ti in range(n_turns):
        if ti % 3 == 2:
            b = FAMILIES[rng.choice(fams)](seed=seed + ti)
            text = embed(b.build(), prefix=f"hot turn {ti}: ")
            expected[(conv_id, ti)] = b.expected_text()
        else:
            text = f"hot chatter {ti} {_words(rng, 8)}"
            expected[(conv_id, ti)] = None
        rows.append((conv_id, ti, ("user", "assistant", "tool")[ti % 3], text,
                     "document_reader", ts + pd.Timedelta(seconds=ti)))
    return rows, expected


def malformed_payload(kind: str, rng: random.Random) -> str:
    """A turn whose payload must become one failure row."""
    from libpdf_spark.fixtures import family_plain_paragraphs
    from libpdf_spark.payload import DOC_OPEN, PDF_CLOSE, PDF_OPEN, embed_pdf, encode
    from libpdf_spark.pdfmini import write_pdf

    if kind == "unterminated":
        body = encode(family_plain_paragraphs(rng.randrange(1000)).build())
        return f"broken {DOC_OPEN}{body[: rng.randint(10, len(body) - 1)]}"
    if kind == "bad_base64":
        alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
        junk = "".join(rng.choice(alphabet) for _ in range(4 * rng.randint(5, 50) + 1))
        return f"broken {PDF_OPEN}{junk}{PDF_CLOSE}"
    pdf = write_pdf(family_plain_paragraphs(rng.randrange(1000)).build(), compress=True)
    return embed_pdf(pdf[: int(len(pdf) * rng.uniform(0.1, 0.6))], prefix="truncated: ")


MALFORMED_KINDS = ("unterminated", "bad_base64", "truncated_pdf")


def conversation_turns(seed: int, n_convs: int, n_turns: int, n_malformed: int):
    """The pandas part of the corpus: ``fixtures.gen_transcripts``
    conversations (Zipf lengths, a third of turns carry a document,
    half of those PDFs over all ten variants), one hot conversation
    that brings the total to ``n_turns`` (but has at least 100 turns),
    and ``n_malformed`` chatter turns overwritten with broken
    payloads. The fixed total keeps the work of a pass from varying
    with the seed's conversation lengths.

    Returns ``(turns_df, expected, malformed, pdf_variants)``:
    ``expected`` maps (conv_id, turn_idx) to the expected extracted
    text or ``None`` for a turn without a document; ``malformed`` maps
    the broken turns' keys to their kind; ``pdf_variants`` counts the
    PDF turns per serialization variant."""
    from libpdf_spark.fixtures import _pdf_variant, gen_transcripts
    from libpdf_spark.payload import PDF_OPEN

    turns, exp_text, _ = gen_transcripts(n_convs=n_convs, seed=seed)
    n_pdfs = int(turns["text"].str.contains(PDF_OPEN, regex=False).sum())
    pdf_variants = [0] * len(PDF_VARIANTS)
    for seq in range(n_pdfs):
        pdf_variants[_pdf_variant(seq)] += 1
    expected = {(c, int(t)): None for c, t in zip(turns["conv_id"], turns["turn_idx"])}
    expected.update(
        {(c, int(t)): x for c, t, x in zip(exp_text["conv_id"], exp_text["turn_idx"],
                                           exp_text["extracted_text"])}
    )
    hot_rows, hot_expected = _hot_conversation(seed, max(100, n_turns - len(turns)))
    turns = pd.concat([turns, pd.DataFrame(hot_rows, columns=turns.columns)],
                      ignore_index=True)
    expected.update(hot_expected)
    rng = random.Random(seed * 17 + 1)
    chatter = [i for i, k in enumerate(zip(turns["conv_id"], turns["turn_idx"]))
               if expected[(k[0], int(k[1]))] is None]
    malformed = {}
    for j, i in enumerate(sorted(rng.sample(chatter, n_malformed))):
        kind = MALFORMED_KINDS[j % len(MALFORMED_KINDS)]
        turns.at[i, "text"] = malformed_payload(kind, rng)
        key = (turns.at[i, "conv_id"], int(turns.at[i, "turn_idx"]))
        malformed[key] = kind
        del expected[key]
    turns["turn_idx"] = turns["turn_idx"].astype("int32")
    return turns, expected, malformed, pdf_variants


# --------------------------------------------------------------------------
# docs_local: single documents for libpdf_spark.load
# --------------------------------------------------------------------------


def big_page(rng: random.Random, n_lines: int):
    """A single tall page of ``n_lines`` short text lines in paragraphs
    of four (the dense L×L layout case)."""
    from libpdf_spark.fixtures import LINE_PITCH, DocBuilder

    n_paras = -(-n_lines // 4)
    height = 72.0 + n_paras * (4 * LINE_PITCH + 26.0)
    b = DocBuilder(n_pages=1)
    b.pages[0]["height"] = height
    y, left = height - 36.0, n_lines
    while left > 0:
        k = min(4, left)
        b.add_paragraph(1, 72.0, y, [f"{rng.choice(VOCAB)} {rng.choice(VOCAB)}" for _ in range(k)])
        y -= k * LINE_PITCH + 26.0
        left -= k
    return b


def local_documents(seed: int, n_docs: int = 500):
    """Documents for ``libpdf_spark.load``, in seeded order.

    * every fixture family once as an embedded layout turn string and
      once as PDF bytes in each of the ten serialization variants;
    * seeded ``doc_from_text`` documents, 35% of them PDF bytes
      rotating over the variants, the rest turn strings;
    * a 3% tail of single-page documents with 500-3,000 text lines,
      evenly spaced so every seed has the same sizes.

    Returns a list of dicts with ``source`` (bytes or str),
    ``expected`` (text), ``variant`` (PDF variant or ``None``) and
    ``lines`` (text lines of a large single-page document, else 0)."""
    from libpdf_spark.fixtures import FAMILIES, doc_from_text
    from libpdf_spark.payload import embed
    from libpdf_spark.pdfmini import write_pdf

    rng = random.Random(seed * 101 + 29)
    out = []

    def add(builder, variant, lines=0):
        doc = builder.build()
        if variant is None:
            source = embed(doc, prefix=f"turn {len(out)} carries a document: ",
                           suffix=" (end of document)")
        else:
            source = write_pdf(doc, **PDF_VARIANTS[variant])
        out.append({"source": source, "expected": builder.expected_text(),
                    "variant": variant, "lines": lines})

    for name in sorted(FAMILIES):
        add(FAMILIES[name](seed=seed), None)
        for variant in range(len(PDF_VARIANTS)):
            add(FAMILIES[name](seed=seed), variant)
    n_big = round(n_docs * 0.03)
    n_pdf = 0
    while len(out) < n_docs - n_big:
        builder = doc_from_text(_words(rng, rng.randint(10, 300)))
        if rng.random() < 0.35:
            add(builder, n_pdf % len(PDF_VARIANTS))
            n_pdf += 1
        else:
            add(builder, None)
    for i in range(n_big):
        n_lines = 500 + round(2500 * i / (n_big - 1))
        add(big_page(rng, n_lines), None, n_lines)
    rng.shuffle(out)
    return out


def sources_hash(docs: list[dict]) -> str:
    return content_hash(*(d["source"] for d in docs))
