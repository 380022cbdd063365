"""Kernel unit + golden + property tests (SURVEY §5 items 1, 2, 5).

Unit tests pin each rule branch of the cascade to a minimal HTML
snippet, mirroring the reference rule constants they graft
(cut.h:458-479 fusion refusals, cut.h:824 run-length>=3,
cut.h:737 promotion cap, cut.h:260 recursion bound,
reco.py:170-174 absorb threshold)."""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cvocr_spark.fixtures import build_page, chunk_text, gen_pages_table  # noqa: E402
from cvocr_spark.kernel import ABSORB_CONF, MAX_HTML_BYTES, decode_html, extract  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

LONG = "this paragraph carries enough characters to clearly pass the content rule"


def _page(body: str) -> bytes:
    return f"<!DOCTYPE html><html><head><title>t</title></head><body>{body}</body></html>".encode()


# -- decode cascade ----------------------------------------------------------


def test_decode_bom_utf8():
    text, flags = decode_html(b"\xef\xbb\xbfhello")
    assert text == "hello" and flags == ""


def test_decode_meta_charset():
    raw = b'<html><head><meta charset="iso-8859-1"></head><body>caf\xe9</body></html>'
    text, _ = decode_html(raw)
    assert "caf\xe9" == text[text.index("caf") : text.index("caf") + 4]


def test_decode_bad_charset_falls_back():
    raw = b'<meta charset="no-such-codec">hello'
    text, flags = decode_html(raw)
    assert "hello" in text and "bad_charset" in flags


def test_decode_latin1_meta_roundtrip():
    body = "caf\xe9 r\xe9sum\xe9 words to make this block long enough to pass the rule"
    raw = (
        '<html><head><meta charset="iso-8859-1"></head><body><p>'
        + body
        + "</p></body></html>"
    ).encode("iso-8859-1")
    r = extract(raw)
    assert r.text == body


def test_decode_utf16_bom_roundtrip():
    body = "unicode text with enough characters to clearly pass the content rule"
    raw = ("<html><body><p>" + body + "</p></body></html>").encode("utf-16")  # BOM'd
    r = extract(raw)
    assert r.text == body


def test_extract_str_is_not_decoded_twice():
    """A str is already decoded: the charset its page declares must not
    decode it a second time (latin-1 turned 'café' into 'cafÃ©'), and
    the byte cap still holds, counted in UTF-8."""
    body = "caf\xe9 society r\xe9sum\xe9 words to make this block long enough to pass"
    page = '<html><head><meta charset="{}"></head><body><p>' + body + "</p></body></html>"
    assert extract(page.format("latin-1").encode("latin-1")).text == body
    for charset in ("latin-1", "utf-16"):
        r = extract(page.format(charset))
        assert r.text == body and r.flags == ""
    r = extract("<p>" + "\xe9" * MAX_HTML_BYTES + "</p>")
    assert "truncated" in r.flags and len(r.text) <= MAX_HTML_BYTES // 2


def test_decode_pdf_and_containers_flagged():
    assert extract(b"%PDF-1.7 blah").flags == "pdf_unsupported"
    assert extract(b"\x1f\x8b\x08gzip").flags == "binary_container"
    assert extract(b"PK\x03\x04zip").flags == "binary_container"


def test_decode_truncates_giant_pages():
    raw = b"<p>" + b"x" * (MAX_HTML_BYTES + 100)
    text, flags = decode_html(raw)
    assert "truncated" in flags
    assert len(text) <= MAX_HTML_BYTES


# -- chrome strip (P1) -------------------------------------------------------


def test_script_style_comments_stripped():
    r = extract(_page(f"<script>var x=1;</script><style>p{{}}</style><!-- c --><p>{LONG}</p>"))
    assert r.text == LONG


def test_hidden_nodes_stripped():
    r = extract(_page(f'<div style="display:none">secret</div><p hidden>gone</p><p>{LONG}</p>'))
    assert r.text == LONG


def test_head_title_stripped():
    r = extract(_page(f"<p>{LONG}</p>"))
    assert "t" != r.text.split("\n")[0][0] or "t\n" not in r.text
    assert r.text == LONG


# -- classification cascade (C1/F1) ------------------------------------------


def test_link_dense_block_is_boilerplate():
    nav = '<div><a href="/a">one two three four five six</a> x</div>'
    r = extract(_page(nav + f"<p>{LONG}</p>"))
    assert r.text == LONG


def test_boiler_context_drops_short_text():
    r = extract(_page(f"<nav>menu items here</nav><footer>copyright 2025 corp</footer><p>{LONG}</p>"))
    assert r.text == LONG


def test_multiple_content_blocks_joined_with_newline():
    # both blocks >= loose_content_chars (80) => fusion refuses (already-
    # valid guard, cut.h:461) and the '\n' separator survives
    a = LONG + " with some extra words padding it"
    b = LONG + " again and again for block two padded"
    r = extract(_page(f"<p>{a}</p><p>{b}</p>"))
    assert r.text == f"{a}\n{b}"


def test_short_adjacent_content_blocks_fuse():
    # first block < 80 chars => P10 fuses it with the next (cut.h:400-497)
    r = extract(_page(f"<p>{LONG}</p><p>{LONG} again and again for block two</p>"))
    assert r.text == f"{LONG} {LONG} again and again for block two"
    assert r.score <= 1.0


# -- W2 neighbor relabel / W3 run-length -------------------------------------


def test_short_block_between_content_promoted():
    # 'tiny but here' is 13 chars: alone it is undecided; W2 promotes it
    r = extract(_page(f"<p>{LONG}</p><p>tiny but ok</p><p>{LONG}</p>"))
    assert "tiny but ok" in r.text


def test_run_of_three_substantive_blocks_promoted():
    # three consecutive link-free fragments with substance (total >= 80,
    # mean >= 15): W3 run rule promotes the island (cut.h:824)
    frags = [f"sentence fragment number {i} here" for i in range(3)]
    nav = '<div><a href="/a">one two three four five six</a> x</div>'
    body = nav + "".join(f"<p>{f}</p>" for f in frags) + nav
    r = extract(_page(body))
    for f in frags:
        assert f in r.text


def test_run_of_tiny_stubs_refused():
    # a run of table-cell-sized stubs fails the substance guards
    # (similar-and-short refusal, cut.h:468-472)
    nav = '<div><a href="/a">one two three four five six</a> x</div>'
    body = nav + "".join(f"<p>c{i}</p>" for i in range(5)) + nav
    r = extract(_page(body))
    assert r.text == ""


def test_isolated_short_block_dropped():
    # a single short undecided block with boilerplate neighbors drops
    nav = '<div><a href="/a">one two three four five six</a> x</div>'
    r = extract(_page(nav + "<p>tiny</p>" + nav))
    assert r.text == ""


# -- P8 bounded re-split ------------------------------------------------------


def test_pretty_printed_paragraph_stays_one_block():
    # single source newlines are whitespace, not separators (P7)
    html = b"<p>line one of the paragraph\nline two of the paragraph\nline three here</p>"
    r = extract(b"<html><body>" + html + b"</body></html>")
    assert r.text == (
        "line one of the paragraph line two of the paragraph line three here"
    )
    assert len(r.spans) == 1


def test_br_splits_block():
    html = b"<p>first part of text long enough here<br>second part of text long enough too</p>"
    r = extract(b"<html><body>" + html + b"</body></html>")
    assert "first part of text long enough here" in r.text
    assert "second part of text long enough too" in r.text
    # two segments (possibly re-fused with ' '): reconstruction intact
    assert r.text.replace("\n", " ") == (
        "first part of text long enough here second part of text long enough too"
    )


def test_resplit_bounded_and_lossless():
    words = " ".join(f"w{i}" for i in range(600))  # ~3000 chars, > resplit floor
    r = extract(_page(f"<p>{words}</p>"))
    assert r.text.replace("\n", " ") == words
    assert len(r.spans) > 1  # actually split


def test_span_invariant():
    words = " ".join(f"word{i}" for i in range(300))
    r = extract(_page(f"<p>{words}</p><p>{LONG}</p>"))
    prev_end = -1
    for (bid, s, e, cls) in r.spans:
        assert 0 <= s <= e <= len(r.text)
        assert s > prev_end
        prev_end = e
        assert "\n" not in r.text[s:e]


# -- per-block confidence (C2 candidates / C3 conf-keyed absorb) --------------


def test_confidence_high_for_long_clean_content():
    r = extract(_page(f"<p>{LONG} {LONG}</p>"))
    b = next(x for x in r.blocks if x.cls == "content")
    assert b.conf > 0.6
    # candidates: all three classes, desc, normalized, agree with cls
    assert [c for c, _s in b.candidates][0] == "content"
    assert abs(sum(s for _c, s in b.candidates) - 1.0) < 0.01
    assert len(b.candidates) == 3


def test_confidence_low_for_promoted_stub():
    # W2-promoted 11-char block: content label, low margin
    r = extract(_page(f"<p>{LONG}</p><p>tiny but ok</p><p>{LONG}</p>"))
    stub = next(x for x in r.blocks if x.text == "tiny but ok")
    assert stub.cls == "content"
    assert stub.conf < ABSORB_CONF


def test_confidence_boilerplate_for_link_dense():
    nav = '<div><a href="/a">one two three four five six</a> x</div>'
    r = extract(_page(nav + f"<p>{LONG}</p>"))
    b = next(x for x in r.blocks if x.cls == "boilerplate")
    assert b.candidates[0][0] == "boilerplate"
    assert b.conf >= 0.4


def test_absorb_keyed_on_confidence():
    # the promoted stub has conf < absorb_conf and len <= 0.4*prev:
    # C3 absorbs it into the preceding block (no separate span)
    r = extract(_page(f"<p>{LONG}</p><p>tiny but ok</p><p>{LONG}</p>"))
    assert "tiny but ok" in r.text
    joined = r.text.replace("\n", " ")
    assert f"{LONG} tiny but ok" in joined  # merged, not a standalone block
    texts = [r.text[s:e] for (_b, s, e, _c) in r.spans]
    assert "tiny but ok" not in texts


# -- plain-text passthrough (C2 dispatch: text/plain payloads) -----------------


def test_plain_text_payload_extracted():
    raw = (
        "A plain text README style document with enough words to be content.\n"
        "\n"
        "Second paragraph of the plain document, also long enough to keep.\n"
    ).encode()
    r = extract(raw)
    assert "plain_text" in r.flags
    assert "README style document" in r.text
    assert "Second paragraph" in r.text


def test_plain_text_with_bare_less_than_still_plain():
    raw = b"when a < b and b < 10 the relation holds for every small number here"
    r = extract(raw)
    assert "plain_text" in r.flags
    assert "the relation holds" in r.text


def test_xml_like_payload_goes_through_markup_path():
    raw = (
        b"<?xml version='1.0'?><rss><channel><item><description>"
        b"an rss description long enough to be treated as page content here"
        b"</description></item></channel></rss>"
    )
    r = extract(raw)
    assert "plain_text" not in r.flags
    assert "rss description" in r.text


def test_corpus_flags_distribution():
    # generated pages are all HTML: none may take the plain-text route,
    # and none may error (the dispatch must not misroute markup)
    pages = gen_pages_table("/root/testdata/sf0.001/documents.parquet")
    for i in range(200):
        r = extract(pages.column("html")[i].as_py())
        assert "plain_text" not in r.flags
        assert "error" not in r.flags


# -- robustness ---------------------------------------------------------------


def test_giant_page_capped_and_bounded():
    # a 4 MB page truncates at the 2 MB cap, flags it, and still
    # extracts from the retained prefix in bounded time
    import time

    body = ("<p>" + "word " * 200 + "</p>") * 4000  # ~4.1 MB
    raw = ("<html><body>" + body + "</body></html>").encode()
    assert len(raw) > MAX_HTML_BYTES
    t0 = time.perf_counter()
    r = extract(raw)
    dt = time.perf_counter() - t0
    assert "truncated" in r.flags
    assert len(r.text) > 0
    assert dt < 5.0, f"giant page took {dt:.1f}s"


def test_corpus_keep_score_sane():
    # on the fixture corpus the kernel should keep the majority of page
    # text chars (content dominates the generated boilerplate)
    pages = gen_pages_table("/root/testdata/sf0.001/documents.parquet")
    scores = [extract(pages.column("html")[i].as_py()).score for i in range(100)]
    assert min(scores) > 0.1
    assert sum(scores) / len(scores) > 0.5


def test_malformed_html_never_raises():
    cases = [
        b"<p>unclosed <b>bold <p>next",
        b"<<<>>><p>text here that is long enough to be content</p",
        b"\x00\x01\x02 not html at all",
        b"",
        None,
        b"<html><body><div><div><div><p>deep" + b"</div>" * 50,
    ]
    for c in cases:
        r = extract(c)
        assert isinstance(r.text, str)


def test_empty_and_whitespace_pages():
    assert extract(b"").text == ""
    assert extract(_page("   \n\t  ")).text == ""
    assert extract(b"<html></html>").text == ""


def test_determinism_two_runs():
    html = build_page(7, "alpha beta gamma " * 20, "en", "src7")[2]
    r1, r2 = extract(html), extract(html)
    assert r1.text == r2.text and r1.spans == r2.spans and r1.score == r2.score


# -- golden end-to-end (north_rule byte-identical gate) -----------------------


@pytest.mark.parametrize("sf", ["0.001", "0.01"])
def test_goldens_byte_identical(sf):
    golden = pq.read_table(os.path.join(HERE, "goldens", f"golden_sf{sf}.parquet"))
    pages = gen_pages_table(f"/root/testdata/sf{sf}/documents.parquet")
    assert pages.num_rows == golden.num_rows
    for i in range(pages.num_rows):
        r = extract(pages.column("html")[i].as_py())
        assert r.text == golden.column("text")[i].as_py(), (
            f"text mismatch for {golden.column('url')[i].as_py()}"
        )
        gspans = [
            (d["block_id"], d["char_start"], d["char_end"], d["cls"])
            for d in golden.column("spans")[i].as_py()
        ]
        assert r.spans == gspans
        # span invariant vs golden text
        for (_b, s, e, _c) in gspans:
            assert 0 <= s <= e <= len(r.text)


# -- property-based (hypothesis, SURVEY §5 item 5) -----------------------------

_words = st.lists(
    st.text(alphabet="abcdefghijklmnop", min_size=1, max_size=9), min_size=1, max_size=120
)


def test_tiny_document_below_content_threshold_drops():
    # semantics boundary: a page whose entire text is shorter than
    # short_chars (15) has no block that can pass any content rule —
    # dropped, like boilerpipe's min-fragment behavior.  The fixture
    # corpus (documents.parquet) has min length 44, far above this.
    url, ts, html, t, lang = build_page(0, "a", "en", "src0")
    assert extract(html).text == ""


@settings(max_examples=60, deadline=None)
@given(_words, st.integers(min_value=0, max_value=10_000))
def test_property_roundtrip_on_generated_pages(words, doc_id):
    from hypothesis import assume

    text = " ".join(words)
    assume(len(text) >= 15)  # above the kernel's min-content boundary
    url, ts, html, t, lang = build_page(doc_id, text, "en", f"src{doc_id % 20}")
    r = extract(html)
    assert r.text.replace("\n", " ") == text
    # spans sorted, non-overlapping, in-bounds
    prev = -1
    for (_b, s, e, _c) in r.spans:
        assert 0 <= s <= e <= len(r.text) and s > prev
        prev = e


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=4096))
def test_property_never_raises_on_garbage(raw):
    r = extract(raw)
    assert isinstance(r.text, str)
    for (_b, s, e, _c) in r.spans:
        assert 0 <= s <= e <= len(r.text)


@settings(max_examples=30, deadline=None)
@given(_words)
def test_property_chunking_partitions_text(words):
    import random

    text = " ".join(words)
    chunks = chunk_text(text, random.Random(1234))
    assert " ".join(chunks) == text
