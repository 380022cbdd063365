#!/usr/bin/env python
"""Fingerprint ``kernel.extract`` page by page in one checkout, so two
checkouts can be compared for "same output".

Each page is recorded as the sha256 of the repr of ``extract(html)``'s
``text``, ``spans``, ``score``, ``flags``, ``n_blocks`` and every field
of every block (``block_id, depth, tag, text, raw_chars, link_chars,
n_tags, boiler_ctx, cls, conf, candidates, char_start, char_end``).

Pages, by set:

  * ``sf0.001``, ``sf0.01``: the fixture pages of the two test scales,
    ``fixtures.gen_pages_table(<testdata>/sf<scale>/documents.parquet)``;
  * ``realistic``: every page of ``tests/test_realistic_pages.py``;
  * ``soup``: 2000 seeded tag-soup inputs (``soup(i)``, i < 2000).  They
    mix block, inline, link, hidden, boiler-class, rawtext, comment,
    CDATA, doctype and entity markup with words, unclosed and stray
    tags, and malformed comment and end-tag forms (``MENDED_RE``).
  * ``soup_reference``: the same pages through ``extract`` with the
    reference segmenter (``kernel._Segmenter``) in the scanner's place;
    the merge counts, per side, the soup pages where scanner and
    reference differ.

Run once per checkout, then merge the two files:

  python plans/r07/kernel_rows.py <checkout> <testdata_dir> <out.json>
  python plans/r07/kernel_rows.py --merge <parent.json> <change.json> <out.json> \
      <checkout> <testdata_dir>

The merged file lists, per set, the pages whose sha256 differs, with
the malformed forms each contains, and one sha256 over the pages that
do not differ, for each side.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import sys

N_SOUP = 2000

# the forms whose reading changed: an empty comment, '</' before a
# non-letter (up to 8 chars of what follows, to name the form), and a
# self-closing start tag of a non-void element
MENDED_RE = re.compile(r"<!---?>|</(?![a-zA-Z])[^>]{0,8}>?|<(?!br\b)[a-zA-Z][^<>]*/>")

_WORDS = (
    "the of and river bank market report city council weather season "
    "story today people report data new old quick brown fox café über "
    "naïve İstanbul 東京 ١٢٣ a b c"
).split()
_BLOCK = "p div li td h2 h3 blockquote article section ul table tr nav footer aside header".split()
_INLINE = "b i span em strong code small".split()
_MARKUP = (
    "<!-- note -->", "<!---->", "<![CDATA[x<p>y</p>]]>", "<!DOCTYPE html>", "<?php x ?>",
    "<br>", "<br/>", "<img src=x>", "<hr>", "&amp;", "&lt;p&gt;", "&#65;", "&nbsp;",
    "<script>if (a<b) x='</p>';</script>", "<style>p{}</style>", "<title>t</title>",
    "<textarea><p>no</p></textarea>", "<p/>", "<P>", "</P>", "a < b", "x<1",
)
# malformed comment / end-tag forms
_MALFORMED = (
    "<!-->", "<!--->", "</ p>", "</ div >", "</>", "</ p foo>", "</1>", "</ >",
    "<!--[if !IE]><!-->", "<!--<![endif]-->",
)


def soup(i: int) -> bytes:
    """The i-th seeded tag-soup page."""
    rng = random.Random(7_000_003 * i + 11)
    out: list[str] = []
    for _ in range(rng.randint(5, 120)):
        r = rng.random()
        if r < 0.35:
            out.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 14))))
        elif r < 0.55:
            tag = rng.choice(_BLOCK)
            attr = rng.choice(
                ("", "", ' class="newsletter"', " hidden", ' style="display:none"', ' id="main"')
            )
            out.append(f"<{tag}{attr}>")
        elif r < 0.70:
            out.append(f"</{rng.choice(_BLOCK)}>")
        elif r < 0.80:
            tag = rng.choice(_INLINE)
            out.append(f"<{tag}>" if rng.random() < 0.5 else f"</{tag}>")
        elif r < 0.86:
            out.append(f'<a href="/{rng.randint(0, 9)}">{rng.choice(_WORDS)}</a>')
        elif r < 0.96:
            out.append(rng.choice(_MARKUP))
        elif i % 4 == 0:  # a quarter of the pages carry malformed forms
            out.append(rng.choice(_MALFORMED))
        out.append(rng.choice(("", " ", "\n", "\n\n")))
    return "".join(out).encode("utf-8")


def _page_sha(r) -> str:
    blocks = [
        (b.block_id, b.depth, b.tag, b.text, b.raw_chars, b.link_chars, b.n_tags,
         b.boiler_ctx, b.cls, b.conf, b.candidates, b.char_start, b.char_end)
        for b in r.blocks
    ]
    key = repr((r.text, r.spans, r.score, r.flags, r.n_blocks, blocks))
    return hashlib.sha256(key.encode()).hexdigest()


def pages(repo: str, testdata: str) -> dict[str, list[tuple[str, bytes]]]:
    from cvocr_spark.fixtures import gen_pages_table

    sets: dict[str, list[tuple[str, bytes]]] = {}
    for sf in ("0.001", "0.01"):
        t = gen_pages_table(os.path.join(testdata, f"sf{sf}", "documents.parquet"))
        sets[f"sf{sf}"] = list(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))
    sys.path.insert(0, os.path.join(repo, "tests"))
    import test_realistic_pages as realistic

    sets["realistic"] = [(p.name, p.html) for p in realistic.PAGES]
    sets["soup"] = [(f"soup{i}", soup(i)) for i in range(N_SOUP)]
    return sets


def main(repo: str, testdata: str, out: str) -> None:
    sys.path.insert(0, repo)
    from unittest import mock

    from cvocr_spark import fastparse, kernel
    from cvocr_spark.kernel import extract

    sets = pages(repo, testdata)
    result = {
        name: {pid: _page_sha(extract(html)) for pid, html in rows}
        for name, rows in sets.items()
    }
    with mock.patch.object(fastparse, "FastSegmenter", kernel._Segmenter):
        result["soup_reference"] = {pid: _page_sha(extract(html)) for pid, html in sets["soup"]}
    with open(out, "w") as f:
        json.dump(result, f, indent=0, sort_keys=True)


def merge(parent: str, change: str, out: str, repo: str, testdata: str) -> None:
    sys.path.insert(0, repo)
    with open(parent) as f:
        a = json.load(f)
    with open(change) as f:
        b = json.load(f)
    html = {name: dict(rows) for name, rows in pages(repo, testdata).items()}
    sets = {}
    for name in sorted(set(a) & set(html)):
        differ = sorted(p for p in a[name] if a[name][p] != b[name].get(p))
        same = sorted(p for p in a[name] if p not in differ)

        def digest(side):
            return hashlib.sha256("".join(side[name][p] for p in same).encode()).hexdigest()

        sets[name] = {
            "pages": len(a[name]),
            "same_sha256_parent": digest(a),
            "same_sha256_change": digest(b),
            "differ": {
                p: sorted(set(MENDED_RE.findall(html[name][p].decode("utf-8", "replace"))))
                for p in differ
            },
        }
    for side, rows in (("parent", a), ("change", b)):
        if "soup_reference" in rows:
            sets[f"soup_scanner_vs_reference_{side}"] = sorted(
                p for p in rows["soup"] if rows["soup"][p] != rows["soup_reference"][p]
            )
    with open(out, "w") as f:
        json.dump(sets, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    if sys.argv[1] == "--merge":
        merge(*sys.argv[2:7])
    else:
        main(*sys.argv[1:4])
