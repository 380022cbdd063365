"""Deterministic synthetic page-corpus generator (SURVEY §7 step 1, FIXTURES.md §1).

Wraps ``documents.parquet`` text into generated HTML with seeded
boilerplate: head chrome, nav/header link farms, the document text as
``<p>``-chunk content blocks, aside/footer boilerplate, comments, and
seeded malformations.  This plays the role of the reference's synthetic
training-corpus generator (/root/reference/magic.sh:14-31,
/root/reference/dump.py:122-152 — S7 in SURVEY §2a) and its seeded
augmentation pass (/root/reference/moreSample.py:24-62 — S8).

Design invariant (the oracle contract): for every generated page,
``extract(html).text.replace('\\n', ' ') == text`` — the kernel must
strip ALL generated boilerplate and keep ALL content words in order.
To guarantee this the generator ensures every non-content text block is
either inside a boiler-context tag (nav/header/footer/aside) and
shorter than 80 chars, or is link-dense (>=50% link chars); and every
content chunk is link-free and >=40 chars (except docs shorter than
that, which become a single chunk).

Everything is seeded per (seed, doc_id, variant) via sha256 — no
wall-clock, no global RNG, no dict-order dependence.
"""

from __future__ import annotations

import hashlib
import random

SEED = 42
BASE_TS_US = 1735689600_000_000  # 2025-01-01T00:00:00Z in epoch micros

_NAV_WORDS = [
    "home", "about", "contact", "login", "signup", "pricing", "blog",
    "careers", "terms", "privacy", "support", "docs", "api", "download",
    "features", "team", "press", "status", "partners", "community",
]
_TITLE_WORDS = ["portal", "daily", "news", "hub", "online", "world", "times"]
_AD_WORDS = ["click", "here", "buy", "now", "offer", "deal", "free", "win"]

MIN_CHUNK = 40
MAX_BOILER_TEXT = 79  # must stay < kernel loose_content_chars (80)


def _rng(seed: int, doc_id: int, variant: int) -> random.Random:
    h = hashlib.sha256(f"{seed}:{doc_id}:{variant}".encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def chunk_text(text: str, rng: random.Random) -> list[str]:
    """Split text into word-boundary chunks, each >= MIN_CHUNK chars
    (tail merged into the previous chunk).  Each chunk boundary consumes
    exactly one space — the reconstruction invariant."""
    words = text.split(" ")
    chunks: list[str] = []
    cur: list[str] = []
    cur_len = 0
    target = rng.randint(MIN_CHUNK, 90)
    for w in words:
        cur.append(w)
        cur_len += len(w) + (1 if cur_len else 0)
        if cur_len >= target:
            chunks.append(" ".join(cur))
            cur, cur_len = [], 0
            target = rng.randint(MIN_CHUNK, 90)
    if cur:
        tail = " ".join(cur)
        if chunks and len(tail) < MIN_CHUNK:
            chunks[-1] = chunks[-1] + " " + tail
        else:
            chunks.append(tail)
    return chunks


def _nav_links(rng: random.Random, n: int) -> str:
    items = []
    for _ in range(n):
        w = rng.choice(_NAV_WORDS)
        items.append(f'<li><a href="/{w}">{w}</a></li>')
    return "".join(items)


def _ad_div(rng: random.Random) -> str:
    """Inline ad: link-dense by construction (>=50% of chars in <a>)."""
    w1, w2 = rng.choice(_AD_WORDS), rng.choice(_AD_WORDS)
    return (
        f'<div class="ad"><a href="/promo/{rng.randint(1, 999)}">'
        f"{w1} {w2} {w1} {w2} {w1}</a> ad</div>"
    )


def build_page(
    doc_id: int,
    text: str,
    lang: str,
    source: str,
    seed: int = SEED,
    variant: int = 0,
) -> tuple[str, int, bytes, str, str]:
    """Returns (url, warc_ts_epoch_us, html_bytes, text, lang) —
    exactly the ``input_hint`` schema of BASELINE.json."""
    rng = _rng(seed, doc_id, variant)
    suffix = f"v{variant}" if variant else ""
    url = f"https://{source}.example.com/{lang}/doc{doc_id}{suffix}"
    ts = BASE_TS_US + doc_id * 1_000_000 + variant * 86_400_000_000

    title = f"{rng.choice(_TITLE_WORDS)} {rng.choice(_TITLE_WORDS)} {doc_id}"
    chunks = chunk_text(text, rng)

    parts: list[str] = []
    charset = "utf-8"
    use_latin1 = rng.random() < 0.02 and text.isascii()
    if use_latin1:
        charset = "iso-8859-1"
    parts.append("<!DOCTYPE html>\n<html>\n<head>\n")
    parts.append(f'<meta charset="{charset}">\n')
    parts.append(f"<title>{title}</title>\n")
    parts.append("<style>body { margin: 0; } .ad { color: red; }</style>\n")
    parts.append(f"<script>var pageId = {doc_id}; track(pageId);</script>\n")
    parts.append("</head>\n<body>\n")
    parts.append("<header>\n")
    parts.append(f'<div class="brand"><a href="/">{title}</a></div>\n')
    parts.append(f"<nav><ul>{_nav_links(rng, rng.randint(5, 12))}</ul></nav>\n")
    crumbs = " / ".join(rng.choice(_NAV_WORDS) for _ in range(3))
    parts.append(f'<div class="crumbs">{crumbs[:MAX_BOILER_TEXT]}</div>\n')
    parts.append("</header>\n")
    parts.append(f"<!-- rendered page {doc_id} -->\n")
    parts.append("<main>\n<article>\n")
    if rng.random() < 0.1:  # hidden cookie banner: stripped by P1
        parts.append(
            '<div style="display:none">we use cookies accept or decline</div>\n'
        )
    in_list = False
    for i, c in enumerate(chunks):
        if i > 0 and rng.random() < 0.15:
            if in_list:
                parts.append("</ul>\n")
                in_list = False
            parts.append(_ad_div(rng) + "\n")
        if i > 0 and rng.random() < 0.05:
            parts.append(f"<!-- section {i} -->\n")
        if i > 0 and not in_list and rng.random() < 0.04:
            # tiny noise heading (<10 chars: below the W2 promotion
            # floor, so it classifies boilerplate and drops)
            parts.append(f"<h3>part {i % 9}</h3>\n")
        if i > 0 and not in_list and rng.random() < 0.06:
            # "related" box: link-dense by construction => boilerplate
            parts.append(
                '<div class="rel">see <a href="/r1">more stories here</a> '
                f'and <a href="/r2">{rng.choice(_NAV_WORDS)} news</a></div>\n'
            )
        r = rng.random()
        if in_list:
            if r < 0.6:
                parts.append(f"<li>{c}</li>\n")
                continue
            parts.append("</ul>\n")
            in_list = False
        if r >= 0.85 and i + 1 < len(chunks):  # content list: li chunks
            parts.append(f"<ul>\n<li>{c}</li>\n")
            in_list = True
            continue
        tag = "p" if r < 0.75 else "blockquote"
        # seeded pretty-printing whitespace inside the tag (collapsed by P6)
        pad = "\n  " if rng.random() < 0.2 else ""
        parts.append(f"<{tag}>{pad}{c}{pad}</{tag}>\n")
    if in_list:
        parts.append("</ul>\n")
    parts.append("</article>\n</main>\n")
    parts.append("<aside>\n")
    parts.append(f"<h3>related</h3><ul>{_nav_links(rng, rng.randint(3, 8))}</ul>\n")
    parts.append("</aside>\n")
    parts.append("<footer>\n")
    footer_txt = f"copyright {2020 + doc_id % 6} {source} media"[:MAX_BOILER_TEXT]
    parts.append(f"<p>{footer_txt}</p>\n")
    parts.append(f"<ul>{_nav_links(rng, 4)}</ul>\n")
    parts.append("</footer>\n")
    # seeded malformations (~5%), confined to boilerplate regions (S8)
    if rng.random() < 0.05:
        parts.append("<div><b>stray <a href='/x'>tag</b> soup</a>\n")
    parts.append("</body>\n</html>\n")

    html = "".join(parts)
    if use_latin1:
        raw = html.encode("iso-8859-1", "replace")
    else:
        raw = html.encode("utf-8")
    return url, ts, raw, text, lang


# --------------------------------------------------------------------------
# batch drivers: pyarrow (local) and Spark mapInArrow (distributed)
# --------------------------------------------------------------------------

import pyarrow as pa  # noqa: E402
from pyspark.sql.pandas.types import from_arrow_schema  # noqa: E402

PAGES_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)
PAGES_DDL = from_arrow_schema(PAGES_ARROW_SCHEMA)


def pages_batch(
    doc_ids, texts, langs, sources, seed: int = SEED, variants: int = 1
) -> pa.RecordBatch:
    urls, tss, htmls, otexts, olangs = [], [], [], [], []
    for doc_id, text, lang, source in zip(doc_ids, texts, langs, sources):
        for v in range(variants):
            url, ts, raw, t, l = build_page(int(doc_id), text, lang, source, seed, v)
            urls.append(url)
            tss.append(ts)
            htmls.append(raw)
            otexts.append(t)
            olangs.append(l)
    return pa.RecordBatch.from_pydict(
        {"url": urls, "warc_ts": tss, "html": htmls, "text": otexts, "lang": olangs},
        schema=PAGES_ARROW_SCHEMA,
    )


def gen_pages_table(documents_path: str, seed: int = SEED, variants: int = 1) -> pa.Table:
    """Local (no-Spark) generation: documents.parquet -> pages Table."""
    import pyarrow.parquet as pq

    t = pq.read_table(documents_path, columns=["doc_id", "text", "lang", "source"])
    batches = []
    for rb in t.to_batches(max_chunksize=1024):
        batches.append(
            pages_batch(
                rb.column("doc_id").to_pylist(),
                rb.column("text").to_pylist(),
                rb.column("lang").to_pylist(),
                rb.column("source").to_pylist(),
                seed,
                variants,
            )
        )
    return pa.Table.from_batches(batches, schema=PAGES_ARROW_SCHEMA)


def gen_pages_df(spark, documents_df, seed: int = SEED, variants: int = 1):
    """Distributed generation: documents DataFrame -> pages DataFrame via
    mapInArrow (one Arrow stage, no per-row Python — per input_hint)."""

    def _gen(batches):
        for rb in batches:
            yield pages_batch(
                rb.column("doc_id").to_pylist(),
                rb.column("text").to_pylist(),
                rb.column("lang").to_pylist(),
                rb.column("source").to_pylist(),
                seed,
                variants,
            )

    return documents_df.select("doc_id", "text", "lang", "source").mapInArrow(
        _gen, schema=PAGES_DDL
    )
