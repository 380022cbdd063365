"""Fast HTML scanner — the kernel's one production segmenter.

It replaces a walk over the stdlib ``html.parser`` (``kernel._Segmenter``,
kept as the test reference), which cost ~84% of kernel time (profiled:
goahead / parse_starttag / updatepos), and is ~4x faster.  It keeps the
SAME observable segmentation semantics — verified block-for-block
against the reference over the whole fixture corpus and seeded property
inputs (tests/test_fastparse.py) — while doing one regex pass:

  * one TOKEN_RE sweep finds comments, declarations, and tags;
  * rawtext elements (script/style/textarea/title) skip straight to
    their closing tag via a case-insensitive search of the original doc;
  * attributes are only inspected when the raw attr text contains a
    hidden-marker substring (cheap containment pre-check);
  * entity decoding (html.unescape) runs only on text slices containing
    '&' — unescape is exactly what HTMLParser's convert_charrefs uses,
    so decode semantics are identical.

Lenient by construction: anything that doesn't lex as a tag is text;
unmatched end tags are ignored; unclosed tags pop lazily (the clamp
sanitation of the reference, preprocess.h:187-205).  ``<!-->`` and
``<!--->`` are empty comments and an unterminated ``<!--`` runs to EOF,
as in HTML5, where the reference keeps them as text when no later
``-->`` closes them; ``</>`` and ``</`` before a non-letter are dropped
up to ``>``, and ``</ p>`` ends a ``p``, as in the reference.  A start
tag is self-closing when HTMLParser's attribute lexing leaves ``/>``:
``<p/>`` opens and closes a ``p``, ``<a href=/x/>`` only opens an ``a``.
"""

from __future__ import annotations

import re
from html import unescape

from .kernel import (
    _BLOCK_TAGS,
    _BOILER_HINT_RE,
    _BOILER_TAGS,
    _HIDDEN_STYLE_RE,
    _SKIP_TAGS,
    _VOID_TAGS,
    Block,
    _has_boiler_class,
)

TOKEN_RE = re.compile(
    r"<!--(?:-?>|.*?(?:-->|$))"              # comments (empty: <!--> <!--->;
    #                                          unterminated: to EOF)
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"            # CDATA blobs
    r"|<[!?][^>]*(?:>|$)"                    # doctype / PIs / bogus decls
    r"|<(/?)([a-zA-Z][a-zA-Z0-9\-]*)"        # 1: closing slash, 2: tag name
    r"((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)>"    # 3: raw attributes (and a
    #                                          self-closing '/': _self_closing)
    r"|</\s+([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"  # 4: end tag name after '</ '
    r"|</(?:[^a-zA-Z>][^>]*)?>",             # '</>', '</ x y>': dropped
    re.DOTALL,
)

# rawtext content models: everything up to the literal close tag is text
_RAWTEXT = frozenset(("script", "style", "textarea", "title"))

# close-tag finders matching html.parser's CDATA-mode semantics exactly
# (endtagfind: '</' + optional ws + name + optional ws + '>').  Searching
# the ORIGINAL doc case-insensitively — never a lowercased shadow string,
# whose length can differ (str.lower() expands U+0130 'İ' to 2 chars) and
# silently desynchronize offsets; and never a bare prefix find, which
# would treat '</scripts>' as closing '</script'.
_RAWTEXT_CLOSE = {
    t: re.compile(r"</\s*%s\s*>" % t, re.IGNORECASE) for t in _RAWTEXT
}

# html.parser's tolerant start-tag lexing (Python 3.11): the gap after
# the tag name, and one attribute with its trailing gap
_TAG_GAP_RE = re.compile(r"(?:\s|/(?!>))*")
_ATTR_LEX_RE = re.compile(
    r"""((?<=['"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"""
    r"""('[^']*'|"[^"]*"|(?!['"])[^>\s]*))?(?:\s|/(?!>))*"""
)


def _self_closing(doc: str, k: int, end: int) -> bool:
    """True iff the start tag whose raw attributes are ``doc[k:end]``
    (``doc[end]`` is its '>') is self-closing as HTMLParser reads it:
    what is left after lexing its attributes is '/>'.  A '/' that an
    unquoted value takes (``<a href=/x/>``) does not close the tag."""
    k = _TAG_GAP_RE.match(doc, k).end()
    while k < end:
        m = _ATTR_LEX_RE.match(doc, k)
        if m is None:
            break
        k = m.end()
    return doc[k:end + 1].strip() == "/>"


_ATTR_RE = re.compile(
    r"""([a-zA-Z][a-zA-Z0-9\-:_]*)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))?"""
)


def _is_hidden(low: str) -> bool:
    """True iff the element carries hidden / display:none /
    visibility:hidden.  Takes pre-lowercased attrs; called only after a
    cheap substring pre-check."""
    for name, value in _ATTR_RE.findall(low):
        if name == "hidden":
            return True
        if name == "style" and value and _HIDDEN_STYLE_RE.search(value.strip("\"'")):
            return True
    return False


def _class_id_values(raw_attrs: str) -> list[str]:
    """class/id attr VALUES from the raw (still-escaped) attr string.
    Tokenize FIRST with _ATTR_RE, entity-decode each value AFTER —
    the same order HTMLParser uses (structure is parsed before values
    decode), so an entity that decodes to a quote
    (class="x&quot;newsletter") can never change attribute
    tokenization and diverge from kernel._Segmenter (ADVICE r4).
    Exactly one decode per value: a second unescape would itself
    diverge (&amp;#108; must stay the literal &#108;)."""
    vals = []
    for name, v in _ATTR_RE.findall(raw_attrs):
        if v and name.lower() in ("class", "id"):
            v = v.strip("\"'")
            vals.append(unescape(v) if "&" in v else v)
    return vals


def _boiler_class_attrs(raw_attrs: str) -> bool:
    """True iff class/id carries a chrome keyword TOKEN (kernel.
    _BOILER_CLASS_TOKENS).  The hint pre-gate runs per DECODED value
    (class="news&#108;etter" IS class="newsletter"), mirroring the
    kernel's per-value hint-then-token check; the memo in
    _boiler_cached makes decode + scan one-time per unique string."""
    vals = _class_id_values(raw_attrs)
    return (
        bool(vals)
        and any(_BOILER_HINT_RE.search(v) for v in vals)
        and _has_boiler_class(vals)
    )


# memo: attr-string -> boiler decision.  Chrome attr strings repeat
# across every page of a site (class="brand", class="newsletter", ...),
# so the steady-state cost of the class-keyword feature is ONE dict
# lookup per attributed tag — the uncached hint-regex-per-tag form
# measured +24% kernel wall (pinned-core A/B, NOTES r4).  Bounded and
# cleared wholesale: the decision is a pure function of the string, so
# eviction can never change results.
_BOILER_MEMO: dict[str, bool] = {}
_BOILER_MEMO_MAX = 100_000


def _boiler_cached(attrs: str) -> bool:
    got = _BOILER_MEMO.get(attrs)
    if got is None:
        if len(_BOILER_MEMO) >= _BOILER_MEMO_MAX:
            _BOILER_MEMO.clear()
        got = _boiler_class_attrs(attrs)
        _BOILER_MEMO[attrs] = got
    return got


class FastSegmenter:
    """Same public surface as the reference kernel._Segmenter:
    feed()/close()/blocks."""

    __slots__ = (
        "stack", "skip_depth", "boiler_depth", "link_depth", "blocks",
        "_parts", "_link_chars", "_raw_chars", "_n_tags", "_cur_tag",
        "_skip_marks", "_boiler_marks",
    )

    def __init__(self) -> None:
        self.stack: list[str] = []
        self.skip_depth = 0
        self.boiler_depth = 0
        self.link_depth = 0
        self.blocks: list[Block] = []
        self._parts: list[str] = []
        self._link_chars = 0
        self._raw_chars = 0
        self._n_tags = 0
        self._cur_tag = "body"
        self._skip_marks: list[int] = []
        self._boiler_marks: list[int] = []

    # -- identical flush/data/start/end semantics to kernel._Segmenter ----
    def _flush(self) -> None:
        if self._raw_chars == 0:
            self._parts.clear()
            self._n_tags = 0
            return
        raw = "".join(self._parts)
        self.blocks.append(
            Block(
                depth=len(self.stack),
                tag=self._cur_tag,
                text=raw,
                raw_chars=self._raw_chars,
                link_chars=self._link_chars,
                n_tags=self._n_tags,
                boiler_ctx=self.boiler_depth > 0,
            )
        )
        self._parts.clear()
        self._link_chars = 0
        self._raw_chars = 0
        self._n_tags = 0

    def _data(self, data: str) -> None:
        if self.skip_depth > 0 or not data:
            return
        if "&" in data:
            data = unescape(data)
        self._parts.append(data)
        stripped = len(data.strip())
        self._raw_chars += stripped
        if self.link_depth > 0:
            self._link_chars += stripped

    def _start(self, tag: str, hidden: bool, boiler_cls: bool = False) -> None:
        if tag == "br":
            self._parts.append("\n\n")  # blank-line sentinel (P7 separator)
            return
        if tag in _VOID_TAGS:
            if self.skip_depth == 0:
                self._n_tags += 1
            return
        if tag in _BLOCK_TAGS and self.skip_depth == 0:
            self._flush()
            self._cur_tag = tag
        self.stack.append(tag)
        if tag in _SKIP_TAGS or hidden:
            self.skip_depth += 1
            self._skip_marks.append(len(self.stack))
        elif self.skip_depth == 0:
            self._n_tags += 1
            if tag in _BOILER_TAGS:
                self.boiler_depth += 1
            elif boiler_cls:
                self.boiler_depth += 1
                self._boiler_marks.append(len(self.stack))
            if tag == "a":
                self.link_depth += 1

    def _end(self, tag: str) -> None:
        if tag in _VOID_TAGS or tag not in self.stack:
            return
        while self.stack:
            popped = self.stack.pop()
            if self._skip_marks and self._skip_marks[-1] == len(self.stack) + 1:
                self._skip_marks.pop()
                self.skip_depth = max(0, self.skip_depth - 1)
            elif self.skip_depth == 0:
                if popped in _BLOCK_TAGS:
                    self._flush()
                    self._cur_tag = self.stack[-1] if self.stack else "body"
                if popped in _BOILER_TAGS:
                    self.boiler_depth = max(0, self.boiler_depth - 1)
                elif (
                    self._boiler_marks
                    and self._boiler_marks[-1] == len(self.stack) + 1
                ):
                    self._boiler_marks.pop()
                    self.boiler_depth = max(0, self.boiler_depth - 1)
                if popped == "a":
                    self.link_depth = max(0, self.link_depth - 1)
            if popped == tag:
                break

    # -- the scan ----------------------------------------------------------
    def feed(self, doc: str) -> None:
        pos = 0
        n = len(doc)
        search = TOKEN_RE.search
        memo_get = _BOILER_MEMO.get  # hot path: inline the cache probe
        while pos < n:
            m = search(doc, pos)
            if m is None:
                self._data(doc[pos:])
                break
            start = m.start()
            if start > pos:
                self._data(doc[pos:start])
            pos = m.end()
            closing, name, attrs, spaced_end = m.group(1, 2, 3, 4)
            if name is None:
                if spaced_end:
                    self._end(spaced_end.lower())
                continue  # comment / doctype / CDATA: stripped (P1)
            tag = name.lower()
            if closing:  # end tag
                self._end(tag)
                continue
            hidden = False
            boiler_cls = False
            selfclose = False
            if attrs:
                if attrs[-1] == "/":
                    selfclose = _self_closing(doc, m.start(3), pos - 1)
                al = attrs.lower()
                if "hidden" in al or "display" in al or "visibility" in al:
                    hidden = _is_hidden(al)
                boiler_cls = memo_get(attrs)
                if boiler_cls is None:
                    boiler_cls = _boiler_cached(attrs)
            self._start(tag, hidden, boiler_cls)
            if selfclose:  # self-closing: <x/> == start+end (HTMLParser parity)
                self._end(tag)
            elif tag in _RAWTEXT:
                # rawtext: skip straight to the real close tag (matched on
                # doc itself, case-insensitive, delimiter-exact)
                mc = _RAWTEXT_CLOSE[tag].search(doc, pos)
                if mc is None:
                    # unterminated rawtext swallows the rest (HTMLParser parity)
                    if tag in self.stack:  # pop it so close() flush depth is sane
                        self._end(tag)
                    break
                self._end(tag)
                pos = mc.end()

    def close(self) -> None:
        self._flush()
