"""HTML main-content extraction via DOM heuristics (north_rule).

Generalizes the reference's line-level noise filtering (SURVEY §2.11:
text-density ≈ the letters-vs-digits test utils.py:239-241,
link-density ≈ the brand/footer filters chunk.py:235-238, tag-depth ≈
heading level toc.py:193) to HTML boilerplate stripping:

  1. segment the document into BLOCKS at block-level tag boundaries:
     one compiled regex tokenizes pages inside its conservative grammar
     (plain tags, text, script/style bodies) and stdlib html.parser
     takes every other page whole; both feed one block builder, and a
     differential test holds them to equal blocks (no external
     dependency);
  2. score each block: n_chars, link_chars (chars inside <a>), tag
     depth, ancestor-boilerplate flag (nav/header/footer/aside/script/
     style/form/head subtrees);
  3. classify content vs boilerplate: not under a boilerplate
     ancestor, link density ≤ threshold, and minimum text mass —
     the classic text-to-tag-ratio family of heuristics;
  4. assemble the main text by joining content-block texts with a
     separator (the synthetic corpus encodes page breaks as block
     boundaries, so separator "\\f" reproduces the pre-extracted
     `text` column byte-identically — the per-url invariant).

Pure str→records Python: runs unchanged inside the Arrow-batched
Spark operator (operators/html_extract.py) and in unit tests.
"""

from __future__ import annotations

import codecs
import re
from dataclasses import dataclass
from html import unescape
from html.parser import HTMLParser

BLOCK_TAGS = frozenset(
    "p div section article main li h1 h2 h3 h4 h5 h6 td th pre blockquote".split()
)
BOILERPLATE_TAGS = frozenset(
    "script style nav header footer aside noscript template form iframe svg head title".split()
)
VOID_TAGS = frozenset("br hr img meta link input area base col embed source track wbr".split())

DEFAULT_MAX_LINK_DENSITY = 0.33
DEFAULT_MIN_CHARS = 1


@dataclass
class Block:
    block_no: int
    tag_path: str
    depth: int
    text: str = ""
    n_chars: int = 0
    n_link_chars: int = 0
    under_boilerplate: bool = False
    open_depth: int = 0  # stack depth at open; block closes when the stack pops below it

    @property
    def link_density(self) -> float:
        return (self.n_link_chars / self.n_chars) if self.n_chars else 0.0


class _BlockBuilder:
    """The block segmenter: start-tag, end-tag and text events in
    document order become blocks. Text lands in the innermost open
    block; entering a block-level tag closes the previous block. Both
    tokenizers drive this one state machine, so the block semantics
    are written once. Tag names arrive lowercased."""

    __slots__ = ("stack", "boiler_depth", "link_depth", "blocks", "current")

    def __init__(self) -> None:
        self.stack: list[str] = []
        self.boiler_depth = 0
        self.link_depth = 0
        self.blocks: list[Block] = []
        self.current: Block | None = None

    def _open_block(self) -> None:
        self.current = Block(
            block_no=len(self.blocks),
            tag_path="/".join(self.stack),
            depth=len(self.stack),
            under_boilerplate=self.boiler_depth > 0,
            open_depth=len(self.stack),
        )
        self.blocks.append(self.current)

    def start(self, tag: str) -> None:
        if tag in VOID_TAGS:
            if tag == "br" and self.current is not None:
                self.current.text += "\n"
            return
        self.stack.append(tag)
        if tag in BOILERPLATE_TAGS:
            self.boiler_depth += 1
            self.current = None  # boilerplate text never merges into a prior block
        if tag == "a":
            self.link_depth += 1
        if tag in BLOCK_TAGS:
            self._open_block()

    def end(self, tag: str) -> None:
        if tag in VOID_TAGS:
            return
        # pop to the matching open tag (tolerates misnesting)
        stack = self.stack
        if tag in stack:
            while stack:
                t = stack.pop()
                if t in BOILERPLATE_TAGS:
                    self.boiler_depth -= 1
                if t == "a":
                    self.link_depth -= 1
                if t in BLOCK_TAGS:
                    self.current = None
                cur = self.current
                if cur is not None and len(stack) < cur.open_depth:
                    self.current = None  # anonymous block's subtree ended
                if t == tag:
                    break

    def data(self, data: str) -> None:
        if not data:
            return
        cur = self.current
        if cur is None:
            # text outside any block tag (e.g. bare <body> text): open
            # an anonymous block so no content is silently dropped
            self._open_block()
            cur = self.current
        cur.text += data
        n = len(data)
        cur.n_chars += n
        if self.link_depth > 0:
            cur.n_link_chars += n


class _BlockParser(HTMLParser):
    """The general tokenizer: stdlib HTMLParser, which lowercases tag
    names itself, with callbacks that forward to a _BlockBuilder. It
    runs for pages the fast tokenizer's grammar does not cover
    (comments, doctypes, stray '<', truncated tags, unclosed scripts,
    ...)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.builder = _BlockBuilder()

    def handle_starttag(self, tag: str, attrs) -> None:
        self.builder.start(tag)

    def handle_endtag(self, tag: str) -> None:
        self.builder.end(tag)

    def handle_data(self, data: str) -> None:
        self.builder.data(data)


def _parser_blocks(html: str) -> _BlockBuilder:
    """Segment with the stdlib tokenizer; tolerant of any input."""
    parser = _BlockParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass  # keep whatever blocks were segmented before the error
    return parser.builder


# The fast tokenizer: one token per match, anchored at the scan
# position, in a grammar on which HTMLParser (CPython 3.11) emits the
# same events — a text run; a start tag whose name, attribute names
# and unquoted values use narrow ASCII classes, separated by ASCII
# whitespace only (HTMLParser reads "\x0b", "\xa0", ... as part of a
# tag name); an end tag. tests/test_html_tokenizers.py holds the two
# tokenizers to equal blocks.
_WS = r"[ \t\n\r\f]"
_TOKEN_RX = re.compile(
    rf"""
    ([^<]+)                                         # 1 text run
  | <([a-zA-Z][-a-zA-Z0-9:_.]*)                     # 2 start tag name
    (?:{_WS}+[a-zA-Z_:][-a-zA-Z0-9:_.]*
       (?:{_WS}*={_WS}*(?:"[^"]*"|'[^']*'|[-a-zA-Z0-9:_./;,?#%+@!~*()]+))?
    )*{_WS}*(/?)>                                   # 3 "/" of <tag/>
  | </([a-zA-Z][-a-zA-Z0-9:_.]*){_WS}*>             # 4 end tag name
    """,
    re.X,
)
# HTMLParser's own end-of-raw-text pattern for <script>/<style> bodies
_RAW_CLOSE = {t: re.compile(r"</\s*%s\s*>" % t, re.I) for t in HTMLParser.CDATA_CONTENT_ELEMENTS}


def _fast_blocks(html: str) -> _BlockBuilder | None:
    """Segment with the compiled tokenizer, or None when some position
    of the page lies outside its grammar (the caller then falls back
    to _parser_blocks on the whole page)."""
    b = _BlockBuilder()
    start, end, data = b.start, b.end, b.data
    match = _TOKEN_RX.match
    pos, n = 0, len(html)
    while pos < n:
        m = match(html, pos)
        if m is None:
            return None
        pos = m.end()
        kind = m.lastindex
        if kind == 1:
            data(unescape(m.group(1)))
        elif kind == 4:
            end(m.group(4).lower())
        else:
            tag = m.group(2).lower()
            start(tag)
            if m.group(3):
                end(tag)
            elif tag in _RAW_CLOSE:
                close = _RAW_CLOSE[tag].search(html, pos)
                # an unclosed body is dropped by HTMLParser; a non-ASCII
                # match ("</ſcript>" under re.I) is not a close to it
                if close is None or not close.group().isascii():
                    return None
                data(html[pos : close.start()])
                end(tag)
                pos = close.end()
    return b


def segment_blocks(html: str | bytes | None) -> list[Block]:
    """Parse HTML into scored blocks; tolerant of truncated markup."""
    if html is None:
        return []
    html = decode_html(html)
    b = _fast_blocks(html)
    if b is None:
        b = _parser_blocks(html)
    return [blk for blk in b.blocks if blk.n_chars > 0]


# a meta tag's attribute list (quoted values may hold '>'), one
# attribute in it, and the codec-name token of a declaration
_META_RX = re.compile(rb"""(?is)<meta\b((?:[^>"']|"[^"]*"|'[^']*')*)""")
_ATTR_RX = re.compile(rb"""([^\s"'>/=]+)(?:\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+)))?""")
_CODEC_RX = re.compile(rb"(?i)\s*([a-z0-9_\-:.]+)")
_CONTENT_CHARSET_RX = re.compile(rb"(?i)charset\s*=\s*[\"']?")


def sniff_charset(head: bytes) -> str | None:
    """Declared encoding of an HTML byte stream, or None: BOM first
    (the authoritative signal), then a meta charset token in the
    given prefix (the WHATWG prescan, simplified). Only names the
    codec registry accepts are returned."""
    if head.startswith(b"\xef\xbb\xbf"):
        return "utf-8-sig"
    if head.startswith(b"\xff\xfe") or head.startswith(b"\xfe\xff"):
        return "utf-16"  # BOM-aware: picks the right endianness itself
    for tag in _META_RX.finditer(head):
        attrs: dict[bytes, bytes] = {}
        for a in _ATTR_RX.finditer(tag.group(1)):
            attrs.setdefault(a.group(1).lower(), a.group(2) or a.group(3) or a.group(4) or b"")
        # <meta charset=utf-8>, or the legacy <meta http-equiv=Content-Type
        # content="text/html; charset=...">; a charset= inside any other
        # attribute value (a description, say) declares nothing
        if b"charset" in attrs:
            m = _CODEC_RX.match(attrs[b"charset"])
        elif attrs.get(b"http-equiv", b"").strip().lower() == b"content-type":
            c = _CONTENT_CHARSET_RX.search(attrs.get(b"content", b""))
            m = c and _CODEC_RX.match(attrs[b"content"], c.end())
        else:
            continue
        if not m:
            continue
        name = m.group(1).decode("ascii", errors="replace")
        try:
            codecs.lookup(name)
        except LookupError:
            return None
        return name
    return None


def decode_html(html: str | bytes | None) -> str:
    """bytes → str honoring the page's own declared charset (BOM or
    meta prescan over the first 2 KiB), falling back to lenient
    UTF-8. A wrong declaration degrades to replacement chars, never
    an exception — crawl bytes must not kill a task. str passes
    through; None → ''."""
    if html is None:
        return ""
    if isinstance(html, str):
        return html
    b = bytes(html)
    enc = sniff_charset(b[:2048])
    if enc:
        try:
            return b.decode(enc, errors="replace")
        except Exception:
            pass
    return b.decode("utf-8", errors="replace")


METADATA_FIELDS = (
    "title",
    "lang",
    "description",
    "canonical",
    "og_title",
    "og_description",
    "published_time",
    "robots",
)


class _MetadataParser(HTMLParser):
    """Head-metadata harvester: <title> text, <html lang>, meta
    description / og:title / og:description, canonical link. First
    occurrence wins for every field (the de-facto crawler rule — a
    second <title> deeper in a malformed page never overrides the
    head's). convert_charrefs + HTMLParser's attribute decoding give
    entity-unescaped values for free."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.meta: dict[str, str] = {}
        self._in_title = False
        self._title_done = False
        self._title_parts: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if self._in_title:
            # a title holds text only: an unclosed <title> ends at the
            # next element instead of swallowing the rest of the page
            self._end_title()
        tag = tag.lower()
        a = {(k or "").lower(): ("" if v is None else v) for k, v in attrs}
        if tag == "html" and a.get("lang"):
            self.meta.setdefault("lang", a["lang"].strip())
        elif tag == "title" and not self._title_done:
            self._in_title = True
        elif tag == "meta":
            name = (a.get("name") or a.get("property") or "").lower()
            content = a.get("content")
            if content is None:
                return
            if name == "description":
                self.meta.setdefault("description", content)
            elif name == "og:title":
                self.meta.setdefault("og_title", content)
            elif name == "og:description":
                self.meta.setdefault("og_description", content)
            elif name in ("article:published_time", "date"):
                # either source fills the one field; first occurrence
                # of either wins (article: meta usually precedes a
                # legacy name="date" in real pages)
                self.meta.setdefault("published_time", content)
            elif name == "robots":
                self.meta.setdefault("robots", content)
        elif tag == "link":
            if "canonical" in a.get("rel", "").lower().split() and a.get("href"):
                self.meta.setdefault("canonical", a["href"].strip())

    def handle_endtag(self, tag: str) -> None:
        if tag.lower() == "title" and self._in_title:
            self._end_title()

    def _end_title(self) -> None:
        self._in_title = False
        self._title_done = True
        self.meta.setdefault("title", "".join(self._title_parts).strip())

    def handle_data(self, data: str) -> None:
        if self._in_title:
            self._title_parts.append(data)


def extract_metadata(html: str | bytes | None) -> dict[str, str | None]:
    """Head metadata of a page as {field: value-or-None} over
    METADATA_FIELDS. Tolerant of truncated/malformed markup (a page
    cut mid-<title> keeps the captured prefix). Fields are reported
    RAW — no cross-field fallback; callers coalesce(title, og_title)
    themselves so the provenance of a title stays visible."""
    out: dict[str, str | None] = {k: None for k in METADATA_FIELDS}
    if html is None:
        return out
    html = decode_html(html)
    parser = _MetadataParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        pass
    if "title" not in parser.meta and parser._title_parts:
        parser.meta["title"] = "".join(parser._title_parts).strip()
    out.update(parser.meta)
    return out


def classify_block(
    block: Block,
    max_link_density: float = DEFAULT_MAX_LINK_DENSITY,
    min_chars: int = DEFAULT_MIN_CHARS,
) -> bool:
    """True = main content, False = boilerplate."""
    if block.under_boilerplate:
        return False
    if block.n_chars < min_chars:
        return False
    return block.link_density <= max_link_density


def extract_main_text(
    html: str | bytes | None,
    separator: str = "\f",
    max_link_density: float = DEFAULT_MAX_LINK_DENSITY,
    min_chars: int = DEFAULT_MIN_CHARS,
) -> str:
    """Boilerplate-stripped main text (content blocks joined in
    document order)."""
    blocks = segment_blocks(html)
    kept = [b.text for b in blocks if classify_block(b, max_link_density, min_chars)]
    return separator.join(kept)
