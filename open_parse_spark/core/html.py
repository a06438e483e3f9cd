"""HTML main-content extraction — boilerplate strip + DOM heuristics.

The reference (Filimoa/open-parse) ingests PDFs only; the north-star
pipeline also ingests HTML turns ("HTML boilerplate strip, DOM heuristics").
This module is that DOM side, built dependency-free on stdlib
``html.parser``:

- **Boilerplate containers dropped by tag**: ``script``/``style``/``head``/
  ``nav``/``header``/``footer``/``aside``/``form``/... — the subtree never
  reaches a block.
- **Boilerplate by class/id token**: ``sidebar``, ``menu``, ``ad``,
  ``social``, ``breadcrumb``, ... (the classic readability/trafilatura
  signal set) prune the subtree.
- **Link-density pruning** (Kohlschuetter-style): a short flowing block
  whose text is mostly anchor text is navigation, not content.
- **Structure kept**: h1-h6 become heading blocks with their level, p/div
  runs become paragraphs (with inline bold/italic runs), ul/ol become
  bullet lists, table rows are captured as header + row grids.

``extract_main_blocks`` is the whole surface (oracle-checked in the
registry: content injected into a deterministic chrome template must
round-trip exactly while every piece of chrome is dropped).  It is pure
extraction: ``core/payload.py`` lays the blocks onto the synthetic pages
the prose path uses, so every downstream node transform (reading order,
spatial merge, stubs, bullets, heading merge) runs unchanged.

Scale: pure per-turn Python executed inside the existing Arrow
``mapInPandas`` parse stage — zero shuffle, no per-row Python UDF, no new
cluster machinery.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from typing import Any, Dict, List

# containers whose entire subtree is boilerplate (never content)
_DROP_TAGS = frozenset(
    "script style noscript template iframe svg head title form button "
    "select option textarea nav header footer aside".split()
)
# tags that terminate/flush a flowing text block
_BLOCK_TAGS = frozenset(
    "p div section article main blockquote pre address figure figcaption "
    "html body hr".split()
)
# void elements: no matching end tag (drop-depth tracking must skip them)
_VOID_TAGS = frozenset(
    "br img hr meta link input area base col embed source track wbr".split()
)
# class/id tokens that mark a subtree as boilerplate
_BOILER_TOKENS = frozenset(
    "nav navbar menu sidebar footer header comment comments ad ads advert "
    "advertisement banner social share sharing breadcrumb breadcrumbs "
    "cookie popup modal related widget promo subscribe newsletter".split()
)
_HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())
# keywords CPython's _markupbase accepts after "<![" (anything else raises)
_MARKED_SECTION_KEYWORDS = frozenset(
    "temp cdata ignore include rcdata if else endif".split()
)
_DECL_NAME_RE = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
# explicit ASCII whitespace class — the RE2/Java/DuckDB-common subset pinned
# in tests/test_dialect_parity.py (\v is NOT included: Java \s excludes it,
# and the DuckDB oracle mirrors this exact class)
_WS_RE = re.compile(r"[ \t\n\r\f]+")
_TOKEN_SPLIT_RE = re.compile(r"[^a-z0-9]+")

# a short flowing block that is mostly anchor text is navigation
_LINK_DENSITY_MAX = 0.66
_LINK_DENSITY_MIN_WORDS = 40


def _norm(s: str) -> str:
    return _WS_RE.sub(" ", s).strip(" ")


def _normalize_runs(raw_runs: List[tuple]) -> List[tuple]:
    """Collapse whitespace ACROSS style runs so the concatenation of the
    returned texts equals ``_norm`` of the raw concatenation.  Separator
    spaces attach to the PRECEDING run (a bold span never starts with the
    inter-word space, keeping the markdown markers tight)."""
    out: List[List[Any]] = []  # [text, bold, italic]
    pending = False
    for raw, bold, italic in raw_runs:
        parts = _WS_RE.split(raw)
        buf: List[str] = []
        for j, w in enumerate(parts):
            if j > 0:
                pending = True
            if w:
                if pending and (buf or out):
                    if buf:
                        buf.append(" ")
                    elif (out[-1][1] + out[-1][2]) <= (bold + italic):
                        # boundary space joins the less-styled side so the
                        # markdown markers stay tight around styled words
                        out[-1][0] += " "
                    else:
                        buf.append(" ")
                pending = False
                buf.append(w)
        if buf:
            if out and out[-1][1] == bold and out[-1][2] == italic:
                out[-1][0] += "".join(buf)
            else:
                out.append(["".join(buf), bold, italic])
    return [(t, b, i) for t, b, i in out]


class _MainContentParser(HTMLParser):
    """Single-pass block builder.  Malformed HTML is tolerated: unclosed
    tags at EOF flush, stray end tags are ignored, void tags don't count
    toward drop-subtree depth, unknown ``<![`` sections are comments."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: List[Dict[str, Any]] = []
        self._drop_depth = 0
        self._drop_tag = ""
        self._a_depth = 0
        self._bold_depth = 0
        self._italic_depth = 0
        # stack of tag names that opened a main-content scope
        # (<main>/<article>/role="main"); non-empty => inside main content
        self._main_openers: List[str] = []
        self._pre_depth = 0  # inside <pre>: whitespace is content
        self._heading: str | None = None
        # flowing text accumulates as (chunk, bold, italic) style runs
        self._buf: List[tuple] = []
        self._link_buf: List[str] = []
        # lists
        self._list_depth = 0
        self._items: List[str] = []
        # tables (structure parsed at depth 1 only; nested tables flatten
        # into the enclosing cell's text)
        self._table_depth = 0
        self._rows: List[List[str]] = []
        self._row_is_header: List[bool] = []
        self._cells: List[str] = []
        self._cell_buf: List[str] = []
        self._cur_row_header = False
        self._in_cell = False

    # -- block assembly ----------------------------------------------------

    def _flush_text(self, kind: str = "text", level: int = 0) -> None:
        runs = _normalize_runs(self._buf)
        link_text = _norm("".join(self._link_buf))
        self._buf, self._link_buf = [], []
        if not runs:
            return
        block = {
            "kind": kind,
            "text": "".join(r[0] for r in runs),
            "level": level,
            "link_chars": len(link_text),
            "in_main": bool(self._main_openers),
        }
        # inline style runs matter for flowing text (they become TextSpans);
        # headings are whole-line bold by construction
        if kind == "text" and any(b or i for _, b, i in runs):
            block["runs"] = runs
        self.blocks.append(block)

    def _flush_pre(self) -> None:
        # <pre> whitespace is content: no collapsing, no style runs; only
        # the newlines that hug the tags are trimmed
        text = "".join(t for t, _, _ in self._buf).strip("\n")
        self._buf, self._link_buf = [], []
        if not text.strip(" \t"):
            return
        self.blocks.append(
            {
                "kind": "text",
                "text": text,
                "level": 0,
                "link_chars": 0,
                "in_main": bool(self._main_openers),
                "preformatted": True,
            }
        )

    def _flush_item(self) -> None:
        text = _norm("".join(t for t, _, _ in self._buf))
        link_text = _norm("".join(self._link_buf))
        self._buf, self._link_buf = [], []
        if text:
            self._items.append((text, len(link_text)))

    def _flush_list(self) -> None:
        self._flush_item()
        items, self._items = self._items, []
        if not items:
            return
        self.blocks.append(
            {
                "kind": "list",
                "text": "\n".join("- " + t for t, _ in items),
                "level": 0,
                "link_chars": sum(lc for _, lc in items),
                # density denominator: raw item text, not the "- " bullets
                "content_chars": sum(len(t) for t, _ in items),
                "in_main": bool(self._main_openers),
            }
        )

    def _flush_table(self) -> None:
        rows, self._rows = self._rows, []
        headers_flags, self._row_is_header = self._row_is_header, []
        if not rows:
            return
        headers: List[str] = []
        if headers_flags and headers_flags[0]:
            headers = rows[0]
            rows = rows[1:]
        self.blocks.append(
            {
                "kind": "table",
                "text": "",
                "level": 0,
                "link_chars": 0,
                "headers": headers,
                "rows": rows,
                "in_main": bool(self._main_openers),
            }
        )

    # -- tag handling ------------------------------------------------------

    def parse_marked_section(self, i, report=1):
        # CPython raises AssertionError on a "<![" whose keyword it does not
        # know, losing the rest of the document; the HTML5 tokenizer reads
        # it as a bogus comment that ends at the next ">".  A keyword that
        # runs to the end of the buffer may still be incomplete.
        m = _DECL_NAME_RE.match(self.rawdata, i + 3)
        end = m.end() if m else i + 3
        if end == len(self.rawdata) or (
            m and m.group().strip().lower() in _MARKED_SECTION_KEYWORDS
        ):
            return super().parse_marked_section(i, report)
        return self.parse_bogus_comment(i, report)

    def _is_boiler_attrs(self, attrs) -> bool:
        marker = " ".join(
            v for k, v in attrs if k in ("class", "id") and v
        ).lower()
        if not marker:
            return False
        return not _BOILER_TOKENS.isdisjoint(_TOKEN_SPLIT_RE.split(marker))

    def handle_starttag(self, tag, attrs):
        if self._drop_depth:
            # count only the DROP OPENER's tag: HTML5 auto-closing tags
            # (unclosed <p>/<li>/<dt> inside a nav/footer) would desync a
            # count-every-tag depth and silently swallow the rest of the
            # document (caught by review; nesting of the same container
            # tag is what actually needs balancing)
            if tag == self._drop_tag:
                self._drop_depth += 1
            return
        if tag in _DROP_TAGS or self._is_boiler_attrs(attrs):
            if tag not in _VOID_TAGS:
                self._drop_depth = 1
                self._drop_tag = tag
            return
        # main-scope bookkeeping runs for every non-dropped tag so nested
        # occurrences of the opener tag stay balanced (e.g. <div role=main>
        # containing plain <div>s — caught by review)
        if tag in ("main", "article") or any(
            k == "role" and v and v.lower() == "main" for k, v in attrs
        ):
            self._main_openers.append([tag, 1])
        elif self._main_openers and tag == self._main_openers[-1][0]:
            self._main_openers[-1][1] += 1
        if self._pre_depth:
            if tag == "pre":
                self._pre_depth += 1
            elif tag == "br":
                self._append_data("\n")
            return  # structure inside <pre> is content, not layout
        if self._table_depth:
            if tag == "table":
                self._table_depth += 1
            elif self._table_depth == 1:
                if tag == "tr":
                    self._cur_row_header = False
                    self._cells = []
                elif tag in ("td", "th"):
                    self._in_cell = True
                    self._cell_buf = []
                    if tag == "th":
                        self._cur_row_header = True
            return
        if tag == "table":
            self._flush_text()
            self._table_depth = 1
            self._rows, self._row_is_header = [], []
            return
        if tag in ("ul", "ol"):
            if self._list_depth == 0:
                self._flush_text()
            self._list_depth += 1
            return
        if tag == "li":
            if self._list_depth:
                self._flush_item()
            return
        if tag in _HEADING_TAGS:
            self._flush_text()
            self._heading = tag
            return
        if tag == "a":
            self._a_depth += 1
            return
        if tag in ("b", "strong"):
            self._bold_depth += 1
            return
        if tag in ("i", "em"):
            self._italic_depth += 1
            return
        if tag == "br":
            self._append_data(" ")
            return
        if tag == "pre":
            if self._list_depth:
                self._append_data(" ")
                return
            self._flush_text()
            self._pre_depth = 1
            return
        if tag in _BLOCK_TAGS:
            if self._list_depth:  # block tag inside an <li>: soft separator
                self._append_data(" ")
            else:
                self._flush_text()

    def handle_startendtag(self, tag, attrs):
        if tag == "br" and not self._drop_depth:
            # XHTML self-closed <br/> must behave like <br> (newline in
            # <pre>, soft space elsewhere — caught by review)
            self._append_data("\n" if self._pre_depth else " ")

    def _main_close(self, tag) -> None:
        if self._main_openers and tag == self._main_openers[-1][0]:
            self._main_openers[-1][1] -= 1
            if self._main_openers[-1][1] == 0:
                # flush buffered content while still inside the scope so it
                # keeps in_main=True
                if self._pre_depth:
                    self._pre_depth = 0
                    self._flush_pre()
                else:
                    # malformed HTML can close <main> with a table or list
                    # still open; flush them here too, else their buffered
                    # content flushes later with in_main=False and is
                    # dropped by the main-scope filter
                    if self._table_depth:
                        self._table_depth = 0
                        if self._in_cell:
                            self._cells.append(
                                _norm("".join(self._cell_buf))
                            )
                            self._in_cell = False
                            self._cell_buf = []
                        if self._cells:
                            self._rows.append(self._cells)
                            self._row_is_header.append(
                                self._cur_row_header
                            )
                            self._cells = []
                        self._flush_table()
                    if self._list_depth:
                        self._list_depth = 0
                        self._flush_list()
                    self._flush_text()
                self._main_openers.pop()

    def handle_endtag(self, tag):
        if self._drop_depth:
            if tag == self._drop_tag:
                self._drop_depth -= 1
            return
        self._main_close(tag)
        if self._pre_depth:
            # end tags inside <pre> are content, not structure: without
            # this guard </b>/</a> opened OUTSIDE the pre would be
            # decremented by markup INSIDE it (caught by review)
            if tag == "pre":
                self._pre_depth -= 1
                if self._pre_depth == 0:
                    self._flush_pre()
            return
        if self._table_depth:
            if tag == "table":
                self._table_depth -= 1
                if self._table_depth == 0:
                    self._flush_table()
            elif self._table_depth == 1:
                if tag in ("td", "th"):
                    if self._in_cell:
                        self._cells.append(_norm("".join(self._cell_buf)))
                        self._in_cell = False
                        self._cell_buf = []
                elif tag == "tr":
                    if self._in_cell:  # unclosed cell
                        self._cells.append(_norm("".join(self._cell_buf)))
                        self._in_cell = False
                        self._cell_buf = []
                    if self._cells:
                        self._rows.append(self._cells)
                        self._row_is_header.append(self._cur_row_header)
                    self._cells = []
            return
        if tag in ("ul", "ol"):
            if self._list_depth:
                self._list_depth -= 1
                if self._list_depth == 0:
                    self._flush_list()
            return
        if tag == "li":
            if self._list_depth:
                self._flush_item()
            return
        if tag in _HEADING_TAGS:
            if self._heading:
                self._flush_text(kind="heading", level=int(tag[1]))
                self._heading = None
            return
        if tag == "a":
            if self._a_depth:
                self._a_depth -= 1
            return
        if tag in ("b", "strong"):
            if self._bold_depth:
                self._bold_depth -= 1
            return
        if tag in ("i", "em"):
            if self._italic_depth:
                self._italic_depth -= 1
            return
        if tag in _BLOCK_TAGS:
            if self._list_depth:
                self._append_data(" ")
            else:
                self._flush_text()

    def _append_data(self, data: str) -> None:
        self._buf.append(
            (data, self._bold_depth > 0, self._italic_depth > 0)
        )

    def handle_data(self, data):
        if self._drop_depth or not data:
            return
        if self._table_depth:
            if self._in_cell:
                self._cell_buf.append(data)
            return
        self._append_data(data)
        if self._a_depth:
            self._link_buf.append(data)

    def close(self):
        super().close()
        # EOF with unclosed structures: flush everything in document order
        if self._table_depth:
            if self._in_cell:
                self._cells.append(_norm("".join(self._cell_buf)))
                self._in_cell = False
            if self._cells:
                self._rows.append(self._cells)
                self._row_is_header.append(self._cur_row_header)
            self._table_depth = 0
            self._flush_table()
        if self._list_depth:
            self._list_depth = 0
            self._flush_list()
        if self._pre_depth:
            self._pre_depth = 0
            self._flush_pre()
        if self._heading:
            self._flush_text(kind="heading", level=int(self._heading[1]))
            self._heading = None
        else:
            self._flush_text()


def extract_main_blocks(html: str) -> List[Dict[str, Any]]:
    """Parse ``html`` and return the ordered main-content blocks.

    Each block: ``{"kind": "heading"|"text"|"list"|"table", "text": str,
    "level": int, "link_chars": int}`` (+ ``headers``/``rows`` for tables).
    Boilerplate subtrees are dropped during the parse; link-dense short
    flowing blocks are pruned afterwards.  Malformed markup is tolerated;
    a raise from the parser propagates (a parse turns it into the turn's
    error row) instead of silently dropping the rest of the document.
    """
    parser = _MainContentParser()
    parser.feed(html)
    parser.close()
    kept = []
    for b in parser.blocks:
        if b["kind"] in ("text", "list"):
            total = b.get("content_chars", len(b["text"]))
            words = b["text"].count(" ") + 1 if b["text"] else 0
            if (
                total
                and b["link_chars"] / total > _LINK_DENSITY_MAX
                and words < _LINK_DENSITY_MIN_WORDS
            ):
                continue
        kept.append(b)
    # readability-style scoping: when the page declares a main-content
    # container (<main>/<article>/role="main") and it produced blocks,
    # everything outside it is chrome — comments sections, text-dense
    # footers and other unmarked junk included
    if any(b["in_main"] for b in kept):
        kept = [b for b in kept if b["in_main"]]
    return kept


_HTML_START_RE = re.compile(r"<(?:!|/?[a-zA-Z])")


def looks_like_html(stripped: str) -> bool:
    """Cheap dispatch test for a payload that is markup, not prose/JSON."""
    return stripped[:1] == "<" and _HTML_START_RE.match(stripped) is not None
