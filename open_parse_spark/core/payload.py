"""Turn payload decoding — the PDF stand-in — and the synthetic-page layout.

A turn's ``text``/``tool`` columns carry either (a) a JSON document payload
per the grammar in ``FIXTURES.md`` §2 — the deterministic serialized form of
what pdfminer/pymupdf would hand the reference — (b) an HTML document, whose
main-content blocks ``core/html.py`` extracts, or (c) plain prose.  HTML
blocks and prose paragraphs are laid out here, on one set of synthetic
pages: a page cursor stacks blocks down from the top margin, and one
paragraph placer gives every line and element its box.

Decoding mirrors the reference's extraction stages:
- text elements: line/span assembly as in ``text/pdfminer/core.py:209-242``
  (element text = "\\n".join(line.text), bbox = min/max fold of line bboxes);
  optional char-level input runs the T2-T4 char->span grouping.
- table elements: header cleanup + markdown/HTML rendering as in
  ``tables/parse.py:43-89`` + ``tables/pymupdf/parse.py:4-40``.
- image elements: opaque base64 + mimetype as in ``text/pdfminer/core.py:243-271``.
"""

from __future__ import annotations

import json

try:  # orjson: ~5x faster loads; byte-identical parse trees for our
    # payload grammar (objects/arrays/strings/numbers/bools) — json is the
    # fallback so the env dependency stays soft
    import orjson

    def _json_loads(s):
        try:
            return orjson.loads(s)
        except orjson.JSONDecodeError:
            # orjson rejects NaN/Infinity literals that json.loads accepts;
            # retry with json so parse output never depends on whether
            # orjson happens to be installed.
            return json.loads(s)

except ImportError:  # pragma: no cover
    _json_loads = json.loads
from typing import Any, Dict, List, Optional

from open_parse_spark.core.html import extract_main_blocks, looks_like_html
from open_parse_spark.core.model import (
    MIN_HEADING_SIZE,
    Bbox,
    ImageElement,
    LineElement,
    Node,
    TableElement,
    TextElement,
    TextSpan,
    clean_markdown_formatting,
)
from open_parse_spark.core.spans import (
    create_line_element,
    get_lines_bbox,
    lines_from_ocr_output,
)
from open_parse_spark.functions.tables import (
    clean_headers,
    output_to_html,
    output_to_markdown,
)

Element = Any

DEFAULT_PAGE_WIDTH = 612.0
DEFAULT_PAGE_HEIGHT = 792.0
_PROSE_MARGIN_X = 72.0
_PROSE_TOP_Y = 720.0
_PROSE_LINE_HEIGHT = 14.0
_PROSE_PARA_GAP = 14.0
_PROSE_CHAR_WIDTH = 6.0
_PROSE_MIN_Y = 72.0
# HTML heading level -> bold span size: h1-h4 reach MIN_HEADING_SIZE (16)
# and are pipeline headings; h5/h6 are bold but below the threshold
_HEADING_SIZES = {1: 24.0, 2: 20.0, 3: 18.0, 4: 16.0, 5: 14.0, 6: 12.0}


def _decode_line(line_obj: Dict[str, Any]) -> LineElement:
    bbox = tuple(line_obj["bbox"])
    if "chars" in line_obj:
        raw_chars = [
            (c.get("text", ""), c.get("fontname", ""), float(c.get("size", 0.0)))
            for c in line_obj["chars"]
        ]
        return create_line_element(raw_chars, bbox)
    spans = tuple(
        TextSpan(
            text=s.get("text", ""),
            is_bold=bool(s.get("is_bold", False)),
            is_italic=bool(s.get("is_italic", False)),
            size=float(s.get("size", 0.0)),
        )
        for s in line_obj.get("spans", [])
    )
    return LineElement(bbox=bbox, spans=spans)


class LazyLinesTextElement(TextElement):
    """TextElement whose LineElements are materialized lazily.

    The hot path needs only the element-level aggregates — joined text,
    bbox fold, and the ``all(line.is_heading)`` / ``all(line.is_bold)``
    style folds — which the JSON decoder (``_flat_decode_text_lines``) and
    the synthetic-page placer (``_paragraph``) compute without constructing
    ~6 TextSpan+LineElement objects per line for nobody (the only ``.lines``
    consumers in the repo are those two folds, plus tests).  A cold reader
    rebuilds lines from ``line_specs``: ``(bbox4, ((text, bold, italic,
    size), ...))`` per line, consumed once.  The JSON decoder passes a list
    detached from the decoded dicts, so the payload's parse tree stays
    GC-able after decode (heavy-tailed megabyte payloads would otherwise be
    pinned in dict form for the element's lifetime); the placer passes a
    generator, so a synthetic paragraph allocates nothing per line.
    Rebuild equality is asserted in tests/test_payload_flat.py."""

    __slots__ = ("_line_specs", "_lines_cache", "_flat_heading", "_flat_bold")

    def __init__(self, text, bbox, line_specs, is_heading, is_bold):
        self.text = text
        self.bbox = bbox
        self._tokens = None
        self._line_specs = line_specs
        self._lines_cache = None
        self._flat_heading = is_heading
        self._flat_bold = is_bold

    @property
    def lines(self):
        if self._lines_cache is None:
            self._lines_cache = tuple(
                LineElement(
                    bbox=bbox, spans=tuple(TextSpan(*s) for s in spans)
                )
                for bbox, spans in self._line_specs
            )
        return self._lines_cache

    @property
    def is_heading(self) -> bool:
        return self._flat_heading

    @property
    def is_bold(self) -> bool:
        return self._flat_bold


def _flat_decode_text_lines(raw_lines: list):
    """Element-level aggregates for a span-shaped text element, computed
    without LineElement/TextSpan construction.

    Returns ``(text, bbox_fold, all_heading, all_bold, line_specs)`` —
    value-identical to building the objects and folding
    (differential-tested), or ``None`` when any line uses the char-level
    grammar (T2-T4 grouping stays on the object path).  ``line_specs``
    carries compact ``(raw_bbox4, normalized_span_tuples)`` for the lazy
    cold-path rebuild, detached from the decoded JSON dicts.
    """
    texts = []
    fx0 = fy0 = fx1 = fy1 = None
    all_heading = all_bold = True
    line_specs = []
    for line_obj in raw_lines:
        if "chars" in line_obj:
            return None
        # bbox rounded to 2dp exactly as LineElement.__init__ does; the
        # element fold runs over the ROUNDED values
        b0, b1, b2, b3 = line_obj["bbox"]
        rb0, rb1, rb2, rb3 = round(b0, 2), round(b1, 2), round(b2, 2), round(b3, 2)
        if fx0 is None:
            fx0, fy0, fx1, fy1 = rb0, rb1, rb2, rb3
        else:
            if rb0 < fx0:
                fx0 = rb0
            if rb1 < fy0:
                fy0 = rb1
            if rb2 > fx1:
                fx1 = rb2
            if rb3 > fy1:
                fy1 = rb3
        spans = line_obj.get("spans", [])
        flags = [
            (
                s.get("text", ""),
                bool(s.get("is_bold", False)),
                bool(s.get("is_italic", False)),
                float(s.get("size", 0.0)),
            )
            for s in spans
        ]
        line_specs.append(((b0, b1, b2, b3), tuple(flags)))
        n = len(flags)
        # fast paths for the two overwhelming cases (value-identical to the
        # general transition-marker loop below): a single span, and a line
        # with no styled span at all
        if n == 1:
            t, bold, italic, _sz = flags[0]
            if bold:  # prefix order bold-then-italic, suffix the same
                t = "***" + t + "***" if italic else "**" + t + "**"
            elif italic:
                t = "*" + t + "*"
            texts.append(clean_markdown_formatting(t))
        elif not any(f[1] or f[2] for f in flags):
            texts.append(
                clean_markdown_formatting("".join(f[0] for f in flags))
            )
        else:
            parts = []
            for i, (t, bold, italic, _sz) in enumerate(flags):
                # TextSpan.formatted_text transition markers, same order:
                # bold prefix, italic prefix (outermost left), bold suffix,
                # italic suffix (outermost right)
                if bold and (i == 0 or not flags[i - 1][1]):
                    t = "**" + t
                if italic and (i == 0 or not flags[i - 1][2]):
                    t = "*" + t
                if bold and (i == n - 1 or not flags[i + 1][1]):
                    t = t + "**"
                if italic and (i == n - 1 or not flags[i + 1][2]):
                    t = t + "*"
                parts.append(t)
            texts.append(clean_markdown_formatting("".join(parts)))
        if all_heading or all_bold:
            # LineElement style folds ignore the trailing span when >1 span
            style = flags[:-1] if n > 1 else flags
            for _t, bold, _it, size in style:
                if not bold:
                    all_bold = all_heading = False
                    break
                if all_heading and size < MIN_HEADING_SIZE:
                    all_heading = False
    return (
        "\n".join(texts),
        (fx0, fy0, fx1, fy1),
        all_heading,
        all_bold,
        line_specs,
    )


def _render_table(headers, rows, output_format: str = "html") -> str:
    """Header cleanup + markdown/HTML rendering of one table grid."""
    headers = clean_headers(headers)
    if output_format in ("str", "markdown"):
        return output_to_markdown(headers, rows)
    return output_to_html(headers, rows)


def _decode_page_elements(page_obj: Dict[str, Any]) -> List[Element]:
    page = int(page_obj.get("page", 0))
    width = float(page_obj.get("width", DEFAULT_PAGE_WIDTH))
    height = float(page_obj.get("height", DEFAULT_PAGE_HEIGHT))

    def bbox(coords) -> Bbox:
        x0, y0, x1, y1 = coords
        return Bbox(
            page=page,
            page_width=width,
            page_height=height,
            x0=float(x0),
            y0=float(y0),
            x1=float(x1),
            y1=float(y1),
        )

    out: List[Element] = []
    for el in page_obj.get("elements", []):
        kind = el.get("kind", "text")
        if kind == "text":
            raw_lines = el.get("lines", [])
            if not raw_lines:
                continue
            flat = _flat_decode_text_lines(raw_lines)
            if flat is not None:
                text, fold, all_heading, all_bold, line_specs = flat
                out.append(
                    LazyLinesTextElement(
                        text=text,
                        bbox=bbox(el["bbox"] if "bbox" in el else fold),
                        line_specs=line_specs,
                        is_heading=all_heading,
                        is_bold=all_bold,
                    )
                )
                continue
            lines = [_decode_line(line) for line in raw_lines]
        elif kind == "ocr_text":
            # OCR-engine path (T6): raw OCR lines with pymupdf-style font
            # flags, merged by overlap at similar height
            # (reference text/pymupdf/core.py:35-102)
            lines = lines_from_ocr_output(
                el.get("lines", []), error_margin=float(el.get("error_margin", 0))
            )
            if not lines:
                continue
        elif kind == "table":
            text = _render_table(
                el.get("headers", []),
                el.get("rows", []),
                el.get("output_format", "html"),
            )
            out.append(TableElement(text=text, bbox=bbox(el["bbox"])))
            continue
        elif kind == "image":
            out.append(
                ImageElement(
                    text=el.get("text", ""),
                    image=el.get("image", ""),
                    image_mimetype=el.get("image_mimetype", "unknown"),
                    bbox=bbox(el["bbox"]),
                )
            )
            continue
        else:
            continue
        # text/ocr_text object path: bbox from the element, else the fold
        box = bbox(el["bbox"] if "bbox" in el else get_lines_bbox(lines))
        out.append(
            TextElement(
                text="\n".join([line.text for line in lines]),
                lines=tuple(lines),
                bbox=box,
            )
        )
    return out


class _PageCursor:
    """Position on the synthetic pages: blocks stack down from the top
    margin with a paragraph gap between them, and a block that would cross
    the bottom margin starts a new page."""

    __slots__ = ("page", "y1")

    def __init__(self) -> None:
        self.page = 0
        self.y1 = _PROSE_TOP_Y

    def fit(self, needed: float) -> float:
        """Top edge for a block ``needed`` tall (the page-break rule)."""
        if self.y1 - needed < _PROSE_MIN_Y:
            self.page += 1
            self.y1 = _PROSE_TOP_Y
        return self.y1

    def emit(self, x0: float, y0: float, x1: float, y1: float) -> Bbox:
        """The placed block's Bbox; the next block starts one gap below."""
        self.y1 = y0 - _PROSE_PARA_GAP
        return Bbox(
            page=self.page,
            page_width=DEFAULT_PAGE_WIDTH,
            page_height=DEFAULT_PAGE_HEIGHT,
            x0=x0,
            y0=y0,
            x1=x1,
            y1=y1,
        )


def _wrap78(text: str) -> List[str]:
    """Source lines, each cut into 78-char chunks."""
    out: List[str] = []
    for src in text.split("\n"):
        if len(src) <= 78:
            out.append(src)
        else:
            # index-based chunking: re-slicing the shrinking remainder
            # is O(n^2) bytes copied and took minutes on 10 MB turns
            out.extend(src[s : s + 78] for s in range(0, len(src), 78))
    return out


def _right_edge(n_chars: int) -> float:
    """x1 of a synthetic line ``n_chars`` long (at least 1 pt wide)."""
    return _PROSE_MARGIN_X + max(1.0, _PROSE_CHAR_WIDTH * n_chars)


def _place_lines(cur: _PageCursor, raw_lines: List[str], line_h: float) -> Bbox:
    """Element box of ``raw_lines`` stacked ``line_h`` apart at the cursor:
    the min/max fold of the per-line boxes ``_line_specs`` yields (the
    right edge grows with the line length, so the widest line sets x1)."""
    n = len(raw_lines)
    y1 = cur.fit(n * line_h)
    y0 = (y1 - (n - 1) * line_h) - (line_h - 2.0)
    return cur.emit(_PROSE_MARGIN_X, y0, _right_edge(max(map(len, raw_lines))), y1)


def _line_specs(raw_lines, y1: float, line_h: float, bold: bool, size: float):
    """Per-line ``(bbox4, spans)`` of a placed paragraph, for the lazy
    ``LazyLinesTextElement.lines`` rebuild."""
    for i, t in enumerate(raw_lines):
        top = y1 - i * line_h
        yield (
            (_PROSE_MARGIN_X, top - (line_h - 2.0), _right_edge(len(t)), top),
            ((t, bold, False, size),),
        )


def _wrap_runs(runs) -> List[list]:
    """Style runs wrapped at 78 columns, per line its ``(text, bold,
    italic, 11.0)`` span pieces.  The cuts are ``_wrap78``'s, except that a
    bold/italic run which would cross one and fits on a line moves whole to
    the next line, so its markdown markers stay around whole words; a plain
    run, or a styled one wider than a line, splits at the cut into two
    spans of one style.  Run text holds no newline (whitespace is
    collapsed)."""
    lines: List[list] = []
    cur: list = []
    width = 0
    for t, bold, italic in runs:
        if (bold or italic) and 0 < width and width + len(t) > 78 >= len(t):
            lines.append(cur)
            cur, width = [], 0
        pos = 0  # index-based, as in _wrap78: no re-sliced remainders
        while pos < len(t):
            if width == 78:
                lines.append(cur)
                cur, width = [], 0
            piece = t[pos : pos + 78 - width]
            cur.append((piece, bold, italic, 11.0))
            pos += len(piece)
            width += len(piece)
    lines.append(cur)
    return lines


def _paragraph(
    cur: _PageCursor,
    raw_lines: List[str],
    line_h: float = _PROSE_LINE_HEIGHT,
    bold: bool = False,
    size: float = 11.0,
) -> LazyLinesTextElement:
    """One text element of single-span lines, all ``bold``/``size``."""
    bbox = _place_lines(cur, raw_lines, line_h)
    mark = "**" if bold else ""
    return LazyLinesTextElement(
        text="\n".join(clean_markdown_formatting(mark + t + mark) for t in raw_lines),
        bbox=bbox,
        line_specs=_line_specs(raw_lines, bbox.y1, line_h, bold, size),
        is_heading=bold and size >= MIN_HEADING_SIZE,
        is_bold=bold,
    )


def _prose_to_elements(text: str) -> List[Element]:
    """Deterministic layout of plain prose onto synthetic pages.

    One TextElement per paragraph ("\\n\\n"-separated); lines wrap at 78
    chars; y descends from the top margin, new page when the column is full.
    Purely deterministic so the same prose always yields the same layout.
    """
    cur = _PageCursor()
    return [
        _paragraph(cur, _wrap78(para))
        for para in (p.strip() for p in text.split("\n\n"))
        if para
    ]


def html_to_elements(html: str) -> List[Element]:
    """Main content of an HTML page laid out on the prose path's synthetic
    pages: headings as bold lines sized by level, tables rendered like
    layout tables, list and text blocks as prose paragraphs — so the full
    node pipeline runs unchanged on HTML turns."""
    cur = _PageCursor()
    elements: List[Element] = []
    for b in extract_main_blocks(html):
        if b["kind"] == "table":
            headers, rows = b["headers"], b["rows"]
            needed = max(1, len(rows) + (1 if headers else 0)) * _PROSE_LINE_HEIGHT
            y1 = cur.fit(needed)
            bbox = cur.emit(
                _PROSE_MARGIN_X, y1 - needed, DEFAULT_PAGE_WIDTH - _PROSE_MARGIN_X, y1
            )
            elements.append(TableElement(text=_render_table(headers, rows), bbox=bbox))
        elif b["kind"] == "heading":
            size = _HEADING_SIZES[b["level"]]
            elements.append(_paragraph(cur, _wrap78(b["text"]), size + 4.0, True, size))
        elif b.get("runs"):
            # inline bold/italic: the prose placer over the wrapped style
            # runs; each line's text carries the reference's span-transition
            # markdown formatting (model.py TextSpan.formatted_text)
            wrapped = _wrap_runs(b["runs"])
            raw_lines = ["".join(p[0] for p in pieces) for pieces in wrapped]
            bbox = _place_lines(cur, raw_lines, _PROSE_LINE_HEIGHT)
            specs = _line_specs(raw_lines, bbox.y1, _PROSE_LINE_HEIGHT, False, 11.0)
            lines = tuple(
                LineElement(bbox=box, spans=tuple(TextSpan(*p) for p in pieces))
                for (box, _), pieces in zip(specs, wrapped)
            )
            text = "\n".join(line.text for line in lines)
            elements.append(TextElement(text=text, lines=lines, bbox=bbox))
        else:
            elements.append(_paragraph(cur, _wrap78(b["text"])))
    return elements


def decode_payload(text: Optional[str], tool: Optional[str]) -> List[Element]:
    """Decode a turn's (text, tool) into extraction elements.

    ``text`` carries the document payload; ``tool`` may carry a second JSON
    payload (table grids for table-turn fixtures, FIXTURES.md §1).
    """
    elements: List[Element] = []
    for payload in (text, tool):
        if not payload:
            continue
        stripped = payload.lstrip()
        if stripped.startswith("{"):
            try:
                obj = _json_loads(payload)
            except (ValueError, TypeError):
                obj = None
            if isinstance(obj, dict) and "pages" in obj:
                for page_obj in obj["pages"]:
                    elements.extend(_decode_page_elements(page_obj))
                continue
        elif looks_like_html(stripped):
            # HTML turn: DOM boilerplate strip + main-content extraction
            # (core/html.py), laid out onto the prose path's synthetic pages
            elements.extend(html_to_elements(payload))
            continue
        # plain prose fallback (only sensible for the text column)
        if payload is text:
            elements.extend(_prose_to_elements(payload))
    return elements


def elements_to_nodes(elements: List[Element]) -> List[Node]:
    """One single-element Node per element; reference doc_parser.py:128-137."""
    return [Node(elements=(e,)) for e in elements]
