"""Differential test: the flat (object-free) layout decode equals the
eager LineElement/TextSpan construction on randomized span payloads.

``_flat_decode_text_lines`` computes element text / bbox fold / style folds
straight off the span dicts (the parse hot path); this replays every element
through the object path (``_decode_line`` + ``get_lines_bbox``) and asserts
value equality, including the lazily rebuilt ``.lines``.  The randomizer
deliberately emits non-bool style flags, numeric-string sizes, missing
``spans`` keys, empty span dicts and markdown metacharacters.

The synthetic-page elements (prose paragraphs, HTML text/list blocks and
headings) get the same check against an eager construction of their lines
from the layout constants: 72 pt margin, 6 pt per char, 78-char wrap.
"""

import random

from open_parse_spark.core import payload as P
from open_parse_spark.core.html import extract_main_blocks
from open_parse_spark.core.model import LineElement, TextSpan


def _rand_span(rng):
    if rng.random() >= 0.9:
        return {}
    return {
        "text": "".join(rng.choice("ab *_c**d DE1 ") for _ in range(rng.randrange(0, 12))),
        "is_bold": rng.choice([True, False, 1, 0, None]),
        "is_italic": rng.choice([True, False]),
        "size": rng.choice([8.0, 11.0, 16, 16.0, 18.5, "11.5"]),
    }


def _rand_line(rng):
    d = {
        "bbox": [round(rng.uniform(0, 600), rng.randrange(0, 5)) for _ in range(2)]
        + [round(rng.uniform(600, 800), 3), round(rng.uniform(600, 800), 3)],
        "spans": [_rand_span(rng) for _ in range(rng.randrange(0, 5))],
    }
    if rng.random() < 0.1:
        d.pop("spans")
    return d


def test_flat_decode_equals_object_decode():
    rng = random.Random(20260817)
    for _ in range(1500):
        el = {"kind": "text", "lines": [_rand_line(rng) for _ in range(rng.randrange(1, 6))]}
        if rng.random() < 0.4:
            el["bbox"] = [1.0, 2.0, 300.0, 400.0]
        page_obj = {"page": 0, "width": 612.0, "height": 792.0, "elements": [el]}

        flat = P._decode_page_elements(page_obj)[0]
        assert isinstance(flat, P.LazyLinesTextElement)

        lines = [P._decode_line(line) for line in el["lines"]]
        if "bbox" in el:
            x0, y0, x1, y1 = el["bbox"]
        else:
            x0, y0, x1, y1 = P.get_lines_bbox(lines)

        assert flat.text == "\n".join(line.text for line in lines)
        assert flat.is_heading == all(line.is_heading for line in lines)
        assert flat.is_bold == all(line.is_bold for line in lines)
        assert (flat.bbox.x0, flat.bbox.y0, flat.bbox.x1, flat.bbox.y1) == (
            float(x0), float(y0), float(x1), float(y1),
        )
        lazy = flat.lines
        assert len(lazy) == len(lines)
        for a, b in zip(lazy, lines):
            assert a.bbox == b.bbox and a.spans == b.spans and a.text == b.text


def test_chars_grammar_falls_back_to_object_path():
    page_obj = {
        "page": 0,
        "elements": [
            {
                "kind": "text",
                "lines": [
                    {
                        "bbox": [0.0, 0.0, 10.0, 10.0],
                        "chars": [
                            {"text": "H", "fontname": "Bold", "size": 11.0},
                            {"text": "i", "fontname": "Bold", "size": 11.0},
                        ],
                    }
                ],
            }
        ],
    }
    (element,) = P._decode_page_elements(page_obj)
    assert not isinstance(element, P.LazyLinesTextElement)
    assert element.text


def _wrap(text):
    out = []
    for src in text.split("\n"):
        out.extend([src[i : i + 78] for i in range(0, len(src), 78)] or [""])
    return out


def _eager_lines(raw_lines, y1, line_h, bold, size):
    return [
        LineElement(
            bbox=(
                72.0,
                (y1 - i * line_h) - (line_h - 2.0),
                72.0 + max(1.0, 6.0 * len(t)),
                y1 - i * line_h,
            ),
            spans=(TextSpan(t, bold, False, size),),
        )
        for i, t in enumerate(raw_lines)
    ]


def _check_lazy(element, raw_lines, line_h=14.0, bold=False, size=11.0):
    assert isinstance(element, P.LazyLinesTextElement)
    eager = _eager_lines(raw_lines, element.bbox.y1, line_h, bold, size)
    lazy = element.lines
    assert [(a.bbox, a.spans, a.text) for a in lazy] == [
        (b.bbox, b.spans, b.text) for b in eager
    ]
    b = element.bbox
    assert P.get_lines_bbox(lazy) == (b.x0, b.y0, b.x1, b.y1)
    assert "\n".join(line.text for line in lazy) == element.text
    assert element.is_heading == all(line.is_heading for line in lazy)
    assert element.is_bold == all(line.is_bold for line in lazy)


def _rand_text(rng, alphabet):
    return "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 240)))


def test_prose_lazy_lines_equal_eager_construction():
    rng = random.Random(20261019)
    pages = set()
    for _ in range(300):
        paras = [
            "\n".join(_rand_text(rng, "ab c*_ d**e __f ") for _ in range(rng.randrange(1, 6)))
            for _ in range(rng.randrange(1, 25))
        ]
        text = rng.choice(["\n\n", "\n\n\n", "\n\n \n\n"]).join(paras)
        elements = P._prose_to_elements(text)
        kept = [p.strip() for p in text.split("\n\n") if p.strip()]
        assert len(elements) == len(kept)
        for el, para in zip(elements, kept):
            _check_lazy(el, _wrap(para))
            pages.add(el.bbox.page)
    assert len(pages) > 3  # page overflow is exercised


def test_html_lazy_lines_equal_eager_construction():
    rng = random.Random(1019)
    sizes = {1: 24.0, 2: 20.0, 3: 18.0, 4: 16.0, 5: 14.0, 6: 12.0}
    checked = {"heading": 0, "list": 0, "text": 0}
    for _ in range(100):
        parts = []
        for _ in range(rng.randrange(1, 30)):
            k = rng.randrange(3)
            words = _rand_text(rng, "ab c*_ d**e f ")
            if k == 0:
                lvl = rng.randrange(1, 7)
                parts.append(f"<h{lvl}>{words}</h{lvl}>")
            elif k == 1:
                tag = rng.choice(["ul", "ol"])
                items = "".join(f"<li>{_rand_text(rng, 'ab c_d ')}</li>" for _ in range(3))
                parts.append(f"<{tag}>{items}</{tag}>")
            else:
                parts.append(f"<p>{words}</p>")
        html = "".join(parts)
        blocks = extract_main_blocks(html)
        elements = P.html_to_elements(html)
        assert len(blocks) == len(elements)
        for b, el in zip(blocks, elements):
            if b["kind"] == "heading":
                size = sizes[b["level"]]
                _check_lazy(el, _wrap(b["text"]), size + 4.0, True, size)
            else:
                _check_lazy(el, _wrap(b["text"]))
            checked[b["kind"]] += 1
    assert min(checked.values()) > 100
