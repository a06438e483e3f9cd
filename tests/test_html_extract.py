"""HTML main-content extraction (core/html.py): boilerplate strip, DOM
heuristics, link-density pruning, node-pipeline integration.

The north-star pipeline ingests HTML turns alongside the JSON layout
payloads; the reference (Filimoa/open-parse) has no HTML path, so these are
behavior-defining tests, not ported goldens."""

from open_parse_spark.core.html import extract_main_blocks, looks_like_html
from open_parse_spark.core.payload import html_to_elements
from open_parse_spark.core.parse import parse_turn

CHROME_PAGE = (
    '<html><head><title>T</title><style>p{color:red}</style>'
    '<script>if(1<2){document.write("<p>fake</p>")}</script></head><body>'
    '<nav><a href="/">Home</a><a href="/x">X</a></nav>'
    '<header><h1>Site name</h1></header>'
    '<div class="sidebar"><ul><li><a href="/a">A</a></li></ul></div>'
    '<article><h2>Real title</h2><p>Real content paragraph.</p></article>'
    '<aside>Related stories</aside>'
    '<footer>Copyright</footer></body></html>'
)


def test_chrome_is_dropped_content_kept():
    blocks = extract_main_blocks(CHROME_PAGE)
    assert [(b["kind"], b["text"]) for b in blocks] == [
        ("heading", "Real title"),
        ("text", "Real content paragraph."),
    ]


def test_script_content_never_leaks():
    # the classic trap: markup inside a script string
    blocks = extract_main_blocks(CHROME_PAGE)
    assert all("fake" not in b["text"] for b in blocks)


def test_boilerplate_class_tokens_prune_subtree():
    html = (
        '<div class="content-ad banner"><p>Buy now!</p></div>'
        '<div id="main-menu"><p>Products</p></div>'
        "<p>Kept paragraph here.</p>"
    )
    blocks = extract_main_blocks(html)
    assert [b["text"] for b in blocks] == ["Kept paragraph here."]


def test_link_density_prunes_short_link_blocks():
    nav = (
        '<div><a href="/1">One</a> <a href="/2">Two</a> <a href="/3">Three</a></div>'
        "<p>" + "genuine article words " * 12 + "</p>"
    )
    blocks = extract_main_blocks(nav)
    assert len(blocks) == 1 and blocks[0]["text"].startswith("genuine")


def test_link_density_spares_long_link_rich_paragraphs():
    words = "see the reference documentation for details " * 10  # >=40 words
    html = f'<p><a href="/ref">{words}</a></p>'
    blocks = extract_main_blocks(html)
    assert len(blocks) == 1


def test_entities_unescaped_and_whitespace_normalized():
    html = "<p>a &amp; b &lt;tag&gt;\n\t  c</p>"
    blocks = extract_main_blocks(html)
    assert blocks[0]["text"] == "a & b <tag> c"


def test_table_headers_rows_and_nested_table_flattened():
    html = (
        "<table><tr><th>h1</th><th>h2</th></tr>"
        "<tr><td>a</td><td><table><tr><td>inner</td></tr></table></td></tr>"
        "</table>"
    )
    (b,) = extract_main_blocks(html)
    assert b["kind"] == "table"
    assert b["headers"] == ["h1", "h2"]
    assert b["rows"] == [["a", "inner"]]


def test_list_items_become_bullet_lines():
    html = "<ol><li>first</li><li>second <b>bold</b></li></ol>"
    (b,) = extract_main_blocks(html)
    assert b["text"] == "- first\n- second bold"


def test_malformed_html_never_raises():
    for junk in (
        "<",
        "<x",
        "<<<>>>",
        "<p><b>unclosed everywhere",
        "<table><tr><td>eof-in-cell",
        "<ul><li>eof-in-item",
        "</div></p></html>",
        "<!-- only a comment -->",
        "<p>" + "x" * 100000,
    ):
        extract_main_blocks(junk)  # must not raise


def test_looks_like_html_dispatch():
    assert looks_like_html("<html>")
    assert looks_like_html("<!doctype html>")
    assert looks_like_html("<p>hi")
    assert not looks_like_html("{json}")
    assert not looks_like_html("plain prose")
    assert not looks_like_html("< 5 and > 3")  # math, not markup


def test_headings_map_to_pipeline_heading_elements():
    els = html_to_elements("<h1>Big</h1><h5>Small</h5><p>body text</p>")
    assert els[0].text == "**Big**" and els[0].is_heading
    assert els[1].text == "**Small**" and not els[1].is_heading  # 14pt < 16
    assert not els[2].is_heading


def test_parse_turn_html_end_to_end():
    html = (
        "<html><body><nav><a href='/'>Home</a></nav>"
        "<article><h1>Quarterly Report</h1>"
        "<p>" + "Revenue grew steadily across all segments this quarter. " * 5
        + "</p>"
        "<table><tr><th>Segment</th><th>Growth</th></tr>"
        "<tr><td>Cloud</td><td>12%</td></tr></table>"
        "<ul><li>cloud up</li><li>ads down</li></ul></article>"
        "<footer>contact</footer></body></html>"
    )
    nodes = parse_turn(html)
    assert len(nodes) == 1
    text = nodes[0].text
    assert text.startswith("**Quarterly Report**")
    assert '<table border="1">' in text
    assert "- cloud up\n- ads down" in text
    assert "Home" not in text and "contact" not in text


def test_parse_turn_html_deterministic():
    html = "<article><h1>t</h1><p>" + "stable content words " * 30 + "</p></article>"
    a = [n.text for n in parse_turn(html)]
    b = [n.text for n in parse_turn(html)]
    assert a == b


def test_non_html_payloads_unaffected():
    # prose starting with '<' but not tag-like stays on the prose path
    prose = "< 5% of the corpus is affected. " * 20
    nodes = parse_turn(prose)
    assert nodes and nodes[0].text.startswith("< 5%")


def test_parse_transcripts_html_turns_distributed(spark):
    """HTML turns flow through the distributed Arrow parse exactly like the
    single-threaded parse_turn path (same code, but this pins the Spark
    plumbing: schema, batching, ordering)."""
    import datetime

    import pandas as pd

    from open_parse_spark.spark.pipeline import parse_transcripts

    html_a = (
        "<html><body><nav><a href='/'>Home</a></nav><article>"
        "<h1>Doc A</h1><p>" + "alpha content words here. " * 20
        + "</p></article><footer>foot</footer></body></html>"
    )
    html_b = (
        "<div class='sidebar'><a href='/x'>X</a></div>"
        "<h2>Doc B</h2><p>" + "beta content words here. " * 20 + "</p>"
    )
    rows = [
        ("c1", 0, "user", html_a, "", datetime.datetime(2026, 1, 1)),
        ("c1", 1, "assistant", html_b, "", datetime.datetime(2026, 1, 1)),
        ("c2", 0, "user", "plain prose turn. " * 30, "", datetime.datetime(2026, 1, 1)),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
    )
    nodes = (
        parse_transcripts(df, repartition_for_skew=False)
        .orderBy("conv_id", "turn_idx", "node_idx")
        .toPandas()
    )
    by_turn = {
        (r.conv_id, r.turn_idx): r.text for r in nodes.itertuples()
    }
    expected_a = [n.text for n in parse_turn(html_a)]
    assert by_turn[("c1", 0)] == expected_a[0]
    assert by_turn[("c1", 0)].startswith("**Doc A**")
    assert "Home" not in by_turn[("c1", 0)]
    assert by_turn[("c1", 1)].startswith("**Doc B**")
    assert "X" not in by_turn[("c1", 1)]
    assert ("c2", 0) in by_turn  # prose path untouched


def test_inline_style_runs_extracted():
    blocks = extract_main_blocks("<p>a <b>bold</b> word and <em>ital</em>s</p>")
    assert blocks[0]["text"] == "a bold word and itals"  # plain text: clean spaces
    assert blocks[0]["runs"] == [
        ("a ", False, False),
        ("bold", True, False),
        (" word and ", False, False),
        ("ital", False, True),
        ("s", False, False),
    ]
    # unstyled paragraphs carry no runs (fast path)
    assert "runs" not in extract_main_blocks("<p>plain</p>")[0]


def test_inline_styles_render_with_reference_markdown_cleanup():
    """Mid-line markers swallow adjacent spaces — the reference's own
    cleanup semantics (schemas.py:160-187; its goldens show
    'dated**1/12/2003 12:36:16 PM**')."""
    els = html_to_elements("<p>a <b>bold</b> word and <em>ital</em>s</p>")
    assert els[0].text == "a**bold**word and*ital*s"
    els2 = html_to_elements("<p><strong><em>both</em></strong> rest</p>")
    assert els2[0].text == "***both***rest"


def test_styled_paragraph_through_full_pipeline():
    node = parse_turn(
        "<article><h1>T</h1><p>" + "word " * 60
        + "really <b>important</b> point</p></article>"
    )
    assert "**important**" in node[0].text


def test_main_container_scopes_out_unmarked_junk():
    """Readability-style scoping: once <main>/<article>/role=main exists,
    text-dense junk outside it (comments, unmarked footers) is chrome."""
    html = (
        "<div><p>" + "text dense comment junk words " * 10 + "</p></div>"
        "<article><h1>T</h1><p>real body content here</p></article>"
        "<div><p>trailing junk paragraph with plenty of words</p></div>"
    )
    assert [b["text"] for b in extract_main_blocks(html)] == [
        "T",
        "real body content here",
    ]
    # without a declared container everything non-boilerplate stays
    assert [b["text"] for b in extract_main_blocks("<p>standalone</p>")] == [
        "standalone"
    ]
    # role=main is case-insensitive and works on any tag
    assert [
        b["text"]
        for b in extract_main_blocks(
            '<p>outside</p><div role="MAIN"><p>inside</p></div>'
        )
    ] == ["inside"]


def test_pre_blocks_preserved_verbatim():
    bs = extract_main_blocks(
        "<p>before</p><pre>\ndef f(x):\n    return  x\n</pre><p>after</p>"
    )
    assert bs[1]["text"] == "def f(x):\n    return  x"
    assert bs[1].get("preformatted")
    # structure tags inside pre are content separators, not layout
    bs2 = extract_main_blocks("<pre>a<br>b</pre>")
    assert bs2[0]["text"] == "a\nb"
    # unclosed pre at EOF flushes
    assert extract_main_blocks("<pre>code at eof")[0]["text"] == "code at eof"


def test_pre_lines_survive_the_node_pipeline():
    node = parse_turn(
        "<article><h1>Code</h1><p>" + "prose words here. " * 30 + "</p>"
        "<pre>line_one = 1\nline_two  = 2</pre></article>"
    )
    text = node[0].text
    assert "line_one = 1\nline_two  = 2" in text


def test_extractor_fuzz_never_raises_and_deterministic():
    """Random tag soup: the extractor must never raise, always return the
    same blocks for the same input, and never leak dropped-container text."""
    from hypothesis import given, settings, strategies as st

    tags = ["p", "div", "b", "i", "ul", "li", "table", "tr", "td", "pre",
            "h1", "h3", "a", "nav", "footer", "script", "article", "br",
            "main", "span", "x-unknown"]
    piece = st.one_of(
        st.sampled_from([f"<{t}>" for t in tags]),
        st.sampled_from([f"</{t}>" for t in tags]),
        st.sampled_from(['<div class="sidebar">', '<a href="/x">',
                         "<!-- c -->", "<![zz", "&amp;", "&#65;", "&bogus;"]),
        st.text(alphabet="abc <>&/='\"\n\t", max_size=12),
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(piece, max_size=40))
    def run(pieces):
        html = "".join(pieces)
        a = extract_main_blocks(html)
        b = extract_main_blocks(html)
        assert a == b

    run()


# -- review-fix regressions (code-review findings, each verified failing
# before its fix) --


def test_unclosed_tags_inside_dropped_container_do_not_swallow_doc():
    bs = extract_main_blocks(
        "<nav><p>Home<p>About</nav><main><p>Real content here</p></main>"
    )
    assert [b["text"] for b in bs] == ["Real content here"]
    # stray extra closes inside the drop don't end it early either
    bs2 = extract_main_blocks(
        '<nav><a href="/">x</a></p></div>boiler</nav><p>kept content</p>'
    )
    assert [b["text"] for b in bs2] == ["kept content"]
    # nested same container tag balances
    bs3 = extract_main_blocks("<nav>a<nav>b</nav>c</nav><p>kept here</p>")
    assert [b["text"] for b in bs3] == ["kept here"]


def test_role_main_scope_survives_nested_divs():
    bs = extract_main_blocks(
        '<div role="main"><div>first part</div><p>second part</p></div>'
    )
    assert [b["text"] for b in bs] == ["first part", "second part"]


def test_style_and_anchor_end_tags_inside_pre_do_not_leak():
    bs = extract_main_blocks("<p><b>A <pre><b>code</b></pre> B</b></p>")
    bolds = [b for b in bs if b.get("runs")]
    assert any("B" in b["text"] and b["runs"][0][1] for b in bolds)


def test_xhtml_self_closed_br_inside_pre():
    assert (
        extract_main_blocks("<pre>line1<br/>line2</pre>")[0]["text"]
        == "line1\nline2"
    )


def test_tables_render_into_joined_body_text(spark):
    import pandas as pd

    from open_parse_spark.operators.html import extract_main_content

    html = (
        "<article><p>para1</p>"
        "<table><tr><th>h1</th><th>h2</th></tr><tr><td>a</td><td>b</td></tr></table>"
        "<p>para2</p></article>"
    )
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "html": [html]}))
    row = extract_main_content(df).collect()[0]
    assert "| h1 | h2 |" in row.body_text
    assert "para1" in row.body_text and "para2" in row.body_text
    assert "\n\n\n" not in row.body_text  # no empty-block join artifacts


def test_html_paragraph_layout_matches_prose_layout():
    """HTML text blocks and prose paragraphs go through one paragraph
    placer on one synthetic page layout; this pins that an HTML paragraph
    still lands exactly where the same prose paragraph does."""
    from open_parse_spark.core.payload import _prose_to_elements

    text = "one paragraph of words " * 12
    html_el = html_to_elements(f"<p>{text.strip()}</p>")[0]
    prose_el = _prose_to_elements(text.strip())[0]
    assert html_el.text == prose_el.text
    assert (html_el.bbox.x0, html_el.bbox.y0, html_el.bbox.x1, html_el.bbox.y1) == (
        prose_el.bbox.x0,
        prose_el.bbox.y0,
        prose_el.bbox.x1,
        prose_el.bbox.y1,
    )


def test_styled_paragraph_wraps_like_prose():
    """A paragraph with inline bold/italic wraps at 78 chars like prose and
    stays inside the page's right margin.  A styled run that would cross a
    wrap point moves whole to the next line when it fits one (its markdown
    markers stay around whole words); a wider one splits into two spans of
    the same style."""
    from open_parse_spark.core.payload import _prose_to_elements

    el = html_to_elements("<p>" + "word " * 100 + "<b>x</b></p>")[0]
    plain = _prose_to_elements("word " * 100 + "x")[0]
    assert el.bbox.x1 <= 540 and el.bbox.x1 == plain.bbox.x1
    assert (el.bbox.y0, el.bbox.y1) == (plain.bbox.y0, plain.bbox.y1)
    assert [ln.bbox for ln in el.lines] == [ln.bbox for ln in plain.lines]
    assert len(el.lines) == 7
    for ln in el.lines[:-1]:
        assert [(s.text, s.is_bold, s.is_italic) for s in ln.spans] == [
            (ln.text, False, False)
        ]
        assert len(ln.text) == 78
    assert [(s.text, s.is_bold) for s in el.lines[-1].spans] == [
        ("d word word word word word word ", False),
        ("x", True),
    ]
    assert el.text == "\n".join(ln.text for ln in el.lines)
    assert el.text.endswith("word**x**")

    def styles(el):
        return [[(s.text, s.is_bold, s.is_italic) for s in ln.spans] for ln in el.lines]

    # a 20-char bold run at column 70 moves whole to line 2
    el = html_to_elements("<p>" + "a" * 70 + "<b>" + "b" * 20 + "</b> tail <i>it</i></p>")[0]
    assert styles(el) == [
        [("a" * 70, False, False)],
        [("b" * 20, True, False), (" tail ", False, False), ("it", False, True)],
    ]
    assert el.bbox.x1 == 72 + 6 * 70
    assert el.text.split("\n") == [ln.text for ln in el.lines]
    # a bold run wider than a line splits at the cut, one style both sides
    el = html_to_elements("<p>" + "a" * 10 + "<b>" + "b" * 100 + "</b> tail</p>")[0]
    assert styles(el) == [
        [("a" * 10, False, False), ("b" * 68, True, False)],
        [("b" * 32, True, False), (" tail", False, False)],
    ]
    assert el.bbox.x1 == 540

    # 78 chars or fewer: still one line holding every run
    el = html_to_elements("<p>short <b>bold</b> and <i>it</i></p>")[0]
    assert len(el.lines) == 1 and el.text == el.lines[0].text
    assert [(s.text, s.is_bold, s.is_italic) for s in el.lines[0].spans] == [
        ("short ", False, False), ("bold", True, False), (" and ", False, False),
        ("it", False, True),
    ]


def test_unknown_marked_section_reads_as_a_comment():
    # CPython's parser raises on a "<![" keyword outside its marked-section
    # list; HTML5 reads it as a bogus comment up to the next ">", and the
    # rest of the document must survive
    after = "after the marked section, a long paragraph"
    html = f"<p>before</p><![zz]><p>{after}</p>"
    assert [b["text"] for b in extract_main_blocks(html)] == ["before", after]
    assert [e.text for e in html_to_elements(html)][1].startswith("after the")
    # no keyword at all reads the same way
    assert [b["text"] for b in extract_main_blocks("<p>a<![ x]>b</p><![>")] == ["ab"]


def test_extractor_raise_becomes_the_turns_error_row(monkeypatch):
    import pandas as pd

    from open_parse_spark.core import html as H
    from open_parse_spark.spark.pipeline import _node_rows

    def fault(self, data):
        raise RuntimeError("parser fault")

    monkeypatch.setattr(H._MainContentParser, "handle_data", fault)
    turns = pd.DataFrame(
        {"conv_id": ["c"], "turn_idx": [0], "text": ["<p>some text</p>"], "tool": [None]}
    )
    body = _node_rows(["conv_id", "turn_idx", "node_idx", "parse_error"], None)
    (out,) = body(iter([turns]))
    assert out["node_idx"].tolist() == [-1]
    assert out["parse_error"].tolist() == ["RuntimeError: parser fault"]


def test_unclosed_list_inside_main_keeps_in_main():
    # malformed: </main> arrives while the <ul> is still open — the list
    # must flush inside the main scope, not later with in_main=False
    # (where the main-scope filter would drop it) — ADVICE r2 fix
    html = (
        "<main><p>intro words here</p><ul><li>alpha</li><li>beta</li>"
        "</main><footer><p>chrome text</p></footer>"
    )
    blocks = extract_main_blocks(html)
    kinds = [(b["kind"], b["text"]) for b in blocks]
    assert ("list", "- alpha\n- beta") in kinds
    assert all("chrome" not in b["text"] for b in blocks)


def test_unclosed_table_inside_main_keeps_in_main():
    html = (
        "<article><table><tr><th>h</th></tr><tr><td>cell text</td>"
        "</article><div><p>outside junk</p></div>"
    )
    blocks = extract_main_blocks(html)
    tables = [b for b in blocks if b["kind"] == "table"]
    assert len(tables) == 1
    assert tables[0]["headers"] == ["h"] and tables[0]["rows"] == [["cell text"]]
    assert all("junk" not in b["text"] for b in blocks)


def _html_layout_corpus():
    """Deterministic HTML documents covering every block the layout places:
    h1-h6 (some long enough to wrap), paragraphs that wrap and overflow
    pages, ul/ol lists, tables with and without a header row, <pre>, and
    inline bold/italic runs."""
    import random

    rng = random.Random(20261019)
    words = (
        "alpha beta gamma delta epsilon zeta theta kappa lambda sigma "
        "omega lease tenant landlord premises rent term notice clause"
    ).split()

    def words_of(n):
        return " ".join(rng.choice(words) for _ in range(n))

    docs = []
    for d in range(16):
        parts = []
        for _ in range(rng.randrange(6, 40)):
            k = rng.randrange(8)
            if k == 0:
                lvl = rng.randrange(1, 7)
                text = words_of(rng.randrange(1, 25))
                parts.append(f"<h{lvl}>{text}</h{lvl}>")
            elif k in (1, 2):
                parts.append(f"<p>{words_of(rng.randrange(3, 160))}</p>")
            elif k == 3:
                tag = rng.choice(["ul", "ol"])
                items = "".join(
                    f"<li>{words_of(rng.randrange(1, 30))}</li>"
                    for _ in range(rng.randrange(1, 8))
                )
                parts.append(f"<{tag}>{items}</{tag}>")
            elif k == 4:
                ncol = rng.randrange(1, 5)
                head = ""
                if rng.random() < 0.5:
                    head = "".join(f"<th>{words_of(1)}</th>" for _ in range(ncol))
                    head = f"<tr>{head}</tr>"
                body = "".join(
                    "<tr>"
                    + "".join(f"<td>{words_of(rng.randrange(0, 4))}</td>" for _ in range(ncol))
                    + "</tr>"
                    for _ in range(rng.randrange(1, 12))
                )
                parts.append(f"<table>{head}{body}</table>")
            elif k == 5:
                n = rng.randrange(1, 8)
                body = "\n".join(words_of(rng.randrange(1, 20)) for _ in range(n))
                parts.append(f"<pre>\n{body}\n</pre>")
            else:
                runs = []
                for _ in range(rng.randrange(1, 6)):
                    w = words_of(rng.randrange(1, 6))
                    styles = [w, f"<b>{w}</b>", f"<em>{w}</em>", f"<strong><i>{w}</i></strong>"]
                    runs.append(rng.choice(styles))
                parts.append("<p>" + " ".join(runs) + "</p>")
        body = "".join(parts)
        docs.append(
            f"<html><body><article>{body}</article></body></html>"
            if d % 2
            else f"<div>{body}</div>"
        )
    return docs


def test_html_node_records_pinned():
    """Every field of the node records of an HTML corpus (text, tokens,
    bboxes, elements) is pinned by hash, so a layout refactor that moves
    any heading, list, table, pre or styled-paragraph box fails here."""
    import hashlib
    import json

    from open_parse_spark.core.parse import parse_turn_records

    records = [parse_turn_records(doc) for doc in _html_layout_corpus()]
    assert sum(len(r) for r in records) > 100
    blob = json.dumps(records, sort_keys=True).encode()
    assert hashlib.sha256(blob).hexdigest() == (
        "252438bcf63d11b4f3963791e6bd38743308d83d24e4e84b6e4a064ff5aa6e3a"
    )
