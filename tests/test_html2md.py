"""HTML→GFM converter tests, pinned to the reference's pandoc-oracle
assertions (/root/reference/converter/markdown_test.go:16-68, 694-805;
internal/pandoc/pandoc_test.go expectations cited in SURVEY.md §2.F)."""

from confluence2md_spark.core import convert_html_to_markdown, html_to_markdown
from confluence2md_spark.core.html2md import extract_title


def test_basic_heading():
    assert "# Test Heading" in convert_html_to_markdown("<html><body><h1>Test Heading</h1></body></html>")


def test_paragraph():
    assert "This is a paragraph." in convert_html_to_markdown("<html><body><p>This is a paragraph.</p></body></html>")


def test_link():
    assert "[Example](https://example.com)" in convert_html_to_markdown(
        '<html><body><a href="https://example.com">Example</a></body></html>'
    )


def test_code_block():
    assert "func main() {}" in convert_html_to_markdown(
        "<html><body><pre><code>func main() {}</code></pre></body></html>"
    )


def test_unordered_list():
    md = convert_html_to_markdown("<html><body><ul><li>Item 1</li><li>Item 2</li></ul></body></html>")
    assert "- Item 1" in md
    assert "- Item 2" in md


def test_complex_document():
    # markdown_test.go:694-731
    html = """<html>
<body>
<h1>Document Title</h1>
<p>Introduction paragraph.</p>
<h2>Section 1</h2>
<ul>
<li>Item 1</li>
<li>Item 2</li>
<li>Item 3</li>
</ul>
<h2>Section 2</h2>
<table>
<tr><th>Header A</th><th>Header B</th></tr>
<tr><td>Cell 1</td><td>Cell 2</td></tr>
</table>
<p>Final paragraph with <strong>bold</strong> and <em>italic</em> text.</p>
</body>
</html>"""
    md = convert_html_to_markdown(html)
    for want in ["# Document Title", "## Section 1", "- Item 1", "## Section 2", "**bold**", "*italic*"]:
        assert want in md, f"missing {want!r} in:\n{md}"
    # table rendered as GFM pipe table
    assert "| Header A | Header B |" in md
    assert "| Cell 1 | Cell 2 |" in md


def test_expanders_end_to_end():
    # markdown_test.go:733-758
    html = """<html><body>
<div id="expander-1">
<div id="expander-control-1">
<span class="expand-control-icon">+</span>
<span class="expand-control-text">Show More</span>
</div>
<div id="expander-content-1">
<p>Hidden content that can be expanded.</p>
</div>
</div>
</body></html>"""
    md = convert_html_to_markdown(html)
    assert "<details>" in md
    assert "<summary>" in md
    assert "Show More" in md
    assert "Hidden content that can be expanded." in md
    # fuzz invariant: balanced details
    assert md.count("</details>") <= md.count("<details>")


def test_info_macro_end_to_end():
    # markdown_test.go:760-781
    html = """<html><body>
<div class="confluence-information-macro confluence-information-macro-tip">
<div class="confluence-information-macro-body">
<p>This is a tip for users.</p>
</div>
</div>
</body></html>"""
    md = convert_html_to_markdown(html)
    assert "> **Tip:**" in md
    assert "This is a tip for users." in md


def test_code_block_with_language():
    # markdown_test.go:783-805
    html = """<html><body>
<pre><code class="language-go">package main

func main() {
    fmt.Println("Hello, World!")
}
</code></pre>
</body></html>"""
    md = convert_html_to_markdown(html)
    assert "func main()" in md
    assert "```go" in md


def test_emoticon_img_becomes_emoji():
    html = '<html><body><p>Done <img class="emoticon" src="tick.png" alt="(tick)" data-emoticon-name="tick"></p></body></html>'
    md = convert_html_to_markdown(html)
    assert "✅" in md


def test_regular_img_becomes_markdown_image():
    html = '<html><body><p><img src="shot.png" alt="Screenshot" class="confluence-embedded-image"></p></body></html>'
    md = convert_html_to_markdown(html)
    assert "![Screenshot](shot.png)" in md


def test_ordered_list():
    md = html_to_markdown("<ol><li>First</li><li>Second</li></ol>")
    assert "1. First" in md
    assert "2. Second" in md


def test_nested_list():
    md = html_to_markdown("<ul><li>Top<ul><li>Nested</li></ul></li></ul>")
    assert "- Top" in md
    assert "  - Nested" in md


def test_blockquote():
    md = html_to_markdown("<blockquote><p>Quoted text</p></blockquote>")
    assert "> Quoted text" in md


def test_user_link_display_name_survives():
    # markdown_test.go:949-963 — only the display name survives conversion
    html = """<p>Written by <span class="confluence-userlink" data-username="john.doe"><span class="user-name">John Doe</span></span></p>"""
    md = convert_html_to_markdown(html)
    assert "John Doe" in md
    assert "data-username" not in md


def test_extract_title():
    assert extract_title("<html><head><title>Page X</title></head><body><h1>H</h1></body></html>") == "Page X"
    assert extract_title("<body><h1>Only Heading</h1></body>") == "Only Heading"
    assert extract_title("<p>nothing</p>") == ""


def test_double_encoded_roundtrip():
    md = convert_html_to_markdown("&lt;h1&gt;Decoded Title&lt;/h1&gt;")
    assert "# Decoded Title" in md


# ---- round-2 general-HTML coverage (VERDICT r1 "missing" item 2) ----------

def test_definition_list_pandoc_fallback_shape():
    md = html_to_markdown(
        "<dl><dt>Term A</dt><dd>Definition one.</dd>"
        "<dt>Term B</dt><dd><p>Def para.</p><p>Second para.</p></dd></dl>"
    )
    assert "**Term A**" in md
    assert "    Definition one." in md
    assert "**Term B**" in md
    assert "    Def para." in md and "    Second para." in md
    assert "<dl>" not in md  # GFM output, not raw passthrough


def test_nested_table_renders_outer_pipe_inner_raw_inline():
    """One level of table nesting (VERDICT r2 item 7): the OUTER table stays
    a GFM pipe table; the inner table becomes single-line raw HTML inside
    its cell (GFM cannot express a table in a pipe cell)."""
    html = (
        "<table><tr><th>H</th></tr>"
        "<tr><td><table><tr><td>inner</td></tr></table></td></tr></table>"
    )
    md = html_to_markdown(html)
    assert "| H |" in md
    line = [l for l in md.splitlines() if "inner" in l][0]
    assert line.startswith("| <table>") and line.rstrip().endswith("|")
    assert "<td>inner</td>" in line  # inner table intact as raw HTML


def test_doubly_nested_table_inner_serialized_whole():
    # depth > 1: the inner raw serialization carries ALL deeper levels —
    # the outer table is still the only pipe table
    html = (
        "<table><tr><td>"
        "<table><tr><td><table><tr><td>deep</td></tr></table></td></tr></table>"
        "</td></tr></table>"
    )
    md = html_to_markdown(html)
    pipe_rows = [l for l in md.splitlines() if l.startswith("|")]
    assert pipe_rows and any("deep" in l for l in pipe_rows)
    assert md.count("<table>") == 2  # both nested levels, serialized raw


def test_nested_table_beside_list_still_raw_fallback():
    # a cell with a nested table AND another hard block (list) is not
    # pipe-expressible — whole outer table falls back to raw HTML
    md = html_to_markdown(
        "<table><tr><td><table><tr><td>x</td></tr></table>"
        "<ul><li>a</li></ul></td></tr></table>"
    )
    assert md.strip().startswith("<table>") and "<ul>" in md


def test_list_in_cell_falls_back_to_raw_html():
    md = html_to_markdown(
        "<table><tr><td><ul><li>a</li><li>b</li></ul></td></tr></table>"
    )
    assert md.strip().startswith("<table>") and "<ul>" in md


def test_simple_table_still_gfm():
    md = html_to_markdown(
        "<table><tr><th>A</th><th>B</th></tr><tr><td>1</td><td>2</td></tr></table>"
    )
    assert "| A | B |" in md and "| 1 | 2 |" in md


def test_sub_sup_ins_kept_as_raw_inline():
    md = html_to_markdown("<p>H<sub>2</sub>O and x<sup>2</sup> and <ins>new</ins></p>")
    assert "<sub>2</sub>" in md and "<sup>2</sup>" in md and "<ins>new</ins>" in md


def test_lone_paragraph_cell_unwraps_to_inline():
    # pandoc unwraps a single <p> to the cell's inline content
    md = html_to_markdown(
        "<table><tr><th>A</th></tr><tr><td><p>only para</p></td></tr></table>"
    )
    assert "| only para |" in md and "<table>" not in md


def test_multi_paragraph_cell_falls_back_to_raw_html():
    md = html_to_markdown(
        "<table><tr><th>A</th></tr>"
        "<tr><td><p>first</p><p>second</p></td></tr></table>"
    )
    assert md.strip().startswith("<table>")
    assert "<p>first</p>" in md and "<p>second</p>" in md


def test_paragraph_mixed_with_text_cell_falls_back_to_raw_html():
    md = html_to_markdown(
        "<table><tr><td>loose text<p>para</p></td></tr></table>"
    )
    assert md.strip().startswith("<table>")


def test_heading_in_cell_falls_back_to_raw_html():
    md = html_to_markdown(
        "<table><tr><td><h2>Head</h2></td></tr></table>"
    )
    assert md.strip().startswith("<table>") and "<h2>" in md


def test_raw_fallback_reescapes_decoded_text():
    # '&lt;script&gt;' decoded by the parser must be re-escaped on the way
    # back out, not emitted as an active tag
    md = html_to_markdown(
        "<table><tr><td><p>a</p><p>&lt;script&gt;x&amp;y</p></td></tr></table>"
    )
    assert "&lt;script&gt;" in md and "<script>" not in md
    assert "x&amp;y" in md


def test_ol_start_attribute_honored():
    md = html_to_markdown("<ol start='5'><li>five</li><li>six</li></ol>")
    assert "5. five" in md and "6. six" in md


def test_nested_list_under_ol_indents_by_marker_width():
    # '1. ' is 3 columns wide — CommonMark needs >=3 spaces of indent for
    # the nested list to stay INSIDE the item (2 would de-nest it)
    md = html_to_markdown(
        "<ol><li>outer<ul><li>inner</li></ul></li><li>next</li></ol>"
    )
    assert "1. outer\n   - inner\n2. next" in md


def test_multi_paragraph_list_item_keeps_paragraphs():
    md = html_to_markdown("<ul><li><p>first</p><p>second</p></li></ul>")
    assert "- first\n\n  second" in md


def test_code_block_inside_list_item():
    md = html_to_markdown(
        "<ul><li>item<pre><code>x = 1\ny = 2</code></pre></li></ul>"
    )
    assert "- item\n\n  ```\n  x = 1\n  y = 2\n  ```" in md


def test_deep_nesting_three_levels():
    md = html_to_markdown(
        "<ol><li>a<ol><li>b<ul><li>c</li></ul></li></ol></li></ol>"
    )
    assert "1. a\n   1. b\n      - c" in md


def test_gfm_task_list_checkboxes():
    md = html_to_markdown(
        '<ul><li><input type="checkbox" checked/>done</li>'
        '<li><input type="checkbox">todo</li></ul>'
    )
    assert "- [x] done" in md and "- [ ] todo" in md
    # non-checkbox inputs have no GFM form
    assert "input" not in html_to_markdown('<p>a<input type="text">b</p>')


# ------------------------------------------------------ fast-path parser ----

def _slow_parse(s):
    from confluence2md_spark.core.html2md import _TreeBuilder

    p = _TreeBuilder()
    p.feed(s)
    p.close()
    return p.root


def _tree_eq(a, b, path="root"):
    assert a.tag == b.tag, (path, a.tag, b.tag)
    assert a.attrs == b.attrs, (path, a.attrs, b.attrs)
    assert a.raw == b.raw, (path, repr(a.raw), repr(b.raw))
    assert len(a.children) == len(b.children), (path, a.tag, len(a.children), len(b.children))
    for i, (x, y) in enumerate(zip(a.children, b.children)):
        _tree_eq(x, y, f"{path}/{a.tag}[{i}]")


def test_fast_parse_differential_on_corpus():
    """The regex tokenizer must build the IDENTICAL node tree html.parser
    builds, on every corpus document (it claims the whole post-preprocess
    Confluence HTML class)."""
    import duckdb

    from confluence2md_spark.core.entities import decode_html_entities
    from confluence2md_spark.core.html2md import _fast_parse
    from confluence2md_spark.core.mimeparse import extract_html_from_mime
    from confluence2md_spark.core.prehtml import pre_process_html
    from confluence2md_spark.sources.corpus import duckdb_raw_files_cte

    con = duckdb.connect()
    con.execute(
        "create view documents as select * from "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    rows = con.execute(
        f"WITH raw_files AS ({duckdb_raw_files_cte()}) "
        "SELECT content FROM raw_files WHERE lang = 'confluence'"
    ).fetchall()
    assert rows
    claimed = 0
    for (c,) in rows:
        st, html = extract_html_from_mime(c)
        if st != "ok":
            continue
        pre = pre_process_html(decode_html_entities(html))
        fast = _fast_parse(pre)
        assert fast is not None, "fast parser must claim every corpus doc"
        _tree_eq(fast, _slow_parse(pre))
        claimed += 1
    assert claimed > 0


def test_fast_parse_differential_on_adversarial_shapes():
    """Tricky HTML: the fast parser either declines (html.parser rules) or
    builds the identical tree."""
    from confluence2md_spark.core.html2md import _fast_parse

    shapes = [
        "<p>plain</p>",
        "<p>unclosed",
        "<P CLASS=\"X\">case <B>folding</B></P>",           # tag/attr lowercase
        "<ul><li>a<li>b</ul>",                               # unclosed li
        "<td></td><table><tr><td>x</td></tr></table>",     # stray cells
        "<img src='s' alt=plain disabled>",                  # quote styles + bare attr
        "<x/><br/><br />text",                               # self-closing + void
        "</p>stray closer",
        "<div>text with > inside</div>",
        "<title>t</title><p>x</p>",                          # RCDATA special case
        "<em>a</em> <em>b</em>",
    ]
    # character references: the fast parser claims them and unescapes as
    # convert_charrefs=True html.parser does
    charrefs = [
        "a & b",                                             # bare ampersand
        "<p>caf&eacute; &amp; cr&egrave;me</p>",             # named
        "<p>&#233; &#xE9; &#X41; &#0; &#128;</p>",           # numeric, incl. replaced code points
        "<p>&nosuchref; &#xZZ; &#; &amp x &copy2</p>",       # invalid / unterminated
        "<p>tail</p>trailing &amp",                          # trailing ref, no ';'
        "<p>x</p>trailing &",                                # trailing bare '&'
        "<p>&amp;lt;b&amp;gt; stays text</p>",               # double-escaped
        "<p>&lt;b&gt;not a tag&lt;/b&gt;</p>",               # refs that spell markup
        "<a href=\"/p?a=1&amp;b=2\" title='x &lt; y'>l</a>",  # refs in quoted attrs
        "<img src=/i?a&amp;b alt=caf&eacute;>",              # refs in unquoted attrs
        "<title>a &amp; b</title><p>x</p>",                  # refs in title text
    ]
    decline = [
        "<!-- comment --><p>x</p>",
        "<!DOCTYPE html><p>x</p>",
        "<script>var x = 1 < 2;</script>",
        "<p attr='unterminated>x</p>",
        "<title>has <b>markup</b></title>",
        "line\r\nwith CR",
    ]
    for s in shapes:
        fast = _fast_parse(s)
        if fast is not None:
            _tree_eq(fast, _slow_parse(s))
    for s in charrefs:
        fast = _fast_parse(s)
        assert fast is not None, f"must claim: {s!r}"
        _tree_eq(fast, _slow_parse(s))
    for s in decline:
        assert _fast_parse(s) is None, f"must decline: {s!r}"
