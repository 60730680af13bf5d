"""Ports of preProcessHTML tests
(/root/reference/converter/markdown_test.go:264-579, 865-975)."""

from hypothesis import HealthCheck, given, settings, strategies as st

from confluence2md_spark.core import pre_process_html
from confluence2md_spark.core.prehtml import _drop_excess_div_closers


def test_layout_divs():
    inp = """<div class="contentLayout2">
<div class="columnLayout two-left-sidebar" data-layout="two-left-sidebar">
<div class="cell aside" data-type="aside">
<div class="innerCell">
<h2>Problem</h2>
<p>Some content here.</p>
</div>
</div>
</div>
</div>"""
    result = pre_process_html(inp)
    assert "contentLayout2" not in result
    assert "columnLayout" not in result
    assert "innerCell" not in result
    assert "<h2>Problem</h2>" in result
    assert "Some content here" in result


def test_empty_paragraphs():
    result = pre_process_html("<p></p><p>Real content</p><p><br></p><p>   </p>")
    assert "<p></p>" not in result
    assert "Real content" in result


def test_style_attributes():
    result = pre_process_html('<p style="margin-left: 40.0px;">Indented text</p>')
    assert "style=" not in result
    assert "Indented text" in result


def test_data_attributes():
    result = pre_process_html('<div data-layout="single" data-type="normal">Content</div>')
    assert "data-layout" not in result
    assert "data-type" not in result


def test_image_simplification():
    inp = '<img class="confluence-embedded-image" draggable="false" width="468" src="abc123.png" data-image-src="/download/attachments/123/test.png" alt="Screenshot">'
    result = pre_process_html(inp)
    assert "confluence-embedded-image" not in result
    assert "draggable" not in result
    assert 'src="abc123.png"' in result
    assert 'alt="Screenshot"' in result


def test_image_without_src_dropped():
    # markdown.go:245-247 — src required else drop tag entirely
    assert "<img" not in pre_process_html('<img src="" alt="x">')


def test_tables():
    inp = """<table class="confluenceTable" data-layout="default">
<colgroup><col style="width: 50%"><col style="width: 50%"></colgroup>
<thead><tr><th class="confluenceTh" scope="col">Header 1</th><th class="confluenceTh">Header 2</th></tr></thead>
<tbody><tr><td class="confluenceTd">Cell 1</td><td class="confluenceTd">Cell 2</td></tr></tbody>
</table>"""
    result = pre_process_html(inp)
    assert "colgroup" not in result
    assert "confluenceTable" not in result
    assert "confluenceTh" not in result
    assert "Header 1" in result
    assert "Cell 1" in result


def test_table_cell_breaks():
    result = pre_process_html("<td>Line 1<br/>Line 2</td><th><br></th>")
    assert "<br" not in result


def test_table_cell_paragraphs():
    result = pre_process_html("<td><p>Paragraph content</p></td>")
    assert "<p>" not in result
    assert "Paragraph content" in result


def test_span_cleanup():
    assert pre_process_html('<span class="nolink">text</span>').strip() == "text"
    assert pre_process_html('<span class="status-macro aui-lozenge">STATUS</span>').strip() == "STATUS"
    assert pre_process_html('<span class="icon aui-icon">  </span>').strip() == ""


def test_plugin_elements():
    inp = '<div class="plugin_pagetree">Tree content</div>\n<div class="plugin_pagetree_children">Child content</div>'
    result = pre_process_html(inp)
    assert 'class="plugin_pagetree"' not in result


def test_double_encoded_html():
    result = pre_process_html("&lt;p&gt;This was double encoded&lt;/p&gt;")
    assert "<p>" in result


def test_complex_table():
    inp = """<table class="confluenceTable wrapped" data-table-width="100%">
<colgroup>
<col style="width: 33.333%;">
</colgroup>
<thead>
<tr role="row">
<th class="confluenceTh" scope="col" data-highlight-colour="#F0F0F0">
<p>Column A</p>
</th>
</tr>
</thead>
<tbody>
<tr role="row">
<td class="confluenceTd">
<p>Data 1<br/>Line 2</p>
</td>
</tr>
</tbody>
</table>"""
    result = pre_process_html(inp)
    assert "colgroup" not in result
    assert "confluenceTable" not in result
    assert "data-table-width" not in result
    assert "Column A" in result
    assert "Data 1" in result


def test_user_icons_preserved_name():
    # markdown_test.go:949-963
    inp = """<span class="confluence-userlink" data-username="john.doe">
<span class="user-icon">
<span class="aui-avatar aui-avatar-small"><span class="aui-avatar-inner"><img src="avatar.png" alt=""></span></span>
</span>
<span class="user-name">John Doe</span>
</span>"""
    assert "John Doe" in pre_process_html(inp)


def test_emoticons_preserved():
    inp = '<img class="emoticon emoticon-tick" src="tick.png" alt="(tick)" data-emoticon-name="tick">'
    result = pre_process_html(inp)
    assert "(tick)" in result or "✅" in result


def test_div_balance():
    # closers must never outnumber openers after pre-processing
    result = pre_process_html("</div></div></div></div>")
    assert result.count("</div>") <= result.count("<div")


def _reference_div_balance(html):
    # markdown.go:308-315: drop the first closer, once per excess closer
    open_count = html.count("<div")
    close_count = html.count("</div>")
    while close_count > open_count:
        html = html.replace("</div>", "", 1)
        close_count -= 1
    return html


# open/close mixes, plus the halves that can join into a new closer
_div_mix = st.lists(
    st.sampled_from(
        ["<div>", "</div>", '<div class="x">', "</", "div>", "<", "v>", "x", "\n"]
    ),
    max_size=40,
).map("".join)


@settings(max_examples=500, derandomize=True, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(_div_mix)
def test_div_balance_matches_reference_loop(html):
    assert _drop_excess_div_closers(html) == _reference_div_balance(html)


def test_div_balance_many_excess_closers():
    html = "<div>a" + "</div>b" * 2001
    out = _drop_excess_div_closers(html)
    assert out == _reference_div_balance(html)
    assert out == "<div>a" + "b" * 2000 + "</div>b"


def test_fuzz_invariants():
    # fuzz_test.go:104-117 — no crash, UTF-8 stable, bounded growth
    import string

    seeds = [
        "", " ", "\n", "\t",
        "<html><body>Hello</body></html>",
        '<div class="',
        '<div class="test>',
        '<img src="',
        "<table><tr><td>Unclosed",
        ">>>>>>>>>",
        "<<<<<<<<<<",
        "<div><div><div><div>",
        "</div></div></div></div>",
        "<p>日本語コンテンツ</p>",
        "<p>Émoji: 🎉 ✅ ❌</p>",
        "<div>" * 100 + "Content" + "</div>" * 100,
        '<span class="test">' * 50 + "X" + "</span>" * 50,
        string.printable,
    ]
    for s in seeds:
        out = pre_process_html(s)
        assert isinstance(out, str)
        assert len(out) <= len(s) * 10 + 1000
