"""HTML pre-processing: strip Confluence layout markup before conversion.

Order-exact port of ``preProcessHTML``
(/root/reference/converter/markdown.go:175-318).  The cascade is
order-sensitive; every rule below cites its source lines.  All patterns are
compiled once at import (the reference recompiles per call — a perf bug we
do not inherit, markdown.go:194 et al.).

Go's RE2 semantics map 1:1 onto Python ``re`` for these patterns
(non-greedy ``[\\s\\S]*?`` spans, ``$1`` → ``\\1``, ``(?i)`` flags).
"""

from __future__ import annotations

import re

from .entities import decode_html_entities

# E2 — layout container opening tags (markdown.go:181-195); one alternation.
_LAYOUT_DIVS = re.compile(
    r'<div class="contentLayout2"[^>]*>'
    r'|<div class="columnLayout[^"]*"[^>]*>'
    r'|<div class="cell[^"]*"[^>]*>'
    r'|<div class="innerCell"[^>]*>'
    r'|<div class="sectionColumnWrapper"[^>]*>'
    r'|<div class="sectionMacro"[^>]*>'
    r'|<div class="sectionMacroRow"[^>]*>'
    r'|<div class="plugin_pagetree[^"]*"[^>]*>'
    r'|<div class="plugin_pagetree_children[^"]*"[^>]*>'
    r'|<div class="plugin-tabmeta-details"[^>]*>'
)

# E3 — whole plugin elements (markdown.go:198-205)
_PLUGIN_ELEMENTS = (
    re.compile(r'<fieldset class="hidden"[^>]*>[\s\S]*?</fieldset>'),
    re.compile(r'<input type="hidden"[^>]*>'),
    re.compile(r'<ul[^>]*class="[^"]*plugin_pagetree[^"]*"[^>]*>[\s\S]*?</ul>'),
)

# E4 — empty paragraphs (markdown.go:208-210)
_EMPTY_P1 = re.compile(r"<p>\s*</p>")
_EMPTY_P2 = re.compile(r"<p>\s*<br\s*/?>\s*</p>")
_EMPTY_P3 = re.compile(r"<p[^>]*>\s*\\?<br\s*/?>\\?\s*</p>")

# E5 — attribute stripping (markdown.go:213-222)
_STYLE_ATTR = re.compile(r'\s+style="[^"]*"')
_DATA_ATTR = re.compile(r'\s+data-[a-z-]+="[^"]*"')
_TABINDEX_ATTR = re.compile(r'\s+tabindex="[^"]*"')
_DRAGGABLE_ATTR = re.compile(r'\s+draggable="[^"]*"')

# E6 — image simplification (markdown.go:233-249)
_IMG_TAG = re.compile(r'<img[^>]*\ssrc="([^"]*)"[^>]*(?:\salt="([^"]*)"|)[^>]*>')
_IMG_SRC = re.compile(r'src="([^"]*)"')
_IMG_ALT = re.compile(r'alt="([^"]*)"')

# E7 — table normalization (markdown.go:252-269)
_COLGROUP = re.compile(r"<colgroup[^>]*>[\s\S]*?</colgroup>", re.IGNORECASE)
_COL = re.compile(r"<col[^>]*/?\s*>", re.IGNORECASE)
_TABLE_CLASS = re.compile(r'(<(?:table|thead|tbody|tr|th|td)[^>]*)\s+class="[^"]*"')
_CELL_SCOPE = re.compile(r'(<(?:th|td)[^>]*)\s+scope="[^"]*"')
_TABLE_WRAP = re.compile(r'<div class="table-wrap"[^>]*>')
_BARE_TABLE = re.compile(r"<table[^>]*>")
_BARE_THEAD = re.compile(r"<thead[^>]*>")
_BARE_TBODY = re.compile(r"<tbody[^>]*>")
_BARE_TR = re.compile(r"<tr[^>]*>")
_BARE_TH = re.compile(r"<th[^>]*>")
_BARE_TD = re.compile(r"<td[^>]*>")

# E8 — <br> inside cells (markdown.go:271-276)
_CELL_BR = re.compile(r"(<t[dh]>)([^<]*)<br\s*/?>([^<]*)(</t[dh]>)")
_TD_ONLY_BR = re.compile(r"<td>\s*<br\s*/?>\s*</td>")
_TH_ONLY_BR = re.compile(r"<th>\s*<br\s*/?>\s*</th>")

# E9 — <p> inside cells (markdown.go:278-294)
_CELL_SINGLE_P = re.compile(r"(<t[dh]>)\s*<p>([^<]*)</p>\s*(</t[dh]>)")
_CELL_SPAN = re.compile(r"(<t[dh]>)([\s\S]*?)(</t[dh]>)")
_CELL_OPEN = re.compile(r"<t[dh]>")
_CELL_CLOSE = re.compile(r"</t[dh]>")
_P_OPEN = re.compile(r"<p[^>]*>")
_P_CLOSE = re.compile(r"</p>")

# E10 — span removal (markdown.go:296-303)
_NOLINK_SPAN = re.compile(r'<span[^>]*class="[^"]*nolink[^"]*"[^>]*>([\s\S]*?)</span>')
_STATUS_SPAN = re.compile(
    r'<span[^>]*class="[^"]*(?:status-macro|aui-message|aui-lozenge)[^"]*"[^>]*>([\s\S]*?)</span>'
)
_EMPTY_ICON_SPAN = re.compile(r'<span[^>]*class="[^"]*icon[^"]*"[^>]*>\s*</span>')
_ANY_SPAN = re.compile(r"<span[^>]*>([\s\S]*?)</span>")

# E11 — content-wrapper divs (markdown.go:305-306)
_CONTENT_WRAPPER = re.compile(r'<div[^>]*class="[^"]*content-wrapper[^"]*"[^>]*>([\s\S]*?)</div>')


def _simplify_img(m: re.Match) -> str:
    whole = m.group(0)
    src_m = _IMG_SRC.search(whole)
    alt_m = _IMG_ALT.search(whole)
    src = src_m.group(1) if src_m else ""
    alt = alt_m.group(1) if alt_m else ""
    if src == "":
        return ""
    return f'<img src="{src}" alt="{alt}">'


def _unwrap_cell(m: re.Match) -> str:
    whole = m.group(0)
    inner = _CELL_OPEN.sub("", whole)
    inner = _CELL_CLOSE.sub("", inner)
    inner = _P_OPEN.sub("", inner)
    inner = _P_CLOSE.sub(" ", inner)
    inner = inner.strip()
    if whole.startswith("<th"):
        return "<th>" + inner + "</th>"
    return "<td>" + inner + "</td>"


def pre_process_html(html: str) -> str:
    # Literal guards: each `'lit' in html` below is a NECESSARY substring of
    # any match of the guarded (case-sensitive) pattern, so skipping on a
    # miss is semantics-preserving — it just spares the regex engine a full
    # scan per rule on documents without that markup (the common case; ~30
    # of 45 rules skip on the Confluence corpus). The two IGNORECASE rules
    # (colgroup/col) always run — a case-sensitive guard would be unsound.

    # E1 — repair double-encoded HTML first (markdown.go:178)
    html = decode_html_entities(html)

    # E2 (markdown.go:181-195)
    if '<div class="' in html:
        html = _LAYOUT_DIVS.sub("", html)

    # E3 (markdown.go:198-205)
    if "<fieldset" in html:
        html = _PLUGIN_ELEMENTS[0].sub("", html)
    if '<input type="hidden"' in html:
        html = _PLUGIN_ELEMENTS[1].sub("", html)
    if "plugin_pagetree" in html:
        html = _PLUGIN_ELEMENTS[2].sub("", html)

    # E4 (markdown.go:208-210)
    if "<p" in html:
        html = _EMPTY_P1.sub("", html)
        html = _EMPTY_P2.sub("", html)
        html = _EMPTY_P3.sub("", html)

    # E5 (markdown.go:213-222)
    if 'style="' in html:
        html = _STYLE_ATTR.sub("", html)
    if "data-" in html:
        html = _DATA_ATTR.sub("", html)
    if 'tabindex="' in html:
        html = _TABINDEX_ATTR.sub("", html)
    if 'draggable="' in html:
        html = _DRAGGABLE_ATTR.sub("", html)

    # E6 (markdown.go:233-249)
    if "<img" in html:
        html = _IMG_TAG.sub(_simplify_img, html)

    # E7 (markdown.go:252-269)
    html = _COLGROUP.sub("", html)
    html = _COL.sub("", html)
    if 'class="' in html:
        html = _TABLE_CLASS.sub(r"\1", html)
    if 'scope="' in html:
        html = _CELL_SCOPE.sub(r"\1", html)
    if '<div class="table-wrap"' in html:
        html = _TABLE_WRAP.sub("", html)
    if "<table" in html:
        html = _BARE_TABLE.sub("<table>", html)
    if "<thead" in html:
        html = _BARE_THEAD.sub("<thead>", html)
    if "<tbody" in html:
        html = _BARE_TBODY.sub("<tbody>", html)
    if "<tr" in html:
        html = _BARE_TR.sub("<tr>", html)
    if "<th" in html:
        html = _BARE_TH.sub("<th>", html)
    if "<td" in html:
        html = _BARE_TD.sub("<td>", html)

    # E8 (markdown.go:271-276)
    if "<br" in html:
        html = _CELL_BR.sub(r"\1\2 \3\4", html)
        html = _TD_ONLY_BR.sub("<td></td>", html)
        html = _TH_ONLY_BR.sub("<th></th>", html)

    # E9 (markdown.go:278-294)
    if "<td>" in html or "<th>" in html:
        html = _CELL_SINGLE_P.sub(r"\1\2\3", html)
        html = _CELL_SPAN.sub(_unwrap_cell, html)

    # E10 (markdown.go:296-303) — each pattern applied exactly once
    if "<span" in html:
        if "nolink" in html:
            html = _NOLINK_SPAN.sub(r"\1", html)
        if "status-macro" in html or "aui-" in html:
            html = _STATUS_SPAN.sub(r"\1", html)
        if "icon" in html:
            html = _EMPTY_ICON_SPAN.sub("", html)
        html = _ANY_SPAN.sub(r"\1", html)

    # E11 (markdown.go:305-306)
    html = _CONTENT_WRAPPER.sub(r"\1", html)

    # E12 — </div> balancing (markdown.go:308-315)
    return _drop_excess_div_closers(html)


def _drop_excess_div_closers(html: str) -> str:
    """Drop the leading closers while closes outnumber opens. The reference
    removes them one at a time, each a copy of the whole document; one
    split drops all of them in a single pass. The two differ only when a
    removal joins a new closer out of its neighbours ("</</div>div>"),
    which the count check catches; that input replays the reference."""
    close_count = html.count("</div>")
    excess = close_count - html.count("<div")
    if excess <= 0:
        return html
    out = "".join(html.split("</div>", excess))
    if out.count("</div>") == close_count - excess:
        return out
    for _ in range(excess):
        html = html.replace("</div>", "", 1)
    return html
