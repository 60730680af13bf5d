"""The JVM triple extractors (operators/triples.py) against the pure-Python
reference extractors in core.triples, on generated markdown: links (with
their normalized targets), headings, image refs and attachment-URL refs
must agree exactly, in document order (no shuffle reorders a
document's rows on the JVM side).

The generated text is markdown as the converter emits it, with `\\n` line
ends: Java's `.` and `$` also treat `\\r` and U+0085/U+2028/U+2029 as
line ends, Python's do not (see core.triples)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from confluence2md_spark.core.triples import (
    ATTACHMENT_URL_PATTERN,
    MD_IMAGE_PATTERN,
    extract_attachment_refs,
    extract_headings,
    extract_image_refs,
    extract_links,
    normalize_link_target,
)
from confluence2md_spark.operators.triples import (
    extract_heading_triples,
    extract_link_triples,
)

_fragments = st.sampled_from(
    [
        "[", "]", "(", ")", "!", "#", " ", "  ", "\t", "a", "Title", "é", "日本", "x1", "9",
        "[t](u)", "[](x)", "![i](s.png)", "![](/download/attachments/7/a.png)",
        "/download/attachments/123/f.png", "/download/attachments/x/f",
        "/wiki/spaces/DOC/pages/42/Home", "/wiki/spaces/DOC/pages/42/Home#s",
        "https://e.com/p?q=1#frag", "#anchor", '"', "?", "/",
        "![", "](", "[x[", "\u00a0", "\u0663", "\x0b",
    ]
)
_ascii = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E), max_size=6
)
_line = st.tuples(
    st.sampled_from(["", "", "# ", "## ", "###### ", "####### ", "#"]),
    st.lists(_fragments | _ascii, max_size=10).map("".join),
).map("".join)
_markdown = st.lists(_line, max_size=6).map("\n".join)


def _python_side(md: str) -> dict:
    links = []
    for _text, url in extract_links(md):
        obj = normalize_link_target(url)
        kind = obj.split(":", 1)[0]
        pred = "has_attachment" if kind == "file" else "links_to"
        links.append((pred, obj, kind if kind in ("file", "page", "section") else "url"))
    return {
        "links": links,
        "headings": [
            (f"section:{text}", level, i)
            for i, (level, text) in enumerate(extract_headings(md))
        ],
        "images": extract_image_refs(md),
        "attachments": extract_attachment_refs(md),
    }


def _jvm_side(spark, docs: list[str]) -> list[dict]:
    pages = spark.createDataFrame(
        [(i, "r", md) for i, md in enumerate(docs)], "doc_id long, repo string, markdown string"
    )
    out = [
        {"links": [], "headings": [], "images": [], "attachments": []} for _ in docs
    ]
    for r in extract_link_triples(pages).collect():
        out[r["doc_id"]]["links"].append((r["pred"], r["obj"], r["obj_type"]))
    for r in extract_heading_triples(pages).collect():
        out[r["doc_id"]]["headings"].append((r["obj"], r["level"], r["section_order"]))
    refs = pages.select(
        "doc_id",
        *[
            F.regexp_extract_all("markdown", F.lit(pattern), g).alias(f"{name}{g}")
            for name, pattern in (("img", MD_IMAGE_PATTERN), ("att", ATTACHMENT_URL_PATTERN))
            for g in (1, 2)
        ],
    )
    for r in refs.collect():
        out[r["doc_id"]]["images"] = list(zip(r["img1"], r["img2"]))
        out[r["doc_id"]]["attachments"] = list(zip(r["att1"], r["att2"]))
    return out


@settings(
    max_examples=60,
    derandomize=True,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(_markdown, min_size=1, max_size=25))
def test_jvm_extractors_match_the_reference(spark, docs):
    assert _jvm_side(spark, docs) == [_python_side(md) for md in docs]


def test_generated_markdown_reaches_every_extractor(spark):
    """Not vacuous: one fixed document yields every kind of output on
    both sides."""
    md = (
        "# Intro\n[home](/wiki/spaces/DOC/pages/42/Home) [s](#a) "
        "[f](/download/attachments/9/f.png) [w](https://e.com/x#y)\n"
        "## Part two \n![pic](/download/attachments/9/p.png)\n"
    )
    ref = _python_side(md)
    assert all(ref[k] for k in ref) and len(ref["links"]) == 4
    assert _jvm_side(spark, [md]) == [ref]
