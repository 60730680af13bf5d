"""Triple-extraction patterns and pure-Python reference extractors (H1-H4).

The Spark operators run these SAME patterns JVM-side via
``regexp_extract_all`` (whole-stage codegen; no Python in the hot path) —
the pure-Python versions here exist for golden generation and unit tests,
guaranteeing the two paths agree.

Predicates (BASELINE.json north_star):
  links_to          [text](url) markdown links (from F1/G8, markdown.go:420-426)
  contains_heading  ATX headings ``#{1,6} `` (markdown_test.go:27-31,725)
  has_attachment    non-HTML MIME parts + attachment URL refs
                    (/download/attachments/... — markdown_test.go:338)
  authored_by       confluence-userlink mentions (markdown_test.go:949-963)
"""

from __future__ import annotations

import re

# Java and Python regex dialects agree on these patterns, with the Python
# side compiled ASCII-only (`\s`/`\d` match what Java's match). They part
# on `\r` and U+0085/U+2028/U+2029, which Java's `.` and `$` treat as line
# ends; the converter's markdown ends its lines with `\n`.
# Links exclude images by the lookbehind: a `[` right after `!` starts no
# link, and the scan goes on from the next character.
MD_LINK_PATTERN = r"(?<!\!)\[([^\]]*)\]\(([^)]+)\)"
HEADING_PATTERN = r"(?m)^(#{1,6}) (.+)$"
MD_IMAGE_PATTERN = r"!\[([^\]]*)\]\(([^)]+)\)"
ATTACHMENT_URL_PATTERN = r"/download/attachments/(\d+)/([^)\"?\s]+)"
# Confluence page URL: /wiki/spaces/{space}/pages/{id}/{title}
PAGE_URL_PATTERN = r"/wiki/spaces/([^/\s]+)/pages/(\d+)/([^)\s?#]+)"

_MD_LINK_RE = re.compile(MD_LINK_PATTERN, re.ASCII)
_HEADING_RE = re.compile(HEADING_PATTERN, re.ASCII)
_MD_IMAGE_RE = re.compile(MD_IMAGE_PATTERN, re.ASCII)
_ATTACH_RE = re.compile(ATTACHMENT_URL_PATTERN, re.ASCII)
_PAGE_URL_RE = re.compile(PAGE_URL_PATTERN, re.ASCII)


def extract_links(markdown: str) -> list[tuple[str, str]]:
    """(text, url) for every markdown link — images excluded."""
    return [(m.group(1), m.group(2)) for m in _MD_LINK_RE.finditer(markdown)]


def extract_headings(markdown: str) -> list[tuple[int, str]]:
    """(level, text) per ATX heading, in document order; the text is
    trimmed of spaces only, as Spark's `trim` does."""
    return [(len(m.group(1)), m.group(2).strip(" ")) for m in _HEADING_RE.finditer(markdown)]


def extract_image_refs(markdown: str) -> list[tuple[str, str]]:
    """(alt, src) for markdown images."""
    return [(m.group(1), m.group(2)) for m in _MD_IMAGE_RE.finditer(markdown)]


def extract_attachment_refs(markdown: str) -> list[tuple[str, str]]:
    """(page_id, filename) from /download/attachments/... URLs."""
    return [(m.group(1), m.group(2)) for m in _ATTACH_RE.finditer(markdown)]


def parse_page_url(url: str) -> tuple[str, str, str] | None:
    """(space, page_id, title_slug) when url is a Confluence page link."""
    m = _PAGE_URL_RE.search(url)
    if not m:
        return None
    return m.group(1), m.group(2), m.group(3)


def normalize_link_target(url: str) -> str:
    """Canonical node id for a link target.

    Confluence page URLs → ``page:{id}``; anchors → ``section:{anchor}``;
    attachment URLs → ``file:{name}``; everything else → the URL without
    fragment, lowercased scheme/host left as-is (deterministic, cheap).
    """
    page = parse_page_url(url)
    if page:
        return f"page:{page[1]}"
    att = _ATTACH_RE.search(url)
    if att:
        return f"file:{att.group(2)}"
    if url.startswith("#"):
        return f"section:{url[1:]}"
    return "url:" + url.split("#", 1)[0]
