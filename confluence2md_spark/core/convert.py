"""Whole-document conversion: MIME text → Markdown + extraction signals.

Composes the stage functions exactly as the reference's ``convertFile``
(/root/reference/main.go:199-256):

    is_confluence_mime → extract html (mime split + QP decode)
      → pre_process_html → html_to_markdown → post_process_markdown

plus the KG-pipeline signals the reference discards:

* ``authors`` — Confluence user-link spans carry ``data-username`` which the
  reference's pre-processing destroys (data-* strip, markdown.go:216; span
  unwrap, markdown.go:296-303 — only the display name survives, pinned by
  markdown_test.go:949-963).  We capture (username, display_name) from the
  RAW html before pre-processing, feeding ``authored_by`` triples.
* ``attachments`` — non-HTML MIME parts (reference skips them, mime.go:69);
  bodies are reduced to sha256 immediately so payload bytes never cross a
  shuffle.

Everything here is a pure function of ``content`` — no I/O, no clock, no
randomness — so Spark stages built on it are deterministic and retry-safe.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

from .convert_names import output_name  # noqa: F401  (re-export)
from .detect import is_confluence_mime
from .html2md import extract_title, html_to_markdown
from .mimeparse import split_mime
from .postmd import post_process_markdown
from .prehtml import pre_process_html

# user-link capture (fixture shape per markdown_test.go:949-963): the
# data-username attr and the visible <span class="user-name"> display name.
_USERLINK_RE = re.compile(
    r'<(?:span|a)[^>]*class="[^"]*confluence-userlink[^"]*"[^>]*data-username="([^"]*)"[^>]*>'
    r'([\s\S]*?)</(?:span|a)>'
)
_USERNAME_ONLY_RE = re.compile(
    r'<(?:span|a)[^>]*data-username="([^"]*)"[^>]*class="[^"]*confluence-userlink[^"]*"[^>]*>'
)
_USER_NAME_SPAN_RE = re.compile(r'<span class="user-name">([\s\S]*?)</span>')
_TAG_RE = re.compile(r"<[^>]+>")


def extract_user_mentions(html: str) -> list[tuple[str, str]]:
    """(username, display_name) pairs from raw Confluence user links."""
    out: list[tuple[str, str]] = []
    seen: set[str] = set()
    for m in _USERLINK_RE.finditer(html):
        username = m.group(1)
        inner = m.group(2)
        name_m = _USER_NAME_SPAN_RE.search(inner)
        display = name_m.group(1) if name_m else _TAG_RE.sub("", inner)
        display = " ".join(display.split())
        if username and username not in seen:
            seen.add(username)
            out.append((username, display))
    for m in _USERNAME_ONLY_RE.finditer(html):
        username = m.group(1)
        if username and username not in seen:
            seen.add(username)
            out.append((username, ""))
    return out


def convert_html_to_markdown(html: str) -> str:
    """Reference ``ConvertHTMLToMarkdown`` (markdown.go:64-123) sans pandoc
    subprocess: pre-process → structural convert → post-process."""
    html = pre_process_html(html)
    md = html_to_markdown(html)
    return post_process_markdown(md)


@dataclass
class DocResult:
    # ok | not_confluence | parse_error | not_multipart | no_boundary
    # | no_html_part | over_budget
    status: str
    title: str = ""
    markdown: str = ""
    content_sha256: str = ""
    authors: list[tuple[str, str]] = field(default_factory=list)
    # (filename, media_type, size_bytes, sha256) for every non-HTML part
    attachments: list[tuple[str, str, int, str]] = field(default_factory=list)


def convert_document(
    content: str,
    *,
    max_bytes: int | None = None,
    timeout_s: float | None = None,
) -> DocResult:
    """Full per-document pipeline over the raw ``content`` string.

    Budget guards (the reference enforces a 2-minute per-document pandoc
    timeout, markdown.go:19-20,65 — without one, a single pathological
    document stalls its whole Arrow batch with no quarantine route):

    * ``max_bytes`` — deterministic size cap on the UTF-8 payload; over-cap
      documents quarantine as ``over_budget`` without converting.
    * ``timeout_s`` — wall-clock budget checked at every top-level stage
      boundary (mime split / pre-HTML / HTML→MD / post-MD). CPython cannot
      interrupt a C-level regex mid-match (SIGALRM is only seen between
      bytecodes), so the granularity is the stage, not the instruction —
      each stage is itself linear-or-guarded, which is what makes boundary
      checks sufficient in practice. Like the reference's pandoc timeout,
      a time-based quarantine is inherently machine-dependent; the size cap
      is the deterministic half of the budget.

    Both default to None (off) so the pure function stays deterministic for
    oracle contracts; the Spark operator layer passes production defaults.
    """
    data = content.encode("utf-8", "surrogateescape")
    sha = hashlib.sha256(data).hexdigest()
    if max_bytes is not None and len(data) > max_bytes:
        return DocResult(status="over_budget", content_sha256=sha)
    if timeout_s is not None:
        import time as _time

        deadline = _time.monotonic() + timeout_s

        def _over() -> bool:
            return _time.monotonic() > deadline
    else:
        def _over() -> bool:
            return False

    if not is_confluence_mime(content):
        return DocResult(status="not_confluence", content_sha256=sha)

    status, parts = split_mime(content)
    if status != "ok":
        return DocResult(status=status, content_sha256=sha)
    if _over():
        return DocResult(status="over_budget", content_sha256=sha)

    html = ""
    attachments: list[tuple[str, str, int, str]] = []
    for p in parts:
        if p.media_type == "text/html" and not html:
            charset = p.charset or "utf-8"
            try:
                html = p.body.decode(charset, errors="replace")
            except LookupError:
                html = p.body.decode("utf-8", errors="replace")
        elif p.media_type != "text/html":
            attachments.append((p.filename, p.media_type, len(p.body), p.body_sha256))

    if not html:
        return DocResult(status="no_html_part", content_sha256=sha, attachments=attachments)

    authors = extract_user_mentions(html)
    pre = pre_process_html(html)
    if _over():
        return DocResult(status="over_budget", content_sha256=sha, attachments=attachments)
    md_raw = html_to_markdown(pre)
    if _over():
        return DocResult(status="over_budget", content_sha256=sha, attachments=attachments)
    markdown = post_process_markdown(md_raw)
    if _over():
        return DocResult(status="over_budget", content_sha256=sha, attachments=attachments)
    title = extract_title(html)
    return DocResult(
        status="ok",
        title=title,
        markdown=markdown,
        content_sha256=sha,
        authors=authors,
        attachments=attachments,
    )
