"""Seeded input generators for the benchmark workloads.

Both generators take the workload seed and nothing else that varies, and
write their output under the run's work directory; the program under test
only ever sees the generated rows.

* `write_documents` — the `documents` table (doc_id, text, lang, source,
  n_chars) that `sources.corpus.synth_raw_files` and the KG oracles read.
  The KG's shape is a closed-form function of doc_id, so the seed changes
  the page text but never the graph: every seed does the same graph work.
* `bigdoc_exports` — rich Confluence MIME exports with log-normal sizes.
  Sizes come from a fixed quantile grid that the seed only permutes, so the
  total byte volume and the size tail are identical for every seed; only
  which document gets which size, and its content, change.
"""

from __future__ import annotations

import base64
import hashlib
import math
import os
import quopri
import random
from statistics import NormalDist

WORDS = (
    "spark batch column sort hash scan join merge window query table row "
    "vector stream filter group agg key value part line order data fast "
    "slow big small the a customer"
).split()
LANGS = ("en", "en", "en", "fr", "es", "zh", "de")


def write_documents(out_dir: str, n_docs: int, seed: int) -> str:
    """Write `documents.parquet` with contiguous doc_ids 0..n_docs-1."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"documents:{seed}")
    texts = [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(12, 60)))
        for _ in range(n_docs)
    ]
    table = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return out_dir


# ------------------------------------------------------------ rich exports

BOUNDARY = "----=_Part_{tag}"
EMOTICONS = ("(tick)", "(error)", "(blue star)", "(warning)")
SHORTCODES = (":celebration:", ":thumbsup:", ":smile:", ":warning:")
USERS = 40


def _lognormal_sizes(n: int, median_kb: float, max_kb: float) -> list[int]:
    """Byte sizes at the (i + 0.5) / n quantiles of a log-normal whose top
    quantile lands on `max_kb` — the same multiset for every seed."""
    nd = NormalDist()
    z_top = nd.inv_cdf((n - 0.5) / n)
    sigma = math.log(max_kb / median_kb) / z_top
    return [
        int(1024 * median_kb * math.exp(sigma * nd.inv_cdf((i + 0.5) / n)))
        for i in range(n)
    ]


def _para(rng: random.Random, words: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(words))


def _block(rng: random.Random, doc_id: int, n_docs: int, k: int, plant: dict) -> str:
    """One HTML feature block (FIXTURES.md §3), chosen round-robin by `k`
    so every document larger than a few blocks carries every feature.
    `plant` collects, per feature, what the Markdown must show for it."""
    kind = k % 10
    if kind == 0:
        level = 2 + (k // 10) % 2
        text = f"Section {k} {rng.choice(WORDS)}"
        plant["headings"].append(f"{'#' * level} {text}")
        return f"<h{level}>{text}</h{level}>\n<p>{_para(rng, 40)}</p>\n"
    if kind == 1:
        return (
            '<div class="contentLayout2"><div class="columnLayout two-equal">'
            '<div class="cell normal"><div class="innerCell">'
            f"<p>{_para(rng, 30)}</p></div></div>"
            '<div class="cell normal"><div class="innerCell">'
            f"<p>{_para(rng, 30)}</p></div></div></div></div>\n"
        )
    if kind == 2:
        rows = "".join(
            f"<tr><td><p>{rng.choice(WORDS)}</p></td><td>{rng.randint(0, 999)}<br/>"
            f"{rng.choice(WORDS)}</td><td>{_para(rng, 6)}</td></tr>"
            for _ in range(rng.randint(3, 8))
        )
        return (
            '<div class="table-wrap"><table class="confluenceTable"><colgroup>'
            '<col/><col/><col/></colgroup><tbody><tr><th scope="col">name</th>'
            f'<th scope="col">value</th><th scope="col">note</th></tr>{rows}'
            "</tbody></table></div>\n"
        )
    if kind == 3:
        code = "\n".join(
            f"val {rng.choice(WORDS)}_{i} = df.filter(col(&quot;{rng.choice(WORDS)}&quot;) &gt; {i})"
            for i in range(rng.randint(4, 12))
        )
        return (
            '<div class="code panel pdl"><div class="codeContent panelContent pdl">'
            '<pre class="syntaxhighlighter-pre" data-syntaxhighlighter-params="brush: scala; gutter: false">'
            f"{code}</pre></div></div>\n"
        )
    if kind == 4:
        macro = rng.choice(("information", "tip", "note", "warning"))
        return (
            f'<div class="confluence-information-macro confluence-information-macro-{macro}">'
            '<span class="aui-icon aui-icon-small aui-iconfont-info confluence-information-macro-icon"></span>'
            f'<div class="confluence-information-macro-body"><p>{_para(rng, 25)}</p></div></div>\n'
        )
    if kind == 5:
        alt = rng.choice(EMOTICONS)
        return (
            f'<p>Status <img class="emoticon emoticon-tick" src="/images/icons/emoticons/check.svg" '
            f'data-emoticon-name="tick" alt="{alt}"/> {rng.choice(SHORTCODES)} '
            f"{_para(rng, 20)} &amp; caf&eacute; &#126; &#127; &#x263A; &lt;p&gt;escaped&lt;/p&gt;</p>\n"
        )
    if kind == 6:
        u = rng.randrange(USERS)
        plant["user_links"].append(f"User {u}")
        return (
            f'<p>Owner <a class="confluence-userlink user-mention" data-username="user{u}" '
            f'href="/display/~user{u}" data-linked-resource-type="userinfo">'
            f'<span class="user-name">User {u}</span></a> {_para(rng, 15)}</p>\n'
        )
    if kind == 7:
        target = rng.randrange(n_docs)
        plant["page_links"].append(f"[Spec {target}](/wiki/spaces/BIG/pages/{target}/Spec-{target})")
        return (
            f'<p>See <a href="/wiki/spaces/BIG/pages/{target}/Spec-{target}">Spec {target}</a> '
            f"and <a href=\"#section-{k}\"><u>section {k}</u></a>. {_para(rng, 15)}</p>\n"
        )
    if kind == 8:
        f = f"diagram-{doc_id}-{k}.png"
        plant["images"].append(f"![{f}](/download/attachments/{doc_id}/{f}")
        return (
            f'<p><span class="confluence-embedded-file-wrapper"><img class="confluence-embedded-image" '
            f'src="/download/attachments/{doc_id}/{f}?version=1" '
            f'data-image-src="/download/attachments/{doc_id}/{f}" alt="{f}"/></span></p>\n'
        )
    return f"<p>{_para(rng, 60)}</p>\n"


def _export(rng: random.Random, doc_id: int, n_docs: int, target: int, plant: dict, tag: str) -> str:
    title = f"Spec {doc_id}" if doc_id % 10 != 7 else f"Spec {doc_id - 7}"
    user = rng.randrange(USERS)
    plant["headings"].append(f"# {title}")
    plant["user_links"].append(f"User {user}")
    body = [
        f"<html><head><title>{title}</title></head><body>\n<h1>{title}</h1>\n",
        f'<p>By <span class="confluence-userlink user-mention" data-username="user{user}">'
        f'<span class="user-name">User {user}</span></span></p>\n',
    ]
    size = sum(len(b) for b in body)
    k = 0
    while size < target:
        b = _block(rng, doc_id, n_docs, k, plant)
        body.append(b)
        size += len(b)
        k += 1
    body.append("</body></html>")
    html = "".join(body)
    boundary = BOUNDARY.format(tag=tag)
    qp = doc_id % 3 == 0
    if qp:
        # binascii-level QP: soft line breaks every 76 chars and =3D escapes
        payload = quopri.encodestring(html.encode("utf-8")).decode("ascii")
        cte = "quoted-printable"
    else:
        payload, cte = html, "7bit"
    parts = [
        "Date: Wed, 7 Jan 2026 01:29:00 +0000 (UTC)\n"
        f"Message-ID: <{tag}@bench>\n"
        "Subject: Exported From Confluence\n"
        "MIME-Version: 1.0\n"
        "Content-Type: multipart/related;\n"
        f'\tboundary="{boundary}"\n\n'
        f"--{boundary}\n"
        'Content-Type: text/html; charset=UTF-8\n'
        f"Content-Transfer-Encoding: {cte}\n"
        f"Content-Location: file:///C:/exported.html\n\n{payload}\n"
    ]
    for a in range(doc_id % 4):
        blob = rng.randbytes(256 + 512 * a)
        plant["attachments"].append(f"att-{doc_id}-{a}.png")
        parts.append(
            f"--{boundary}\nContent-Type: image/png; name=\"att-{doc_id}-{a}.png\"\n"
            f"Content-Transfer-Encoding: base64\n\n{base64.encodebytes(blob).decode('ascii')}"
        )
    parts.append(f"--{boundary}--\n")
    return "".join(parts)


def _decoy(rng: random.Random, kind: str, tag: str) -> str:
    text = _para(rng, 80)
    if kind == "not_confluence":
        # .doc-named plain text: fails detection, never reaches the kernel
        return f"Meeting notes\nSubject: weekly sync\n\n{text}\n"
    if kind == "not_multipart":
        return (
            "Date: Wed, 7 Jan 2026 01:29:00 +0000 (UTC)\nSubject: Exported From Confluence\n"
            f"MIME-Version: 1.0\nContent-Type: text/plain\n\n{text}\n"
        )
    boundary = BOUNDARY.format(tag=tag)
    return (  # no_html_part: a multipart export holding only an image
        "Date: Wed, 7 Jan 2026 01:29:00 +0000 (UTC)\nSubject: Exported From Confluence\n"
        f'MIME-Version: 1.0\nContent-Type: multipart/related; boundary="{boundary}"\n\n'
        f"--{boundary}\nContent-Type: image/png; name=\"lone.png\"\n"
        f"Content-Transfer-Encoding: base64\n\n{base64.encodebytes(rng.randbytes(300)).decode('ascii')}"
        f"--{boundary}--\n"
    )


# Decoy classes and their counts are fixed; the seed only places them.
DECOYS = {"not_confluence": 6, "not_multipart": 4, "no_html_part": 4}


def bigdoc_exports(
    out_dir: str, n_docs: int, seed: int, median_kb: float, max_kb: float, n_files: int
) -> dict:
    """Write `n_docs` raw_files rows as `n_files` parquet files and return
    what was planted: per-row sha256, expected status counts and feature
    counts. Rows: repo, path, commit, lang, content, doc_id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"bigdoc:{seed}")
    n_decoys = sum(DECOYS.values())
    sizes = _lognormal_sizes(n_docs - n_decoys, median_kb, max_kb)
    rng.shuffle(sizes)
    kinds = ["page"] * len(sizes) + [k for k, c in DECOYS.items() for _ in range(c)]
    rng.shuffle(kinds)
    planted: dict[int, dict] = {}
    rows = {k: [] for k in ("repo", "path", "commit", "lang", "content", "doc_id")}
    sha = {}
    kind_of = {}
    size_iter = iter(sizes)
    for doc_id, kind in enumerate(kinds):
        tag = hashlib.sha256(f"{seed}:{doc_id}".encode()).hexdigest()[:12]
        if kind == "page":
            plant = planted[doc_id] = {
                f: [] for f in ("headings", "user_links", "page_links", "images", "attachments")
            }
            content = _export(rng, doc_id, n_docs, next(size_iter), plant, tag)
        else:
            content = _decoy(rng, kind, tag)
        repo = "space-hot" if doc_id % 5 < 3 else f"space-{doc_id % 7}"
        rows["repo"].append(repo)
        rows["path"].append(f"docs/BIG/spec{'+' if doc_id % 8 == 0 else '-'}{doc_id}.doc")
        rows["commit"].append(tag)
        rows["lang"].append("mime")
        rows["content"].append(content)
        rows["doc_id"].append(doc_id)
        sha[doc_id] = hashlib.sha256(content.encode("utf-8")).hexdigest()
        kind_of[doc_id] = kind
    table = pa.table(rows)
    os.makedirs(out_dir, exist_ok=True)
    # several files so the scan splits across cores
    per = math.ceil(n_docs / n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * per, per), os.path.join(out_dir, f"part-{f:03d}.parquet"))
    pages = len(sizes)
    return {
        "sha256": sha,
        "content": dict(zip(rows["doc_id"], rows["content"])),
        "kind": kind_of,
        "status": {
            "ok": pages,
            "not_multipart": DECOYS["not_multipart"],
            "no_html_part": DECOYS["no_html_part"],
        },
        "filtered_by_detect": DECOYS["not_confluence"],
        "planted": planted,
        "features": {
            f: sum(len(p[f]) for p in planted.values())
            for f in ("headings", "user_links", "page_links", "images", "attachments")
        },
        "bytes": sum(len(c) for c in rows["content"]),
        "max_doc_bytes": max(len(c) for c in rows["content"]),
    }
