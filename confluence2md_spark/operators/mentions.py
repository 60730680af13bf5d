"""Mention extraction + surface->entity resolution (SURVEY.md §2.I I1,
§1.2 `mentions` table) — completes I1 beyond titles: candidate mentions come
from link ANCHOR TEXT, userlink display text, and page titles.

Reference signal: the userlink / link-text semantics at
/root/reference/converter/markdown.go:420-429 and markdown_test.go:949-963 —
the anchor/display text is the human-readable surface a linker must resolve,
independent of whatever id the URL happens to carry.

Design (scale-first):

* `extract_mentions` is pure JVM regexp/explode over `pages.markdown` and
  the pre-captured `authors` array — same machinery as triples.py, zero
  Python.
* `resolve_mentions` resolves LINK-mention surfaces to canonical pages in
  two tiers:
    1. EXACT: hash equi-join normalized surface == normalized title. This
       covers the overwhelming mass at any corpus size with ONE shuffle per
       side — never feed the full mention stream to LSH.
    2. FUZZY: only the exact-miss remnant enters a df-capped token-blocking
       join against titles (inverted index over non-ubiquitous tokens,
       exact token-Jaccard verify, best candidate above threshold).
       Deliberately NOT MinHash here: banding over 2-3-token strings is
       probabilistically blind below ~0.7 Jaccard, while the inverted
       index is deterministic and stays linear under the token-df cap.
  Resolution maps surfaces TO pages rather than merging mention nodes INTO
  the alias components (a shared anchor string must never glue two distinct
  pages into one canonical node — only title identity may do that, which
  build_canonical_map already handles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .canon import alias_only
from ..core.triples import MD_LINK_PATTERN

MENTION_COLS = ["doc_id", "kind", "surface", "target_raw", "pos", "context"]


def extract_mentions(pages: DataFrame) -> DataFrame:
    """mentions(doc_id, kind, surface, target_raw, pos, context).

    kinds: 'link' (page-URL markdown link), 'attachment' (download-URL
    link), 'url' (external link), 'userlink' (author display name, captured
    before E10 strips the span), 'title' (the page's own title — a mention
    of itself, the candidate set titles contribute to I1).
    `pos` orders occurrences within (doc_id, kind-family): markdown links
    share one sequence (document order); userlinks index the authors array.
    """
    ok = pages.filter(F.col("status") == "ok")
    links = (
        ok.select(
            "doc_id",
            F.posexplode(
                F.arrays_zip(
                    F.regexp_extract_all("markdown", F.lit(MD_LINK_PATTERN), 1).alias("s"),
                    F.regexp_extract_all("markdown", F.lit(MD_LINK_PATTERN), 2).alias("t"),
                )
            ).alias("pos", "lnk"),
        )
        .select(
            "doc_id",
            F.when(F.col("lnk.t").rlike(r"^/wiki/spaces/"), F.lit("link"))
            .when(F.col("lnk.t").rlike(r"^/download/attachments/"), F.lit("attachment"))
            .otherwise(F.lit("url"))
            .alias("kind"),
            F.col("lnk.s").alias("surface"),
            F.col("lnk.t").alias("target_raw"),
            F.col("pos").cast("int").alias("pos"),
            F.concat(F.lit("["), F.col("lnk.s"), F.lit("]("), F.col("lnk.t"), F.lit(")")).alias(
                "context"
            ),
        )
    )
    userlinks = ok.select(
        "doc_id", F.posexplode("authors").alias("pos", "a")
    ).select(
        "doc_id",
        F.lit("userlink").alias("kind"),
        F.col("a.display_name").alias("surface"),
        F.col("a.username").alias("target_raw"),
        F.col("pos").cast("int").alias("pos"),
        F.lit(None).cast("string").alias("context"),
    )
    titles = ok.select(
        "doc_id",
        F.lit("title").alias("kind"),
        F.col("title").alias("surface"),
        F.lit(None).cast("string").alias("target_raw"),
        F.lit(0).cast("int").alias("pos"),
        F.lit(None).cast("string").alias("context"),
    )
    return links.unionByName(userlinks).unionByName(titles)


def _norm(col):
    return F.trim(F.lower(col))


def resolve_mentions(
    mentions: DataFrame,
    pages: DataFrame,
    cmap: DataFrame | None = None,
    threshold: float = 0.8,
) -> DataFrame:
    """(doc_id, pos, surface, target_page, method) for every page-link
    mention whose surface resolves to a page title; method 'exact'|'fuzzy'.

    `target_page` is canonical when `cmap` is given (ties across duplicate
    titles collapse to the component min); production would coalesce this
    surface resolution with URL-id resolution — kept separate here so the
    anchor-text path is independently auditable (and oracle-checkable).
    """
    ok = pages.filter(F.col("status") == "ok").select("doc_id", "title")
    if cmap is not None:
        titles = (
            ok.join(F.broadcast(alias_only(cmap)), "doc_id", "left")
            .select(
                "title", F.coalesce("canon_id", F.col("doc_id")).alias("canon_id")
            )
        )
    else:
        titles = ok.select("title", F.col("doc_id").alias("canon_id"))
    # one row per distinct normalized title: the min canonical id
    title_dict = (
        titles.groupBy(_norm(F.col("title")).alias("tnorm"))
        .agg(F.min("canon_id").alias("target_page"))
    )

    m = mentions.filter(F.col("kind") == "link").select(
        "doc_id", "pos", "surface", _norm(F.col("surface")).alias("snorm")
    )
    exact = m.join(title_dict, m.snorm == title_dict.tnorm).select(
        "doc_id", "pos", "surface", "target_page", F.lit("exact").alias("method")
    )

    # fuzzy tier: only surfaces with NO exact title match, via DETERMINISTIC
    # token blocking (df-capped inverted index + exact token Jaccard).
    # MinHash banding is the wrong tool for 2-3-token strings: with r-row
    # bands the candidate probability is jaccard^r per band, so a 1/3-Jaccard
    # typo pair surfaces only ~5% of the time — an inverted index over
    # non-ubiquitous tokens finds every pair sharing >= one such token, and
    # the df cap (drop tokens matching > max_token_df titles, e.g. 'page')
    # keeps the block join linear at corpus scale.
    max_token_df = 1000
    leftovers = m.join(title_dict, m.snorm == title_dict.tnorm, "left_anti")
    tokset = lambda c: F.array_distinct(F.split(c, r"\s+"))  # noqa: E731
    surf = (
        leftovers.select("snorm").distinct().select("snorm", tokset(F.col("snorm")).alias("stoks"))
    )
    titl = title_dict.select(
        "target_page", "tnorm", tokset(F.col("tnorm")).alias("ttoks")
    )
    # the SAME df-capped inverted-index primitive title linking uses
    # (linking.df_capped_token_index — one window shuffle, result already
    # hash-partitioned by tok for the join below)
    from .linking import df_capped_token_index

    t_tokens = df_capped_token_index(
        titl.select("target_page", "tnorm", "ttoks", F.explode("ttoks").alias("tok")),
        max_token_df=max_token_df,
    )
    s_tokens = surf.select("snorm", "stoks", F.explode("stoks").alias("tok"))
    jac = F.size(F.array_intersect("stoks", "ttoks")) / F.size(
        F.array_union("stoks", "ttoks")
    )
    # jaccard is computed per DISTINCT (snorm, tnorm) candidate and only then
    # aggregated to max-per-(snorm, target_page): two distinct titles can map
    # to one canonical page (aliased near-identical titles), and deduping on
    # (snorm, target_page) BEFORE scoring would keep an arbitrary title's
    # token set — a surface matching the other title at >= threshold would be
    # scored against the wrong tokens and dropped (ADVICE r2).
    cand = (
        s_tokens.join(t_tokens, "tok")
        .select("snorm", "stoks", "target_page", "tnorm", "ttoks")
        .dropDuplicates(["snorm", "tnorm"])
        .withColumn("jaccard", jac)
        .groupBy("snorm", "target_page")
        .agg(F.max("jaccard").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    best = cand.groupBy("snorm").agg(
        F.max_by(
            "target_page", F.struct(F.col("jaccard"), -F.col("target_page"))
        ).alias("target_page")
    )
    fuzzy = leftovers.join(best, "snorm").select(
        "doc_id", "pos", "surface", "target_page", F.lit("fuzzy").alias("method")
    )
    return exact.unionByName(fuzzy)
