"""Text analysis for training-data curation (SURVEY.md driver mandate):
token counting, quality scoring, document fingerprinting, language-ID.

Every SQL-expressible metric is defined ONCE per engine dialect with
identical arithmetic, so the DuckDB oracle verifies the Spark plan
value-for-value (incl. the rolling fingerprint, which is bit-exact:
h := (h*31 + ascii(c)) mod (2^31-1) folded left over the characters).

Language-ID is likewise pure column arithmetic (stopword-marker argmax over
(score, lang) structs + script-range regexes), mirrored in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS_EN = (
    "the a an and or of to in is are was for on with as at by it this that".split()
)

# ---------------------------------------------------------------- tokens ---

def tokens_col(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


TOKENS_SQL_DUCK = "regexp_split_to_array(trim(lower({t})), '\\s+')"


# Ratio metrics are emitted as floor(x * 1e6) BIGINT "micros": floor acts on
# the binary double (identical in both engines for identical op sequences),
# whereas round() semantics differ between Spark (BigDecimal half-up on the
# shortest decimal repr) and DuckDB (binary-scaled) exactly at .5 boundaries.
def _micros(col: Column) -> Column:
    return F.floor(col * 1_000_000).cast("bigint")


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_distinct_tokens, avg_token_len_micros) — J15/J18,
    unordered.

    r6: repartition before the tokenize expressions — a single parquet file
    arrives as ONE scan partition, so the whole map-only query ran on one
    core (measured 1.3-1.9 s vs 0.4-0.6 s spread at sf1.0)."""
    toks = tokens_col(F.col(text_col))
    p = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.repartition(p)
        .select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
            _micros(
                F.aggregate(
                    toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
                )
                / F.size(toks)
            ).alias("avg_token_len_micros"),
        )
    )


def token_stats_sql_duck(docs: str = "documents") -> str:
    toks = TOKENS_SQL_DUCK.format(t="text")
    return f"""SELECT doc_id,
  len({toks}) AS n_tokens,
  len(list_distinct({toks})) AS n_distinct_tokens,
  CAST(floor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform({toks}, t -> CAST(length(t) AS BIGINT))), (a,b) -> a+b)
        / CAST(len({toks}) AS DOUBLE) * 1000000) AS BIGINT) AS avg_token_len_micros
FROM {docs}
ORDER BY doc_id"""


# BPE-ish pretokenization (driver mandate: "whitespace + a BPE-ish regex").
# The GPT-2 pretokenizer pattern, minus its trailing-space lookahead (RE2 —
# DuckDB's engine — has no lookahead; dropping it only changes how runs of
# whitespace split, not letter/number/punct token counts). Identical pattern
# string runs on Java regex (Spark) and RE2 (DuckDB).
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_pieces, pieces_per_word_micros) — the
    whitespace count next to the BPE-ish piece count (their ratio is the
    fertility metric tokenizer work cares about). Pure JVM regex."""
    toks = tokens_col(F.col(text_col))
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_RE), 0)
    n_ws = F.size(toks)
    n_bpe = F.size(F.filter(pieces, lambda x: x.rlike(r"\S")))
    return docs.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_pieces"),
        _micros(n_bpe / n_ws).alias("pieces_per_word_micros"),
    )


def bpe_token_stats_sql_duck(docs: str = "documents") -> str:
    toks = TOKENS_SQL_DUCK.format(t="text")
    pat = BPE_SPLIT_RE.replace("'", "''")  # SQL-escape the contraction quote
    pieces = f"regexp_extract_all(text, '{pat}')"
    n_bpe = f"len(list_filter({pieces}, x -> regexp_matches(x, '\\S')))"
    return f"""SELECT doc_id,
  len({toks}) AS n_ws_tokens,
  {n_bpe} AS n_bpe_pieces,
  CAST(floor({n_bpe} / CAST(len({toks}) AS DOUBLE) * 1000000) AS BIGINT) AS pieces_per_word_micros
FROM {docs}"""


# --------------------------------------------------------------- quality ---

def quality_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_chars_obs, stopword_ratio_micros, space_ratio_micros,
    quality_score_micros).

    quality_score: deterministic [0,1] blend — high stopword presence and
    high space (word-separation) density signal prose; formula mirrored in
    the oracle; all ratios reported as floor-micros (see _micros).
    """
    toks = tokens_col(F.col(text_col))
    n_tok = F.size(toks)
    sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS_EN)))
    sw_ratio = sw / n_tok
    space_ratio = (
        F.length(text_col) - F.length(F.regexp_replace(text_col, " ", ""))
    ) / F.length(text_col)
    score = F.least(sw_ratio * F.lit(4.0), F.lit(1.0)) * 0.5 + space_ratio * 0.5
    return docs.select(
        "doc_id",
        F.length(text_col).alias("n_chars_obs"),
        _micros(sw_ratio).alias("stopword_ratio_micros"),
        _micros(space_ratio).alias("space_ratio_micros"),
        _micros(score).alias("quality_score_micros"),
    )


def quality_stats_sql_duck(docs: str = "documents") -> str:
    toks = TOKENS_SQL_DUCK.format(t="text")
    sw_list = ",".join(f"'{w}'" for w in STOPWORDS_EN)
    sw_ratio = f"(len(list_filter({toks}, t -> t IN ({sw_list}))) / CAST(len({toks}) AS DOUBLE))"
    space_ratio = "((length(text) - length(replace(text, ' ', ''))) / CAST(length(text) AS DOUBLE))"
    return f"""SELECT doc_id,
  length(text) AS n_chars_obs,
  CAST(floor({sw_ratio} * 1000000) AS BIGINT) AS stopword_ratio_micros,
  CAST(floor({space_ratio} * 1000000) AS BIGINT) AS space_ratio_micros,
  CAST(floor((least({sw_ratio} * 4.0, 1.0) * 0.5 + {space_ratio} * 0.5) * 1000000) AS BIGINT) AS quality_score_micros
FROM {docs}"""


# ----------------------------------------------------------- fingerprint ---

FINGERPRINT_SPARK = "aggregate(split({t}, ''), CAST(0 AS BIGINT), (h, c) -> (h*31 + ascii(c)) % 2147483647)"
FINGERPRINT_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({t}, ''), c -> CAST(ascii(c) AS BIGINT))), "
    "(h, c) -> (h*31 + c) % 2147483647)"
)

# Companion constants for the portable hash, single-sourced here so the
# Spark expressions and the DuckDB twin SQL can never drift (review
# finding: they were previously duplicated per module + hard-coded in one
# oracle literal). MERSENNE31 is the fingerprint modulus; the MIX pair is
# the affine post-mix that scatters SHORT-string fingerprints (which never
# fill the high bits) across the full 31-bit range before any use that
# reads bit positions (HLL rho, Bernoulli sampling, Bloom probes).
MERSENNE31 = 2_147_483_647
PORTABLE_MIX_A = 1_103_515_245  # large odd multiplier (glibc LCG constant)
PORTABLE_MIX_B = 12_345


def _polyhash_bulk(texts) -> "object":
    """h ← (h·31 + codepoint) % MERSENNE31 folded left-to-right over every
    character, vectorized over a whole batch of texts — bit-identical to
    FINGERPRINT_SPARK (verified empirically: Spark `split(t, '')` yields
    per-character tokens with no trailing empty, `ascii(c)` is the full
    codepoint, and the arithmetic is pure int64 with no overflow:
    h < 2^31, so h·31 + cp < 2^36). Same padded-matrix device as
    operators/dedup._fnv1a_bulk: texts are decoded to codepoint rows via
    utf-32-le (one C-level frombuffer per text), sorted longest-first so
    each character position updates a contiguous prefix slice. Returns an
    int64 ndarray; None/NaN inputs yield -1 sentinels the caller must remap
    to null (the Spark expression is null-on-null)."""
    import numpy as np

    n = len(texts)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    null_mask = np.fromiter((t is None for t in texts), dtype=bool, count=n)
    cps = [
        np.frombuffer((t or "").encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        for t in texts
    ]
    lens = np.fromiter((len(c) for c in cps), dtype=np.int64, count=n)
    M = np.int64(MERSENNE31)
    # cap the matrix width; rare over-cap texts continue scalar from the
    # vectorized prefix (same fold, same order)
    cap = 4096
    maxlen = int(min(lens.max(), cap)) if n else 0
    order = np.argsort(-np.minimum(lens, cap), kind="stable")
    lens_s = np.minimum(lens, cap)[order]
    buf = np.zeros((n, maxlen), dtype=np.int64)
    for row, idx in enumerate(order.tolist()):
        c = cps[idx]
        if len(c):
            buf[row, : min(len(c), cap)] = c[:cap]
    cum = np.cumsum(np.bincount(lens_s, minlength=maxlen + 1))
    h = np.zeros(n, dtype=np.int64)
    for j in range(maxlen):
        k = n - int(cum[j])  # rows still active at char position j
        if k == 0:
            break
        h[:k] = (h[:k] * 31 + buf[:k, j]) % M
    out[order] = h
    over = np.nonzero(lens > cap)[0]
    for idx in over.tolist():
        v = int(out[idx])
        for cp in cps[idx][cap:].tolist():
            v = (v * 31 + cp) % MERSENNE31
        out[idx] = v
    out[null_mask] = -1
    return out


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fp) rolling polynomial hash, unordered — bit-exact vs the
    oracle.

    r6 execution: the per-character fold ran as a JVM `aggregate` over
    `split(t, '')` — one UTF8String allocation per character (15M for the
    bench corpus) on however many partitions the scan produced (ONE for a
    single parquet file, so the whole query was single-core). Now a
    repartition spreads the scan and a numpy Horner loop evaluates the
    identical integer recurrence per Arrow batch (see _polyhash_bulk);
    values are bit-equal because the arithmetic is exact int64 — pinned by
    a differential test against the expression form."""
    from collections.abc import Iterator

    import pandas as pd

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            fp = pd.array(_polyhash_bulk(pdf[text_col]), dtype="Int64")
            fp[pd.isna(pdf[text_col])] = None
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "fp": fp})

    p = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.select("doc_id", text_col)
        .repartition(p)
        .mapInPandas(_batches, schema="doc_id long, fp long")
    )


def fingerprint_sql_duck(docs: str = "documents") -> str:
    return (
        f"SELECT doc_id, {FINGERPRINT_DUCK.format(t='text')} AS fp FROM {docs} "
        "ORDER BY doc_id"
    )


# ---------------------------------------------------------------- langid ---

# Per-language stopword marker lists (public-knowledge function words).
# Scored per whitespace token; argmax wins. The WHOLE heuristic is plain
# column arithmetic — no Python in the hot path (r2 used a pandas UDF; the
# rewrite keeps every row JVM-side AND makes the op DuckDB-mirrorable, which
# is what converts text_langid from a rows-only driver check to a fully
# oracle-backed one).
LANG_STOPWORDS: dict[str, list[str]] = {
    "de": "der die das und ist nicht mit ein eine zu von auf für im".split(),
    "en": "the and of to is in that it with for was on as are".split(),
    "es": "el los las es un una que en por con para no como más".split(),
    "fr": "le les et est un une dans que pour pas sur avec du au".split(),
    "it": "il lo gli che di per con non sono della nel alla più".split(),
    "nl": "het een en van dat niet met op te voor zijn aan ook".split(),
    "pl": "i w na z do że się nie jest to przez jak po".split(),
    "pt": "o os um uma que em para com não por mais dos".split(),
    "sv": "och att det är en ett som för på med av inte den till".split(),
}
# Script detection (checked before stopwords, first 2000 chars): kana ->
# Japanese (checked before CJK — Japanese text contains kanji too),
# CJK ideographs -> Chinese, Cyrillic -> Russian. Literal codepoint-range
# character classes work identically in Spark (Java regex) and DuckDB (RE2).
_KANA_RE = "[぀-ヿ]"  # U+3040..U+30FF hiragana+katakana
_CJK_RE = "[一-鿿]"  # U+4E00..U+9FFF unified ideographs
_CYR_RE = "[Ѐ-ӿ]"  # U+0400..U+04FF Cyrillic

_FULL_CONF = 1_000_000


def predict_language(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, lang, predicted_lang, confidence_micros).

    predicted_lang: script-detected ja/zh/ru, else the stopword-argmax
    language (ties break to the lexicographically LARGEST lang code —
    array_max over (score, lang) structs, the same comparison both engines
    implement), else 'und' when no marker hits. confidence_micros:
    1e6 for script hits, floor(best_score/n_tokens * 1e6) otherwise, 0 for
    'und'."""
    toks = tokens_col(F.col(text_col))
    head = F.substring(F.col(text_col), 1, 2000)
    scored = F.array_max(
        F.array(
            *[
                F.struct(
                    F.size(F.filter(toks, lambda t: t.isin(*ws)))
                    .cast("bigint")
                    .alias("s"),
                    F.lit(lang).alias("l"),
                )
                for lang, ws in LANG_STOPWORDS.items()
            ]
        )
    )
    is_script = head.rlike(_KANA_RE) | head.rlike(_CJK_RE) | head.rlike(_CYR_RE)
    pred = (
        F.when(head.rlike(_KANA_RE), F.lit("ja"))
        .when(head.rlike(_CJK_RE), F.lit("zh"))
        .when(head.rlike(_CYR_RE), F.lit("ru"))
        .when(scored["s"] == 0, F.lit("und"))
        .otherwise(scored["l"])
    )
    conf = (
        F.when(is_script, F.lit(_FULL_CONF).cast("bigint"))
        .when(scored["s"] == 0, F.lit(0).cast("bigint"))
        .otherwise(_micros(scored["s"] / F.size(toks)))
    )
    return docs.select(
        "doc_id",
        "lang",
        pred.alias("predicted_lang"),
        conf.alias("confidence_micros"),
    )


def predict_language_sql_duck(docs: str = "documents") -> str:
    """DuckDB twin of predict_language — same marker lists, same script
    regexes, same argmax/tie/confidence arithmetic."""
    structs = ", ".join(
        "{{'s': CAST(len(list_filter(toks, t -> t IN ({ws}))) AS BIGINT), 'l': '{lang}'}}".format(
            ws=", ".join(f"'{w}'" for w in ws), lang=lang
        )
        for lang, ws in LANG_STOPWORDS.items()
    )
    return f"""WITH base AS (
  SELECT doc_id, lang, text, left(text, 2000) AS head,
         {TOKENS_SQL_DUCK.format(t="text")} AS toks
  FROM {docs}
), scored AS (
  SELECT doc_id, lang, head, len(toks) AS n_tok,
         list_max([{structs}]) AS best
  FROM base
)
SELECT doc_id, lang,
  CASE WHEN regexp_matches(head, '{_KANA_RE}') THEN 'ja'
       WHEN regexp_matches(head, '{_CJK_RE}') THEN 'zh'
       WHEN regexp_matches(head, '{_CYR_RE}') THEN 'ru'
       WHEN best.s = 0 THEN 'und'
       ELSE best.l END AS predicted_lang,
  CASE WHEN regexp_matches(head, '{_KANA_RE}') OR regexp_matches(head, '{_CJK_RE}')
            OR regexp_matches(head, '{_CYR_RE}') THEN CAST({_FULL_CONF} AS BIGINT)
       WHEN best.s = 0 THEN CAST(0 AS BIGINT)
       ELSE CAST(floor(best.s / CAST(n_tok AS DOUBLE) * 1000000) AS BIGINT) END
    AS confidence_micros
FROM scored"""
