"""Page-metadata extraction — the header fields every web-corpus
manifest carries next to the main text: title, document language,
canonical URL, meta description, and published date.

Everything is pure column expressions (regexp_extract cascades +
the shared entity decode from functions/html.py) — no UDFs, so the
whole extraction stays inside whole-stage codegen and scales as a
map over the page table. Each field degrades to NULL when absent
rather than empty-string noise, matching what a curation manifest
wants to store.

Coverage choices (documented limits, same altitude as the reference's
extraction stages — granulate-char-OCR has no web-metadata leg; this
module comes from the builder's web-tier brief):

- ``title``: first ``<title>`` element, entity-decoded, whitespace
  collapsed. Attribute noise in the open tag and multiline bodies
  handled; CDATA is not (HTML parsers don't treat it specially
  either).
- ``lang``: the ``<html lang=…>`` attribute (BCP-47 tag charset),
  quoted or bare.
- ``canonical_url``: ``<link rel=canonical href=…>`` in EITHER
  attribute order (duplicate metadata resolves by ladder order — see
  ``_first``'s tie-break note).
- ``description``: ``<meta name=description content=…>`` in either
  attribute order, entity-decoded, whitespace collapsed.
- ``published``: a priority ladder mirroring how extractors source
  dates — JSON-LD ``"datePublished"`` first (most structured; only
  trusted inside an ``application/ld+json`` script block, so inline
  JS or body text containing the key cannot outrank the meta tag),
  then ``<meta property=article:published_time>`` (either attribute
  order), then the first ``<time datetime=…>``. The value is kept as
  the raw string — parsing/normalizing timestamps is a downstream
  concern (and a cross-engine trap, CLAUDE.md).

The regexes use the Java/RE2-common subset ((?is) flags, no
lookaround/backreferences) so a SQL mirror stays possible, but the
gate oracle derives expected values independently from the source
fields, not from a mirrored regex."""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from granulate_char_ocr_spark.functions.html import (
    _TAG,
    _WS_CLASS,
    decode_entities_expr,
    decode_entities_python,
)

# HTML permits whitespace around the attribute '='
_EQ = r"[ \t\r\n]*=[ \t\r\n]*"
# a known attribute TOKEN (description, canonical, …) must be followed
# by a boundary — or a value that merely STARTS with the token
# (rel="canonical-old", name="description-mobile") would be accepted
# (review finding r4). The boundary is CONSUMED, not looked-ahead, to
# stay inside the RE2-common subset (RE2 has no lookaround) — which
# forces TWO classes (review finding r4b): when more attributes of the
# SAME tag still need matching ([^>]*attr follows), '>' must NOT be in
# the class, or consuming it would let [^>]* continue into the NEXT tag
# and extract another element's attribute ('<link rel=canonical><a
# href=…>' must not yield the <a>'s href — a token at tag end with the
# other attribute missing is correctly no-match). At pattern END the
# tag close IS a legitimate boundary, so '>' is included there.
_B_MID = r"[\"' \t\r\n/]"
_B_END = r"[\"' \t\r\n/>]"
_TITLE = r"(?is)<title[^>]*>(.*?)</title>"
_LANG = rf"(?is)<html[^>]*[ \t\r\n]lang{_EQ}[\"']?([A-Za-z][A-Za-z0-9-]*)"
# attribute order varies in the wild — one pattern per order, first
# non-empty wins. URL/token values (canonical, datetime, dates) carry
# no quotes or spaces, so a combined [^"' \t\r\n>]+ capture is exact
# for them; free-TEXT values (description) get one pattern per QUOTE
# STYLE so a value containing the other quote character is captured
# whole, not truncated at it (review finding r4). Bare unquoted
# description values are not matched — bare values cannot contain
# spaces, so a bare prose description cannot exist.
_CANON_RH = (
    rf"(?is)<link[^>]*rel{_EQ}[\"']?canonical{_B_MID}[^>]*"
    rf"href{_EQ}[\"']?([^\"' \t\r\n>]+)"
)
_CANON_HR = (
    rf"(?is)<link[^>]*href{_EQ}[\"']?([^\"' \t\r\n>]+)[\"']?[^>]*"
    rf"rel{_EQ}[\"']?canonical{_B_END}"
)
_DESC_ND = (
    rf"(?is)<meta[^>]*name{_EQ}[\"']?description{_B_MID}[^>]*"
    rf'content{_EQ}"([^"]*)"'
)
_DESC_NS = (
    rf"(?is)<meta[^>]*name{_EQ}[\"']?description{_B_MID}[^>]*"
    rf"content{_EQ}'([^']*)'"
)
_DESC_DN = (
    rf'(?is)<meta[^>]*content{_EQ}"([^"]*)"[^>]*'
    rf"name{_EQ}[\"']?description{_B_END}"
)
_DESC_SN = (
    rf"(?is)<meta[^>]*content{_EQ}'([^']*)'[^>]*"
    rf"name{_EQ}[\"']?description{_B_END}"
)
# the JSON-LD date is only trusted INSIDE an application/ld+json
# script block (review finding r4: a bare key match would let inline
# JS or body text outrank the real meta tag) — first block wins
_LD_SCRIPT = r"(?is)<script[^>]*ld\+json[^>]*>(.*?)</script>"
_LD_DATE = r"(?i)\"datePublished\"[ \t\r\n]*:[ \t\r\n]*\"([^\"]+)\""
_PUB_PC = (
    rf"(?is)<meta[^>]*property{_EQ}[\"']?article:published_time{_B_MID}"
    rf"[^>]*content{_EQ}[\"']?([^\"' \t\r\n>]+)"
)
_PUB_CP = (
    rf"(?is)<meta[^>]*content{_EQ}[\"']?([^\"' \t\r\n>]+)[\"']?[^>]*"
    rf"property{_EQ}[\"']?article:published_time{_B_END}"
)
_TIME = rf"(?is)<time[^>]*datetime{_EQ}[\"']?([^\"' \t\r\n>]+)"


def _first(col: Column, *patterns: str) -> Column:
    """First non-empty regexp_extract over the pattern ladder, NULL
    when nothing matches (regexp_extract yields '' on no-match;
    coalesce over the nullifs is already NULL when every rung misses).

    Note the tie-break this implies for fields with several syntactic
    variants (attribute orders, quote styles): each rung scans the
    WHOLE page before the next is tried, so when a field repeats
    across variants the LADDER order wins, not document order.
    Duplicate metadata is a page bug; picking the more-canonical
    syntax is an acceptable, documented resolution — recovering true
    document order would need positional regexp_instr per rung for a
    case that real extractors also resolve arbitrarily."""
    return F.coalesce(
        *[
            F.nullif(F.regexp_extract(col, p, 1), F.lit(""))
            for p in patterns
        ]
    )


def _clean_text(c: Column) -> Column:
    """Entity-decode + collapse whitespace + trim, NULL-preserving."""
    return F.nullif(
        F.trim(F.regexp_replace(decode_entities_expr(c), _WS_CLASS, " ")),
        F.lit(""),
    )


def title_expr(col: Column) -> Column:
    # _clean_text is NULL-preserving, so no coalesce is needed
    return _clean_text(_first(col, _TITLE))


def lang_expr(col: Column) -> Column:
    return _first(col, _LANG)


def canonical_url_meta_expr(col: Column) -> Column:
    return _first(col, _CANON_RH, _CANON_HR)


def description_expr(col: Column) -> Column:
    return _clean_text(_first(col, _DESC_ND, _DESC_NS, _DESC_DN, _DESC_SN))


def published_expr(col: Column) -> Column:
    ld = F.regexp_extract(
        F.regexp_extract(col, _LD_SCRIPT, 1), _LD_DATE, 1
    )
    return F.coalesce(
        F.nullif(ld, F.lit("")), _first(col, _PUB_PC, _PUB_CP, _TIME)
    )


def page_metadata_cols(col: Column) -> list[Column]:
    """The five metadata columns, ready for a select(*existing, …)."""
    return [
        title_expr(col).alias("title"),
        lang_expr(col).alias("lang"),
        canonical_url_meta_expr(col).alias("canonical_url"),
        description_expr(col).alias("description"),
        published_expr(col).alias("published"),
    ]


# --- indexability: robots meta / X-Robots-Tag / soft-404 ----------------
#
# The crawl-side twin of RFC 9309: robots.txt says what may be FETCHED,
# the robots META tag and the X-Robots-Tag response header say what may
# be KEPT/INDEXED — a real ingest pipeline checks both before a page
# enters the corpus. Soft-404s (HTTP 200 pages whose content is an
# error page) are the classic crawl-quality trap; the detector here is
# the standard title-marker heuristic plus a short-body content check.
#
# All pure codegen, same regex-dialect constraints as above. Documented
# limits: user-agent-scoped X-Robots-Tag values ("X-Robots-Tag:
# googlebot: noindex") are treated as applying to us (the conservative
# read); <meta name=googlebot …> variants are not consulted.

# meta robots content, every attribute order / quote style (mirrors the
# description ladder); a bare value covers single-token content
_ROB_NQ = (
    rf"(?is)<meta[^>]*name{_EQ}[\"']?robots{_B_MID}[^>]*"
    rf'content{_EQ}"([^"]*)"'
)
_ROB_NS = (
    rf"(?is)<meta[^>]*name{_EQ}[\"']?robots{_B_MID}[^>]*"
    rf"content{_EQ}'([^']*)'"
)
_ROB_NB = (
    rf"(?is)<meta[^>]*name{_EQ}[\"']?robots{_B_MID}[^>]*"
    rf"content{_EQ}([^\"' \t\r\n>]+)"
)
_ROB_QN = (
    rf'(?is)<meta[^>]*content{_EQ}"([^"]*)"[^>]*'
    rf"name{_EQ}[\"']?robots{_B_END}"
)
_ROB_SN = (
    rf"(?is)<meta[^>]*content{_EQ}'([^']*)'[^>]*"
    rf"name{_EQ}[\"']?robots{_B_END}"
)
_ROB_BN = (
    rf"(?is)<meta[^>]*content{_EQ}([^\"' \t\r\n>]+)[^>]*"
    rf"name{_EQ}[\"']?robots{_B_END}"
)
_ROBOTS_PATTERNS = (_ROB_NQ, _ROB_NS, _ROB_NB, _ROB_QN, _ROB_SN, _ROB_BN)
# "none" == "noindex, nofollow" per the robots-meta spec
_NOINDEX_TOK = r"(?i)\b(noindex|none)\b"
_NOFOLLOW_TOK = r"(?i)\b(nofollow|none)\b"
# X-Robots-Tag response header lines (one directive list per line)
_XROB_NOINDEX = r"(?im)^x-robots-tag:[^\r\n]*\b(noindex|none)\b"
_XROB_NOFOLLOW = r"(?im)^x-robots-tag:[^\r\n]*\b(nofollow|none)\b"

# soft-404: error-marker in the <title>, or marker in the tag-stripped
# body of a SHORT page (long pages legitimately mention "not found")
_S404_MARK = (
    r"(?i)\b(404|page not found|not found|no longer available"
    r"|does not exist|page unavailable)\b"
)
_S404_BODY_MAX = 200


def _robots_content(col: Column) -> Column:
    return _first(col, *_ROBOTS_PATTERNS)


def noindex_expr(html: Column, headers: Column | None = None) -> Column:
    """True when the page asks not to be indexed — robots META tag or
    X-Robots-Tag header. False (not NULL) when neither is present."""
    c = F.coalesce(_robots_content(html), F.lit(""))
    out = c.rlike(_NOINDEX_TOK)
    if headers is not None:
        out = out | F.coalesce(headers, F.lit("")).rlike(_XROB_NOINDEX)
    return out


def nofollow_expr(html: Column, headers: Column | None = None) -> Column:
    """True when the page asks its links not be followed."""
    c = F.coalesce(_robots_content(html), F.lit(""))
    out = c.rlike(_NOFOLLOW_TOK)
    if headers is not None:
        out = out | F.coalesce(headers, F.lit("")).rlike(_XROB_NOFOLLOW)
    return out


def soft404_expr(html: Column) -> Column:
    """True when a (nominally 200) page is an error page in disguise:
    error marker in the title, or marker in the tag-stripped body of a
    page shorter than _S404_BODY_MAX chars."""
    title = F.coalesce(title_expr(html), F.lit(""))
    # shared tag-strip (html._TAG) so a strip refinement lands everywhere;
    # F.trim strips ASCII space only — the twin mirrors with .strip(" ")
    body = F.trim(F.regexp_replace(html, _TAG, " "))
    return title.rlike(_S404_MARK) | (
        body.rlike(_S404_MARK) & (F.length(body) < _S404_BODY_MAX)
    )


def indexability_cols(
    html: Column, headers: Column | None = None
) -> list[Column]:
    """The three keep/drop signals, ready for a select(*existing, …)."""
    return [
        noindex_expr(html, headers).alias("noindex"),
        nofollow_expr(html, headers).alias("nofollow"),
        soft404_expr(html).alias("soft404"),
    ]


# --- Python twin (fixtures/tests pin expr ≡ python) ---------------------


def _first_py(s: str, *patterns: str) -> str | None:
    for p in patterns:
        m = re.search(p, s)
        if m and m.group(1) != "":
            return m.group(1)
    return None


def _clean_text_py(s: str | None) -> str | None:
    if s is None:
        return None
    out = re.sub(_WS_CLASS, " ", decode_entities_python(s)).strip()
    return out or None


def _published_py(html: str) -> str | None:
    block = _first_py(html, _LD_SCRIPT)
    ld = _first_py(block, _LD_DATE) if block else None
    return ld or _first_py(html, _PUB_PC, _PUB_CP, _TIME)


def page_metadata_python(html: str) -> dict[str, str | None]:
    """Python twin of page_metadata_cols over one page."""
    return {
        "title": _clean_text_py(_first_py(html, _TITLE)),
        "lang": _first_py(html, _LANG),
        "canonical_url": _first_py(html, _CANON_RH, _CANON_HR),
        "description": _clean_text_py(
            _first_py(html, _DESC_ND, _DESC_NS, _DESC_DN, _DESC_SN)
        ),
        "published": _published_py(html),
    }


def indexability_python(
    html: str, headers: str | None = None
) -> dict[str, bool]:
    """Python twin of indexability_cols over one page."""
    c = _first_py(html, *_ROBOTS_PATTERNS) or ""
    h = headers or ""
    noindex = bool(re.search(_NOINDEX_TOK, c)) or bool(
        re.search(_XROB_NOINDEX, h)
    )
    nofollow = bool(re.search(_NOFOLLOW_TOK, c)) or bool(
        re.search(_XROB_NOFOLLOW, h)
    )
    title = _clean_text_py(_first_py(html, _TITLE)) or ""
    # .strip(" ") — ASCII space only, mirroring F.trim exactly (a bare
    # .strip() also eats \t\n\r and diverges the <200-char length check)
    body = re.sub(_TAG, " ", html).strip(" ")
    soft404 = bool(re.search(_S404_MARK, title)) or (
        bool(re.search(_S404_MARK, body)) and len(body) < _S404_BODY_MAX
    )
    return {"noindex": noindex, "nofollow": nofollow, "soft404": soft404}
