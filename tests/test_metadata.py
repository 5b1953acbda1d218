"""Page-metadata extraction (functions/metadata.py): field corners,
expr ≡ python twin, NULL degradation, and the published-date ladder."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from granulate_char_ocr_spark.functions.metadata import (
    page_metadata_python,
)
from granulate_char_ocr_spark.operators.docparse import page_metadata

FULL = (
    "<!DOCTYPE html><HTML Lang='en-GB'><head>\n"
    "<TITLE id=t>\n  Fish &amp; Chips &#8212;\n guide </TITLE>\n"
    '<link rel="canonical" href="https://ex.com/fish">\n'
    '<meta name="description" content="Best &quot;chips&quot; in town">\n'
    '<script type="application/ld+json">{"@type":"Article",\n'
    ' "datePublished" : "2023-04-01T10:00:00Z"}</script>\n'
    '<meta property="article:published_time" content="1999-01-01">\n'
    "</head><body><time datetime='1990-05-05'>old</time></body></html>"
)

CASES = [
    (
        FULL,
        {
            "title": "Fish & Chips — guide",
            "lang": "en-GB",
            "canonical_url": "https://ex.com/fish",
            "description": 'Best "chips" in town',
            # JSON-LD outranks the meta tag and the <time> element
            "published": "2023-04-01T10:00:00Z",
        },
    ),
    # attribute order flipped everywhere; bare lang attr; single quotes
    (
        "<html lang=fr><head><title>Salut</title>"
        "<link href='https://ex.fr/a' rel='canonical'>"
        "<meta content='Desc FR' name='description'>"
        "<meta content='2021-12-31' property='article:published_time'>"
        "</head></html>",
        {
            "title": "Salut",
            "lang": "fr",
            "canonical_url": "https://ex.fr/a",
            "description": "Desc FR",
            "published": "2021-12-31",
        },
    ),
    # only a <time> element carries the date; no head metadata at all
    (
        "<html><body><p>x</p><time datetime=2020-02-02>then</time></body>"
        "</html>",
        {
            "title": None,
            "lang": None,
            "canonical_url": None,
            "description": None,
            "published": "2020-02-02",
        },
    ),
    # everything absent -> all NULL; empty title collapses to NULL too
    (
        "<html><head><title>  \n </title></head><body>hi</body></html>",
        {
            "title": None,
            "lang": None,
            "canonical_url": None,
            "description": None,
            "published": None,
        },
    ),
    # a <link rel=stylesheet href=...> before the canonical must not be
    # captured; numeric entity in the title
    (
        '<html lang="de"><head>'
        '<link rel="stylesheet" href="/s.css">'
        '<link rel="canonical" href="https://ex.de/b?x=1">'
        "<title>Ma&#223;e</title></head></html>",
        {
            "title": "Maße",
            "lang": "de",
            "canonical_url": "https://ex.de/b?x=1",
            "description": None,
            "published": None,
        },
    ),
]


# review-finding regressions (r4): quote-aware free-text captures,
# ld+json scoping, whitespace around the attribute '='
CASES += [
    # an apostrophe inside a double-quoted description must survive
    (
        '<html><head><meta name="description" content="it\'s fine">'
        "</head></html>",
        {
            "title": None,
            "lang": None,
            "canonical_url": None,
            "description": "it's fine",
            "published": None,
        },
    ),
    # a datePublished key in plain JS must NOT outrank the meta tag
    (
        '<html><head><script>var a={"datePublished": "BOGUS"};</script>'
        '<meta property="article:published_time" content="2024-01-01">'
        "</head></html>",
        {
            "title": None,
            "lang": None,
            "canonical_url": None,
            "description": None,
            "published": "2024-01-01",
        },
    ),
    # a value that merely STARTS with a known token must not match:
    # these are different attributes, not the fields we extract
    (
        '<html><head>'
        '<meta name="description-mobile" content="NOT A DESC">'
        '<link rel="canonical-old" href="https://wrong.example/x">'
        '<meta property="article:published_timestamp" content="9999-01-01">'
        "</head></html>",
        {
            "title": None,
            "lang": None,
            "canonical_url": None,
            "description": None,
            "published": None,
        },
    ),
    # whitespace around '=' is legal HTML
    (
        '<html lang = "en"><head>'
        '<link rel = "canonical" href = "https://ex.com/ws">'
        '<meta name = "description" content = "spaced">'
        "</head><body><time datetime = 2022-02-02>t</time></body></html>",
        {
            "title": None,
            "lang": "en",
            "canonical_url": "https://ex.com/ws",
            "description": "spaced",
            "published": "2022-02-02",
        },
    ),
]


@pytest.mark.parametrize("html,want", CASES)
def test_python_twin_cases(html, want):
    assert page_metadata_python(html) == want


def test_expr_matches_python_twin(spark):
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(CASES)], "doc_id int, html string"
    )
    rows = {r.doc_id: r for r in page_metadata(df).collect()}
    for i, (html, want) in enumerate(CASES):
        got = {
            k: getattr(rows[i], k)
            for k in (
                "title",
                "lang",
                "canonical_url",
                "description",
                "published",
            )
        }
        assert got == want, f"case {i}"


def test_no_python_in_plan(spark):
    df = spark.createDataFrame([(1, "<html/>")], "doc_id int, html string")
    plan = (
        page_metadata(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# --- indexability: robots meta / X-Robots-Tag / soft-404 -------------------

# (html, headers, want) triplets covering attribute orders, quote styles,
# case, the 'none' alias, explicit index/follow (substring trap), header
# directives, and both soft-404 rules
IDX_CASES = [
    # explicit allow — and 'index'/'follow' must not substring-match
    (
        '<meta name="robots" content="index, follow"><title>Hi</title>',
        None,
        {"noindex": False, "nofollow": False, "soft404": False},
    ),
    # flipped order, single quotes
    (
        "<meta content='noindex' name='robots'>",
        None,
        {"noindex": True, "nofollow": False, "soft404": False},
    ),
    # uppercase bare attributes; none == noindex+nofollow
    (
        "<META NAME=ROBOTS CONTENT=none>",
        None,
        {"noindex": True, "nofollow": True, "soft404": False},
    ),
    # nofollow only, mixed case token
    (
        '<meta name=robots content="NoFollow, noarchive">',
        None,
        {"noindex": False, "nofollow": True, "soft404": False},
    ),
    # X-Robots-Tag header only
    (
        "<p>body</p>",
        "HTTP/1.1 200 OK\r\nX-Robots-Tag: noindex\r\n",
        {"noindex": True, "nofollow": False, "soft404": False},
    ),
    # header 'none' implies both; meta absent
    (
        "<p>x</p>",
        "X-Robots-Tag: none\r\nServer: y\r\n",
        {"noindex": True, "nofollow": True, "soft404": False},
    ),
    # a header VALUE mentioning noindex on a different header must not fire
    (
        "<p>x</p>",
        "X-Other: noindex\r\n",
        {"noindex": False, "nofollow": False, "soft404": False},
    ),
    # soft-404 via title marker
    (
        "<title>Error 404 Not Found</title><body>gone</body>",
        None,
        {"noindex": False, "nofollow": False, "soft404": True},
    ),
    # soft-404 via short body marker, no title
    (
        "<html><body>This page does not exist.</body></html>",
        None,
        {"noindex": False, "nofollow": False, "soft404": True},
    ),
    # marker in a LONG body is editorial, not an error page
    (
        "<body>The phrase not found appears here. " + "x" * 300 + "</body>",
        None,
        {"noindex": False, "nofollow": False, "soft404": False},
    ),
    # robots meta for another product (name=googlebot) is not consulted
    (
        '<meta name="googlebot" content="noindex">',
        None,
        {"noindex": False, "nofollow": False, "soft404": False},
    ),
]


@pytest.mark.parametrize("html,headers,want", IDX_CASES)
def test_indexability_python_twin(html, headers, want):
    from granulate_char_ocr_spark.functions.metadata import (
        indexability_python,
    )

    assert indexability_python(html, headers) == want


def test_indexability_expr_matches_twin(spark):
    from granulate_char_ocr_spark.functions.metadata import indexability_cols

    df = spark.createDataFrame(
        [(i, h, hd) for i, (h, hd, _) in enumerate(IDX_CASES)],
        "doc_id int, html string, headers string",
    )
    out = df.select("doc_id", *indexability_cols(F.col("html"), F.col("headers")))
    rows = {r.doc_id: r for r in out.collect()}
    for i, (_, _, want) in enumerate(IDX_CASES):
        got = {k: getattr(rows[i], k) for k in want}
        assert got == want, f"case {i}"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_canonical_does_not_bleed_across_tags():
    # consumed-boundary regression (review r4b): a canonical link with
    # no href must NOT pick up the NEXT tag's href
    from granulate_char_ocr_spark.functions.metadata import (
        page_metadata_python,
    )

    html = '<link rel=canonical><a href="https://evil.example/x">y</a>'
    assert page_metadata_python(html)["canonical_url"] is None
    # and a legitimate same-tag pair still extracts
    ok = '<link rel=canonical href=https://good.example/p>'
    assert (
        page_metadata_python(ok)["canonical_url"]
        == "https://good.example/p"
    )
