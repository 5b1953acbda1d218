"""Document-format parsing operators — the web-extraction legs the north
rule names explicitly: "HTML boilerplate strip" and "PDF/layout parse".

HTML main-content extraction is PURE whole-stage codegen (a regex
cascade over a string column — functions/html.py); PDF text extraction
is an Arrow-batched mapInPandas over binary payloads
(functions/pdf.py). Both are deterministic, so the driver gate checks
them against exact oracles."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from granulate_char_ocr_spark.functions.dom import main_content_expr
from granulate_char_ocr_spark.functions.html import main_text_expr


def html_main_texts(
    df: DataFrame, html_col: str = "html", key_col: str = "doc_id"
) -> DataFrame:
    """(key, html) -> (key, main_text): boilerplate-stripped body text,
    no Python in the plan."""
    return df.select(
        key_col, main_text_expr(F.col(html_col)).alias("main_text")
    )


def html_main_contents(
    df: DataFrame, html_col: str = "html", key_col: str = "doc_id"
) -> DataFrame:
    """(key, html) -> (key, main_content): density-selected content text
    (the DOM-heuristic leg, functions/dom.py) — link-dense and short
    blocks dropped by measure, not by element name. No Python in the
    plan."""
    return df.select(
        key_col, main_content_expr(F.col(html_col)).alias("main_content")
    )


def page_metadata(
    df: DataFrame, html_col: str = "html", key_col: str = "doc_id"
) -> DataFrame:
    """(key, html) -> (key, title, lang, canonical_url, description,
    published): the header metadata a corpus manifest stores next to
    the main text (functions/metadata.py) — regexp cascades + shared
    entity decode, pure codegen, NULL for absent fields."""
    from granulate_char_ocr_spark.functions.metadata import (
        page_metadata_cols,
    )

    return df.select(key_col, *page_metadata_cols(F.col(html_col)))


def html_tables(
    df: DataFrame, html_col: str = "html", key_col: str = "doc_id"
) -> DataFrame:
    """(key, html) -> (key, table_idx, row_idx, is_header, cells,
    n_cells): ``<table>`` markup recovered as structured rows
    (functions/htmltable.py) — the structure the main-text legs
    deliberately flatten. Cells are US-joined (htmltable.CELL_SEP).
    Pure whole-stage codegen; the two posexplodes are the only row
    multipliers."""
    from granulate_char_ocr_spark.functions.htmltable import (
        table_rows_expr,
    )

    return table_rows_expr(df.select(key_col, html_col), html_col)


def pdf_texts(
    df: DataFrame,
    payload_col: str = "payload",
    key_col: str = "doc_id",
    layout: bool = False,
) -> DataFrame:
    """(key, pdf_bytes) -> (key, extracted): the text layer of each PDF —
    in operator (draw) order by default, or in READING order with
    ``layout=True`` (text-matrix tracking + XY-cut column sort,
    functions/pdf.py), which un-interleaves multi-column and
    out-of-sequence draws. The key column keeps its input type. Per-row
    parse failures raise (wrap upstream when a corpus needs the
    permissive contract)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from granulate_char_ocr_spark.functions.pdf import (
            decode_pdf_text,
            decode_pdf_text_layout,
        )

        decode = decode_pdf_text_layout if layout else decode_pdf_text
        for pdf in batches:
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col],
                    "extracted": [
                        decode(bytes(p)) for p in pdf[payload_col]
                    ],
                }
            )

    key_type = df.schema[key_col].dataType.simpleString()
    return df.select(key_col, payload_col).mapInPandas(
        fn, schema=f"{key_col} {key_type}, extracted string"
    )


def html_to_markdown(
    df: DataFrame, html_col: str = "html", key_col: str = "doc_id"
) -> DataFrame:
    """(key, html) -> (key, markdown): structure-preserving Markdown
    render (functions/markdown.py — headings, lists, links, emphasis,
    code survive into training text). Pure whole-stage codegen."""
    from granulate_char_ocr_spark.functions.markdown import (
        to_markdown_expr,
    )

    return df.select(
        key_col, to_markdown_expr(F.col(html_col)).alias("markdown")
    )


def build_warc_files(
    df: DataFrame,
    file_col: str = "file_id",
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """(file_id, url, html) -> (file_id, payload, n_records): pack each
    file group's pages into one WARC file (functions/warc.py — leading
    warcinfo record, per-record gzip members, Common Crawl layout).
    Pages are packed in url order inside each file so the build is
    deterministic under any upstream partitioning. This is the
    test-harness DIRECTION: production reads WARC, it doesn't write it —
    the read path is ``warc_records``."""
    import pandas as pd  # noqa: F811 (kept local: builder runs on executors)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        from granulate_char_ocr_spark.functions.warc import build_warc

        # (url, html) sort: url alone leaves duplicate-url rows in
        # upstream arrival order, which varies with partitioning
        pdf = pdf.sort_values([url_col, html_col])
        pages = [
            (u, h.encode("utf-8"))
            for u, h in zip(pdf[url_col], pdf[html_col])
        ]
        return pd.DataFrame(
            {
                file_col: [pdf[file_col].iloc[0]],
                "payload": [build_warc(pages)],
                "n_records": [len(pages) + 1],  # + warcinfo
            }
        )

    file_type = df.schema[file_col].dataType.simpleString()
    return df.groupBy(file_col).applyInPandas(
        fn, schema=f"{file_col} {file_type}, payload binary, n_records int"
    )


def warc_records(
    df: DataFrame, payload_col: str = "payload", key_col: str = "file_id"
) -> DataFrame:
    """1→N record explode over WARC files: (key, warc_bytes) ->
    (key, rec_index, rec_type, url, http_status, content_type, body) —
    the web-scale ingest front door (Common Crawl arrives as WARC).
    Peak per-task memory is one file's DECOMPRESSED payload (parse_warc
    materializes the member stream before splitting records); at
    cluster scale the unit of parallelism is the FILE (binary source
    rows), so both skew and memory follow file sizing, which the
    crawler already bounds (~1 GB). Body stays ``binary`` — charset
    decode is the caller's step."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from granulate_char_ocr_spark.functions.warc import parse_warc

        for pdf in batches:
            keys, idxs, types, urls, stats, cts, bodies = (
                [], [], [], [], [], [], [],
            )
            for k, p in zip(pdf[key_col], pdf[payload_col]):
                for i, r in enumerate(parse_warc(bytes(p))):
                    keys.append(k)
                    idxs.append(i)
                    types.append(r.rec_type)
                    urls.append(r.url)
                    stats.append(r.http_status)
                    cts.append(r.http_content_type or r.content_type)
                    bodies.append(r.body)
            yield pd.DataFrame(
                {
                    key_col: keys,
                    "rec_index": idxs,
                    "rec_type": types,
                    "url": urls,
                    "http_status": stats,
                    "content_type": cts,
                    "body": bodies,
                }
            )

    key_type = df.schema[key_col].dataType.simpleString()
    return df.select(key_col, payload_col).mapInPandas(
        fn,
        schema=(
            f"{key_col} {key_type}, rec_index int, rec_type string, "
            "url string, http_status int, content_type string, body binary"
        ),
    )


def decode_bodies(
    df: DataFrame,
    payload_col: str = "body",
    ct_col: str = "content_type",
    key_col: str = "doc_id",
) -> DataFrame:
    """(key, body_bytes, content_type) -> (key, text): charset-sniffed
    decode of crawled HTML bodies (functions/charset.py — BOM → HTTP
    charset= → <meta charset> prescan → UTF-8 try → windows-1252
    fallback). Real captures are not all UTF-8; a plain
    ``F.decode(body, 'UTF-8')`` mangles every legacy-encoded page.
    Arrow-batched; never raises (replacement chars mark label lies,
    NULL bodies pass through as NULL text)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from granulate_char_ocr_spark.functions.charset import decode_body

        for pdf in batches:
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col],
                    "text": [
                        None if b is None else decode_body(bytes(b), ct or "")
                        for b, ct in zip(pdf[payload_col], pdf[ct_col])
                    ],
                }
            )

    key_type = df.schema[key_col].dataType.simpleString()
    return df.select(key_col, payload_col, ct_col).mapInPandas(
        fn, schema=f"{key_col} {key_type}, text string"
    )


def docx_texts(
    df: DataFrame,
    payload_col: str = "payload",
    key_col: str = "doc_id",
) -> DataFrame:
    """(key, office_bytes) -> (key, extracted, n_members): word-processor
    text extraction (functions/zipdocx.py — ZIP central-directory walk +
    WordprocessingML flatten, falling back to the ODF content.xml
    flatten, so both .docx and .odt route through one operator).
    Unrecognized payloads yield NULL extracted (the permissive corpus
    contract: a crawl's office links include mislabeled HTML and
    truncated downloads); n_members is the ZIP census when the
    container parses at all."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from granulate_char_ocr_spark.functions.zipdocx import (
            docx_text,
            odt_text,
            zip_entries,
        )

        for pdf in batches:
            texts, counts = [], []
            for p in pdf[payload_col]:
                data = bytes(p)
                entries = zip_entries(data)
                counts.append(len(entries) if entries is not None else None)
                t = docx_text(data)
                texts.append(t if t is not None else odt_text(data))
            yield pd.DataFrame(
                {
                    key_col: pdf[key_col],
                    "extracted": texts,
                    "n_members": pd.array(counts, dtype="Int32"),
                }
            )

    key_type = df.schema[key_col].dataType.simpleString()
    return df.select(key_col, payload_col).mapInPandas(
        fn, schema=f"{key_col} {key_type}, extracted string, n_members int"
    )


def archive_members(
    df: DataFrame,
    payload_col: str = "payload",
    key_col: str = "doc_id",
) -> DataFrame:
    """(key, archive_bytes) -> (key, member_name, member_size, member):
    1-to-N explode of TAR (incl. .tar.gz) and ZIP payloads into member
    rows — the ingest front of corpus tarballs and office containers.
    Container kind is sniffed per row (gzip/ustar checksum vs ZIP
    central directory); non-archives yield zero rows (count them
    upstream via an anti-join on key, the S4 decode_error convention).

    Scale shape: one Arrow-batched Python stage, no shuffle; member
    rows inherit the input partitioning, so a downstream router
    (extension dispatch into the pdf/docx/html/image legs) stays
    pipeline-local. Arrow's 2 GiB per-cell bound applies to archives as
    it does to every other payload column — shard bigger tarballs at
    the source."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from granulate_char_ocr_spark.functions import zipdocx
        from granulate_char_ocr_spark.functions import tar as tarmod

        for pdf in batches:
            keys, names, sizes, blobs = [], [], [], []
            for key, p in zip(pdf[key_col], pdf[payload_col]):
                data = bytes(p)
                entries = zipdocx.zip_entries(data)
                if entries is not None:
                    pairs = [
                        (name, zipdocx.zip_read(data, name))
                        for name, _ in entries
                    ]
                else:
                    pairs = [
                        (name, payload)
                        for name, tf, payload in tarmod.iter_tar(data)
                        if tf != "5"
                    ]
                for name, payload in pairs:
                    if payload is None:
                        continue  # CRC-corrupt ZIP member: skip
                    keys.append(key)
                    names.append(name)
                    sizes.append(len(payload))
                    blobs.append(payload)
            yield pd.DataFrame(
                {
                    key_col: keys,
                    "member_name": names,
                    "member_size": pd.array(sizes, dtype="Int64"),
                    "member": blobs,
                }
            )

    key_type = df.schema[key_col].dataType.simpleString()
    return df.select(key_col, payload_col).mapInPandas(
        fn,
        schema=(
            f"{key_col} {key_type}, member_name string, "
            "member_size long, member binary"
        ),
    )


def xlsx_tables(
    df: DataFrame,
    payload_col: str = "payload",
    key_col: str = "doc_id",
    sheet: int = 1,
) -> DataFrame:
    """(key, xlsx_bytes) -> (key, row_idx, cells, n_cells): spreadsheet
    rows recovered as structured data (functions/zipdocx.xlsx_rows —
    shared/inline strings resolved, numbers verbatim), the SpreadsheetML
    sibling of html_tables. Non-XLSX payloads yield zero rows (count
    them upstream via an anti-join on key). Arrow-batched mapInPandas,
    rows inherit the input partitioning."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from granulate_char_ocr_spark.functions.zipdocx import xlsx_rows

        for pdf in batches:
            keys, idxs, cells, ns = [], [], [], []
            for key, p in zip(pdf[key_col], pdf[payload_col]):
                rows = xlsx_rows(bytes(p), sheet=sheet)
                if rows is None:
                    continue
                for i, row in enumerate(rows):
                    keys.append(key)
                    idxs.append(i)
                    cells.append(row)
                    ns.append(len(row))
            yield pd.DataFrame(
                {
                    key_col: keys,
                    "row_idx": pd.array(idxs, dtype="Int32"),
                    # object dtype: equal-length rows would otherwise
                    # infer a 2-D block Arrow can't convert
                    "cells": pd.Series(cells, dtype=object),
                    "n_cells": pd.array(ns, dtype="Int32"),
                }
            )

    key_type = df.schema[key_col].dataType.simpleString()
    return df.select(key_col, payload_col).mapInPandas(
        fn,
        schema=(
            f"{key_col} {key_type}, row_idx int, "
            "cells array<string>, n_cells int"
        ),
    )
