"""HTML main-content extraction / boilerplate removal — the FIRST
text operator of every real curation pipeline.

A crawl's documents arrive as HTML; everything downstream in this
engine (NFC normalization, C4 line dedup, Gopher rules, MinHash,
the pretraining pipeline) assumes extracted main text. This module
implements the public jusText/Arc90-class algorithm over stdlib
`html.parser` — no dependency, fully deterministic:

1. DROP subtrees that never contain content: script, style,
   noscript, template, svg, head (their character data is code, not
   text).
2. SEGMENT the remaining character data into blocks at block-level
   tag boundaries (p, div, h1-h6, li, td, blockquote, pre, ...) —
   the jusText notion of a paragraph.
3. CLASSIFY each block by the published boilerplate signals:
   - structural prior: any nav/header/footer/aside/form ancestor
     marks the block boilerplate (site chrome);
   - link density: anchor characters / total characters >= 1/3
     marks it boilerplate (menus, related-article lists, tag
     clouds — the Arc90 readability rule);
   - length: fewer than `MIN_CONTENT_CHARS` characters with no
     terminal sentence punctuation marks it boilerplate (button
     labels, timestamps, bylines).
   Everything else is content.
4. JOIN content blocks with a blank line; entity references were
   already resolved by the parser (convert_charrefs), so the output
   is plain text ready for the text surface.

The oracled query uses the engine's established injection pattern
(`text_normalize_nfc`, operators/text.py): the fixture corpus is
plain text, so the query first WRAPS each document in a
deterministic HTML page — site chrome, a doc_id-varying link-dense
"related" list, the text inside the single content <p>, everything
built JVM-side in codegen — then extracts. The wrapper is engineered
so the exact original text is the unique correct extraction, and the
boilerplate-block count is a closed-form function of doc_id, so the
DuckDB oracle states BOTH from the parquet alone: a hash match
proves segmentation, classification, and entity round-tripping on
every document.

Reference: thanminh24/Flink-Stream's pipeline starts at extracted
JSON documents (flink/jobs/flink_json_to_iceberg.py); this operator
is the upstream extraction producing them, per SURVEY §2 Part B.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_stream_spark.catalog import load_table
from flink_stream_spark.operators.layout import sorted_result, spread
from flink_stream_spark.operators.registry import register

# subtrees whose character data is never content
_DROP_TAGS = {"script", "style", "noscript", "template", "svg", "head"}
# block-level boundaries that close the current text block
_BLOCK_TAGS = {
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th",
    "blockquote", "pre", "article", "section", "main", "body", "table",
    "ul", "ol", "tr", "nav", "header", "footer", "aside", "form",
    "figure", "figcaption", "dd", "dt", "br", "hr",
}
# structural boilerplate containers (site chrome)
_CHROME_TAGS = {"nav", "header", "footer", "aside", "form"}

MAX_LINK_DENSITY = 1 / 3
MIN_CONTENT_CHARS = 25
_SENTENCE_END = (".", "!", "?", '"', "'")


class _Block:
    __slots__ = ("parts", "anchor_chars", "in_chrome")

    def __init__(self, in_chrome: bool):
        self.parts: list[str] = []
        self.anchor_chars = 0
        self.in_chrome = in_chrome


class _Extractor(HTMLParser):
    """One pass over the document; collects (text, link_density,
    in_chrome) per block. convert_charrefs=True (the default)
    resolves &amp;/&#x27;/... into character data before handle_data,
    so extraction inverts any correct HTML escaping exactly."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, float, bool]] = []
        self._drop_depth = 0
        self._chrome_depth = 0
        self._anchor_depth = 0
        self._cur = _Block(False)

    def _flush(self) -> None:
        text = "".join(self._cur.parts)
        if text.strip():
            total = len(text)
            ld = self._cur.anchor_chars / total if total else 0.0
            self.blocks.append((text, ld, self._cur.in_chrome))
        self._cur = _Block(self._chrome_depth > 0)

    def handle_starttag(self, tag, attrs):
        if tag in _DROP_TAGS:
            self._drop_depth += 1
            return
        if tag in _BLOCK_TAGS:
            self._flush()
        if tag in _CHROME_TAGS:
            self._chrome_depth += 1
            self._cur.in_chrome = True
        if tag == "a":
            self._anchor_depth += 1

    def handle_endtag(self, tag):
        if tag in _DROP_TAGS:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if tag in _BLOCK_TAGS:
            self._flush()
        if tag in _CHROME_TAGS:
            self._chrome_depth = max(0, self._chrome_depth - 1)
            self._cur.in_chrome = self._chrome_depth > 0
        if tag == "a":
            self._anchor_depth = max(0, self._anchor_depth - 1)

    # <br/>, <hr/> etc.
    def handle_startendtag(self, tag, attrs):
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data):
        if self._drop_depth or not data:
            return
        self._cur.parts.append(data)
        if self._anchor_depth:
            self._cur.anchor_chars += len(data)

    def close(self):
        super().close()
        self._flush()


def _classify(text: str, link_density: float, in_chrome: bool) -> bool:
    """True = content, False = boilerplate (the jusText-class ladder
    documented in the module docstring)."""
    if in_chrome:
        return False
    if link_density >= MAX_LINK_DENSITY:
        return False
    stripped = text.strip()
    if len(stripped) < MIN_CONTENT_CHARS and not stripped.endswith(
        _SENTENCE_END
    ):
        return False
    return True


def extract_blocks(html: str) -> "list[tuple[str, float, bool, bool]]":
    """All blocks as (text, link_density, in_chrome, is_content)."""
    p = _Extractor()
    p.feed(html)
    p.close()
    return [
        (t, ld, ch, _classify(t, ld, ch)) for (t, ld, ch) in p.blocks
    ]


def extract_main_text(html: str) -> "tuple[str, int, int]":
    """(main_text, n_content_blocks, n_boilerplate_blocks): content
    blocks joined by a blank line."""
    blocks = extract_blocks(html)
    content = [t for (t, _ld, _ch, ok) in blocks if ok]
    return (
        "\n\n".join(content),
        len(content),
        sum(1 for b in blocks if not b[3]),
    )


# --------------------------------------------------------------------------
# oracled query: deterministic wrapper injection (both engines)
# --------------------------------------------------------------------------


def _wrapped_html_col():
    """The deterministic page wrapper as a JVM-side codegen
    expression: chrome nav (2 links), a doc_id-varying link-dense
    'related articles' list (1 + doc_id % 4 items — classified
    boilerplate by LINK DENSITY, not chrome, so that rule is
    exercised too), a short dateline (length rule), the escaped text
    in the single content <p>, and a chrome footer. Only the
    extraction itself leaves the JVM."""
    esc = F.col("text")
    for raw, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.regexp_replace(esc, raw, ent)
    related = F.concat(
        *[
            F.when(
                F.col("doc_id") % 4 >= F.lit(i - 2),
                F.concat(
                    F.lit(f'<li><a href="/rel/{i}">related item '),
                    F.lit(str(i)),
                    F.lit("</a></li>"),
                ),
            ).otherwise(F.lit(""))
            for i in range(2, 6)
        ]
    )
    return F.concat(
        F.lit(
            "<html><head><title>doc</title><style>p{margin:0}</style>"
            '<script>var page="never text";</script></head><body>'
            '<nav><a href="/">home</a> <a href="/all">index</a></nav>'
            "<ul>"
        ),
        related,
        F.lit('</ul><div class="date">2020-01-01</div><article><p>'),
        esc,
        F.lit(
            "</p></article><footer>"
            '<a href="/tos">terms</a> · <a href="/priv">privacy</a>'
            "</footer></body></html>"
        ),
    )


@register(
    "text_html_extract",
    """
    SELECT doc_id,
           text AS main_text,
           CAST(1 AS BIGINT) AS n_content,
           CAST(4 + doc_id % 4 AS BIGINT) AS n_boiler,
           md5(text) AS text_md5
    FROM documents
    WHERE LENGTH(TRIM(text)) >= 25
    ORDER BY doc_id
    """,
    group="text",
    doc="HTML main-content extraction (jusText/Arc90-class, stdlib "
    "html.parser): each document is wrapped in a deterministic page "
    "— chrome nav, a doc_id-varying link-dense related-list (2 + "
    "doc_id%4 items), a short dateline, the HTML-ESCAPED text as the "
    "only content paragraph, a chrome footer — entirely JVM-side in "
    "codegen, then extracted back by the real block-segmentation + "
    "link-density + length classifier. The unique correct extraction "
    "is the exact original text (escape + entity resolution must "
    "round-trip) and the boilerplate count is the closed form "
    "4 + doc_id%4 (nav, related-list, dateline, footer), both stated "
    "by the oracle straight from parquet — so the hash proves "
    "segmentation, every classification rule, and entity handling "
    "on every document. Feeds the existing text surface (C4 line "
    "dedup, Gopher, NFC) with what a raw crawl actually provides. "
    "Scale: wrapper stays in whole-stage codegen; extraction is one "
    "narrow Arrow-batched stage, no shuffle before the final sort.",
)
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # classifiability gate, mirrored in the oracle's WHERE: the closed
    # form (1 content block, 4 + doc_id%4 boilerplate) only holds for
    # documents the length rule classifies as content — a text shorter
    # than MIN_CONTENT_CHARS would classify boilerplate and break the
    # corpus-wide hash with no diagnostic. Both engines exclude such
    # docs identically, so a short-doc fixture becomes a visible
    # row-set change instead (self-review, round 9).
    src = (
        d.filter(F.length(F.trim(F.col("text"))) >= MIN_CONTENT_CHARS)
        .transform(spread, "doc_id")
        .select("doc_id", _wrapped_html_col().alias("html"))
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, ncs, nbs = [], [], []
            for h in pdf["html"]:
                t, nc, nb = extract_main_text(h)
                texts.append(t)
                ncs.append(nc)
                nbs.append(nb)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "main_text": texts,
                    "n_content": ncs,
                    "n_boiler": nbs,
                }
            )

    out = src.mapInPandas(
        _extract,
        "doc_id bigint, main_text string, n_content bigint, "
        "n_boiler bigint",
    )
    return out.select(
        "doc_id",
        "main_text",
        "n_content",
        "n_boiler",
        F.md5(F.encode("main_text", "utf-8")).alias("text_md5"),
    ).transform(sorted_result, "doc_id")


@register(
    "pipeline_crawl_extract",
    """
    SELECT doc_id,
           lang,
           CAST(LENGTH(text) AS BIGINT) AS content_chars,
           CAST(4 + doc_id % 4 AS BIGINT) AS n_boiler,
           md5(text) AS text_md5
    FROM documents
    WHERE LENGTH(TRIM(text)) >= 25
    ORDER BY doc_id
    """,
    group="pipeline",
    doc="The crawl-to-corpus FRONT of the pipeline, composed "
    "end-to-end: each document is wrapped in the deterministic HTML "
    "page (JVM-side), written as a RAW-HTML WARC crawl — real "
    "multi-member .warc.gz with CDX sidecars, WARC-Type response, "
    "Content-Type text/html (operators/warc.py) — then scanned back "
    "the splittable way (CDX slices spread across the cluster, "
    "per-member seek+gunzip+record parse), and the recovered HTML "
    "runs through the jusText-class extractor. Output: the language "
    "parsed from the record header, the extracted text's length and "
    "md5, and the boilerplate-block count. The oracle states all of "
    "it straight from parquet — so one hash match proves the WARC "
    "writer, member framing, index, record parser, entity handling, "
    "and every boilerplate rule COMPOSED, exactly the path a 100 TB "
    "crawl takes to become training text. Scale: write and scan "
    "split per member; extraction is one narrow Arrow stage; no "
    "shuffle before the final sort.",
)
def pipeline_crawl_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from flink_stream_spark.operators.warc import (
        _work_dir as _warc_work_dir,
        warc_scan,
        write_warc_gz,
    )

    d = load_table(spark, sf_dir, "documents")
    # classifiability gate, mirrored in the oracle (see
    # text_html_extract)
    html_docs = d.filter(
        F.length(F.trim(F.col("text"))) >= MIN_CONTENT_CHARS
    ).select("doc_id", _wrapped_html_col().alias("text"), "lang")
    out_dir = os.path.join(_warc_work_dir(spark, sf_dir), "html_crawl")
    write_warc_gz(
        html_docs, out_dir, warc_type="response", content_type="text/html"
    )
    crawl = warc_scan(spark, out_dir).select(
        "doc_id", F.col("lang"), F.col("text").alias("html")
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, nbs = [], []
            for h in pdf["html"]:
                t, _nc, nb = extract_main_text(h)
                texts.append(t)
                nbs.append(nb)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "main_text": texts,
                    "n_boiler": nbs,
                }
            )

    out = crawl.mapInPandas(
        _extract,
        "doc_id bigint, lang string, main_text string, n_boiler bigint",
    )
    return out.select(
        "doc_id",
        "lang",
        F.length("main_text").alias("content_chars"),
        "n_boiler",
        F.md5(F.encode("main_text", "utf-8")).alias("text_md5"),
    ).transform(sorted_result, "doc_id")
