"""HTML main-content extraction: the stage between crawl ingest (WARC →
payload bytes) and text curation — strip markup/boilerplate, keep the
article text. Pure stdlib (html.parser), deterministic, Arrow-batched.

The extractor is a jusText/trafilatura-LITE heuristic, honestly scoped:
script/style/template/noscript subtrees are dropped, block-level tags
delimit text blocks, entities decode, whitespace collapses per block,
and a block whose characters are mostly inside <a> tags (link density >
``max_link_density``) is boilerplate and dropped — the classic nav/
footer screen. It does NOT render CSS, run JS, or rank DOM subtrees;
real deployments can swap in trafilatura behind ``extract_html``.

Scale shape: no shuffle. ``html_to_text`` is the column form, one
Arrow-batched pandas-UDF pass over any string/binary HTML column. On a
crawl, ``warc.read_warc_html`` calls ``extract_html`` inside the WARC
record walk's own mapInPandas pass instead, so WARC files become
extracted rows in one Python pass per file rather than two (each
Python-worker task has a fixed start-up cost). Both feed the text.*
curation family.
"""

from __future__ import annotations

from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SKIP_SUBTREES = {"script", "style", "noscript", "template", "svg"}
_BLOCK_TAGS = {
    "p", "div", "section", "article", "li", "ul", "ol", "table", "tr",
    "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "pre", "header",
    "footer", "nav", "aside", "main", "body", "figure", "figcaption",
}

HTML_EXTRACT_SCHEMA = ("title string, text string, n_blocks int, "
                       "n_links int, lang string, noindex boolean")
HTML_EXTRACT_COLS = tuple(f.split()[0] for f in HTML_EXTRACT_SCHEMA.split(","))


class _Extractor(HTMLParser):
    """Collect (block text, link char count) spans + the <title>."""

    def __init__(self):
        super().__init__(convert_charrefs=True)   # entities decode to text
        self.blocks: list[list] = [[[], 0]]       # [chars, link_chars]
        self.skip_depth = 0
        self.a_depth = 0
        self.in_title = False
        self.title_parts: list[str] = []
        self.n_links = 0
        self.lang = None          # <html lang="..">
        self.robots = None        # <meta name=robots content="..">

    def handle_starttag(self, tag, attrs):
        if tag == "html" and self.lang is None:
            self.lang = dict(attrs).get("lang")
        elif tag == "meta":
            a = {k.lower(): (v or "") for k, v in attrs}
            if a.get("name", "").lower() == "robots":
                self.robots = a.get("content", "").lower()
        if tag in _SKIP_SUBTREES:
            self.skip_depth += 1
            return
        if self.skip_depth:
            return
        if tag == "title":
            self.in_title = True
        elif tag == "a":
            self.a_depth += 1
            self.n_links += 1
        elif tag in _BLOCK_TAGS:
            self.blocks.append([[], 0])
        elif tag == "br":
            self.blocks[-1][0].append("\n")

    def handle_endtag(self, tag):
        if tag in _SKIP_SUBTREES:
            self.skip_depth = max(0, self.skip_depth - 1)
            return
        if self.skip_depth:
            return
        if tag == "title":
            self.in_title = False
        elif tag == "a":
            self.a_depth = max(0, self.a_depth - 1)
        elif tag in _BLOCK_TAGS:
            self.blocks.append([[], 0])

    def handle_data(self, data):
        if self.skip_depth:
            return
        if self.in_title:
            self.title_parts.append(data)
            return
        self.blocks[-1][0].append(data)
        if self.a_depth:
            self.blocks[-1][1] += len(data)


def extract_html(raw: str, max_link_density: float = 0.5):
    """(title, text, n_blocks, n_links, lang, noindex) from one HTML
    string. Blocks whose non-whitespace characters sit mostly inside
    links are dropped as boilerplate; surviving blocks join with single
    newlines, inner whitespace collapsed. ``lang`` is the declared
    <html lang> attribute (a curation hint, not detection — pair with
    text.lang_id); ``noindex`` reflects a robots meta directive, the
    politeness signal a crawler-derived corpus must honor."""
    p = _Extractor()
    try:
        p.feed(raw)
        p.close()
    except Exception:
        return None, None, None, None, None, None   # malformed beyond recovery
    out = []
    for chars, link_chars in p.blocks:
        textraw = "".join(chars)
        text = " ".join(textraw.split())
        if not text:
            continue
        density = link_chars / max(1, len(textraw.strip()))
        if density > max_link_density:
            continue
        out.append(text)
    title = " ".join("".join(p.title_parts).split()) or None
    noindex = "noindex" in p.robots if p.robots is not None else False
    return title, "\n".join(out), len(out), p.n_links, p.lang, noindex


def html_to_text(df: DataFrame, col: str = "html",
                 max_link_density: float = 0.5,
                 prefix: str = "extracted_") -> DataFrame:
    """Append ``{prefix}title/text/n_blocks/n_links`` columns extracted
    from the HTML column — one Arrow-batched pass, no shuffle. Accepts
    string or binary (decoded UTF-8 with replacement) input; the prefix
    keeps extraction outputs clear of source-table column names."""

    def run(s):
        rows = []
        for v in s:
            if v is None:
                rows.append((None, None, None, None, None, None))
                continue
            raw = v.decode("utf-8", "replace") if isinstance(
                v, (bytes, bytearray)) else str(v)
            rows.append(extract_html(raw, max_link_density))
        return pd.DataFrame(rows, columns=list(HTML_EXTRACT_COLS))

    udf = F.pandas_udf(run, HTML_EXTRACT_SCHEMA)
    ex = df.withColumn("_ex", udf(F.col(col)))
    return ex.select(
        *df.columns,
        *[F.col(f"_ex.{c}").alias(f"{prefix}{c}")
          for c in HTML_EXTRACT_COLS])
