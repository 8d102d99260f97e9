"""Article extraction: HTML → wide nullable struct, per page.

The reference builds its nested `article` object imperatively across
~1,400 lines (/root/reference/index.js:123-1554); here the same WHAT is
restated as ONE per-page function, `extract_article`, producing a fixed
nullable StructType (SURVEY §1.3: absent key ⇒ null/empty — the
faithful columnar encoding of the reference's schemaless output). It
runs behind an Arrow UDF (`extract_articles`) or inside the crawl's
fetch kernel; everything downstream (readability, sentiment, keyword
joins) is JVM-side column algebra.

Semantics parity (behavior, not code):
- title cascade + suffix-strip  — /root/reference/controllers/titleDetector.js:11-39
- meta name/property harvest    — /root/reference/index.js:644-673
- links: ≤1000, ws-collapsed text, drop only when href AND text empty
                                 — /root/reference/index.js:996-1012
- images: ≤500, 12-attr struct, data-src ladder, caption finder
  (closest figure → parent caption selectors → aria-describedby →
   next sibling)                — /root/reference/index.js:1014-1181
- JSON-LD Article BFS           — /root/reference/controllers/structuredData.js:199-261
- table header inference        — /root/reference/controllers/structuredData.js:43-130
- dt/dd pairing                 — /root/reference/controllers/structuredData.js:132-159
- excerpt ≈ first 200 chars to word boundary, capitalized
                                 — /root/reference/index.js:1399
"""

from __future__ import annotations

import json
import re
from urllib.parse import urljoin

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.htmldom import Element, clean_ws, get_by_id, parse_html

MAX_LINKS = 1000
MAX_IMAGES = 500

_CAPTION_SELECTORS = (
    "figcaption",
    ".caption",
    ".image-caption",
    ".media-caption",
    ".media__caption",
    ".wp-caption-text",
    ".gallery-caption",
    '[itemprop="caption"]',
)
_DATA_SRC_ATTRS = (
    "data-src",
    "data-lazy-src",
    "data-lazy",
    "data-original",
    "data-default-src",
    "data-hires",
    "data-srcset",
)
_FIGURE_CAPTION_SELECTORS = ("figcaption", ".caption", ".wp-caption-text")
_TITLE_SUFFIX_1 = re.compile(r"\s*[|–·»]\s*[^|–:·»-]{2,}\s*$")
_TITLE_SUFFIX_2 = re.compile(r"\s+-\s+[^|–:·»-]{2,}\s*$")
_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*:")
_ARTICLE_TYPE_RE = re.compile(r"Article$", re.IGNORECASE)

IMAGE_STRUCT = T.StructType(
    [
        T.StructField("index", T.IntegerType()),
        T.StructField("src", T.StringType()),
        T.StructField("alt", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("loading", T.StringType()),
        T.StructField("decoding", T.StringType()),
        T.StructField("srcset", T.StringType()),
        T.StructField("sizes", T.StringType()),
        T.StructField("dataSrc", T.StringType()),
    ]
)

TABLE_STRUCT = T.StructType(
    [
        T.StructField("caption", T.StringType()),
        T.StructField("headers", T.ArrayType(T.StringType())),
        T.StructField(
            "rows",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("cells", T.ArrayType(T.StringType())),
                        T.StructField(
                            "object", T.MapType(T.StringType(), T.StringType())
                        ),
                    ]
                )
            ),
        ),
        T.StructField("rowCount", T.IntegerType()),
        T.StructField("columnCount", T.IntegerType()),
    ]
)

ARTICLE_STRUCT = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("doc_title", T.StringType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
        T.StructField("description", T.StringType()),
        T.StructField(
            "links",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("href", T.StringType()),
                        T.StructField("text", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("images", T.ArrayType(IMAGE_STRUCT)),
        T.StructField("headline", T.StringType()),
        T.StructField("article_body", T.StringType()),
        T.StructField("n_jsonld_articles", T.IntegerType()),
        # X13: the deduped JSON-LD article nodes themselves, JS-style
        # stringified, encounter order (structuredData.js `articles[]`)
        T.StructField("jsonld_articles", T.ArrayType(T.StringType())),
        T.StructField("tables", T.ArrayType(TABLE_STRUCT)),
        T.StructField(
            "definitions",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "items",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("term", T.StringType()),
                                        T.StructField(
                                            "descriptions",
                                            T.ArrayType(T.StringType()),
                                        ),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        ),
        T.StructField(
            "figures",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("caption", T.StringType()),
                        T.StructField(
                            "images",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("src", T.StringType()),
                                        T.StructField("alt", T.StringType()),
                                        T.StructField("title", T.StringType()),
                                    ]
                                )
                            ),
                        ),
                        T.StructField("tables", T.ArrayType(TABLE_STRUCT)),
                        T.StructField("text", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("text_raw", T.StringType()),
        T.StructField("excerpt", T.StringType()),
    ]
)


def normalize_title(title: str | None) -> str | None:
    if not title:
        return None
    t = clean_ws(title) or ""
    t = _TITLE_SUFFIX_1.sub("", t)
    t = _TITLE_SUFFIX_2.sub("", t)
    t = t.strip()
    return t or None


def _absolutify(base: str | None, value: str | None) -> str | None:
    trimmed = clean_ws(value)
    if not trimmed:
        return None
    if _SCHEME_RE.match(trimmed):
        return trimmed
    if base:
        try:
            return urljoin(base, trimmed)
        except ValueError:
            return trimmed
    return trimmed


def _meta_map(root: Element) -> dict[str, str]:
    out: dict[str, str] = {}
    for el in root.find_all("meta"):
        key = el.get("name") or el.get("property")
        content = el.get("content")
        if key and content is not None and key not in out:
            out[key] = content
    return out


def _jsonld_articles(root: Element) -> tuple[str | None, str | None, list[str]]:
    """BFS every JSON-LD block for @type matching /Article$/i; first
    headline/articleBody win; article nodes deduped by their JS-style
    JSON string (insertion-order keys, no spaces) and emitted in
    encounter order — the reference's `articles[]`
    (/root/reference/controllers/structuredData.js:198-258, X13)."""
    headline = body = None
    seen: set[str] = set()
    articles: list[str] = []
    for script in root.find_all("script"):
        if (script.get("type") or "").lower() != "application/ld+json":
            continue
        raw = script.text().strip()
        if not raw:
            continue
        try:
            data = json.loads(raw)
        except ValueError:
            continue
        queue = [data]
        while queue:
            node = queue.pop(0)
            if isinstance(node, list):
                queue.extend(node)
                continue
            if not isinstance(node, dict):
                continue
            ntype = node.get("@type")
            types = ntype if isinstance(ntype, list) else [ntype]
            if any(isinstance(t, str) and _ARTICLE_TYPE_RE.search(t) for t in types):
                # JS JSON.stringify: insertion-order keys, no spaces,
                # non-ASCII unescaped — the reference's dedupe key
                key = json.dumps(node, separators=(",", ":"), ensure_ascii=False)
                if key not in seen:
                    seen.add(key)
                    articles.append(key)
                    if headline is None and isinstance(node.get("headline"), str):
                        headline = clean_ws(node["headline"])
                    if body is None and isinstance(node.get("articleBody"), str):
                        body = node["articleBody"]
            queue.extend(v for v in node.values() if isinstance(v, (dict, list)))
    return headline, body, articles


def _find_caption(img: Element, root: Element) -> str | None:
    def visit(node: Element | None) -> str | None:
        return clean_ws(node.text()) if node is not None else None

    figure = img.closest("figure")
    if figure is not None:
        for sel in _FIGURE_CAPTION_SELECTORS:
            for cand in figure.iter():
                if cand.matches_caption_selector((sel,)):
                    text = visit(cand)
                    if text:
                        return text
                    break
    parent = img.parent
    if parent is not None:
        if parent.matches_caption_selector(_CAPTION_SELECTORS):
            text = visit(parent)
            if text:
                return text
        for cand in parent.iter():
            if cand.matches_caption_selector(_CAPTION_SELECTORS):
                text = visit(cand)
                if text:
                    return text
    described = clean_ws(img.get("aria-describedby"))
    if described:
        for node_id in described.split():
            text = visit(get_by_id(root, node_id))
            if text:
                return text
    return visit(img.next_element_sibling())


def _parse_dimension(value: str | None) -> int | None:
    if value is None or value == "":
        return None
    try:
        return int(float(str(value).strip()))
    except ValueError:
        return None


def _extract_images(container: Element, root: Element, base: str | None) -> list[dict]:
    images = []
    for el in container.find_all("img")[:MAX_IMAGES]:
        src = _absolutify(base, el.get("src"))
        data_src = None
        for attr in _DATA_SRC_ATTRS:
            data_src = _absolutify(base, el.get(attr))
            if data_src:
                break
        if not src and data_src:
            src = data_src
        if not src:
            continue
        images.append(
            {
                "index": len(images),
                "src": src,
                "alt": clean_ws(el.get("alt")),
                "title": clean_ws(el.get("title")),
                "caption": _find_caption(el, root),
                "width": _parse_dimension(el.get("width")),
                "height": _parse_dimension(el.get("height")),
                "loading": clean_ws(el.get("loading")),
                "decoding": clean_ws(el.get("decoding")),
                "srcset": clean_ws(el.get("srcset")),
                "sizes": clean_ws(el.get("sizes")),
                "dataSrc": data_src,
            }
        )
    return images


def _extract_links(container: Element, base: str | None) -> list[dict]:
    links = []
    for el in container.find_all("a"):
        if len(links) >= MAX_LINKS:
            break
        href = (el.get("href") or "").strip()
        text = clean_ws(el.text()) or ""
        if not href and not text:
            continue
        links.append({"href": _absolutify(base, href) or href, "text": text})
    return links


def _cells_of(row: Element) -> list[Element]:
    """Direct td/th children — HTMLTableRowElement.cells semantics."""
    return [c for c in row.children if isinstance(c, Element) and c.tag in ("td", "th")]


def _nw(s: str | None) -> str:
    """normalizeWhitespace (/root/reference/controllers/structuredData.js:37-40):
    collapse runs, trim, '' (not None) for empty."""
    return clean_ws(s) or ""


def _parse_table(tbl: Element) -> dict | None:
    """parseTable parity (/root/reference/controllers/structuredData.js:42-130):
    header inference cascade thead-last-row → any-TH-row → first-row
    derived; colspan expansion; header-keyed object per data row.
    Deviation: the `html` echo is omitted (raw bytes stay at the scan at
    100 TB; recoverable from the source row)."""
    caption_el = tbl.find("caption")
    all_rows = tbl.find_all("tr")
    if not all_rows:
        return None

    header_row: Element | None = None
    header_idx = -1
    header_override: list[str | None] | None = None

    thead = tbl.find("thead")
    if thead is not None:
        trs = [r for r in thead.find_all("tr") if _cells_of(r)]
        if trs:
            header_row = trs[-1]
            header_idx = all_rows.index(header_row)
    if header_row is None:
        for i, row in enumerate(all_rows):
            if any(c.tag == "th" for c in _cells_of(row)):
                header_row, header_idx = row, i
                break
    if header_row is None:
        derived = [_nw(c.text()) for c in _cells_of(all_rows[0])]
        if any(derived):
            header_row, header_idx = all_rows[0], 0
            header_override = [t or None for t in derived]

    if header_override is not None:
        headers = header_override
    elif header_row is not None:
        headers = [(_nw(c.text()) or None) for c in _cells_of(header_row)]
    else:
        headers = []

    data_rows: list[dict] = []
    max_row_cols = 0
    for idx, row in enumerate(all_rows):
        if idx == header_idx:
            continue
        cells: list[tuple[str, int]] = []
        for c in _cells_of(row):
            try:
                span = int(c.get("colspan") or 1)
            except (TypeError, ValueError):
                span = 1
            cells.append((_nw(c.text()), max(span, 1)))
        if not cells:
            continue
        max_row_cols = max(max_row_cols, sum(s for _, s in cells))
        entry: dict = {"cells": [t for t, _ in cells], "object": None}
        if headers:
            expanded: list[str] = []
            for t, span in cells:
                expanded.extend([t] * span)
            obj: dict[str, str] = {}
            used = False
            for col, h in enumerate(headers):
                if not h:
                    continue
                v = expanded[col] if col < len(expanded) else ""
                obj[h] = v
                if v:
                    used = True
            if used or obj:
                entry["object"] = obj
        data_rows.append(entry)

    return {
        "caption": clean_ws(caption_el.text()) if caption_el else None,
        "headers": headers,
        "rows": data_rows,
        "rowCount": len(data_rows),
        "columnCount": len(headers) or max_row_cols,
    }


def _extract_tables(container: Element) -> list[dict]:
    out = []
    for tbl in container.find_all("table"):
        parsed = _parse_table(tbl)
        if parsed is not None:
            out.append(parsed)
    return out


def _extract_definitions(container: Element) -> list[dict]:
    """parseDefinitionList parity
    (/root/reference/controllers/structuredData.js:132-159): dt opens an
    item; dd appends to the current item (null-term item when a dd
    precedes any dt); empty texts skipped."""
    out = []
    for dl in container.find_all("dl"):
        items: list[dict] = []
        current: dict | None = None
        for child in dl.children:
            if not isinstance(child, Element):
                continue
            if child.tag == "dt":
                term = _nw(child.text())
                if not term:
                    continue
                current = {"term": term, "descriptions": []}
                items.append(current)
            elif child.tag == "dd":
                desc = _nw(child.text())
                if not desc:
                    continue
                if current is None:
                    current = {"term": None, "descriptions": []}
                    items.append(current)
                current["descriptions"].append(desc)
        if items:
            out.append({"items": items})
    return out


def _extract_figures(container: Element) -> list[dict]:
    """parseFigure parity (/root/reference/controllers/structuredData.js:161-178):
    caption, img src/alt/title, nested tables, flattened text."""
    out = []
    for fig in container.find_all("figure"):
        cap_el = fig.find("figcaption")
        images = [
            {
                "src": img.get("src"),
                "alt": _nw(img.get("alt")),
                "title": _nw(img.get("title")),
            }
            for img in fig.find_all("img")
        ]
        tables = [t for t in (_parse_table(tb) for tb in fig.find_all("table")) if t]
        out.append(
            {
                "caption": clean_ws(cap_el.text()) if cap_el else None,
                "images": images,
                "tables": tables,
                "text": _nw(fig.text()),
            }
        )
    return out


_BLOCK_TAGS = frozenset("p h1 h2 h3 h4 h5 h6 li blockquote".split())


def _block_text(container: Element) -> str:
    parts = []
    for el in container.iter():
        if el.tag in _BLOCK_TAGS:
            txt = clean_ws(el.text())
            if txt:
                parts.append(txt)
    return "\n\n".join(parts)


def _excerpt(text: str | None) -> str | None:
    if not text:
        return None
    flat = clean_ws(text) or ""
    if len(flat) <= 200:
        snippet = flat
    else:
        cut = flat[:200]
        rest = flat[200:]
        extra = rest.split(" ", 1)[0] if rest and not cut.endswith(" ") else ""
        snippet = (cut + extra).strip()
    if not snippet:
        return None
    return snippet[0].upper() + snippet[1:]


ALL_ARTICLE_FIELDS = frozenset(f.name for f in ARTICLE_STRUCT.fields)
_CONTAINER_FIELDS = frozenset(
    {"title", "links", "images", "tables", "definitions", "figures",
     "text_raw", "excerpt"}
)
_META_FIELDS = frozenset({"title", "meta", "description"})
_JSONLD_FIELDS = frozenset(
    {"title", "headline", "article_body", "n_jsonld_articles",
     "jsonld_articles"}
)


def extract_article(
    url: str | None, html: str | None, fields: frozenset[str] | None = None
) -> dict:
    """Scalar extraction: one HTML document → article dict (UDF kernel).

    `fields` restricts which article keys are computed (the rest stay
    None) — the kernel-side analogue of column pruning, which Spark
    cannot apply inside a UDF's returned struct: a caller that only
    reads `article.links` should not pay for the image caption walk,
    table parsing and JSON-LD scan of every page."""
    empty = {f.name: None for f in ARTICLE_STRUCT.fields}
    if not html:
        return empty
    want = ALL_ARTICLE_FIELDS if fields is None else fields
    out = empty
    root = parse_html(html)
    if want & _CONTAINER_FIELDS:
        container = root.find("article") or root.find("body") or root
    else:
        container = root
    meta = _meta_map(root) if want & _META_FIELDS else {}
    if want & _JSONLD_FIELDS:
        headline, article_body, jsonld_arts = _jsonld_articles(root)
    else:
        headline = article_body = None
        jsonld_arts = []
    if "doc_title" in want or "title" in want:
        title_el = root.find("title")
        doc_title = clean_ws(title_el.text()) if title_el else None
    else:
        doc_title = None
    if "title" in want:
        h1 = container.find("h1") or root.find("h1")
        out["title"] = (
            normalize_title(headline)
            or normalize_title(meta.get("og:title") or meta.get("twitter:title"))
            or normalize_title(h1.text() if h1 is not None else None)
            or normalize_title(doc_title)
        )
    if "doc_title" in want:
        out["doc_title"] = doc_title
    if "meta" in want:
        out["meta"] = meta
    if "description" in want:
        out["description"] = meta.get("description")
    if "links" in want:
        out["links"] = _extract_links(container, url)
    if "images" in want:
        out["images"] = _extract_images(container, root, url)
    if "headline" in want:
        out["headline"] = headline
    if "article_body" in want:
        out["article_body"] = article_body
    if "n_jsonld_articles" in want:
        out["n_jsonld_articles"] = len(jsonld_arts)
    if "jsonld_articles" in want:
        out["jsonld_articles"] = jsonld_arts
    if "tables" in want:
        out["tables"] = _extract_tables(container)
    if "definitions" in want:
        out["definitions"] = _extract_definitions(container)
    if "figures" in want:
        out["figures"] = _extract_figures(container)
    if "text_raw" in want or "excerpt" in want:
        text_raw = _block_text(container)
        if "text_raw" in want:
            out["text_raw"] = text_raw
        if "excerpt" in want:
            out["excerpt"] = _excerpt(text_raw)
    return out


# the article keys extract_articles computes: the JSON-LD headline and
# article list, all its caller (the extract_jsonld query) reads
JSONLD_ARTICLE_FIELDS = frozenset({"headline", "n_jsonld_articles",
                                   "jsonld_articles"})


def extract_articles(fetched: DataFrame) -> DataFrame:
    """DataFrame op: adds an `article` struct column, extracted from the
    `url` and `html` columns by `extract_article` behind an Arrow UDF.
    Only those two columns cross into Python, and the kernel computes
    only the JSONLD_ARTICLE_FIELDS keys (the rest stay null), so no
    page pays for the caption walk, table parsing or meta scan nothing
    reads (see extract_article)."""
    extract = F.udf(lambda u, h: extract_article(u, h, JSONLD_ARTICLE_FIELDS),
                    ARTICLE_STRUCT, useArrow=True)
    return fetched.withColumn("article", extract("url", "html"))
