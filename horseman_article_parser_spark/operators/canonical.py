"""Empty-content fallback chain: canonical re-fetch (SURVEY §2.1 S8).

Behavior-parity reimplementation of the reference's thin-page rescue
(/root/reference/index.js:1243-1336): when a fetched page yields fewer
than 2 substantial paragraphs (>60 chars inside the main/article scope),
follow its <link rel="canonical"> href, re-fetch, re-extract paragraphs
from the canonical page, and — if ≥2 — synthesize the reference's
`.live-summary` container from the top 5.

Spark shape: ONE fused Arrow pass (mapInPandas) that filters thin rows
in-kernel, so the canonical fetch happens only for the thin subset — a
filtered second wave, not a full re-crawl. Fetches inside the kernel
overlap via `probe.overlapped`, the thread-pool map the crawl fetch
stage uses. The crawl's own S8 step calls `rescue_thin_page` per URL.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.htmldom import Element, parse_html
from .probe import overlapped

_WS_RE = re.compile(r"\s+")
MIN_PARA_CHARS = 60
MIN_PARAS = 2
MAX_PARAS = 5


def _scope(root: Element) -> Element:
    """main, article, [role=main], else body, else document
    (index.js:1253,1289)."""
    for el in root.iter():
        if el.tag in ("main", "article") or el.get("role") == "main":
            return el
    return root.find("body") or root


def substantial_paragraphs(html: str | None) -> list[str]:
    """Scope paragraphs with >60 chars of collapsed text, first 5
    (index.js:1254-1258)."""
    if not html:
        return []
    scope = _scope(parse_html(html))
    out = []
    for p in scope.find_all("p"):
        txt = _WS_RE.sub(" ", p.text()).strip()
        if txt and len(txt) > MIN_PARA_CHARS:
            out.append(txt)
            if len(out) >= MAX_PARAS:
                break
    return out


def canonical_href(html: str | None) -> str | None:
    """<link rel="canonical"> href (index.js:1245-1246)."""
    if not html:
        return None
    for el in parse_html(html).find_all("link"):
        if (el.get("rel") or "").lower() == "canonical" and el.get("href"):
            return el.get("href")
    return None


def live_summary_html(paras: list[str]) -> str:
    """The reference's synthesized container (index.js:1322-1327)."""
    parts = ['<div class="live-summary">']
    parts.extend(f'<div class="entry"><p>{p}</p></div>' for p in paras)
    parts.append("</div>")
    return "".join(parts)


REFETCH_STRUCT = T.StructType(
    [
        T.StructField("used", T.BooleanType()),
        T.StructField("n_entries", T.IntegerType()),
        T.StructField("first_para", T.StringType()),
        T.StructField("synth_html", T.StringType()),
    ]
)


def rescue_thin_page(
    html: str | None, fetch_fn: Callable[[str], tuple[int, str]]
) -> dict:
    """Per-page kernel: the fallback decision chain for one page."""
    paras = substantial_paragraphs(html)
    if len(paras) >= MIN_PARAS:
        return {"used": False, "n_entries": 0, "first_para": paras[0],
                "synth_html": None}
    canon = canonical_href(html)
    if canon:
        status, chtml = fetch_fn(canon)
        if status == 200 and chtml:
            cparas = substantial_paragraphs(chtml)
            if len(cparas) >= MIN_PARAS:
                return {
                    "used": True,
                    "n_entries": len(cparas),
                    "first_para": cparas[0],
                    "synth_html": live_summary_html(cparas),
                }
    return {
        "used": False,
        "n_entries": 0,
        "first_para": paras[0] if paras else None,
        "synth_html": None,
    }


def canonical_refetch(
    pages: DataFrame,
    fetch_fn: Callable[[str], tuple[int, str]],
) -> DataFrame:
    """(doc_id, html) → (doc_id, used, n_entries, first_para, synth_html).

    Thin rows are detected in-kernel; only those fetch their canonical
    URL (thread-pool overlapped). Rich rows pass through untouched."""
    out_schema = T.StructType(
        [pages.schema["doc_id"], T.StructField("rescue", REFETCH_STRUCT)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rescues = overlapped(lambda h: rescue_thin_page(h, fetch_fn),
                                 list(pdf["html"]))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "rescue": rescues})

    return pages.select("doc_id", "html").mapInPandas(
        run, schema=out_schema
    ).select("doc_id", "rescue.*")
