"""Liveblog entry harvest (SURVEY §2.4 A13).

Behavior-parity reimplementation of buildLiveBlogSummary
(/root/reference/controllers/liveBlog.js:1-92): timestamped update
containers (≤40 collected, ≤200 time nodes scanned), scored
`(has time) + (title > 12) + (body > 60) ≥ 2` with body > 40; fallback
to live-blog-class roots when < 5 found, then amp-live-list candidates
when < 3; "enough" gate `(≥3 entries ∧ ≥200 body chars) ∨ (≥2 ∧ ≥500)`;
top-5 emitted.

Spark surface: `build_liveblog_summary` per page behind an Arrow UDF,
emitting the structured entry array (time, title, body) plus the
ok/count/chars rollup — the html re-rendering the reference does is
presentation, kept as structured columns instead (recoverable
trivially).
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.htmldom import Element, parse_html

MAX_UPDATES = 40
_WS = re.compile(r"\s+")
_LIVE_CLASSES = ("live", "live-blog", "liveblog", "timeline", "live_updates",
                 "updates", "update")
_TITLE_SEL_TAGS = ("h1", "h2", "h3", "h4")
_TITLE_SEL_CLASSES = ("headline", "title")


def _text(el: Element | None) -> str:
    if el is None:
        return ""
    return _WS.sub(" ", el.text()).strip()


def _first_title(container: Element) -> Element | None:
    for el in container.iter():
        if el.tag in _TITLE_SEL_TAGS or any(
            c in _TITLE_SEL_CLASSES for c in el.classes
        ):
            return el
    return None


def _ancestor(node: Element) -> Element | None:
    n: Element | None = node
    depth = 0
    while n is not None and depth < 5:
        if n.tag in ("article", "section", "li", "div"):
            return n
        n = n.parent
        depth += 1
    return node.parent


def build_liveblog_summary(html: str | None) -> dict:
    """Per-page kernel → {ok, count, chars, entries:[{time,title,body}]}."""
    empty = {"ok": False, "count": 0, "chars": 0, "entries": []}
    if not html:
        return empty
    root = parse_html(html)
    items: list[dict] = []
    seen: set[int] = set()

    time_nodes = [
        el for el in root.iter()
        if el.tag == "time" or el.get("datetime") is not None
    ][:200]
    for t in time_nodes:
        container = _ancestor(t)
        if container is None or id(container) in seen:
            continue
        seen.add(id(container))
        tt = _text(t)
        hd = _text(_first_title(container))
        pv = _text(container.find("p"))
        score = (1 if tt else 0) + (1 if len(hd) > 12 else 0) + (1 if len(pv) > 60 else 0)
        if score >= 2 and len(pv) > 40:
            items.append({"time": tt, "title": hd, "body": pv})
        if len(items) >= MAX_UPDATES:
            break

    if len(items) < 5:
        roots = [
            el for el in root.iter()
            if any(c in _LIVE_CLASSES for c in el.classes)
        ][:200]
        for r in roots:
            if id(r) in seen:
                continue
            seen.add(id(r))
            hd = _text(_first_title(r))
            pv = _text(r.find("p"))
            if len(pv) > 120 or (len(hd) > 15 and len(pv) > 60):
                items.append({"time": "", "title": hd, "body": pv})
            if len(items) >= MAX_UPDATES:
                break

    if len(items) < 3:
        amp_lists = root.find_all("amp-live-list")[:5]
        for lst in amp_lists:
            candidates = [
                el for el in lst.iter()
                if el.tag in ("article", "li")
                or el.get("role") == "article"
                or any(c in ("update", "post") for c in el.classes)
            ][:50]
            for c in candidates:
                if id(c) in seen:
                    continue
                seen.add(id(c))
                time_el = next(
                    (e for e in c.iter()
                     if e.tag == "time" or e.get("datetime") is not None),
                    None,
                )
                tt = _text(time_el)
                hd = _text(_first_title(c))
                pv = _text(c.find("p"))
                if len(pv) > 120 or (len(hd) > 15 and len(pv) > 60) or (tt and len(pv) > 60):
                    items.append({"time": tt, "title": hd, "body": pv})
                if len(items) >= MAX_UPDATES:
                    break
            if len(items) >= MAX_UPDATES:
                break

    total_body = sum(len(it["body"]) for it in items)
    enough = (len(items) >= 3 and total_body >= 200) or (
        len(items) >= 2 and total_body >= 500
    )
    if not enough:
        return empty
    used = items[:5]
    return {
        "ok": True,
        "count": len(used),
        "chars": sum(len(it["body"]) for it in used),
        "entries": used,
    }


LIVEBLOG_STRUCT = T.StructType(
    [
        T.StructField("ok", T.BooleanType()),
        T.StructField("count", T.IntegerType()),
        T.StructField("chars", T.IntegerType()),
        T.StructField(
            "entries",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("time", T.StringType()),
                        T.StructField("title", T.StringType()),
                        T.StructField("body", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)


def liveblog_summaries(pages: DataFrame) -> DataFrame:
    """DataFrame op: (doc_id, html) → (doc_id, liveblog struct)."""
    summary = F.udf(build_liveblog_summary, LIVEBLOG_STRUCT, useArrow=True)
    return pages.select("doc_id", summary("html").alias("liveblog"))
