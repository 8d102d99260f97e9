"""Text renderings and selector stripping (SURVEY §2.2 F7/F11/F12,
§2.7 X10).

Behavior-parity reimplementations of the reference's text pipeline
(/root/reference/controllers/textProcessing.js):

- strip_tags      ≈ striptags option (/root/reference/index.js:801-828):
  remove nodes matching tag / .class / #id selectors before analysis.
- raw_text        ≈ getRawText (textProcessing.js:478-500): images and
  their captions dropped (stripImagesForRawText :428-477), bracketed
  URL-ish segments blanked, URL tokens stripped (urlSanitizer
  families), newline-between-sentences → '. ' join, whitespace
  collapse. The reference renders via html-to-text; here block text
  comes from the DOM walk directly (same visible-text semantics).
- formatted_text  ≈ getFormattedText (:501-519): UPPERCASED title +
  blank-line-separated blocks, headings uppercased.
- html_text       ≈ getHtmlText (:520-529): each line span-wrapped —
  faithful string-op port of the published behavior (pure string ops).

All are pure Python kernels; `render_page` combines them per page and
`render_texts` runs it behind an Arrow UDF, emitting
struct(raw, formatted, html).
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.htmldom import Element, clean_ws, parse_html, to_html

_BLOCK_TAGS = frozenset(
    "p h1 h2 h3 h4 h5 h6 li blockquote pre td th dt dd figcaption".split()
)
_HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())
_IMAGE_WRAPPERS = frozenset("figure picture img figcaption".split())
_CAPTION_CLASSES = frozenset(
    "caption image-caption media-caption wp-caption-text gallery-caption".split()
)
_URL_RES = [
    re.compile(r"data:[^\s]+", re.I),
    re.compile(r"(?:https?|ftp)://[^\s]+", re.I),
    re.compile(r"www\.[^\s]+", re.I),
    re.compile(r"\b[a-z0-9-]+(?:\.[a-z0-9-]+){2,}(?:/[^\s]*)?\b", re.I),
]
_BRACKET_RE = re.compile(r"\[[^\]]*\]")
_SENTENCE_JOIN_RE = re.compile(
    r"(?<=[\w])\s*\n+\s*(?=[\"'(‘’“”]*[A-Z0-9])"
)


def _matches(el: Element, selector: str) -> bool:
    if selector.startswith("."):
        return selector[1:] in el.classes
    if selector.startswith("#"):
        return el.get("id") == selector[1:]
    return el.tag == selector.lower()


def strip_tags(html: str | None, selectors: list[str]) -> str | None:
    """F7: serialize the DOM minus any node matching the selectors."""
    if html is None:
        return None
    root = parse_html(html)

    def prune(node: Element) -> None:
        node.children = [
            c for c in node.children
            if not (isinstance(c, Element) and any(_matches(c, s) for s in selectors))
        ]
        for c in node.children:
            if isinstance(c, Element):
                prune(c)

    prune(root)
    return to_html(root)


def _is_caption(el: Element) -> bool:
    return el.tag == "figcaption" or any(c in _CAPTION_CLASSES for c in el.classes)


# ------------------------------------------------- F10 boilerplate strip
# Behavior parity with transformArticleHtml / stripNonArticleElements
# (/root/reference/controllers/textProcessing.js:263-426,543-545): CTA /
# ad / related-content node removal via (a) attribute-keyword signals on
# short nodes, (b) CTA text keywords on short low-sentence-count nodes,
# (c) anchor-dominated nodes, plus static/interactive chrome and
# nav/footer. Keyword lists are the reference's behavioral constants
# (textProcessing.js:7-23).

CTA_ATTR_KEYWORDS = (
    "newsletter", "subscribe", "subscription", "signup", "sign-up", "sign_up",
    "calltoaction", "call-to-action", "cta", "promo", "promotion", "promoted",
    "advert", "ads", "adunit", "ad-unit", "ad_slot", "sponsor", "sponsored",
    "sponsorship", "related", "recirc", "recirculation", "readmore",
    "read-more", "readnext", "read-next", "mostread", "most-read",
    "mostpopular", "most-popular", "popular", "trending", "recommended",
    "recommendation", "outbrain", "taboola", "share", "social", "follow",
    "followus", "follow-us", "follow_btn", "email-signup", "email_signup",
    "optin", "opt-in", "marketing", "commerce", "partner-link", "affiliate",
    "byline-block", "metadata-block", "topic-list",
)

CTA_TEXT_KEYWORDS = (
    "sign up", "sign me up", "sign in", "subscribe", "subscription",
    "newsletter", "call to action", "cta", "join now", "join today",
    "join us", "get started", "get the latest", "get updates", "get our",
    "read more", "read next", "watch now", "listen now", "learn more",
    "share this", "share on", "follow us", "follow on", "follow the",
    "donate", "support us", "support our", "buy now", "shop now",
    "order now", "start trial", "start your trial", "start free trial",
    "start a free trial", "log in", "log on", "login", "register",
    "register now", "register today", "advertisement", "advertiser",
    "sponsored content", "paid post", "promo code",
)

_ALWAYS_REMOVE_TAGS = frozenset(("nav", "footer"))
_STATIC_TAGS = frozenset(
    "script style noscript template iframe canvas svg video audio track "
    "map object embed picture source".split()
)
_INTERACTIVE_TAGS = frozenset(
    "form button input select textarea label details summary dialog".split()
)
_ROLE_REMOVE = frozenset(("button", "link", "menu", "dialog"))
_SENTENCE_SPLIT_RE = re.compile(r"[.!?]+")
_ATTR_SIGNAL_NAME_RE = re.compile(r"^data-|^aria-|^role$", re.I)
_ATTR_NAME_SUFFIX_RE = re.compile(r"name$", re.I)


def _meaningful_text(el: Element) -> str:
    """normalizeWhitespace + must contain a letter/digit, else ''
    (textProcessing.js:86-96)."""
    txt = clean_ws(el.text()) or ""
    if not txt or not any(ch.isalnum() for ch in txt):
        return ""
    return txt


def _attr_signals(el: Element) -> str:
    """id + class tokens + data-/aria-/role/*name attribute values,
    joined and lowercased (collectAttributeSignals, :106-131)."""
    sig: list[str] = []
    node_id = el.get("id")
    if node_id:
        sig.append(node_id)
    sig.extend(c for c in el.classes if c)
    for name, value in el.attrs.items():
        if not name or name in ("id", "class", "style"):
            continue
        if not (_ATTR_SIGNAL_NAME_RE.search(name) or _ATTR_NAME_SUFFIX_RE.search(name)):
            continue
        if value and str(value).strip():
            sig.append(str(value))
    return " ".join(sig).lower()


def _anchor_text_len(el: Element) -> int:
    return sum(len(_meaningful_text(a)) for a in el.find_all("a"))


def _count_sentences(text: str) -> int:
    return sum(
        1 for part in _SENTENCE_SPLIT_RE.split(text) if (clean_ws(part) or "")
    )


def _remove_by_attributes(el: Element, text_len: int) -> bool:
    """shouldRemoveByAttributes (:398-407): attr-keyword hit on a node
    with <= 800 chars of meaningful text."""
    if text_len > 800:
        return False
    haystack = _attr_signals(el)
    if not haystack:
        return False
    return any(kw in haystack for kw in CTA_ATTR_KEYWORDS)


def _remove_by_text(el: Element, text: str) -> bool:
    """shouldRemoveByText (:430-447): CTA text keyword in a <=400-char,
    <=2-sentence node; or a <=600-char node whose anchors carry >=90%
    of its text."""
    text_len = len(text)
    lower = text.lower()
    if text_len <= 400:
        for kw in CTA_TEXT_KEYWORDS:
            if kw in lower:
                if _count_sentences(text) <= 2:
                    return True
                break
    if text_len <= 600:
        anchor_len = _anchor_text_len(el)
        if anchor_len > 0 and anchor_len >= text_len * 0.9:
            return True
    return False


def _detach(el: Element) -> None:
    parent = el.parent
    if parent is not None and el in parent.children:
        parent.children.remove(el)


def _depth(el: Element) -> int:
    d = 0
    node = el.parent
    while node is not None:
        d += 1
        node = node.parent
    return d


def strip_non_article(html: str | None) -> str | None:
    """F10: stripNonArticleElements — remove chrome, CTA, ad, related
    and anchor-dominated nodes; return the cleaned HTML."""
    if html is None:
        return None
    root = parse_html(html)

    # pass 1: static + interactive chrome and removal-roles
    for el in list(root.iter()):
        if (
            el.tag in _STATIC_TAGS
            or el.tag in _INTERACTIVE_TAGS
            or (el.get("role") or "").lower() in _ROLE_REMOVE
        ):
            _detach(el)
    # pass 2: text-less anchors and list items; empty figcaption/figure
    for el in list(root.iter()):
        if el.tag in ("a", "li") and not _meaningful_text(el):
            _detach(el)
    for fig in list(root.find_all("figure")):
        cap = fig.find("figcaption")
        if cap is not None and not _meaningful_text(cap):
            _detach(cap)
        if not _meaningful_text(fig):
            _detach(fig)
    # pass 3: deepest-first CTA/boilerplate walk (:338-372)
    nodes = sorted(root.iter(), key=_depth, reverse=True)
    for el in nodes:
        if el.parent is None:
            continue
        if el.tag in _ALWAYS_REMOVE_TAGS:
            _detach(el)
            continue
        text = _meaningful_text(el)
        if not text:
            _detach(el)
            continue
        if _remove_by_attributes(el, len(text)):
            _detach(el)
            continue
        if _remove_by_text(el, text):
            _detach(el)
    return to_html(root)


def _blocks(root: Element, drop_images: bool) -> list[tuple[str, str]]:
    """(tag, text) per block element in document order, skipping nested
    duplicates and (optionally) image/caption subtrees (F11)."""
    out: list[tuple[str, str]] = []

    def walk(node: Element) -> None:
        for c in node.children:
            if not isinstance(c, Element):
                continue
            if drop_images and (c.tag in _IMAGE_WRAPPERS or _is_caption(c)):
                continue
            if c.tag in _BLOCK_TAGS:
                txt = clean_ws(c.text())
                if txt:
                    out.append((c.tag, txt))
                continue  # block's inner blocks (li>p) collapse into it
            walk(c)

    walk(root)
    return out


def _strip_urlish(text: str) -> str:
    text = _BRACKET_RE.sub(
        lambda m: " " if any(p.search(m.group(0)[1:-1]) for p in _URL_RES) else m.group(0),
        text,
    )
    for pat in _URL_RES:
        text = pat.sub(" ", text)
    return text


def raw_text(html: str | None) -> str:
    if not html:
        return ""
    root = parse_html(html)
    lines = "\n".join(t for _, t in _blocks(root, drop_images=True))
    lines = _strip_urlish(lines)
    lines = lines.replace("\r\n", "\n")
    lines = _SENTENCE_JOIN_RE.sub(". ", lines)
    lines = re.sub(r"\n+", " ", lines)
    return re.sub(r"\s+", " ", lines).strip()


def formatted_text(html: str | None, title: str | None = None) -> str:
    head = (title or "").upper()
    if not html:
        return head + "\n\n" if head else ""
    root = parse_html(html)
    parts = []
    for tag, txt in _blocks(root, drop_images=False):
        parts.append(txt.upper() if tag in _HEADING_TAGS else txt)
    return head + "\n\n" + "\n\n".join(parts)


def html_text(text: str | None) -> str:
    """X10 getHtmlText (textProcessing.js:520-529): wrap each line in a
    span (the reference skips nothing in practice — its index==length
    guard can never fire inside forEach — so every line wraps)."""
    if text is None:
        return ""
    lines = text.replace("\r\n", "\n", 1).split("\n")
    return "\n".join(f"<span>{line}</span>" for line in lines)


TEXTS_STRUCT = T.StructType(
    [
        T.StructField("raw", T.StringType()),
        T.StructField("formatted", T.StringType()),
        T.StructField("html", T.StringType()),
    ]
)


def render_page(html: str | None, title: str | None,
                strip_boilerplate: bool) -> dict:
    """struct(raw, formatted, html) of one page. strip_boilerplate runs
    the F10 CTA/ad/related-node removal (stripNonArticleElements) on
    the html first, as the reference pipeline does
    (/root/reference/index.js:1197)."""
    if strip_boilerplate:
        html = strip_non_article(html)
    fmt = formatted_text(html, title)
    return {"raw": raw_text(html), "formatted": fmt, "html": html_text(fmt)}


def render_texts(pages: DataFrame, title_col: str | None = None,
                 strip_boilerplate: bool = False) -> DataFrame:
    """(doc_id, html[, title_col]) → (doc_id, texts struct) per page,
    through `render_page`. strip_boilerplate defaults off because the
    parity fixtures for the plain renderings pin the unstripped
    output."""
    render = F.udf(lambda h, t: render_page(h, t, strip_boilerplate),
                   TEXTS_STRUCT, useArrow=True)
    title = F.col(title_col) if title_col else F.lit(None).cast("string")
    return pages.select("doc_id", render("html", title).alias("texts"))
