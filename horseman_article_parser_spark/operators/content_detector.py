"""Content-detector candidate features, ranking and the ML reranker
(SURVEY §2.4 A6/A11, §2.5 W1/W2, §2.7 X18/X24).

Behavior-parity reimplementation (not a port) of the reference's
contentDetector feature/scoring pipeline and logistic reranker:

- candidate gathering ≈ gatherCandidates
  (/root/reference/controllers/contentDetector.js:187-197): semantic
  selectors plus content-ish divs (>400 chars)
- per-candidate features ≈ computeFeatures (:136-162) with helpers
  (:34-134): len/punct/link-density/paragraphs/semantic/boilerplate/
  direct-p/direct-blocks/ratio/avgP/depth/headings/a11y/img-alt/consent
- heuristic score ≈ heuristicScore (:164-185) — evaluated JVM-side as a
  pure Column expression over the exploded feature rows (W2)
- ranking ≈ rankCandidates (:599-626) — row_number window (W1)
- toVector (:560-581) — 16-dim scaled vector as column expressions
- scoreWithWeights/sigmoid (:583-589) — X24 as Column algebra
- training ≈ train (/root/reference/scripts/train-reranker.js:144-169):
  `train_gd` is the exact full-batch GD (lr=0.05, 250 epochs, L2=1e-3)
  for small/driver-side parity; `train_reranker` is the distributed
  path via spark.ml LogisticRegression over the same 16-dim vectors.

Split of work: the DOM walk runs per page behind an Arrow UDF, emitting
a *narrow* feature struct per candidate (never the HTML), so scoring,
ranking and training all stay JVM-side / in spark.ml on shuffled
feature rows only.
"""

from __future__ import annotations

import math
import re

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

from ..functions.htmldom import Element, parse_html

_NEG_TAGS = frozenset("nav aside footer form header noscript template".split())
_NEG_CLASSES = frozenset(
    "comments comment related recirculation share social promo sponsor newsletter consent".split()
)
_BLOCK_TAGS = frozenset("p h2 h3 h4 ul ol li figure blockquote pre table".split())
_CONSENT_KWS = (
    "cookie", "cookies", "consent", "gdpr", "privacy",
    "data usage", "manage preferences", "advertising partners",
)
_PUNCT_RE = re.compile(r"[.!?,;:]")
_WS_RE = re.compile(r"\s+")

FEATURE_FIELDS = [
    ("len", T.IntegerType()),
    ("punct", T.IntegerType()),
    ("ld", T.DoubleType()),
    ("pc", T.IntegerType()),
    ("sem", T.IntegerType()),
    ("boiler", T.IntegerType()),
    ("dp", T.IntegerType()),
    ("db", T.IntegerType()),
    ("dr", T.DoubleType()),
    ("avgP", T.DoubleType()),
    ("depth", T.IntegerType()),
    ("heads", T.IntegerType()),
    ("roleMain", T.IntegerType()),
    ("roleNeg", T.IntegerType()),
    ("ariaHidden", T.IntegerType()),
    ("imgAltRatio", T.DoubleType()),
    ("imgCount", T.IntegerType()),
    ("consentPenalty", T.DoubleType()),
]

CANDIDATE_STRUCT = T.StructType(
    [T.StructField("xpath", T.StringType())]
    + [T.StructField(n, t) for n, t in FEATURE_FIELDS]
)


def _text(el: Element) -> str:
    return _WS_RE.sub(" ", el.text()).strip()


def _is_negative(el: Element) -> bool:
    return el.tag in _NEG_TAGS or any(c in _NEG_CLASSES for c in el.classes)


def _xpath(el: Element) -> str:
    """X18 getXPath (/root/reference/controllers/contentDetector.js:473-494)."""
    parts: list[str] = []
    node: Element | None = el
    while node is not None and node.tag != "#document":
        parent = node.parent
        idx = 1
        if parent is not None:
            same = [c for c in parent.children if isinstance(c, Element) and c.tag == node.tag]
            if len(same) > 1:
                idx = same.index(node) + 1
                parts.append(f"{node.tag.upper()}[{idx}]")
            else:
                parts.append(node.tag.upper())
        else:
            parts.append(node.tag.upper())
        node = parent
    return "/" + "/".join(reversed(parts))


def compute_features(el: Element) -> dict:
    """computeFeatures parity (contentDetector.js:136-162)."""
    text = _text(el)
    length = len(text)
    punct = len(_PUNCT_RE.findall(text))
    link_text = " ".join(_text(a) for a in el.find_all("a"))
    ld = len(link_text) / (length or 1)
    pc = len(el.find_all("p", "br"))
    sem = 0
    if el.tag in ("article", "main") or el.get("role") == "main":
        sem = 1
    elif el.get("itemtype") and re.search(r"Article", el.get("itemtype"), re.I):
        sem = 1
    boiler = min(3, sum(1 for d in el.iter() if _is_negative(d)))
    kids = [c for c in el.children if isinstance(c, Element)]
    dp = sum(1 for c in kids if c.tag == "p")
    db = sum(1 for c in kids if c.tag in _BLOCK_TAGS)
    dr = dp / db if db > 0 else (1.0 if dp > 0 else 0.0)
    plens = [len(_text(c)) for c in kids if c.tag == "p"]
    avg_p = sum(plens) / len(plens) if plens else 0.0
    depth = 0
    node = el
    while node.parent is not None:
        depth += 1
        if node.parent.tag in ("body", "html"):
            break
        node = node.parent
    heads = sum(1 for c in kids if c.tag in ("h2", "h3", "h4"))
    role_main = role_neg = aria_hidden = 0
    node = el
    neg_roles = {"complementary", "banner", "navigation", "contentinfo", "search"}
    pos_roles = {"main", "article", "region"}
    while node is not None and node.tag != "#document":
        role = node.get("role") or ""
        if role in pos_roles:
            role_main = 1
        if role in neg_roles:
            role_neg = 1
        if node.get("hidden") is not None or node.get("aria-hidden") == "true":
            aria_hidden = 1
        node = node.parent
    imgs = el.find_all("img")
    with_alt = sum(1 for i in imgs if (i.get("alt") or "").strip())
    iar = with_alt / len(imgs) if imgs else 1.0
    lower = text.lower()
    hits = sum(1 for kw in _CONSENT_KWS if kw in lower)
    consent = min(6.0, hits * 1.5) if hits >= 2 else 0.0
    return {
        "len": length, "punct": punct, "ld": ld, "pc": pc, "sem": sem,
        "boiler": boiler, "dp": dp, "db": db, "dr": dr, "avgP": avg_p,
        "depth": depth, "heads": heads, "roleMain": role_main,
        "roleNeg": role_neg, "ariaHidden": aria_hidden,
        "imgAltRatio": iar, "imgCount": len(imgs), "consentPenalty": consent,
    }


def gather_candidates(root: Element) -> list[Element]:
    """gatherCandidates parity: semantic containers + >400-char divs."""
    out: list[Element] = []
    seen: set[int] = set()
    for el in root.iter():
        pick = (
            el.tag in ("article", "main")
            or el.get("role") == "main"
            or (el.get("itemtype") and "article" in el.get("itemtype").lower())
            or any(
                c in ("content", "article", "post", "story", "entry", "post-body")
                for c in el.classes
            )
            or (el.tag == "div" and len(_text(el)) > 400)
        )
        if pick and id(el) not in seen:
            seen.add(id(el))
            out.append(el)
    return out


# ------------------------------------------------- W3/A8 drill + fragment
# Parity with contentDetector.js drillDownToContent (:208-247),
# evaluateFragmentation (:299-359) and findFragmentedAncestor (:363-396):
# a candidate refines to its densest nested container, and a winner whose
# article body is split across sibling containers promotes to the common
# parent so the selection does not fragment the body.

_CONTAINER_TAGS = frozenset(("div", "article", "section", "main"))
_FRAG_CONTAINERS = frozenset(("article", "section", "main"))


def _clone_subtree(el: Element, parent: Element | None = None) -> Element:
    copy = Element(el.tag, dict(el.attrs), parent)
    copy.children = [
        _clone_subtree(c, copy) if isinstance(c, Element) else c
        for c in el.children
    ]
    return copy


def strip_bad_containers(el: Element) -> Element:
    """stripBadContainers (contentDetector.js:199-206): feature
    computation sees a CLONE with negative containers (nav/aside/footer/
    form/header/noscript/template + negative classes) removed, so promo
    text inside a candidate doesn't count toward its length/paragraphs."""
    clone = _clone_subtree(el)

    def prune(node: Element) -> None:
        node.children = [
            c for c in node.children
            if not (isinstance(c, Element) and _is_negative(c))
        ]
        for c in node.children:
            if isinstance(c, Element):
                prune(c)

    prune(clone)
    return clone


def _heuristic_score_py(f: dict) -> float:
    """heuristicScore (contentDetector.js:164-185) in Python, for the
    in-kernel selection; must mirror heuristic_score_col exactly
    (cross-checked in tests/test_content_detector.py)."""
    length_score = math.log(1 + f["len"])
    punct_score = min(f["punct"] / 10.0, 5.0)
    para_score = min(f["pc"] / 5.0, 5.0)
    sem_bonus = f["sem"] * 2.0
    link_penalty = min(f["ld"] * 10.0, 6.0)
    direct_p = min(f["dp"] / 3.0, 6.0)
    ratio_score = min(f["dr"] * 6.0, 6.0)
    avg_p = min(math.log(1 + f["avgP"]), 4.0)
    heading = min(float(f["heads"]), 3.0) * 0.5
    depth_score = min(float(f["depth"]), 8.0) * 0.3
    wrapper = 2.0 if (f["dp"] == 0 and f["db"] > 0) else 0.0
    a11y = f["roleMain"] * 1.5 - f["roleNeg"] * 1.0 - f["ariaHidden"] * 3.0
    alt = min(f["imgAltRatio"] * 2.0, 2.0)
    return (
        length_score + punct_score + para_score + sem_bonus + direct_p
        + ratio_score + avg_p + heading + depth_score + a11y + alt
        - link_penalty - f["boiler"] - wrapper - f["consentPenalty"]
    )


def _link_density(el: Element) -> float:
    total = _text(el)
    links = " ".join(_text(a) for a in el.find_all("a"))
    return len(links) / (len(total) or 1)


def _paragraph_count(el: Element) -> int:
    return len(el.find_all("p", "br"))


def drill_down_to_content(el: Element) -> Element:
    """drillDownToContent (:208-247): BFS (depth ≤ 5) over container
    tags, pick the node with the best direct-paragraph-weighted score
    among those meeting relaxed length/link-density floors (≥200 chars,
    link density ≤0.65)."""
    best_node, best_score = el, -math.inf
    queue: list[tuple[Element, int]] = [(el, 0)]
    while queue:
        node, depth = queue.pop(0)
        if node.tag not in _CONTAINER_TAGS:
            if node is not el:
                continue
        f = compute_features(node)
        s = (
            min(f["dp"] / 2.0, 8.0) * 2
            + min(f["dr"] * 8.0, 8.0) * 3
            + min(math.log(1 + f["avgP"]), 5.0)
            + math.log(1 + f["len"]) * 0.5
            + (1.5 if f["roleMain"] else 0.0)
            - (1.0 if f["roleNeg"] else 0.0)
            - (3.0 if f["ariaHidden"] else 0.0)
            + min(f["imgAltRatio"] * 2.0, 2.0)
            - min(f["ld"] * 12.0, 8.0)
            - f["boiler"]
        )
        if f["len"] >= 200 and f["ld"] <= 0.65:
            if s > best_score:
                best_node, best_score = node, s
        if depth < 5:
            for child in node.children:
                if isinstance(child, Element) and child.tag in _CONTAINER_TAGS:
                    queue.append((child, depth + 1))
    return best_node


def evaluate_fragmentation(node: Element) -> dict:
    """evaluateFragmentation (:299-359): does `node` hold the article
    split across ≥2 sibling parts (each ≥150 chars with a paragraph),
    whose combined text dominates, with no single part owning ≥65%?"""
    result = {"qualifies": False, "parts": [], "ratio": 0.0}
    if node.tag in ("html", "body", "#document"):
        return result
    min_child, min_combined = 150, 400
    parts, parts_text = [], 0
    for child in node.children:
        if not isinstance(child, Element):
            continue
        tl = len(_text(child))
        if tl < min_child or _paragraph_count(child) < 1:
            continue
        parts.append((child, tl))
        parts_text += tl
    if len(parts) < 2:
        return result
    total = len(_text(node)) or parts_text
    if parts_text < min(total, min_combined):
        return result
    largest = max(tl for _, tl in parts)
    ratio = (parts_text - largest) / parts_text if parts_text else 0.0
    result["ratio"] = ratio
    if ratio < 0.35:
        return result
    if _link_density(node) > 0.65:
        return result
    result["qualifies"] = True
    result["parts"] = [c for c, _ in parts]
    return result


def _contains(ancestor: Element, node: Element) -> bool:
    cur: Element | None = node
    while cur is not None:
        if cur is ancestor:
            return True
        cur = cur.parent
    return False


def find_fragmented_ancestor(node: Element) -> Element | None:
    """findFragmentedAncestor (:363-396): nearest ancestor (≤12 up, then
    any article/section/main ancestor) whose fragmentation analysis
    qualifies AND whose parts include the origin."""
    def _check(parent: Element) -> bool:
        analysis = evaluate_fragmentation(parent)
        return analysis["qualifies"] and any(
            _contains(part, node) for part in analysis["parts"]
        )

    cur = node
    for _ in range(12):
        parent = cur.parent
        if parent is None or parent.tag == "#document":
            break
        if _check(parent):
            return parent
        cur = parent
    cur = node
    while cur is not None and cur.tag != "#document":
        # checking cur == node is safe: qualification also requires a
        # part to CONTAIN the origin, and a node is never inside its own
        # children (mirrors part.child.contains(origin), :387-391)
        if cur.tag in _FRAG_CONTAINERS and _check(cur):
            return cur
        cur = cur.parent
    return None


# ------------------------------------------------ X19 CSS selector gen
# getCssSelector parity (contentDetector.js:496-550): climb from the
# node emitting tag[#id][.c1[.c2]][:nth-of-type(n)] parts joined by
# ' > ' until the selector matches exactly one element. The uniqueness
# probe only ever sees selectors THIS generator emits, so the matcher
# supports exactly that grammar.

_CSS_ESCAPE_RE = re.compile(r"([ !\"#$%&'()*+,./:;<=>?@\[\\\]^`{|}~])")
_SEL_PART_RE = re.compile(
    r"^(?P<tag>[a-zA-Z0-9]+)?(?:#(?P<id>(?:\\.|[^.:#])+))?"
    r"(?P<classes>(?:\.(?:\\.|[^.:#])+)*)(?::nth-of-type\((?P<nth>\d+)\))?$"
)


def _css_escape(s: str) -> str:
    return _CSS_ESCAPE_RE.sub(r"\\\1", str(s))


def _css_unescape(s: str) -> str:
    return re.sub(r"\\(.)", r"\1", s)


def _part_matches(el: Element, part: str) -> bool:
    m = _SEL_PART_RE.match(part)
    if not m:
        return False
    if m.group("tag") and el.tag != m.group("tag").lower():
        return False
    if m.group("id") and el.get("id") != _css_unescape(m.group("id")):
        return False
    classes = [
        _css_unescape(c) for c in re.findall(r"\.((?:\\.|[^.:#])+)", m.group("classes") or "")
    ]
    have = el.classes
    if any(c not in have for c in classes):
        return False
    nth = m.group("nth")
    if nth:
        parent = el.parent
        if parent is None:
            return False
        same = [c for c in parent.children
                if isinstance(c, Element) and c.tag == el.tag]
        if el not in same or same.index(el) + 1 != int(nth):
            return False
    return True


def _chain_matches(el: Element, parts: list[str]) -> bool:
    if not _part_matches(el, parts[-1]):
        return False
    node = el.parent
    for part in reversed(parts[:-1]):
        if node is None or node.tag == "#document" or not _part_matches(node, part):
            return False
        node = node.parent
    return True


def _query_count(root: Element, parts: list[str]) -> int:
    return sum(1 for el in root.iter() if _chain_matches(el, parts))


def _doc_root(el: Element) -> Element:
    node = el
    while node.parent is not None:
        node = node.parent
    return node


def css_selector(el: Element) -> str:
    """X19 getCssSelector: unique-ish CSS path for a node."""
    root = _doc_root(el)
    node_id = el.get("id")
    if node_id:
        id_sel = f"#{_css_escape(node_id)}"
        if sum(1 for e in root.iter() if e.get("id") == node_id) == 1:
            return id_sel
    parts: list[str] = []
    node: Element | None = el
    while node is not None and node.tag != "#document":
        part = node.tag
        nid = node.get("id")
        if nid:
            parts.insert(0, f"{part}#{_css_escape(nid)}")
            break
        classes = [c for c in node.classes if c][:2]
        if classes:
            part += "." + ".".join(_css_escape(c) for c in classes)
        parent = node.parent
        if parent is not None and parent.tag != "#document":
            same = [c for c in parent.children
                    if isinstance(c, Element) and c.tag == node.tag]
            if len(same) > 1:
                part += f":nth-of-type({same.index(node) + 1})"
        parts.insert(0, part)
        if _query_count(root, parts) == 1:
            break
        node = node.parent
        if node is None or node.tag == "html":
            break
    return " > ".join(parts)


def detect_container(html: str | None) -> dict:
    """Per-page detection with drill-down + fragmentation promotion:
    gather → drill each candidate → heuristic score → best (with the
    reference's threshold fallback to the runner-up when the best has
    under 400 chars or link density over 0.5) → promote to a fragmented
    ancestor when the body is split across siblings."""
    empty = {"xpath": None, "css_selector": None, "fragmented": False}
    if not html:
        return empty
    root = parse_html(html)
    cands = gather_candidates(root)
    if not cands:
        return empty
    scored = []
    for el in cands:
        refined = drill_down_to_content(el)
        # F9: features over the stripped CLONE (the reference's
        # `const clean = stripBadContainers(refined)`, :602-604) — the
        # selected node stays the original for xpath/selector output
        f = compute_features(strip_bad_containers(refined))
        scored.append((refined, f, _heuristic_score_py(f)))
    # stable order: score desc, xpath asc (pins ties like rank_candidates)
    scored.sort(key=lambda t: (-t[2], _xpath(t[0])))
    selected, f, _ = scored[0]
    if not (f["len"] >= 400 and f["ld"] <= 0.5) and len(scored) > 1:
        selected = scored[1][0]
    frag = find_fragmented_ancestor(selected)
    if frag is not None:
        selected, fragmented = frag, True
    else:
        fragmented = False
    return {
        "xpath": _xpath(selected),
        "css_selector": css_selector(selected),
        "fragmented": fragmented,
    }


DETECT_STRUCT = T.StructType(
    [
        T.StructField("xpath", T.StringType()),
        T.StructField("css_selector", T.StringType()),
        T.StructField("fragmented", T.BooleanType()),
    ]
)


def detect_containers(pages: DataFrame) -> DataFrame:
    """DataFrame op: (doc_id, html) → (doc_id, xpath, css_selector,
    fragmented)."""
    detect = F.udf(detect_container, DETECT_STRUCT, useArrow=True)
    return pages.select("doc_id", detect("html").alias("detected")).select(
        "doc_id", "detected.*")


def page_candidates(html: str | None) -> list[dict]:
    if not html:
        return []
    root = parse_html(html)
    return [
        {"xpath": _xpath(el), **compute_features(el)}
        for el in gather_candidates(root)
    ]


def candidate_features(pages: DataFrame) -> DataFrame:
    """(doc_id, html) → one row per candidate: doc_id, xpath and the
    numeric features. Output is narrow; HTML never leaves the scan
    stage."""
    candidates = F.udf(page_candidates, T.ArrayType(CANDIDATE_STRUCT),
                       useArrow=True)
    return pages.select("doc_id", F.inline(candidates("html")))


def heuristic_score_col() -> Column:
    """W2 heuristicScore (contentDetector.js:164-185) as Column algebra
    over candidate_features output — JVM whole-stage-codegen."""
    f = F.col
    length_score = F.log(1 + f("len"))
    punct_score = F.least(f("punct") / 10.0, F.lit(5.0))
    para_score = F.least(f("pc") / 5.0, F.lit(5.0))
    sem_bonus = f("sem") * 2.0
    link_penalty = F.least(f("ld") * 10.0, F.lit(6.0))
    direct_p = F.least(f("dp") / 3.0, F.lit(6.0))
    ratio_score = F.least(f("dr") * 6.0, F.lit(6.0))
    avg_p = F.least(F.log(1 + f("avgP")), F.lit(4.0))
    heading = F.least(f("heads").cast("double"), F.lit(3.0)) * 0.5
    depth_score = F.least(f("depth").cast("double"), F.lit(8.0)) * 0.3
    wrapper = F.when((f("dp") == 0) & (f("db") > 0), 2.0).otherwise(0.0)
    a11y = f("roleMain") * 1.5 - f("roleNeg") * 1.0 - f("ariaHidden") * 3.0
    alt = F.least(f("imgAltRatio") * 2.0, F.lit(2.0))
    return (
        length_score + punct_score + para_score + sem_bonus + direct_p
        + ratio_score + avg_p + heading + depth_score + a11y + alt
        - link_penalty - f("boiler") - wrapper - f("consentPenalty")
    )


def rank_candidates(features: DataFrame) -> DataFrame:
    """W1: per-document rank by heuristic score desc (xpath tiebreak
    pinned)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("xpath"))
    return (
        features.withColumn("score", heuristic_score_col())
        .withColumn("rank", F.row_number().over(w))
    )


def vector_cols() -> list[Column]:
    """toVector parity (contentDetector.js:560-581): 16 scaled dims."""
    f = F.col

    def clamp(c: Column, lo: float, hi: float) -> Column:
        return F.least(F.greatest(c, F.lit(lo)), F.lit(hi))

    return [
        F.log(1 + f("len")).alias("v0"),
        clamp(f("punct") / 10.0, 0, 5).alias("v1"),
        f("ld").cast("double").alias("v2"),
        clamp(f("pc") / 5.0, 0, 5).alias("v3"),
        f("sem").cast("double").alias("v4"),
        f("boiler").cast("double").alias("v5"),
        clamp(f("dp") / 10.0, 0, 1).alias("v6"),
        clamp(f("dr"), 0, 1).alias("v7"),
        clamp(F.log(1 + f("avgP")) / 5.0, 0, 1).alias("v8"),
        clamp(f("depth") / 10.0, 0, 1).alias("v9"),
        clamp(f("heads") / 6.0, 0, 1).alias("v10"),
        f("roleMain").cast("double").alias("v11"),
        f("roleNeg").cast("double").alias("v12"),
        f("ariaHidden").cast("double").alias("v13"),
        clamp(f("imgAltRatio"), 0, 1).alias("v14"),
        clamp(f("imgCount") / 50.0, 0, 1).alias("v15"),
    ]


N_DIMS = 16


def score_with_weights_col(weights: list[float], bias: float) -> Column:
    """X24 sigmoid(b + w·v) as pure Column algebra over v0..v15."""
    z = F.lit(float(bias))
    for i, w in enumerate(weights[:N_DIMS]):
        z = z + F.col(f"v{i}") * float(w)
    return 1.0 / (1.0 + F.exp(-z))


# train-reranker.js's hyperparameters: learning rate, epochs, L2 weight
GD_LR, GD_EPOCHS, GD_L2 = 0.05, 250, 0.001


def train_gd(rows: list[tuple[list[float], int]]) -> dict:
    """Exact reference trainer (train-reranker.js:144-169): full-batch
    gradient descent at the reference's GD_LR / GD_EPOCHS / GD_L2.
    Driver-side; for parity tests and small corpora."""
    if not rows:
        return {"weights": [], "bias": 0.0}
    d = len(rows[0][0])
    w = [0.0] * d
    b = 0.0
    n = len(rows)
    for _ in range(GD_EPOCHS):
        dw = [0.0] * d
        db = 0.0
        for x, y in rows:
            z = b + sum(wi * xi for wi, xi in zip(w, x))
            p = 1.0 / (1.0 + math.exp(-z))
            diff = p - y
            for i in range(d):
                dw[i] += diff * x[i]
            db += diff
        for i in range(d):
            w[i] -= GD_LR * (dw[i] / n + GD_L2 * w[i])
        b -= GD_LR * (db / n)
    return {"weights": w, "bias": b}


def train_reranker(features: DataFrame, max_iter: int = 100):
    """A11 at scale: spark.ml LogisticRegression over the 16-dim
    vectors (distributed L-BFGS; same model family as the reference's
    GD — weights differ numerically, ranking quality is what tests
    assert). Returns (model, weights_dict)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    vecs = features.select(*vector_cols(), F.col("label").cast("double"))
    assembler = VectorAssembler(
        inputCols=[f"v{i}" for i in range(N_DIMS)], outputCol="features"
    )
    lr = LogisticRegression(
        featuresCol="features", labelCol="label", maxIter=max_iter,
        regParam=0.001, standardization=False,
    )
    model = lr.fit(assembler.transform(vecs))
    weights = {
        "weights": [float(x) for x in model.coefficients],
        "bias": float(model.intercept),
    }
    return model, weights
