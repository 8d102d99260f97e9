"""Extractive summary (SURVEY §2.5 W5, §2.8 N6).

Behavior-parity reimplementation of the reference's buildSummary
(/root/reference/controllers/summary.js:21-174): sentence scoring with
position decay, paragraph decay, paragraph-start bonus, title/meta
token overlap (no caller supplies the reference's keyword list, so its
keyword-overlap bonus is left out), digit/factual/length bonuses and
noise penalty;
greedy selection under a per-paragraph cap with paragraph-diversity
deferral; coverage repair at n/3 and 2n/3; final re-sort by original
position.

Sentence segmentation is PINNED to the reference's regex fallback
(/root/reference/controllers/summary.js:190-196) — Intl.Segmenter
varies by ICU locale data and is excluded from parity (SURVEY §7.3 X9).

The selection loop is inherently iterative per document, so the Spark
surface is `build_summary` behind an Arrow UDF over the text column
(documents are independent, so it parallelizes embarrassingly across
partitions). Inputs are capped upstream at the reference's 20k
NLP cap (/root/reference/index.js:1202-1211).
"""

from __future__ import annotations

import math
import re

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

# the most sentences one summary keeps
MAX_SENTENCES = 5

_FACTUAL = [
    re.compile(r"\baccording to\b", re.I),
    re.compile(r"\bdata (shows|showed|reveals|revealed)\b", re.I),
    re.compile(r"\bfigures? (show|showed|suggests?|suggested|reveals?)\b", re.I),
    re.compile(r"\bpercent\b", re.I),
    re.compile(r"\bper cent\b", re.I),
    re.compile(r"\b(?:million|billion|thousand)\b", re.I),
    re.compile(r"[£$€]"),
    re.compile(r"\b(?:study|report|survey)\b", re.I),
    re.compile(r"\bexperts? (say|said)\b", re.I),
]
_NOISE = [
    re.compile(r"newsletter", re.I),
    re.compile(r"subscribe", re.I),
    re.compile(r"advert", re.I),
    re.compile(r"cookies?", re.I),
    re.compile(r"privacy policy", re.I),
]
_SENTENCE_RE = re.compile(r"[^.!?]+[.!?]+|[^.!?\s][^.!?]*$")
_TOKEN_RE = re.compile(r"[a-z0-9]+")


def _token_set(s: str | None) -> set[str]:
    return {t for t in _TOKEN_RE.findall((s or "").lower()) if len(t) > 2}


def _segment_sentences(text: str) -> list[dict]:
    out = []
    for m in _SENTENCE_RE.finditer(text):
        seg = m.group(0)
        first = len(seg) - len(seg.lstrip())
        trimmed = seg.strip()
        if not trimmed:
            continue
        start = m.start() + first
        out.append(
            {
                "text": trimmed,
                "start": start,
                "end": start + len(trimmed),
                "wordCount": len(trimmed.split()),
            }
        )
    return out


def _collect_paragraphs(text: str, pattern: re.Pattern) -> list[dict]:
    results = []
    last = 0
    for m in pattern.finditer(text):
        _add_para(results, text, last, m.start())
        last = m.end()
    _add_para(results, text, last, len(text))
    return results


def _add_para(store: list, text: str, start: int, end: int) -> None:
    slice_ = text[start:end]
    stripped = slice_.strip()
    if not stripped:
        return
    first = len(slice_) - len(slice_.lstrip())
    s = start + first
    store.append({"text": stripped, "start": s, "end": s + len(stripped)})


def _extract_paragraphs(text: str) -> list[dict]:
    paras = _collect_paragraphs(text, re.compile(r"\r?\n\s*\r?\n+"))
    if len(paras) <= 1:
        fallback = _collect_paragraphs(text, re.compile(r"\r?\n+"))
        if len(fallback) > len(paras):
            paras = fallback
    if not paras:
        t = text.strip()
        if t:
            paras.append({"text": t, "start": 0, "end": len(t)})
    return paras


def _assign_paragraphs(sentences: list[dict], paragraphs: list[dict]) -> None:
    ptr = 0
    counts = [0] * len(paragraphs)
    for s in sentences:
        while ptr < len(paragraphs) - 1 and s["start"] >= paragraphs[ptr]["end"]:
            ptr += 1
        assigned = min(ptr, len(paragraphs) - 1)
        counts[assigned] += 1
        s["paragraphIndex"] = assigned
        s["positionInParagraph"] = counts[assigned]
        s["isParagraphStart"] = counts[assigned] == 1


def build_summary(
    text: str | None,
    title: str = "",
    meta_description: str = "",
) -> dict:
    """Per-document kernel; returns {"text": str, "sentences": [str]}
    with at most MAX_SENTENCES sentences."""
    if not text or not isinstance(text, str) or not text.strip():
        return {"text": "", "sentences": []}
    working = text.strip()
    paragraphs = _extract_paragraphs(working)
    sentences = _segment_sentences(working)
    if not sentences:
        return {"text": "", "sentences": []}
    _assign_paragraphs(sentences, paragraphs)

    title_tokens = _token_set(title)
    meta_tokens = _token_set(meta_description)
    n = len(sentences)

    scored = []
    for index, s in enumerate(sentences):
        tokens = _token_set(s["text"])
        score = (1 - index / n) * 1.2
        score += (1 - s["paragraphIndex"] / max(len(paragraphs), 1)) * 0.9
        if s["isParagraphStart"]:
            score += 0.8
        elif s["positionInParagraph"] == 2:
            score += 0.3
        t_ov = len(tokens & title_tokens)
        if t_ov:
            score += 0.6 + min(t_ov, 4) * 0.25
        m_ov = len(tokens & meta_tokens)
        if m_ov:
            score += 0.3 + min(m_ov, 4) * 0.2
        if re.search(r"[0-9]", s["text"]):
            score += 0.35
        if any(p.search(s["text"]) for p in _FACTUAL):
            score += 0.25
        length, wc = len(s["text"]), s["wordCount"]
        if 40 <= length <= 320:
            score += 0.2
        if 8 <= wc <= 35:
            score += 0.2
        if length < 35 or wc < 6:
            score -= 0.6
        if any(p.search(s["text"]) for p in _NOISE):
            score -= 1
        scored.append({**s, "score": score, "index": index})

    max_per_para = max(1, MAX_SENTENCES // 3)
    if len(paragraphs) <= 2:
        max_per_para = MAX_SENTENCES
    unique_target = min(len(paragraphs), MAX_SENTENCES)
    # JS Array.sort is stable; ties keep original (index) order
    sorted_ = sorted(scored, key=lambda x: -x["score"])
    selected: list[dict] = []
    deferred: list[dict] = []
    usage: dict[int, int] = {}
    seen_texts: set[str] = set()

    def add(c: dict) -> None:
        selected.append(c)
        seen_texts.add(c["text"])
        usage[c["paragraphIndex"]] = usage.get(c["paragraphIndex"], 0) + 1

    def lowest_index(pred) -> int:
        idx, low = -1, math.inf
        for i, item in enumerate(selected):
            if pred(item) and item["score"] < low:
                low = item["score"]
                idx = i
        return idx

    def ensure_coverage(min_index: int) -> None:
        if min_index <= 0 or not selected:
            return
        if any(item["index"] >= min_index for item in selected):
            return
        cand = next(
            (c for c in sorted_ if c["index"] >= min_index and c["text"] not in seen_texts),
            None,
        )
        if cand is None:
            return
        cand_usage = usage.get(cand["paragraphIndex"], 0)
        if cand_usage >= max_per_para:
            drop = lowest_index(lambda it: it["paragraphIndex"] == cand["paragraphIndex"])
        else:
            drop = lowest_index(
                lambda it: usage.get(it["paragraphIndex"], 0) > 1
                or it["paragraphIndex"] != cand["paragraphIndex"]
            )
            if drop == -1:
                drop = lowest_index(lambda it: True)
        if drop == -1:
            return
        removed = selected.pop(drop)
        left = usage.get(removed["paragraphIndex"], 1) - 1
        if left > 0:
            usage[removed["paragraphIndex"]] = left
        else:
            usage.pop(removed["paragraphIndex"], None)
        seen_texts.discard(removed["text"])
        add(cand)

    for cand in sorted_:
        if len(selected) >= MAX_SENTENCES:
            break
        if not cand["text"] or cand["text"] in seen_texts:
            continue
        if usage.get(cand["paragraphIndex"], 0) >= max_per_para:
            continue
        if cand["paragraphIndex"] not in usage or len(usage) >= unique_target:
            add(cand)
        else:
            deferred.append(cand)

    if len(selected) < MAX_SENTENCES:
        for cand in deferred:
            if len(selected) >= MAX_SENTENCES:
                break
            if not cand["text"] or cand["text"] in seen_texts:
                continue
            if usage.get(cand["paragraphIndex"], 0) >= max_per_para:
                continue
            add(cand)

    if n >= 3:
        ensure_coverage(n // 3)
        ensure_coverage((n * 2) // 3)
    if not selected:
        fallback = [s["text"] for s in sentences[: min(MAX_SENTENCES, n)]]
        return {"text": " ".join(fallback).strip(), "sentences": fallback}

    ordered = sorted(selected, key=lambda x: x["index"])
    texts = [item["text"] for item in ordered]
    return {"text": " ".join(texts).strip(), "sentences": texts}


SUMMARY_STRUCT = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("sentences", T.ArrayType(T.StringType())),
    ]
)


def summarize(
    docs: DataFrame,
    title_col: Column | None = None,
    meta_col: Column | None = None,
) -> DataFrame:
    """DataFrame op: adds a `summary` struct(text, sentences) column over
    `text`, one build_summary call per row behind an Arrow UDF."""
    summary = F.udf(lambda t, ti, me: build_summary(t, ti or "", me or ""),
                    SUMMARY_STRUCT, useArrow=True)
    title = title_col if title_col is not None else F.lit("")
    meta = meta_col if meta_col is not None else F.lit("")
    return docs.withColumn("summary", summary(F.col("text"), title, meta))
