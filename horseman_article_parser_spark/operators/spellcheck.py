"""Spellcheck (SURVEY §2.8 N4) + known-entity anti-filter (§2.3 J3).

Behavior-parity reimplementation of the reference's spellCheck
(/root/reference/controllers/spellCheck.js:6-56) and the entity filter
(/root/reference/index.js:1486-1523), as pure Column algebra + joins:

- pre-pass: URL masking (urlSanitizer regex families) and blanking of
  alphanumeric tokens like `123abc` (spellCheck.js:8-12)
- a "misspelling" is a token absent from the dictionary relation —
  the hunspell lookup becomes a LEFT-ANTI JOIN against a broadcast
  dictionary table (retext-spell's per-token dictionary probe is
  exactly an anti-join in relational form)
- J3: misspellings whose normalized tokens (or depluralized forms,
  trailing 's' stripped) appear in the known-entity word set are
  dropped — a second left-anti join (index.js:1505-1521)

Positions match the reference's retext message shape
(spellCheck.js:29-47): `line` (1-based), `col_char` (1-based char
column of the word-node start — after stripped leading punctuation,
like the nlcst WordNode), `offset_start`/`offset_end` (0-based char
offsets into the whole masked text; end − start = word length). The
reference names them column/offsetStart/offsetEnd; snake_case here so
the oracle SQL needs no quoting. `word_idx` (token ordinal in line) is
kept as the join key for suggestions.

Scale shape: tokens explode on (doc, line); char positions are two
window running-sums sharing ONE doc-keyed exchange; dictionary and
entity tables broadcast (≪10 MB).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.window import Window

# urlSanitizer families (/root/reference/controllers/urlSanitizer.js:4-83)
_URL_RES = [
    r"data:[^\s]+",
    r"(?:https?|ftp)://[^\s]+",
    r"www\.[^\s]+",
    r"\b[a-z0-9-]+(?:\.[a-z0-9-]+)+(?:/[^\s]*)?\b",
]
_ALNUM_MIX = r"[0-9]+[a-zA-Z]+"


def mask_urls_col(text: Column | str) -> Column:
    """F12: mask URL-like spans, blank alphanumeric tokens, collapse
    spaces but PRESERVE line breaks (line numbers stay accurate)."""
    t = F.col(text) if isinstance(text, str) else text
    for pat in _URL_RES:
        t = F.regexp_replace(t, f"(?i){pat}", " ")
    t = F.regexp_replace(t, _ALNUM_MIX, " ")
    t = F.regexp_replace(t, r"\r\n", "\n")
    return F.regexp_replace(t, r"[ \t]+", " ")


def normalize_entity_col(s: Column) -> Column:
    """X1 normalizeEntity (/root/reference/controllers/entityParser.js:83-90)."""
    out = F.regexp_replace(s, r"['’]", "")
    # positive complement of [A-Za-z0-9] — same match set, avoids Spark
    # 4.1's negated-class slow path (see textstats.NORMTEXT_JUNK_RE)
    out = F.regexp_replace(out, "[\\x00-\\x2f\\x3a-\\x40\\x5b-\\x60\\x7b-￿]+", " ")
    return F.lower(F.trim(out))


def doc_tokens(docs: DataFrame, carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, line, word_idx, word, word_lc, col_char, offset_start,
    offset_end) over `text` after the reference pre-pass; words are
    stripped of edge punctuation and lowercased for dictionary probing
    (original kept as `word`).

    The positions follow the spellCheck.js:29-47 shape. Both are running
    length-sums over the RAW token sequence — every separator (space
    inside a line, the line break between lines) is exactly one char
    after the masking pre-pass, so one doc-ordered window gives the
    global offset and a (doc, line) window (satisfied by the same
    exchange) gives the in-line column.

    `carry_cols` are copied through the explode (e.g. a per-doc language
    column) — cheaper at scale than joining the narrow per-doc table
    back onto the exploded tokens."""
    carry = [F.col(c) for c in carry_cols]
    lines = docs.select(
        F.col("doc_id"), *carry,
        F.posexplode(F.split(mask_urls_col("text"), "\n")).alias("_ln", "_line"),
    )
    arr = F.split(F.col("_line"), " ")
    # explode UNFILTERED so empty tokens (a collapsed leading/trailing
    # space) still advance the char counters; the filtered token ordinal
    # is _rp minus the leading-empty marker (interior empties are
    # impossible after the space collapse).
    toks = lines.select(
        F.col("doc_id"), *carry,
        (F.col("_ln") + 1).alias("line"),
        F.when(F.try_element_at(arr, F.lit(1)) == "", F.lit(1))
        .otherwise(F.lit(0)).alias("_lead"),
        F.posexplode(arr).alias("_rp", "_raw"),
    )
    wdoc = (
        Window.partitionBy("doc_id")
        .orderBy("line", "_rp")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = toks.withColumn(
        "_off_raw",
        F.coalesce(F.sum(F.length("_raw") + 1).over(wdoc), F.lit(0).cast("long")),
    )
    wline = Window.partitionBy("doc_id", "line").orderBy("_rp")
    toks = toks.withColumn(
        "_col_raw", F.col("_off_raw") - F.first("_off_raw").over(wline) + 1
    ).filter(F.col("_raw") != "")
    strip_lead = F.length(F.regexp_extract("_raw", r"^[^A-Za-z]+", 0))
    word = F.regexp_replace(F.col("_raw"), r"^[^A-Za-z]+|[^A-Za-z]+$", "")
    return toks.select(
        F.col("doc_id"), *carry, "line",
        (F.col("_rp") - F.col("_lead")).alias("word_idx"),
        word.alias("word"), F.lower(word).alias("word_lc"),
        (F.col("_col_raw") + strip_lead).cast("int").alias("col_char"),
        (F.col("_off_raw") + strip_lead).alias("offset_start"),
        (F.col("_off_raw") + strip_lead + F.length(word)).alias("offset_end"),
    ).filter(F.col("word") != "")


def misspellings(
    docs: DataFrame,
    dictionary: DataFrame,
    entities: DataFrame | None = None,
) -> DataFrame:
    """N4 + J3: (doc_id, line, word_idx, word, col_char, offset_start,
    offset_end) not in `dictionary(word)`, minus words whose
    normalized/depluralized form is a known entity token in
    `entities(entity)` (one per-corpus table, where the reference keeps
    a Set per article)."""
    toks = doc_tokens(docs)
    dict_lc = F.broadcast(
        dictionary.select(F.lower("word").alias("word_lc")).distinct()
    )
    missed = toks.join(dict_lc, "word_lc", "left_anti")
    if entities is not None:
        ent_tokens = (
            entities.select(
                F.explode(
                    F.filter(
                        F.split(normalize_entity_col(F.col("entity")), " "),
                        lambda w: w != "",
                    )
                ).alias("tok")
            )
            .select(
                F.explode(
                    F.array_distinct(
                        F.array(
                            F.col("tok"),
                            # reference also admits the plural: a token
                            # whose SINGULAR form is known is dropped, so
                            # the plural joins too (index.js:1513-1517)
                            F.concat(F.col("tok"), F.lit("s")),
                        )
                    )
                ).alias("word_key")
            )
            .distinct()
        )
        missed = missed.join(
            F.broadcast(ent_tokens),
            missed["word_lc"] == ent_tokens["word_key"],
            "left_anti",
        )
    return missed.select("doc_id", "line", "word_idx", "word",
                         "col_char", "offset_start", "offset_end")


# ------------------------------------------------------- N4 suggestions
# retext-spell returns edit-distance suggestions per misspelling
# (/root/reference/controllers/spellCheck.js:29-55, `expected`). The
# deterministic relational form: dictionary words within Levenshtein
# distance 1, alphabetical, capped at MAX_SUGGESTIONS. Candidate
# generation is the symspell deletes-table join (Garbe's public
# algorithm): keys = word ∪ single-char deletions on BOTH sides; two
# words at distance ≤ 1 always share a key, so the join bounds the
# search without a cross join — the dict-keys table is a one-time
# broadcast build.
MAX_SUGGESTIONS = 5


def _deletes1_col(word: Column) -> Column:
    """word ∪ all single-character deletions (symspell key set)."""
    return F.array_union(
        F.array(word),
        F.transform(
            F.sequence(F.lit(1), F.length(word)),
            lambda i: F.concat(
                word.substr(F.lit(1), i - 1),
                word.substr(i + 1, F.length(word)),
            ),
        ),
    )


def misspellings_multilang(docs: DataFrame, dictionaries: DataFrame) -> DataFrame:
    """N4 with the reference's per-language dictionary selection
    (/root/reference/index.js:1383-1396: `dictionary-{iso6391}` of the
    DETECTED language, en fallback when that dictionary is absent).

    `dictionaries` is a long table (lang string, word string) — the
    relational form of the per-language hunspell files. Each doc's
    language comes from the trigram langid; its effective dictionary is
    that language's rows, or English's when the detected language has
    none. Output: (doc_id, lang, line, word_idx, word), `lang` being
    the effective dictionary language per doc.

    Scale shape: langid runs as the Arrow-batched kernel
    (langid_batch_col — at the 105-language profile table the
    declarative form overflows janino's 64 KB codegen limit and
    evaluates interpreted, the r5 langid lesson) in the SAME scan; the
    per-doc language rides through the token explode as a carried
    column (never a join against a table of all docs); the
    availability table and the dictionary broadcast; the anti-join keys
    on (lang, word) — one broadcast anti-join, zero extra shuffles vs
    the single-dictionary path."""
    from ..functions.textstats import lang_normtext_col, langid_batch_col

    nt = lang_normtext_col(F.col("text"))
    docs_l = docs.withColumn("_nt", nt).withColumn(
        "_lang", langid_batch_col(F.col("_nt"))["iso6391"]
    ).drop("_nt")
    avail = dictionaries.select(F.col("lang").alias("_lang")).distinct().withColumn(
        "_has", F.lit(True)
    )
    docs_l = docs_l.join(F.broadcast(avail), "_lang", "left").withColumn(
        "lang",
        F.when(F.col("_has"), F.col("_lang")).otherwise(F.lit("en")),
    )
    toks = doc_tokens(docs_l, carry_cols=("lang",))
    dict_lc = F.broadcast(
        dictionaries.select(
            F.col("lang"), F.lower("word").alias("word_lc")
        ).distinct()
    )
    missed = toks.join(dict_lc, ["lang", "word_lc"], "left_anti")
    return missed.select("doc_id", "lang", "line", "word_idx", "word")


def suggest_corrections(missed: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Add a `suggestions` column (dictionary words within Levenshtein
    distance 1, comma-joined, alphabetical, capped at MAX_SUGGESTIONS;
    '' when none) to a misspellings frame."""
    id_cols = ("doc_id", "line", "word_idx")
    dict_keys = F.broadcast(
        dictionary.select(F.lower("word").alias("_dw"))
        .distinct()
        .select("_dw", F.explode(_deletes1_col(F.col("_dw"))).alias("_key"))
        .distinct()
    )
    keyed = missed.select(
        *id_cols, "word", F.lower("word").alias("_wl")
    ).select(
        *id_cols, "word", "_wl",
        F.explode(_deletes1_col(F.col("_wl"))).alias("_key"),
    )
    cand = keyed.join(dict_keys, "_key").filter(
        F.levenshtein(F.col("_wl"), F.col("_dw")) <= 1
    )
    agg = cand.groupBy(*id_cols, "word").agg(
        F.array_join(
            F.slice(
                F.sort_array(F.collect_set("_dw")), 1, MAX_SUGGESTIONS
            ),
            ",",
        ).alias("suggestions")
    )
    return missed.join(agg, [*id_cols, "word"], "left").select(
        *id_cols, "word",
        F.coalesce(F.col("suggestions"), F.lit("")).alias("suggestions"),
    )
