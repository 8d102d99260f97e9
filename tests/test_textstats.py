"""textstats regressions (keywords/keyphrases edge cases, language ID)."""

from horseman_article_parser_spark.functions.textstats import (
    keywords_phrases_batch,
)


def _grams(spark, rows, kind):
    """(doc_id, gram, tf, rank) of the `kind` rows ('term' | 'phrase')
    that keywords_phrases_batch emits for `rows` of (doc_id, text)."""
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = keywords_phrases_batch(docs).filter(f"kind = '{kind}'")
    return [(r.doc_id, r.gram, r.tf, r.rank)
            for r in out.orderBy("doc_id", "rank").collect()]


def test_keyphrases_short_docs_do_not_crash(spark):
    # docs with fewer tokens than the shortest gram length must yield
    # zero phrases, matching the oracle; a doc as long as one gram
    # length yields only that length's grams.
    rows = _grams(
        spark,
        [(1, "solo"), (2, ""), (3, "budget report"), (4, "three word doc")],
        "phrase",
    )
    by_doc = {}
    for doc_id, phrase, _tf, _rank in rows:
        by_doc.setdefault(doc_id, []).append(phrase)
    assert 1 not in by_doc and 2 not in by_doc
    assert by_doc.get(3) == ["budget report"]
    assert set(by_doc.get(4, [])) == {"three word", "word doc", "three word doc"}


def test_keywords_pos_gate_drops_verbs_and_adverbs(spark):
    """N3 POS gate (keywordParser.js:10-28 retext-pos noun filter):
    'running quickly' must stop ranking; nouns and proper nouns rank."""
    from horseman_article_parser_spark.functions.textstats import (
        keywords_cleaned_topk,
    )

    text = ("the runner was running quickly past the tower while the "
            "tower meeting heard Paris said nothing about the tower")
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    terms = {g for _, g, _, _ in _grams(spark, [(1, text)], "term")}
    assert "tower" in terms and "runner" in terms and "meeting" in terms
    assert "Paris" in terms  # proper-noun bypass
    assert "running" not in terms and "quickly" not in terms
    assert "was" not in terms and "said" not in terms and "heard" not in terms

    cleaned = {r["keyword"] for r in keywords_cleaned_topk(docs).collect()}
    assert "Tower" in cleaned and "Running" not in cleaned


def test_keyphrases_pos_gate_keeps_adjective_noun(spark):
    """Noun-phrase gate passes adjectives ('economic growth') but not
    verb/adverb spans ('running quickly')."""
    text = ("economic growth economic growth running quickly "
            "budget meeting budget meeting")
    phrases = {g for _, g, _, _ in _grams(spark, [(1, text)], "phrase")}
    assert "economic growth" in phrases and "budget meeting" in phrases
    assert "running quickly" not in phrases


def test_keywords_acronym_retention(spark):
    """keywordParser.test.js:23-38: WWF / G7 acronyms survive, long
    shouty ECONOMIE is rejected (cleanKeyword all-caps > 4 rule)."""
    from horseman_article_parser_spark.functions.textstats import (
        keywords_cleaned_topk,
    )

    text = ("WWF rapport pollution G7 Paris climat "
            "ECONOMIE ECONOMIE ECONOMIE mesures concretes")
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    kws = {r["keyword"] for r in keywords_cleaned_topk(docs).collect()}
    assert "WWF" in kws and "G7" in kws
    assert "ECONOMIE" not in kws


def test_keywords_topk_deterministic_ties(spark):
    rows = _grams(spark, [(1, "zebra apple zebra apple mango")], "term")
    assert [(g, tf, rk) for _, g, tf, rk in rows] == [
        ("apple", 2, 1), ("zebra", 2, 2), ("mango", 1, 3)]


def _langid(spark, texts):
    """(iso6391, iso6393, best_score) of langid_batch_col per text."""
    from horseman_article_parser_spark.functions.textstats import (
        lang_normtext_col,
        langid_batch_col,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "i long, txt string")
    lid = langid_batch_col(lang_normtext_col("txt")).alias("lid")
    return [tuple(r.lid) for r in df.select("i", lid).orderBy("i").collect()]


def test_trigram_langid_detects_all_profile_languages(spark):
    """N1 trigram model: every LANG_SAMPLES sentence (every profile
    language, incl. Cyrillic/Greek/Japanese scripts) must detect as
    itself, with the reference's iso6391+iso6393 pair
    (language.js:6-13,26-46)."""
    import __spark_entry__ as entry
    from horseman_article_parser_spark.functions.textstats import ISO3_TO_1

    want = sorted(entry.LANG_SAMPLES)
    got = _langid(spark, [entry.LANG_SAMPLES[iso3] for iso3 in want])
    for iso3, (iso1, got3, score) in zip(want, got):
        assert (iso1, got3) == (ISO3_TO_1[iso3], iso3), (iso3, got3)
        assert score > 0, iso3


def test_trigram_langid_empty_defaults_to_english(spark):
    for iso1, iso3, score in _langid(spark, ["", "12345 67890"]):
        assert (iso1, iso3, score) == ("en", "eng", 0)


def test_langid_batch_kernel_edge_texts(spark):
    """Texts that score zero everywhere and mixed-script texts: the
    kernel's winner and best_score equal what the DuckDB oracle's score
    algebra gives for the same texts."""
    import __spark_entry__ as entry

    s = entry.LANG_SAMPLES
    got = _langid(spark, [
        "",                                 # all-zero -> eng/en
        "zzq xqj qqv",                      # Latin chars, no hits
        s["rus"] + " " + s["fra"],          # mixed script
        s["cmn"] + " le la les et",
    ])
    assert got == [("en", "eng", 0), ("en", "eng", 0),
                   ("fr", "fra", 132), ("zh", "cmn", 150)]


def test_bpe_token_count_pretokenizer(spark):
    """GPT-style pre-token match count: contractions split off, leading
    spaces attach to the following word, punctuation runs are one
    token."""
    from horseman_article_parser_spark.functions.textstats import (
        bpe_token_count_col,
    )

    docs = spark.createDataFrame(
        [(1, "It's 2024, isn't it?!"), (2, ""), (3, "hello   world")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.n for r in docs.select(
        "doc_id", bpe_token_count_col("text").alias("n")).collect()}
    # "It" "'s" " 2024" "," " isn" "'t" " it" "?!" -> 8
    assert got[1] == 8
    assert got[2] == 0
    # "hello" "  " (ws run collapses into the next branch: " world"
    # takes one leading space, the rest is a ws token) -> 3
    assert got[3] == 3


def test_script_gates_are_identities():
    """Every gated language's trigrams each contain >=1 char inside the
    gate range, so 'text lacks script => score 0' holds and the gate
    can never change a result — only skip work."""
    import re

    from horseman_article_parser_spark.functions.textstats import (
        LANG_SCRIPT_GATES,
        LANG_TRIGRAMS,
    )

    for lang, gate in LANG_SCRIPT_GATES.items():
        pat = re.compile(gate)
        for tg in LANG_TRIGRAMS[lang]:
            assert pat.search(tg), (lang, tg)


def test_keyphrases_pooled_lengths(spark):
    """Variable-length keyphrase pooling: 2- and 3-gram noun phrases
    rank together (keywordParser.js:32-77 spans any length)."""
    text = ("annual budget report annual budget report annual budget "
            "report city council city council")
    rows = _grams(spark, [(1, text)], "phrase")
    got = {g: (tf, rk) for _, g, tf, rk in rows}
    assert "annual budget report" in got  # 3-gram present
    assert "annual budget" in got and "city council" in got
    # tf ordering: 'annual budget' tf=3 beats 'city council' tf=2 and
    # the 3-gram also has tf=3
    assert got["annual budget"][0] == 3 and got["annual budget report"][0] == 3
    assert got["city council"][0] == 2


def test_latin_gate_identity_invariant():
    """Every ungated (Latin-script) profile's trigrams must each carry
    >=1 character matching the batch kernel's OWN Latin class — the
    precondition for its gate being an identity (no-class-match text
    => all Latin profile scores are 0 anyway). Testing against
    LATIN_KERNEL_CLASS itself (not Unicode names) guards the exact
    failure mode: a future trigram whose only Latin letters fall
    outside the kernel class would silently zero that language in the
    kernel while the DuckDB oracle still scores it."""
    import re

    from horseman_article_parser_spark.functions.textstats import (
        LANG_SCRIPT_GATES,
        LANG_TRIGRAMS,
        LATIN_KERNEL_CLASS,
    )

    latin_re = re.compile(LATIN_KERNEL_CLASS)
    for lang, tgs in LANG_TRIGRAMS.items():
        if lang in LANG_SCRIPT_GATES:
            continue
        for tg in tgs:
            assert latin_re.search(tg), (lang, tg)


def test_normtext_positive_class_equivalence():
    """NORMTEXT_JUNK_RE must match exactly [^A-Za-z0-9À-￿] per char."""
    import re

    from horseman_article_parser_spark.functions.textstats import (
        NORMTEXT_JUNK_RE,
    )

    neg = re.compile(r"[^A-Za-z0-9À-￿]")
    pos = re.compile(NORMTEXT_JUNK_RE.replace("\\\\", "\\").rstrip("+"))
    for i in range(0x10000):
        c = chr(i)
        assert bool(neg.match(c)) == bool(pos.match(c)), hex(i)


ADVERSARIAL_TEXTS = [
    (101, ""),
    (102, "   "),
    (103, "\t\n"),
    (104, "one. two! three? four"),
    (105, "para one\n\npara two\n\n\npara three"),
    (106, "the the the a and of to in"),
    (107, "fast big merge slow small dup good great bad error"),
    (108, "word " * 300 + "end."),
    (109, "élan café İstanbul STRASSE straße"),
    (110, "naïve nbsp bound"),          # NBSP is not Java \s
    (111, "mixed 123 digits 4.5 and—dashes it's"),
    (112, "你好 world Ж test"),
    (113, "trailing spaces   "),
    (114, "a.b.c...d!!e??f"),
    (115, "UPPER lower MiXeD 'qu 'quo"),
]


def test_text_quality_kernel_matches_declarative(spark):
    """text_quality_batch must be BIT-EXACT with the staged Column-
    algebra plan it replaced (readability_cols + occurrences 'the' +
    bpe_token_count + with_quality + bag_fingerprint) over testdata
    docs plus adversarial fixtures (empty/whitespace-only text, NBSP,
    non-Latin scripts, punctuation runs, paragraph breaks)."""
    import pyspark.sql.functions as F
    from horseman_article_parser_spark.functions import textstats as TS

    edge = spark.createDataFrame(
        ADVERSARIAL_TEXTS, "doc_id long, text string")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for d in (edge, docs.select("doc_id", "text")):
        staged = d.withColumn("_toks", TS.tokens_col("text"))
        toks = F.col("_toks")
        rcols = TS.readability_cols(F.col("text"), tokens=toks)
        staged = TS.with_quality(staged, "text", tokens=toks)
        decl = staged.select(
            "doc_id",
            *[c.alias(n) for n, c in rcols.items()],
            TS.occurrences_col("text", "the", tokens=toks).alias("n_the"),
            TS.bpe_token_count_col("text").alias("n_bpe_tokens"),
            "stopword_hits", "alpha_ratio_x1e4", "quality_score",
            TS.bag_fingerprint_col("text").alias("bag_fp"),
        )
        kern = TS.text_quality_batch(d)
        a = sorted(map(tuple, decl.collect()))
        b = sorted(map(tuple, kern.collect()))
        assert a == b, next(
            (x, y) for x, y in zip(a, b) if x != y)
