"""N2 entity-cascade parity — scenarios mirrored from the reference's
own suite (/root/reference/tests/entityParser.test.js)."""

import pyspark.sql.functions as F

from horseman_article_parser_spark.operators.entities import (
    entities_exploded,
    extract_entities,
    strip_possessive,
)


def test_possessive_strip_simple():
    # entityParser.test.js:20-29
    res = extract_entities(
        "Angela's phone was found in Paris's museum run by Google's team"
    )
    assert res["people"] == ["Angela"]
    assert res["places"] == ["Paris"]
    assert res["orgs"] == ["Google"]
    for arr in res.values():
        assert not any(p.endswith("'s") for p in arr)


def test_possessive_multiword_people_with_honorifics():
    # entityParser.test.js:31-37
    res = extract_entities("Mr Trump's visit impressed Mrs May's supporters")
    assert "Mr Trump" in res["people"]
    assert "Mrs May" in res["people"]


def test_possessive_multiword_place_with_the():
    # entityParser.test.js:39-46
    res = extract_entities("The United States's economy continues to grow")
    assert "United States" in res["places"]
    assert "United States" in res["topics"]


def test_job_title_tail_trimmed():
    # entityParser.test.js:48-59 + 62-69
    res = extract_entities(
        "Our gratitude goes to Alice Johnson Senior Product Manager for Slack "
        "and Bob Smith Founder and CEO of Example Corp."
    )
    assert "Alice Johnson" in res["people"]
    assert "Bob Smith" in res["people"]
    assert not any("Senior" in p or "Founder" in p for p in res["people"])


def test_discourse_starter_stripped():
    # entityParser.test.js:72-77
    res = extract_entities("However Hannah Aldridge said the plan would help.")
    assert "Hannah Aldridge" in res["people"]
    assert not any(p.startswith("However") for p in res["people"])


def test_possessive_place_trailing_punct():
    # entityParser.test.js:79-85
    res = extract_entities("He returned from New Zealand's.")
    assert "New Zealand" in res["places"]
    assert not any("'" in p for p in res["places"])


def test_hyphenated_names_and_dedupe():
    # entityParser.test.js:87-91 + A12 first-occurrence dedupe
    res = extract_entities("Jean-Luc Picard met Jean-Luc Picard")
    assert res["people"] == ["Jean-Luc Picard"]


def test_adjacent_first_names_split_with_hints():
    # entityParser.test.js:93-98 (secondary hints)
    res = extract_entities(
        "John Mary arrived together.",
        hints={"secondary": {"people": ["John", "Mary"]}},
    )
    assert res["people"] == ["John", "Mary"]


def test_acknowledgement_list_and_subname_suppression():
    # entityParser.test.js:124-141: initials normalized (A. -> A),
    # single-word sub-names of longer names suppressed
    text = (
        "Acknowledgements: Borja Balle, Zachary Charles, "
        "Christopher A. Choquette-Choo, Lynn Chua, Badih Ghazi, Da Yu, "
        "Chiyuan Zhang."
    )
    res = extract_entities(text)
    for name in ["Borja Balle", "Zachary Charles", "Christopher A Choquette-Choo",
                 "Lynn Chua", "Badih Ghazi", "Da Yu", "Chiyuan Zhang"]:
        assert name in res["people"], name
    assert "Christopher" not in res["people"]


def test_strip_possessive_unit():
    assert strip_possessive("Paris's") == "Paris"
    assert strip_possessive("New Zealand's.") == "New Zealand"
    assert strip_possessive("Angela’s") == "Angela"


def test_entities_exploded_dataframe(spark):
    docs = spark.createDataFrame(
        [(0, "Mr Trump's visit to Paris pleased Google."),
         (1, None)],
        "doc_id long, text string",
    )
    rows = entities_exploded(docs).collect()
    got = {(r.doc_id, r.kind, r.entity) for r in rows}
    assert (0, "people", "Mr Trump") in got
    assert (0, "places", "Paris") in got
    assert (0, "orgs", "Google") in got
    assert not any(r.doc_id == 1 for r in rows)


def test_entities_exploded_runs_the_udf_once(spark):
    """The four entity kinds come from one UDF evaluation per document:
    the executed plan has exactly one ArrowEvalPython node."""
    docs = spark.createDataFrame(
        [(0, "Mr Trump's visit to Paris pleased Google.")],
        "doc_id long, text string",
    )
    plan = entities_exploded(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_dp_name_run_segmentation():
    """W10 splitLikelyNameRuns (entityParser.js:807-885): a 4+-word run
    with enough first-name signals segments into 2-4-word names via DP."""
    from horseman_article_parser_spark.operators.entities import (
        extract_entities,
    )

    hints = {"first": ["john", "mary"], "last": ["smith", "jones"]}
    got = extract_entities("Reporters met John Smith Mary Jones today.", hints)
    assert "John Smith" in got["people"] and "Mary Jones" in got["people"]
    assert "John Smith Mary Jones" not in got["people"]
    # without hint signals the run must NOT split
    got2 = extract_entities("Reporters met John Smith Mary Jones today.", {})
    assert "John Smith Mary Jones" in got2["people"]


def test_dp_segment_scoring_prefers_hint_boundaries():
    from horseman_article_parser_spark.operators.entities import (
        _split_likely_name_runs,
    )

    first = {"john", "mary"}
    last = {"smith", "jones"}
    # middle initials attach to the correct segment (3-word name)
    got = _split_likely_name_runs(
        ["John", "A.", "Smith", "Mary", "Jones"], first, last
    )
    assert got == ["John A. Smith", "Mary Jones"]
    # runs shorter than 4 words never split
    assert _split_likely_name_runs(["John", "Smith"], first, last) is None


def test_hint_cross_product_substring_search():
    """J5 (entityParser.js:1645-1657): every first×last hint pair
    substring-searched in the normalized text; lowercase mentions the
    capitalization grammar missed are recovered."""
    from horseman_article_parser_spark.operators.entities import (
        extract_entities,
    )

    hints = {"first": ["ada", "grace"], "last": ["lovelace", "hopper"]}
    text = "the award went to ada lovelace while grace hopper presented."
    got = extract_entities(text, hints)["people"]
    # 'ada' is not in the built-in FIRST_NAMES lexicon, so Ada lovelace
    # arrives via the J5 hint pass (reference capitalization: leading
    # char only); 'grace' IS, so Grace Hopper arrives via the round-4
    # lowercase-lexicon pass first (title-cased like the grammar's cased
    # output) and the hint pass dedupes on the normalized key.
    assert "Ada lovelace" in got and "Grace Hopper" in got
    # non-occurring combinations must NOT appear
    keys = {p.lower() for p in got}
    assert "ada hopper" not in keys and "grace lovelace" not in keys
    # without hints, only the lexicon-led name is visible ('lovelace'
    # has no lexicon first name in front of it)
    assert extract_entities(text, {})["people"] == ["Grace Hopper"]


def test_country_sequence_split_and_prefixes():
    """SO4 (entityParser.js:93-169,1106-1148): the full multi-word
    country set keeps names whole while sequences of countries split."""
    from horseman_article_parser_spark.operators.entities import (
        extract_entities,
        split_country_sequence,
    )

    # prefix buffering keeps 'Papua New Guinea' together
    assert split_country_sequence(["Papua", "New", "Guinea", "India"]) == [
        "Papua New Guinea", "India",
    ]
    assert split_country_sequence(
        ["United", "Arab", "Emirates", "South", "Korea"]
    ) == ["United Arab Emirates", "South Korea"]
    # a single group is not a split (reference returns null)
    assert split_country_sequence(["South", "Korea"]) is None
    # non-tagged word breaks the buffer and is dropped from groups
    assert split_country_sequence(["France", "Summit", "Germany"]) == [
        "France", "Germany",
    ]

    got = extract_entities(
        "The United Arab Emirates South Korea talks continued."
    )
    assert got["places"] == ["United Arab Emirates", "South Korea"]
    # a full multi-word name on its own classifies via the gazetteer
    got2 = extract_entities("Officials from Bosnia and Herzegovina spoke.")
    assert "Bosnia" not in got2["people"]


def test_ner_recall_adversarial_lowercase_corpus():
    """Recall metric for the sanctioned N2 fidelity gap (VERDICT r3
    next-round #8): the reference's compromise-based recognizer catches
    lowercase/irregular entities that our deterministic capitalization
    grammar cannot (entityParser.test.js:7-18 capitalizes entities
    recovered from an all-lowercase sentence). This test MEASURES the
    gap every round — it prints recall and pins the current value so a
    future grammar/statistical upgrade shows up as a number moving, not
    an invisible doc note. It deliberately does NOT xfail wholesale:
    the cased control group must stay at 100%."""
    cases = [
        # (text, expected entity surface forms the REFERENCE recovers)
        # -- adversarial tier 1: lowercase but lexicon-reachable
        # (covered since r4 by the lowercase-lexicon pass)
        ("john doe went to paris. google and microsoft.",
         ["John Doe", "Paris", "Google", "Microsoft"]),
        ("the meeting in berlin impressed angela merkel.",
         ["Berlin", "Angela Merkel"]),
        ("apple and intel shipped chips from taiwan.",
         ["Apple", "Intel", "Taiwan"]),
        # -- adversarial tier 2: lowercase AND outside every lexicon —
        # reached since r5 by the context-trigger pass (org descriptor,
        # reporting verb, org tail word, locative preposition)
        ("the startup deepgram hired zuri okafor from acme robotics.",
         ["Deepgram", "Zuri Okafor", "Acme Robotics"]),
        ("reports from ouagadougou say the bank raised rates.",
         ["Ouagadougou"]),
        # -- adversarial tier 3: lowercase, out-of-lexicon, no
        # PRECEDING trigger — reached since r5 by the following-context
        # triggers (financial-report noun / market-move verb after the
        # unknown token)
        ("qantara results beat expectations as veltrix stumbled.",
         ["Qantara", "Veltrix"]),
        # -- control: properly cased (grammar territory)
        ("John Doe went to Paris. Google and Microsoft.",
         ["John Doe", "Paris", "Google", "Microsoft"]),
        ("The meeting in Berlin impressed Angela Merkel.",
         ["Berlin", "Angela Merkel"]),
    ]
    found = missed = 0
    cased_found = cased_expected = 0
    for text, expected in cases:
        res = extract_entities(text)
        got = {e.lower() for arr in res.values() for e in arr}
        cased = text != text.lower()
        for ent in expected:
            hit = any(ent.lower() in g or g in ent.lower() for g in got)
            found += hit
            missed += not hit
            if cased:
                cased_expected += 1
                cased_found += hit
    total = found + missed
    recall = found / total
    print(f"\nNER adversarial recall: {found}/{total} = {recall:.2f} "
          f"(cased control {cased_found}/{cased_expected})")
    # the cased control group must be fully recovered by the grammar
    assert cased_found == cased_expected
    # pin the CURRENT recall: r3 grammar scored 0/9 lowercase; the r4
    # lowercase-lexicon pass recovered the 9 tier-1 entities; the r5
    # preceding-context triggers the 4 tier-2 entities; the r5
    # following-context triggers (report nouns / market verbs) the 2
    # tier-3 entities. If recall moves, update this pin so the change
    # is measured, not silent.
    assert found == 21 and total == 21, (
        f"NER recall moved ({found}/{total}) - update the recall pin"
    )


def test_org_span_does_not_absorb_capitalized_tokens():
    """r5 review: the lowercase org-descriptor span must stop at a
    CAPITALIZED token — 'the startup vexly Robotics' emits org 'Vexly'
    only; 'Robotics' belongs to the cased grammar and must not be
    double-classified into the span. Fully-lowercase tails still
    extend the span ('the startup acme robotics' -> 'Acme Robotics')."""
    r = extract_entities("the startup vexly Robotics shipped units today.")
    assert "Vexly" in r["orgs"]
    assert all("Robotics" not in o for o in r["orgs"])
    r2 = extract_entities("the startup acme robotics shipped units today.")
    assert "Acme Robotics" in r2["orgs"]


def test_locative_rule_ignores_common_nouns():
    """Precision pin for the locative place rule (r5 review): a
    lowercase common noun after in/from/near must NOT be minted as a
    Place — the known-word veto now runs against the full expanded
    wordlist('en'), so only genuinely out-of-vocabulary tokens
    ("from ouagadougou") qualify."""
    from horseman_article_parser_spark.operators.entities import (
        extract_entities,
    )

    clean = [
        "dressed in khaki, they marched through the field.",
        "the table was carved from teak and cedar.",
        "we camped near twilight and cooked stew in broth.",
        "she paid for the denim jacket and the wool coat.",
    ]
    for text in clean:
        res = extract_entities(text)
        assert not res.get("places"), (text, res["places"])
    # the recall case the rule exists for still fires
    res = extract_entities("reports from ouagadougou say rates rose.")
    assert "Ouagadougou" in res["places"]

def test_following_context_rule_ignores_plain_finance_prose():
    """Precision pin for the following-context org rule (r5 review #2):
    ORG_FOLLOW_NOUNS / MARKET_VERBS are trigger vocabulary — "known" by
    definition — so they must be excluded from _unknown_tok, and common
    finance modifiers (quarterly, fiscal, retail, tech, earnings, stock)
    must sit in wordlist('en'). Without both, ordinary market prose
    minted phantom orgs ('Stock', 'Quarterly', 'Stock Tumbled')."""
    clean = [
        "the stock tumbled five percent before noon.",
        "the earnings forecast beat expectations.",
        "the company stock tumbled on the news.",
        "quarterly earnings soared across the sector.",
        "retail sales slumped while tech shares rallied.",
        "fiscal guidance disappointed shareholders again.",
    ]
    for text in clean:
        res = extract_entities(text)
        assert not res.get("orgs"), (text, res["orgs"])
    # the recall cases the rule exists for still fire
    assert "Qantara" in extract_entities(
        "qantara results beat expectations.")["orgs"]
    assert "Veltrix" in extract_entities(
        "as veltrix stumbled, rivals gained.")["orgs"]


def test_closed_class_words_not_inflected():
    """r5 review #2: 'the' (and where/why/how) must be in
    EN_CLOSED_CLASS so the affix pass never generates junk forms —
    'thes' was silently accepted as correctly spelled, un-flagging a
    frequent real typo."""
    from horseman_article_parser_spark.functions.wordlists import wordlist

    wl = wordlist("en")
    for junk in ["thes", "thed", "theing", "whered", "wheres", "whying",
                 "howed", "howing"]:
        assert junk not in wl, junk
    for real in ["the", "where", "why", "how", "quarterly", "earnings",
                 "rallied", "tumbled", "shareholders", "forecasts"]:
        assert real in wl, real
