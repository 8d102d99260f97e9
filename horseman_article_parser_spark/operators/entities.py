"""Named-entity extraction cascade (SURVEY §2.8 N2, §2.3 J4, §2.4 A12,
§2.7 X1-X5).

Behavior-parity subset of the reference's entityParser
(/root/reference/controllers/entityParser.js): deterministic
capitalized-run recognition followed by the reference's cleanup
cascade — possessive strip (helpers.js:81-96), honorific merge
(entityParser.js:636-667), job-title tail trim (:437-459, word sets
:39-70), discourse/sentence-starter trim (:553,568-588), first-
occurrence dedupe on the normalized key (:1582-1594), sub-name
suppression (:1660-1729) and the people×places anti-filter
(:1742-1747). The reference's statistical recognizer (`compromise`) is
replaced by a deterministic capitalization grammar with broadcast
gazetteer/org/hint sets — the cleanup semantics, which its own test
suite actually pins, are preserved verbatim.

Spark surface: `extract_entities` per document behind an Arrow UDF
emits the (people, places, orgs, topics) arrays;
dedupe/anti-joins are relational on the exploded rows. Hint and
gazetteer sets are broadcast (≪ 10 MB).
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

HONORIFICS = {"mr", "mrs", "ms", "miss", "dr", "prof", "sir", "dame", "lord", "lady"}
JOB_TITLE_PREPOSITIONS = set(
    "at for with from by via in on to into onto through within without over under "
    "against toward towards around across after before during since because while "
    "when where among between per including inside outside along behind beyond "
    "upon amid amidst amongst beside besides concerning regarding about according "
    "off of".split()
)
JOB_TITLE_CORE = set(
    "advisor adviser advocate ambassador analyst architect artist associate "
    "attorney author captain ceo chair chairman chairwoman chairperson chief "
    "cofounder coo cfo cto cmo cio commissioner consultant coordinator creator "
    "curator dean developer designer director editor educator engineer "
    "entrepreneur executive fellow founder founders governor head instructor "
    "investigator investor journalist lawyer lecturer leader lead manager "
    "minister musician nurse officer owner partner philanthropist photographer "
    "physician pilot planner president principal producer professor programmer "
    "psychologist researcher reporter scientist singer specialist strategist "
    "student surgeon teacher technician technologist trustee vice vp svp evp".split()
)
JOB_TITLE_MODIFIERS = set(
    "academic acting adjunct administrative administration advanced ai analytics "
    "applied assistant associate business capital chief client clinical "
    "commercial communications community compliance content corporate creative "
    "customer data digital economic education engineering enterprise "
    "environmental equity executive financial global government growth health "
    "human impact industrial innovation insights institutional interim "
    "international investment legal logistics marketing medical national "
    "operations operational partnership people performance policy portfolio "
    "press principal private product production program project public quality "
    "regional reliability research resources sales senior software solution "
    "solutions strategic strategy support sustainability talent tech technical "
    "technology trade training transport venture".split()
)
SENTENCE_STARTERS = {"we", "our", "ours", "the", "this", "that", "these", "those", "however"}
DISCOURSE_STARTERS = {"however", "meanwhile", "later", "moreover", "furthermore", "speaker"}

# Full multi-word-country set (SO4), mirroring
# /root/reference/controllers/entityParser.js:93-169: names are stored
# normalized; prefixes are generated from them exactly like the
# reference's MULTI_WORD_COUNTRY_PREFIXES loop (every proper prefix of
# every name), so a buffered scan knows whether a partial match can
# still extend.
_MULTI_WORD_COUNTRY_RAW = (
    "United States", "United States of America", "United Kingdom",
    "United Arab Emirates", "New Zealand", "New Caledonia",
    "Papua New Guinea", "Equatorial Guinea", "Guinea Bissau",
    "Guinea-Bissau", "Czech Republic", "Dominican Republic",
    "Central African Republic", "Democratic Republic of the Congo",
    "Republic of the Congo", "South Africa", "South Korea", "South Sudan",
    "North Korea", "Saudi Arabia", "Costa Rica", "Sierra Leone",
    "Ivory Coast", "Cote d'Ivoire", "El Salvador", "San Marino",
    "Sri Lanka", "Trinidad and Tobago", "Trinidad y Tobago",
    "Antigua and Barbuda", "Antigua y Barbuda", "Bosnia and Herzegovina",
    "Marshall Islands", "Solomon Islands", "Cabo Verde", "Cape Verde",
    "Saint Kitts and Nevis", "Saint Lucia",
    "Saint Vincent and the Grenadines", "Federated States of Micronesia",
    "Micronesia", "Timor Leste", "East Timor", "Western Sahara",
    "Puerto Rico", "Hong Kong", "Northern Ireland", "American Samoa",
    "French Polynesia", "Cayman Islands", "Faroe Islands", "Cook Islands",
    "Vatican City", "Holy See", "State of Palestine",
    "Palestinian Territories", "Sao Tome and Principe", "Saint Barthelemy",
    "Saint Pierre and Miquelon", "Wallis and Futuna",
    "Turks and Caicos Islands", "British Virgin Islands",
    "United States Virgin Islands", "Isle of Man",
    "Bonaire Sint Eustatius and Saba", "Sint Maarten", "Saint Martin",
)

# single-word countries for the country-tag stand-in (the reference gets
# these from compromise's #Country tags)
_SINGLE_COUNTRIES = {
    "france", "germany", "spain", "italy", "china", "japan", "russia",
    "india", "canada", "australia", "brazil", "mexico", "portugal",
    "poland", "sweden", "norway", "finland", "ukraine", "turkey", "egypt",
    "kenya", "nigeria", "argentina", "chile", "peru", "colombia",
    "indonesia", "malaysia", "thailand", "vietnam", "pakistan",
    "bangladesh", "iran", "iraq", "israel", "jordan", "qatar", "kuwait",
    "oman", "greece", "austria", "belgium", "denmark", "switzerland",
    "netherlands", "ireland", "scotland", "wales", "england", "taiwan",
    "singapore", "philippines", "cuba", "venezuela", "morocco",
    "algeria", "ethiopia", "ghana", "cambodia", "laos", "nepal",
}

KNOWN_PLACE_PHRASES = {"white house", "palestinian authority", "hamas authority"}


def _norm_simple(s: str) -> str:
    import re as _re

    out = _re.sub(r"['’]", "", s)
    out = _re.sub(r"[^A-Za-z0-9À-þ]+", " ", out)
    return out.strip().lower()


MULTI_WORD_COUNTRY_NAMES = {_norm_simple(n) for n in _MULTI_WORD_COUNTRY_RAW}
MULTI_WORD_COUNTRY_PREFIXES: set[str] = set()
for _name in MULTI_WORD_COUNTRY_NAMES:
    _toks = _name.split()
    for _i in range(1, len(_toks)):
        MULTI_WORD_COUNTRY_PREFIXES.add(" ".join(_toks[:_i]))

# tokens that may participate in a country name — the deterministic
# stand-in for compromise's per-term #Country tag
COUNTRY_TOKENS = _SINGLE_COUNTRIES | {
    tok for name in MULTI_WORD_COUNTRY_NAMES for tok in name.split()
}

# small built-in gazetteers (broadcastable; extensible via args)
PLACES = {
    "paris", "london", "madrid", "berlin", "rome", "tokyo", "moscow", "beijing",
    "new york", "glasgow", "europe", "asia", "africa", "america",
} | _SINGLE_COUNTRIES | MULTI_WORD_COUNTRY_NAMES | KNOWN_PLACE_PHRASES
ORGS = {
    "google", "microsoft", "apple", "amazon", "facebook", "meta", "cisco",
    "cisco meraki", "slack", "example corp", "ofgem", "nasa", "bbc", "reuters",
    "energy saving trust", "intel", "ibm", "netflix", "tesla", "samsung",
    "sony", "nvidia", "spotify", "airbnb", "toyota", "siemens", "nokia",
}
ORG_SUFFIXES = {"corp", "inc", "ltd", "llc", "plc", "gmbh", "co", "group", "trust"}

# Compact given-name lexicon for the lowercase-entity pass (the
# deterministic stand-in for compromise's #FirstName lexicon — the
# reference recognizes people in all-lowercase text,
# entityParser.test.js:7-18). Lowercase-only trigger: cased names go
# through the capitalization grammar unchanged.
FIRST_NAMES = set(
    "james john robert michael william david richard joseph thomas charles "
    "christopher daniel matthew anthony mark donald steven paul andrew joshua "
    "kenneth kevin brian george edward ronald timothy jason jeffrey ryan jacob "
    "gary nicholas eric jonathan stephen larry justin scott brandon benjamin "
    "samuel frank gregory raymond alexander patrick jack dennis jerry tyler "
    "aaron jose adam henry nathan douglas zachary peter kyle walter ethan "
    "jeremy harold keith christian roger noah gerald carl terry sean austin "
    "arthur lawrence jesse dylan bryan joe jordan billy bruce albert willie "
    "gabriel logan alan juan wayne roy ralph randy eugene vincent russell "
    "elijah louis bobby philip johnny mary patricia jennifer linda elizabeth "
    "barbara susan jessica sarah karen nancy lisa betty margaret sandra "
    "ashley kimberly emily donna michelle dorothy carol amanda melissa "
    "deborah stephanie rebecca sharon laura cynthia kathleen amy shirley "
    "angela helen anna brenda pamela nicole emma samantha katherine christine "
    "debra rachel catherine carolyn janet ruth maria heather diane virginia "
    "julie joyce victoria olivia kelly christina lauren joan evelyn judith "
    "megan cheryl andrea hannah martha jacqueline frances gloria ann teresa "
    "kathryn sara janice jean alice madison doris abigail julia judy grace "
    "denise amber marilyn beverly danielle theresa sophia marie diana "
    "brittany natalie isabella charlotte rose alexis kayla "
    "angela beth carol dora elsa fay fred gina gus hank ivy carl evan dan "
    "bob alan jeanluc pierre hans jurgen klaus".split()
)

# Compact surname lexicon for the lowercase-entity pass (the
# deterministic stand-in for compromise's #LastName lexicon). Common
# public surnames (census-style top names + the reference's own test
# fixtures). A surname listed here stays recognizable even when it is
# ALSO an ordinary dictionary word ("doe", "smith", "brown") — the
# common-word guard alone would reject those as the wordlist grows.
SURNAMES = set(
    "smith johnson williams brown jones garcia miller davis rodriguez "
    "martinez hernandez lopez gonzalez wilson anderson thomas taylor moore "
    "jackson martin lee perez thompson white harris sanchez clark ramirez "
    "lewis robinson walker young allen king wright scott torres nguyen hill "
    "flores green adams nelson baker hall rivera campbell mitchell carter "
    "roberts gomez phillips evans turner diaz parker cruz edwards collins "
    "reyes stewart morris morales murphy cook rogers gutierrez ortiz morgan "
    "cooper peterson bailey reed kelly howard ramos kim cox ward richardson "
    "watson brooks chavez wood james bennett gray mendoza ruiz hughes price "
    "alvarez castillo sanders patel myers long ross foster jimenez powell "
    "jenkins perry russell sullivan bell coleman butler henderson barnes "
    "fisher doe merkel macron scholz sunak trudeau ardern okonkwo adeyemi "
    "kowalski novak ivanov petrov yamamoto tanaka suzuki sato chen wang "
    "zhang liu singh kumar sharma khan ali hassan ahmed mohammed abadi "
    "haddad nasser mbeki kenyatta mandela nkrumah toure diallo keita "
    "dubois lefebvre moreau fontaine rossi ferrari romano ricci esposito "
    "silva santos oliveira pereira costa almeida fernandez dominguez "
    "vasquez herrera medina aguilar castro vargas guzman mejia rojas".split()
)

# Context-trigger vocab for the lowercase pass: a role word, reporting
# verb, organization descriptor, or locative preposition legitimizes
# the adjacent lowercase out-of-lexicon tokens as a named entity — the
# deterministic stand-in for compromise's context patterns. Role vocab
# mirrors the reference's JOB_TITLE_CORE_WORDS
# (/root/reference/controllers/entityParser.js:46-57); honorifics
# mirror entityParser.js:81.
ROLE_TRIGGERS = {
    "ceo", "cto", "cfo", "coo", "cmo", "cio", "chair", "chairman",
    "chairwoman", "president", "director", "founder", "cofounder",
    "professor", "minister", "governor", "ambassador", "analyst",
    "engineer", "researcher", "reporter", "journalist", "scientist",
    "manager", "officer", "captain", "dean", "editor", "author",
    "lawyer", "attorney", "physician", "surgeon",
}
REPORT_VERBS = {
    "said", "told", "hired", "met", "asked", "quoted", "interviewed",
    "appointed", "promoted", "named", "succeeded",
}
ORG_CONTEXT_WORDS = {
    "startup", "company", "firm", "manufacturer", "retailer", "airline",
    "carrier", "automaker", "chipmaker", "insurer", "publisher", "label",
    "conglomerate", "subsidiary",
}
ORG_TAIL_WORDS = {
    "robotics", "labs", "laboratories", "technologies", "systems",
    "industries", "ventures", "partners", "holdings", "logistics",
    "analytics", "dynamics", "networks", "solutions", "biosciences",
    "pharmaceuticals", "semiconductors", "aerospace", "motors",
} | ORG_SUFFIXES
# following-context triggers: a financial-report noun or market-move
# verb right AFTER an out-of-vocabulary token marks it as an org
# ("qantara results beat expectations", "as veltrix stumbled") — the
# mirror image of ORG_CONTEXT_WORDS, which precede the name.
ORG_FOLLOW_NOUNS = {
    "results", "earnings", "shares", "stock", "revenue", "revenues",
    "profits", "sales", "guidance", "forecast", "shareholders",
}
MARKET_VERBS = {
    "stumbled", "rallied", "surged", "slumped", "tumbled", "soared",
    "plunged", "rebounded", "outperformed", "underperformed",
}
PLACE_PREPOSITIONS = {"in", "from", "near"}

_COMMON_WORDS_CACHE: set[str] | None = None


def _common_word_set() -> set[str]:
    """The embedded static en wordlist, cached — the 'surname must not
    be a common word' guard of the lowercase name-pair rule."""
    global _COMMON_WORDS_CACHE
    if _COMMON_WORDS_CACHE is None:
        from ..functions.wordlists import wordlist

        _COMMON_WORDS_CACHE = set(wordlist("en"))
    return _COMMON_WORDS_CACHE


_POSSESSIVE_RE = re.compile(r"(['’]s|['’])\s*$", re.IGNORECASE)
_TRAIL_PUNCT_RE = re.compile(r"[.,;:!?\s]+$")
_CAP_WORD_RE = re.compile(r"^[A-ZÀ-Þ][\w'’.-]*$", re.UNICODE)
_INITIAL_RE = re.compile(r"^[A-Z]\.?$")
_TOKEN_RE = re.compile(r"[^\s]+")


def strip_possessive(s: str) -> str:
    """X2 (/root/reference/helpers.js:81-96)."""
    out = _TRAIL_PUNCT_RE.sub("", s)
    out = _POSSESSIVE_RE.sub("", out)
    return _TRAIL_PUNCT_RE.sub("", out)


def normalize_entity(s: str) -> str:
    """X1 (/root/reference/controllers/entityParser.js:83-90)."""
    out = re.sub(r"['’]", "", s)
    out = re.sub(r"[^A-Za-z0-9À-þ]+", " ", out)
    return out.strip().lower()


def _canonical(word: str) -> str:
    return normalize_entity(word).replace("-", "").replace(" ", "")


def _trim_job_title_tail(words: list[str]) -> list[str]:
    """detectJobTitleTail semantics (entityParser.js:437-459): a name of
    ≥3 words whose tail (from index ≥2) is job-title vocabulary loses
    the tail."""
    if len(words) < 3:
        return words
    canon = [_canonical(w) for w in words]
    for i in range(2, len(canon)):
        if canon[i] in JOB_TITLE_CORE or canon[i] in JOB_TITLE_MODIFIERS:
            # walk back over contiguous title vocabulary
            start = i
            while start > 2 and (
                canon[start - 1] in JOB_TITLE_CORE
                or canon[start - 1] in JOB_TITLE_MODIFIERS
            ):
                start -= 1
            if start >= 2:
                return words[:start]
    return words


def _trim_discourse_starter(words: list[str]) -> list[str]:
    while len(words) >= 2 and normalize_entity(words[0]) in DISCOURSE_STARTERS:
        words = words[1:]
    return words


def _trim_sentence_starter_tail(words: list[str]) -> list[str]:
    while len(words) >= 2 and normalize_entity(words[-1]) in SENTENCE_STARTERS:
        words = words[:-1]
    return words


# connector-bearing country names ('Bosnia and Herzegovina', 'Isle of
# Man') would be broken by the capitalization grammar (lowercase
# and/of/the/y end a run) — protect them with a word-joiner before run
# extraction, restore the space at token time. Case-sensitive patterns
# over the canonical surfaces avoid false hits.
_COUNTRY_CONNECTOR_PATTERNS = [
    re.compile(r"\b" + r"\s+".join(re.escape(t) for t in raw.split()) + r"\b")
    for raw in _MULTI_WORD_COUNTRY_RAW
    if any(t.islower() for t in raw.split())
]
_JOINER = "⁠"


def _protect_country_connectors(text: str) -> str:
    for pat in _COUNTRY_CONNECTOR_PATTERNS:
        if pat.search(text):
            text = pat.sub(lambda m: m.group(0).replace(" ", _JOINER), text)
    return text


def _cap_runs(text: str, hints: dict | None) -> list[list[str]]:
    """Maximal runs of capitalized tokens (with initials and hyphenated
    parts), split on list commas."""
    runs: list[list[str]] = []
    text = _protect_country_connectors(text)
    for segment in re.split(r"[,;:()\[\]]| and | or ", text):
        current: list[str] = []

        def close() -> None:
            nonlocal current
            if current:
                runs.append(current)
            current = []

        for m in _TOKEN_RE.finditer(segment):
            tok = m.group(0)
            if _JOINER in tok:
                # protected multi-word country: one run element with the
                # original spaces restored
                restored = tok.replace(_JOINER, " ")
                bare = restored.strip(".,;:!?\"“”")
                current.append(restored.strip(",;:!?\"“”"))
                if tok.rstrip("\"'”’").endswith((".", "!", "?")):
                    close()
                continue
            bare = tok.strip(".,;:!?\"“”")
            if _CAP_WORD_RE.match(bare) or _INITIAL_RE.match(bare):
                current.append(tok.strip(",;:!?\"“”"))
                # sentence-ending punctuation closes the run — unless the
                # token is a single-letter initial ("A." in a name)
                is_initial = len(bare) == 1 and bare.isupper()
                if tok.rstrip("\"'”’").endswith((".", "!", "?")) and not is_initial:
                    close()
            else:
                close()
        close()
    return runs


def _split_adjacent_firsts(words: list[str], first_hints: set[str]) -> list[list[str]]:
    """'John Mary' with both in the first-name hint set splits into two
    single names (entityParser.js:795-805)."""
    if len(words) == 2:
        a, b = normalize_entity(words[0]), normalize_entity(words[1])
        if a in first_hints and b in first_hints:
            return [[words[0]], [words[1]]]
    return [words]


# ------------------------------------------------ W10 DP run segmentation
# splitLikelyNameRuns / scoreNameSegment parity
# (/root/reference/controllers/entityParser.js:807-885): a run of >=4
# capitalized name-pattern words segments into 2-4-word person names by
# dynamic programming over per-segment scores (first/last hint signals
# weighted 2, plain name words 1, middle initials/suffixes fractional).
# The reference also consults compromise's #FirstName/#LastName tag sets
# inside likelyFirst/likelyLast; the deterministic stand-in keeps the
# hint sets + COMMON_LAST_SUFFIXES signals (same shape, pinned corpus).

COMMON_LAST_SUFFIXES = (
    "sson", "son", "sen", "ez", "es", "is", "os", "as", "ian", "yan",
    "ov", "ova", "ev", "eva", "ski", "sky", "stein", "berg", "ford",
    "well", "wood", "land", "ton", "dson", "dsen", "man", "mann",
    "vich", "vych", "wicz", "witz", "escu", "opoulos", "ashvili",
    "dottir",
)
_GENERIC_NAME_RE = re.compile(r"^[A-ZÀ-Þ][\w'’.\-]*$", re.UNICODE)
_INITIAL_NAME_RE = re.compile(r"^[A-ZÀ-Þ](?:[.’']|\.)?$")
_NAME_SUFFIX_RE = re.compile(r"^(?:jr|sr|ii|iii|iv|phd|md|esq)$", re.I)
_ALL_UPPER_RE = re.compile(r"^[A-ZÀ-Þ]+$")
_TRAILING_UPPER_RE = re.compile(r"[A-ZÀ-Þ](?![a-zà-þ])[A-ZÀ-Þ'’.\-]*$")


def _clean_name_candidate(part: str) -> str:
    out = re.sub(r"^[^\w'’.\-]+", "", part)
    out = re.sub(r"[^\w'’.\-]+$", "", out)
    return re.sub(r"\s+", " ", out).strip()


def _likely_suffix(word: str) -> bool:
    return bool(_NAME_SUFFIX_RE.match(normalize_entity(word) or ""))


def _likely_last(word: str, last_hints: set[str]) -> bool:
    n = normalize_entity(word)
    if not n:
        return False
    if n in last_hints:
        return True
    return any(n.endswith(suf) for suf in COMMON_LAST_SUFFIXES)


def _likely_first(word: str, first_hints: set[str]) -> bool:
    n = normalize_entity(word)
    return bool(n) and n in first_hints


def _word_looks_suspicious(word: str, first_hints: set[str],
                           last_hints: set[str]) -> bool:
    cleaned = _clean_name_candidate(word)
    if not cleaned or not _GENERIC_NAME_RE.match(cleaned):
        return True
    if _INITIAL_NAME_RE.match(cleaned) or _likely_suffix(cleaned):
        return False
    if not _TRAILING_UPPER_RE.search(cleaned) and not _ALL_UPPER_RE.match(cleaned):
        return False
    return not (
        _likely_first(cleaned, first_hints) or _likely_last(cleaned, last_hints)
    )


def _score_name_segment(segment: list[str], first_hints: set[str],
                        last_hints: set[str]) -> tuple[float, str] | None:
    """scoreNameSegment (entityParser.js:807-849)."""
    if not 2 <= len(segment) <= 4:
        return None
    if not all(_GENERIC_NAME_RE.match(p) for p in segment):
        return None
    cleaned = [_clean_name_candidate(p) for p in segment]
    if not all(cleaned):
        return None
    if any(_word_looks_suspicious(w, first_hints, last_hints) for w in cleaned):
        return None
    first, last = cleaned[0], cleaned[-1]
    if not (first[:1].isupper() and last[:1].isupper()):
        return None
    if _likely_suffix(first) or _INITIAL_NAME_RE.match(last):
        return None
    first_is_first = _likely_first(first, first_hints)
    last_is_last = _likely_last(last, last_hints)
    if not first_is_first and _INITIAL_NAME_RE.match(first):
        return None
    score = (2.0 if first_is_first else 1.0) + (2.0 if last_is_last else 1.0)
    has_middle_initial = False
    for word in cleaned[1:-1]:
        if not word[:1].isupper():
            return None
        if _likely_suffix(word):
            score += 0.25
        elif _INITIAL_NAME_RE.match(word):
            has_middle_initial = True
            score += 0.5
        elif (
            _likely_first(word, first_hints)
            or _likely_last(word, last_hints)
            or _GENERIC_NAME_RE.match(word)
        ):
            score += 0.25
        else:
            return None
    if has_middle_initial and len(cleaned) < 3:
        return None
    return score, " ".join(cleaned)


def _split_likely_name_runs(words: list[str], first_hints: set[str],
                            last_hints: set[str]) -> list[str] | None:
    """splitLikelyNameRuns (entityParser.js:851-885): best DP cover of
    the run by 2-4-word segments; None when the run shouldn't split."""
    if len(words) < 4:
        return None
    if not all(_GENERIC_NAME_RE.match(p) for p in words):
        return None
    first_signals = sum(
        1 for w in words
        if _likely_first(w, first_hints) or _INITIAL_NAME_RE.match(w)
    )
    if first_signals < 2 and len(words) < 6:
        return None
    n = len(words)
    dp: list[tuple[float, list[str]] | None] = [None] * (n + 1)
    dp[n] = (0.0, [])
    for i in range(n - 1, -1, -1):
        best: tuple[float, list[str]] | None = None
        for size in (2, 3, 4):
            end = i + size
            if end > n:
                break
            seg = _score_name_segment(words[i:end], first_hints, last_hints)
            if seg is None or dp[end] is None:
                continue
            total = seg[0] + dp[end][0]
            if best is None or total > best[0]:
                best = (total, [seg[1], *dp[end][1]])
        dp[i] = best
    if dp[0] is None or len(dp[0][1]) < 2:
        return None
    names = dp[0][1]
    if not all(len(name.split()) >= 2 for name in names):
        return None
    out = []
    for name in names:
        name = re.sub(r"\s+", " ", name).strip()
        name = re.sub(r"[.]+$", "", name)
        out.append(name[:1].upper() + name[1:])
    return out


def split_country_sequence(words: list[str]) -> list[str] | None:
    """splitCountrySequence (entityParser.js:1106-1148): split a run of
    country-tagged words into country names, keeping multi-word names
    together — buffer while the current chunk is a proper prefix of a
    multi-word country (or extending with the next tagged word forms
    one), flush otherwise. Returns None unless >1 groups result, like
    the reference. Country-tagging is the deterministic COUNTRY_TOKENS
    stand-in for compromise's #Country tags."""
    groups: list[str] = []
    buffer: list[str] = []

    def tagged(w: str) -> bool:
        n = normalize_entity(w)
        return n in COUNTRY_TOKENS or n in MULTI_WORD_COUNTRY_NAMES

    def flush() -> None:
        if buffer:
            cand = " ".join(buffer).strip()
            if cand:
                groups.append(cand)
            buffer.clear()

    n = len(words)
    for i, w in enumerate(words):
        if not tagged(w):
            flush()
            continue
        buffer.append(w)
        norm_buf = normalize_entity(" ".join(buffer))
        nxt = next((j for j in range(i + 1, n) if tagged(words[j])), None)
        if nxt is None:
            flush()
            continue
        norm_with_next = normalize_entity(" ".join([*buffer, words[nxt]]))
        if norm_with_next and norm_with_next in MULTI_WORD_COUNTRY_NAMES:
            continue
        if norm_buf and norm_buf in MULTI_WORD_COUNTRY_PREFIXES:
            continue
        flush()
    flush()
    return groups if len(groups) > 1 else None


def extract_entities(text: str | None, hints: dict | None = None) -> dict:
    """Per-document kernel → {people, places, orgs, topics} (each a
    first-occurrence-deduped list of cleaned entity strings)."""
    if not text:
        return {"people": [], "places": [], "orgs": [], "topics": []}
    hints = hints or {}
    first_hints = {normalize_entity(x) for x in hints.get("first", [])}
    first_hints |= {
        normalize_entity(x) for x in (hints.get("secondary") or {}).get("people", [])
    }
    last_hints = {normalize_entity(x) for x in hints.get("last", [])}
    places_gaz = PLACES | {normalize_entity(x) for x in hints.get("places", [])}
    orgs_gaz = ORGS | {normalize_entity(x) for x in hints.get("orgs", [])}

    people: list[str] = []
    places: list[str] = []
    orgs: list[str] = []
    topics: list[str] = []

    def add(bucket: list[str], name: str, seen: set[str]) -> None:
        key = normalize_entity(name)
        if key and key not in seen:
            seen.add(key)
            bucket.append(name[0].upper() + name[1:])

    seen_p: set[str] = set()
    seen_pl: set[str] = set()
    seen_o: set[str] = set()
    seen_t: set[str] = set()

    for run in _cap_runs(text, hints):
        words = [strip_possessive(w) if i == len(run) - 1 else w
                 for i, w in enumerate(run)]
        words = [w for w in (w.strip() for w in words) if w]
        if not words:
            continue
        # leading article 'The' before a gazetteer entity
        if len(words) >= 2 and normalize_entity(words[0]) == "the":
            words = words[1:]
        words = _trim_discourse_starter(words)
        words = _trim_sentence_starter_tail(words)
        if not words:
            continue
        phrase = " ".join(strip_possessive(w) for w in words)
        phrase = strip_possessive(phrase)
        key = normalize_entity(phrase)
        if not key:
            continue
        if key in places_gaz:
            add(places, phrase, seen_pl)
            add(topics, phrase, seen_t)
            continue
        if key in orgs_gaz or (
            len(words) >= 2 and normalize_entity(words[-1]) in ORG_SUFFIXES
        ):
            add(orgs, phrase, seen_o)
            add(topics, phrase, seen_t)
            continue
        # SO4: a pure country sequence in one capitalized run splits
        # into its country names (splitCountrySequence keeps multi-word
        # names whole via the prefix set — "United Arab Emirates South
        # Korea" → two places, never five)
        if all(
            normalize_entity(w) in COUNTRY_TOKENS
            or normalize_entity(w) in MULTI_WORD_COUNTRY_NAMES
            for w in words
        ):
            seq = split_country_sequence(words)
            if seq is not None and all(
                normalize_entity(s) in places_gaz for s in seq
            ):
                for s in seq:
                    add(places, s, seen_pl)
                    add(topics, s, seen_t)
                continue
        # person path: strip job-title tail, normalize initials
        words = _trim_job_title_tail(words)
        # W10: a >=4-word run of name-pattern words segments into 2-4
        # word names by the DP splitter when enough first-name signals
        # exist; otherwise the adjacent-firsts 2-word split applies
        dp_names = _split_likely_name_runs(words, first_hints, last_hints)
        if dp_names is not None:
            splits = [name.split(" ") for name in dp_names]
        else:
            splits = _split_adjacent_firsts(words, first_hints)
        for split in splits:
            cleaned = [w[:-1] if _INITIAL_RE.match(w) and w.endswith(".") else w
                       for w in split]
            # honorific-only or single stop-word runs are noise
            if not cleaned:
                continue
            if len(cleaned) == 1 and normalize_entity(cleaned[0]) in (
                SENTENCE_STARTERS | DISCOURSE_STARTERS | HONORIFICS
            ):
                continue
            name = strip_possessive(" ".join(cleaned))
            if not name:
                continue
            add(people, name, seen_p)
            add(topics, name, seen_t)

    # Lowercase-lexicon pass: the reference's statistical
    # recognizer finds entities in all-lowercase text and capitalizes
    # them (entityParser.test.js:7-18 — 'john doe went to paris. google
    # and microsoft.'); the capitalization grammar above is blind there.
    # Deterministic stand-in: known gazetteer places/orgs matched as
    # lowercase token spans, and FIRST_NAMES-led lowercase name pairs
    # whose surname is not a common dictionary word. Token-set gate
    # first so the per-doc cost is one tokenization + set lookups, not
    # a gazetteer-sized substring sweep.
    def _title(s: str) -> str:
        return " ".join(w[0].upper() + w[1:] if w else w for w in s.split())

    raw_tokens = [t for t in re.split(r"[^\w'’-]+", text) if t]
    lower_norm = [_norm_simple(t) for t in raw_tokens]
    lower_set = {
        n for t, n in zip(raw_tokens, lower_norm) if n and t == t.lower()
    }
    def _lower_span_exists(name_toks: list[str]) -> bool:
        """True iff the phrase occurs as CONSECUTIVE all-lowercase
        tokens. Substring-matching the case-folded whole text would be
        wrong: a phrase present only in cased form plus an unrelated
        lowercase lead token elsewhere would emit a spurious entity the
        cased grammar already absorbed into a longer span."""
        n = len(name_toks)
        for s in range(len(lower_norm) - n + 1):
            if lower_norm[s:s + n] == name_toks and all(
                raw_tokens[s + j] == raw_tokens[s + j].lower()
                for j in range(n)
            ):
                return True
        return False

    for gaz, bucket, seen in (
        (places_gaz, places, seen_pl),
        (orgs_gaz, orgs, seen_o),
    ):
        # sorted(): gazetteers are sets — iteration order must not
        # depend on PYTHONHASHSEED or the emitted array order would
        # differ between executor processes
        for name in sorted(gaz):
            name_toks = name.split(" ")
            if name_toks[0] not in lower_set:
                continue  # no lowercase occurrence of its lead token
            if len(name_toks) > 1 and not _lower_span_exists(name_toks):
                continue
            if normalize_entity(name) in seen:
                continue
            add(bucket, _title(name), seen)
            add(topics, _title(name), seen_t)

    common_words = _common_word_set()
    i = 0
    while i < len(raw_tokens):
        tok, norm = raw_tokens[i], lower_norm[i]
        if tok == tok.lower() and norm in FIRST_NAMES:
            nxt = lower_norm[i + 1] if i + 1 < len(raw_tokens) else None
            nxt_raw = raw_tokens[i + 1] if i + 1 < len(raw_tokens) else None
            if nxt and nxt_raw == nxt_raw.lower():
                if nxt in FIRST_NAMES:
                    # adjacent lowercase first names: two single people
                    # (the cased analogue splits too, test.js:92)
                    add(people, _title(norm), seen_p)
                    add(people, _title(nxt), seen_p)
                    add(topics, _title(norm), seen_t)
                    add(topics, _title(nxt), seen_t)
                    i += 2
                    continue
                if (
                    (nxt in SURNAMES or nxt not in common_words)
                    and nxt not in places_gaz
                    and nxt not in orgs_gaz
                    and nxt.isalpha()
                ):
                    full = _title(f"{norm} {nxt}")
                    add(people, full, seen_p)
                    add(topics, full, seen_t)
                    i += 2
                    continue
        i += 1

    # Context-trigger pass: role words, reporting verbs,
    # organization descriptors, and locative prepositions legitimize
    # adjacent lowercase OUT-OF-LEXICON tokens — the deterministic
    # stand-in for the statistical patterns that let the reference's
    # recognizer catch irregular entities ("the startup deepgram hired
    # zuri okafor from acme robotics"). Rules run org → person → place
    # and share a consumed-index set so one surface form classifies
    # exactly once.
    consumed: set[int] = set()

    def _unknown_tok(idx: int) -> bool:
        if idx >= len(raw_tokens) or idx in consumed:
            return False
        t, n = raw_tokens[idx], lower_norm[idx]
        return bool(
            t == t.lower() and n and n.isalpha()
            and n not in common_words
            and n not in places_gaz and n not in orgs_gaz
            and n not in FIRST_NAMES and n not in SURNAMES
            and n not in SENTENCE_STARTERS
            and n not in HONORIFICS
            # trigger vocab is "known" by definition — without this,
            # "deepgram hired" would merge into one org span
            and n not in ROLE_TRIGGERS and n not in REPORT_VERBS
            and n not in ORG_CONTEXT_WORDS and n not in ORG_TAIL_WORDS
            and n not in ORG_FOLLOW_NOUNS and n not in MARKET_VERBS
            and n not in PLACE_PREPOSITIONS
        )

    def _lower_tail_tok(idx: int) -> bool:
        """An ORG_TAIL_WORDS continuation must itself be a lowercase,
        unconsumed surface token — a capitalized 'Robotics' belongs to
        the cased grammar, and a consumed index must not classify
        twice."""
        return (
            idx < len(raw_tokens) and idx not in consumed
            and raw_tokens[idx] == raw_tokens[idx].lower()
            and lower_norm[idx] in ORG_TAIL_WORDS
        )

    # org descriptor ("the startup deepgram") or org tail word
    # ("acme robotics"): unknown-token spans become orgs
    for i, n in enumerate(lower_norm):
        if n in ORG_CONTEXT_WORDS and _unknown_tok(i + 1):
            span = [i + 1]
            while (
                span[-1] + 1 < len(raw_tokens) and len(span) < 3
                # a tail word ENDS the org name ("acme robotics shipped"
                # must not absorb the verb after the tail)
                and lower_norm[span[-1]] not in ORG_TAIL_WORDS
                and (_unknown_tok(span[-1] + 1)
                     or _lower_tail_tok(span[-1] + 1))
            ):
                span.append(span[-1] + 1)
            name = " ".join(lower_norm[j] for j in span)
            consumed.update(span)
            add(orgs, _title(name), seen_o)
            add(topics, _title(name), seen_t)
        elif (
            n in ORG_TAIL_WORDS and i > 0 and i not in consumed
            and _unknown_tok(i - 1)
            and raw_tokens[i] == raw_tokens[i].lower()
        ):
            name = f"{lower_norm[i - 1]} {n}"
            consumed.update((i - 1, i))
            add(orgs, _title(name), seen_o)
            add(topics, _title(name), seen_t)

    # role/reporting trigger + lowercase name pair ("hired zuri okafor",
    # "ceo jane doe"): first token unknown-or-first-name, second token
    # unknown-or-surname
    for i, n in enumerate(lower_norm):
        if n in ROLE_TRIGGERS or n in REPORT_VERBS:
            a, b = i + 1, i + 2
            if b >= len(raw_tokens) or a in consumed or b in consumed:
                continue
            na, nb = lower_norm[a], lower_norm[b]
            if not (
                raw_tokens[a] == raw_tokens[a].lower()
                and raw_tokens[b] == raw_tokens[b].lower()
                and na.isalpha() and nb.isalpha()
                and (na in FIRST_NAMES or _unknown_tok(a))
                and (nb in SURNAMES or _unknown_tok(b))
            ):
                continue
            consumed.update((a, b))
            full = _title(f"{na} {nb}")
            add(people, full, seen_p)
            add(topics, full, seen_t)

    # following-context org triggers ("qantara results …", "as veltrix
    # stumbled"): out-of-vocabulary token immediately before a
    # financial-report noun or market-move verb becomes an org
    for i, n in enumerate(lower_norm):
        if (
            (n in ORG_FOLLOW_NOUNS or n in MARKET_VERBS)
            and i > 0 and _unknown_tok(i - 1)
        ):
            consumed.add(i - 1)
            name = _title(lower_norm[i - 1])
            add(orgs, name, seen_o)
            add(topics, name, seen_t)

    # locative preposition + unknown token ("from ouagadougou") → place;
    # skipped when the next token is an org tail ("from acme robotics"
    # is the org rule's territory, already consumed above)
    for i, n in enumerate(lower_norm):
        if n in PLACE_PREPOSITIONS and _unknown_tok(i + 1):
            if i + 2 < len(raw_tokens) and lower_norm[i + 2] in ORG_TAIL_WORDS:
                continue
            consumed.add(i + 1)
            name = _title(lower_norm[i + 1])
            add(places, name, seen_pl)
            add(topics, name, seen_t)

    # J5 hint cross-product (entityParser.js:1645-1657): every
    # hints.first × hints.last pair substring-searched in the normalized
    # text; unseen hits join the people list. The tiny×tiny cross join
    # over a broadcastable hint table is the relational form.
    first_raw = list(hints.get("first", []))
    last_raw = list(hints.get("last", []))
    if first_raw and last_raw:
        haystack = normalize_entity(text)
        for f in first_raw:
            for last in last_raw:
                raw = f"{f} {last}"
                key = normalize_entity(raw)
                if key and key in haystack and key not in seen_p:
                    add(people, raw, seen_p)

    # J4: people that equal detected places are places, not people
    place_keys = {normalize_entity(p) for p in places}
    people = [p for p in people if normalize_entity(p) not in place_keys]

    # sub-name suppression (entityParser.js:1660-1729): drop single-word
    # people that prefix a longer extracted name
    multi_tokens = set()
    for p in people:
        toks = normalize_entity(p).split()
        if len(toks) > 1:
            multi_tokens.update(toks)
    people = [
        p for p in people
        if " " in p or normalize_entity(p) not in multi_tokens
    ]

    return {"people": people, "places": places, "orgs": orgs, "topics": topics}


ENTITIES_STRUCT = T.StructType(
    [
        T.StructField("people", T.ArrayType(T.StringType())),
        T.StructField("places", T.ArrayType(T.StringType())),
        T.StructField("orgs", T.ArrayType(T.StringType())),
        T.StructField("topics", T.ArrayType(T.StringType())),
    ]
)


def extract_entities_df(docs: DataFrame) -> DataFrame:
    """DataFrame op: (doc_id, text) → (doc_id, entities struct)."""
    entities = F.udf(extract_entities, ENTITIES_STRUCT, useArrow=True)
    return docs.select("doc_id", entities("text").alias("entities"))


def entities_exploded(docs: DataFrame) -> DataFrame:
    """(doc_id, kind, pos, entity) rows — the relational surface for
    dedupe/anti-join compositions (J3/J4 downstream). The UDF runs once
    per document: its four name lists become one array of (kind, names)
    structs, exploded to one row per kind, then per name."""
    ent = extract_entities_df(docs)
    kinds = F.array(*[
        F.struct(F.lit(f.name).alias("kind"), F.col(f"entities.{f.name}").alias("names"))
        for f in ENTITIES_STRUCT.fields
    ])
    return (
        ent.select("doc_id", F.explode(kinds).alias("_k"))
        .select(
            "doc_id", F.col("_k.kind").alias("kind"),
            F.posexplode_outer("_k.names").alias("pos", "entity"),
        )
        .filter(F.col("entity").isNotNull())
    )
