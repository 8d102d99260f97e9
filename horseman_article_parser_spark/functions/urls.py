"""URL canonicalization, skip predicates and article-likeness filters.

Semantics are behavior-parity reimplementations of the reference's URL
handling (NOT code ports):

- canonicalize_url  ≈ `new URL(u).toString()` normalization
  (/root/reference/scripts/batch-crawl.js:64-66,
   /root/reference/scripts/fetch-curated-urls.js:43-45) — lowercase
  scheme/host, strip default port, drop fragment, '/' path default.
- skip_reason       ≈ skipUrl (/root/reference/scripts/batch-sample-run.js:100-115):
  non-http(s) scheme, non-HTML resource extensions, denylisted hosts/paths.
- keep_likely_article ≈ keepLikelyArticles
  (/root/reference/scripts/fetch-curated-urls.js:47-74).
- amp_candidates    ≈ ampCandidates (/root/reference/scripts/batch-sample-run.js:85-98).

Each exists in two forms:
 1. a plain-Python scalar function (used by the parity simulator and
    inside Arrow UDFs and batch kernels), and
 2. a Column-expression builder (`*_col`) that keeps the hot-path work
    JVM-side inside whole-stage codegen wherever regex/parse_url can
    express it — Python only where true URL-parsing is required.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from urllib.parse import urlsplit, urlunsplit

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

_DEFAULT_PORTS = {"http": "80", "https": "443"}

# Everything OUTSIDE the Node-lenient base64 alphabet [A-Za-z0-9+/=_-],
# written as the explicit POSITIVE complement. Matches the exact same
# characters as the negated class (incl. surrogate halves, so astral
# chars are covered), but measured ~7x faster in Spark 4.1's
# regexp_replace on dense alphanumeric payloads — negated classes with
# 3+ ranges hit a slow path there. Equivalence is pinned by
# tests/test_urls.py::test_b64_junk_positive_class_equivalence.
B64_JUNK_RE = "[\\x00-\\x2a\\x2c\\x2e\\x3a-\\x3c\\x3e-\\x40\\x5b-\\x5e\\x60\\x7b-￿]"

NON_HTML_EXT_RE = r"(?i)\.(pdf|docx?|pptx?|xlsx?|zip|gz|rar|7z|tar|mp3|mp4|avi|mov|wmv)$"
_NON_HTML_EXT = re.compile(NON_HTML_EXT_RE)
_SECTION_NAMES = frozenset(
    {"news", "blog", "blogs", "articles", "stories", "index", "category"}
)
_DATED_PATH = re.compile(r"/(19|20)\d{2}/[01]?\d/")
_SLUGGY = re.compile(r"[-_]")
DENY_HOST_SUFFIXES = ("lists.ding.net",)


# ---------------------------------------------------------------- scalar


def canonicalize_url(u: str | None) -> str | None:
    """Canonical form: lowercase scheme/host, default-port strip, no
    fragment, '/' path when empty. Returns None for unparseable input."""
    if not u:
        return None
    try:
        parts = urlsplit(u.strip())
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if not scheme or not parts.netloc:
        return None
    host = parts.hostname
    if host is None:
        return None
    host = host.lower().rstrip(".")
    netloc = host
    try:
        port = parts.port
    except ValueError:
        return None
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme):
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    return urlunsplit((scheme, netloc, path, parts.query, ""))


def skip_reason(u: str | None) -> str | None:
    """Non-None means: drop this URL from the frontier, with a reason."""
    if not u:
        return "skip: empty"
    try:
        parts = urlsplit(u)
    except ValueError:
        return None
    if parts.scheme not in ("http", "https"):
        return "skip: non-http(s) scheme"
    path = parts.path or ""
    if _NON_HTML_EXT.search(path):
        return "skip: non-html resource"
    host = (parts.hostname or "").lower()
    for suffix in DENY_HOST_SUFFIXES:
        if host.endswith(suffix):
            return "skip: forbidden archive"
    if host.endswith("aljazeera.com") and path.startswith("/gallery/"):
        return "skip: gallery"
    return None


def keep_likely_article(u: str | None) -> bool:
    if not u:
        return False
    try:
        parts = urlsplit(u)
    except ValueError:
        return False
    if parts.scheme not in ("http", "https") or not parts.netloc:
        return False
    low = u.lower()
    path = parts.path or "/"
    segments = [s for s in path.split("/") if s]
    last = segments[-1] if segments else ""
    if "/live/" in low or "/video" in low or "/podcast" in low:
        return False
    if low.endswith((".xml", ".rss", ".atom")):
        return False
    if path in ("/", ""):
        return False
    if len(segments) == 1 and segments[0] in _SECTION_NAMES:
        return False
    looks_dated = bool(_DATED_PATH.search(path))
    has_slug = bool(_SLUGGY.search(last)) or (
        len(last) >= 8 and any(c.isalpha() and c.islower() for c in last)
    )
    if not looks_dated and not has_slug and len(segments) < 2:
        return False
    return True


def amp_candidates(raw: str | None) -> list[str]:
    if not raw:
        return []
    try:
        parts = urlsplit(raw)
    except ValueError:
        return []
    if not parts.scheme or not parts.netloc:
        return []
    origin = f"{parts.scheme}://{parts.netloc}"
    path = parts.path if parts.path.endswith("/") else parts.path + "/"
    q_amp = (parts.query + "&" if parts.query else "") + "amp=1"
    q_out = (parts.query + "&" if parts.query else "") + "output=amp"
    return [
        origin + path + "amp",
        origin + path + "amp.html",
        origin + parts.path + "?" + q_amp,
        origin + parts.path + "?" + q_out,
    ]


# ------------------------------------------------------------- columns


def host_col(url: Column) -> Column:
    """JVM-side host extraction (stays in whole-stage codegen)."""
    return F.lower(F.parse_url(url, F.lit("HOST")))


def skip_col(url: Column) -> Column:
    """JVM-side boolean: True when the URL should be dropped (F3).

    Mirrors `skip_reason` for the http(s) fast path; pure built-ins so
    Catalyst can push it into the scan.
    """
    path = F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit(""))
    host = F.coalesce(host_col(url), F.lit(""))
    return (
        ~F.lower(url).rlike(r"^https?://")
        | path.rlike(NON_HTML_EXT_RE)
        | host.endswith("lists.ding.net")
        | (host.endswith("aljazeera.com") & path.startswith("/gallery/"))
    )


def keep_likely_article_col(url: Column) -> Column:
    """JVM-side article-likeness predicate (F4) — built-ins only."""
    low = F.lower(url)
    path = F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("/"))
    segments = F.filter(F.split(path, "/"), lambda s: s != "")
    nseg = F.size(segments)
    last = F.coalesce(F.try_element_at(segments, F.lit(-1)), F.lit(""))
    section_first = F.coalesce(
        F.try_element_at(segments, F.lit(1)).isin(*_SECTION_NAMES), F.lit(False)
    )
    looks_dated = path.rlike(r"/(19|20)\d{2}/[01]?\d/")
    has_slug = last.rlike(r"[-_]") | ((F.length(last) >= 8) & last.rlike(r"[a-z]"))
    return (
        low.rlike(r"^https?://")
        & ~low.contains("/live/")
        & ~low.contains("/video")
        & ~low.contains("/podcast")
        & ~low.rlike(r"\.(xml|rss|atom)$")
        & (path != "/") & (path != "")
        & ~((nseg == 1) & section_first)
        & (looks_dated | has_slug | (nseg >= 2))
    )


# canonicalize_url behind an Arrow UDF: full URL-parse semantics that
# parse_url can't express (default-port strip, IDN-safe lowercase).
canonicalize_url_udf = F.udf(canonicalize_url, StringType(), useArrow=True)


_URL_TRANSFORM_STRUCT = StructType(
    [
        StructField("canonical", StringType()),
        StructField("amp", ArrayType(StringType())),
        StructField("amp_q", ArrayType(StringType())),
    ]
)


@pandas_udf(_URL_TRANSFORM_STRUCT)
def url_transform_struct_udf(
    it: Iterator[tuple[pd.Series, pd.Series]],
) -> Iterator[pd.DataFrame]:
    """Fused Arrow kernel for q_url_transforms: canonicalize(raw) +
    amp_candidates(url) + amp_candidates(canonical) in ONE Python pass.

    Three separate per-column UDFs would plan as 2-3 stacked
    ArrowEvalPython nodes (amp_q consumes the canonical UDF's output,
    so it can never share a node) — three JVM→Python→JVM crossings of
    the same rows. One struct-returning UDF pays the boundary once
    (guide §4.1)."""
    for url_s, raw_s in it:
        canon = raw_s.map(canonicalize_url, na_action="ignore")
        yield pd.DataFrame(
            {
                "canonical": canon,
                "amp": url_s.map(amp_candidates, na_action="ignore"),
                "amp_q": canon.map(amp_candidates, na_action="ignore"),
            }
        )


# ---------------------------------------------------------------- X22 / F6


def classify_error_col(msg: Column | str) -> Column:
    """X22 classifyError (/root/reference/scripts/batch-sample-run.js:163-170):
    first matching family wins — timeout → forbidden → consent → context
    → generic. Pure when/rlike chain (whole-stage codegen)."""
    s = F.lower(F.coalesce(F.col(msg) if isinstance(msg, str) else msg, F.lit("")))
    return (
        F.when(s.rlike("timeout"), "timeout")
        .when(s.rlike("403|forbidden"), "forbidden")
        .when(s.rlike("consent|cookie|gdpr"), "consent")
        .when(
            s.rlike("execution context|detached frame|session closed|target closed"),
            "context",
        )
        .otherwise("generic")
    )


def apply_url_rewrites_col(url: Column | str, rewrites: list[tuple[str, str]]) -> Column:
    """F6 applyUrlRewrites (/root/reference/scripts/inc/applyDomainTweaks.js:102-112):
    first matching prefix rule rewrites; others ignored. The rule list is
    config (literals folded by Catalyst), not data."""
    u = F.col(url) if isinstance(url, str) else url
    out = None
    for from_, to in rewrites:
        cond = u.startswith(from_)
        repl = F.concat(F.lit(to), F.substring(u, len(from_) + 1, 1 << 30))
        out = F.when(cond, repl) if out is None else out.when(cond, repl)
    return u if out is None else out.otherwise(u)


def with_sanitized_data_url(
    df: DataFrame,
    url: str,
    html_out: str,
    url_out: str,
) -> DataFrame:
    """F13 data:URL sanitize (/root/reference/controllers/utils.js:11-28):
    decode the payload of column `url` (base64 or percent-encoded),
    strip <script> elements, re-encode as a base64 data:text/html URL.
    The crawler renders with JavaScript disabled, so the reference's
    keep-scripts branch (JavaScript enabled) has no caller. Adds
    `html_out` (sanitized html) and `url_out` (sanitized url).

    Column algebra (base64/regexp built-ins), so it runs JVM-side and
    renders to an exact DuckDB oracle.

    Parity gotchas handled here (each bit us or the review):
    - Spark's base64() MIME-chunks its output with CRLF every 76 chars
      (invalid inside a data: URL, and never equal to the reference's
      unchunked Buffer encoding) — the CR/LF are stripped.
    - url_decode() is form-urlencoded ('+' → space) and THROWS on
      malformed percent sequences; decodeURIComponent keeps '+' and the
      reference catches failures, returning ('', raw url). '+' is
      pre-escaped and try_url_decode's NULL maps to that fallback.
    - the base64 branch NEVER falls back: Node's
      Buffer.from(payload, 'base64') is lenient (ignores characters
      outside the alphabet, treats the first '=' as the end, drops a
      trailing 1-char group) and .toString('utf8') replaces invalid
      sequences with U+FFFD — neither throws, so the reference's catch
      cannot fire here and malformed payloads yield replacement-char
      HTML that is re-encoded (verified against Node byte-for-byte:
      '/w==' → '\\ufffd' → 'data:text/html;base64,77+9'). Emulated with
      the same cleaning pipeline + try_to_binary + make_valid_utf8
      (ANSI-safe; a round-3 revision wrongly folded these into the
      ('', raw url) fallback the reference only uses for percent
      payloads).

    Physical shape: as one expression, `html` (a regexp/base64 chain)
    would be re-inlined into every consumer — the decoded check, the
    script-strip, the re-encode and the fallback branch — and codegen's
    common-subexpression elimination can't hoist them because they sit
    under different `when` branches (conditional evaluation); at sf1
    that made the sanitize chain ~90% of the url_transforms bill. Here
    each expensive intermediate is an aliased column in its own Project;
    CollapseProject keeps a Project boundary whenever a non-cheap alias
    is referenced more than once (SPARK-36718), so every regexp/base64
    runs exactly once per row — still one WholeStageCodegen span, no
    exchange, no UDF."""
    u = F.col(url)
    comma = F.instr(u, ",")
    payload = F.substr(u, comma + 1)
    pct = F.call_function(
        "try_url_decode", F.replace(payload, F.lit("+"), F.lit("%2B"))
    )
    # Node-lenient base64: strip non-alphabet, cut at first '=', drop a
    # lone trailing char, re-pad to a multiple of 4 -> always decodable.
    # Node's decoder accepts the base64url alphabet too ('-'/'_' map to
    # '+'/'/'), so those are kept and translated, not stripped.
    b64_clean = F.split(
        F.translate(
            F.regexp_replace(payload, B64_JUNK_RE, ""), "-_", "+/"
        ),
        "=",
    ).getItem(0)
    df = df.withColumn("_sdu_clean", b64_clean)
    n = F.length(F.col("_sdu_clean"))
    df = df.withColumn(
        "_sdu_kept",
        F.when(n % 4 == 1, F.col("_sdu_clean").substr(F.lit(1), n - 1))
        .otherwise(F.col("_sdu_clean")),
    )
    kept = F.col("_sdu_kept")
    b64_pad = F.rpad(kept, ((F.length(kept) + 3) / 4).cast("int") * 4, "=")
    b64_html = F.call_function(
        "make_valid_utf8",  # U+FFFD substitution == Buffer.toString('utf8')
        F.try_to_binary(b64_pad, F.lit("base64")).cast("string"),
    )
    meta = F.substring(u, 1, comma - 1)
    df = df.withColumn(
        "_sdu_html", F.when(meta.contains(";base64"), b64_html).otherwise(pct)
    )
    html = F.col("_sdu_html")
    sanitized = F.regexp_replace(html, r"(?i)<script[^>]*>[\s\S]*?</script>", "")
    df = df.withColumn(
        html_out, F.when(html.isNotNull(), sanitized).otherwise(F.lit(""))
    )
    b64 = F.regexp_replace(
        F.base64(F.encode(F.col(html_out), "UTF-8")), r"[\r\n]", ""
    )
    df = df.withColumn(
        url_out,
        F.when(
            html.isNotNull(), F.concat(F.lit("data:text/html;base64,"), b64)
        ).otherwise(u),
    )
    return df.drop("_sdu_clean", "_sdu_kept", "_sdu_html")
