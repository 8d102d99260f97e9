"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes the engine's operator surface (SURVEY.md §2 +
training-pipeline ops) over the driver's parquet tables; `oracle_sql()`
gives the DuckDB-equivalent ANSI SQL for each. Crawl-specific operators
run over URL frontiers synthesized *deterministically from the driver
tables themselves* (both engines build the identical frontier from
`documents`), so every frontier op has an exact relational oracle.

Cross-engine parity rules used throughout (see
horseman_article_parser_spark/functions/hashing.py):
- hashing = md5 → first 8 hex → uint32 (portable, JVM-side in Spark)
- money/score floats → bigint via round(x * 10^k) BEFORE aggregation
  where exactness matters (identical IEEE inputs ⇒ identical bigints)
- DuckDB regexp_replace needs the 'g' flag to match Spark's
  replace-all default
- timestamps compared as epoch-second bigints; session TZ pinned UTC
"""

from __future__ import annotations

import os
import tempfile
import weakref
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from horseman_article_parser_spark.functions.hashing import (
    h32_sql,
    minhash_params,
    universal_hash_sql,
)
from horseman_article_parser_spark.functions import textstats as TS
from horseman_article_parser_spark.functions.urls import (
    keep_likely_article_col,
    skip_col,
)
from horseman_article_parser_spark.operators import dedup as DD
from horseman_article_parser_spark.operators import frontier_ops as FO
from horseman_article_parser_spark.operators import politeness as PO
from horseman_article_parser_spark.operators import similarity as SIM
from horseman_article_parser_spark.operators.dedup import N_MINHASH, SIMHASH_BITS
from horseman_article_parser_spark.operators.extract import extract_articles
from horseman_article_parser_spark.operators.similarity import (
    IVF_TRAIN_CENTS,
    IVF_TRAIN_ITERS,
    IVF_TRAIN_SEED_MOD,
)
from horseman_article_parser_spark.session import _ship_package

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


# SparkContexts this module has been added to, kept here because asking
# the context (`sc.listFiles`, a py4j class lookup) takes 13-24 ms a call
# on a 4-core machine, which every query would pay
_SHIPPED_TO: weakref.WeakSet = weakref.WeakSet()


def _prep(spark: SparkSession) -> SparkSession:
    """Session setup every query runs first: UTC session time, and the
    package and this module shipped to executor Python workers, so UDF
    closures that pickle this module's functions (e.g. `_synth_pages`)
    unpickle whatever the driver's working directory. Each ships once
    per SparkContext."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        _ship_package(spark)
        sc = spark.sparkContext
        if sc not in _SHIPPED_TO:
            sc.addPyFile(os.path.abspath(__file__))
            _SHIPPED_TO.add(sc)
    except Exception:
        pass  # driver already importable (repo cwd); UDFs still resolve
    return spark


# Natural unique key per table: the generic fan-out spreads by hashing
# this key instead of round-robin. Round-robin repartition pays a local
# binary sort of its input (spark.sql.execution.sortBeforeRepartition,
# needed so retried tasks reproduce the same row placement); hashing a
# deterministic unique key needs no sort, is retry-safe by construction
# (guide §2.5: "derive the synthetic key deterministically"), and
# spreads just as evenly when the key is unique. Measured at sf1:
# scan+spread 0.49 s round-robin → 0.36 s hash(doc_id).
_SPREAD_KEYS: dict[str, list[str]] = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "nation": ["n_nationkey"],
    "region": ["r_regionkey"],
}


# One entry per table file: its (st_mtime_ns, st_size), its row-group
# count and the schema Spark inferred on the first read. Without a schema
# every read runs Spark's schema inference, a one-task job that reads one
# footer: 81-97 ms per read on 4 cores, against 10-11 ms with the schema
# given, and a pass over the headline queries reads 5 files 22 times.
# Spark's own inferred schema is kept (not one converted from pyarrow),
# so timestamp and nullability mapping cannot drift. A file rewritten at
# the same path has a new stat, so it is inferred again.
_TABLE_FILES: dict[str, tuple[tuple[int, int], int, StructType]] = {}


def _read_table(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    """The table file at `path` and its row-group count; only the first
    read of an unchanged file starts Spark's schema-inference job."""
    stat = os.stat(path)
    stamp = (stat.st_mtime_ns, stat.st_size)
    known = _TABLE_FILES.get(path)
    if known is not None and known[0] == stamp:
        return spark.read.schema(known[2]).parquet(path), known[1]
    df = spark.read.parquet(path)
    try:
        import pyarrow.parquet as pq

        groups = pq.ParquetFile(path).num_row_groups
    except Exception:
        groups = 1 << 30  # unreadable metadata: assume splittable
    _TABLE_FILES[path] = (stamp, groups, df.schema)
    return df, groups


def _load(spark: SparkSession, sf_dir: str, name: str,
          fanout: bool | str = True, key: str | None = None) -> DataFrame:
    """Read a table, spreading DEGENERATE input layouts over the cores.

    The small-SF test parquet is written as ONE row group per file; a
    row group is Spark's minimum split unit, so no maxPartitionBytes /
    openCostInBytes setting can parallelize the scan, and every per-row
    kernel downstream (langid, keywords, url algebra, image decode)
    would run as a single task. When the file offers fewer row groups
    than the session has cores, the rows are spread with one hash
    repartition on the table's natural unique key (_SPREAD_KEYS) into
    defaultParallelism partitions: no sort-before-repartition pass
    (round-robin needs one), deterministic under task retry (guide
    §2.5), and as even as round-robin because the key is unique. At
    production scale (hundreds of 128 MB row groups per file) the
    condition is false and the plan is untouched.
    scripts/explain_audit.py checks that every exchange of an audited
    plan hashes on the spread key (or the query's declared key).

    The file's schema and row-group count are read once per process
    and file version (_read_table), so a repeated read starts no job.

    - `fanout=False` skips the spread. Right for small sides that are
      about to be BROADCAST (repartitioning a side that every executor
      receives whole is waste).
    - `fanout="agg"` is for queries that AGGREGATE the table straight
      down: the partial agg collapses rows before any exchange, so the
      spread is pure cost whenever the scan has splits at all; only the
      truly degenerate layout (one row group) still spreads, so a big
      single-group table does not run its whole map side in one task.
    - `key=` hashes on the column the query shuffles by NEXT
      (window/groupBy key) instead: the spread exchange then doubles as
      the query's own exchange and EnsureRequirements inserts no second
      one. Only used where downstream aggregation is order-insensitive
      (integer sums / row_number over an explicit ORDER BY)."""
    df, groups = _read_table(spark, f"{sf_dir}/{name}.parquet")
    if fanout is False:
        return df
    if fanout == "agg":
        need = groups == 1
    else:
        need = groups < spark.sparkContext.defaultParallelism
    if need:
        cols = [key] if key is not None else _SPREAD_KEYS.get(name)
        if cols:
            df = df.repartition(spark.sparkContext.defaultParallelism, *cols)
        else:
            df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


# ---------------------------------------------------------------------------
# synthesized frontier (identical construction on both engines)
# ---------------------------------------------------------------------------

FRONTIER_CTE = """
frontier AS (
  SELECT doc_id AS seq,
         'https://' || source || '.example.com/' || lang || '/story-' || (doc_id % 400) AS url,
         source || '.example.com' AS host
  FROM documents
)
""".strip()


def _frontier(spark: SparkSession, sf_dir: str, fanout: bool = True) -> DataFrame:
    docs = _load(spark, sf_dir, "documents", fanout=fanout)
    return docs.select(
        F.col("doc_id").alias("seq"),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/"),
            F.col("lang"), F.lit("/story-"),
            (F.col("doc_id") % 400).cast("string"),
        ).alias("url"),
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
    )


# messy-URL table for canonicalization / skip / likely-article predicates
def _messy_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    ext = (
        F.when(F.col("doc_id") % 7 == 0, F.lit(".pdf"))
        .when(F.col("doc_id") % 7 == 1, F.lit(".zip"))
        .when(F.col("doc_id") % 7 == 2, F.lit(".mp4"))
        .otherwise(F.lit(".html"))
    )
    scheme = F.when(F.col("doc_id") % 11 == 0, F.lit("ftp")).otherwise(F.lit("https"))
    return docs.select(
        "doc_id",
        F.concat(
            scheme, F.lit("://h"), (F.col("doc_id") % 20).cast("string"),
            F.lit(".example.com/p/f"), F.col("doc_id").cast("string"), ext,
        ).alias("url"),
    )


MESSY_CTE = """
messy AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 11 = 0 THEN 'ftp' ELSE 'https' END)
         || '://h' || (doc_id % 20) || '.example.com/p/f' || doc_id
         || (CASE doc_id % 7 WHEN 0 THEN '.pdf' WHEN 1 THEN '.zip'
             WHEN 2 THEN '.mp4' ELSE '.html' END) AS url
  FROM documents
)
""".strip()


def _path_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    path = (
        F.when(F.col("doc_id") % 6 == 0, F.lit("/"))
        .when(F.col("doc_id") % 6 == 1, F.lit("/news"))
        .when(F.col("doc_id") % 6 == 2, F.concat(F.lit("/2024/05/some-story-"), d))
        .when(F.col("doc_id") % 6 == 3, F.concat(F.lit("/video/clip-"), d))
        .when(F.col("doc_id") % 6 == 4, F.concat(F.lit("/politics/long-analysis-piece-"), d))
        .otherwise(F.lit("/feed.xml"))
    )
    return docs.select(
        "doc_id", F.concat(F.lit("https://paper.example.com"), path).alias("url")
    )


PATHS_CTE = """
paths AS (
  SELECT doc_id,
         'https://paper.example.com' ||
         (CASE doc_id % 6
            WHEN 0 THEN '/'
            WHEN 1 THEN '/news'
            WHEN 2 THEN '/2024/05/some-story-' || doc_id
            WHEN 3 THEN '/video/clip-' || doc_id
            WHEN 4 THEN '/politics/long-analysis-piece-' || doc_id
            ELSE '/feed.xml' END) AS url
  FROM documents
)
""".strip()


# ---------------------------------------------------------------------------
# shared text-formula SQL renderings (the DuckDB side of textstats.py)
# ---------------------------------------------------------------------------


def occ_sql(text: str, word: str) -> str:
    """DuckDB rendering of textstats.occurrences_col (exact token count)."""
    return (
        f"CAST(len(list_filter(string_split_regex(trim({text}), '\\s+'),"
        f" t -> t = '{word}')) AS BIGINT)"
    )


TOKCOUNT_SQL = "len(string_split_regex(trim(text), '\\s+'))"
NORMTEXT_SQL = (
    "lower(trim(regexp_replace(regexp_replace(text, '[^A-Za-z0-9À-￿]+', ' ', 'g'),"
    " '\\s+', ' ', 'g')))"
)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: reference-order wave-0 schedule (uniq → uniqueByHost →
    FIFO by seed position) over the sf0.001 synthesized frontier."""
    _prep(spark)
    wave0 = FO.build_wave0(_frontier(spark, "/root/testdata/sf0.001"), limit=50)
    return FO.ordered_zip_with_index(wave0, ["seq"], out_col="pos").select(
        "pos", "url", "host", "seq"
    )


# -- crawl / frontier --------------------------------------------------------


def q_frontier_uniq(spark, sf_dir):
    # no fan-out: uniq's groupBy(url) exchange spreads the rows itself
    fr = _frontier(_prep(spark), sf_dir, fanout=False)
    return FO.uniq(fr).select("url", "seq", "host")


def q_frontier_unique_by_host(spark, sf_dir):
    fr = _frontier(_prep(spark), sf_dir, fanout=False)
    return FO.unique_by_host(FO.uniq(fr), limit=10).select("url", "seq", "host")


def q_frontier_wave0(spark, sf_dir):
    fr = _frontier(_prep(spark), sf_dir, fanout=False)
    wave = FO.build_wave0(fr, limit=15)
    return FO.ordered_zip_with_index(wave, ["seq"], out_col="pos").select(
        "pos", "url", "host", "seq"
    )


def q_frontier_slice(spark, sf_dir):
    fr = FO.uniq(_frontier(_prep(spark), sf_dir, fanout=False))
    return FO.slice_frontier(fr, start=20, limit=30).select("url", "seq")


def q_url_filters(spark, sf_dir):
    """F3 skipUrl + F4 keepLikelyArticles as one per-URL predicate
    surface: kind='skip' rows carry the extension/scheme skip verdict
    over the messy-URL table, kind='likely' rows the article-path
    heuristic over the path-shape table."""
    spark = _prep(spark)
    skip = _messy_urls(spark, sf_dir).select(
        F.lit("skip").alias("kind"), "doc_id", "url",
        skip_col(F.col("url")).alias("flag"),
    )
    likely = _path_urls(spark, sf_dir).select(
        F.lit("likely").alias("kind"), "doc_id", "url",
        keep_likely_article_col(F.col("url")).alias("flag"),
    )
    return skip.unionByName(likely)


def q_url_transforms(spark, sf_dir):
    """F5 canonicalize + F6 prefix rewrites + S7 AMP static candidates
    + F13 data:URL sanitize as one per-URL transform surface over the
    synthesized frontier: `canonical` normalizes a deliberately-messy
    raw form, `rewritten` applies the first-match rewrite rules,
    `amp_1`/`amp_2` are the first two AMP variants, and
    `data_html`/`data_url` run the base64-decode → script-strip →
    re-encode chain on a by-construction data: URL."""
    from horseman_article_parser_spark.functions.urls import (
        apply_url_rewrites_col,
        with_sanitized_data_url,
    )

    fr = _frontier(_prep(spark), sf_dir)
    raw = F.concat(
        F.lit("HTTPS://H"), (F.col("seq") % 20).cast("string"),
        F.lit(".Example.COM:443/Path/"), F.col("seq").cast("string"),
        F.lit("?q=1#frag"),
    )
    rules = [
        ("https://src0.example.com/", "https://mirror0.example.net/"),
        ("https://src1.example.com/en/", "https://src1.example.com/english/"),
    ]
    # the sanitized payload must exceed one 76-char base64 line (57
    # input bytes) so the oracle pins the CRLF-chunking fix in
    # with_sanitized_data_url (Spark's base64 MIME-wraps long output)
    embedded = F.concat(
        F.lit("<html><body><script>track()</script><p>Doc "),
        F.col("seq").cast("string"),
        F.lit(" carries a deliberately long paragraph of text so the "
              "re-encoded base64 payload spans multiple MIME lines."
              "</p></body></html>"),
    )
    data_url = F.concat(
        F.lit("data:text/html;base64,"), F.base64(F.encode(embedded, "UTF-8"))
    )
    fr = fr.withColumn("_du", data_url)
    # staged-projection sanitize: each regexp/base64 intermediate is
    # evaluated once per row (see with_sanitized_data_url docstring)
    fr = with_sanitized_data_url(fr, "_du", "data_html", "data_url")
    # amp_q1/amp_q2 exercise the query-string MERGE branch (the canonical
    # form carries ?q=1, so '&amp=1' / '&output=amp' must append).
    # r6: canonicalize + both amp passes run as ONE fused struct UDF —
    # one ArrowEvalPython node instead of three stacked ones (guide
    # §4.1); identical values (same scalar kernels inside).
    from horseman_article_parser_spark.functions.urls import (
        url_transform_struct_udf,
    )

    fr = fr.withColumn("_ut", url_transform_struct_udf(F.col("url"), raw))
    ut = F.col("_ut")
    return fr.select(
        "seq", "url", ut["canonical"].alias("canonical"),
        apply_url_rewrites_col("url", rules).alias("rewritten"),
        F.element_at(ut["amp"], 1).alias("amp_1"),
        F.element_at(ut["amp"], 2).alias("amp_2"),
        F.element_at(ut["amp_q"], 3).alias("amp_q1"),
        F.element_at(ut["amp_q"], 4).alias("amp_q2"),
        "data_html",
        "data_url",
    )


def q_seen_antijoin(spark, sf_dir):
    fr = _frontier(_prep(spark), sf_dir)
    # the seen side is broadcast by the anti-join — build it from a
    # NON-fanned read (same rows by construction) so it doesn't pay a
    # round-robin exchange right before being broadcast anyway
    seen = _frontier(spark, sf_dir, fanout=False).filter(
        F.col("seq") % 3 == 0
    ).select("url")
    return fr.join(seen, "url", "left_anti").select("url", "seq")


def q_round_robin_interleave(spark, sf_dir):
    # no fan-out: the rr window's feed exchange spreads the rows itself
    fr = _frontier(_prep(spark), sf_dir, fanout=False).withColumn(
        "feed", F.regexp_extract("host", r"^(src\d+)", 1)
    )
    out = FO.round_robin_interleave(fr, "feed", "seq")
    return out.select("feed", "url", "seq", "rr_rank")


def q_politeness_budget(spark, sf_dir):
    # no fan-out: phase-1's salted (host,salt) exchange spreads the rows
    fr = _frontier(_prep(spark), sf_dir, fanout=False).withColumn("priority", F.lit(0.0))
    out = PO.enforce_host_budget(fr, None, default_budget=3, order_cols=["seq"])
    return out.select("host", "url", "seq")


def q_robots_filter(spark, sf_dir):
    spark = _prep(spark)
    docs = _load(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    path = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("/admin/x"), d))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("/public/y"), d))
        .otherwise(F.concat(F.lit("/story/z"), d))
    )
    host = F.concat(F.lit("h"), (F.col("doc_id") % 4).cast("string"), F.lit(".example.com"))
    cand = docs.select(
        F.col("doc_id").alias("seq"),
        F.concat(F.lit("https://"), host, path).alias("url"),
        host.alias("host"),
    )
    # the rules enter as RAW robots.txt bodies and go through the full
    # parse chain (T2: fetch-robots → parse → evaluate); the oracle is
    # unchanged because the parsed rules are by construction.
    # r6: built from JVM literals (range + inline) instead of
    # createDataFrame — the latter plans as a Python-RDD scan that pays
    # a Python-worker round trip every time the broadcast is rebuilt
    _robots_rows = [
        ("h0.example.com",
         "# disallow the admin area\nUser-agent: *\nDisallow: /admin\n"
         "Crawl-delay: 1\n"),
        ("h1.example.com",
         "User-agent: otherbot\nDisallow: /nothing\n\n"
         "User-agent: *\nDisallow: /\nAllow: /public\nCrawl-delay: 1\n"),
        ("h2.example.com",
         "User-agent: horseman\nUser-agent: googlebot\n"
         "Disallow: /story\nCrawl-delay: 1\n"),
    ]
    robots_files = spark.range(1).select(
        F.inline(F.array(*[
            F.struct(F.lit(h).alias("host"), F.lit(txt).alias("robots_txt"))
            for h, txt in _robots_rows
        ]))
    )
    robots = PO.parse_robots_txt(robots_files)
    return PO.robots_filter(cand, robots).select("seq", "url", "host")


def q_domain_rules_join(spark, sf_dir):
    """J2: first matching per-domain tweak rule (exact or suffix match),
    priority order, broadcast join."""
    spark = _prep(spark)
    fr = FO.uniq(_frontier(spark, sf_dir, fanout=False))
    rules = spark.range(1).select(
        F.inline(F.array(*[
            F.struct(F.lit(m).alias("match"),
                     F.lit(p).cast("int").alias("prio"),
                     F.lit(s).alias("setting"))
            for m, p, s in [
                ("src1.example.com", 1, "exact-src1"),
                ("src2.example.com", 2, "exact-src2"),
                ("example.com", 3, "suffix-any"),
            ]
        ]))
    )
    joined = fr.join(
        F.broadcast(rules),
        (fr["host"] == rules["match"]) | fr["host"].endswith(F.concat(F.lit("."), rules["match"])),
        "left",
    )
    w = Window.partitionBy("url").orderBy(F.asc_nulls_last("prio"))
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("url", "seq", F.col("setting"))
    )


# -- extraction --------------------------------------------------------------


def _synth_pages(spark, sf_dir, fields=None):
    """The `documents` table plus an `article` column: each row's page
    is rendered and extracted inside one Arrow UDF.

    The page url and html are pure expressions of (doc_id, source,
    lang, text), so only those narrow columns cross into Python and the
    markup wrapper is a constant template; a JVM concat of the same
    page would be a large generated expression whose JIT dominated the
    first run (4.9 s against 1.2 s at sf1). `_synth_url` and
    `_synth_page_html` render the same bytes as that concat (pinned in
    tests/test_extract.py::test_synth_pages_template_matches_jvm).

    `fields` prunes the kernel (see extract_article); callers select
    the article fields and any `documents` columns they need."""
    from horseman_article_parser_spark.operators.extract import (
        ARTICLE_STRUCT,
        extract_article,
    )

    extract = F.udf(
        lambda d, src, lang, text: extract_article(
            _synth_url(d, src, lang), _synth_page_html(d, lang, text), fields),
        ARTICLE_STRUCT, useArrow=True,
    )
    docs = _load(spark, sf_dir, "documents")
    return docs.withColumn(
        "article", extract("doc_id", "source", "lang", "text"))


def _synth_url(d: int, src: str | None, lang: str | None) -> str | None:
    """The page url `_synth_pages` renders; null when an input is null,
    as a JVM concat of the same parts would be."""
    if src is None or lang is None:
        return None
    return f"https://{src}.example.com/{lang}/story-{d % 400}"


def _synth_page_html(d: int, lang: str | None, text: str | None) -> str | None:
    """The page template `_synth_pages` renders — byte-identical to a
    JVM concat of the same parts, null included: a null lang or text
    gives a null page, which extracts to the all-null article
    (equivalence pinned in tests/test_extract.py)."""
    if lang is None or text is None:
        return None
    ds = str(d)
    img = (
        f'<figure><img src="/img/{ds}.png" alt="alt text" '
        f'width="64" height="32">'
        f"<figcaption>Caption {ds}</figcaption></figure>"
    ) if d % 2 == 0 else ""
    b = f"b{d % 5}"
    return (
        f"<html><head><title>Doc {ds} | ExampleSite</title>"
        f'<meta name="description" content="{lang} article">'
        f'<meta property="og:title" content="OG Doc {ds}">'
        f"</head><body><article><h1>Heading</h1><p>{text}"
        f'</p><a href="/next/{d + 1}">next</a>'
        f'<a href="https://ext.com/e{ds}">ext</a>'
        f"{img}"
        f"<table><thead><tr><th>Key</th><th>Value</th></tr></thead>"
        f"<tr><td>lang</td><td>{lang}</td></tr>"
        f"<tr><td>bucket</td><td>{b}</td></tr></table>"
        f"<dl><dt>Lang</dt><dd>{lang}</dd><dd>doc {ds}</dd>"
        f"<dt>Bucket</dt><dd>{b}</dd></dl>"
        f"</article></body></html>"
    )


def q_extract_title(spark, sf_dir):
    """X17 title extraction + X7 suffix strip (one row per doc): the
    page title comes from the synthesized DOM; `title_stripped` applies
    both reference suffix patterns (' | Site', ' - Paper') to a
    by-construction two-pattern variant string."""
    from horseman_article_parser_spark.operators.extract import (
        _TITLE_SUFFIX_1,
        _TITLE_SUFFIX_2,
    )

    arts = _synth_pages(_prep(spark), sf_dir,
                        fields=frozenset({"title", "doc_title"}))
    d = F.col("doc_id").cast("string")
    raw2 = F.concat(
        F.lit("Doc "), d,
        F.when(F.col("doc_id") % 3 == 0, F.lit(" | Example Site"))
        .when(F.col("doc_id") % 3 == 1, F.lit(" - The Paper"))
        .otherwise(F.lit("")),
    )
    stripped2 = F.trim(
        F.regexp_replace(
            F.regexp_replace(raw2, _TITLE_SUFFIX_1.pattern, ""),
            _TITLE_SUFFIX_2.pattern, "",
        )
    )
    return arts.select("doc_id", F.col("article.title").alias("title"),
                       F.col("article.doc_title").alias("doc_title"),
                       stripped2.alias("title_stripped"))


def q_extract_links(spark, sf_dir):
    arts = _synth_pages(_prep(spark), sf_dir, fields=frozenset({"links"}))
    return arts.select(
        "doc_id",
        F.size("article.links").alias("n_links"),
        F.element_at("article.links", 1)["href"].alias("first_href"),
        F.element_at("article.links", 2)["text"].alias("second_text"),
    )


def q_extract_jsonld(spark, sf_dir):
    """X13: the deduped JSON-LD `articles[]` themselves
    (structuredData.js:198-258) — two scripts where the second repeats
    the first node (must dedupe) and adds a second Article (must append
    in encounter order)."""
    spark = _prep(spark)
    docs = _load(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    s1 = F.concat(
        F.lit('<script type="application/ld+json">'
              '{"@type":"NewsArticle","headline":"JL Doc '), d,
        F.lit('","articleBody":"Body '), d, F.lit('"}</script>'),
    )
    s2 = F.concat(
        F.lit('<script type="application/ld+json">'
              '[{"@type":"NewsArticle","headline":"JL Doc '), d,
        F.lit('","articleBody":"Body '), d,
        F.lit('"},{"@type":"Article","headline":"Second '), d,
        F.lit('"}]</script>'),
    )
    html = F.concat(
        F.lit("<html><head>"), s1, s2,
        F.lit("</head><body><article><p>"), F.col("text"),
        F.lit("</p></article></body></html>"),
    )
    pages = docs.select(
        "doc_id", F.lit("https://x.example/a").alias("url"), html.alias("html")
    )
    # no repartition: _load already fanned the scan out
    from horseman_article_parser_spark.operators.extract import extract_articles

    arts = extract_articles(pages)
    return arts.select(
        "doc_id",
        F.col("article.headline").alias("headline"),
        F.col("article.n_jsonld_articles").alias("n_articles"),
        F.array_join("article.jsonld_articles", "|").alias("articles_json"),
    )


def q_extract_meta(spark, sf_dir):
    """X12 meta extraction + X8 excerpt (folded: both are per-doc
    derivations of the page head/body; the excerpt is Column algebra
    over the same row's document text)."""
    arts = _synth_pages(_prep(spark), sf_dir,
                        fields=frozenset({"meta", "description"}))
    return arts.select(
        "doc_id",
        F.size("article.meta").alias("n_meta"),
        F.col("article.description").alias("description"),
        TS.excerpt_col("text").alias("excerpt"),
    )


def q_extract_images(spark, sf_dir):
    arts = _synth_pages(_prep(spark), sf_dir, fields=frozenset({"images"}))
    img1 = F.try_element_at(F.col("article.images"), F.lit(1))
    return arts.select(
        "doc_id",
        F.size("article.images").alias("n_images"),
        img1["src"].alias("src"),
        img1["caption"].alias("caption"),
        img1["width"].alias("width"),
        img1["height"].alias("height"),
    )


def _synth_feeds(spark, sf_dir, sitemap: bool):
    """One feed per `source`, items synthesized from documents (both
    engines construct the identical XML, so extraction has an exact
    relational oracle). doc_id % 7 == 0 items carry the channel link,
    exercising the reference's guid-replaces-channel-link rule."""
    docs = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    d = F.col("doc_id").cast("string")
    channel = F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/"))
    if sitemap:
        item = F.concat(F.lit("<url><loc>"), channel, F.lit("page-"), d,
                        F.lit("</loc><lastmod>2024-01-01</lastmod></url>"))
    else:
        link = F.when(F.col("doc_id") % 7 == 0, channel).otherwise(
            F.concat(channel, F.lit("story-"), d)
        )
        guid = F.concat(channel, F.lit("guid-"), d)
        item = F.concat(
            F.lit("<item><link>"), link, F.lit("</link>"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit("<guid>"), guid, F.lit("</guid>")),
            ).otherwise(F.lit("")),
            F.lit("</item>"),
        )
    per_feed = docs.groupBy("source").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("doc_id"), item.alias("item")))
        ).alias("items")
    )
    body = F.array_join(F.transform("items", lambda s: s["item"]), "")
    if sitemap:
        xml = F.concat(F.lit("<urlset>"), body, F.lit("</urlset>"))
    else:
        xml = F.concat(
            F.lit("<rss><channel><link>https://"), F.col("source"),
            F.lit(".example.com/</link>"), body, F.lit("</channel></rss>"),
        )
    return per_feed.select(F.col("source").alias("feed_url"), xml.alias("xml"))


def q_feeds_extract(spark, sf_dir):
    """S3 RSS + S4 sitemap link extraction in one union surface (both
    the guid-replaces-channel-link rule and the <loc> path are
    oracle-checked; kind marks the source format), plus the r5 folds:
    kind='feedlist' drives the S2 feeds-scan rule (trim, drop blanks
    and `#` comments, fetch-curated-urls.js:22-30) and kind='csvmerge'
    the S11 merge rule (unique trimmed rows, reappearing header
    dropped, merge-csv.js:15-43) — both over by-construction line sets
    from `documents`."""
    from horseman_article_parser_spark.sources.feeds import (
        extract_feed_links,
        feeds_from_lines,
        merge_csv_rows,
    )

    spark = _prep(spark)
    rss = extract_feed_links(_synth_feeds(spark, sf_dir, sitemap=False)).select(
        F.lit("rss").alias("kind"), "feed_url", "pos", "url"
    )
    sm = extract_feed_links(_synth_feeds(spark, sf_dir, sitemap=True)).select(
        F.lit("sitemap").alias("kind"), "feed_url", "pos", "url"
    )
    docs = _load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    d = F.col("doc_id").cast("string")
    # S2 lines: comment / padded URL / blank / clean URL by residue
    feed_line = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("# curated "), d))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.lit("  https://feeds.example/rss/"), d, F.lit("  ")))
        .when(F.col("doc_id") % 4 == 2, F.lit("   "))
        .otherwise(F.concat(F.lit("https://feeds.example/atom/"), d))
    )
    fl = feeds_from_lines(
        docs.select("doc_id", feed_line.alias("value"))
    ).select(
        F.lit("feedlist").alias("kind"), "feed_url",
        F.col("doc_id").cast("int").alias("pos"),
        F.col("feed_url").alias("url"),
    )
    # S11 lines: two overlapping synthetic CSV files, header repeated in
    # the second file, every third row duplicated across both
    csv_line = F.concat(F.lit("https://row.example/"),
                        (F.col("doc_id") % 40).cast("string"), F.lit(",ok"))
    file2_line = F.when(F.col("doc_id") % 7 == 0, F.lit("url,status")) \
        .otherwise(csv_line)
    csv_lines = docs.select(csv_line.alias("value")).unionAll(
        docs.select(file2_line.alias("value"))
    )
    merged = merge_csv_rows(csv_lines, "url,status").select(
        F.lit("csvmerge").alias("kind"), F.lit("merged").alias("feed_url"),
        F.lit(0).alias("pos"), F.col("row").alias("url"),
    )
    return rss.unionByName(sm).unionByName(fl).unionByName(merged)


def q_extract_structured(spark, sf_dir):
    """X14 tables + X15 definition lists + X16 figures in one wide row
    per page (structuredData.js:132-258) — all three parses run over
    the SAME synthesized article DOM, so the whole structured-data
    surface is one oracle-checked scan."""
    arts = _synth_pages(
        _prep(spark), sf_dir,
        fields=frozenset({"tables", "figures", "definitions"}),
    )
    t1 = F.try_element_at(F.col("article.tables"), F.lit(1))
    r2 = F.try_element_at(t1["rows"], F.lit(2))
    f1 = F.try_element_at(F.col("article.figures"), F.lit(1))
    i1 = F.try_element_at(f1["images"], F.lit(1))
    d1 = F.try_element_at(F.col("article.definitions"), F.lit(1))
    item1 = F.try_element_at(d1["items"], F.lit(1))
    item2 = F.try_element_at(d1["items"], F.lit(2))
    return arts.select(
        "doc_id",
        F.size("article.tables").alias("n_tables"),
        F.array_join(t1["headers"], "|").alias("headers"),
        t1["rowCount"].alias("row_count"),
        t1["columnCount"].alias("col_count"),
        F.array_join(r2["cells"], "|").alias("row2_cells"),
        F.try_element_at(r2["object"], F.lit("Value")).alias("row2_value"),
        F.size("article.figures").alias("n_figures"),
        f1["caption"].alias("fig_caption"),
        i1["src"].alias("fig_src"),
        i1["alt"].alias("fig_alt"),
        F.size(d1["items"]).alias("n_items"),
        item1["term"].alias("term1"),
        F.array_join(item1["descriptions"], "|").alias("descs1"),
        item2["term"].alias("term2"),
        F.array_join(item2["descriptions"], "|").alias("descs2"),
    )


# -- text analytics ----------------------------------------------------------


def q_text_quality(spark, sf_dir):
    """A4/A5/N7 readability + token counting + quality scoring + bag
    fingerprint in one per-doc wide row (all pure Column algebra over
    `documents`; one scan, zero shuffles). Folds the former
    readability / token_count / quality_score / bag_fingerprint
    queries so each SURVEY ID keeps a driver-checked oracle inside the
    correctness window."""
    docs = _load(_prep(spark), sf_dir, "documents")
    # r6 (guide §4): one Arrow kernel pass computes the whole row. The
    # former staged Column-algebra plan was value-identical but its
    # generated expression tree (readability splits, 6 stopword
    # occurrence scans, BPE regexp, bag-fingerprint sort+md5) dominated
    # first/second-run JIT time — in-suite best-of-2 ~2.1 s at sf1 vs
    # ~0.8 s for the kernel. Bit-equivalence with the declarative twin
    # (which stays in textstats for the pin) is asserted over the
    # corpus + adversarial fixtures in test_textstats.
    return TS.text_quality_batch(docs)


# Per-language sample sentences for the langid oracle
# (doc_id % n_languages selects one); each must be detected as its own
# language — asserted in tests/test_textstats.py, while the oracle pins
# the scoring arithmetic. 52 languages / 24 scripts.
LANG_SAMPLES: dict[str, str] = {
    "amh": "ፈጣኑ ቡናማ ቀበሮ ሰነፉን ውሻ ላይ ይዘላል እና በከተማ ውስጥ ሰዎች ያዩታል ነው",
    "arb": ("الثعلب البني السريع يقفز فوق الكلب الكسول في المدينة "
            "الكبيرة من دون معرفة الناس على الشارع"),
    "ben": ("দ্রুত বাদামী শিয়াল অলস কুকুরের উপর লাফ দেয় এবং শহরের "
            "মানুষ সেটা দেখে খুশি হয়ে করে"),
    "bul": ("бързата кафява лисица скача над мързеливото куче в "
            "големия град и хората ще се радват на това"),
    "cat": ("la guineu marró ràpida salta sobre el gos mandrós que és "
            "a la gran ciutat i els veïns ho veuen"),
    "ces": ("rychlá hnědá liška skáče přes líného psa ve velkém městě "
            "kde není nic nového pro lidi ani pro ně"),
    "cmn": "敏捷的棕色狐狸跳过了懒惰的狗我们都在大城市里看到了这个有趣的事情大家都是朋友",
    "deu": ("der schnelle braune fuchs springt über den faulen hund "
            "und die katze schläft in der großen verwaltung gemütlich"),
    "ell": ("και η γρήγορη καφέ αλεπού πηδά πάνω από τον τεμπέλη σκύλο "
            "της μεγάλης πόλης και την θάλασσα"),
    "eng": ("the quick brown fox jumps over the lazy dog and then the "
            "animals are running into the deep forest together"),
    "est": ("kiire pruun rebane hüppab üle laisa koera suures linnas "
            "ja paljud inimesed näevad seda kiiresti"),
    "eus": ("azeri arre azkarra txakur alfer baten gainetik jauzi "
            "egiten du hiri handian eta jendeak ikusten du"),
    "fas": ("روباه قهوه ای سریع از روی سگ تنبل می پرد و در شهر بزرگ "
            "زندگی می کند که مردم را دیده اند"),
    "fin": ("nopea ruskea kettu hyppää laiskan koiran yli suuressa "
            "kaupungissa ja kaikki ihmiset katsovat sitä ihmeissään"),
    "fra": ("le renard brun rapide saute par dessus le chien paresseux "
            "dans les grands champs que la lumière éclaire"),
    "guj": ("ઝડપી ભૂરા શિયાળ આળસુ કૂતરા પર કૂદકો મારે છે અને શહેરના "
            "લોકો તે જુએ છે"),
    "heb": ("השועל החום המהיר קופץ מעל הכלב העצלן בעיר הגדולה ואנשים "
            "רבים רואים את זה של הבוקר"),
    "hin": ("तेज भूरी लोमड़ी आलसी कुत्ते के ऊपर कूदती है और शहर में सब "
            "लोग उसे देखते हैं और खुश होते हैं"),
    "hun": ("a gyors barna róka átugrik a lusta kutya felett egy nagy "
            "városban ahol az emberek sokat dolgoznak a munkában"),
    "hye": ("արագ շագանակագույն աղվեսը ցատկում է ծույլ շան վրայով մեծ "
            "քաղաքում որտեղ մարդիկ ապրում են"),
    "ind": ("rubah coklat yang cepat melompat di atas anjing yang "
            "malas di kota besar dengan orang yang berjalan"),
    "isl": ("fljóti brúni refurinn stekkur yfir lata hundinn í stóru "
            "borginni og margir sjá það í æði"),
    "ita": ("la volpe veloce salta sopra il cane pigro della grande "
            "città che dorme al sole con gli amici della stazione"),
    "jpn": "すばやい茶色の狐はのんびりした犬を飛び越えましたそれは見事でしたということです",
    "kan": ("ವೇಗದ ಕಂದು ನರಿ ಸೋಮಾರಿ ನಾಯಿಯ ಮೇಲೆ ಜಿಗಿಯುತ್ತದೆ ಮತ್ತು ನಗರದ "
            "ಜನರು ಅದನ್ನು ನೋಡುತ್ತಾರೆ"),
    "kat": ("სწრაფი ყავისფერი მელა ახტება ზარმაც ძაღლზე დიდ ქალაქში "
            "სადაც ხალხი ცხოვრობს და მუშაობს"),
    "khm": ("កញ្ជ្រោងពណ៌ត្នោតលឿនលោតពីលើឆ្កែខ្ជិល "
            "ហើយមនុស្សនៅក្នុងទីក្រុងមើលវា"),
    "kor": "빠른 갈색 여우는 게으른 개를 뛰어넘는다 그리고 도시에 있는 사람들이 그것을 보고 있다",
    "lao": ("ຫມາຈອກສີນ້ຳຕານທີ່ໄວກະໂດດຂ້າມຫມາຂີ້ຄ້ານ ແລະ "
            "ຄົນໃນເມືອງໃຫຍ່ເບິ່ງມັນຫຼາຍ"),
    "lav": ("ātrā brūnā lapsa lec pāri slinkajam sunim lielajā pilsētā "
            "un daudzi cilvēki to redz"),
    "lit": ("greita ruda lapė šokinėja per tingų šunį dideliame mieste "
            "ir daug žmonių tai mato"),
    "mal": ("വേഗതയുള്ള തവിട്ട് കുറുക്കൻ മടിയനായ നായയുടെ മുകളിലൂടെ "
            "ചാടുന്നു നഗരത്തിലെ ആളുകൾ അത് കാണുന്നു"),
    "mya": ("လျင်မြန်သော အညိုရောင် မြေခွေးသည် ပျင်းရိသော ခွေးကို "
            "ကျော်ပြီး ခုန်သည် မြို့ထဲတွင် လူများ ကြည့်နေကြသည်"),
    "nld": ("de snelle bruine vos springt over de luie hond van het "
            "grote huis een keer voor de verandering"),
    "nob": ("den raske brune reven hopper over den late hunden i den "
            "store byen på en fin dag for alle"),
    "pan": ("ਤੇਜ਼ ਭੂਰੀ ਲੂੰਬੜੀ ਆਲਸੀ ਕੁੱਤੇ ਦੇ ਉੱਤੇ ਛਾਲ ਮਾਰਦੀ ਹੈ ਅਤੇ "
            "ਸ਼ਹਿਰ ਵਿੱਚ ਲੋਕ ਦੇਖਦੇ ਹਨ"),
    "pol": ("szybki brązowy lis przeskakuje nad leniwym psem w wielkim "
            "polskim mieście gdzie nie ma niczego ciekawego"),
    "por": ("a rápida raposa marrom salta sobre o cão preguiçoso da "
            "grande cidade que dorme durante a informação da manhã"),
    "ron": ("vulpea maro rapidă sare peste câinele leneș în orașul "
            "mare unde oamenii sunt mulți și muncesc mult"),
    "rus": ("быстрая коричневая лиса прыгает через ленивую собаку на "
            "большой площади не зная ничего про государство"),
    "sin": ("වේගවත් දුඹුරු නරියා කම්මැලි බල්ලා උඩින් පනිනවා සහ නගරයේ "
            "මිනිසුන් එය බලනවා"),
    "spa": ("el rápido zorro marrón salta sobre el perro perezoso de "
            "la gran ciudad que duerme con la información de la mañana"),
    "swe": ("den snabba bruna räven hoppar över den lata hunden och "
            "katten i det stora huset för att det är sommar"),
    "swh": ("mbweha wa kahawia mwenye kasi anaruka juu ya mbwa mvivu "
            "katika mji mkubwa na watu wanaona"),
    "tam": ("வேகமான பழுப்பு நரி சோம்பேறி நாயின் மேல் குதிக்கிறது "
            "நகரத்தில் மக்கள் அதை பார்க்கிறார்கள்"),
    "tel": ("వేగంగా ఉన్న గోధుమ నక్క సోమరి కుక్క మీద దూకుతుంది మరియు "
            "నగరంలో ప్రజలు చూస్తున్నారు"),
    "tgl": ("ang mabilis na kayumangging soro ay tumatalon sa ibabaw "
            "ng tamad na aso sa malaking lungsod at ang mga tao ay "
            "nakakakita"),
    "tha": ("สุนัขจิ้งจอกสีน้ำตาลกระโดดข้ามสุนัขขี้เกียจในเมืองใหญ่และผู"
            "้คนมากมายมองดูมัน"),
    "tur": ("hızlı kahverengi tilki tembel köpeğin üzerinden atlar ve "
            "büyük şehirde insanlar bunu görür bir gün"),
    "ukr": ("швидка коричнева лисиця стрибає через ледачого пса у "
            "великому місті де багато людей працюють щодня"),
    "urd": ("تیز بھوری لومڑی سست کتے کے اوپر چھلانگ لگاتی ہے اور شہر "
            "میں لوگ اسے دیکھتے ہیں"),
    "vie": ("con cáo nâu nhanh nhẹn nhảy qua con chó lười biếng trong "
            "thành phố lớn và mọi người nhìn thấy"),
    # ---- round-4 breadth additions ----
    "afr": ("die vinnige bruin jakkals spring oor die lui hond in die "
            "groot stad waar baie mense dit elke dag sien gebeur het"),
    "sqi": ("dhelpra e shpejtë kafe kërcen mbi qenin dembel në qytetin "
            "e madh ku njerëzit e shohin atë çdo ditë"),
    "hrv": ("brza smeđa lisica skače preko lijenog psa u velikom gradu "
            "gdje je mnogo ljudi vide svaki dan"),
    "slk": ("rýchla hnedá líška skáče cez lenivého psa vo veľkom meste "
            "kde ju vidia mnohí ľudia každý deň"),
    "slv": ("hitra rjava lisica skoči čez lenega psa v velikem mestu "
            "kjer jo ljudje vidijo vsak dan znova"),
    "gle": ("léimeann an sionnach donn gasta thar an madra leisciúil sa "
            "chathair mhór agus feiceann na daoine é gach lá"),
    "cym": ("mae llwynog brown cyflym yn neidio dros y ci diog yn y "
            "ddinas fawr ac mae pobl yn gweld hyn bob dydd"),
    "glg": ("o raposo marron lixeiro chimpa por riba do can preguiceiro "
            "na vila grande onde a xente galega mira iso cada mencer"),
    "azj": ("sürətli qəhvəyi tülkü tənbəl itin üstündən tullanır və "
            "böyük şəhərdə insanlar bunu hər gün görürlər"),
    "uzn": ("tez jigarrang tulki dangasa itning ustidan sakraydi va "
            "katta shaharda odamlar buni har kuni korishadi"),
    "som": ("dawacada bunni ah ee dhakhsaha badan ayaa ka booddaa eyga "
            "caajiska ah magaalada weyn halkaas oo dadku arkaan maalin kasta"),
    "yor": ("kọlọkọlọ alawọ burẹndi yara n fo lori aja ọlẹ ni ilu nla "
            "nibi ti awọn eniyan ti ri i lojoojumọ"),
    "zul": ("impungushe ensundu esheshayo yeqa phezu kwenja evilaphayo "
            "edolobheni elikhulu lapho abantu beyibona nsuku zonke"),
    "mlt": ("il volpi kannella mgħaġġla taqbeż fuq il kelb għażżien fil "
            "belt il kbira fejn in nies jarawha kuljum"),
    "srp": ("брза смеђа лисица скаче преко лењог пса у великом граду "
            "где је људи виде сваког дана"),
    "mkd": ("брзата кафеава лисица скока преку мрзливото куче во "
            "големиот град каде што луѓето ја гледаат секој ден"),
    "bel": ("хуткая рудая лісіца скача праз лянівага сабаку ў вялікім "
            "горадзе дзе людзі бачаць гэта штодня"),
    "kaz": ("жылдам қоңыр түлкі жалқау иттің үстінен секіреді және "
            "үлкен қалада адамдар мұны күн сайын көреді"),
    # round-5 breadth additions
    "dan": ("hvad har ikke københavn om aftenen det kolde vejr kom "
            "hurtigt i efteråret med alder af ede noget"),
    "hat": ("nou pral nan mache a pou nou achte manje ak dlo anpil "
            "moun ap travay jodi a epi yo kap vann tout bagay"),
    "jav": ("iki dina sing apik kanggo kabeh wong ing kutha iku lan "
            "saben esuk karo kanca padha nggawa tumrap pasar"),
    "nya": ("anthu ambiri amagwira ntchito mmunda ndipo amapita "
            "kumsika ndi zakudya zikuluzikulu tsiku lililonse"),
    "sna": ("vanhu vazhinji vanoshanda mumunda uye vanoenda kumusika "
            "nezvokudya zvakawanda kwazvo mangwanani ose vari kumba"),
    "ibo": ("ndi mmadu na-aru oru na ubi ma na-aga ahia taa maka "
            "onye obula nwere ihe o ga-azu na ugbo anyi"),
    "hau": ("mutane suna yawanci aiki a gona yau da safe wani lokaci "
            "sukan tafi kuma zuwa kasuwan birni domin hatsi"),
    "mlg": ("ny olona maro dia miasa any antsaha ary mandeha any "
            "antsena izay misy sakafo amin ny maraina ireo rehetra"),
    "kin": ("abantu benshi bakora mu murima kandi bajya ku isoko "
            "uyu munsi kugura ibintu byinshi ejo hazaza"),
    "lin": ("bato mingi basalaka na bilanga mpe bakendaka na zando "
            "lelo oyo epai moto akozala awa boye na ndako"),
    "wol": ("nit ñu bare dañuy liggéey ci tool te dem ca marse tey "
            "am naa lool ñun ak sama xarit bi ci dëkk gi"),
    "aka": ("nnipa pii yɛ adwuma wɔ afuom na wɔkɔ dwam nnɛ sɛ wɔn "
            "nso bɛtɔ nneɛma wɔ hɔ mmre biara"),
    "epo": ("homoj kaj virinoj laboras ĉiutage en kampoj kaj estas "
            "feliĉaj ĉiuj plej ofte aŭ tre bonaj iĝas ili"),
    "ltz": ("zu lëtzebuerg schwätze mir haut eis sprooch rëm gutt well "
            "mir duerno an dat schéint duerf ginn awer och fir ze iessen"),
    "fry": ("de minsken wurkje alle dagen op it lan en se geane nei "
            "de merk dat hja wol fan har wurk hale"),
    "gla": ("bheil sibh ag ionnsachadh a ghaidhlig a h uile seachdain "
            "aig sgoil mhath agus bidh mi a bruidhinn gu tric"),
    "bre": ("an dud a labour er parkoù hag a ya deus ar marchad "
            "hiziv gant kement a draoù evit ar vro war zo"),
    "oci": ("los omes trabalhan dins lo camp e van al mercat uèi "
            "amb dels amics perque aquò es lo melhor òc plan òrt"),
    "grn": ("umi tapicha ombaapo kokaguépe ha oho ñemuhãme ko árape "
            "avei hikuái oguereko heta mbaé porã"),
    "sun": ("jalma loba digawe di kebon jeung arindit ka pasar "
            "ayeuna teu aya anu cicing keur saur henteu nyarita"),
    "tuk": ("adamlar her gün ekin meýdanynda işleýärler we bazara "
            "gidýärler olar köp zat satyn alýarlar ýok bolsa"),
    "kir": ("адамдар талаада иштешет жана бүгүн базарга барышат "
            "алар көп нерсе сатып алууда кыргыз менен болушат"),
    "tgk": ("одамон дар саҳро кор мекунанд ва имрӯз ба бозор "
            "мераванд онҳо бисёр чизҳо мехаранд ин аст корҳои рӯз"),
    "mon": ("хүмүүс өнөөдөр талбайд ажиллаж байна дараа нь зах руу "
            "явна тэд олон зүйл худалдаж авдаг өдөр бүр ийнхүү"),
    "mar": ("लोक आज शेतात काम करतात आणि नंतर बाजारात जातात तेथील "
            "लोकांचे हेतू चांगले असतात असे म्हणे जाते"),
    "nep": ("मानिसहरू आज खेतमा काम गर्छन् र पछि बजार जान्छन् "
            "उनीहरूले धेरै सामान किनेको हुन्छ भन्दै गर्छन्"),
    "pus": ("خلک نن په پټيو کې کار کوي او بيا بازار ته ځي هغوی "
            "ډېر شيان اخلي دا يو ښه کار دی چې شوي دي"),
    "uig": ("كىشىلەر بۈگۈن ئېتىزدا ئىشلەيدۇ ئاندىن بازارغا بارىدۇ "
            "ئۇلار نۇرغۇن نەرسە سېتىۋالىدۇ بۈگۈن ياخشى كۈن"),
    "snd": ("ماڻهو اڄ ٻنيءَ ۾ ڪم ڪن ٿا ۽ پوءِ بازار وڃن ٿا هو "
            "گهڻيون شيون وٺندا آهن اهو سندس جي لاءِ سٺو ڪم آهي"),
    "ori": ("ଲୋକମାନେ ଆଜି କ୍ଷେତରେ କାମ କରୁଛନ୍ତି ଏବଂ ପରେ ବଜାରକୁ ଯିବେ "
            "ସେମାନେ ବହୁତ ଜିନିଷ କିଣିବେ ଏହା ଭଲ କଥା ଅଟେ"),
    "asm": ("মানুহে আজি পথাৰত কাম কৰে আৰু পিছত বজাৰলৈ যায় তেওঁলোকে "
            "বহুত বস্তু কিনে ইয়াৰ পিছত ঘৰলৈ আহে"),
    "div": ("މީހުން މިއަދު ދަނޑުގައި މަސައްކަތް ކުރޭ އަދި ފަހުން ބާޒާރަށް ދޭ "
            "އެމީހުން ގިނަ ތަކެތި ގަނޭ މިއަދު ރަނގަޅު ދުވަހެކެވެ"),
    "bod": ("མི་རྣམས་དེ་རིང་ཞིང་ཁར་ལས་ཀ་བྱེད་ཀྱིན་ཡོད་དེ་ནས་ཚོང་རར་"
            "འགྲོ་གི་ཡོད་ཁོང་ཚོས་དངོས་པོ་མང་པོ་ཉོ་དང་"),
    "tir": ("ሰባት ሎሚ ኣብ ግራት ይሰርሑ እሞ ድሕሪኡ ናብ ዕዳጋ ይኸዱ ንሳቶም "
            "ብዙሕ ነገራት ይገዝኡ እቲ መዓልቲ ጽቡቕ እዩ ኩሎም"),
    "yid": ("די מענטשן ארבעטן היינט אין פעלד און דערנאך גייען זיי צום "
            "מארק וואס איז פון דאס דארף זיי קויפן אלץ"),
    # round-5 tranche A
    "bho": ("लोग आज खेत में काम करत बा लोग बजार जात बाटे आ ओकरा बाद "
            "घरे जात रहल बा सब ठीक होखे भइल बा"),
    "mai": ("लोक आइ खेत मे काम करैत अछि आ बाद मे बजार जाइ छथि हुनक "
            "सभ किछु कीनैत छल एहि सँ नीक थिक"),
    "awa": ("लोगन आज खेत मा काम करत अहै अउर फिर बजार का जात हवै उई "
            "बहुत समान लेत रहा ई नीक बात होय"),
    "mag": ("लोग आज खेत में काम करऽ हई आउ बाद में बजार गे जा हथि "
            "ओकर आ हमर घर के काम ठीक हई"),
    "hne": ("लोगन मन आज खेत मा काम करथे हवय अउ बाद मा बजार जाथे "
            "होथे ओमन बर संग ला बने हवय"),
    "san": ("जनाः अद्य क्षेत्रेषु कार्यं कुर्वन्ति ततः च आपणं गच्छन्ति ते बहूनि "
            "वस्तूनि क्रीणन्ति एतत् शुभम् अस्ति भवति एव"),
    "gom": ("लोक आज शेतांत काम करप करतात आनी मागीर बाजारांत गेल्या ते "
            "म्हणटात हें काम बरें आसा तांचो दीस बरो आसा"),
    "ckb": ("خەڵکەکان ئەمڕۆ لە کێڵگەدا کار دەکەن و پاشان دەچنە "
            "بازاڕەکە ئەوان شتێک زۆر دەکڕن لە ناو شارەکە کردیان"),
    "skr": ("لوک اڄ کھیتاں وچ کم کریندے ہن تے فیر بازار ویندے ہن او "
            "ٻئی شیاں گھندے ہن ہک ݙے نال ڳالھ کوں چنگا"),
    "kas": ("لوکھ اَز کھیتَن منٛز کٲم کران چھُ تہٕ پتہٕ بازارَس گژھان "
            "تِم ہٕند اکھ ۄاریاہ چیز چھُ اسان"),
    "pnb": ("لوک اج کھیتاں وچ کم کردے ہن اتے فیر بازار نوں جاندے ہن "
            "اوہ بہت شیواں لیندے ہن ایہ دن دا کم وی چنگا کیتا توں لئی"),
    "arz": ("الناس اللي بتشتغل في الغيط النهارده بتروح السوق علشان "
            "تشتري حاجات كتير ده مش كده بس دي حاجة بتاع الناس فيه عايز"),
    "tat": ("кешеләр бүген кырда эшлиләр һәм аннары базарга баралар "
            "алар күп әйбер алалар бу шәһәрдә кеше өчен яхшы көн була белән бер"),
    "bak": ("кешеләр бөгөн яланда эш итәләр һәм унан һуң баҙарға "
            "баралар улар күп нәмә алалар беҙ ҡалала кеше өсөн яҡшы көн менән ҡайтабыҙ"),
    "chv": ("ҫынсем паян уйра ӗҫлеҫҫӗ тата кайран пасара каяҫҫӗ вӑл "
            "пӗр ҫын нумай япала илнӗ чӑваш ҫӗр ӗҫ пулать та аш"),
    "sah": ("дьон бүгүн хонууга үлэлииллэр уонна онтон киниэхэ "
            "баһаарга бараллар кини элбэх малы ылар саха биир үчүгэй күн буолар баар эрэ"),
    "che": ("наха тахана аренца болх бо цхьа стаг дукха хӏум оьцу шен "
            "базар дӏа боьлху уьш къа хила ца бен ду ӏад"),
    "oss": ("адӕм абон быдыры кусынц ӕмӕ уый фӕстӕ базармӕ цӕуынц "
            "уыдон бирӕ дзаумӕттӕ ӕлхӕнынц цы хъӕуы уый дӕр иу ӕй кӕнынц сты дзы уыд"),
    "dzo": ("མི་ཚུ་ད་རིས་ཞིང་ནང་ལཱ་འབད་དེས་ཨིན་དེ་ལས་ཁྲོམ་ལུ་འགྱོ་དོ་"
            "ཁོང་གིས་ཅ་ལཱ་མང་ཤོས་ཉོ་དང་གི་ཨིན"),
    "iku": ("ᐃᓄᐃᑦ ᐅᓪᓗᒥ ᓄᓇᒥ ᐱᓕᕆᔪᑦ ᐊᒻᒪ ᑕᐃᒪ ᓂᐅᕕᕐᕕᒧᑦ ᐊᐅᓪᓚᖅᓯᒪᔪᖅ "
            "ᐱᖁᑎᓂᒃ ᐊᒥᓱᓂᒃ ᓂᐅᕕᖅᑐᖅ ᐅᓪᓗᒥᒃ ᐱᐅᔪᒥᒃ ᖓ"),
    "yue": ("啲人今日喺田度做嘢佢哋跟住去街市買咗好多嘢佢哋話今日係好好嘅一日"
            "大家都唔使擔心冇問題咁鍾意睇嚟乜"),
    # round-5 tranche B1 (single-script)
    "sat": ("ᱦᱚᱲ ᱠᱚ ᱛᱮᱦᱮᱧ ᱵᱟᱰᱟᱭ ᱨᱮ ᱠᱟᱹᱢᱤ ᱠᱚ ᱟᱨ ᱛᱟᱭᱚᱢ ᱛᱮ ᱦᱟᱴ ᱥᱮᱫ ᱠᱚ "
            "ᱪᱟᱞᱟᱜ ᱚᱱᱠᱚ ᱫᱚ ᱟᱹᱰᱤ ᱡᱤᱱᱤᱥ ᱜᱮ ᱢᱮᱱ ᱠᱚ ᱱᱟᱹ ᱞᱮᱠᱟ"),
    "iii": ("ꊿ ꀃꑍ ꇬ ꄷ ꅉ ꈁ ꄻ ꋍ ꂷ ꆈꌠ ꉬ ꑌ ꀋ ꁧ ꈀ ꃅ ꉆ ꈨ ꌠ ꇬ ꉬ "
            "ꊿ ꆈꌠ ꌠ ꉬ ꄷ"),
    "chr": ("ᏴᏫ ᎪᎯ ᎢᎦ ᏚᏂᎸᏫᏍᏓᏁ ᎠᎴ ᎾᏍᎩ ᎤᏂᏪᏒ ᎦᏚᏏ ᏭᏂᎶᏒ ᎾᏍᎩ "
            "ᎤᏂᏩᏒ ᎤᏣᏘ ᏧᎬᏩᎶᏗ ᎯᎠ ᎨᏒ ᎣᏍᏓ ᎢᎦ ᏂᎦᏓ ᎤᏓ ᏙᏓ ᏗᎨ ᏅᏓ ᏥᏄ"),
    "vai": ("ꕉꕜꕮ ꔔꘋ ꖸ ꕮ ꗋꘋ ꕺꕱ ꔳ ꕢ ꕞ ꗃ ꖴ ꘉ ꔧ ꕘ ꕮꕊ ꕉꕜ ꖸ ꔔꘋ "
            "ꕮ ꗋꘋ ꕢ ꕞ ꕺꕱ ꔳ"),
    "nqo": ("ߡߐ߰ ߟߎ߫ ߦߋ߫ ߓߊ߯ߙߊ ߞߍ߫ ߟߊ߫ ߓߌ߬ ߞߊ߬ ߓߊ߲߫ ߞߊ߬ ߥߊ߫ ߛߊ߫ "
            "ߘߐ߫ ߊ߬ߟߎ߫ ߦߋ߫ ߝߋ߲ ߛߌߦߊߡߊ߲߫ ߛߊ߲߬ ߠߊ߫ ߣߌ߫ ߕߊ ߖߊ ߝߊ ߞߏ ߓߊ ߌ "),
    "mni": ("ꯃꯤ ꯑꯃ ꯗꯥ ꯁꯤ ꯅꯥ ꯒꯤ ꯌꯨ ꯕꯥ ꯂꯩ ꯇꯥ ꯄꯨ ꯀꯣ ꯍꯧ ꯆꯠ ꯉꯥ "
            "ꯃꯤ ꯑꯃ ꯗꯥ ꯁꯤ ꯅꯥ"),
    # round-5 tranche B2 (Latin)
    "ceb": ("daghan tawo nagtrabaho sa uma karon ug human niana moadto "
            "sila sa merkado kini usa ka maayo adlaw gyud kaayo kanila "
            "tanan ug adunay daghan palaliton mao kini dili sayon apan "
            "gyud kaayo karon"),
    "ilo": ("dagiti tattao agtrabtrabaho iti talon ita ket kalpasanna "
            "mapanda idiay tiendaan adda adu a gatangenda daytoy ket "
            "naimbag nga aldaw iti amin met isuda ken ditoy maysa"),
    "war": ("an mga tawo nagtatrabaho ha uma yana ngan katapos makadto "
            "hira ha merkado damo an ira palit ini nga adlaw maupay han "
            "ngatanan waray problema dida kay hin adto niya han"),
    "hil": ("mga tawo nagaobra sa uma subong kag pagkatapos makadto "
            "sila sa merkado madamo ila baklon amo ini maayo adlaw gid "
            "para tanan indi isa gid kag madamo subong amo ini karon"),
    "min": ("urang banyak bakarajo di sawah kini jo sasudah itu pai ka "
            "pasa urang mambali barang nan banyak iko hari nan elok "
            "bana untuak sadonyo indak ado sajo adolah dari"),
    "ace": ("ureueng rame jikeurija lam umong uroe nyoe ngon oh lheueh "
            "nyan jijak bak keude awaknyan jibloe peue peue le that "
            "uroe nyoe got keu bandum hana jih gobnyan watee ngon nyan"),
    "ban": ("akeh anake makarya ring carik mangkin lan sasampune punika "
            "ipun lunga ka pasar ipun numbas barang akeh pisan sane "
            "mangkin rahina sane becik antuk samian wenten sampun jagi olih"),
    "xho": ("abantu abaninzi basebenza emasimini ngoku kwaye emva koko "
            "baya kwindawo yentengiso bathenga izinto ezininzi kuba le "
            "mini intle kakhulu kubo bonke xa kuyo yaye wona into ukuba eli"),
    "ssw": ("bantfu labanyenti basebenta emasimini manje kanye ngemuva "
            "kwaloko baya etitolo batsenga tintfo letinyenti kutsi "
            "lolusuku luhle kakhulu kubo bonkhe njalo lokhu emuva nga le"),
    "tsn": ("batho botlhe ba bereka kwa masimong jaanong mme morago ga "
            "moo ba ya kwa marekisetsong go reka mefuta gore letsatsi "
            "le lentle thata go bone fela jaaka bangwe sentle kgotsa "
            "jaanong gape"),
    "sot": ("batho ba bangata ba sebetsa masimong joale mme kamora moo "
            "ba ea mabenkeleng ba reka lintho tse ngata hore letsatsi "
            "le letle haholo ho bona bohle empa motho o ntse a na le "
            "mosebetsi oa tsohle ea tsa"),
    "nso": ("batho ba bantši ba šoma mašemong bjale gomme ka morago ga "
            "moo ba ya mabenkeleng ba reka dilo tše dintši gape "
            "letšatši le lebotse kudu go bona ka moka yeo mošomo wa tšeo"),
    "ven": ("vhathu vhanzhi vha khou shuma masimuni zwino nahone nga "
            "murahu ha zwenezwo vha ya vhengeleni vha renga zwithu "
            "zwinzhi uri ḓuvha ḽavhuḓi vhukuma kha vhone vhoṱhe musi "
            "hone ndi ha nga"),
    "tso": ("vanhu vo tala va tirha emasinwini sweswi naswona endzhaku "
            "ka sweswo va ya evhengeleni va xava swilo swo tala leswi "
            "siku leri sasekile ngopfu eka hinkwavo kambe hi ku ya yo eka"),
    "run": ("abantu benshi barakora mu murima ubu hanyuma baca baja kw "
            "isoko kugura ivyo bakeneye vyinshi muri uyu musi rero "
            "ariko kuko igihe ciza canke bara umu aba"),
    "lug": ("abantu bangi bakola mu nnimiro kati era oluvannyuma "
            "bagenda mu katale ne bagula ebintu bingi ddala olunaku "
            "luno lulungi nnyo eri bonna buli omu naye nga okuva ku"),
    "ewe": ("amewo geɖe le dɔ wɔm le agble me egbe eye emegbe wo yi asi "
            "me wo ƒle nu geɖe ŋkeke sia nyo ŋutɔ na wo katã kple ɖe "
            "nyuie ɖo ƒe nu na le yi"),
    "bam": ("mɔgɔ caman bɛ baara kɛ foro la sisan ani o kɔ u bɛ taa "
            "sugu la u bɛ fɛn caman san bi don ye don ɲuman ye mɔgɔ "
            "bɛɛ ye ka ni ko la dɔn"),
    "ful": ("yimɓe heewɓe ngollah gese jooni e ɓaawo ɗum ɓe njaha "
            "luumo ɓe coodta kuje keewɗe ñalnde nde fof ko e nde ha "
            "ɗo ngol golle ɗum ɓe"),
    "sag": ("âzo mîngi ayeke sâra kua na yäkä lâsô na pekô nî ála gue "
            "na gara ála vo âye mîngi lâsô ayeke nzönî lâ tî ála kûê "
            "sô tongana pëpe nî na vo"),
    "orm": ("namoonni baayeen amma lafa qotiisaa keessa hojii hojjetaa "
            "jiru fi sana booda gara gabaa dhaqu isaan waan baayee "
            "bitatu guyyaan kun kan gaarii dha itti aa fi"),
    "kik": ("andũ aingĩ nĩ mararuta wĩra mĩgũnda rĩu na thutha ũcio nĩ "
            "mathiĩ ndũnyũ kũgũra indo nyingĩ mũthenya ũyũ nĩ mwega "
            "mũno kũrĩ othe gũkũ mũndũ wa kũ maingĩ"),
    "que": ("runakuna achka chakrapi llamkachkanku kunan hinaspa "
            "chaymanta hatun qhatuman rinku paykuna achka imakunata "
            "rantinku kay punchaw sumaq kanqa llapanpaq chay llaqta "
            "manta pi wan qa ta kuna"),
    "aym": ("jaqinakax waljaniw yapuna irnaqapxi jichhax ukatx qhathur "
            "sarapxi jupanakax walja yanak alasipxi aka urux wali "
            "askiwa taqpachataki ukax jach a uru mpi ata iri axa apxi naka"),
    "mri": ("he maha nga tangata e mahi ana i te mara i tenei ra ka "
            "haere ratou ki te whare hokohoko ka hoko ratou i nga mea "
            "maha he ra pai tenei mo ratou katoa kei te hoki ana ki o te"),
    "smo": ("e toatele tagata o loo galulue i le faatoaga i lenei aso "
            "ona latou o lea i le maketi e faatau mai le tele o mea ua "
            "manaia lenei aso mo i latou uma ma le mea ona"),
    "ton": ("ʻoku ngāue ʻa e kakai tokolahi ʻi he ngoueʻanga he ʻaho ni "
            "pea hili ia ʻoku nau ō ki he maketi ʻo fakatau mai ʻa e "
            "ngaahi meʻa lahi ko e ʻaho lelei eni kiate kinautolu kotoa "
            "mo e ke"),
    "fij": ("era cakacaka tiko e na were na tamata e levu e na siga oqo "
            "ka oti era lako ki na makete era volia na ka e levu oqo na "
            "siga vinaka vei ira kece sa me ni kei vaka"),
    "tpi": ("planti manmeri i wok long gaden tude na bihain ol i go "
            "long maket ol i baim planti samting dispela em i gutpela "
            "de bilong olgeta ol i gat wok long ples gut em na"),
    "nno": ("mange folk arbeider ute no og etterpå går dei til "
            "marknaden dei kjøper mykje varer ikkje noko anna enn ein "
            "fin dag for alle som vil gjere noko kvar dag fleire vere frå òg eit"),
    "fao": ("nógv fólk arbeiða á markini í dag og aftaná fara teir til "
            "marknaðin teir keypa nógvar vørur hetta er ein góður dagur "
            "hjá øllum eisini í morgin øll fara hetta hjá teir"),
    "bos": ("mnogo ljudi danas radi u polju i nakon toga idu na pijacu "
            "kupuju mnogo stvari također je ovo lijep dan za sve kako "
            "se rade i u na za"),
    # round-5 tranche C
    "abk": ("ауаа рацәаны аусура иаҿуп иахьа нас дара ақалақь аҟны "
            "ицоит даара ирацәаны аахәоит ари аҽны бзиоуп ҳара зегьы "
            "ҳзы аӡә еиҳа ажәа арахь ашҭа иҟоу"),
    "udm": ("адямиос трос ужало бусыын туннэ собере соос базаре мыно "
            "соос трос арбери басьто та нунал ӟеч луэ ваньзылы котьку "
            "но уж ке лэн"),
    "kom": ("уна йӧз уджалӧны муяс вылын талун сэсся найӧ мунӧны "
            "базарӧ найӧ босьтӧны уна тор тайӧ лун зэв бур налӧн да "
            "кӧ ӧны"),
    "mhr": ("еҥ влак таче пасушто пашам ыштат вара нуно пазарыш каят "
            "нуно шуко арверым налыт тиде кече пеш сай чылаланышт ден "
            "ӱмбал ӧрт влак"),
    "myv": ("ламо ломанть важодить паксясо течи мейле сынь молить "
            "базаров сынь рамить ламо вещат те чись паро весенень ды "
            "эрь зэ ломанть"),
    "tyv": ("хөй кижилер бөгүн шөлде ажылдап турар оон соонда олар "
            "садыгже баар олар хөй чүве садып алыр бо хүн эки болгаш "
            "чер соонда бо"),
    "krc": ("кёп адамла бюгюн сабанда ишлейдиле андан сора ала "
            "базарга барадыла ала кёп зат сатып аладыла бу кюн ашхы "
            "бла къой джол ла ны этедиле"),
    "ava": ("гӏемер гӏадамал жакъа хурзабазда хӏалтӏула хадув гьел "
            "базаралде уна гьез гӏемер жо босула гьаб къо лъикӏаб "
            "буго ва руго щиб бер ул"),
    "bua": ("олон хүнүүд мүнөөдэр талмайда ажал хэнэ тиигээд һүүлдэнь "
            "зах худалдаанда ошоно тэдэ олон юумэ худалдажа абана энэ "
            "үдэр һайн байна гэжэ хэлэнэ ехэ дэ үүд нууд"),
    "kal": ("inuit amerlasuut ullumi narsaatini suliapput taava "
            "niuertarfimmut ingerlapput tassani pisiarisarpaat "
            "amerlasuut ulloq manna ajunngilaq tamanut toq neq llu "
            "put mut unga"),
    "haw": ("hana ka poʻe he nui ma ka māla i kēia lā a ma hope hele "
            "lākou i ka mākeke kūʻai lākou i nā mea he nui he lā "
            "maikaʻi kēia no lākou a pau ua o na"),
    "bis": ("ol man oli wok long garen tede mo afta oli go long maket "
            "oli pem plante samting hemia i gutfala dei blong olgeta "
            "tumas mo oli stap gud"),
    "pap": ("hopi hende ta traha den kunuku awe i despues nan ta bai "
            "merkado nan ta kumpra hopi kos e dia aki ta bon pa nan "
            "tur ku den un di"),
    "mfe": ("bann dimounn pe travay dan karo zordi ek apre zot al "
            "laplas zot aste boukou kitsoz zordi enn zoli zour pou "
            "zot tou ena li dan enn aster"),
    "srn": ("furu sma e wroko na gron tide en baka dati den e go na "
            "wowoyo den e bay furu sani a dey disi bun gi den alamala "
            "nanga ala fu e na go"),
    "lat": ("homines multi in agris laborant hodie atque postea ad "
            "forum eunt multa ibi emunt hic dies bonus est omnibus "
            "qui cum eis sunt que orum unt bus am"),
    "roh": ("blers umans lavuran oz sin ils ers e suenter van els al "
            "marchà els chompran bleras chaussas quai è in bel di per "
            "tuts eir cun ina ed"),
    "kmr": ("gelek mirov îro li zeviyan kar dikin û piştre ew diçin "
            "bazarê ew gelek tiştan dikirin ev roj ji bo wan hemûyan "
            "xweş e ku xwe kar li û ji"),
    "mww": ("cov neeg coob coob ua hauj lwm hauv teb hnub no thiab "
            "tom qab ntawd lawv mus khw lawv yuav khoom ntau heev "
            "hnub no yog hnub zoo rau lawv txhua tus tsis muaj teeb "
            "meem tej khwv"),
    "luo": ("ji mangeny timo tich e puodho kawuono kendo bange gidhi "
            "e chiro ginyiewo gik moko mangeny odiechiengni ber ne ji "
            "duto gi ma dhi e ne"),
    "bem": ("abantu abengi balebomba mu mabala nomba elyo pa numa "
            "baya ku maliketi ukushita ifintu ifingi ubu bushiku "
            "busuma sana ku bonse ici na ba kwi"),
    "srd": ("medas persones traballant in sos campos oe e posca "
            "andant a su mercadu comporant cosas medas custa die est "
            "bona pro totus sas unu de che a in"),
    "fur": ("tante int e lavore tai cjamps vuê e po dopo e va al "
            "marcjât e compre tantis robis vuê e je une biele zornade "
            "par ducj ancje cjase il la di"),
}


def q_langid(spark, sf_dir):
    """N1 trigram-profile language ID (franc model, language.js:26-46):
    struct(iso6391, iso6393) over 187 languages / 34 script gates; exact
    arithmetic oracle (score algebra rendered to SQL) over
    by-construction per-language sample texts."""
    docs = _load(_prep(spark), sf_dir, "documents")
    langs = sorted(TS.LANG_TRIGRAMS)
    sample = F.element_at(
        F.array(*[F.lit(LANG_SAMPLES[lang]) for lang in langs]),
        (F.col("doc_id") % len(langs)).cast("int") + 1,
    )
    # normalization stays JVM-side; scoring is one Arrow-batched kernel
    # (a Column-algebra form needs 70×15 replace-scans in one projection,
    # past codegen's 64 KB limit, and ran interpreted — see
    # langid_batch_col), O(|text| + gated profiles) per row
    base = docs.select("doc_id", sample.alias("txt")).withColumn(
        "_nt", TS.lang_normtext_col("txt")
    )
    st = TS.langid_batch_col(F.col("_nt"))
    return base.select(
        "doc_id",
        st["iso6391"].alias("iso6391"),
        st["iso6393"].alias("iso6393"),
        st["best_score"].alias("best_score"),
    )


def q_sentiment(spark, sf_dir):
    """A10 sentiment: score, scaled comparative and the reference label
    quirk, plus `score_join`, which the oracle computes a second way
    (explode → lexicon join → sum) — both oracle-checked in one row."""
    docs = _load(_prep(spark), sf_dir, "documents")
    # r6 (guide §4): one Arrow kernel pass. The former plan ran a staged
    # inline algebra AND an explode→broadcast-join→agg path over one
    # scan — value-correct, but the 10-term array_remove sum plus the
    # join/agg machinery made a large codegen tree whose JIT dominated
    # in-suite time (~1.9 s best-of-2 at sf1 vs ~0.7 s for the kernel).
    # The kernel's per-token dict lookup IS the shape that scales to
    # AFINN-165-sized lexicons (an O(tokens) map-side pass, lexicon
    # shipped with the closure).
    return TS.sentiment_batch(docs)


def q_string_helpers(spark, sf_dir):
    """X3 stripPunctuation + X5 toTitleCase (helpers.js:98-109) — exact
    string oracle incl. the JS quirks (ASCII-\\w title casing leaves a
    leading accented char untouched; apostrophes/hyphens survive the
    punctuation strip). r5 folds: X2 stripPossessive (helpers.js:81-96,
    's / trailing-punct removal on a probe token), X4
    capitalizeFirstLetter (helpers.js:77-79), and X24's dot-product
    scorer core (contentDetector.js:583-589) as the EXACT integer-scaled
    logit z_x1e6 plus the sigmoid(z)>0.5 decision boolean — the
    transcendental e^-z itself stays pytest-pinned
    (test_content_detector) because float hashes don't cross engines."""
    docs = _load(_prep(spark), sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    raw = F.concat(
        F.lit("the QUICK brown—fox's №"), d, F.lit(" (mixed) élan  runs"),
    )
    poss = F.concat(F.lit("editor"), d, F.lit("'s?!"))
    # X24 probe: v = 4 integer-percent features from doc_id, weights
    # ±{25,50,75,100}/100, bias -1 → z in exact 1e-6 units
    v = [(F.col("doc_id") % m).cast("long") for m in (7, 11, 13, 17)]
    w = [25, -50, 75, -100]  # weights × 100
    z_x1e6 = (
        F.lit(-1_000_000)
        + sum(vi * F.lit(wi * 10_000) for vi, wi in zip(v, w))
    ).cast("long")
    return docs.select(
        "doc_id",
        TS.strip_punctuation_col(raw).alias("stripped"),
        TS.title_case_col(raw).alias("titled"),
        # X1 normalization folded in (formerly normalize_entity)
        TS.normalize_text_col(raw).alias("normalized"),
        TS.strip_possessive_col(poss).alias("possessive_stripped"),
        TS.capitalize_first_col(F.concat(F.lit("élan doc "), d))
        .alias("capitalized"),
        z_x1e6.alias("z_x1e6"),
        (1.0 / (1.0 + F.exp(-z_x1e6.cast("double") / 1e6)) > 0.5)
        .alias("score_positive"),
    )


def q_keywords_cleaned(spark, sf_dir):
    """N3 keyword cleaning cascade (keywordParser.js:84-96): injected
    probe tokens — 'Élan' (diacritic survives the surface, normalized
    for dedupe), 'NASA' (all-caps len 4 kept), 'UNESCO' (all-caps >4
    rejected), '42' (digits rejected), "Cat's" (possessive stripped) —
    plus corpus TF; exact oracle sharing the diacritic map constant."""
    docs = _load(_prep(spark), sf_dir, "documents").filter(F.col("doc_id") < 30)
    # probes repeated 25x so they dominate the TF ranking: the top-8 must
    # then contain exactly the SURVIVORS (Élan, NASA, Cat) and exclude
    # the rejected forms (UNESCO, 42)
    probes = " Élan NASA UNESCO 42 Cat's" * 25
    docs2 = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(probes)).alias("text")
    )
    return TS.keywords_cleaned_topk(docs2)


def q_keywords_topk(spark, sf_dir):
    """N3/A9 keywords + keyphrases in one union surface: kind='term'
    rows are the POS-gated TF top-10 unigrams, kind='phrase' rows the
    noun-phrase 2/3-gram top-8 pooled ranking (retext-keywords ranks
    variable-length spans together) with the reference's normalized
    weight scaled to bigint (floats never reach the driver hash).

    Runs the Arrow-kernel scale path (keywords_phrases_batch): per-doc
    TF top-k needs no cross-row state, so an explode → hash-agg →
    window plan would pay two shuffles for nothing."""
    docs = _load(_prep(spark), sf_dir, "documents")
    return TS.keywords_phrases_batch(docs)


# -- dedup -------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    docs = _load(_prep(spark), sf_dir, "documents")
    return DD.exact_dup_groups(docs)


def q_minhash_lsh(spark, sf_dir):
    """MinHash signatures + LSH band buckets in one surface (the bucket
    rows carry the per-doc signature columns, so both stages of the
    near-dup pipeline are oracle-checked by one query).

    r6 (guide §4): a doc's signature depends on that doc alone, so the
    explode → hash-agg plan paid a ~3.7M-row (sf1) Generate plus a shuffle
    for per-row work; the kernel does the identical md5/universal-hash
    arithmetic in one pass (bit-parity pinned in test_dedup), zero
    exchanges beyond the input spread."""
    docs = _load(_prep(spark), sf_dir, "documents")
    return DD.minhash_lsh_batch(docs)


def q_simhash(spark, sf_dir):
    # r6: per-doc fingerprint → one kernel pass (see q_minhash_lsh);
    # bit-parity with the declarative sign-sum plan pinned in test_dedup
    docs = _load(_prep(spark), sf_dir, "documents")
    return DD.simhash_batch(docs)


def q_ngram_jaccard(spark, sf_dir):
    spark = _prep(spark)
    docs = _load(spark, sf_dir, "documents")
    small = docs.filter(F.col("doc_id") < 40)
    ids = small.select(F.col("doc_id").alias("id_a"))
    pairs = ids.crossJoin(small.select(F.col("doc_id").alias("id_b"))).filter(
        F.col("id_a") < F.col("id_b")
    )
    out = DD.ngram_jaccard(small, pairs)
    return out.select(
        "id_a", "id_b",
        F.round(F.col("jaccard") * 10000).cast("long").alias("jaccard_x1e4"),
    )


# -- similarity search -------------------------------------------------------


def q_knn_bruteforce(spark, sf_dir):
    """Exact cosine top-k baseline + L2 norms (folded: `norm_x1e6` is
    the neighbor's vector norm, joined back by id — the same quantity
    the former embedding_norms query pinned for every vector)."""
    emb = _load(_prep(spark), sf_dir, "embeddings")
    # broadcast-destined sides read WITHOUT the fan-out repartition:
    # shuffling rows that every executor receives whole is pure cost
    emb_small = _load(spark, sf_dir, "embeddings", fanout=False)
    queries = emb_small.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    norms = emb_small.select(
        F.col("vec_id").alias("neighbor_id"),
        F.round(SIM.l2_norm_col(F.col("embedding")) * 1_000_000)
        .cast("long").alias("norm_x1e6"),
    )
    out = SIM.cosine_topk(emb, queries, k=10)
    return out.join(F.broadcast(norms), "neighbor_id").select(
        "query_id", "neighbor_id", "rank",
        F.round(F.col("cosine") * 1_000_000).cast("long").alias("cosine_x1e6"),
        "norm_x1e6",
    )


def q_embedding_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup: hyperplane-LSH bucket join + exact
    cosine >= DD.EMB_NEAR_DUP_COSINE within buckets (dedup for
    embedding-bearing corpora).
    Double-precision dot products accumulate in array order on both
    engines, so the threshold filter agrees exactly."""
    emb = _load(_prep(spark), sf_dir, "embeddings")
    out = DD.embedding_near_dups(emb)
    return out.select(
        "id_a", "id_b",
        F.round(F.col("cosine") * 1_000_000).cast("long").alias("cosine_x1e6"),
    )


def q_ann_lsh_buckets(spark, sf_dir):
    emb = _load(_prep(spark), sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        SIM.hyperplane_bucket_col(F.col("embedding")).alias("bucket"),
    )


def q_ivf_topk(spark, sf_dir):
    """IVF search end-to-end with BY-CONSTRUCTION centroids (every 31st
    vector, so the oracle needs no k-means): nearest-centroid inverted
    lists, n_probe=4 routing, exact cosine rerank inside the probed
    lists only — the scale path for ANN beyond brute force."""
    emb = _load(_prep(spark), sf_dir, "embeddings")
    cents = (
        emb.filter(F.col("vec_id") % 31 == 0)
        .select(
            (F.col("vec_id") / 31).cast("int").alias("cluster"),
            F.col("embedding").alias("c_vec"),
        )
    )
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    out = SIM.ivf_topk(emb, queries, cents, k=8, n_probe=4)
    return out.select(
        "query_id", "neighbor_id", "rank",
        F.round(F.col("cosine") * 1_000_000).cast("long").alias("cosine_x1e6"),
    )


IVF_TRAIN_K = 10
IVF_TRAIN_PROBE = 3


def q_ivf_trained_recall(spark, sf_dir):
    """IVF with TRAINED centroids end-to-end: deterministic Lloyd's
    k-means (exact integer-sum means, so the DuckDB twin reproduces the
    trained centroids bit-for-bit) → n_probe routing → in-list exact
    rerank, then per-query recall vs the brute-force exact top-k. The
    oracle unrolls the same two k-means iterations in SQL, so the
    TRAINED path — not just the routing — is driver-checked; recall_ok
    pins the quality floor."""
    spark = _prep(spark)
    emb = _load(spark, sf_dir, "embeddings")
    cents = SIM.train_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    ivf = SIM.ivf_topk(emb, queries, cents, k=IVF_TRAIN_K,
                       n_probe=IVF_TRAIN_PROBE)
    brute = SIM.cosine_topk(emb, queries, k=IVF_TRAIN_K).select(
        "query_id", "neighbor_id"
    )
    hits = (
        ivf.join(brute, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return queries.select("query_id").join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) * 100 / IVF_TRAIN_K)
        .cast("long").alias("recall_x100"),
        (F.coalesce("n_hits", F.lit(0)) >= IVF_TRAIN_K // 2).alias("recall_ok"),
    )


def q_label_centroids(spark, sf_dir):
    emb = _load(_prep(spark), sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("d", "val"))
        .groupBy("label", "d")
        .agg(F.round(F.avg(F.col("val").cast("double")) * 10000).cast("long").alias("mean_x1e4"))
    )


# -- events (streaming-shaped batch) ----------------------------------------


def q_event_hourly(spark, sf_dir):
    # no fan-out: the (hour, type) partial agg collapses rows before
    # any exchange (same rationale as q_pricing_summary); the events
    # file has enough row groups to feed the scan
    ev = _load(_prep(spark), sf_dir, "events", fanout="agg")
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_x100"),
        )
    )


def q_sessionize(spark, sf_dir):
    # keyed fan-out: the spread shuffle IS the window's user_id exchange
    # (and the session-count groupBy reuses it too — hash(user_id)
    # satisfies ClusteredDistribution(user_id, session_idx)): 1 exchange
    # where the round-robin shape paid 2 (guide §2.4)
    ev = _load(_prep(spark), sf_dir, "events", key="user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_utc = F.col("ts").cast("timestamp")  # NTZ parquet → UTC instant
    gap = F.unix_millis(ts_utc) - F.unix_millis(F.lag(ts_utc).over(w))
    new_sess = F.when(gap.isNull() | (gap > 1_800_000), 1).otherwise(0)
    sess = ev.withColumn(
        "session_idx",
        F.sum(new_sess).over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min(F.unix_millis(F.col("ts").cast("timestamp"))).alias("start_epoch_ms"),
    )


def q_retry_backoff(spark, sf_dir):
    """T5 linear backoff 1000·attempt ms re-queue schedule for failures
    (/root/reference/scripts/batch-crawl.js:146-147) + X22 error-family
    classification of each failure's synthesized message (folded: both
    operate on the same error events)."""
    from horseman_article_parser_spark.functions.urls import classify_error_col

    ev = _load(_prep(spark), sf_dir, "events", key="user_id").filter(
        F.col("event_type") == "error"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    out = ev.withColumn("attempt", F.row_number().over(w))
    msg = (
        F.when(F.col("event_id") % 5 == 0, F.lit("Navigation Timeout exceeded"))
        .when(F.col("event_id") % 5 == 1, F.lit("HTTP 403 Forbidden"))
        .when(F.col("event_id") % 5 == 2, F.lit("GDPR consent wall detected"))
        .when(F.col("event_id") % 5 == 3, F.lit("Execution context was destroyed"))
        .otherwise(F.lit("boom"))
    )
    return out.select(
        "event_id", "user_id", "attempt",
        (F.unix_millis(F.col("ts").cast("timestamp")) + F.col("attempt") * 1000).alias("not_before_ms"),
        classify_error_col(msg).alias("family"),
    )


# -- relational breadth ------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    # no fan-out: the partial agg collapses 6M rows to a handful BEFORE
    # the exchange, so round-robin-shuffling the whole table first was
    # pure cost; scan parallelism comes from row-group splits
    li = _load(_prep(spark), sf_dir, "lineitem", fanout="agg")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_base_x100"),
            F.sum(F.round(F.col("l_discount") * 100).cast("long")).alias("sum_disc_x100"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_orders_per_customer(spark, sf_dir):
    # keyed fan-out: the spread shuffle is the window's o_custkey
    # exchange — 1 exchange + 1 sort instead of 2 + 2
    orders = _load(_prep(spark), sf_dir, "orders", key="o_custkey")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank",
                F.round(F.col("o_totalprice") * 100).cast("long").alias("price_x100"))
    )


def q_revenue_by_nation(spark, sf_dir):
    spark = _prep(spark)
    orders = _load(spark, sf_dir, "orders", fanout="agg")
    cust = _load(spark, sf_dir, "customer", fanout=False)
    nation = _load(spark, sf_dir, "nation", fanout=False)
    return (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("revenue_x100"),
        )
    )


def q_part_type_stats(spark, sf_dir):
    spark = _prep(spark)
    li = _load(spark, sf_dir, "lineitem", fanout="agg")
    part = _load(spark, sf_dir, "part", fanout=False)
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_type")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
    )


# -- end-to-end crawl (non-SQL-expressible: stateful multi-round) ------------


def q_spellcheck(spark, sf_dir):
    """N4 spellcheck (anti-join misses, char positions, symspell
    suggestions) + J3 entity filter, one surface. Dictionary = the
    EMBEDDED STATIC en-gb wordlist (functions/wordlists.py, the
    relational form of the reference's dictionary-en-gb,
    spellCheck.js:6) — replacing the round-1..3 corpus-frequency
    dictionary, so ' recieve' (appended to EVERY doc, maximally
    corpus-frequent) is still flagged exactly like hunspell would;
    zzrare* tokens are plain misspellings; zzentity(+s) are rescued by
    the known-entity rule; 'tabl' / 'scann' are one edit from
    dictionary words so the suggestion join must surface the twins
    (the oracle verifies with DuckDB's native levenshtein())."""
    from horseman_article_parser_spark.functions.wordlists import (
        builtin_dictionary,
    )
    from horseman_article_parser_spark.operators.spellcheck import (
        misspellings,
        suggest_corrections,
    )

    spark = _prep(spark)
    docs = _load(spark, sf_dir, "documents")
    rare = F.concat(
        F.lit(" zzrare"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("a"))
        .when(F.col("doc_id") % 3 == 1, F.lit("b"))
        .otherwise(F.lit("c")),
    )
    ent = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(" zzentity"))
        .when(F.col("doc_id") % 5 == 1, F.lit(" zzentitys"))
        .otherwise(F.lit(""))
    )
    typo = (
        F.when(F.col("doc_id") % 7 == 0, F.lit(" tabl"))
        .when(F.col("doc_id") % 7 == 1, F.lit(" scann"))
        .otherwise(F.lit(""))
    )
    docs2 = docs.select(
        "doc_id",
        F.concat(F.col("text"), rare, ent, typo, F.lit(" recieve")).alias("text"),
    )
    dictionary = builtin_dictionary(spark)
    entities = spark.createDataFrame([("Zzentity",)], "entity string")
    missed = misspellings(docs2, dictionary, entities)
    sugg = suggest_corrections(missed, dictionary).select(
        "doc_id", "line", "word_idx", "word", "suggestions"
    )
    return missed.join(sugg, ["doc_id", "line", "word_idx", "word"]).select(
        "doc_id", "line", "word_idx", "word",
        "col_char", "offset_start", "offset_end", "suggestions",
    )


_ENT_NAMES1 = ["Alan Brooke", "Beth Carter", "Carl Dennis", "Dora Evans",
               "Evan Foster", "Fay Garner", "Gus Harper", "Ivy Jones"]
_ENT_NAMES2 = ["Alice Johnson", "Bob Smith", "Carol White", "Dan Young",
               "Elsa King", "Fred Long", "Gina Moore", "Hank Nolan"]


def _entity_text_col():
    n1 = F.array(*[F.lit(x) for x in _ENT_NAMES1])
    n2 = F.array(*[F.lit(x) for x in _ENT_NAMES2])
    i = (F.col("doc_id") % 8 + 1).cast("int")
    j = ((F.col("doc_id") + 1) % 8 + 1).cast("int")
    return F.concat(
        F.lit("Mr "), F.element_at(n1, i), F.lit(" visited Paris. "),
        F.lit("Google's team met "), F.element_at(n2, i),
        F.lit(" Senior Product Manager for Slack. "),
        F.lit("However "), F.element_at(n1, j),
        F.lit(" said the United Kingdom's plan works. "),
        # SO4 country-sequence: one capitalized run holding two
        # countries must split into exactly two places (prefix set
        # keeps 'United Arab Emirates' whole)
        F.lit("The United Arab Emirates South Korea talks continued."),
        # r4 lowercase-lexicon pass: 'berlin' (gazetteer place) and
        # 'john doe' (FIRST_NAMES pair) are recovered and capitalized;
        # 'google' is already seen from the cased pass and dedupes
        F.lit(" later the fox reached berlin where google met john doe."),
    )


def q_entities(spark, sf_dir):
    """N2 entity cascade (possessive strip, honorific merge, job-title
    trim, discourse-starter strip, gazetteer classification, dedupe)
    over by-construction sentences — exact relational oracle."""
    from horseman_article_parser_spark.operators.entities import entities_exploded

    docs = _load(_prep(spark), sf_dir, "documents").select(
        "doc_id", _entity_text_col().alias("text")
    )
    return entities_exploded(docs).select("doc_id", "kind", "pos", "entity")


def _entities_oracle_sql() -> str:
    def case_of(names, shift):
        whens = " ".join(f"WHEN {i} THEN '{n}'" for i, n in enumerate(names))
        return f"(CASE (doc_id + {shift}) % 8 {whens} END)"

    c1 = case_of(_ENT_NAMES1, 0)
    c1n = case_of(_ENT_NAMES1, 1)
    c2 = case_of(_ENT_NAMES2, 0)
    rows = [
        ("people", 0, f"'Mr ' || {c1}"),
        ("people", 1, c2),
        ("people", 2, c1n),
        ("people", 3, "'John Doe'"),
        ("places", 0, "'Paris'"),
        ("places", 1, "'United Kingdom'"),
        ("places", 2, "'United Arab Emirates'"),
        ("places", 3, "'South Korea'"),
        ("places", 4, "'Berlin'"),
        ("orgs", 0, "'Google'"),
        ("orgs", 1, "'Slack'"),
        ("topics", 0, f"'Mr ' || {c1}"),
        ("topics", 1, "'Paris'"),
        ("topics", 2, "'Google'"),
        ("topics", 3, c2),
        ("topics", 4, "'Slack'"),
        ("topics", 5, c1n),
        ("topics", 6, "'United Kingdom'"),
        ("topics", 7, "'United Arab Emirates'"),
        ("topics", 8, "'South Korea'"),
        ("topics", 9, "'Berlin'"),
        ("topics", 10, "'John Doe'"),
    ]
    return "\nUNION ALL\n".join(
        f"SELECT doc_id, '{k}' AS kind, {p} AS pos, {e} AS entity FROM documents"
        for k, p, e in rows
    )


def q_content_candidates(spark, sf_dir):
    """A6/W1/W2: candidate feature extraction + heuristic ranking over
    the synthetic pages. Oracle covers the by-construction fields (the
    score formula itself is pytest-verified against the reference
    formula, tests/test_content_detector.py)."""
    from horseman_article_parser_spark.operators.content_detector import (
        candidate_features,
        rank_candidates,
    )

    spark = _prep(spark)
    docs = _load(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><body><article><h1>Heading</h1><p>"), F.col("text"),
        F.lit('</p><a href="/next/'), d, F.lit('">next</a>'),
        F.when(F.col("doc_id") % 2 == 0,
               F.lit('<img src="/i.png" alt="a">')).otherwise(F.lit("")),
        F.lit("</article></body></html>"),
    )
    pages = docs.select("doc_id", html.alias("html"))
    ranked = rank_candidates(candidate_features(pages))
    return ranked.select(
        "doc_id", "xpath", "rank", "sem", "dp", "heads",
        F.col("imgCount").alias("img_count"),
    )


CANON_RICH_P = "Rich paragraph {i} with plenty of descriptive words to pass the sixty character floor for doc "
CANON_FETCHED_P = "Canonical paragraph {i} recovered from the canonical page with enough characters for doc "


def _canon_fetch(url: str) -> tuple[int, str]:
    """Synthetic canonical-page fetcher: 3 substantial paragraphs keyed
    by the trailing doc id."""
    d = url.rsplit("/", 1)[-1]
    body = "".join(
        f"<p>{CANON_FETCHED_P.format(i=i)}{d}.</p>" for i in (1, 2, 3)
    )
    return 200, f"<html><body><article>{body}</article></body></html>"


def _probe_status(url: str) -> int:
    """Synthetic HEAD probe keyed by the trailing doc id: %7==0 → 404
    (skip), %7==1 → 405 (HEAD rejected, still fetch-worthy), else 200."""
    d = int(url.rsplit("/", 1)[-1])
    return 404 if d % 7 == 0 else (405 if d % 7 == 1 else 200)


def q_probe_canonical(spark, sf_dir):
    """S5 HTTP probe (httpProbe, batch-sample-run.js:34-57: preflight
    status with the 405-means-fetch-anyway rule) + S8 canonical
    re-fetch chain, one row per doc (both operate on the same
    synthesized fetch world; joined on doc_id). Exact oracle by
    construction for every column."""
    from horseman_article_parser_spark.operators.probe import probe_urls

    spark = _prep(spark)
    docs = _load(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    fr = docs.select(
        "doc_id",
        F.concat(F.lit("https://probe.example/page/"), d).alias("url"),
    )
    probed = probe_urls(fr, _probe_status).select("doc_id", "url", "status", "ok")
    canon = _canonical_refetch_df(spark, sf_dir).select(
        "doc_id", "used", "n_entries", "first_para", "synth_html"
    )
    return probed.join(canon, "doc_id")


def _canonical_refetch_df(spark, sf_dir):
    """S8 empty-content fallback chain (index.js:1243-1336): docs%3==0
    are rich (no rescue), %3==1 are thin WITH rel=canonical (rescued —
    synthesized live-summary from the canonical page), %3==2 are thin
    without canonical (not rescued). Exact oracle by construction."""
    from horseman_article_parser_spark.operators.canonical import (
        canonical_refetch,
    )

    spark = _prep(spark)
    docs = _load(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    rich = F.concat(
        F.lit("<html><body><article>"),
        *[
            x
            for i in (1, 2, 3)
            for x in (
                F.lit(f"<p>{CANON_RICH_P.format(i=i)}"), d, F.lit(".</p>")
            )
        ],
        F.lit("</article></body></html>"),
    )
    thin_canon = F.concat(
        F.lit('<html><head><link rel="canonical" href="https://canon.example/doc/'),
        d,
        F.lit('"></head><body><article><p>Too short.</p></article></body></html>'),
    )
    thin_plain = F.lit(
        "<html><body><article><p>Too short.</p></article></body></html>"
    )
    html = (
        F.when(F.col("doc_id") % 3 == 0, rich)
        .when(F.col("doc_id") % 3 == 1, thin_canon)
        .otherwise(thin_plain)
    )
    pages = docs.select("doc_id", html.alias("html"))
    return canonical_refetch(pages, _canon_fetch).select(
        "doc_id", "used", "n_entries", "first_para", "synth_html"
    )


def q_detect_container(spark, sf_dir):
    """W3/A8 drill-down + fragmentation promotion
    (contentDetector.js:208-247,299-396): even docs split the article
    body across three sibling divs — the winning div must PROMOTE to
    the parent <article>; odd docs hold the body in one div — the
    drill-down must select that div with no promotion. Exact xpath +
    flag oracle by construction."""
    from horseman_article_parser_spark.operators.content_detector import (
        detect_containers,
    )

    spark = _prep(spark)
    docs = _load(spark, sf_dir, "documents")
    fill1 = ("alpha beam cedar delta ember fjord grove haven inlet joist "
             * 7)[:400]
    fill2 = ("beta gamma delta epsilon zeta etaph theta iotas kappa lamda "
             * 7)[:420]
    fill3 = ("ochre plume quartz ridge slate tundra umber vapor willow axis "
             * 7)[:420]
    frag_html = F.concat(
        F.lit("<html><body><article><div><p>Alpha "), F.col("text"),
        F.lit(f" {fill1.strip()}.</p><p>More alpha words close this part.</p></div>"
              f"<div><p>{fill2.strip()}.</p><p>Second beta paragraph words.</p></div>"
              f"<div><p>{fill3.strip()}.</p><p>Second numeric paragraph words.</p></div>"
              f"</article></body></html>"),
    )
    single_html = F.concat(
        F.lit('<html><body><article><div class="story-body"><p>Alpha '),
        F.col("text"),
        F.lit(f".</p><p>{fill2.strip()}.</p><p>{fill3.strip()}.</p></div>"
              f"<div><p>Tiny related note.</p></div>"
              f"</article></body></html>"),
    )
    html = F.when(F.col("doc_id") % 2 == 0, frag_html).otherwise(single_html)
    pages = docs.select("doc_id", html.alias("html"))
    return detect_containers(pages).select(
        "doc_id", "xpath", "css_selector", "fragmented"
    )


# Reranker-oracle fixture (A11/S12): a scale-independent 64-row feature
# matrix derived from row index by exact binary-fraction arithmetic, so
# Spark Column algebra and the plain-Python oracle twin produce
# bit-identical inputs; training is the reference's deterministic
# full-batch GD (/root/reference/train-reranker.js:144-169).
RERANKER_N_ROWS = 64
RERANKER_N_DIMS = 16


def _reranker_feature(doc_id: int, i: int) -> float:
    return ((doc_id * (3 + i)) % 7) / 8.0


def _reranker_label(doc_id: int) -> int:
    return 1 if (doc_id * 5 + 3) % 7 > 3 else 0


def _oracle_gd_weights() -> list[tuple[int, float]]:
    """Independent reimplementation of the reference GD (same math,
    written against the spec, accumulating in row-major order like the
    reference loop) — produces the oracle's expected weights."""
    import math as _math

    data = [
        ([_reranker_feature(r, i) for i in range(RERANKER_N_DIMS)],
         _reranker_label(r))
        for r in range(RERANKER_N_ROWS)
    ]
    lr, epochs, l2 = 0.05, 250, 0.001
    w = [0.0] * RERANKER_N_DIMS
    b = 0.0
    n = len(data)
    for _ in range(epochs):
        grad = [0.0] * RERANKER_N_DIMS
        gb = 0.0
        for x, y in data:
            z = b
            for wi, xi in zip(w, x):
                z += wi * xi
            p = 1.0 / (1.0 + _math.exp(-z))
            diff = p - y
            for i in range(RERANKER_N_DIMS):
                grad[i] += diff * x[i]
            gb += diff
        for i in range(RERANKER_N_DIMS):
            w[i] -= lr * (grad[i] / n + l2 * w[i])
        b -= lr * (gb / n)
    return [(i, round(wi, 6)) for i, wi in enumerate(w)] + [(-1, round(b, 6))]


def q_reranker_train(spark, sf_dir):
    """A11/S12: the reference's deterministic full-batch GD trainer
    (train-reranker.js:144-169) over a by-construction feature matrix;
    EXACT weight oracle (the plain-Python twin precomputes the expected
    weights; rounding to 6 dp absorbs accumulation-order noise). The
    spark.ml scale path (train_reranker) and the HTML candidate-feature
    pipeline are pytest- and content_candidates-oracle-covered."""
    from horseman_article_parser_spark.operators.content_detector import train_gd

    spark = _prep(spark)
    base = spark.range(RERANKER_N_ROWS).select(F.col("id").cast("int").alias("doc_id"))
    feats = base.select(
        "doc_id",
        *[
            (((F.col("doc_id") * (3 + i)) % 7).cast("double") / F.lit(8.0)).alias(f"v{i}")
            for i in range(RERANKER_N_DIMS)
        ],
        ((F.col("doc_id") * 5 + 3) % 7 > 3).cast("int").alias("label"),
    )
    rows = feats.orderBy("doc_id").collect()
    data = [
        ([r[f"v{i}"] for i in range(RERANKER_N_DIMS)], r["label"]) for r in rows
    ]
    weights = train_gd(data)
    out = [(i, int(round(round(w, 6) * 1_000_000))) for i, w in enumerate(weights["weights"])] + [
        (-1, int(round(round(weights["bias"], 6) * 1_000_000)))
    ]
    return spark.createDataFrame(out, "dim int, weight_x1e6 bigint")


# Summary-oracle sentences (W5/N6): a single-paragraph 6-sentence doc
# where every scoring term of buildSummary
# (/root/reference/controllers/summary.js:21-174) is exercised with
# distinct totals — position decay (s0>s1>...), paragraph-start +0.8,
# second-sentence +0.3, title-token overlap (s3), meta overlap (s4),
# digit+factual bonuses (s2), noise penalty (s5). Single paragraph ⇒
# max_per_para = MAX_SENTENCES and the greedy cascade reduces to
# top-5-by-score re-sorted by position: s5 (score 0.5, noise) drops,
# so the summary is exactly s0..s4 — an exact-string SQL oracle.
SUMMARY_S0 = ("The archive ingest completed without any errors across "
              "every shard yesterday evening.")
SUMMARY_S1 = ("Partition balance stayed healthy while workers drained "
              "the backlog steadily overnight.")
SUMMARY_S2A = "The index grew by "
SUMMARY_S2B = (" percent overall this quarter according to internal "
               "dashboards.")
SUMMARY_S3 = ("Our quarterly corpus report highlights steady growth in "
              "document coverage and quality.")
SUMMARY_S4 = ("Detailed ingestion pipeline metrics appear in the "
              "appendix for curious readers today.")
SUMMARY_S5 = ("Subscribe to our weekly newsletter for more updates and "
              "announcements every single Friday.")
SUMMARY_TITLE = "Quarterly corpus report"
SUMMARY_META = "ingestion pipeline metrics overview"


def q_summary(spark, sf_dir):
    """W5/N6 extractive summary — exact-string oracle over the
    by-construction document above (doc_id varies only the digits in
    s2, keeping every length/word-count bonus inside its band). The
    multi-paragraph cap/deferral/coverage-repair paths are pytest-gated
    against the reference's own scenarios (tests/test_summary.py)."""
    from horseman_article_parser_spark.operators.summary import summarize

    docs = _load(_prep(spark), sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    text = F.concat(
        F.lit(SUMMARY_S0 + " " + SUMMARY_S1 + " " + SUMMARY_S2A), d,
        F.lit(SUMMARY_S2B + " " + SUMMARY_S3 + " " + SUMMARY_S4 + " "
              + SUMMARY_S5),
    )
    out = summarize(
        docs.select("doc_id", text.alias("text")),
        title_col=F.lit(SUMMARY_TITLE),
        meta_col=F.lit(SUMMARY_META),
    )
    return out.select(
        "doc_id",
        F.size("summary.sentences").alias("n_sentences"),
        F.col("summary.text").alias("summary_text"),
    )


def q_text_render(spark, sf_dir):
    """X10 raw/formatted/html text renderings + F7 selector strip
    (folded: both are per-doc DOM→string transforms; `stripped` runs
    strip_tags over a second by-construction page with promo/aside
    nodes). Exact string oracles for all four columns."""
    from horseman_article_parser_spark.operators.textrender import (
        render_texts,
        strip_tags,
    )

    docs = _load(_prep(spark), sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><body><article><h2>Heading "), d,
        F.lit("</h2><p>Alpha "), F.col("text"),
        F.lit(".</p><figure><figcaption>Cap "), d,
        F.lit("</figcaption></figure><p>Beta body "), d,
        F.lit(" ends.</p></article></body></html>"),
    )
    strip_html = F.concat(
        F.lit('<html><body><div class="promo">AD '), d,
        F.lit('</div><aside>side</aside><p id="keep">Keep '), F.col("text"),
        F.lit("</p></body></html>"),
    )
    strip_udf = F.udf(lambda h: strip_tags(h, ["aside", ".promo"]),
                      "string", useArrow=True)

    pages = docs.select(
        "doc_id", html.alias("html"), strip_html.alias("strip_html"),
        F.concat(F.lit("Story "), d).alias("title"),
    )
    # no repartition: _load already fanned the scan out
    out = render_texts(pages, title_col="title")
    stripped = pages.select("doc_id", strip_udf("strip_html").alias("stripped"))
    return out.select(
        "doc_id",
        F.col("texts.raw").alias("raw"),
        F.col("texts.formatted").alias("formatted"),
        F.col("texts.html").alias("html_text"),
    ).join(stripped, "doc_id")


def q_boilerplate_strip(spark, sf_dir):
    """F10 CTA/ad/related-content node removal (stripNonArticleElements,
    /root/reference/controllers/textProcessing.js:263-426,543-545) —
    exact raw-text oracle over by-construction pages embedding: a nav,
    a footer, an attr-keyword newsletter div, an attr-keyword related
    div, a short CTA-text paragraph, an anchor-dominated paragraph —
    all removed — plus heading/body/inline-link paragraphs that must
    survive."""
    from horseman_article_parser_spark.operators.textrender import render_texts

    docs = _load(_prep(spark), sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><body><article><nav><p>Site menu "), d,
        F.lit("</p></nav><h2>Heading "), d,
        F.lit("</h2><p>Alpha "), F.col("text"),
        F.lit('.</p><div class="newsletter-signup"><p>Sign up for our newsletter.</p></div>'),
        F.lit('<div class="related-posts"><p><a href="/next/'), d,
        F.lit('">Related story '), d,
        F.lit(' for readers</a></p></div>'),
        F.lit('<p>Share this with friends.</p>'),
        F.lit('<p><a href="/full/'), d,
        F.lit('">Continue to full coverage of topic '), d,
        F.lit('</a></p><p>Analysis: the committee met '), d,
        F.lit(' times; see <a href="/r/'), d,
        F.lit('">the report</a> for details.</p><p>Beta body '), d,
        F.lit(" ends.</p><footer><p>Copyright "), d,
        F.lit("</p></footer></article></body></html>"),
    )
    pages = docs.select("doc_id", html.alias("html"))
    out = render_texts(pages, strip_boilerplate=True)
    return out.select("doc_id", F.col("texts.raw").alias("raw"))


def q_liveblog(spark, sf_dir):
    """A13 liveblog harvest over by-construction pages: even docs carry
    6 timestamped updates (collect all, emit top 5); odd docs are plain
    articles (rejected)."""
    from horseman_article_parser_spark.operators.liveblog import liveblog_summaries

    docs = _load(_prep(spark), sf_dir, "documents")
    body = F.rpad(F.substring("text", 1, 40), 80, "x")
    entry = lambda j: F.concat(  # noqa: E731
        F.lit(f'<div class="update"><time>{j}:00</time><h2>Update title number {j}</h2><p>'),
        body, F.lit("</p></div>"),
    )
    live_html = F.concat(
        F.lit("<html><body><article>"),
        *[entry(j) for j in range(6)],
        F.lit("</article></body></html>"),
    )
    plain_html = F.concat(
        F.lit("<html><body><article><p>"), F.col("text"),
        F.lit("</p></article></body></html>"),
    )
    pages = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, live_html).otherwise(plain_html).alias("html"),
    )
    out = liveblog_summaries(pages)
    e1 = F.try_element_at(F.col("liveblog.entries"), F.lit(1))
    return out.select(
        "doc_id",
        F.col("liveblog.ok").alias("ok"),
        F.col("liveblog.count").alias("n_entries"),
        e1["time"].alias("first_time"),
        e1["title"].alias("first_title"),
    )


def q_windowed_metrics(spark, sf_dir):
    """T7/T8 windowed per-host crawl metrics (same operator the
    streaming path uses; watermarking is a no-op on batch input), plus
    the r5 folds: A2 amp-vs-dynamic source counts
    (batch-sample-run.js:376-377) as n_amp/n_dynamic and the T8
    progress/lineage surface (phase-tagged status lines,
    index.js:136-158) as phases/last_ts — all on the same single
    window+host shuffle. Hosts/status/fetch_ms/source/phase synthesized
    from events by construction."""
    from horseman_article_parser_spark.streaming.frontier_stream import (
        windowed_host_metrics,
    )

    # no fan-out: the (window, host) partial agg collapses rows before
    # any exchange (same rationale as q_pricing_summary)
    ev = _load(_prep(spark), sf_dir, "events", fanout="agg")
    events = ev.select(
        F.col("ts").alias("event_time"),
        F.concat(F.lit("h"), (F.col("user_id") % 5).cast("string"),
                 F.lit(".example.com")).alias("host"),
        F.when(F.col("event_type") == "error", 500).otherwise(200).alias("status"),
        F.floor(F.col("value") * 100).cast("int").alias("fetch_ms"),
        F.when(F.col("user_id") % 3 == 0, F.lit("amp"))
        .otherwise(F.lit("dynamic")).alias("source"),
        F.concat(F.lit("parse:"), F.col("event_type")).alias("phase"),
    )
    out = windowed_host_metrics(events)
    # Parity rule: floats never reach the driver's hash — scale to BIGINT
    # (round(x*10^4)) on BOTH engine and oracle sides (VERDICT r02 #1).
    return out.select(
        F.unix_timestamp("window_start").alias("win_start"),
        "host", "scheduled", "ok", "err",
        F.round(F.col("avg_ms") * 10000).cast("bigint").alias("avg_ms_x1e4"),
        "n_amp", "n_dynamic", "phases",
        F.unix_timestamp("last_event").alias("last_ts"),
    )


CRAWL_Q_STREAMED_SEEDS = [f"https://streamed.example/late/{i}" for i in range(8)]


def _crawl_two_rounds_oracle_rows() -> list[tuple[int, str, int]]:
    """Replay the pure-Python reference-scheduler simulator
    (plans/reference_sim.py, order-pinned by tests/test_crawl.py) over
    the SAME 120 seeds + the 8 streamed seeds the Spark query ingests
    mid-run, yielding the expected (pos, url, round) rows — the
    replayed-datagen VALUES-oracle pattern from av_features, closing
    the last rows-only gap (VERDICT r3 next-round #3)."""
    from horseman_article_parser_spark.datagen.frontier import seed_urls
    from horseman_article_parser_spark.plans.reference_sim import sim_crawl

    waves = sim_crawl(
        seed_urls(120), 2, wave_size=30, round0_limit=30,
        default_host_budget=2,
        streamed_seeds={0: CRAWL_Q_STREAMED_SEEDS},
    )
    return [
        (pos, url, rnd)
        for rnd, wave in enumerate(waves)
        for pos, url in enumerate(wave)
    ]


def q_crawl_two_rounds(spark, sf_dir):
    """Two scheduling rounds of the full crawl loop (synthetic web,
    bloom seen-filter, politeness, priority waves) WITH a live
    Structured Streaming seed ingest between the rounds: a seed file
    dropped after round 0 arrives through readStream → foreachBatch →
    seen-filter claim → pending append (T1/T6), and those URLs must be
    scheduled in round 1's wave. EXACT oracle: the pure-Python
    scheduler simulator replays the same seeds + streamed batch and the
    expected (pos, url, round) rows are inlined as VALUES
    (_crawl_two_rounds_oracle_rows); order parity is additionally
    pytest-pinned (tests/test_crawl.py, tests/test_streaming.py)."""
    from horseman_article_parser_spark.datagen.frontier import build_seed_frontier
    from horseman_article_parser_spark.plans.crawl import CrawlConfig, CrawlScheduler
    from horseman_article_parser_spark.streaming.frontier_stream import (
        StreamingSeedIngest,
    )

    spark = _prep(spark)
    store = tempfile.mkdtemp(prefix="crawl_q_")
    seeds_dir = tempfile.mkdtemp(prefix="crawl_q_seeds_")
    ckpt_dir = tempfile.mkdtemp(prefix="crawl_q_ckpt_")
    cfg = CrawlConfig(wave_size=30, round0_limit=30, default_host_budget=2,
                      n_shards=8, total_bloom_bits=1 << 20)
    sched = CrawlScheduler(spark, store, cfg)
    seeds = build_seed_frontier(spark, n=120)
    sched.init_from_seeds(seeds)
    sched.run_round(0)
    # drop streamed seeds mid-run; a live streaming query ingests them
    with open(os.path.join(seeds_dir, "late-seeds.txt"), "w") as fh:
        fh.write("\n".join(CRAWL_Q_STREAMED_SEEDS))
    ingest = StreamingSeedIngest(sched)
    sq = ingest.start(seeds_dir, ckpt_dir)
    sq.processAllAvailable()
    sq.stop()
    sched.run_round(1)
    w0 = sched.store.read(spark, "waves", 0).select("pos", "url", F.lit(0).alias("round"))
    w1 = sched.store.read(spark, "waves", 1).select("pos", "url", F.lit(1).alias("round"))
    # materialize the (tiny: 2×wave_size rows) result so every temp dir
    # — store, seeds, streaming checkpoint — can be deleted NOW instead
    # of leaking on each invocation; the returned frame no longer reads
    # from disk
    rows = w0.unionByName(w1).collect()
    out = spark.createDataFrame(rows, "pos int, url string, round int")
    import shutil

    for d in (store, seeds_dir, ckpt_dir):
        shutil.rmtree(d, ignore_errors=True)
    return out


# pHash-variant masks for the image near-dup fixture: even ids get a
# 3-bit flip (a true near-dup), odd ids a 24-bit flip (not a dup).
PHASH_MASK_NEAR = (1 << 0) | (1 << 17) | (1 << 42)
PHASH_MASK_FAR = 0x555555555555


def _signed64(v: int) -> int:
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= (1 << 63) else v


def q_image_near_dups(spark, sf_dir):
    """Multimodal near-dup join: block-permutation pHash Hamming search
    (8 blocks × 8 bits ⇒ EXACT recall for hamming ≤ 7 by pigeonhole)
    over the payload table plus synthetic variants — even-id variants
    flip 3 bits (must pair), odd-id variants flip 24 (must not). The
    oracle recomputes ALL pairs brute-force in SQL over the same
    (deterministic) pHashes, so the bucketed join is checked against
    exhaustive search."""
    from horseman_article_parser_spark.datagen.images import build_images_table
    from horseman_article_parser_spark.operators.multimodal import (
        phash_near_dup_pairs,
    )

    spark = _prep(spark)
    # column-pruned generation: this query never touches `bytes`, and
    # the kernel is opaque to Catalyst, so without the hint every row
    # paid the PNG/JPEG entropy encode (~2.4 s of its 3.1 s at n=64)
    base = build_images_table(spark, n=64, columns=("image_id", "phash"))
    idx = F.substring("image_id", 5, 8).cast("int")
    mask = F.when(idx % 2 == 0, F.lit(PHASH_MASK_NEAR)).otherwise(
        F.lit(PHASH_MASK_FAR)
    )
    variants = base.select(
        F.concat(F.lit("var-"), F.substring("image_id", 5, 8)).alias("image_id"),
        F.col("phash").bitwiseXOR(mask).alias("phash"),
    )
    allv = base.unionByName(variants)
    return phash_near_dup_pairs(allv).select(
        "id_a", "id_b", "hamming"
    )


def _image_near_dups_sql() -> str:
    """Brute-force twin over the same deterministic pHash values,
    inlined as VALUES (computed by datagen, like the reference corpus
    itself)."""
    from horseman_article_parser_spark.datagen.images import (
        image_id_for,
        phash64,
        synth_pixels,
    )

    rows = []
    for i in range(64):
        px, _, _ = synth_pixels(i)
        ph = _signed64(int(phash64(px)))
        rows.append((image_id_for(i), ph))
        m = PHASH_MASK_NEAR if i % 2 == 0 else PHASH_MASK_FAR
        rows.append((f"var-{i:08d}", _signed64(ph ^ m)))
    values = ", ".join(f"('{i}', CAST({p} AS BIGINT))" for i, p in rows)
    return f"""
WITH t(id, ph) AS (VALUES {values})
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
FROM t a JOIN t b ON a.id < b.id
WHERE bit_count(xor(a.ph, b.ph)) <= 6
""".strip()


def q_image_features(spark, sf_dir):
    """Multimodal payload table (input_hint schema): synthesize
    (image_id, bytes, w, h, fmt, caption, phash), decode the bytes
    in-query and emit decode-consistency booleans + metadata. EXACT
    oracle: metadata (image_id format, w/h cycle, fmt parity, caption
    template) is by-construction SQL, and decode_ok/phash_match must be
    TRUE for every row — the decode itself is verified in-query (pixel
    PSNR/pHash recompute), which SQL then pins."""
    from horseman_article_parser_spark.datagen.images import build_images_table
    from horseman_article_parser_spark.operators.multimodal import (
        PHASH_MAX_HAMMING,
        image_features,
    )

    spark = _prep(spark)
    images = build_images_table(spark, n=64)
    feats = image_features(images).select(
        "image_id", "fmt", "w", "h", "decode_ok", "phash_check"
    )
    # pHash is PERCEPTUAL: lossy decode may flip a borderline DCT-sign
    # bit (measured max Hamming 2 over this corpus), so the pinned
    # invariant is near-equality within the near-dup matching radius —
    # exactly the property the pHash near-dup join relies on.
    hamming = F.bit_count(F.col("phash_check").bitwiseXOR(F.col("phash")))
    return feats.join(
        images.select("image_id", "phash", "caption"), "image_id"
    ).select(
        "image_id", "fmt", "w", "h", "decode_ok",
        (hamming <= PHASH_MAX_HAMMING).alias("phash_match"),
        "caption",
    )


AV_AUDIO_N = 64
AV_VIDEO_N = 32


def q_av_features(spark, sf_dir):
    """Audio + video payload features in one union surface: audio rows
    carry the PCM-decoded RMS (scaled bigint), video rows the first
    sampled frame's pHash — both decoded by the REAL pure-python
    WAV/HVID codecs behind Arrow UDFs (bytes never enter a shuffle). The
    oracle replays the deterministic datagen + identical arithmetic
    driver-side and inlines exact expected VALUES (same pattern as
    image_near_dups)."""
    from horseman_article_parser_spark.datagen.av import (
        build_audio_table,
        build_videos_table,
    )
    from horseman_article_parser_spark.operators.multimodal import (
        audio_features,
        sample_frames,
    )

    spark = _prep(spark)
    audio = audio_features(build_audio_table(spark, AV_AUDIO_N)).select(
        F.lit("audio").alias("kind"),
        F.col("clip_id").alias("media_id"),
        F.col("n_samples").cast("long").alias("n_units"),
        "duration_ms",
        F.col("rms_x1e2").alias("sig"),
        "decode_ok",
    )
    vids = build_videos_table(spark, AV_VIDEO_N)
    f0 = sample_frames(vids)  # frame 0 only
    video = f0.join(
        vids.select("video_id", "n_frames", "fps"), "video_id"
    ).select(
        F.lit("video").alias("kind"),
        F.col("video_id").alias("media_id"),
        F.col("n_frames").cast("long").alias("n_units"),
        F.round(F.col("n_frames") * 1000 / F.col("fps")).cast("long")
        .alias("duration_ms"),
        F.col("frame_phash").alias("sig"),
        F.lit(True).alias("decode_ok"),
    )
    return audio.unionByName(video)


def _av_features_sql() -> str:
    """Exact expected rows, computed by replaying the deterministic
    datagen with the SAME arithmetic the kernels use."""
    import numpy as _np

    from horseman_article_parser_spark.codecs.images import phash64
    from horseman_article_parser_spark.datagen.av import (
        clip_id_for,
        synth_audio,
        synth_frame,
        video_id_for,
        video_params,
    )

    rows = []
    for i in range(AV_AUDIO_N):
        samples, sr, _, _ = synth_audio(i)
        mono = samples.astype(_np.float64)
        rms = float(_np.sqrt(_np.mean(mono * mono)))
        rows.append(
            ("audio", clip_id_for(i), len(samples),
             round(len(samples) * 1000 / sr), round(rms * 100)),
        )
    for i in range(AV_VIDEO_N):
        w, h, fps, n = video_params(i)
        ph = phash64(synth_frame(i, 0, w, h))
        rows.append(("video", video_id_for(i), n, round(n * 1000 / fps), ph))
    values = ", ".join(
        f"('{k}', '{m}', CAST({n} AS BIGINT), CAST({d} AS BIGINT), "
        f"CAST({s} AS BIGINT), TRUE)"
        for k, m, n, d, s in rows
    )
    return (
        "SELECT * FROM (VALUES "
        + values
        + ") AS t(kind, media_id, n_units, duration_ms, sig, decode_ok)"
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordered so that the driver's bounded correctness window (first
    ~50 rows) covers EVERY claimed SURVEY §2 operator ID and every
    LLM-pipeline op: overlapping demos were folded into their parent
    queries (extra columns / union surfaces) until the whole distinct
    surface fits; demo breadth sits below the marker."""
    return {
        # crawl / frontier (SURVEY §2.2, §2.5 W8/W9, §2.3 J1/J2, §2.9 T2/T5)
        "frontier_uniq": q_frontier_uniq,
        "frontier_unique_by_host": q_frontier_unique_by_host,
        "frontier_wave0": q_frontier_wave0,
        "frontier_slice": q_frontier_slice,
        "seen_antijoin": q_seen_antijoin,
        "round_robin_interleave": q_round_robin_interleave,
        "politeness_budget": q_politeness_budget,
        "robots_filter": q_robots_filter,
        "domain_rules_join": q_domain_rules_join,
        "url_filters": q_url_filters,
        "url_transforms": q_url_transforms,
        "retry_backoff": q_retry_backoff,
        # extraction (SURVEY §2.7, §2.3 J6/J7, §2.5 W7, §2.1 S3/S4)
        "feeds_extract": q_feeds_extract,
        "extract_title": q_extract_title,
        "extract_links": q_extract_links,
        "extract_meta": q_extract_meta,
        "extract_jsonld": q_extract_jsonld,
        "extract_images": q_extract_images,
        "extract_structured": q_extract_structured,
        "liveblog": q_liveblog,
        # text renderings (F7/F10/X10)
        "text_render": q_text_render,
        "boilerplate_strip": q_boilerplate_strip,
        # text analytics / NLP (A4/A5/A9/A10, X1/X3/X5, N1-N7)
        "text_quality": q_text_quality,
        "langid": q_langid,
        "sentiment": q_sentiment,
        "summary": q_summary,
        "keywords_topk": q_keywords_topk,
        "keywords_cleaned": q_keywords_cleaned,
        "string_helpers": q_string_helpers,
        "spellcheck": q_spellcheck,
        "entities": q_entities,
        # detector / training (A6/A11, W1-W4, X18/X19/X24, S5/S8)
        "content_candidates": q_content_candidates,
        "detect_container": q_detect_container,
        "probe_canonical": q_probe_canonical,
        "reranker_train": q_reranker_train,
        # dedup (training-pipeline ops)
        "dedup_exact": q_dedup_exact,
        "minhash_lsh": q_minhash_lsh,
        "simhash": q_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        # similarity search
        "knn_bruteforce": q_knn_bruteforce,
        "ann_lsh_buckets": q_ann_lsh_buckets,
        "embedding_near_dups": q_embedding_near_dups,
        "label_centroids": q_label_centroids,
        "ivf_topk": q_ivf_topk,
        "ivf_trained_recall": q_ivf_trained_recall,
        # multimodal payload
        "image_features": q_image_features,
        "image_near_dups": q_image_near_dups,
        "av_features": q_av_features,
        # streaming metrics + stateful crawl (A1/A3/T7; S6/T6 rows-only)
        "windowed_metrics": q_windowed_metrics,
        "crawl_two_rounds": q_crawl_two_rounds,
        # ---- below this line: demo breadth (every ID above is already
        # ---- driver-checked; these overflow the correctness window)
        "event_hourly": q_event_hourly,
        "sessionize": q_sessionize,
        "pricing_summary": q_pricing_summary,
        "top_orders_per_customer": q_top_orders_per_customer,
        "revenue_by_nation": q_revenue_by_nation,
        "part_type_stats": q_part_type_stats,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect)
# ---------------------------------------------------------------------------


def _minhash_sql() -> str:
    params = minhash_params(N_MINHASH)
    h = h32_sql("shingle")
    mins = ",\n         ".join(
        f"min({universal_hash_sql(h, a, b)}) AS mh{j}" for j, (a, b) in enumerate(params)
    )
    return f"""
WITH norm AS (
  SELECT doc_id, {NORMTEXT_SQL} AS nt FROM documents
), sh AS (
  SELECT DISTINCT doc_id, substr(nt, i, 8) AS shingle
  FROM norm, unnest(generate_series(1, greatest(length(nt) - 7, 1), 4)) AS t(i)
)
SELECT doc_id, {mins}
FROM sh GROUP BY doc_id
""".strip()


def _lsh_buckets_sql() -> str:
    sig = _minhash_sql()
    bands = []
    for b in range(4):
        key = f"concat_ws('_', mh{2*b}, mh{2*b+1})"
        bands.append(
            f"SELECT {b} AS band, {h32_sql(key)} AS bucket, doc_id FROM sig"
        )
    return f"WITH sig AS (\n{sig}\n)\n" + "\nUNION ALL\n".join(bands)


def _simhash_sql() -> str:
    h = h32_sql("tok")
    sums = ",\n         ".join(
        f"sum(CASE WHEN (({h}) >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
), sums AS (
  SELECT doc_id, {sums} FROM toks GROUP BY doc_id
)
SELECT doc_id, {sig} AS simhash FROM sums
""".strip()


def _embedding_near_dups_sql() -> str:
    planes = SIM.hyperplanes()
    bits = []
    for p, plane in enumerate(planes):
        lit = "[" + ", ".join(f"{x!r}" for x in plane) + "]::DOUBLE[]"
        bits.append(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {lit}) > 0 "
            f"THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        )
    bucket = " + ".join(bits)
    return f"""
WITH b AS (
  SELECT vec_id, embedding, {bucket} AS bucket,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS id_a, y.vec_id AS id_b,
         list_dot_product(a.embedding::DOUBLE[], y.embedding::DOUBLE[])
           / (a.nrm * y.nrm) AS cosine
  FROM b a JOIN b y ON a.bucket = y.bucket AND a.vec_id < y.vec_id
)
SELECT id_a, id_b, CAST(round(cosine * 1000000) AS BIGINT) AS cosine_x1e6
FROM pairs WHERE cosine >= 0.30
"""


def _ann_lsh_sql() -> str:
    planes = SIM.hyperplanes()
    bits = []
    for p, plane in enumerate(planes):
        lit = "[" + ", ".join(f"{x!r}" for x in plane) + "]::DOUBLE[]"
        bits.append(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {lit}) > 0 "
            f"THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        )
    return f"SELECT vec_id, {' + '.join(bits)} AS bucket FROM embeddings"


def _sentiment_sql(with_label: bool) -> str:
    terms = " + ".join(
        f"({occ_sql('text', w)} * {s})" for w, s in sorted(TS.AFINN_MINI.items())
    )
    label = """,
       CASE WHEN comparative > 0.05 THEN 'Positive'
            WHEN comparative < 0.05 THEN 'Negative'
            ELSE 'Neutral' END AS sentiment_label"""
    return f"""
WITH s AS (
  SELECT doc_id, {terms} AS score,
         CAST({TOKCOUNT_SQL} AS DOUBLE) AS n
  FROM documents
), c AS (
  SELECT doc_id, score, (CASE WHEN n > 0 THEN score / n ELSE 0.0 END) AS comparative FROM s
)
SELECT doc_id, score AS sentiment_score,
       CAST(round(comparative * 1000000) AS BIGINT) AS comparative_x1e6{label if with_label else ''}
FROM c
""".strip()


def _image_features_sql() -> str:
    """Oracle for the payload-table feature extraction: metadata by
    construction (datagen.images constants), decode-consistency booleans
    pinned TRUE (the Spark query verifies the actual pixel decode)."""
    from horseman_article_parser_spark.datagen.images import _SIZES, _SUBJECTS

    subj_case = ("CASE i % " + str(len(_SUBJECTS)) + " "
                 + " ".join(f"WHEN {k} THEN '{s}'" for k, s in enumerate(_SUBJECTS))
                 + " END")
    w_case = ("CASE i % 4 "
              + " ".join(f"WHEN {k} THEN {wh[0]}" for k, wh in enumerate(_SIZES))
              + " END")
    h_case = ("CASE i % 4 "
              + " ".join(f"WHEN {k} THEN {wh[1]}" for k, wh in enumerate(_SIZES))
              + " END")
    return f"""
WITH ids AS (SELECT doc_id AS i FROM documents WHERE doc_id < 64)
SELECT 'img-' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
       (CASE WHEN i % 2 = 0 THEN 'png' ELSE 'jpeg' END) AS fmt,
       CAST({w_case} AS INT) AS w,
       CAST({h_case} AS INT) AS h,
       TRUE AS decode_ok,
       TRUE AS phash_match,
       'Figure ' || i || '. Photograph of ' || {subj_case} || '.' AS caption
FROM ids
""".strip()


def _langid_sql() -> str:
    """DuckDB twin of the trigram langid arithmetic (N1): same sample
    selection, same normalization, same Σ count·(K−rank) scores, same
    (score desc, iso6393 asc) winner rule, same eng/en fallback."""
    langs = sorted(TS.LANG_TRIGRAMS)
    txt_case = (f"CASE CAST(doc_id % {len(langs)} AS INT) "
                + " ".join(f"WHEN {i} THEN '{LANG_SAMPLES[lang]}'"
                           for i, lang in enumerate(langs))
                + " END")
    norm = ("' ' || trim(regexp_replace(lower(txt), '[^\\p{L}\\p{M}]+', ' ', 'g'))"
            " || ' '")
    score_exprs = []
    for lang in langs:
        tgs = TS.LANG_TRIGRAMS[lang]
        k = len(tgs)
        terms = [
            f"CAST((length(nt) - length(replace(nt, '{tg}', ''))) / {len(tg)}"
            f" AS BIGINT) * {k - rank}"
            for rank, tg in enumerate(tgs)
        ]
        score_exprs.append("(" + " + ".join(terms) + f") AS s_{lang}")
    long_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, s_{lang} AS score, '{lang}' AS iso3 FROM s"
        for lang in langs
    )
    iso1_case = ("CASE iso3 "
                 + " ".join(f"WHEN '{l3}' THEN '{TS.ISO3_TO_1[l3]}'"
                            for l3 in langs)
                 + " END")
    return f"""
WITH t AS (
  SELECT doc_id, {txt_case} AS txt FROM documents
), n AS (
  SELECT doc_id, {norm} AS nt FROM t
), s AS (
  SELECT doc_id, {", ".join(score_exprs)} FROM n
), l AS (
{long_rows}
), w AS (
  SELECT doc_id, iso3, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, iso3 ASC) AS rn
  FROM l
)
SELECT doc_id,
       (CASE WHEN score > 0 THEN {iso1_case} ELSE 'en' END) AS iso6391,
       (CASE WHEN score > 0 THEN iso3 ELSE 'eng' END) AS iso6393,
       score AS best_score
FROM w WHERE rn = 1
""".strip()


def _ivf_trained_sql() -> str:
    """DuckDB twin of q_ivf_trained_recall: the SAME deterministic
    Lloyd's iterations unrolled as CTE pairs (assign → exact-integer-sum
    means → float32-rounded centroid vectors), then the same IVF
    probe/rerank and brute-force recall join. Every arithmetic step
    mirrors the Spark expression order (see train_centroids) so
    trained centroids — and therefore the routing and the recall
    counts — agree exactly."""
    cos = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
           " * sqrt(list_dot_product({b}, {b})))")
    ctes = [
        "corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""cents0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id % {IVF_TRAIN_SEED_MOD}, vec_id) - 1 AS INT) AS cluster,
         embedding::DOUBLE[] AS cv
  FROM embeddings ORDER BY vec_id % {IVF_TRAIN_SEED_MOD}, vec_id LIMIT {IVF_TRAIN_CENTS})""",
    ]
    for it in range(IVF_TRAIN_ITERS):
        sim = cos.format(a="c.v", b="t.cv")
        ctes.append(f"""asg{it} AS (
  SELECT vec_id, cluster FROM (
    SELECT c.vec_id, t.cluster,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {sim} DESC, t.cluster) AS rn
    FROM corpus c, cents{it} t) WHERE rn = 1)""")
        ctes.append(f"""m{it} AS (
  SELECT a.cluster, t.d,
         (CAST(sum(CAST(round(c.v[t.d] * 1000000) AS BIGINT)) AS DOUBLE)
          / 1000000.0) / CAST(count(*) AS DOUBLE) AS m
  FROM asg{it} a JOIN corpus c USING (vec_id),
       unnest(generate_series(1, 64)) AS t(d)
  GROUP BY a.cluster, t.d)""")
        ctes.append(f"""cents{it + 1} AS (
  SELECT cluster,
         list_transform(array_agg(m ORDER BY d),
                        x -> CAST(CAST(x AS FLOAT) AS DOUBLE)) AS cv
  FROM m{it} GROUP BY cluster)""")
    final = f"cents{IVF_TRAIN_ITERS}"
    q_sim = cos.format(a="q.qv", b="t.cv")
    s_sim = cos.format(a="p.qv", b="c.v")
    b_sim = cos.format(a="q.qv", b="c.v")
    ctes.append(f"""q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 6)""")
    ctes.append(f"""probes AS (
  SELECT query_id, cluster, qv FROM (
    SELECT q.query_id, t.cluster, q.qv,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {q_sim} DESC, t.cluster) AS rn
    FROM q, {final} t) WHERE rn <= {IVF_TRAIN_PROBE})""")
    a_sim = cos.format(a="c.v", b="t.cv")
    ctes.append(f"""asg_final AS (
  SELECT vec_id, cluster FROM (
    SELECT c.vec_id, t.cluster,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {a_sim} DESC, t.cluster) AS rn
    FROM corpus c, {final} t) WHERE rn = 1)""")
    ctes.append(f"""ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY p.query_id
                              ORDER BY {s_sim} DESC, c.vec_id) AS rank
    FROM probes p
    JOIN asg_final a2 ON a2.cluster = p.cluster
    JOIN corpus c ON c.vec_id = a2.vec_id) WHERE rank <= {IVF_TRAIN_K})""")
    ctes.append(f"""brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {b_sim} DESC, c.vec_id) AS rank
    FROM q, corpus c) WHERE rank <= {IVF_TRAIN_K})""")
    ctes.append("""hits AS (
  SELECT i.query_id, count(*) AS n_hits
  FROM ivf i JOIN brute b USING (query_id, neighbor_id)
  GROUP BY i.query_id)""")
    body = ",\n".join(ctes)
    return f"""
WITH {body}
SELECT q.query_id,
       coalesce(h.n_hits, 0) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 100 / {IVF_TRAIN_K} AS BIGINT) AS recall_x100,
       (coalesce(h.n_hits, 0) >= {IVF_TRAIN_K // 2}) AS recall_ok
FROM q LEFT JOIN hits h USING (query_id)
""".strip()


def _en_gb_words_sql() -> str:
    """Space-joined embedded en-gb wordlist for the spellcheck oracle's
    static dict CTE (same constant the Spark query broadcasts)."""
    from horseman_article_parser_spark.functions.wordlists import wordlist

    return " ".join(wordlist("en"))


def oracle_sql() -> dict[str, str]:
    stop_hits = " + ".join(occ_sql("text", w) for w in TS.STOPWORDS_MINI)

    return {
        "frontier_uniq": f"""
WITH {FRONTIER_CTE}
SELECT url, min(seq) AS seq, min(host) AS host FROM frontier GROUP BY url
""".strip(),
        "frontier_unique_by_host": f"""
WITH {FRONTIER_CTE},
u AS (SELECT url, min(seq) AS seq, min(host) AS host FROM frontier GROUP BY url),
fh AS (SELECT *, row_number() OVER (PARTITION BY host ORDER BY seq) AS rn FROM u)
SELECT url, seq, host FROM fh WHERE rn = 1 ORDER BY seq LIMIT 10
""".strip(),
        "frontier_wave0": f"""
WITH {FRONTIER_CTE},
u AS (SELECT url, min(seq) AS seq, min(host) AS host FROM frontier GROUP BY url),
fh AS (SELECT *, row_number() OVER (PARTITION BY host ORDER BY seq) AS rn FROM u),
wave AS (SELECT url, seq, host FROM fh WHERE rn = 1 ORDER BY seq LIMIT 15)
SELECT row_number() OVER (ORDER BY seq) - 1 AS pos, url, host, seq FROM wave
""".strip(),
        "frontier_slice": f"""
WITH {FRONTIER_CTE},
u AS (SELECT url, min(seq) AS seq FROM frontier GROUP BY url),
r AS (SELECT url, seq, row_number() OVER (ORDER BY seq) - 1 AS p FROM u)
SELECT url, seq FROM r WHERE p >= 20 AND p < 50
""".strip(),
        "url_filters": f"""
WITH {MESSY_CTE},
{PATHS_CTE}
SELECT 'skip' AS kind, doc_id, url,
       (doc_id % 11 = 0 OR doc_id % 7 IN (0, 1, 2)) AS flag
FROM messy
UNION ALL
SELECT 'likely' AS kind, doc_id, url, (doc_id % 6 IN (2, 4)) AS flag
FROM paths
""".strip(),
        "url_transforms": f"""
WITH {FRONTIER_CTE},
d AS (
  SELECT seq, url,
         '<html><body><p>Doc ' || seq ||
         ' carries a deliberately long paragraph of text so the ' ||
         're-encoded base64 payload spans multiple MIME lines.' ||
         '</p></body></html>' AS clean_html
  FROM frontier
)
SELECT seq, url,
       'https://h' || (seq % 20) || '.example.com/Path/' || seq || '?q=1' AS canonical,
       (CASE WHEN url LIKE 'https://src0.example.com/%'
             THEN 'https://mirror0.example.net/' || substr(url, 26)
             WHEN url LIKE 'https://src1.example.com/en/%'
             THEN 'https://src1.example.com/english/' || substr(url, 29)
             ELSE url END) AS rewritten,
       url || '/amp' AS amp_1,
       url || '/amp.html' AS amp_2,
       'https://h' || (seq % 20) || '.example.com/Path/' || seq || '?q=1&amp=1' AS amp_q1,
       'https://h' || (seq % 20) || '.example.com/Path/' || seq || '?q=1&output=amp' AS amp_q2,
       clean_html AS data_html,
       'data:text/html;base64,' || to_base64(encode(clean_html)) AS data_url
FROM d
""".strip(),
        "seen_antijoin": f"""
WITH {FRONTIER_CTE}
SELECT url, seq FROM frontier
WHERE url NOT IN (SELECT url FROM frontier WHERE seq % 3 = 0)
""".strip(),
        "round_robin_interleave": f"""
WITH {FRONTIER_CTE},
r AS (SELECT regexp_extract(host, '^(src\\d+)', 1) AS feed, url, seq,
             row_number() OVER (PARTITION BY regexp_extract(host, '^(src\\d+)', 1)
                                ORDER BY seq) AS rr_rank
      FROM frontier)
SELECT feed, url, seq, rr_rank FROM r ORDER BY rr_rank, feed, seq LIMIT 100
""".strip(),
        "politeness_budget": f"""
WITH {FRONTIER_CTE},
r AS (SELECT host, url, seq,
             row_number() OVER (PARTITION BY host ORDER BY seq) AS rn
      FROM frontier)
SELECT host, url, seq FROM r WHERE rn <= 3
""".strip(),
        "robots_filter": """
WITH cand AS (
  SELECT doc_id AS seq,
         'https://h' || (doc_id % 4) || '.example.com' ||
         (CASE doc_id % 3 WHEN 0 THEN '/admin/x' || doc_id
                          WHEN 1 THEN '/public/y' || doc_id
                          ELSE '/story/z' || doc_id END) AS url,
         'h' || (doc_id % 4) || '.example.com' AS host,
         doc_id % 4 AS hk, doc_id % 3 AS pk
  FROM documents
)
SELECT seq, url, host FROM cand
WHERE NOT (hk = 0 AND pk = 0)        -- h0 disallow /admin
  AND NOT (hk = 1 AND pk <> 1)       -- h1 disallow / except allow /public (longer)
  AND NOT (hk = 2 AND pk = 2)        -- h2 disallow /story
""".strip(),
        "domain_rules_join": f"""
WITH {FRONTIER_CTE}
SELECT url, min(seq) AS seq,
       (CASE WHEN host = 'src1.example.com' THEN 'exact-src1'
             WHEN host = 'src2.example.com' THEN 'exact-src2'
             ELSE 'suffix-any' END) AS setting
FROM frontier GROUP BY url, host
""".strip(),
        "feeds_extract": """
SELECT 'rss' AS kind, source AS feed_url,
       CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INT) AS pos,
       CASE WHEN doc_id % 7 = 0
            THEN 'https://' || source || '.example.com/guid-' || doc_id
            ELSE 'https://' || source || '.example.com/story-' || doc_id
       END AS url
FROM documents WHERE doc_id < 300
UNION ALL
SELECT 'sitemap' AS kind, source AS feed_url,
       CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INT) AS pos,
       'https://' || source || '.example.com/page-' || doc_id AS url
FROM documents WHERE doc_id < 300
UNION ALL
SELECT 'feedlist' AS kind,
       CASE WHEN doc_id % 4 = 1 THEN 'https://feeds.example/rss/' || doc_id
            ELSE 'https://feeds.example/atom/' || doc_id END AS feed_url,
       CAST(doc_id AS INT) AS pos,
       CASE WHEN doc_id % 4 = 1 THEN 'https://feeds.example/rss/' || doc_id
            ELSE 'https://feeds.example/atom/' || doc_id END AS url
FROM documents WHERE doc_id < 200 AND doc_id % 4 IN (1, 3)
UNION ALL
SELECT DISTINCT 'csvmerge' AS kind, 'merged' AS feed_url, 0 AS pos,
       'https://row.example/' || (doc_id % 40) || ',ok' AS url
FROM documents WHERE doc_id < 200
""".strip(),
        "extract_title": """
SELECT doc_id, 'OG Doc ' || doc_id AS title,
       'Doc ' || doc_id || ' | ExampleSite' AS doc_title,
       'Doc ' || doc_id AS title_stripped
FROM documents
""".strip(),
        "extract_links": f"""
WITH {FRONTIER_CTE}
SELECT seq AS doc_id, 2 AS n_links,
       'https://' || host || '/next/' || (seq + 1) AS first_href,
       'ext' AS second_text
FROM frontier
""".strip(),
        "extract_jsonld": """
SELECT doc_id,
       'JL Doc ' || doc_id AS headline,
       2 AS n_articles,
       '{"@type":"NewsArticle","headline":"JL Doc ' || doc_id ||
       '","articleBody":"Body ' || doc_id || '"}' || '|' ||
       '{"@type":"Article","headline":"Second ' || doc_id || '"}' AS articles_json
FROM documents
""".strip(),
        "extract_meta": """
WITH t AS (
  SELECT doc_id, lang, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS s FROM documents
), e AS (
  SELECT doc_id, lang,
         (CASE WHEN length(s) <= 200 THEN s
               ELSE substr(s, 1, 200) ||
                    (CASE WHEN substr(s, 200, 1) = ' ' THEN ''
                          ELSE coalesce(string_split(substr(s, 201, 1000000), ' ')[1], '')
                     END)
          END) AS snip
  FROM t
), tr AS (SELECT doc_id, lang, trim(snip) AS x FROM e)
SELECT doc_id, 2 AS n_meta, lang || ' article' AS description,
       (CASE WHEN length(x) > 0 THEN upper(substr(x, 1, 1)) || substr(x, 2, 1000000) END) AS excerpt
FROM tr
""".strip(),
        "extract_images": f"""
WITH {FRONTIER_CTE}
SELECT seq AS doc_id,
       (CASE WHEN seq % 2 = 0 THEN 1 ELSE 0 END) AS n_images,
       (CASE WHEN seq % 2 = 0 THEN 'https://' || host || '/img/' || seq || '.png' END) AS src,
       (CASE WHEN seq % 2 = 0 THEN 'Caption ' || seq END) AS caption,
       (CASE WHEN seq % 2 = 0 THEN 64 END) AS width,
       (CASE WHEN seq % 2 = 0 THEN 32 END) AS height
FROM frontier
""".strip(),
        "extract_structured": """
SELECT doc_id,
       1 AS n_tables,
       'Key|Value' AS headers,
       2 AS row_count,
       2 AS col_count,
       'bucket|b' || (doc_id % 5) AS row2_cells,
       'b' || (doc_id % 5) AS row2_value,
       (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS n_figures,
       (CASE WHEN doc_id % 2 = 0 THEN 'Caption ' || doc_id END) AS fig_caption,
       (CASE WHEN doc_id % 2 = 0 THEN '/img/' || doc_id || '.png' END) AS fig_src,
       (CASE WHEN doc_id % 2 = 0 THEN 'alt text' END) AS fig_alt,
       2 AS n_items,
       'Lang' AS term1, lang || '|doc ' || doc_id AS descs1,
       'Bucket' AS term2, 'b' || (doc_id % 5) AS descs2
FROM documents
""".strip(),
        "text_quality": f"""
WITH q AS (
  SELECT doc_id, text,
         CAST(length(text) AS BIGINT) AS characters,
         CAST({TOKCOUNT_SQL} AS BIGINT) AS words,
         ({stop_hits}) AS stopword_hits,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
         {NORMTEXT_SQL} AS nt
  FROM documents
), r AS (
  SELECT *,
         (CASE WHEN words > 0 THEN CAST(characters AS DOUBLE) / words ELSE 0.0 END) AS mwl,
         (CASE WHEN words > 0 THEN CAST(stopword_hits AS DOUBLE) / words ELSE 0.0 END) AS sr,
         (CASE WHEN characters > 0 THEN alpha / characters ELSE 0.0 END) AS ar
  FROM q
)
SELECT doc_id, characters, words,
       CAST(greatest(len(list_filter(string_split_regex(text, '[.!?]+'),
                                     x -> trim(x) <> '')), 1) AS BIGINT) AS sentences,
       CAST(greatest(len(list_filter(string_split_regex(text, '\\n{{2,}}'),
                                     x -> trim(x) <> '')), 1) AS BIGINT) AS paragraphs,
       CAST(round({TOKCOUNT_SQL} / 200.0 * 60.0) AS BIGINT) AS reading_time,
       {occ_sql('text', 'the')} AS n_the,
       CAST(len(regexp_extract_all(text, '{TS.BPE_TOKEN_RE.replace("'", "''")}')) AS BIGINT) AS n_bpe_tokens,
       stopword_hits,
       CAST(round(ar * 10000) AS BIGINT) AS alpha_ratio_x1e4,
       CAST(round(least(
         least(CAST(characters AS DOUBLE) / 20.0, 40.0)
         + 30.0 * ar
         + 20.0 * least(sr * 4.0, 1.0)
         + 10.0 * (CASE WHEN mwl >= 3.0 AND mwl <= 8.0 THEN 1.0 ELSE 0.0 END),
         100.0)) AS BIGINT) AS quality_score,
       md5(array_to_string(list_sort(string_split(nt, ' ')), ' ')) AS bag_fp
FROM r
""".strip(),
        "langid": _langid_sql(),
        "sentiment": _sentiment_sql(with_label=True)
        .replace("SELECT doc_id, score AS sentiment_score",
                 "SELECT doc_id, score AS sentiment_score, score AS score_join"),
        "summary": f"""
SELECT doc_id, 5 AS n_sentences,
       '{SUMMARY_S0} {SUMMARY_S1} {SUMMARY_S2A}' || doc_id ||
       '{SUMMARY_S2B} {SUMMARY_S3} {SUMMARY_S4}' AS summary_text
FROM documents
""".strip(),
        "reranker_train": "SELECT * FROM (VALUES "
        + ", ".join(
            f"({d}, CAST({int(round(w * 1_000_000))} AS BIGINT))"
            for d, w in _oracle_gd_weights()
        )
        + ") AS t(dim, weight_x1e6)",
        "keywords_topk": """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term FROM documents
), flt AS (
  SELECT doc_id, term FROM toks
  WHERE term NOT IN ({STOP}) AND length(term) > 1
    AND {POSGATE_TERM}
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM flt GROUP BY doc_id, term
), r AS (
  SELECT doc_id, term, tf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rank
  FROM tf
), pt AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents
), grams AS (
  SELECT doc_id, ws[gs] || ' ' || ws[gs + 1] AS phrase
  FROM pt, unnest(range(1, len(ws))) AS t(gs)
  UNION ALL
  SELECT doc_id, ws[gs] || ' ' || ws[gs + 1] || ' ' || ws[gs + 2] AS phrase
  FROM pt, unnest(range(1, len(ws) - 1)) AS t(gs)
), pflt AS (
  SELECT doc_id, phrase FROM grams
  WHERE string_split(phrase, ' ')[1] NOT IN ({STOP})
    AND string_split(phrase, ' ')[-1] NOT IN ({STOP})
    AND length(phrase) > 3
    AND len(list_filter(string_split(phrase, ' '),
                        w -> NOT {POSGATE_W})) = 0
), ptf AS (
  SELECT doc_id, phrase, count(*) AS tf FROM pflt GROUP BY doc_id, phrase
), pr AS (
  SELECT doc_id, phrase, tf,
         round(tf * 1.0 / max(tf) OVER (PARTITION BY doc_id), 9) AS score,
         row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, phrase ASC) AS rank
  FROM ptf
)
SELECT doc_id, 'term' AS kind, term AS gram, tf, rank,
       CAST(NULL AS BIGINT) AS score_x1e9
FROM r WHERE rank <= 10
UNION ALL
SELECT doc_id, 'phrase' AS kind, phrase AS gram, tf, rank,
       CAST(round(score * 1000000000) AS BIGINT) AS score_x1e9
FROM pr WHERE rank <= 8
""".replace("{STOP}", "'a', 'the', 'and', 'of', 'to', 'in'")
        .replace("{POSGATE_TERM}", TS.pos_noun_gate_sql("term"))
        .replace("{POSGATE_W}", TS.pos_noun_gate_sql("w")).strip(),
        "string_helpers": """
WITH d AS (
  SELECT doc_id,
         'the QUICK brown—fox''s №' || doc_id || ' (mixed) élan  runs' AS raw
  FROM documents
)
SELECT doc_id,
       trim(regexp_replace(regexp_replace(raw, '[^\\p{L}\\p{N}\\s''’-]+', '', 'g'),
                           '\\s+', ' ', 'g')) AS stripped,
       array_to_string(
         list_transform(
           string_split(raw, ' '),
           w -> regexp_extract(w, '^([^\\w]*)', 1)
                || upper(substr(w, length(regexp_extract(w, '^([^\\w]*)', 1)) + 1, 1))
                || lower(substr(w, length(regexp_extract(w, '^([^\\w]*)', 1)) + 2))
         ), ' ') AS titled,
       lower(trim(regexp_replace(regexp_replace(raw, '[^A-Za-z0-9À-￿]+', ' ', 'g'),
                                 '\\s+', ' ', 'g'))) AS normalized,
       regexp_replace(regexp_replace('editor' || doc_id || '''s?!',
                                     '[''’][sS]\\b', '', 'g'),
                      '[^\\p{L}\\p{N}]+$', '', 'g') AS possessive_stripped,
       upper(substr('élan doc ' || doc_id, 1, 1))
         || substr('élan doc ' || doc_id, 2) AS capitalized,
       CAST(-1000000
            + (doc_id % 7) * 250000 - (doc_id % 11) * 500000
            + (doc_id % 13) * 750000 - (doc_id % 17) * 1000000
            AS BIGINT) AS z_x1e6,
       ((-1000000
         + (doc_id % 7) * 250000 - (doc_id % 11) * 500000
         + (doc_id % 13) * 750000 - (doc_id % 17) * 1000000) > 0)
         AS score_positive
FROM d
""".strip(),
        "keywords_cleaned": f"""
WITH d AS (
  SELECT doc_id, text || repeat(' Élan NASA UNESCO 42 Cat''s', 25) AS text
  FROM documents WHERE doc_id < 30
), toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t FROM d
), c AS (
  SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS tt FROM toks
), n AS (
  SELECT doc_id, tt,
         lower(trim(translate(tt, '{TS.DIAC_SRC}', '{TS.DIAC_DST}'))) AS norm,
         regexp_replace(regexp_replace(tt, '[''’][sS]\\b', '', 'g'),
                        '[^\\p{{L}}\\p{{N}}]+$', '', 'g') AS sp
  FROM c
), f AS (
  SELECT doc_id, upper(substr(sp, 1, 1)) || substr(sp, 2) AS cleaned
  FROM n
  WHERE {TS.pos_noun_gate_sql("tt")}
    AND regexp_matches(tt, '\\p{{L}}')
    AND length(norm) >= 2
    AND norm NOT IN ({", ".join(f"'{w}'" for w in TS.STOPWORDS_MINI)})
    AND NOT (tt = upper(tt) AND regexp_matches(tt, '\\p{{Lu}}')
             AND length(norm) > 4)
    AND NOT regexp_matches(norm, '^[0-9]+$')
), g AS (
  SELECT doc_id,
         lower(trim(translate(cleaned, '{TS.DIAC_SRC}', '{TS.DIAC_DST}'))) AS key,
         count(*) AS tf, min(cleaned) AS keyword
  FROM f WHERE length(cleaned) > 0 GROUP BY 1, 2
), r AS (
  SELECT doc_id, keyword, tf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tf DESC, keyword ASC) AS rank
  FROM g
)
SELECT doc_id, keyword, tf, rank FROM r WHERE rank <= 8
""".strip(),
        "entities": _entities_oracle_sql(),
        "content_candidates": """
SELECT doc_id,
       '/HTML/BODY/ARTICLE' AS xpath,
       1 AS rank,
       1 AS sem,
       1 AS dp,
       0 AS heads,
       (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS img_count
FROM documents
""".strip(),
        "image_features": _image_features_sql(),
        "image_near_dups": _image_near_dups_sql(),
        "av_features": _av_features_sql(),
        "ivf_topk": """
WITH cent AS (
  SELECT CAST(vec_id // 31 AS INT) AS cluster, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id % 31 = 0
), corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), asg AS (
  SELECT vec_id, cluster FROM (
    SELECT c.vec_id, ct.cluster,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY list_dot_product(c.v, ct.cv)
                      / (sqrt(list_dot_product(c.v, c.v))
                         * sqrt(list_dot_product(ct.cv, ct.cv))) DESC,
                      ct.cluster) AS rn
    FROM corpus c, cent ct) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 6
), probes AS (
  SELECT query_id, cluster, qv FROM (
    SELECT q.query_id, ct.cluster, q.qv,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_dot_product(q.qv, ct.cv)
                      / (sqrt(list_dot_product(q.qv, q.qv))
                         * sqrt(list_dot_product(ct.cv, ct.cv))) DESC,
                      ct.cluster) AS rn
    FROM q, cent ct) WHERE rn <= 4
), scored AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         list_dot_product(p.qv, c.v)
         / (sqrt(list_dot_product(p.qv, p.qv))
            * sqrt(list_dot_product(c.v, c.v))) AS cos
  FROM probes p
  JOIN asg a ON a.cluster = p.cluster
  JOIN corpus c ON c.vec_id = a.vec_id
), r AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank,
       CAST(round(cos * 1000000) AS BIGINT) AS cosine_x1e6
FROM r WHERE rank <= 8
""".strip(),
        "probe_canonical": f"""
SELECT doc_id,
       'https://probe.example/page/' || doc_id AS url,
       (CASE doc_id % 7 WHEN 0 THEN 404 WHEN 1 THEN 405 ELSE 200 END) AS status,
       (doc_id % 7 <> 0) AS ok,
       (doc_id % 3 = 1) AS used,
       (CASE WHEN doc_id % 3 = 1 THEN 3 ELSE 0 END) AS n_entries,
       (CASE WHEN doc_id % 3 = 0
             THEN '{CANON_RICH_P.format(i=1)}' || doc_id || '.'
             WHEN doc_id % 3 = 1
             THEN '{CANON_FETCHED_P.format(i=1)}' || doc_id || '.'
             END) AS first_para,
       (CASE WHEN doc_id % 3 = 1 THEN
          '<div class="live-summary">' ||
          '<div class="entry"><p>{CANON_FETCHED_P.format(i=1)}' || doc_id || '.</p></div>' ||
          '<div class="entry"><p>{CANON_FETCHED_P.format(i=2)}' || doc_id || '.</p></div>' ||
          '<div class="entry"><p>{CANON_FETCHED_P.format(i=3)}' || doc_id || '.</p></div>' ||
          '</div>'
        END) AS synth_html
FROM documents
""".strip(),
        "detect_container": """
SELECT doc_id,
       (CASE WHEN doc_id % 2 = 0 THEN '/HTML/BODY/ARTICLE'
             ELSE '/HTML/BODY/ARTICLE/DIV[1]' END) AS xpath,
       (CASE WHEN doc_id % 2 = 0 THEN 'article'
             ELSE 'div.story-body:nth-of-type(1)' END) AS css_selector,
       (doc_id % 2 = 0) AS fragmented
FROM documents
""".strip(),
        "spellcheck": """
WITH d AS (
  SELECT doc_id,
         text || ' zzrare' ||
           (CASE doc_id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END) ||
           (CASE WHEN doc_id % 5 = 0 THEN ' zzentity'
                 WHEN doc_id % 5 = 1 THEN ' zzentitys' ELSE '' END) ||
           (CASE WHEN doc_id % 7 = 0 THEN ' tabl'
                 WHEN doc_id % 7 = 1 THEN ' scann' ELSE '' END) ||
           ' recieve' AS text
  FROM documents),
t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM d),
toks AS (
  SELECT doc_id, ws,
         CAST(generate_subscripts(ws, 1) - 1 AS INT) AS word_idx,
         unnest(ws) AS word
  FROM t),
pos AS (
  SELECT doc_id, word_idx, word,
         -- char column: preceding token lengths + one space each,
         -- plus the stripped leading-punctuation span (0 here)
         CAST(coalesce(list_sum(list_transform(ws[1:word_idx],
                                               w -> length(w))), 0)
              + word_idx + 1
              + length(coalesce(regexp_extract(word, '^[^A-Za-z]+'), ''))
              AS INT) AS col_char
  FROM toks),
dict AS (SELECT unnest(string_split('{EN_DICT_WORDS}', ' ')) AS word),
entkeys AS (SELECT 'zzentity' AS word UNION ALL SELECT 'zzentitys'),
miss AS (
  SELECT doc_id, 1 AS line, word_idx, word, col_char,
         CAST(col_char - 1 AS BIGINT) AS offset_start,
         CAST(col_char - 1 + length(regexp_replace(word,
                '^[^A-Za-z]+|[^A-Za-z]+$', '', 'g')) AS BIGINT) AS offset_end
  FROM pos
  WHERE word NOT IN (SELECT word FROM dict)
    AND word NOT IN (SELECT word FROM entkeys)),
sugg AS (
  SELECT m.doc_id, m.line, m.word_idx, m.word, dd.word AS s
  FROM miss m JOIN dict dd ON levenshtein(lower(m.word), dd.word) <= 1),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, line, word_idx, word
                               ORDER BY s) AS rn
  FROM sugg),
agg AS (
  SELECT doc_id, line, word_idx, word,
         string_agg(s, ',' ORDER BY s) AS suggestions
  FROM ranked WHERE rn <= 5 GROUP BY doc_id, line, word_idx, word)
SELECT m.doc_id, m.line, m.word_idx, m.word,
       m.col_char, m.offset_start, m.offset_end,
       coalesce(a.suggestions, '') AS suggestions
FROM miss m
LEFT JOIN agg a USING (doc_id, line, word_idx, word)
""".strip().replace("{EN_DICT_WORDS}", _en_gb_words_sql()),
        "dedup_exact": f"""
WITH n AS (SELECT doc_id, md5({NORMTEXT_SQL.replace('text', 'text')}) AS fingerprint FROM documents)
SELECT fingerprint, min(doc_id) AS keeper_id, count(*) AS n_dups FROM n GROUP BY fingerprint
""".strip(),
        "minhash_lsh": f"""
WITH bkts AS (
{_lsh_buckets_sql()}
), sig2 AS (
{_minhash_sql()}
)
SELECT b.band, b.bucket, b.doc_id, {", ".join(f"s.mh{j}" for j in range(N_MINHASH))}
FROM bkts b JOIN sig2 s USING (doc_id)
""".strip(),
        "simhash": _simhash_sql(),
        "ngram_jaccard": f"""
WITH norm AS (
  SELECT doc_id, {NORMTEXT_SQL} AS nt FROM documents WHERE doc_id < 40
), sh AS (
  SELECT DISTINCT doc_id, substr(nt, i, 8) AS shingle
  FROM norm, unnest(generate_series(1, greatest(length(nt) - 7, 1), 4)) AS t(i)
), sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM norm a, norm b WHERE a.doc_id < b.doc_id
), inter AS (
  SELECT p.id_a, p.id_b, count(*) AS n_inter
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.id_a
  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b
)
SELECT p.id_a, p.id_b,
       CAST(round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
                  / (za.sz + zb.sz - coalesce(i.n_inter, 0)) * 10000) AS BIGINT) AS jaccard_x1e4
FROM pairs p
LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
JOIN sizes za ON za.doc_id = p.id_a
JOIN sizes zb ON zb.doc_id = p.id_b
""".strip(),
        "knn_bruteforce": """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5
), c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS v FROM embeddings
), s AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, v)
         / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos,
         sqrt(list_dot_product(v, v)) AS nrm
  FROM c, q
), r AS (
  SELECT query_id, neighbor_id, cos, nrm,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM s
)
SELECT query_id, neighbor_id, rank,
       CAST(round(cos * 1000000) AS BIGINT) AS cosine_x1e6,
       CAST(round(nrm * 1000000) AS BIGINT) AS norm_x1e6
FROM r WHERE rank <= 10
""".strip(),
        "ivf_trained_recall": _ivf_trained_sql(),
        "ann_lsh_buckets": _ann_lsh_sql(),
        "embedding_near_dups": _embedding_near_dups_sql(),
        "label_centroids": """
SELECT label, d,
       CAST(round(avg(embedding[d + 1]::DOUBLE) * 10000) AS BIGINT) AS mean_x1e4
FROM embeddings, unnest(generate_series(0, 63)) AS t(d)
GROUP BY label, d
""".strip(),
        "event_hourly": """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_x100
FROM events GROUP BY 1, 2
""".strip(),
        "text_render": """
WITH f AS (
  SELECT doc_id,
         'STORY ' || doc_id || chr(10) || chr(10) ||
         'HEADING ' || doc_id || chr(10) || chr(10) ||
         'Alpha ' || text || '.' || chr(10) || chr(10) ||
         'Cap ' || doc_id || chr(10) || chr(10) ||
         'Beta body ' || doc_id || ' ends.' AS formatted,
         'Heading ' || doc_id || '. Alpha ' || text || '. Beta body ' || doc_id || ' ends.' AS raw
  FROM documents)
SELECT f.doc_id, f.raw, f.formatted,
       '<span>' || replace(f.formatted, chr(10), '</span>' || chr(10) || '<span>') || '</span>' AS html_text,
       '<html><body><p id="keep">Keep ' || d.text || '</p></body></html>' AS stripped
FROM f JOIN documents d ON f.doc_id = d.doc_id
""".strip(),
        "boilerplate_strip": """
SELECT doc_id,
       'Heading ' || doc_id || '. Alpha ' || text ||
       '. Analysis: the committee met ' || doc_id ||
       ' times; see the report for details. Beta body ' || doc_id || ' ends.' AS raw
FROM documents
""".strip(),
        "liveblog": """
SELECT doc_id,
       (doc_id % 2 = 0) AS ok,
       (CASE WHEN doc_id % 2 = 0 THEN 5 ELSE 0 END) AS n_entries,
       (CASE WHEN doc_id % 2 = 0 THEN '0:00' END) AS first_time,
       (CASE WHEN doc_id % 2 = 0 THEN 'Update title number 0' END) AS first_title
FROM documents
""".strip(),
        "windowed_metrics": """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
       'h' || (user_id % 5) || '.example.com' AS host,
       count(*) AS scheduled,
       CAST(sum(CASE WHEN event_type = 'error' THEN 0 ELSE 1 END) AS BIGINT) AS ok,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err,
       CAST(round(avg(CAST(floor(value * 100) AS INT)) * 10000) AS BIGINT) AS avg_ms_x1e4,
       CAST(sum(CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_amp,
       CAST(sum(CASE WHEN user_id % 3 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_dynamic,
       string_agg(DISTINCT 'parse:' || event_type, ',' ORDER BY 'parse:' || event_type) AS phases,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS last_ts
FROM events GROUP BY 1, 2
""".strip(),
        "sessionize": """
WITH g AS (
  SELECT user_id, event_id, ts,
         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
), s AS (
  SELECT user_id, event_id, ts,
         CAST(sum(CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
  FROM g
)
SELECT user_id, session_idx, count(*) AS n_events,
       min(epoch_ms(ts)) AS start_epoch_ms
FROM s GROUP BY user_id, session_idx
""".strip(),
        "retry_backoff": """
WITH e AS (
  SELECT event_id, user_id, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS attempt
  FROM events WHERE event_type = 'error'
)
SELECT event_id, user_id, attempt,
       epoch_ms(ts) + attempt * 1000 AS not_before_ms,
       (CASE event_id % 5 WHEN 0 THEN 'timeout' WHEN 1 THEN 'forbidden'
             WHEN 2 THEN 'consent' WHEN 3 THEN 'context'
             ELSE 'generic' END) AS family
FROM e
""".strip(),
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_x100,
       CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_disc_x100,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""".strip(),
        "top_orders_per_customer": """
WITH r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
)
SELECT o_custkey, o_orderkey, rank,
       CAST(round(o_totalprice * 100) AS BIGINT) AS price_x100
FROM r WHERE rank <= 3
""".strip(),
        "revenue_by_nation": """
SELECT n_name, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_x100
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""".strip(),
        "part_type_stats": """
SELECT p_type, count(*) AS n_items, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type
""".strip(),
        "crawl_two_rounds": "SELECT * FROM (VALUES "
        + ", ".join(
            f"(CAST({pos} AS INT), '{url}', CAST({rnd} AS INT))"
            for pos, url, rnd in _crawl_two_rounds_oracle_rows()
        )
        + ") AS t(pos, url, round)",
    }
