"""Feed sources: feed-list files, RSS/Atom item extraction, sitemaps.

Behavior-parity reimplementations (not ports) of the reference's feed
pipeline:

- read_feeds_file ≈ readFeedsFile
  (/root/reference/scripts/fetch-curated-urls.js:22-30): newline feed
  URLs, blank lines and `#` comments ignored.
- rss_links_col ≈ extractFromRSS
  (/root/reference/scripts/fetch-curated-urls.js:111-167): RSS
  `<item><link>` (fallback guid, then id) and Atom `<entry><link
  href>` (prefer rel="alternate"); the channel/homepage link is
  suppressed as an item URL (guid preferred when item link equals it).
- sitemap_links_col ≈ extractFromSitemap
  (/root/reference/scripts/fetch-curated-urls.js:169-179):
  `<urlset><url><loc>` values.

Everything is pure JVM Column algebra (`regexp_extract_all` +
higher-order array functions) — no Python crossing. At 10^8 feeds the
XML bodies stay at the scan; only the extracted link arrays (then
exploded URLs) enter shuffles. Feed XML in the wild is messier than
these regexes; the reference's own parser (fast-xml-parser with
defaults) is similarly non-validating, and parity fixtures pin the
shared shapes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

_ITEM_RE = r"(?s)<item[\s>].*?</item>|<item/>|<entry[\s>].*?</entry>"
_TAG_TEXT = r"(?s)<{tag}[^>]*>\s*(?:<!\[CDATA\[)?(.*?)(?:\]\]>)?\s*</{tag}>"
_ATOM_HREF_ALT = r'(?s)<link[^>]*rel="alternate"[^>]*href="([^"]*)"'
_ATOM_HREF_ANY = r'(?s)<link[^>]*href="([^"]*)"'


def feeds_from_lines(lines: DataFrame) -> DataFrame:
    """S2 core rule on an already-loaded relation of `value` lines:
    trim, drop blanks and `#` comments (fetch-curated-urls.js:22-30).
    Split out of read_feeds_file so by-construction line sets (driver
    oracle) and real files share one implementation."""
    df = lines.select(
        *[c for c in lines.columns if c != "value"],
        F.trim("value").alias("feed_url"),
    )
    return df.filter(
        (F.length("feed_url") > 0) & ~F.col("feed_url").startswith("#")
    )


def read_feeds_file(spark: SparkSession, path: str) -> DataFrame:
    """S2: newline feed URLs; trim, drop blanks and `#` comments."""
    return feeds_from_lines(spark.read.text(path))


def _tag_text(block: Column, tag: str) -> Column:
    """First <tag>text</tag> inside the block ('' when absent)."""
    return F.regexp_extract(block, _TAG_TEXT.format(tag=tag), 1)


def _item_link(block: Column) -> Column:
    """Item URL per the reference's pickItemLink: RSS <link>text</link>,
    Atom <link rel="alternate" href> (else first <link href>)."""
    rss_link = _tag_text(block, "link")
    atom_alt = F.regexp_extract(block, _ATOM_HREF_ALT, 1)
    atom_any = F.regexp_extract(block, _ATOM_HREF_ANY, 1)
    return F.when(rss_link != "", rss_link).otherwise(
        F.when(atom_alt != "", atom_alt).otherwise(atom_any)
    )


def channel_link_col(xml: Column | str) -> Column:
    """Channel/homepage link: first <link> outside any <item>/<entry>.

    Implemented as: first <link>text</link> of the document with all
    item/entry blocks blanked out (RSS), else the first Atom feed-level
    rel="alternate" href."""
    x = F.col(xml) if isinstance(xml, str) else xml
    stripped = F.regexp_replace(x, _ITEM_RE, "")
    rss = _tag_text(stripped, "link")
    atom_alt = F.regexp_extract(stripped, _ATOM_HREF_ALT, 1)
    atom_any = F.regexp_extract(stripped, _ATOM_HREF_ANY, 1)
    return F.when(rss != "", rss).otherwise(
        F.when(atom_alt != "", atom_alt).otherwise(atom_any)
    )


def rss_links_col(xml: Column | str) -> Column:
    """S3: ordered item links from RSS/Atom XML (array<string>).

    Per item: link (unless it equals the channel link, then guid/id
    replaces it), plus guid (else id) as an additional URL — matching
    the reference's push order link-then-guid."""
    x = F.col(xml) if isinstance(xml, str) else xml
    channel = channel_link_col(x)
    blocks = F.regexp_extract_all(x, F.lit(_ITEM_RE), F.lit(0))

    def per_item(b: Column) -> Column:
        link = _item_link(b)
        guid = _tag_text(b, "guid")
        gid = F.when(guid != "", guid).otherwise(_tag_text(b, "id"))
        is_channel = (link != "") & (link == channel)
        first = F.when(is_channel, gid).otherwise(link)
        second = F.when(is_channel | (gid == first), F.lit("")).otherwise(gid)
        return F.array(first, second)

    flat = F.flatten(F.transform(blocks, per_item))
    return F.filter(flat, lambda u: u != "")


def sitemap_links_col(xml: Column | str) -> Column:
    """S4: <urlset><url><loc> values, document order (array<string>)."""
    x = F.col(xml) if isinstance(xml, str) else xml
    blocks = F.regexp_extract_all(
        x, F.lit(r"(?s)<url[\s>].*?</url>"), F.lit(0)
    )
    locs = F.transform(blocks, lambda b: _tag_text(b, "loc"))
    return F.filter(locs, lambda u: u != "")


def extract_feed_links(feeds: DataFrame) -> DataFrame:
    """Explode per-feed item links of the `xml` column with in-feed
    position (for W8 round-robin interleave downstream):
    (feed_url, pos, url)."""
    links = F.when(
        F.col("xml").contains("<urlset"), sitemap_links_col("xml")
    ).otherwise(rss_links_col("xml"))
    return feeds.select(
        F.col("feed_url"), F.posexplode(links).alias("pos", "url")
    )


def merge_csv_lines(spark: SparkSession, paths: list[str]) -> tuple[str, DataFrame]:
    """S11 CSV merge (/root/reference/scripts/merge-csv.js:15-43):
    unique trimmed non-empty rows across files, header excluded
    wherever it reappears. The header is the reference's first-seen
    one: the first line of the first file (a 1-row read); rows dedupe
    distributed via dropDuplicates — Spark-first restatement of its
    in-memory Set.

    Returns (header, rows DataFrame with a single `row` column)."""
    first = spark.read.text(paths[0]).limit(1).collect()
    if not first:
        raise ValueError("no header found in first input")
    header = first[0]["value"].strip()
    return header, merge_csv_rows(spark.read.text(paths), header)


def merge_csv_rows(lines: DataFrame, header: str) -> DataFrame:
    """S11 core rule on an already-loaded relation of `value` lines:
    unique trimmed non-empty rows, the header excluded wherever it
    reappears (merge-csv.js:15-43)."""
    return (
        lines.select(F.trim("value").alias("row"))
        .filter((F.col("row") != "") & (F.col("row") != header))
        .dropDuplicates(["row"])
    )
