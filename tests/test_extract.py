"""Extraction parity against the synthetic web's ground truth:
links (absolutified, DOM order), title cascade, meta map, image
captions (figure / wrapper / lazy / aria-describedby), JSON-LD,
tables, definition lists (SURVEY §2.7 X11-X17, §2.3 J6/J7)."""

import pyspark.sql.functions as F

from horseman_article_parser_spark.datagen.synthweb import (
    article_url,
    expected_out_links,
    page_spec,
    render_html,
)
from horseman_article_parser_spark.operators.extract import (
    extract_article,
    extract_articles,
    normalize_title,
)

URLS = [article_url(k, a) for k, a in [(0, 1), (1, 77), (3, 42), (7, 900), (12, 5)]]


def _spec200(url):
    spec = page_spec(url)
    return spec if spec["status"] == 200 else None


def test_title_cascade_and_suffix_strip():
    assert normalize_title("Headline | Site Name") == "Headline"
    assert normalize_title("Headline - Site Name") == "Headline"
    assert normalize_title("Headline – The Paper") == "Headline"
    assert normalize_title("  Multi   space\nheadline  ") == "Multi space headline"
    assert normalize_title(None) is None
    # og:title wins when no JSON-LD headline
    html = (
        "<html><head><title>Doc Title | Site</title>"
        '<meta property="og:title" content="OG Title | Site"></head>'
        "<body><h1>H1 Title</h1></body></html>"
    )
    assert extract_article("https://x.example/a", html)["title"] == "OG Title"
    # h1 fallback
    html2 = "<html><head><title>Doc | Site</title></head><body><h1>The H1</h1></body></html>"
    assert extract_article("https://x.example/a", html2)["title"] == "The H1"


def test_ground_truth_links_title_meta_captions():
    for url in URLS:
        spec = _spec200(url)
        if spec is None:
            continue
        art = extract_article(url, render_html(spec))
        assert art["title"] == spec["title"], url
        assert art["meta"]["og:title"] == spec["title"]
        assert art["meta"]["description"] == spec["meta"]["description"]
        assert art["description"] == spec["meta"]["description"]
        assert art["headline"] == spec["headline"]
        got_hrefs = [l["href"] for l in art["links"] if not l["href"].startswith("mailto:")]
        assert got_hrefs == expected_out_links(spec), url
        # image ↔ caption alignment (J7): figure + wrapper captions equal
        # ground truth; lazy image resolves via dataSrc with NULL caption
        by_src = {im["src"]: im for im in art["images"]}
        for gt in spec["images"]:
            if gt["kind"] == "lazy":
                match = [im for im in art["images"] if im["dataSrc"]]
                assert len(match) == 1 and match[0]["caption"] is None
                assert match[0]["src"] == gt["data_src"]
            else:
                srcs = [s for s in by_src if s.endswith(gt["image_id"] + ".png")]
                assert srcs, (url, gt)
                assert by_src[srcs[0]]["caption"] == gt["caption"]


def test_aria_describedby_caption():
    html = (
        "<html><body><article>"
        '<img src="/a.png" aria-describedby="cap1">'
        '<p id="cap1">Described caption text</p>'
        "</article></body></html>"
    )
    art = extract_article("https://x.example/a", html)
    # next-sibling rule would also hit; aria path must produce same text
    assert art["images"][0]["caption"] == "Described caption text"


def test_tables_and_definitions():
    for url in URLS:
        spec = _spec200(url)
        if spec is None:
            continue
        art = extract_article(url, render_html(spec))
        tbl = art["tables"][0]
        assert (tbl["caption"], tbl["headers"]) == (None, ["Region", "Value"])
        assert (tbl["rowCount"], tbl["columnCount"]) == (2, 2)
        assert len(tbl["rows"]) == 2 and len(tbl["rows"][0]["cells"]) == 2
        item = art["definitions"][0]["items"][0]
        assert item["term"] == "Topic" and item["descriptions"] == [spec["slug"]]


def test_table_header_inference_and_objects():
    # mirrors /root/reference/tests/structuredData.test.js:59-71
    html = (
        "<html><body><article><table><caption>GDP table</caption>"
        "<thead><tr><th>Metric</th><th>Value</th></tr></thead>"
        "<tbody><tr><td>GDP</td><td>$1</td></tr>"
        "<tr><td>Inflation</td><td>2%</td></tr></tbody></table></article></body></html>"
    )
    t = extract_article("https://x.example/t", html)["tables"][0]
    assert t["caption"] == "GDP table"
    assert t["headers"] == ["Metric", "Value"]
    assert t["rowCount"] == 2
    assert t["rows"][0]["object"]["Metric"] == "GDP"
    assert t["rows"][1]["object"]["Value"] == "2%"


def test_table_first_row_derived_headers_and_colspan():
    # no thead/th: first row derives headers
    # (/root/reference/controllers/structuredData.js:68-77); colspan
    # cells expand before header keying (:100-104)
    html = (
        "<html><body><article><table>"
        "<tr><td>Name</td><td>Height</td><td>Age</td></tr>"
        '<tr><td>Nine</td><td colspan="2">6ft / 41</td></tr>'
        "<tr><td>Ten</td><td>6ft1</td><td>35</td></tr>"
        "</table></article></body></html>"
    )
    t = extract_article("https://x.example/t2", html)["tables"][0]
    assert t["headers"] == ["Name", "Height", "Age"]
    assert t["rows"][0]["object"] == {
        "Name": "Nine", "Height": "6ft / 41", "Age": "6ft / 41",
    }
    assert t["columnCount"] == 3


def test_definition_list_multiple_descriptions():
    # mirrors /root/reference/tests/structuredData.test.js:74-83
    html = (
        "<html><body><article><dl><dt>Capital</dt><dd>Paris</dd>"
        "<dd>Lyon (secondary)</dd><dt>Population</dt><dd>67M</dd></dl>"
        "</article></body></html>"
    )
    items = extract_article("https://x.example/d", html)["definitions"][0]["items"]
    assert items[0]["descriptions"] == ["Paris", "Lyon (secondary)"]
    assert items[1] == {"term": "Population", "descriptions": ["67M"]}


def test_figure_metadata():
    # mirrors /root/reference/tests/structuredData.test.js:96-105
    html = (
        "<html><body><article><figure>"
        '<img src="/chart.png" alt="Line chart showing quarterly revenue"'
        ' title="Quarterly Revenue">'
        "<figcaption>Figure 1. Quarterly revenue trend for 2024.</figcaption>"
        "</figure></article></body></html>"
    )
    fig = extract_article("https://x.example/f", html)["figures"][0]
    assert fig["caption"] == "Figure 1. Quarterly revenue trend for 2024."
    assert fig["images"] == [
        {"src": "/chart.png", "alt": "Line chart showing quarterly revenue",
         "title": "Quarterly Revenue"}
    ]
    assert "Figure 1." in fig["text"]


def test_extract_articles_dataframe_op(spark):
    specs = [(u, _spec200(u)) for u in URLS]
    rows = [(u, render_html(s)) for u, s in specs if s]
    df = spark.createDataFrame(rows, ["url", "html"])
    out = extract_articles(df).select("url", "article.*").collect()
    by_url = {r["url"]: r for r in out}
    for u, s in specs:
        if s:
            assert by_url[u]["headline"] == s["headline"]
            assert by_url[u]["n_jsonld_articles"] == 1
            # keys outside JSONLD_ARTICLE_FIELDS are not computed
            assert by_url[u]["title"] is None and by_url[u]["meta"] is None


def test_caps_links_and_images():
    many_links = "".join(f'<a href="/l-{i}">t{i}</a>' for i in range(1200))
    many_imgs = "".join(f'<img src="/i-{i}.png">' for i in range(600))
    html = f"<html><body><article>{many_links}{many_imgs}</article></body></html>"
    art = extract_article("https://x.example/a", html)
    assert len(art["links"]) == 1000  # index.js:1000 cap
    assert len(art["images"]) == 500  # index.js:1020 cap
    assert art["images"][0]["index"] == 0 and art["images"][499]["index"] == 499


def test_title_reference_quirks():
    """titleDetector.test.js:18-41 pins: twitter:title fallback,
    hyphenated words survive the suffix strip, colon subtitles are
    never treated as suffixes."""
    html = ('<html><head><meta name="twitter:title" content="Tweet Title">'
            "<title>Fallback</title></head><body></body></html>")
    assert extract_article("https://x.example/a", html)["title"] == "Tweet Title"
    assert (normalize_title("Far-right London rally - Example.com")
            == "Far-right London rally")
    full = "PM: I would never have appointed Mandelson had I known full Epstein links"
    assert normalize_title(full) == full


def _tree_sig(el):
    """Full structural signature: tags, attrs, text nodes, pos/end."""
    from horseman_article_parser_spark.functions.htmldom import Element

    out = [(el.tag, sorted((el.attrs or {}).items()), el.pos, el.end)]
    for ch in el.children:
        if isinstance(ch, Element):
            out.extend(_tree_sig(ch))
        else:
            out.append(("#text", ch))
    return out


def test_fast_parse_matches_stdlib():
    """The regex-scanner fast path must build the IDENTICAL tree to the
    stdlib-driven path (or bail to it) for fixture HTML, synthesized
    page shapes, and adversarial constructs."""
    import glob

    from horseman_article_parser_spark.functions.htmldom import (
        parse_html,
        parse_html_stdlib,
    )

    samples = []
    for path in sorted(glob.glob("/root/reference/tests/fixtures/**/*.html",
                                 recursive=True)):
        with open(path, encoding="utf-8", errors="replace") as fh:
            samples.append(fh.read())
    samples += [
        "",
        "plain text only",
        "<p>a<p>b",
        "<html><head><title>T &amp; U</title><meta name='a' content='b&quot;c'>"
        "</head><body><article><h1>H</h1><p>x<b>y</b> &lt;tag&gt;</p>"
        "<a href='/l?a=1&amp;b=2'>L</a><img src='/i.png' alt='A' />"
        "<script type='application/ld+json'>{\"@type\":\"Article\","
        "\"headline\":\"x < y && z\"}</script>"
        "<script>if (a<b) { track() }</script><style>p > a {}</style>"
        "<!-- a comment <p>not a tag</p> --><table><thead><tr><th>K</th>"
        "</tr></thead><tr><td>v</td></tr></table><dl><dt>t</dt><dd>d</dd>"
        "</dl></article></body></html>",
        "<!DOCTYPE html><html><body><p>doc</p></body></html>",
        "<!doctype html><p>lower</p>",
        "a<!>b", "a</ >b", "a</>b", "a</1>b",
        "<p>x</p attr='>'>y",
        "trail<", "hi &amp x", "trail &am",
        "<div class='a b' data-x>valueless</div>",
        "<br/><br />text<hr>",
        "<script>unterminated",
        "<!-- unterminated",
        "<p unterminated",
        "<p a='1' a='2'>dup</p>",
        "<P><IMG SRC='/U.PNG'></P>",
        "< notatag>x",
        "<![CDATA[raw]]>tail",
        "<?php echo 1 ?>tail",
        "<sCrIpT>x</ScRiPt >after",
        "<a href=\"x&y\">amp in attr</a>",
        "élán <p>unicode ’ text</p>",
    ]
    for html in samples:
        fast = _tree_sig(parse_html(html))
        std = _tree_sig(parse_html_stdlib(html))
        assert fast == std, (html[:120], fast[:10], std[:10])


def test_fast_parse_matches_stdlib_fuzz():
    """Seeded fuzz: random mutations (truncation, injection, splice) of
    a realistic page must parse identically on both paths."""
    import random

    from horseman_article_parser_spark.functions.htmldom import (
        parse_html,
        parse_html_stdlib,
    )

    base = (
        "<html><head><title>Doc 7 | Site</title><meta name='d' content='x'>"
        "</head><body><article><h1>H</h1><p>words &amp; more words</p>"
        "<a href='/n/8'>next</a><figure><img src='/i.png' alt='a'>"
        "<figcaption>Cap</figcaption></figure><script>s<t()</script>"
        "<table><tr><th>K</th></tr><tr><td>v</td></tr></table>"
        "</article></body></html>"
    )
    rng = random.Random(20260822)
    snippets = ["<", ">", "</", "<!--", "-->", "&amp;", "&", "'", '"',
                "<p>", "</p>", "<![", "<!x>", "<?pi>", "é", "=",
                "<img src=", " data-x", "<script>", "</script>"]
    for _ in range(400):
        h = base
        for _ in range(rng.randint(1, 4)):
            op = rng.randrange(3)
            pos = rng.randrange(len(h) + 1)
            if op == 0:
                h = h[:pos]  # truncate
            elif op == 1:
                h = h[:pos] + rng.choice(snippets) + h[pos:]
            else:
                cut = rng.randrange(1, 12)
                h = h[:pos] + h[pos + cut:]
        fast = _tree_sig(parse_html(h))
        std = _tree_sig(parse_html_stdlib(h))
        assert fast == std, h[:160]


def test_synth_pages_template_matches_jvm(spark):
    """_synth_page_html must render byte-identically to the JVM concat
    it replaced (the extract oracles hash values derived from this
    markup, so a template drift is an oracle break, not a perf bug)."""
    import pyspark.sql.functions as F

    import __spark_entry__ as E

    rows = [(d, f"src{d % 3}", ["en", "fr", "de"][d % 3],
             f"Body text {d} & <none> 'quoted'")
            for d in (0, 1, 2, 5, 399, 400, 401, 1234)]
    # the concat propagates a null source, lang or text to the url/page
    rows += [(7, None, "en", "t"), (8, "src2", None, "t"), (9, "src0", "fr", None)]
    df = spark.createDataFrame(
        rows, "doc_id bigint, source string, lang string, text string")
    d = F.col("doc_id").cast("string")
    img_html = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit('<figure><img src="/img/'), d,
            F.lit('.png" alt="alt text" width="64" height="32">'),
            F.lit("<figcaption>Caption "), d, F.lit("</figcaption></figure>"),
        ),
    ).otherwise(F.lit(""))
    table_html = F.concat(
        F.lit("<table><thead><tr><th>Key</th><th>Value</th></tr></thead>"),
        F.lit("<tr><td>lang</td><td>"), F.col("lang"),
        F.lit("</td></tr><tr><td>bucket</td><td>b"),
        (F.col("doc_id") % 5).cast("string"), F.lit("</td></tr></table>"),
    )
    dl_html = F.concat(
        F.lit("<dl><dt>Lang</dt><dd>"), F.col("lang"),
        F.lit("</dd><dd>doc "), d,
        F.lit("</dd><dt>Bucket</dt><dd>b"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("</dd></dl>"),
    )
    html = F.concat(
        F.lit("<html><head><title>Doc "), d, F.lit(" | ExampleSite</title>"),
        F.lit('<meta name="description" content="'), F.col("lang"),
        F.lit(' article">'),
        F.lit('<meta property="og:title" content="OG Doc '), d, F.lit('">'),
        F.lit("</head><body><article><h1>Heading</h1><p>"), F.col("text"),
        F.lit('</p><a href="/next/'), (F.col("doc_id") + 1).cast("string"),
        F.lit('">next</a><a href="https://ext.com/e'), d, F.lit('">ext</a>'),
        img_html, table_html, dl_html, F.lit("</article></body></html>"),
    )
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/story-"), (F.col("doc_id") % 400).cast("string"),
    )
    jvm = {r.doc_id: (r.url, r.html) for r in
           df.select("doc_id", url.alias("url"), html.alias("html")).collect()}
    for doc_id, src, lang, text in rows:
        exp_url, exp_html = jvm[doc_id]
        assert E._synth_url(doc_id, src, lang) == exp_url
        assert E._synth_page_html(doc_id, lang, text) == exp_html
