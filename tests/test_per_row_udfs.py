"""Every per-row DataFrame op returns exactly its per-row function's
output: `op(df)` equals `[fn(x) for x in inputs]`, in input order, over
a two-partition frame whose partitions each end with a null, an empty
and a whitespace-only row. Media ops also get a corrupt payload."""

import numpy as np
import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from horseman_article_parser_spark.codecs.audio import encode_wav
from horseman_article_parser_spark.codecs.images import encode_png
from horseman_article_parser_spark.codecs.video import encode_video
from horseman_article_parser_spark.datagen.av import synth_audio, synth_frame
from horseman_article_parser_spark.functions.urls import (
    canonicalize_url,
    canonicalize_url_udf,
)
from horseman_article_parser_spark.operators import content_detector as CD
from horseman_article_parser_spark.operators import multimodal as MM
from horseman_article_parser_spark.operators.entities import (
    ENTITIES_STRUCT,
    extract_entities,
    extract_entities_df,
)
from horseman_article_parser_spark.operators.extract import (
    ARTICLE_STRUCT,
    JSONLD_ARTICLE_FIELDS,
    extract_article,
    extract_articles,
)
from horseman_article_parser_spark.operators.liveblog import (
    LIVEBLOG_STRUCT,
    build_liveblog_summary,
    liveblog_summaries,
)
from horseman_article_parser_spark.operators.summary import (
    SUMMARY_STRUCT,
    build_summary,
    summarize,
)
from horseman_article_parser_spark.operators.textrender import (
    TEXTS_STRUCT,
    render_page,
    render_texts,
)

BLANKS = [None, "", " \t\n"]
BODY = "Real article content with punctuation, clauses; and facts. " * 10
URL = "https://news.example.com/world/story-1"
LIVE = (
    "<html><body><article>"
    + "".join(
        f'<div class="update"><time>{j}:00</time><h2>Update title number {j}'
        f"</h2><p>{BODY[:90]}</p></div>"
        for j in range(6)
    )
    + "</article></body></html>"
)
ARTICLE = (
    "<html><head><title>Doc 7 | Example</title>"
    '<meta name="description" content="en article"></head><body>'
    '<nav><a href="/a">Home</a></nav><article><h1>Heading</h1>'
    f"<p>{BODY}</p><p>Alice Smith met Bob Jones in Paris.</p>"
    '<a href="/next/8">next</a><figure><img src="/img/7.png" alt="alt" '
    'width="64" height="32"><figcaption>Caption 7</figcaption></figure>'
    '<div class="newsletter-signup"><p>Sign up for our newsletter.</p></div>'
    "</article></body></html>"
)
TEXT = ("Alice Smith met Bob Jones in Paris on Monday. The report said "
        "revenue rose 12 percent, according to the survey. Analysts in "
        "London expect more growth.")
URLS = ["HTTP://Example.COM:80/a/b?q=1#frag", "https://x.org:8443", "no scheme"]


def _png() -> bytes:
    px = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    return encode_png(px)


def _wav() -> bytes:
    samples, sr, _, _ = synth_audio(3)
    return encode_wav(samples, sr)


def _video() -> bytes:
    return encode_video([synth_frame(1, f, 16, 12) for f in range(12)], fps=30)


CORRUPT = b"\x00\x00\x00\x18ftypmp42garbage"


def _struct(t: T.StructType):
    """View of an op whose output flattens struct `t` into columns."""
    return lambda out: out.select(F.struct(*t.fieldNames()).alias("v"))


def _col(name: str):
    return lambda out: out.select(F.col(name).alias("v"))


# name -> (input column, its type, good inputs, op over the frame,
#          view of the op's output as one column `v`, per-row function,
#          its return type, one row per input (False) or a list (True))
CASES = {
    "liveblog_summaries": (
        "html", "string", [LIVE, ARTICLE], liveblog_summaries,
        _col("liveblog"), build_liveblog_summary, LIVEBLOG_STRUCT, False),
    "extract_entities_df": (
        "text", "string", [TEXT], extract_entities_df,
        _col("entities"), extract_entities, ENTITIES_STRUCT, False),
    "detect_containers": (
        "html", "string", [ARTICLE, LIVE], CD.detect_containers,
        _struct(CD.DETECT_STRUCT), CD.detect_container, CD.DETECT_STRUCT,
        False),
    "candidate_features": (
        "html", "string", [ARTICLE, LIVE], CD.candidate_features,
        _struct(CD.CANDIDATE_STRUCT), CD.page_candidates, CD.CANDIDATE_STRUCT,
        True),
    "render_texts": (
        "html", "string", [ARTICLE, LIVE],
        lambda df: render_texts(df.withColumn("title", F.lit("My Story")),
                                title_col="title"),
        _col("texts"), lambda h: render_page(h, "My Story", False),
        TEXTS_STRUCT, False),
    "render_texts_strip_boilerplate": (
        "html", "string", [ARTICLE, LIVE],
        lambda df: render_texts(df, strip_boilerplate=True),
        _col("texts"), lambda h: render_page(h, None, True), TEXTS_STRUCT,
        False),
    "extract_articles": (
        "html", "string", [ARTICLE, LIVE],
        lambda df: extract_articles(df.withColumn("url", F.lit(URL))),
        _col("article"),
        lambda h: extract_article(URL, h, JSONLD_ARTICLE_FIELDS), ARTICLE_STRUCT,
        False),
    "summarize": (
        "text", "string", [TEXT], summarize, _col("summary"),
        lambda t: build_summary(t, "", ""), SUMMARY_STRUCT, False),
    "canonicalize_url_udf": (
        "url", "string", URLS,
        lambda df: df.select(canonicalize_url_udf("url").alias("v")),
        _col("v"), canonicalize_url, T.StringType(), False),
    "image_features": (
        "bytes", "binary", [_png(), CORRUPT],
        lambda df: MM.image_features(df.select(
            F.col("doc_id").alias("image_id"), "bytes", F.lit(8).alias("w"),
            F.lit(8).alias("h"), F.lit("png").alias("fmt"))),
        _struct(MM.IMAGE_STATS_STRUCT), MM.image_stats, MM.IMAGE_STATS_STRUCT,
        False),
    "audio_features": (
        "bytes", "binary", [_wav(), CORRUPT],
        lambda df: MM.audio_features(df.withColumnRenamed("doc_id", "clip_id")),
        _struct(MM.AUDIO_STATS_STRUCT), MM.audio_stats, MM.AUDIO_STATS_STRUCT,
        False),
    "sample_frames": (
        "bytes", "binary", [_video(), CORRUPT],
        lambda df: MM.sample_frames(df.withColumnRenamed("doc_id", "video_id")),
        _struct(MM.FRAME_STRUCT), MM.frame_samples,
        MM.FRAME_STRUCT, True),
}


def _conform(v, t: T.DataType):
    """A Python value as Spark returns it for type `t`: a struct as the
    dict of exactly its fields (a missing key is null), arrays as lists,
    maps as dicts, floating point as float, binary as bytes."""
    if v is None:
        return None
    if isinstance(t, T.StructType):
        d = v.asDict() if isinstance(v, Row) else v
        return {f.name: _conform(d.get(f.name), f.dataType) for f in t.fields}
    if isinstance(t, T.ArrayType):
        return [_conform(x, t.elementType) for x in v]
    if isinstance(t, T.MapType):
        return {k: _conform(x, t.valueType) for k, x in dict(v).items()}
    if isinstance(t, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(t, T.BinaryType):
        return bytes(v)
    return v


@pytest.mark.parametrize("name", sorted(CASES))
def test_op_returns_its_per_row_function(spark, name):
    col, typ, good, op, view, fn, rtype, many = CASES[name]
    blanks = ([None, b"", b" \t\n"] if typ == "binary" else BLANKS)
    part = good + blanks
    inputs = part + part  # two partitions, each ending with the blanks
    rows = [(f"k{i}", x) for i, x in enumerate(inputs)]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), f"doc_id string, {col} {typ}")
    assert df.rdd.glom().map(len).collect() == [len(part), len(part)]

    got = [_conform(r.v, rtype) for r in view(op(df)).collect()]
    want = [_conform(v, rtype)
            for x in inputs for v in (fn(x) if many else [fn(x)])]
    assert got == want
