"""W5/N6 summary parity with the reference's buildSummary
(/root/reference/controllers/summary.js; golden scenario mirrored from
/root/reference/tests/summary.test.js:5-36)."""

import pyspark.sql.functions as F

from horseman_article_parser_spark.operators.summary import (
    MAX_SENTENCES,
    build_summary,
    summarize,
)

WINTER_TEXT = "\n".join(
    [
        "Check your heating before winter starts.",
        "The Energy Saving Trust says 60% of bills go to heating.",
        "This simple audit can prevent breakdowns.",
        "",
        "Draft proofing doors can cut bills by 15%, according to Ofgem.",
        "The charity adds that sealing windows helps older homes.",
        "",
        "Smart meters help track usage, the report found.",
        "Residents in Glasgow saved £120 last year.",
        "Support is available for low-income households.",
    ]
)


def test_summary_selects_informative_sentences():
    s = build_summary(
        WINTER_TEXT,
        title="How to prepare your home for winter",
        meta_description="Check heating, seal draughts and use smart meters to cut bills",
    )
    sents = s["sentences"]
    assert 3 <= len(sents) <= 5
    assert "Check your heating before winter starts." in sents
    assert any("15%" in x for x in sents)
    assert any(x.startswith("Smart meters help track usage") for x in sents)
    assert any(any(c.isdigit() for c in x) for x in sents)
    # original-order output (summary.js:169-173)
    positions = [WINTER_TEXT.index(x) for x in sents]
    assert positions == sorted(positions)


def test_summary_noise_penalty_and_empty():
    assert build_summary("") == {"text": "", "sentences": []}
    assert build_summary(None) == {"text": "", "sentences": []}
    noisy = (
        "Subscribe to our newsletter today for updates.\n\n"
        "The council approved a £2 million budget for road repairs, according to the report.\n\n"
        "Cookies are used on this site for advertising purposes always."
    )
    s = build_summary(noisy, title="Council budget approved")
    assert any("2 million" in x for x in s["sentences"])
    # ranking check: six sentences, one paragraph, MAX_SENTENCES = 5
    # kept. An opener carries the largest position bonus; noise-penalized,
    # it is the one sentence dropped, while a plain opener stays.
    body = ("The council met in the old hall to review the road plans. "
            "Residents asked the council about the state of local bridges. "
            "Several speakers urged the council to fund more street lighting. "
            "A long queue formed as the council opened the public session. "
            "Late in the evening the council closed the session with thanks.")
    noise = "Subscribe to our newsletter today for updates. "
    plain = "Residents met at the town hall today for the talks. "
    assert MAX_SENTENCES == 5
    top = build_summary(noise + body, title="Council budget approved")
    assert top["sentences"] == [x + "." for x in body[:-1].split(". ")]
    top = build_summary(plain + body, title="Council budget approved")
    assert top["sentences"][0] == plain.strip()


def test_summary_single_paragraph_fallback():
    text = "Short one. Another tiny. Third bit here."
    s = build_summary(text)
    assert s["sentences"]  # greedy or fallback path, never empty


def test_summarize_dataframe_op(spark):
    df = spark.createDataFrame(
        [(0, WINTER_TEXT), (1, "")], "doc_id long, text string"
    )
    out = summarize(df, title_col=F.lit("How to prepare your home for winter")).select(
        "doc_id", "summary.*"
    )
    rows = {r.doc_id: r for r in out.collect()}
    expected = build_summary(
        WINTER_TEXT, title="How to prepare your home for winter"
    )
    assert rows[0].sentences == expected["sentences"]
    assert rows[1].sentences == []
