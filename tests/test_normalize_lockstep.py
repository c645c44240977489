"""Lockstep pins between the JVM expressions and their python twins
(CLAUDE.md invariant: kernels/normalize.py and operators/normalize.py must
agree byte-for-byte — the fused OCR stage uses the python twin while the
text branch uses the JVM expression)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ner_ocr_spark.kernels.normalize import normalize_text
from ner_ocr_spark.operators.normalize import normalize_expr, refined_text_expr

# edge newlines/tabs are legal input (the normalizer handles interior
# newlines explicitly) — round-1 ADVICE: F.trim stripped spaces only
EDGE_CASES = [
    None,
    "",
    "plain text",
    "  A  B  ",
    "\nabc",
    "abc\n",
    "\n\tabc\t\n",
    "\r\nwindows line\r\n",
    "\x0b vertical tab \x0c",
    " [[BOILER]] kept \n next ",
    "[[ALL OF IT]]",
    "a \n b \n\n c",
    "\n",
    " \t ",
]


def test_normalize_twins_lockstep(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(EDGE_CASES)],
                               "i int, t string")
    got = {r["i"]: r["n"] for r in
           df.select("i", normalize_expr(F.col("t")).alias("n")).collect()}
    for i, t in enumerate(EDGE_CASES):
        assert got[i] == normalize_text(t), repr(t)


def test_refined_text_twins_lockstep(spark):
    """P4 final-text choice: enhanced wins ONLY when it normalizes
    non-blank; JVM expr == python twin on every (transformer, text) pair."""
    pairs = [(a, b) for a in EDGE_CASES for b in EDGE_CASES]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "i int, t2 string, t1 string"
    )
    got = {r["i"]: r["f"] for r in df.select(
        "i", refined_text_expr(F.col("t2"), F.col("t1")).alias("f")).collect()}
    for i, (a, b) in enumerate(pairs):
        want = normalize_text(a) or normalize_text(b)
        assert got[i] == want, (repr(a), repr(b))


def test_lang_id_tie_priority(spark):
    """Equal marker hits resolve by the pinned priority zh>fr>es>de>en on
    BOTH engines (round-1 ADVICE: array_max's implicit string tiebreak gave
    'en' on en/de ties while the oracle CASE gave 'de')."""
    from ner_ocr_spark.operators.textstats import lang_id

    rows = [
        (0, "the und"),            # en=1, de=1 tie -> de
        (1, "the shi"),            # en=1, zh=1 tie -> zh
        (2, "ist est es y con"),   # de=1, fr=1, es=3 -> es wins on hits
        (3, "xyzzy qwerty"),       # zero evidence -> en
        (4, "the and of"),         # en alone -> en
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r["lang_pred"] for r in lang_id(df).collect()}
    assert got == {0: "de", 1: "zh", 2: "es", 3: "en", 4: "en"}


def test_error_rows_mode_invariant(spark, monkeypatch):
    """A failing media span and a failing html span produce identical
    (text, error-shape) rows in fused (with_ner=True) and non-fused modes
    — no normalization or tagging runs on error rows (round-1 ADVICE)."""
    from tests.conftest import DOC_SCHEMA

    from ner_ocr_spark import htmlx, pipeline

    def broken_main_text(html):
        raise ValueError("unparseable page")

    monkeypatch.setattr(htmlx, "main_text", broken_main_text)
    docs = spark.createDataFrame(
        [{"doc_id": "d0",
          "spans": [
              {"kind": "text", "text": "HELLO WORLD", "media_ref": None, "offset": 0},
              {"kind": "media", "text": None, "media_ref": "bad/ref", "offset": 1},
              {"kind": "html", "text": "<p>ALICE</p>", "media_ref": None, "offset": 2},
          ]}],
        DOC_SCHEMA,
    )

    def boom(ref):
        raise RuntimeError("blob store unavailable")

    fused = pipeline.extract_spans(docs, blob_resolver=boom, with_ner=True)
    plain = pipeline.extract_spans(docs, blob_resolver=boom, with_ner=False)
    frows = fused.filter("error is not null").orderBy("span_idx").collect()
    prows = plain.filter("error is not null").orderBy("span_idx").collect()
    assert len(frows) == len(prows) == 2
    for f, p in zip(frows, prows):
        assert f["text"] is None and p["text"] is None
        assert f["entities"] is None and f["bio"] is None
        assert (f["span_idx"], f["kind"], f["error"]) == \
            (p["span_idx"], p["kind"], p["error"])
    assert frows[0]["error"].startswith("RuntimeError")
    assert frows[1]["error"] == "html: ValueError: unparseable page"
