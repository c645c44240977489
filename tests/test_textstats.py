"""Winnowing fingerprint semantics (textstats.fingerprint, round-2: real
winnowing replacing the per-char rolling-hash fold)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ner_ocr_spark.operators.textstats import fingerprint

K, W = 8, 16


def _fp(spark, texts: list[str]):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    rows = fingerprint(df, k=K, window=W).select(
        "doc_id", "fingerprint", "fingerprint_digest"
    ).collect()
    return {r["doc_id"]: (list(r["fingerprint"]), r["fingerprint_digest"]) for r in rows}


def test_whitespace_edit_keeps_fingerprint(spark):
    base = "The quick   brown fox jumps over the lazy dog near the river bank"
    edited = "  the QUICK brown  fox jumps over the lazy dog near the river bank "
    got = _fp(spark, [base, edited])
    assert got[0] == got[1]


def test_different_text_changes_fingerprint(spark):
    got = _fp(spark, [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "completely unrelated content with other words entirely here",
    ])
    assert got[0][1] != got[1][1]


def test_shared_run_guarantee(spark):
    """Winnowing guarantee: two documents sharing a character run of
    length >= window + k - 1 share at least one selected hash."""
    shared = "x" * 0 + "this exact shared passage is long enough to guarantee overlap"
    assert len(shared) >= W + K - 1
    a = "prefix words before. " + shared
    b = shared + " .completely different suffix content follows"
    got = _fp(spark, [a, b])
    assert set(got[0][0]) & set(got[1][0]), "no shared winnowing hash"


def test_fingerprint_sorted_distinct(spark):
    got = _fp(spark, ["some repeated phrase some repeated phrase some repeated phrase"])
    fp = got[0][0]
    assert fp == sorted(set(fp))


def test_short_text_single_window(spark):
    # shorter than k: one gram, one window — still a valid fingerprint
    got = _fp(spark, ["abc", "abc", "abd"])
    assert got[0] == got[1]
    assert got[0][1] != got[2][1]
    assert len(got[0][0]) == 1


def test_quality_and_lang_id_keep_colliding_caller_columns(spark):
    """Caller columns named like the operators' temporaries (`_qf_*`,
    `_li_*`) survive untouched, and the features match a frame without
    them."""
    from ner_ocr_spark.operators.textstats import lang_id, quality_features

    texts = ["the cat and the dog is with the bird", "der Hund und die Katze",
             "x", ""]
    base = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    temps = ["_qf_words", "_qf_nw", "_qf_ns", "_li_words", "_li_best"]
    caller = base
    for j, name in enumerate(temps):
        caller = caller.withColumn(name, F.lit(f"caller-{j}"))

    for op in (quality_features, lang_id):
        want = {r["doc_id"]: r.asDict() for r in op(base).collect()}
        got = op(caller)
        assert got.columns == caller.columns + [
            c for c in op(base).columns if c not in base.columns
        ]
        for r in got.collect():
            d = r.asDict()
            assert [d[n] for n in temps] == [
                f"caller-{j}" for j in range(len(temps))
            ]
            assert {k: d[k] for k in want[r["doc_id"]]} == want[r["doc_id"]]
