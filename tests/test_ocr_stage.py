"""The fused OCR stage run as a plain function over pandas batches — no
Spark session: error absorption, PDF page expansion and the batch budget."""

from __future__ import annotations

import pandas as pd

from ner_ocr_spark import pdfio
from ner_ocr_spark.operators import extract
from ner_ocr_spark.operators.extract import make_ocr_stage


def _batch(*refs, kind="media"):
    return pd.DataFrame({
        "doc_id": ["d"] * len(refs),
        "span_idx": list(range(len(refs))),
        "kind": [kind] * len(refs),
        "media_ref": list(refs),
    })


def _run(stage, batch):
    return pd.concat(list(stage(iter([batch]))), ignore_index=True)


def test_resolver_failure_is_one_error_row():
    def boom(ref):
        raise RuntimeError("blob store unavailable")

    for gaz in (None, [("alice", "PER")]):
        out = _run(make_ocr_stage(boom, gazetteer=gaz), _batch("bad/ref"))
        assert len(out) == 1
        row = out.iloc[0]
        assert row["error"] == "RuntimeError: blob store unavailable"
        assert row["text"] is None and row["line_idx"] == 0
        assert row["kind"] == "media" and row["media_ref"] == "bad/ref"
        if gaz is not None:
            assert row["entities"] is None and row["bio"] is None


def test_zero_page_pdf_is_one_no_lines_row():
    blob = pdfio.encode_image_pdf([])
    stage = make_ocr_stage(lambda ref: blob, pdf_rasterizer="auto")
    out = _run(stage, _batch("empty.pdf", kind="pdf"))
    assert len(out) == 1
    row = out.iloc[0]
    assert row["error"] is None and row["text"] == ""
    assert row["score"] == 0.0 and row["line_idx"] == 0


def test_text_layer_pdf_page_emits_exact_lines():
    pages = [["FIRST PAGE LINE", "second line"], ["PAGE TWO"]]
    blob = pdfio.encode_text_pdf(pages)
    stage = make_ocr_stage(lambda ref: blob, pdf_rasterizer="auto")
    out = _run(stage, _batch("digital.pdf", kind="pdf"))
    assert list(out["line_idx"]) == [0, 1, extract.PAGE_STRIDE]
    assert list(out["text"]) == ["FIRST PAGE LINE", "second line", "PAGE TWO"]
    assert list(out["score"]) == [1.0, 1.0, 1.0]
    assert out["error"].isna().all() and out["box"].isna().all()


def test_batch_budget_turns_every_row_into_timeout(monkeypatch):
    monkeypatch.setattr(extract, "BATCH_TIMEOUT_S", 0.0)
    calls = []

    def resolver(ref):
        calls.append(ref)
        raise AssertionError("a row past the budget must not run")

    out = _run(make_ocr_stage(resolver), _batch("a", "b", "c"))
    assert calls == []
    assert list(out["span_idx"]) == [0, 1, 2]
    assert list(out["line_idx"]) == [0, 0, 0]
    assert out["error"].str.startswith("timeout:").all()
    assert out["text"].isna().all()
