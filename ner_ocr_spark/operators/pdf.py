"""PDF ingestion: 1:N page rasterization as a STANDALONE composable
operator (pages as an inspectable column -> JVM-side slice/posexplode).

The extraction pipeline itself no longer routes through this operator: it
sniffs %PDF- blobs inside the OCR mapInPandas stage (operators/extract.py)
so mixed corpora keep one scan / one shuffle / one python crossing and page
bitmaps never serialize through Arrow. Use pdf_to_pages when you want the
page PNGs as data — e.g. page-level sinks, page counting, or joining pages
with other tables.

Mirrors the reference's primary input path
(/root/reference/src/pdf_processing.py:21-73 — pypdfium2 render at
zoom=2.0, truncated to `max_num_imgs` pages; dispatched for '.pdf' at
/root/reference/src/bounding_box.py:300-303), re-expressed Spark-first:

  * the rasterizer runs inside ONE mapInPandas stage emitting an
    array<binary> of page PNGs per document (payload bytes never shuffle —
    the stage is map-only, so pages stay on the executor that rasterized
    them);
  * `max_num_imgs` is applied JVM-side with F.slice before posexplode —
    the reference's list truncation as a Catalyst expression;
  * no rasterizer backend in the container is an honest per-row error
    (M6 absorption), not a crash: pypdfium2 is probed as an optional
    dependency, and any callable (bytes, zoom) -> list[png bytes] plugs in
    (tests use a deterministic fake).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

Rasterizer = Callable[[bytes, float], list[bytes]]

PDF_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("span_idx", T.IntegerType(), False),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("pages", T.ArrayType(T.BinaryType()), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def default_rasterizer() -> Rasterizer | None:
    """pypdfium2-backed rasterizer when the library is present (it is not
    in this container); else the from-scratch pdfio extractor, which covers
    the scanned-document subset (one Flate/DCT image XObject per page) and
    raises a distinct per-row-absorbed error outside it. Matches the
    reference's render shape: page -> bitmap at `zoom` scale -> encoded
    image bytes."""
    try:
        import pypdfium2  # noqa: F401 — optional dependency
    except ImportError:
        from ner_ocr_spark.pdfio import pdfio_rasterizer

        return pdfio_rasterizer

    def rasterize(blob: bytes, zoom: float) -> list[bytes]:
        import numpy as np
        import pypdfium2 as pdfium

        from ner_ocr_spark.png import encode_gray

        doc = pdfium.PdfDocument(blob)
        out = []
        for page in doc:
            bitmap = page.render(scale=zoom).to_numpy()
            gray = bitmap if bitmap.ndim == 2 else bitmap[:, :, :3].mean(axis=2)
            out.append(encode_gray(np.asarray(gray, dtype="uint8")))
        return out

    return rasterize


def default_page_source() -> Rasterizer | None:
    """The PIPELINE's default pdf hook (extract_spans / make_refine_stage
    "auto"): pypdfium2 rasterization when installed (the reference's
    backend — renders every page including born-digital ones), else
    pdfio.pdfio_page_source, which returns image pages as PNG bytes AND
    born-digital text pages as str (the OCR stage emits those lines
    directly, skipping OCR). pdf_to_pages keeps default_rasterizer — its
    output column is binary, so text pages stay out-of-subset errors
    there."""
    try:
        import pypdfium2  # noqa: F401 — optional dependency
    except ImportError:
        from ner_ocr_spark.pdfio import pdfio_page_source

        return pdfio_page_source
    return default_rasterizer()


def make_pdf_stage(
    rasterizer: Rasterizer | None = None,
    blob_resolver: Callable[[str], bytes] | None = None,
    zoom: float = 2.0,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """mapInPandas: (doc_id, span_idx, media_ref[, payload]) ->
    PDF_PAGES_SCHEMA. Bytes come from the `payload` column when present,
    else blob_resolver(media_ref). Failures (including: no backend at all)
    become error rows."""

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rast = rasterizer if rasterizer is not None else default_rasterizer()
        for pdf in batches:
            has_payload = "payload" in pdf.columns
            out = {k: [] for k in PDF_PAGES_SCHEMA.fieldNames()}
            for row in pdf.itertuples(index=False):
                out["doc_id"].append(row.doc_id)
                out["span_idx"].append(int(row.span_idx))
                out["media_ref"].append(row.media_ref)
                try:
                    if rast is None:
                        raise NotImplementedError(
                            "no PDF rasterizer backend (install pypdfium2 or "
                            "pass rasterizer=...)"
                        )
                    blob = (
                        row.payload
                        if has_payload and row.payload is not None
                        else blob_resolver(row.media_ref)
                        if blob_resolver is not None
                        else None
                    )
                    if blob is None:
                        raise ValueError("no payload column and no blob_resolver")
                    pages = rast(bytes(blob), zoom)
                    out["pages"].append([bytearray(p) for p in pages])
                    out["error"].append(None)
                except Exception as e:  # noqa: BLE001 — M6 absorption
                    out["pages"].append(None)
                    out["error"].append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(out)

    return stage


PDF_REPORT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("page_idx", T.IntegerType(), True),
        T.StructField("page_kind", T.StringType(), True),
        T.StructField("page_text", T.StringType(), True),
        T.StructField("n_lines", T.IntegerType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("author", T.StringType(), True),
        T.StructField("n_pages", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def pdf_report(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Per-page PDF census over a (id, pdf bytes) table: one row per page
    with its kind ('image' raster page / 'text' born-digital) and the
    extracted text for text pages, plus the document's /Info metadata
    (title/author, decrypted when the file is encrypted) repeated per
    page. A zero-page document yields one metadata-only row; a file
    outside the subset yields one error row (M6 absorption). Map-only
    mapInPandas — payload bytes never shuffle."""

    def stage(batches):
        import pandas as pd

        from ner_ocr_spark import pdfio

        for pdf in batches:
            out: dict[str, list] = {k: [] for k in PDF_REPORT_SCHEMA.fieldNames()}

            def emit(did, page_idx=None, kind=None, text=None, n_lines=None,
                     title=None, author=None, n_pages=None, error=None):
                out["doc_id"].append(str(did))
                out["page_idx"].append(page_idx)
                out["page_kind"].append(kind)
                out["page_text"].append(text)
                out["n_lines"].append(n_lines)
                out["title"].append(title)
                out["author"].append(author)
                out["n_pages"].append(n_pages)
                out["error"].append(error)

            for row in pdf.itertuples(index=False):
                did = getattr(row, id_col)
                try:
                    blob = bytes(getattr(row, payload_col))
                    info = pdfio.pdf_info(blob)
                    title = info.get("Title")
                    author = info.get("Author")
                    n_pages = int(info.get("n_pages", 0))
                    pages = pdfio.extract_page_content(blob)
                    if not pages:
                        emit(did, title=title, author=author, n_pages=0)
                    for pi, (kind, v) in enumerate(pages):
                        if kind == "text":
                            emit(did, pi, "text", "\n".join(v), len(v),
                                 title, author, n_pages)
                        else:
                            emit(did, pi, "image", None, None,
                                 title, author, n_pages)
                except Exception as e:  # noqa: BLE001 — M6 absorption
                    emit(did, error=f"{type(e).__name__}: {e}")
            yield pd.DataFrame(
                {k: pd.Series(v, dtype=object) for k, v in out.items()}
            )

    return df.select(id_col, payload_col).mapInPandas(
        stage, PDF_REPORT_SCHEMA
    )


def pdf_to_pages(
    pdf_spans: DataFrame,
    rasterizer: Rasterizer | None = None,
    blob_resolver: Callable[[str], bytes] | None = None,
    zoom: float = 2.0,
    max_num_imgs: int | None = None,
) -> DataFrame:
    """PDF spans -> page rows (doc_id, span_idx, media_ref, page_idx,
    image_png, error): one row per rasterized page, truncated to
    max_num_imgs JVM-side (F.slice — the reference's max_num_imgs
    semantics); a span whose blob could not be rasterized yields ONE row
    with image_png NULL and `error` set.

    Single posexplode_outer over ONE mapInPandas output: a filter-fork
    into separate ok/err DataFrames would execute the rasterizer stage
    TWICE (each consumer re-runs the plan) — the error rows instead ride
    the same stream; consumers split pages from failures on `error`."""
    raw = pdf_spans.mapInPandas(
        make_pdf_stage(rasterizer, blob_resolver, zoom), PDF_PAGES_SCHEMA
    )
    pages_expr = (
        F.col("pages") if max_num_imgs is None
        else F.slice("pages", 1, int(max_num_imgs))
    )
    return raw.select(
        "doc_id", "span_idx", "media_ref", "error",
        F.posexplode_outer(pages_expr).alias("page_idx", "image_png"),
    )
