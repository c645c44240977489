"""Seeded inputs for the benchmark workloads, and their expected outputs.

Every generator is a pure function of the seed: document ids are
`doc{seed * 10**6 + j:08d}` (so each seed gives different documents) and
every span comes from `ner_ocr_spark.corpus`, whose content is itself a pure
function of the document id.

Work per seed is held constant on purpose. Span counts per document are
geometric and heavy documents carry 40-80 media spans, so a fixed document
count would let the amount of OCR or NER work swing by 15-20% from seed to
seed, and the end-to-end timings with it. Candidates are therefore accepted
in id order only while the running span total stays within a few spans of
the target line; the documents themselves are unmodified generator output.
"""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ner_ocr_spark import corpus, lineage, oracle, pipeline
from ner_ocr_spark.kernels.normalize import normalize_text

OCR_NORMAL_DOCS = 48
OCR_MEDIA_PER_DOC = 2.0  # corpus.doc_spans averages ~2.2 media spans per doc
OCR_HEAVY_DOCS = 2
OCR_HEAVY_MEDIA = 56  # accepted heavy docs carry 56 +- 2 media spans

TEXT_SPANS_PER_DOC = 4.5
HTML_SHARE = 0.2

CKPT_TEXT_DOCS = 300
CKPT_CHUNKS = 2

CURATE_ROWS = 12000
CURATE_MEGA_SHARE = 0.35
CURATE_LANGS = (("en", 0.4), ("de", 0.2), ("fr", 0.15), ("es", 0.15), ("zh", 0.1))

# the html span template: nav, script and footer boilerplate around the
# content paragraph, after the interleaved page in tests/test_html.py
HTML_PAGE = (
    '<html><head><title>page</title><script>var x = "<p>no</p>";'
    " if (a < b) x = 1;</script></head><body>"
    '<nav class="nav"><a href="/">Home</a> <a href="/a">About</a></nav>'
    '<div id="c" class="content"><p>{}</p></div>'
    '<footer><a href="#">Contact</a> &copy; corp</footer></body></html>'
)


def _unit(*parts: object) -> float:
    h = hashlib.sha256("|".join(str(p) for p in parts).encode()).digest()
    return int.from_bytes(h[:8], "big") / 2.0**64


def _doc_id(seed: int, j: int) -> str:
    return corpus.doc_id_for(seed * 10**6 + j)


def _accept_on_track(candidates, weight, n_docs: int, per_doc: float, tol: float):
    """Take candidates in order while the running weight stays within `tol`
    of `per_doc` times the accepted count."""
    out, total = [], 0.0
    for cand in candidates:
        w = weight(cand)
        if abs(total + w - per_doc * (len(out) + 1)) <= tol:
            out.append(cand)
            total += w
            if len(out) == n_docs:
                return out
    raise RuntimeError("candidate stream exhausted")  # pragma: no cover


def _n_media(spans: list[dict]) -> int:
    return sum(1 for s in spans if s["kind"] == "media")


@dataclass
class Corpus:
    """Generated documents plus the reference span sequence of each."""

    rows: list[dict]  # {doc_id, spans}, the pipeline's input shape
    expected: dict[str, list[tuple]] = field(default_factory=dict)
    heavy: set[str] = field(default_factory=set)

    @property
    def n_docs(self) -> int:
        return len(self.rows)

    def text_spans(self) -> list[tuple[str, str, str]]:
        """(doc_id, kind, raw text) for every text and html span."""
        return [
            (r["doc_id"], s["kind"], s["text"])
            for r in self.rows
            for s in r["spans"]
            if s["kind"] in ("text", "html")
        ]

    def media_refs(self) -> list[str]:
        return [
            s["media_ref"]
            for r in self.rows
            for s in r["spans"]
            if s["kind"] == "media"
        ]


def _html_page(seed: int, doc_id: str, i: int) -> bool:
    """Whether the i-th text span of doc_id is served as an html page."""
    return _unit("html", seed, doc_id, i) < HTML_SHARE


def ocr_media_corpus(seed: int) -> Corpus:
    """corpus.doc_spans documents (30% media spans) plus heavy documents
    with 40-80 media spans each, resolved by the default blob resolver.
    About a fifth of the text spans are wrapped as html pages; the
    reference is oracle.expected_spans with those spans' kind set to html
    (an html span must yield the sentence it wraps)."""
    normal = _accept_on_track(
        (_doc_id(seed, j) for j in range(10**5)),
        lambda d: _n_media(corpus.doc_spans(d)),
        OCR_NORMAL_DOCS, OCR_MEDIA_PER_DOC, 2.0,
    )
    heavy = list(itertools.islice(
        (d for d in (_doc_id(seed, 500_000 + j) for j in range(10**5))
         if abs(_n_media(corpus.doc_spans(d, heavy=True)) - OCR_HEAVY_MEDIA) <= 2),
        OCR_HEAVY_DOCS,
    ))
    out = Corpus(rows=[], heavy=set(heavy))
    for d in normal + heavy:
        rows = oracle.expected_spans(d, heavy=d in out.heavy)
        spans, exp, k, n_text = [], [], 0, 0
        # the oracle's rows in order: one per non-empty text span, then the
        # lines of each media span
        for s in corpus.doc_spans(d, heavy=d in out.heavy):
            if s["kind"] == "media":
                spans.append(s)
                while k < len(rows) and rows[k]["media_ref"] == s["media_ref"]:
                    exp.append(("media", rows[k]["text"], s["media_ref"]))
                    k += 1
                continue
            html = _html_page(seed, d, n_text)
            n_text += 1
            spans.append({**s, "kind": "html", "text": HTML_PAGE.format(s["text"])}
                         if html else s)
            if normalize_text(s["text"]):
                exp.append(("html" if html else "text", rows[k]["text"], None))
                k += 1
        if k != len(rows):
            raise RuntimeError(f"{d}: spans and oracle rows do not line up")
        out.rows.append({"doc_id": d, "spans": spans})
        out.expected[d] = exp
    return out


def _text_html_spans(seed: int, doc_id: str) -> tuple[list[dict], list[str]]:
    """The doc's spans with media removed and about a fifth of the text
    spans wrapped as html pages (offsets renumbered), plus the sentence
    each span carries."""
    spans, sentences = [], []
    for i, s in enumerate(s for s in corpus.doc_spans(doc_id) if s["kind"] == "text"):
        html = _html_page(seed, doc_id, i)
        spans.append({
            "kind": "html" if html else "text",
            "text": HTML_PAGE.format(s["text"]) if html else s["text"],
            "media_ref": None,
            "offset": i,
        })
        sentences.append(s["text"])
    return spans, sentences


def text_html_corpus(seed: int, n_docs: int, first: int = 0) -> Corpus:
    """Text-only documents with ids from `first` on, a fifth of the text
    spans as html pages.

    Documents whose spans were all media keep an empty span list: they
    extract to nothing, which is what the resume path of run_checkpointed
    has to cope with."""
    cands = (
        (d, *_text_html_spans(seed, d))
        for d in (_doc_id(seed, first + j) for j in range(10**5))
    )
    docs = _accept_on_track(cands, lambda c: len(c[1]), n_docs, TEXT_SPANS_PER_DOC, 8.0)
    out = Corpus(rows=[])
    for d, spans, sentences in docs:
        out.rows.append({"doc_id": d, "spans": spans})
        # an html span's known content is the sentence it wraps
        out.expected[d] = [
            (s["kind"], t, None)
            for s, t in zip(spans, map(normalize_text, sentences))
            if t
        ]
    return out


def extraction_corpus(seed: int) -> Corpus:
    """The OCR-heavy documents followed by the text and html documents."""
    ocr = ocr_media_corpus(seed)
    text = text_html_corpus(seed, CKPT_TEXT_DOCS, first=200_000)
    return Corpus(rows=ocr.rows + text.rows, expected={**ocr.expected, **text.expected},
                  heavy=ocr.heavy)


# -- curation ----------------------------------------------------------------

_VOCAB = (
    "the a of and to in is on for with data table spark query window merge "
    "join batch stream vector filter order group value column row key hash "
    "sort scan part line agg customer fast slow small big river stone cloud "
    "light paper green north south house plant metal glass train city road"
).split()


def curation_frame(seed: int):
    """(doc_id bigint, lang, text) rows: mixed languages, mostly distinct
    texts, and one duplicate cluster holding CURATE_MEGA_SHARE of the rows
    (case and whitespace variants of one text, so they share a dedup key).
    About 5% of rows are too short to pass the quality rules."""
    import pandas as pd

    rng = np.random.RandomState(seed % 2**32)
    n = CURATE_ROWS
    names = [l for l, _ in CURATE_LANGS]
    probs = np.array([p for _, p in CURATE_LANGS])
    langs = rng.choice(names, size=n, p=probs / probs.sum())
    lens = rng.randint(20, 90, size=n)
    short = rng.rand(n) < 0.05
    lens[short] = rng.randint(1, 4, size=int(short.sum()))
    words = rng.randint(0, len(_VOCAB), size=int(lens.sum()))
    vocab = np.array(_VOCAB, dtype=object)
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(ws) for ws in np.split(vocab[words], cuts)]
    mega = " ".join(vocab[rng.randint(0, len(_VOCAB), size=60)])
    in_mega = rng.rand(n) < CURATE_MEGA_SHARE
    variants = (mega, mega.upper(), "  " + mega.replace(" ", "  ") + " ", mega.title())
    pick = rng.randint(0, len(variants), size=n)
    for i in np.flatnonzero(in_mega):
        texts[i] = variants[pick[i]]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64) + seed * 10**7,
        "lang": langs.astype(object),
        "text": texts,
    })


# -- workloads: load, one measured pass, output check -------------------------

DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(T.StructType([
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ])), False),
])

SPAN_KEY = ["doc_id", "span_idx", "line_idx", "kind", "text", "media_ref", "error"]

# misread pages allowed before the OCR check calls the output wrong: the
# classical recogniser misreads ~0.25% of corpus pages (T->I, E->F, D->O);
# every misread is counted in `failed` either way
MAX_MISREAD_PAGE_FRAC = 0.02


@dataclass
class Check:
    attempted: int
    failed: int = 0
    mismatched: int = 0
    correct: bool = True
    error_rows: int = 0
    span_rows: int = 0
    notes: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)


def _doc_frame(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Documents shipped through Arrow, which slices them into
    defaultParallelism (k under local[k]) partitions."""
    import pandas as pd

    pdf = pd.DataFrame({"doc_id": [r["doc_id"] for r in rows],
                        "spans": [r["spans"] for r in rows]})
    return spark.createDataFrame(pdf, DOC_SCHEMA)


def untraced(name: str, trace_id: str | None = None):
    return contextlib.nullcontext()


@contextlib.contextmanager
def job_group(spark: SparkSession, group: str | None):
    """Run the enclosed jobs under a Spark job group (none when None)."""
    if group is None:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _compare_docs(got: dict[str, list[tuple]], want: dict[str, list[tuple]],
                  check: Check) -> None:
    """Span-sequence equality per document; a document with no expected
    span must be absent. A difference confined to the text of media lines
    is an OCR misread; anything else (order, kinds, line counts, text or
    html spans) is a structural mismatch and makes the output wrong."""
    misread_pages: set[str] = set()
    for doc_id, exp in want.items():
        out = got.get(doc_id, [])
        if out == exp and (exp or doc_id not in got):
            continue
        check.mismatched += 1
        same_shape = len(out) == len(exp) and all(
            g[0] == e[0] and g[2] == e[2] and (g[1] == e[1] or g[0] == "media")
            for g, e in zip(out, exp)
        )
        if same_shape and exp:
            misread_pages.update(e[2] for g, e in zip(out, exp) if g[1] != e[1])
        else:
            check.correct = False
            check.notes.append(f"structural mismatch in {doc_id}")
    extra = set(got) - set(want)
    if extra:
        check.correct = False
        check.mismatched += len(extra)
        check.notes.append(f"{len(extra)} unexpected documents")
    check.layer["check.misread_pages"] = len(misread_pages)
    if misread_pages:
        check.notes.append("misread pages: " + ", ".join(sorted(misread_pages)))


class ExtractionWorkload:
    """lineage.run_checkpointed over the OCR-heavy and the text and html
    documents into a fresh directory: the first call stops after half the
    chunks, a second call resumes, and assemble_documents collects the
    committed spans as documents. The check compares the committed output
    with a plain extraction and the documents with the reference."""

    name = "ocr_html_checkpoint"
    # on 3 cores; sets the pass count of a run. The light warm-up leaves
    # the checkpoint's plans cold, so the first measured pass runs 30-70%
    # slower than the others and the median passes over it.
    nominal_pass_s = 8.0

    def __init__(self, work_dir: Path):
        self.work_dir = work_dir
        self.passes = 0

    def generate(self, seed: int) -> None:
        self.corpus = extraction_corpus(seed)
        self.n_docs = self.corpus.n_docs

    def load(self, spark: SparkSession) -> None:
        self.df = _doc_frame(spark, self.corpus.rows).cache()
        self.df.count()

    def warm(self, spark: SparkSession, k: int) -> None:
        """Extract and assemble two light OCR documents and two text
        documents per core: enough to compile the extraction plans' code
        and start a Python worker per core, without the heavy docs."""
        light = [r for r in self.corpus.rows
                 if r["doc_id"] not in self.corpus.heavy and 1 <= _n_media(r["spans"]) <= 2]
        text = [r for r in self.corpus.rows if r["spans"] and not _n_media(r["spans"])]
        df = _doc_frame(spark, light[: 2 * k] + text[: 2 * k])
        pipeline.assemble_documents(pipeline.extract_spans(df)).collect()

    def out_dir(self) -> str:
        return str(self.work_dir / f"pass-{self.passes}")

    def prepare_pass(self) -> None:
        if self.passes:
            shutil.rmtree(self.out_dir(), ignore_errors=True)
        self.passes += 1

    def run_pass(self, spark: SparkSession, span=untraced, group=None) -> dict:
        """First invocation up to half the chunks, the resume, then the
        assembly; job groups `<group>-first`, `<group>-resume` and
        `<group>-assemble`."""
        out = self.out_dir()
        with job_group(spark, group and f"{group}-first"), \
                span("lineage.run_checkpointed"):
            self.first = lineage.run_checkpointed(
                spark, self.df, out, n_chunks=CKPT_CHUNKS, max_chunks=CKPT_CHUNKS // 2)
        t0 = time.perf_counter()
        with job_group(spark, group and f"{group}-resume"), \
                span("lineage.run_checkpointed"):
            lineage.run_checkpointed(spark, self.df, out, n_chunks=CKPT_CHUNKS)
        resume_s = time.perf_counter() - t0
        with job_group(spark, group and f"{group}-assemble"):
            with span("lineage.read_output"):
                committed = lineage.read_output(spark, out)
            with span("pipeline.assemble_documents"):
                docs = pipeline.assemble_documents(committed)
            with span("DataFrame.collect"):
                self.result = docs.collect()
        return {"resume_s": resume_s}

    def check(self, spark: SparkSession) -> Check:
        out = lineage.read_output(spark, self.out_dir()).select(*SPAN_KEY).collect()
        plain = pipeline.extract_spans(self.df).select(*SPAN_KEY).collect()
        check = Check(attempted=self.n_docs, span_rows=len(out),
                      error_rows=sum(1 for r in out if r["error"] is not None))
        keys = Counter(tuple(r[:3]) for r in out)
        dups = sum(n - 1 for n in keys.values())
        if dups:
            check.notes.append(f"{dups} duplicate (doc_id, span_idx, line_idx) rows")
        if Counter(map(tuple, out)) != Counter(map(tuple, plain)):
            check.notes.append("resumed output differs from plain extraction")
            check.correct = False
        got = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
               for r in self.result}
        _compare_docs(got, self.corpus.expected, check)
        pages = len(self.corpus.media_refs())
        if check.layer["check.misread_pages"] > MAX_MISREAD_PAGE_FRAC * pages:
            check.correct = False
        check.failed = check.mismatched + dups + check.error_rows
        check.correct = check.correct and dups == 0 and check.error_rows == 0
        return check


class CurationWorkload:
    """curation.curate over (doc_id, lang, text) rows with one duplicate
    mega-cluster; a pass collects the packing placement, which the check
    compares with the DuckDB twin of the registered query."""

    name = "curate_dup_skew"
    nominal_pass_s = 2.0  # on 3 cores
    rates = {"en": 0.6, "de": 0.3}

    def generate(self, seed: int) -> None:
        self.frame = curation_frame(seed)
        self.n_docs = len(self.frame)

    def load(self, spark: SparkSession) -> None:
        self.df = spark.createDataFrame(self.frame).cache()
        self.df.count()

    def _curate(self, df: DataFrame) -> DataFrame:
        from ner_ocr_spark.curation import curate
        from ner_ocr_spark.operators.packing import shard_hash_md5
        from ner_ocr_spark.operators.sampling import unit_hash_md5

        # the arguments of the registered query `curation_pipeline`, so that
        # its DuckDB twin is the reference
        return curate(df, self.rates, default_rate=0.2, budget=256, shards=8,
                      seed=7, unit_hash=unit_hash_md5, shard_hash=shard_hash_md5)

    def warm(self, spark: SparkSession, k: int) -> None:
        """A full pass: the three set-ups share one JVM, so the curation
        code has run three times when the measured passes start."""
        self._curate(self.df).collect()

    def prepare_pass(self) -> None:
        pass

    def run_pass(self, spark: SparkSession, span=untraced, group=None) -> dict:
        with job_group(spark, group):
            with span("curation.curate"):
                out = self._curate(self.df)
            with span("DataFrame.collect"):
                self.result = out.collect()
        return {}

    def check(self, spark: SparkSession) -> Check:
        import duckdb

        import __spark_entry__

        got = Counter(tuple(r) for r in self.result)
        con = duckdb.connect()
        try:
            con.register("documents", self.frame)
            want = Counter(
                tuple(r) for r in
                con.execute(__spark_entry__.oracle_sql()["curation_pipeline"]).fetchall()
            )
        finally:
            con.close()
        check = Check(attempted=self.n_docs, error_rows=0, span_rows=len(self.result))
        check.mismatched = check.failed = sum(((got - want) + (want - got)).values())
        check.correct = check.failed == 0
        if not check.correct:
            check.notes.append(f"{check.failed} rows differ from the DuckDB twin")
        check.layer["curation.kept_frac"] = len(self.result) / self.n_docs
        return check


NAMES = ("ocr_html_checkpoint", "curate_dup_skew")


def make(name: str, work_dir: Path):
    """The workload called `name`; work_dir holds what its passes write."""
    if name == ExtractionWorkload.name:
        return ExtractionWorkload(work_dir)
    return CurationWorkload()
