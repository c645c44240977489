"""The traced run: spans around calls into the engine's public functions,
Spark's stage and SQL accounting of traced passes, and a replay of the OCR
and text kernels on the workload's own inputs.

Spans are kept in memory and written as JSON lines when the run ends. A
span's self time is its duration minus the time its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

import accounting
from workloads import CKPT_CHUNKS

TRACED_PASSES = 1
REPLAY_PAGES = 32  # OCR pages replayed, spread evenly over the workload's pages
REPLAY_TEXT_SPANS = 6000  # text and html spans replayed, in document order
OCR_KERNELS = ("bounded_resize", "binarize", "despeckle", "estimate_skew",
               "rotate_gray", "recognize_mask", "segment_lines", "classify_glyphs")

# name -> (unit, better); every traced run reports all of them, 0 where the
# workload does not exercise the layer
PER_LAYER: dict[str, tuple[str, str]] = {
    "pipeline.jobs": ("count", "lower"),
    "pipeline.stages": ("count", "lower"),
    "pipeline.shuffle_write_bytes": ("B", "lower"),
    "pipeline.assemble.task_s_sum": ("s", "lower"),
    "pipeline.media_repartition.rows_max_over_mean": ("ratio", "lower"),
    "extract.ocr_stage.task_s_p50": ("s", "lower"),
    "extract.ocr_stage.task_s_max": ("s", "lower"),
    "extract.ocr_stage.task_s_sum": ("s", "lower"),
    "extract.ocr_stage.python_bytes_in": ("B", "lower"),
    "extract.ocr_stage.python_bytes_out": ("B", "lower"),
    "extract.ner_stage.task_s_sum": ("s", "lower"),
    "extract.ner_stage.python_bytes_in": ("B", "lower"),
    "extract.ner_stage.python_bytes_out": ("B", "lower"),
    "extract.error_rows": ("count", "lower"),
    "corpus.render_media_blob.s": ("s", "lower"),
    "imageio.decode_image_gray.s": ("s", "lower"),
    **{f"kernels.ocr.{k}.s": ("s", "lower") for k in OCR_KERNELS},
    **{f"kernels.ocr.{k}.calls": ("count", "lower") for k in OCR_KERNELS},
    "kernels.ocr.ocr_page.s": ("s", "lower"),
    "kernels.ocr.replay_child_frac": ("ratio", "higher"),
    "kernels.ocr.pages": ("count", "lower"),
    "kernels.ocr.lines": ("count", "lower"),
    "kernels.ocr.glyph_cells": ("count", "lower"),
    "kernels.ocr.rotated_frac": ("ratio", "lower"),
    "kernels.normalize.normalize_text.s": ("s", "lower"),
    "kernels.ner.tag.s": ("s", "lower"),
    "kernels.ner.entities": ("count", "lower"),
    "htmlx.main_text.s": ("s", "lower"),
    "kernels.text.spans": ("count", "lower"),
    "curation.stages": ("count", "lower"),
    "curation.exchanges": ("count", "lower"),
    "curation.shuffle_write_bytes": ("B", "lower"),
    "curation.quality.task_s_sum": ("s", "lower"),
    "curation.dedup.task_s_max_over_p50": ("ratio", "lower"),
    "curation.kept_frac": ("ratio", "higher"),
    "lineage.jobs_per_chunk": ("count", "lower"),
    "lineage.chunk_s_p50": ("s", "lower"),
    "lineage.chunk_s_max": ("s", "lower"),
    "lineage.data_files": ("count", "lower"),
    "lineage.bytes_written": ("B", "lower"),
    "lineage.resume_redo_docs": ("count", "lower"),
    "lineage.resume_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "session.jvm_launch_s": ("s", "lower"),
    "setup.generate_s": ("s", "lower"),
    "setup.load_s": ("s", "lower"),
    "setup.warmup_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "check.failed_frac": ("ratio", "lower"),
    "check.mismatch_frac": ("ratio", "lower"),
    "check.misread_pages": ("count", "lower"),
}


class Tracer:
    """In-memory spans: name, start, end, parent index and a shared trace
    id (a pass, a page's media_ref, a span's doc_id)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None):
        parent = self._open[-1] if self._open else None
        if trace_id is None and parent is not None:
            trace_id = self.spans[parent]["trace"]
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "trace": trace_id}
        self._open.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def wrap(self, name: str, fn, on_call=None):
        def traced(*args, **kwargs):
            if on_call is not None:
                on_call(*args)
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def self_times(self) -> tuple[dict[str, float], dict[str, int]]:
        """Per name: summed self time, and the number of spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        total: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for s, c in zip(self.spans, child):
            total[s["name"]] += s["end"] - s["start"] - c
            calls[s["name"]] += 1
        return total, calls

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# -- kernel replay -------------------------------------------------------------

@contextlib.contextmanager
def _traced_globals(module, tracer: Tracer, names, prefix: str, on_call=None):
    """Route a module's own calls to `names` through span wrappers, for
    the duration of the block."""
    saved = {n: getattr(module, n) for n in names}
    try:
        for n, fn in saved.items():
            setattr(module, n, tracer.wrap(f"{prefix}.{n}", fn, (on_call or {}).get(n)))
        yield
    finally:
        for n, fn in saved.items():
            setattr(module, n, fn)


def _replay_page(tracer: Tracer, blob: bytes, ref: str):
    """ocr.ocr_page composed from its public kernel functions, each call
    in its own span. Returns (lines, rotated)."""
    from ner_ocr_spark import imageio
    from ner_ocr_spark.kernels import ocr

    s = tracer.span
    with s("kernels.ocr.ocr_page.replay", ref):
        with s("imageio.decode_image_gray"):
            gray = imageio.decode_image_gray(blob)
        with s("kernels.ocr.bounded_resize"):
            gray = ocr.bounded_resize(gray, ocr.MAX_SIDE_LIMIT)
        with s("kernels.ocr.binarize"):
            raw = ocr.binarize(gray)
        with s("kernels.ocr.despeckle"):
            mask = ocr.despeckle(raw)
        bg = int(np.median(gray))
        noise = raw & ~mask
        if noise.any():
            gray = gray.copy()
            gray[noise] = bg
        with s("kernels.ocr.estimate_skew"):
            angle = ocr.estimate_skew(mask)
        rotated = abs(angle) > 1e-9
        if rotated:
            ys, xs = np.nonzero(mask)
            if len(ys):
                y0, y1 = max(int(ys.min()) - 2, 0), min(int(ys.max()) + 3, gray.shape[0])
                x0, x1 = max(int(xs.min()) - 2, 0), min(int(xs.max()) + 3, gray.shape[1])
                gray = gray[y0:y1, x0:x1]
            with s("kernels.ocr.rotate_gray"):
                gray = ocr.rotate_gray(gray, angle, bg)
            with s("kernels.ocr.binarize"):
                raw = ocr.binarize(gray)
            with s("kernels.ocr.despeckle"):
                mask = ocr.despeckle(raw)
        with s("kernels.ocr.recognize_mask"):
            lines = ocr.recognize_mask(mask)
    return lines, rotated


def replay_ocr(tracer: Tracer, refs: list[str], out: dict[str, float]) -> None:
    """Replay up to REPLAY_PAGES of `refs`; every replayed page must give
    exactly the LineResults of ocr.ocr_page, or the run fails."""
    from ner_ocr_spark import corpus
    from ner_ocr_spark.kernels import ocr

    refs = sorted(refs)
    if not refs:
        return
    pick = sorted({int(i) for i in np.linspace(0, len(refs) - 1, min(REPLAY_PAGES, len(refs)))})
    glyphs = [0]
    rotated = lines = 0
    count_glyphs = {"classify_glyphs": lambda g, *_: glyphs.__setitem__(0, glyphs[0] + len(g))}
    for i in pick:
        ref = refs[i]
        with tracer.span("corpus.render_media_blob", ref):
            blob = corpus.render_media_blob(ref)
        with tracer.span("kernels.ocr.ocr_page", ref):
            want = ocr.ocr_page(blob)
        with _traced_globals(ocr, tracer, ("segment_lines", "classify_glyphs"),
                             "kernels.ocr", count_glyphs):
            got, rot = _replay_page(tracer, blob, ref)
        if got != want:
            raise RuntimeError(
                f"kernel replay of {ref} differs from ocr.ocr_page: the replay in "
                "perfbench/tracing.py no longer composes the OCR kernel the same way")
        rotated += rot
        lines += len(got)
    total, calls = tracer.self_times()
    for k in OCR_KERNELS:
        out[f"kernels.ocr.{k}.s"] = total.get(f"kernels.ocr.{k}", 0.0)
        out[f"kernels.ocr.{k}.calls"] = calls.get(f"kernels.ocr.{k}", 0)
    out["corpus.render_media_blob.s"] = total.get("corpus.render_media_blob", 0.0)
    out["imageio.decode_image_gray.s"] = total.get("imageio.decode_image_gray", 0.0)
    out["kernels.ocr.ocr_page.s"] = sum(tracer.durations("kernels.ocr.ocr_page"))
    replayed = sum(tracer.durations("kernels.ocr.ocr_page.replay"))
    out["kernels.ocr.replay_child_frac"] = 1 - total["kernels.ocr.ocr_page.replay"] / replayed
    out["kernels.ocr.pages"] = len(pick)
    out["kernels.ocr.lines"] = lines
    out["kernels.ocr.glyph_cells"] = glyphs[0]
    out["kernels.ocr.rotated_frac"] = rotated / len(pick)


def replay_text(tracer: Tracer, spans: list[tuple[str, str, str]], out: dict[str, float]) -> None:
    """normalize, tag and (for html) main_text on the first
    REPLAY_TEXT_SPANS text and html spans."""
    from ner_ocr_spark import corpus, htmlx
    from ner_ocr_spark.kernels.ner import GazetteerTagger
    from ner_ocr_spark.kernels.normalize import normalize_text

    tagger = GazetteerTagger(corpus.GAZETTEER)
    entities = 0
    spans = spans[:REPLAY_TEXT_SPANS]
    for doc_id, kind, text in spans:
        with tracer.span("text_span", doc_id):
            if kind == "html":
                with tracer.span("htmlx.main_text"):
                    text = htmlx.main_text(text)
            with tracer.span("kernels.normalize.normalize_text"):
                text = normalize_text(text)
            with tracer.span("kernels.ner.tag"):
                ents, _ = tagger.tag(text)
        entities += len(ents)
    total, _ = tracer.self_times()
    for name in ("htmlx.main_text", "kernels.normalize.normalize_text", "kernels.ner.tag"):
        out[f"{name}.s"] = total.get(name, 0.0)
    out["kernels.ner.entities"] = entities
    out["kernels.text.spans"] = len(spans)


# -- Spark accounting -> layers -----------------------------------------------

def _below(node, skip=("Project", "Filter")):
    """First descendant that is not a projection or filter."""
    while len(node.children) == 1 and node.children[0].name in skip:
        node = node.children[0]
    return node.children[0] if node.children else None


def _extract_layers(acc: accounting.Accounting, out: dict[str, float]) -> None:
    """The OCR stage is the MapInPandas that reads the media repartition;
    the NER stage is the one fed by the text branch."""
    ocr, ner = [], []
    for n in acc.nodes("MapInPandas"):
        child = _below(n)
        (ocr if child is not None and child.name in ("Exchange", "AQEShuffleRead") else ner).append(n)
    run = "time to run Python workers"
    for layer, nodes in (("ocr_stage", ocr), ("ner_stage", ner)):
        out[f"extract.{layer}.python_bytes_in"] = sum(
            n.stat("data sent to Python workers")[0] for n in nodes)
        out[f"extract.{layer}.python_bytes_out"] = sum(
            n.stat("data returned from Python workers")[0] for n in nodes)
        out[f"extract.{layer}.task_s_sum"] = sum(n.stat(run)[0] for n in nodes)
    # plans that reuse a persisted extraction show its OCR node again,
    # with no task time
    ran = [n for n in ocr if n.stat(run)[0] > 0]
    if ran:
        out["extract.ocr_stage.task_s_p50"] = statistics.median(n.stat(run)[2] for n in ran)
        out["extract.ocr_stage.task_s_max"] = max(n.stat(run)[3] for n in ran)
        rows = []
        for n in ocr:
            reader = _below(n)
            parts = reader.stat("number of partitions")[0]
            tasks = [r for st in acc.stages_of([n]) for r in st.records_read]
            if parts and sum(tasks):
                rows.append(max(tasks) / (sum(tasks) / parts))
        out["pipeline.media_repartition.rows_max_over_mean"] = max(rows, default=0.0)


def _spark_layers(acc: accounting.Accounting, prefix: str, out: dict[str, float]) -> None:
    out[f"{prefix}.stages"] = len(acc.stages)
    out[f"{prefix}.shuffle_write_bytes"] = sum(s.shuffle_write_bytes for s in acc.stages.values())


def _curation_layers(acc: accounting.Accounting, out: dict[str, float]) -> None:
    """Stages in order: quality + repetition (map side of the dedup
    exchange), dedup, then packing."""
    _spark_layers(acc, "curation", out)
    out["curation.exchanges"] = len(acc.nodes_outside_cache("Exchange"))
    stages = [acc.stages[i] for i in sorted(acc.stages)]
    out["curation.quality.task_s_sum"] = sum(stages[0].task_s)
    dedup = stages[1].task_s
    out["curation.dedup.task_s_max_over_p50"] = max(dedup) / max(statistics.median(dedup), 1e-3)


def _lineage_layers(spark, wl, acc_first: accounting.Accounting, out: dict[str, float]) -> None:
    from ner_ocr_spark import lineage

    chunks = wl.first["chunks_done"]
    out["lineage.jobs_per_chunk"] = len(acc_first.jobs) / max(chunks, 1)
    walls = [r["wall_ms"] / 1000 for r in
             lineage.read_lineage(spark, wl.out_dir()).select("chunk", "wall_ms").distinct().collect()]
    out["lineage.chunk_s_p50"] = statistics.median(walls)
    out["lineage.chunk_s_max"] = max(walls)
    files = [p for p in (Path(wl.out_dir()) / "data").iterdir() if p.name.startswith("part-")]
    out["lineage.data_files"] = len(files)
    out["lineage.bytes_written"] = sum(p.stat().st_size for p in files)
    # docs of the chunks the first call processed that are still not
    # committed: every resume re-extracts them
    committed = lineage.read_output(spark, wl.out_dir()).select("doc_id").distinct()
    first_chunks = F.pmod(F.xxhash64("doc_id"), F.lit(CKPT_CHUNKS)) < F.lit(chunks)
    out["lineage.resume_redo_docs"] = (
        wl.df.filter(first_chunks).join(committed, "doc_id", "left_anti").count())


def per_layer(wl, spark, e2e: dict, setup: dict, check, trace_dir: Path,
              seed: int) -> dict[str, tuple[float, str]]:
    out: dict[str, float] = {name: 0.0 for name in PER_LAYER}
    for name in ("session.start_s", "session.jvm_launch_s", "setup.generate_s",
                 "setup.load_s", "setup.warmup_s"):
        out[name] = setup[name]
    tracer = Tracer()
    # untraced and traced passes alternate, so that both sides see the
    # same JIT state; the difference of their medians is the overhead
    plain, traced = [], []
    for i in range(TRACED_PASSES):
        wl.prepare_pass()
        t0 = time.perf_counter()
        wl.run_pass(spark)
        plain.append(time.perf_counter() - t0)
        wl.prepare_pass()
        group = f"perfbench-traced-{i}"
        t0 = time.perf_counter()
        with tracer.span("perfbench.pass", f"pass-{i}"):
            wl.run_pass(spark, span=tracer.span, group=group)
        traced.append(time.perf_counter() - t0)
    out["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)

    if wl.name == "curate_dup_skew":
        _curation_layers(accounting.collect(spark, [group]), out)
    else:
        parts = [f"{group}-{p}" for p in ("first", "resume", "assemble")]
        first = accounting.collect(spark, parts[:1])
        extract = accounting.collect(spark, parts[:2])
        assemble = accounting.collect(spark, parts[2:])
        everything = accounting.collect(spark, parts)
        out["pipeline.jobs"] = len(everything.jobs)
        _spark_layers(everything, "pipeline", out)
        _extract_layers(extract, out)
        # the last stage reads the assembly exchange: groupBy(doc_id)
        out["pipeline.assemble.task_s_sum"] = sum(assemble.stages[max(assemble.stages)].task_s)
        _lineage_layers(spark, wl, first, out)
        out["lineage.resume_s"] = e2e["resume_s"]

    errors, rows = check.error_rows, check.span_rows
    out["extract.error_rows"] = errors
    out["check.failed_frac"] = errors / max(rows, 1)
    out["check.mismatch_frac"] = check.mismatched / max(check.attempted, 1)
    out.update(check.layer)
    if hasattr(wl, "corpus"):
        replay_ocr(tracer, wl.corpus.media_refs(), out)
        replay_text(tracer, wl.corpus.text_spans(), out)
    tracer.write(trace_dir / f"{wl.name}-seed{seed}.jsonl")
    return {name: (float(out[name]), unit) for name, (unit, _) in PER_LAYER.items()}
