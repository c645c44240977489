"""Text analysis operators (driver brief): language-ID heuristic, quality
scoring, token counting, rolling-hash fingerprinting.

All built-in expressions except nothing — even the rolling hash is an
`aggregate` fold over characters' code points. These run on the `documents`
driver table and on pipeline output alike.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ner_ocr_spark.operators.names import temp_names
from ner_ocr_spark.operators.normalize import WS_RUN

_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]

# tiny per-language marker lexicons for the n-gram/lexicon language-ID
# heuristic (deterministic; the real corpus generator used en/de/zh/fr/es)
_LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "with"],
    "de": ["der", "und", "die", "ist", "mit"],
    "fr": ["le", "et", "la", "est", "avec"],
    "es": ["el", "y", "la", "es", "con"],
    "zh": ["de", "shi", "he", "zai", "le"],
}


def words_expr(col: Column) -> Column:
    # pinned ASCII ws class, not \s: RE2 (DuckDB oracle) \s skips \x0B
    return F.split(F.trim(F.lower(col)), WS_RUN)


def token_count_ws(col: Column) -> Column:
    """Whitespace token count. Counted as separator RUNS + 1 instead of
    materializing the split array (round 6): for any split-with-limit(-1),
    size(split(s, p)) == regexp_count(s, p) + 1 — trailing/leading empty
    tokens included on both sides — so the values are identical while the
    token array is never allocated (verified corpus-wide + on edge-ws
    adversarials)."""
    return F.regexp_count(F.trim(F.lower(col)), F.lit(WS_RUN)) + F.lit(1)


def token_count_bpe_ish(col: Column) -> Column:
    """BPE-ish token estimate: word-piece regex splits on transitions
    (letters / digits / punctuation runs), then ~4-chars-per-token for long
    words. Deterministic and SQL-expressible. Since round 6 this counts
    greedy `[a-z0-9]{1,4}` matches directly: a run of length L yields
    exactly ceil(L / 4) non-overlapping greedy matches, so the sum over
    runs equals the old split + per-piece ceil fold (empty pieces
    contributed 0 there) — one regex pass, no array, no interpreted HOF."""
    return F.regexp_count(F.lower(col), F.lit(r"[a-z0-9]{1,4}"))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a composite
    score in [0,1]. The word count and stopword hits materialize ONCE in a
    lower projection (round 6): inlining `words_expr` into every consumer
    re-ran the split regex 4-5x per row — the multi-referenced intermediate
    columns below block CollapseProject, so the split happens once."""
    t = F.col(text_col)
    w_col, nw_col, ns_col = temp_names([df], "_qf_words", "_qf_nw", "_qf_ns")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    words = F.col(w_col)
    staged = df.withColumn(w_col, words_expr(t)).withColumns(
        {
            nw_col: F.size(words),
            ns_col: F.size(F.array_intersect(F.array_distinct(words), stop_arr)),
        }
    )
    n_words = F.col(nw_col)
    n_stop = F.col(ns_col)
    n_chars = F.length(t)
    # regexp_count of a SINGLE-CHAR class == chars removed by the old
    # replace-then-length form (each match is exactly one char), without
    # building the replaced string (round 6; verified corpus-wide)
    n_punct = F.regexp_count(t, F.lit(r"[^\w \t\n\x0B\f\r]"))
    mean_word_len = n_chars / F.greatest(n_words, F.lit(1))
    return staged.withColumns(
        {
            "n_chars": n_chars.cast("long"),
            "n_words": n_words.cast("long"),
            "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4),
            "stopword_hits": n_stop.cast("long"),
            "mean_word_len": F.round(mean_word_len, 4),
            "quality_score": F.round(
                F.least(
                    F.lit(1.0),
                    (n_words / 50.0) * 0.5
                    + F.when(n_stop >= 2, 0.3).otherwise(0.0)
                    + F.when((mean_word_len >= 3) & (mean_word_len <= 10), 0.2).otherwise(0.0),
                ),
                4,
            ),
        }
    ).drop(w_col, nw_col, ns_col)


# explicit tie priority, pinned identically in the oracle SQL's CASE order
# (__spark_entry__.oracle_sql: zh checked first, then fr, es, de, else en)
_LANG_TIE_PRIORITY = {"zh": 5, "fr": 4, "es": 3, "de": 2, "en": 1}


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Lexicon-overlap language ID: argmax over per-language marker hits;
    ties break by the pinned priority (zh > fr > es > de > en) and
    zero-evidence falls back to 'en'. Pure expressions; the distinct word
    array materializes once (round 6 — it was inlined into all five
    per-language intersects, re-splitting the text 5x per row)."""
    w_col, b_col = temp_names([df], "_li_words", "_li_best")
    df = df.withColumn(
        w_col, F.array_distinct(words_expr(F.col(text_col)))
    )
    words = F.col(w_col)
    scores = []
    for lang, markers in sorted(_LANG_MARKERS.items()):
        arr = F.array(*[F.lit(m) for m in markers])
        scores.append(
            F.struct(
                F.size(F.array_intersect(words, arr)).alias("hits"),
                F.lit(_LANG_TIE_PRIORITY[lang]).alias("prio"),
                F.lit(lang).alias("lang"),
            )
        )
    # argmax by (hits, prio): struct ordering compares fields left to right,
    # so equal hit counts resolve by the explicit priority — never by the
    # accidental lang-string ordering. `best` materializes too: its two
    # field accesses would otherwise duplicate the whole argmax tree.
    df = df.withColumn(b_col, F.array_max(F.array(*scores)))
    best = F.col(b_col)
    return df.withColumn(
        "lang_pred",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("en")),
    ).drop(w_col, b_col)


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 5,
    max_words: int = 2000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style repetition/quality rules (Rae et al. 2021, §A1.1) as a
    single codegen projection: per-doc metrics, the per-rule failure list,
    and the composite keep flag. Rules (all thresholds parameterized):

      word_count      — in [min_words, max_words]
      mean_word_len   — mean WORD length (not chars/words) in
                        [min_mean_word_len, max_mean_word_len]
      symbol_ratio    — (# of #, @, *, ^, ~, backslash chars) / chars
                        <= max_symbol_ratio
      alpha_ratio     — fraction of words containing an ASCII letter
                        >= min_alpha_ratio
      stopword_hits   — >= min_stop_hits distinct stopwords

    Pure expressions over one scan; the filter composes with
    sampling/dedup stages without a shuffle. `reject_reasons` is the
    comma-joined failed-rule list ('' when kept) so downstream can report
    removal attribution per rule."""
    t = F.col(text_col)
    # materialize the word array once: HOF lambdas (aggregate/filter below)
    # re-evaluate inline subexpressions per element, so an inline split()
    # here would re-split the text O(words) times (CLAUDE.md sharp edge).
    # note (round 6): regex-count forms of mean_word_len / alpha_ratio
    # (ws-stripped length; a non-ws-run-with-letter match count) were
    # value-identical but MEASURED SLOWER (3.7 vs 3.05 s at sf1) than
    # these folds — the alpha pattern backtracks; the folds stay.
    df = df.withColumn("_gf_words", words_expr(t))
    words = F.col("_gf_words")
    n_words = F.size(words)
    n_chars = F.greatest(F.length(t), F.lit(1))
    mean_wl = (
        F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
        / F.greatest(n_words, F.lit(1)).cast("double")
    )
    # single-char class count == removed-chars length diff (round 6)
    n_symbols = F.regexp_count(t, F.lit(r"[#@*^~\\]"))
    symbol_ratio = n_symbols / n_chars.cast("double")
    n_alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    alpha_ratio = n_alpha_words / F.greatest(n_words, F.lit(1)).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    stop_hits = F.size(F.array_intersect(F.array_distinct(words), stop_arr))

    rules = [
        ("word_count", (n_words >= min_words) & (n_words <= max_words)),
        ("mean_word_len",
         (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)),
        ("symbol_ratio", symbol_ratio <= max_symbol_ratio),
        ("alpha_ratio", alpha_ratio >= min_alpha_ratio),
        ("stopword_hits", stop_hits >= min_stop_hits),
    ]
    failed = F.array_join(
        F.filter(
            F.array(*[
                F.when(~ok, F.lit(name)).otherwise(F.lit(None)) for name, ok in rules
            ]),
            lambda x: x.isNotNull(),
        ),
        ",",
    )
    keep = None
    for _, ok in rules:
        keep = ok if keep is None else (keep & ok)
    return df.withColumns(
        {
            "n_words": n_words.cast("long"),
            "mean_word_len": F.round(mean_wl, 4),
            "symbol_ratio": F.round(symbol_ratio, 4),
            "alpha_ratio": F.round(alpha_ratio, 4),
            "stopword_hits": stop_hits.cast("long"),
            "keep": keep.cast("int"),
            "reject_reasons": failed,
        }
    ).drop("_gf_words")


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_top2_frac: float = 0.20,
    max_top3_frac: float = 0.18,
    max_dup2_frac: float = 0.60,
) -> DataFrame:
    """Gopher-style repetition rules (Rae et al. 2021 §A1.2, word-level):
    the character/line variants degrade on single-line corpora, so the
    load-bearing signals here are n-GRAM repetition —

      top2_frac / top3_frac — fraction of all word 2-/3-grams taken by the
                              single most frequent one
      dup2_frac             — fraction of 2-gram mass in grams occurring
                              more than once

    plus the composite keep flag. Shape since round 6: map-only — per-doc
    gram-hash arrays sorted and folded in place (`repetition_cols`), ZERO
    shuffles; the previous explode + two hash-agg exchanges computed
    identical values (guide §2.4 "remove shuffles outright").
    Output fractions are rounded and never NULL;
    NOTE an empty/one-gram doc's single (possibly partial) gram is
    trivially the top gram, so top2/top3_frac = 1.0 and keep = 0 — compose
    with gopher_filter's word_count rule (as curation.curate does) if tiny
    docs should be judged on length, not repetition."""
    return repetition_cols(
        df.select(F.col(id_col), F.col(text_col)),
        text_col=text_col,
        max_top2_frac=max_top2_frac,
        max_top3_frac=max_top3_frac,
        max_dup2_frac=max_dup2_frac,
    ).select(id_col, "top2_frac", "top3_frac", "dup2_frac", "keep")


def _run_stats(arr: Column) -> Column:
    """(mx, dup) = (max equal-run length, mass of runs longer than 1) over
    a SORTED array, via one linear fold. Equal hashes are adjacent after
    the sort, so run lengths ARE the per-value counts. The fold state rides
    a 4-field struct and the lambda references ONLY (acc, x) — no outer
    column captures, so CollapseProject cannot re-inline an expensive
    expression into the lambda body (the round-1 HOF re-evaluation sharp
    edge: lambda-body references re-evaluate per element; the HOF's input
    argument evaluates once per row)."""
    zero = F.struct(
        F.lit(0).cast("long").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("mx"),
        F.lit(0).cast("long").alias("dup"),
    )

    def merge(acc, x):
        # no `run > 0` sentinel guards (round 6, ~15% on the fold): at the
        # first element prev is the 0 sentinel, and BOTH branches of every
        # field coincide there — run' = 0+1 = 1 either way, a "close" with
        # run = 0 leaves mx via greatest(mx, 0) and dup via run > 1 = false
        # untouched — so dropping the guards is exact even when a real
        # hash equals 0 (pinned by sentinel adversarials in the tests).
        same = x == acc["prev"]
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1)
            .otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same, acc["mx"])
            .otherwise(F.greatest(acc["mx"], acc["run"])).alias("mx"),
            F.when(~same & (acc["run"] > 1), acc["dup"] + acc["run"])
            .otherwise(acc["dup"]).alias("dup"),
        )

    def finish(acc):
        return F.struct(
            F.greatest(acc["mx"], acc["run"]).alias("mx"),
            (acc["dup"]
             + F.when(acc["run"] > 1, acc["run"])
             .otherwise(F.lit(0).cast("long"))).alias("dup"),
        )

    return F.aggregate(arr, zero, merge, finish)


def repetition_cols(
    df: DataFrame,
    text_col: str = "text",
    max_top2_frac: float = 0.20,
    max_top3_frac: float = 0.18,
    max_dup2_frac: float = 0.60,
) -> DataFrame:
    """Append top2_frac/top3_frac/dup2_frac/keep as COLUMNS, shuffle-free
    (round-6 optimization). All of one document's n-grams live in its own
    word array, so per-(doc, gram) counting never needs an exchange: hash
    each gram to 64 bits, sort the per-row hash array, fold adjacent equal
    runs (`_run_stats`). The round-3..5 shape exploded ~2x|words| rows per
    doc through TWO hash-agg shuffles to compute the same three fractions.

    NULL-text rows produce (1.0, 1.0, 0.0, keep=0) exactly like the
    exploded form did (k = greatest(NULL - ..., 1) = 1 there too: one
    NULL gram per n, counted once). Collision note: a 64-bit collision
    within one doc's
    ~hundreds of grams is ~1e-15 and only perturbs a 4-dp fraction
    (counting, not identity) — the same risk profile as the previous
    shape's pre-shuffle xxhash64 reduction, and the same (n, gram) hash
    input."""
    words_col, wh_col = "_rs_words", "_rs_wh"
    # materialize words, then PER-WORD hashes: the gram hash combines the
    # word hashes (xxhash64 of 2-3 longs) instead of slicing + joining the
    # word strings per gram — measured ~2x on the gram build, with the
    # same grouping (grams equal iff their word sequences are equal, up to
    # the same negligible 64-bit collision class). Multi-referenced
    # non-cheap columns keep CollapseProject from inlining the split into
    # the lambda bodies (CLAUDE.md sharp edge).
    out = df.withColumn(words_col, words_expr(F.col(text_col))).withColumn(
        wh_col, F.transform(F.col(words_col), lambda x: F.xxhash64(x))
    )
    wh = F.col(wh_col)

    def gram_hashes(n: int) -> Column:
        k = F.greatest(F.size(wh) - (n - 1), F.lit(1))
        # F.get (0-based) NULLs past the end — a shorter-than-n doc's
        # single partial gram hashes the words it has (xxhash64 skips
        # NULL args), still one gram counted once, exactly like the old
        # partial slice+join. sort_array, NOT array_sort: ArraySort is
        # itself a HOF whose default comparator is an interpreted lambda
        # per COMPARISON (measured 20x on this operator).
        if n == 2:
            lam = lambda i: F.xxhash64(F.get(wh, i), F.get(wh, i + 1))
        else:
            lam = lambda i: F.xxhash64(
                F.get(wh, i), F.get(wh, i + 1), F.get(wh, i + 2)
            )
        return F.sort_array(
            F.transform(F.sequence(F.lit(0), k - 1), lam)
        )

    s2, s3 = "_rs_s2", "_rs_s3"
    out = out.withColumns({s2: gram_hashes(2), s3: gram_hashes(3)})

    def frac(num: Column, den: Column) -> Column:
        return F.round(num / F.greatest(den, F.lit(1)).cast("double"), 4)

    r2, r3 = "_rs_r2", "_rs_r3"
    out = out.withColumns(
        {r2: _run_stats(F.col(s2)), r3: _run_stats(F.col(s3))}
    )
    top2 = frac(F.col(r2)["mx"], F.size(s2))
    dup2 = frac(F.col(r2)["dup"], F.size(s2))
    top3 = frac(F.col(r3)["mx"], F.size(s3))
    return out.withColumns(
        {
            "top2_frac": top2,
            "top3_frac": top3,
            "dup2_frac": dup2,
            "keep": (
                (top2 <= max_top2_frac)
                & (top3 <= max_top3_frac)
                & (dup2 <= max_dup2_frac)
            ).cast("int"),
        }
    ).drop(words_col, wh_col, s2, s3, r2, r3)


def chunk_text(
    df: DataFrame,
    size: int = 128,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window word chunking (the RAG/embedding-prep shape): one row
    per chunk of `size` words stepping by `size - overlap`, so consecutive
    chunks share `overlap` words and no word is dropped. Output:
    (id, chunk_idx, chunk_text, chunk_words). Pure array expressions + one
    posexplode — map-only, chunk boundaries are deterministic functions of
    the word array. The final partial chunk is kept (a trailing remainder
    shorter than `overlap` would otherwise vanish); a document shorter
    than `size` yields exactly one chunk."""
    if not 0 <= overlap < size:
        raise ValueError("require 0 <= overlap < size")
    step = size - overlap
    words_col = "_ck_words"
    out = df.withColumn(words_col, words_expr(F.col(text_col)))
    w = F.col(words_col)
    # number of chunks: ceil(max(n - overlap, 1) / step)
    n_chunks = F.ceil(
        F.greatest(F.size(w) - overlap, F.lit(1)) / F.lit(step)
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(w, i * step + 1, size),
    )
    return (
        out.select(
            F.col(id_col),
            F.posexplode(chunks).alias("chunk_idx", "_ck"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.array_join("_ck", " ").alias("chunk_text"),
            F.size("_ck").alias("chunk_words"),
        )
    )


def term_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """Corpus-level term statistics (the BM25/TF-IDF index-build shape):
    per distinct term, document frequency, total occurrence count, and
    idf = ln((N - df + 0.5) / (df + 0.5) + 1) (the BM25 idf). One explode
    -> one (term) hash agg with map-side combine; N rides a scalar
    broadcast join (the crossJoin side is a 1-row aggregate, not data).
    `min_df` prunes the hapax tail, which at corpus scale is most of the
    distinct-term volume."""
    words_col = "_ts_words"
    toks = df.withColumn(words_col, words_expr(F.col(text_col))).select(
        F.col(id_col).alias("_id"), F.explode(words_col).alias("term")
    )
    per_term = toks.groupBy("term").agg(
        F.count_distinct("_id").alias("doc_freq"),
        F.count("*").alias("term_count"),
    )
    n_docs = df.select(F.count("*").alias("_n"))
    return (
        per_term.crossJoin(F.broadcast(n_docs))
        .filter(F.col("doc_freq") >= min_df)
        .select(
            "term",
            "doc_freq",
            "term_count",
            F.round(
                F.log((F.col("_n") - F.col("doc_freq") + 0.5)
                      / (F.col("doc_freq") + 0.5) + 1.0),
                6,
            ).alias("idf"),
        )
    )


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    window: int = 16,
    base_hash=None,
) -> DataFrame:
    """Document fingerprinting by WINNOWING (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every k-gram of the normalized text, then keep the
    minimum hash of each sliding window of `window` consecutive k-gram
    hashes — any two documents sharing a run of >= window+k-1 characters
    share a fingerprint hash. Output columns: `fingerprint` (sorted
    distinct selected hashes, array<long>) and `fingerprint_digest`
    (md5 of the joined set — a scalar identity for exact-set compares).

    Round-1's version folded a per-char string array (~10x the text's
    memory) and never used `window`; this one materializes only the k-gram
    hash array (8 bytes per position) and the window parameter is the real
    winnowing guarantee. base_hash defaults to xxhash64 (JVM);
    dedup.md5_hash31-style portable hashes make it oracle-checkable."""
    base_hash = base_hash or F.xxhash64
    norm_col, hs_col = "_fp_norm", "_fp_hs"
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), WS_RUN, " "))
    # materialize norm and the k-gram hash array: HOF lambdas re-evaluate
    # inline subexpressions per element (CLAUDE.md sharp edge)
    out = df.withColumn(norm_col, norm)
    n_pos = F.greatest(F.length(F.col(norm_col)) - (k - 1), F.lit(1))
    out = out.withColumn(
        hs_col,
        F.transform(
            F.sequence(F.lit(1), n_pos),
            lambda i: base_hash(F.substring(F.col(norm_col), i, k)),
        ),
    )
    n_win = F.greatest(F.size(F.col(hs_col)) - (window - 1), F.lit(1))
    selected = F.transform(
        F.sequence(F.lit(1), n_win),
        lambda j: F.array_min(F.slice(F.col(hs_col), j, window)),
    )
    # sort_array == array_sort on non-null longs, minus the interpreted
    # per-comparison lambda (round 6)
    fp = F.sort_array(F.array_distinct(selected))
    return (
        out.withColumn("fingerprint", fp)
        .withColumn(
            "fingerprint_digest",
            F.md5(F.array_join(
                F.transform(F.col("fingerprint"), lambda x: x.cast("string")), ","
            )),
        )
        .drop(norm_col, hs_col)
    )
