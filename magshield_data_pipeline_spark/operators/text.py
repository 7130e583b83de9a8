"""Text-analysis operators for training-data pipelines (SURVEY §2.10 [EXT]).

All hot-path logic is JVM-side column expressions (regexp engines, hash
functions) — no Python UDFs — so profiling a 100 TB corpus is a single
scan with whole-stage codegen, shuffling nothing unless the caller
aggregates.

Design notes for scale:
- every helper is a per-row expression → embarrassingly parallel, no
  exchange introduced;
- ``document_profile`` composes them into one projection so the corpus
  is read once;
- fingerprints are MD5 of normalized text — an exact-dup key that also
  serves as the shuffle key for exact dedup at scale (uniform, no skew).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Per-language marker words for the n-gram language-ID heuristic.
# Deliberately tiny and deterministic: a real deployment would swap in a
# fastText-style model via mapInPandas; the engine-side contract (one
# scan, one projection, no shuffle) stays identical.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "est"),
    "de": ("der", "die", "das", "und", "ist"),
}

STOPWORDS_EN = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def token_count(text: Column | str) -> Column:
    """Whitespace token count. ``split`` on ``\\s+`` after trim; empty
    string counts as 1 token ('' survives the split) — consistent with
    the DuckDB oracle's regexp_split_to_array semantics."""
    return F.size(F.split(F.trim(_col(text)), r"\s+"))


def char_count(text: Column | str) -> Column:
    return F.length(_col(text))


# BPE-ish pre-tokenizer: letter runs, single digits, single punctuation
# marks — the split shape GPT-2-style byte-pair encoders apply before
# merging. A real tokenizer would run as a self-contained pandas UDF;
# this regex keeps token statistics JVM-side and oracle-checkable.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def subtoken_count(text: Column | str) -> Column:
    """BPE-ish subtoken count (letter runs + digits + punctuation)."""
    return F.regexp_count(_col(text), F.lit(BPE_ISH_PATTERN))


def stopword_count(text: Column | str, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    pattern = r"\b(" + "|".join(re.escape(w) for w in stopwords) + r")\b"
    return F.regexp_count(F.lower(_col(text)), F.lit(pattern))


def punct_count(text: Column | str) -> Column:
    return F.regexp_count(_col(text), F.lit(r"[.,;:!?]"))


def quality_score(text: Column | str) -> Column:
    """Length/stopword/punctuation quality heuristic in [0,1]:
    mean of (stopword ratio capped at 0.4)/0.4, presence-of-punct, and a
    length band (50..5000 chars). The exact recipe is a placeholder for a
    production scorer; the engine contract is 'pure projection'."""
    t = _col(text)
    tokens = token_count(t).cast("double")
    stop_ratio = F.least(stopword_count(t) / F.greatest(tokens, F.lit(1.0)), F.lit(0.4)) / 0.4
    has_punct = F.when(punct_count(t) > 0, 1.0).otherwise(0.0)
    len_band = F.when((char_count(t) >= 50) & (char_count(t) <= 5000), 1.0).otherwise(0.0)
    return F.round((stop_ratio + has_punct + len_band) / 3.0, 4)


def lang_matches(text: Column | str) -> Column:
    """All marker-word hits (any language) in ONE regexp pass — the
    union alternation with \\b anchors matches exactly the same word
    set as per-language patterns (anchors force whole-word matches
    regardless of alternation order), so splitting the count per
    language afterwards is a cheap array filter over a few matches
    instead of a full regex scan per language."""
    t = F.lower(_col(text))
    all_words = sorted({w for ws in LANG_MARKERS.values() for w in ws})
    pattern = r"\b(" + "|".join(re.escape(w) for w in all_words) + r")\b"
    return F.regexp_extract_all(t, F.lit(pattern), 1)


def lang_scores_from_matches(matches: Column) -> dict[str, Column]:
    """Per-language hit counts from a :func:`lang_matches` array.
    Marker words shared by two languages (es/fr 'la') count for both —
    identical to independent per-language scans."""
    out = {}
    for lang, words in LANG_MARKERS.items():
        out[lang] = F.size(F.filter(matches, lambda x: x.isin(*words)))
    return out


def lang_id_from_matches(matches: Column, default: str = "und") -> Column:
    """:func:`lang_id` over a pre-computed :func:`lang_matches` column —
    callers profiling several signals at once (document_profile)
    materialize the match array in a prior projection so the corpus is
    regex-scanned ONCE for language ID."""
    scores = lang_scores_from_matches(matches)
    best_lang = F.lit(default)
    best_score = F.lit(0)
    for lang in sorted(scores):  # later entries win only on strict >
        s = scores[lang]
        cond = s > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, s).otherwise(best_score)
    return best_lang


def lang_id(text: Column | str, default: str = "und") -> Column:
    """Pick the language with the highest marker count (ties broken by
    language-code order, zero hits → *default*). Deterministic, so it is
    oracle-checkable; swap for a model UDF without changing the plan
    shape."""
    return lang_id_from_matches(lang_matches(text), default)


def normalize_text(text: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    trim."""
    return F.trim(F.regexp_replace(F.lower(_col(text)), r"\s+", " "))


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: MD5 of the normalized text. Exact-dup key;
    also the uniform shuffle key for dedup at 100 TB."""
    return F.md5(normalize_text(text))


def document_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """One-scan profile: tokens, chars, stopword/punct counts, quality,
    language guess, fingerprint. ``keep`` names extra source columns to
    carry through (still one scan — no join-back needed downstream).

    The language-marker matches are materialized in a separate inner
    projection: referenced by four per-language counters, the non-cheap
    regexp stays un-inlined (CollapseProject keeps expensive multi-use
    expressions staged), so language ID costs ONE regex pass instead of
    one per language."""
    t = F.col(text_col)
    staged = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        t.alias("_text"),
        lang_matches(t).alias("_lang_matches"),
    )
    tt = F.col("_text")
    return staged.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        token_count(tt).alias("n_tokens"),
        subtoken_count(tt).alias("n_subtokens"),
        char_count(tt).alias("n_chars_computed"),
        stopword_count(tt).alias("n_stopwords"),
        punct_count(tt).alias("n_punct"),
        quality_score(tt).alias("quality"),
        lang_id_from_matches(F.col("_lang_matches")).alias("lang_guess"),
        fingerprint(tt).alias("fp"),
    )


# ---------------------------------------------------------------------------
# curation operators: repetition, PII, n-gram frequency, contamination


SENTENCE_SPLIT_PATTERN = r"[.!?]+\s+"

# deliberately simple, RE2-safe patterns (no lookarounds) so the same
# regex runs identically on Spark's Java engine and DuckDB's RE2
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?[0-9][0-9()\-\s]{6,}[0-9]"


def sentences(text: Column | str) -> Column:
    """Sentence-ish segments: split on terminal punctuation + space."""
    return F.split(F.trim(_col(text)), SENTENCE_SPLIT_PATTERN)


def repetition_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Intra-document repetition: how much of a document is duplicated
    segments — the curation signal for boilerplate/spam (repeated
    nav-bars, scraped templates, generation loops). Counts only (total
    vs distinct sentences), so the result is order-insensitive and
    oracle-checkable; the cleaning pass itself would keep the first
    occurrence of each segment. Pure projection — array ops per row,
    no shuffle."""
    s = sentences(_col(text_col))
    n = F.size(s)
    nu = F.size(F.array_distinct(s))
    return df.select(
        F.col(id_col),
        n.alias("n_sents"),
        nu.alias("n_unique_sents"),
        F.round((n - nu) / F.greatest(n, F.lit(1)), 6).alias("rep_ratio"),
        ((n - nu) / F.greatest(n, F.lit(1)) > 0.2).alias("is_repetitive"),
    )


def redact_pii(text: Column | str) -> Column:
    """Mask emails then phone-like digit runs — the scrubbing pass an
    LLM corpus applies before training. Regexes are deliberately
    simple/RE2-safe; a production scrubber swaps in NER via
    mapInPandas with the same plan shape (pure projection)."""
    t = F.regexp_replace(_col(text), EMAIL_PATTERN, "[EMAIL]")
    return F.regexp_replace(t, PHONE_PATTERN, "[PHONE]")


def pii_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc PII counts + redacted-text fingerprint (the fingerprint
    proves the redaction itself matches across engines)."""
    t = _col(text_col)
    red = redact_pii(t)
    return df.select(
        F.col(id_col),
        F.regexp_count(t, F.lit(EMAIL_PATTERN)).alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_PATTERN)).alias("n_phones"),
        F.length(red).alias("redacted_len"),
        F.md5(red).alias("redacted_md5"),
    )


def word_bigrams(words: Column) -> Column:
    """Adjacent word pairs from a word ARRAY column (same O(n)
    shifted-zip construction as the dedup shingles).

    Takes the already-split array, not the raw text: *words* is
    referenced five times here, and if it were the full
    split(normalize(...)) expression Catalyst would inline the whole
    chain at every reference — the resulting Generate spends ~100 s in
    one-time whole-stage-codegen compilation (measured at sf0.01).
    Keeping the split behind its own projection makes every reference
    a cheap column read."""
    return F.when(F.size(words) >= 2, F.zip_with(
        F.slice(words, 1, F.size(words) - 1),
        F.slice(words, 2, F.size(words) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )).otherwise(F.array().cast("array<string>"))


def top_ngrams(
    df: DataFrame, text_col: str = "text", k: int = 50
) -> DataFrame:
    """Corpus-level bigram frequency table, top-*k* with a total-order
    tiebreak. Scale: explode → ONE partially-aggregated groupBy on the
    bigram string (map-side combine collapses each task's counts), then
    a k-row ordered limit — the classic n-gram count job."""
    words = df.select(F.split(normalize_text(_col(text_col)), " ").alias("w"))
    grams = words.select(F.explode(word_bigrams(F.col("w"))).alias("gram"))
    counts = grams.groupBy("gram").agg(F.count("*").alias("n"))
    return counts.orderBy(F.col("n").desc(), F.col("gram")).limit(k)


def tfidf_top_terms(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Per-document top-*k* distinguishing terms scored by tf/df — the
    tf-idf variant whose score is a single IEEE division (exactly
    rounded, so bit-identical across engines; ln-based idf is a libm
    transcendental whose last ulp varies by platform and would flake
    the cross-engine hash).

    Scale shape: explode → per-(doc,term) partial-agg count (map-side
    combine collapses repeats), document frequency derived FROM the tf
    frame (no second corpus scan), one shuffle join on the term key
    (AQE skew-splits hot terms), then a per-document ranking window —
    per-doc state is bounded by document vocabulary, never corpus
    size."""
    words = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(_col(text_col)), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = words.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_docs"))
    scored = tf.join(dfreq, "term").withColumn(
        "score", F.col("tf") / F.col("df_docs")
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "tf", "df_docs", "score", "rnk")
    )


def chunk_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 500,
    stride: int = 400,
) -> DataFrame:
    """Split each document into fixed-size character chunks with
    ``size - stride`` overlap — the context-window chunking pass a
    training pipeline runs before tokenization. Emits chunk metadata +
    MD5 (not the chunk text) so downstream rows stay small; the MD5
    proves the chunk content byte-for-byte across engines.

    Scale: pure projection + explode — linear fan-out of
    ``ceil(len/stride)`` rows per doc, zero shuffle, and the chunker
    never materializes more than one document per task row."""
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.length(_col(text_col)) - 1, F.lit(0)),
        F.lit(stride),
    )
    chunk = F.col(text_col).substr(F.col("chunk_start") + 1, F.lit(size))
    return (
        df.select(
            F.col(id_col),
            F.col(text_col),
            F.posexplode(starts).alias("pos", "chunk_start"),
        )
        .select(
            F.col(id_col),
            F.col("pos").cast("long").alias("chunk_id"),
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.length(chunk).cast("long").alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
    )


def contamination_check(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = 128,
) -> DataFrame:
    """Benchmark-contamination probe: for each test document, how many
    train documents share at least one (rare) word-3-gram shingle.
    Same blocked-join shape as the jaccard verifier: the shingle join
    is bounded by the document-frequency cap, never all-pairs. Exact
    fingerprint hits ride along as ``exact_dup``."""
    from magshield_data_pipeline_spark.operators.dedup import word_shingles

    def sh(df: DataFrame, side: str) -> DataFrame:
        out = df.select(
            F.col(id_col).alias(f"{side}_id"),
            F.explode(F.array_distinct(word_shingles(text_col))).alias("s"),
        )
        return out

    # train shingles feed two consumers (the df-count and the capped
    # join); persist avoids re-running the shingle generate — same
    # rationale, at-scale note, AND cache-lifetime contract as the
    # jaccard verifier's persisted capped frame (operators/dedup.py):
    # the returned plan references the cache, so the caller owns
    # unpersisting; CacheManager dedups by logical plan, bounding
    # same-input reruns to one entry.
    tr, te = sh(train, "train").persist(), sh(test, "test")
    if max_df is not None:
        rare = (
            tr.groupBy("s").agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_df).select("s")
        )
        tr = tr.join(rare, "s", "inner")
    hits = (
        te.join(tr, "s", "inner")
        .groupBy("test_id")
        .agg(F.count_distinct("train_id").alias("n_train_matches"))
    )
    test_fp = test.select(
        F.col(id_col).alias("test_id"), fingerprint(text_col).alias("fp")
    )
    train_fp = train.select(fingerprint(text_col).alias("fp")).distinct()
    exact = test_fp.join(train_fp, "fp", "left_semi").select(
        "test_id", F.lit(True).alias("exact_dup")
    )
    base = test.select(F.col(id_col).alias("test_id"))
    return (
        base.join(hits, "test_id", "left")
        .join(exact, "test_id", "left")
        .select(
            "test_id",
            F.coalesce(F.col("n_train_matches"), F.lit(0)).alias("n_train_matches"),
            F.coalesce(F.col("exact_dup"), F.lit(False)).alias("exact_dup"),
        )
    )


def passage_grid(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 100,
    stride: int = 50,
) -> DataFrame:
    """(id, passage_start, passage_md5) over a fixed character grid —
    the building block for exact repeated-substring detection. Same
    zero-shuffle explode shape as :func:`chunk_spans`; only full-size
    passages participate (the ragged tail can't match anything of equal
    length)."""
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.length(_col(text_col)) - size, F.lit(0)),
        F.lit(stride),
    )
    passage = F.col(text_col).substr(F.col("passage_start") + 1, F.lit(size))
    return (
        df.select(
            F.col(id_col),
            F.col(text_col),
            F.explode(starts).alias("passage_start"),
        )
        .filter(F.length(_col(text_col)) >= size)
        .select(
            F.col(id_col),
            F.col("passage_start").cast("long").alias("passage_start"),
            F.md5(passage).alias("passage_md5"),
        )
    )


def repeated_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 100,
    stride: int = 50,
) -> DataFrame:
    """Exact repeated-substring detection: fixed-size character
    passages appearing in MORE THAN ONE document — the cross-document
    boilerplate/contamination signal that motivates substring-level
    corpus dedup (license headers, templated paragraphs, copied
    benchmark items survive near-dup banding but show up here).

    Scale: one grid explode (zero shuffle) + ONE partial-aggregated
    groupBy on the uniform passage hash; no pair join exists at all —
    cost is linear in corpus size, and the hot-passage skew that breaks
    pair-joins only makes ONE reduce-side group large, which AQE
    handles. Emits (passage_md5, n_docs, n_occurrences, first_doc) —
    the dedup pass would anti-join docs against this set.

    Alignment caveat (inherent to strided hashing): a repeat is
    detected only when it sits at offsets congruent mod *stride* in
    both documents — the common case for copied prefixes/templates.
    Full offset-independence needs content-defined chunking (split at
    rolling-hash boundaries) or a suffix array; same grid plan shape,
    different boundary expression."""
    grid = passage_grid(df, id_col, text_col, size, stride)
    return (
        grid.groupBy("passage_md5")
        .agg(
            F.count_distinct(id_col).alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min(id_col).alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 100,
    stride: int = 50,
) -> DataFrame:
    """Maximal duplicated character RANGES per document: the grid
    windows that :func:`repeated_passages` flags (shared with >1 doc)
    merged gaps-and-islands into their maximal contiguous spans — the
    span level is what a removal transform actually cuts (Lee et al.
    2022 emit duplicated byte RANGES, not fixed windows).

    Overlapping or touching windows coalesce (stride < size makes a
    contiguous duplicated run overlap window-to-window); a new island
    starts only when a window begins strictly after the running max end
    of everything before it.

    Scale: the hot-hash set is tiny next to the grid, so the semi join
    back is a broadcast under AQE; the islands pass partitions by
    document (bounded by windows-per-doc, never corpus size) — the same
    per-entity window discipline as sessionization, so no global sort
    exists anywhere in the plan.
    """
    grid = passage_grid(df, id_col, text_col, size, stride)
    hot = (
        grid.groupBy("passage_md5")
        .agg(F.count_distinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select("passage_md5")
    )
    occ = grid.join(hot, "passage_md5", "left_semi")
    w = Window.partitionBy(id_col).orderBy("passage_start")
    prev_max_end = F.max(F.col("passage_start") + size).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_new = F.when(
        prev_max_end.isNull() | (F.col("passage_start") > prev_max_end),
        F.lit(1),
    ).otherwise(F.lit(0))
    island = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        occ.withColumn("island", island)
        .groupBy(id_col, "island")
        .agg(
            F.min("passage_start").cast("long").alias("span_start"),
            F.max(F.col("passage_start") + size).cast("long").alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )


def cut_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Surgical span REMOVAL: cut every ``[span_start, span_end)``
    character range in *spans* out of each document's text — the
    transform that consumes :func:`duplicate_spans` (RefinedWeb-style
    boilerplate excision cuts every occurrence; a keep-first policy is
    a caller-side filter on *spans* before the call).

    Pure Catalyst: spans collect per doc (bounded by spans-per-doc),
    ``array_sort`` orders them, and ONE ``aggregate`` fold walks the
    text left-to-right concatenating the kept segments — no UDF, no
    explode, one join. Emits every document (uncut docs pass through)
    with ``n_spans``, ``n_cut_chars``, ``kept_len``, ``kept_md5`` —
    the md5 stands in for the text so the result stays scalar-hashable
    at any document size; callers wanting the text itself use the same
    fold via ``kept_text``.
    """
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("n_cut_chars"),
    )
    joined = df.join(per_doc, id_col, "left")
    text = F.col(text_col)
    zero = F.struct(
        F.lit(0).cast("long").alias("pos"), F.lit("").alias("txt")
    )
    fold = F.aggregate(
        F.col("_spans"),
        zero,
        lambda acc, s: F.struct(
            s["span_end"].alias("pos"),
            F.concat(
                acc["txt"],
                text.substr(
                    (acc["pos"] + 1).cast("int"),
                    (s["span_start"] - acc["pos"]).cast("int"),
                ),
            ).alias("txt"),
        ),
        lambda acc: F.concat(
            acc["txt"],
            text.substr(
                (acc["pos"] + 1).cast("int"),
                (F.length(text) - acc["pos"]).cast("int"),
            ),
        ),
    )
    kept = F.when(F.col("_spans").isNull(), text).otherwise(fold)
    return joined.select(
        F.col(id_col),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("n_cut_chars", F.lit(0)).cast("long").alias("n_cut_chars"),
        F.length(kept).cast("long").alias("kept_len"),
        F.md5(kept).alias("kept_md5"),
        kept.alias("kept_text"),
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 16,
) -> DataFrame:
    """Content-defined chunking: a boundary falls BEFORE position p
    whenever the MD5 of the preceding *w*-gram starts with byte 0x00
    (rate 1/256 → ~256-char average chunks). Boundaries depend only on
    local content, so identical passages produce identical chunks at
    ANY offset — the offset-independence the fixed grid
    (:func:`passage_grid`) lacks, and the technique substring-level
    corpus dedup actually uses (FastCDC et al.).

    Execution: Arrow-batched ``mapInPandas``; per-doc state is the
    boundary list (linear scan, no blowup — unlike a per-position
    explode, rows out ≈ len/256 per doc). The UDF body is
    self-contained (imports inside) so cloudpickle ships it whole.
    Production swaps the md5-per-window loop for a gear-hash rolling
    window in native code; the plan shape (one scan, zero shuffle,
    linear output) is identical — md5 keeps it oracle-checkable."""
    import pyspark.sql.types as SQLT

    # derive the doc_id output type from the input column (integral ids
    # widen to long, string ids pass through) — fail fast at plan time
    # on anything else rather than inside the executor UDF
    id_type = df.schema[id_col].dataType
    integral = isinstance(
        id_type,
        (SQLT.ByteType, SQLT.ShortType, SQLT.IntegerType, SQLT.LongType),
    )
    if not integral and not isinstance(id_type, SQLT.StringType):
        raise TypeError(
            f"cdc_chunks: id_col {id_col!r} must be an integral or string "
            f"column, got {id_type.simpleString()}"
        )
    id_dtype = "int64" if integral else "object"
    schema = SQLT.StructType(
        [
            SQLT.StructField(
                "doc_id", SQLT.LongType() if integral else SQLT.StringType()
            ),
            SQLT.StructField("chunk_idx", SQLT.LongType()),
            SQLT.StructField("chunk_start", SQLT.LongType()),
            SQLT.StructField("chunk_len", SQLT.LongType()),
            SQLT.StructField("chunk_md5", SQLT.StringType()),
        ]
    )
    width = w

    def gen(batches):
        import hashlib

        import pandas as pd

        md5 = hashlib.md5
        for pdf in batches:
            ids, idxs, starts, lens, hashes = [], [], [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                t = text if isinstance(text, str) else ""
                n = len(t)
                if t.isascii():
                    # ASCII fast path (r12, guide §4.2 per-task work):
                    # byte offsets == char offsets, so encode ONCE and
                    # hash zero-copy memoryview windows; the boundary
                    # test digest()[0] == 0 is hexdigest().startswith
                    # ("00") without building the hex string.  Bounds
                    # and hashes are bit-identical to the slow path.
                    mv = memoryview(t.encode("utf-8"))
                    bs = [
                        p
                        for p in range(width, n)
                        if md5(mv[p - width : p]).digest()[0] == 0
                    ]
                    edges = [0] + bs + [n]
                    for i, (s, e) in enumerate(zip(edges, edges[1:])):
                        ids.append(did)
                        idxs.append(i)
                        starts.append(s)
                        lens.append(e - s)
                        hashes.append(md5(mv[s:e]).hexdigest())
                    continue
                bs = [
                    p
                    for p in range(width, n)
                    if md5(t[p - width : p].encode("utf-8")).digest()[0]
                    == 0
                ]
                edges = [0] + bs + [n]
                for i, (s, e) in enumerate(zip(edges, edges[1:])):
                    ids.append(did)
                    idxs.append(i)
                    starts.append(s)
                    lens.append(e - s)
                    hashes.append(
                        md5(t[s:e].encode("utf-8")).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype=id_dtype),
                    "chunk_idx": pd.Series(idxs, dtype="int64"),
                    "chunk_start": pd.Series(starts, dtype="int64"),
                    "chunk_len": pd.Series(lens, dtype="int64"),
                    "chunk_md5": pd.Series(hashes, dtype="object"),
                }
            )

    return df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).mapInPandas(gen, schema)


def passage_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_words: int = 10,
) -> DataFrame:
    """Corpus-wide passage-level dedup with reassembly — the
    RefinedWeb/Gopher-style transform that REMOVES duplicated passages
    (here: fixed *block_words*-word blocks) keeping only the globally
    FIRST occurrence (min (doc_id, position)), then stitches each doc
    back together from its surviving blocks.

    Returns (doc_id, n_blocks, n_kept, n_dropped, dedup_fp) where
    ``dedup_fp`` is the MD5 of the reassembled text — compact and
    hash-checkable without shipping document bodies through the result.

    Scale shape: block explode is linear fan-out (no shuffle); the
    winner table is one ``min(struct(doc_id, pos))`` partial aggregate
    keyed on the uniform block MD5 (the same survivor pattern as
    :func:`~magshield_data_pipeline_spark.operators.dedup.exact_dedup`
    — no ranking window); survivors join back on the fingerprint and
    re-aggregate per doc with an ``array_sort`` of (pos, block) structs
    — deterministic reassembly without a sort exchange."""
    words = F.split(_col(text_col), " ")
    n_blocks = F.greatest(
        F.ceil(F.size(words) / F.lit(block_words)).cast("int"), F.lit(1)
    )
    block_of = lambda i: F.array_join(  # noqa: E731
        F.slice(words, i * block_words + 1, block_words), " "
    )
    blocks = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(F.sequence(F.lit(0), n_blocks - 1), block_of)
        ).alias("pos", "blk"),
    ).select(
        F.col(id_col), F.col("pos").cast("long").alias("pos"),
        F.col("blk"), F.md5("blk").alias("bfp"),
    )
    winners = blocks.groupBy("bfp").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("w")
    )
    kept = blocks.join(winners, "bfp").filter(
        (F.col(f"w.{id_col}") == F.col(id_col)) & (F.col("w.pos") == F.col("pos"))
    )
    totals = blocks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_blocks"))
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "blk"))),
                    lambda s: s["blk"],
                ),
                " ",
            )
        ).alias("dedup_fp"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_blocks"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.col("n_blocks") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
            # a doc whose every block lost reassembles to the empty string
            F.coalesce("dedup_fp", F.md5(F.lit(""))).alias("dedup_fp"),
        )
    )


def unicode_canonicalize(
    df: DataFrame,
    text_col: str = "text",
    nfc_col: str = "nfc_text",
    stripped_col: str | None = "stripped_text",
) -> DataFrame:
    """Unicode canonicalization for dedup keys: NFC composition plus
    accent folding (NFD → drop combining marks, category Mn) — the
    preprocessing that makes byte-level fingerprints see "cafe\\u0301"
    and "caf\\u00e9" as the SAME document.  Without it every exact /
    MinHash / SimHash key in this repo treats the two encodings of one
    string as distinct, a real web-corpus dup-leak.

    Spark has no normalizer built-in, so this is the sanctioned slow
    path: stdlib ``unicodedata`` inside ONE Arrow-batched
    ``mapInPandas`` projection — no shuffle, no per-row Python UDF;
    at 100 TB it pipelines with the scan like every other codec-style
    transform in this repo.  DuckDB twin: ``nfc_normalize`` /
    ``strip_accents``, which is what makes the operator oracle-
    checkable end to end.

    ``stripped_col=None`` skips the accent-folding pass entirely —
    composition callers that key on the NFC form alone shouldn't pay
    a second NFD traversal per row.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    # a FRESH StructType: .add() on df.schema mutates the frame's cached
    # schema object in place, poisoning df.columns with phantom fields
    schema = StructType(
        list(df.schema.fields)
        + [StructField(nfc_col, StringType())]
        + ([StructField(stripped_col, StringType())] if stripped_col else [])
    )

    def gen(batches):
        import unicodedata

        # ASCII fast path (r12, guide §4.2): ASCII is a fixed point of
        # NFC and NFD and contains no category-Mn code points, so
        # isascii() (a C-level flag check) makes both normalize passes
        # identity — exact, not approximate, for the common case of an
        # overwhelmingly-ASCII corpus.
        def nfc(t):
            if t is None or t.isascii():
                return t
            return unicodedata.normalize("NFC", t)

        def strip(t):
            if t is None or t.isascii():
                return t
            return "".join(
                ch
                for ch in unicodedata.normalize("NFD", t)
                if unicodedata.category(ch) != "Mn"
            )

        for pdf in batches:
            nfc_vals = pdf[text_col].map(nfc)
            extra = {nfc_col: nfc_vals}
            if stripped_col:
                extra[stripped_col] = nfc_vals.map(strip)
            yield pdf.assign(**extra)

    return df.mapInPandas(gen, schema)


# Gopher-family quality rule thresholds (Rae et al. 2021, appendix A1.1
# "quality filtering"): the PUBLISHED rule set is word count in
# [50, 100k], mean word length in [3, 10], symbol-to-word < 0.1,
# <90% bullet lines, <30% ellipsis lines, >=80% alpha words, >=2
# stopwords.  The FAMILY is what matters for the engine; the defaults
# below keep the published shape with bounds tuned so every rule fires
# on a real subset of the synthetic fixture (a rule that can never fire
# proves nothing — same teeth principle as the perturbed audit queries).
GOPHER_RULES = {
    "min_words": 40,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_ratio": 0.05,
    "max_bullet_frac": 0.3,
    "max_ellipsis_frac": 0.2,
    "min_alpha_frac": 0.9,
    "min_stop_hits": 2,
    "stopwords": ("the", "a", "of", "to", "and"),
}


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rules: dict | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document Gopher-style quality rule evaluation: one row per
    doc with the raw rule metrics, one boolean per fired rule, and the
    final ``keep`` verdict (no rule fired).  ``keep_cols`` names extra
    source columns to carry through (same one-scan convention as
    :func:`document_profile` — composition callers gate on ``keep``
    without a join-back that would re-evaluate the upstream plan).

    Every metric is a JVM-side expression over ONE projection of the
    text (no shuffle, no UDF): word stats from the whitespace-
    normalized form, line stats from the raw newline split, flags as
    plain comparisons on exact integer ratios (single IEEE divisions —
    engine-exact, so the thresholds decide identically in Spark and
    the DuckDB oracle).
    """
    r = {**GOPHER_RULES, **(rules or {})}
    raw = _col(text_col)
    norm = normalize_text(raw)
    words = F.split(norm, " ")
    nw = F.size(words)
    total_chars = F.length(F.replace(norm, F.lit(" "), F.lit("")))
    mean_len = total_chars / nw
    hash_count = F.length(norm) - F.length(
        F.replace(norm, F.lit("#"), F.lit(""))
    )
    symbol_ratio = hash_count / nw
    lines = F.split(raw, "\n")
    n_lines = F.size(lines)
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda x: x.startswith("- ") | x.startswith("* "),
            )
        )
        / n_lines
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda x: x.endswith("..."))) / n_lines
    )
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[a-z]"))) / nw
    )
    stop_hits = sum(
        F.array_contains(words, s).cast("long") for s in r["stopwords"]
    )
    flags = {
        "flag_word_count": ~nw.between(r["min_words"], r["max_words"]),
        "flag_mean_word_len": ~mean_len.between(
            r["min_mean_word_len"], r["max_mean_word_len"]
        ),
        "flag_symbol_ratio": symbol_ratio >= r["max_symbol_ratio"],
        "flag_bullet_lines": bullet_frac >= r["max_bullet_frac"],
        "flag_ellipsis_lines": ellipsis_frac >= r["max_ellipsis_frac"],
        "flag_alpha_words": alpha_frac < r["min_alpha_frac"],
        "flag_stopwords": stop_hits < r["min_stop_hits"],
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep | c)
    return df.select(
        _col(id_col),
        *[F.col(c) for c in keep_cols],
        nw.cast("long").alias("n_words"),
        F.round(mean_len, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        F.round(bullet_frac, 4).alias("bullet_frac"),
        F.round(ellipsis_frac, 4).alias("ellipsis_frac"),
        F.round(alpha_frac, 4).alias("alpha_frac"),
        stop_hits.alias("n_stop_hits"),
        *[c.alias(n) for n, c in flags.items()],
        (~keep).alias("keep"),
    )
