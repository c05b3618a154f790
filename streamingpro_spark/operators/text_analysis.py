"""Text-analysis operators for training-data pipelines (north-star).

Closest reference ops: FeatureExtractInPlace (regex features from raw
text — SQLFeatureExtractInPlace.scala) and TokenAnalysis
(SQLTokenAnalysis.scala).  These four are the LLM-pipeline versions:

- LanguageID       n-gram/stopword heuristic language guess
- QualityScore     length/punct/stopword/repetition quality features
- TokenCount       whitespace + BPE-ish regex token counts
- DocFingerprint   rolling/content hashes for exact + shift-tolerant dedup

All are per-row column expressions (JVM codegen, no shuffle, no Python)
— they scale linearly and survive a 100× scale-up untouched.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from streamingpro_spark.operators.base import (ETAlgorithm,
                                                ensure_parallelism,
                                                get_float, get_int,
                                                pushdown_barrier,
                                                refuse_scratch_collisions)
from streamingpro_spark.operators.registry import register_et
from streamingpro_spark.operators.dedup import (hash_impl,
                                                portable_hash64, tokens_col)

# tiny per-language stopword marker sets (heuristic language ID)
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "dans", "que"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "en", "que"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "人"],
}


def lang_score_col(text: Column, lang: str) -> Column:
    """Fraction of tokens that are marker stopwords of `lang`."""
    toks = tokens_col(text)
    markers = F.array(*[F.lit(m) for m in _LANG_MARKERS[lang]])
    hits = F.size(F.array_intersect(F.array_distinct(toks), markers))
    return hits.cast("double") / F.lit(len(_LANG_MARKERS[lang]))


def lang_guess_col(text: Column) -> Column:
    """argmax over language marker scores; 'und' when all zero.
    Deterministic tie-break: first maximal language in the fixed order
    en,de,fr,es,zh.

    Built as array_position(scores, array_max(scores)) rather than a
    running-best when/otherwise fold (optimization round 12, guide
    §1.2): the fold embedded the previous best TWICE per step, so each
    score expression appeared up to 2^(n-1) times in the plan —
    codegen'd with runtime CSE, but the expression tree itself grew
    exponentially in the language count (analysis + janino cost, and a
    method-size fallback risk as languages are added).  Here each
    score appears exactly once.  Equivalent by construction:
    array_position returns the FIRST index holding the max — the same
    language the forward strict-> scan kept — and the all-zero case
    maps to 'und' exactly as a never-beaten 0.0 starting best did
    (scores are non-negative, never NaN)."""
    langs = list(_LANG_MARKERS)
    scores = F.array(*[lang_score_col(text, lang) for lang in langs])
    names = F.array(*[F.lit(lang) for lang in langs])
    mx = F.array_max(scores)
    return F.when(mx > 0.0,
                  F.element_at(names,
                               F.array_position(scores, mx).cast("int"))
                  ).otherwise(F.lit("und"))


@register_et("LanguageID")
class LanguageID(ETAlgorithm):
    """Heuristic language ID: marker-stopword voting.
    `run documents as LanguageID.`` where contentCol="text"`."""

    def train(self, df, path, params, context=None):
        col = params.get("contentCol", "text")
        # spread before per-row regex/array work: a small-file scan
        # arrives as ONE partition (single-row-group parquet cannot be
        # split) and would serialize the corpus on one core — measured
        # 0.89s single-task for 5k docs at sf0.1.  At 100 TB the scan
        # already yields partitions >> cores and this is a no-op
        # (same idiom as RepetitionScore, optimization round 11).
        df = ensure_parallelism(df)
        return df.withColumn("lang_pred", lang_guess_col(F.col(col)))

    def explain_params(self):
        return [("contentCol", "text column", "text")]


def quality_cols(text: Column) -> dict[str, Column]:
    toks = tokens_col(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    mean_tok = (n_chars.cast("double") / F.greatest(n_tokens, F.lit(1)))
    distinct_ratio = (F.size(F.array_distinct(toks)).cast("double")
                      / F.greatest(n_tokens, F.lit(1)))
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    alpha_ratio = alpha.cast("double") / F.greatest(n_chars, F.lit(1))
    digit = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    digit_ratio = digit.cast("double") / F.greatest(n_chars, F.lit(1))
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    punct_ratio = punct.cast("double") / F.greatest(n_chars, F.lit(1))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "mean_token_len": F.round(mean_tok, 4),
        "distinct_token_ratio": F.round(distinct_ratio, 4),
        "alpha_ratio": F.round(alpha_ratio, 4),
        "digit_ratio": F.round(digit_ratio, 4),
        "punct_ratio": F.round(punct_ratio, 4),
    }


@register_et("QualityScore")
class QualityScore(ETAlgorithm):
    """Document quality features + a composite score in [0,1]
    (Gopher/C4-style heuristics: length band, repetition, symbol ratio)."""

    def train(self, df, path, params, context=None):
        col = params.get("contentCol", "text")
        # spread the single-partition small-file scan (see LanguageID)
        out = ensure_parallelism(df)
        qc = quality_cols(F.col(col))
        for name, c in qc.items():
            out = out.withColumn(name, c)
        score = (
            F.when((F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 100000), 0.25)
             .otherwise(0.0)
            + F.when(F.col("distinct_token_ratio") >= 0.2, 0.25).otherwise(0.0)
            + F.when((F.col("mean_token_len") >= 2) & (F.col("mean_token_len") <= 12),
                     0.25).otherwise(0.0)
            + F.when(F.col("alpha_ratio") >= 0.5, 0.25).otherwise(0.0))
        return out.withColumn("quality_score", F.round(score, 2))

    def explain_params(self):
        return [("contentCol", "text column", "text")]


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: word-piece regex — runs of letters, runs of
    digits, single punctuation — each ~1 token; long words count
    ceil(len/6) pieces (the GPT-style ~4 chars/token heuristic,
    conservative at 6)."""
    # greedy non-overlapping [^\s]{1,6} chunks a word of length L into
    # exactly ceil(L/6) pieces — ONE codegen regex pass; the previous
    # per-word F.aggregate fold was interpreted (non-codegen) and
    # dominated the bench at sf0.1 (9.1s → sub-second)
    pieces = F.regexp_count(text, F.lit(r"[^\s]{1,6}"))
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    return (pieces + punct).cast("long")


@register_et("TokenCount")
class TokenCount(ETAlgorithm):
    """Whitespace + BPE-ish token counting.
    Output adds ws_tokens / est_bpe_tokens columns."""

    def train(self, df, path, params, context=None):
        col = params.get("contentCol", "text")
        # spread the single-partition small-file scan (see LanguageID)
        df = ensure_parallelism(df)
        return (df.withColumn("ws_tokens", F.size(tokens_col(F.col(col))).cast("long"))
                  .withColumn("est_bpe_tokens", bpe_ish_token_count(F.col(col))))

    def explain_params(self):
        return [("contentCol", "text column", "text")]


@register_et("PiiRedact")
class PiiRedact(ETAlgorithm):
    """Training-data PII scrub: redact emails / phone numbers / IPv4
    addresses from a text column, with per-category match counts.

    Pure codegen regexp chain (regexp_count + regexp_replace) — per-row,
    no shuffle, no Python; the conservative regex subset is shared with
    RE2 so the DuckDB oracle runs the identical patterns.  Redaction
    order: email → ipv4 → phone (counts are taken on the original
    text per category).
    """

    EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    PHONE = r"\+?\d[\d\- ]{6,}\d"

    def train(self, df, path, params, context=None):
        col = params.get("contentCol", "text")
        # spread the single-partition small-file scan (see LanguageID)
        df = ensure_parallelism(df)
        c = F.col(col)
        red = F.regexp_replace(c, self.EMAIL, "<EMAIL>")
        red = F.regexp_replace(red, self.IPV4, "<IP>")
        red = F.regexp_replace(red, self.PHONE, "<PHONE>")
        return (df.withColumn("n_emails",
                              F.regexp_count(c, F.lit(self.EMAIL)).cast("long"))
                  .withColumn("n_ips",
                              F.regexp_count(c, F.lit(self.IPV4)).cast("long"))
                  .withColumn("n_phones",
                              F.regexp_count(c, F.lit(self.PHONE)).cast("long"))
                  .withColumn("text_redacted", red))

    def explain_params(self):
        return [("contentCol", "text column", "text")]


@register_et("DocFingerprint")
class DocFingerprint(ETAlgorithm):
    """Content fingerprints: md5 digest, 60-bit content hash, and a
    whitespace/case-normalized hash (shift-tolerant exact dedup key)."""

    def train(self, df, path, params, context=None):
        col = params.get("contentCol", "text")
        impl = hash_impl(params)
        # spread the single-partition small-file scan (see LanguageID)
        df = ensure_parallelism(df)
        norm = F.regexp_replace(F.lower(F.col(col)), r"\s+", " ")
        return (df.withColumn("md5", F.md5(F.col(col)))
                  .withColumn("content_hash",
                              portable_hash64(F.col(col), "fp", impl))
                  .withColumn("normalized_hash",
                              portable_hash64(F.trim(norm), "fpn", impl)))

    def explain_params(self):
        return [("contentCol", "text column", "text"),
                ("hashImpl", "md5 (oracle) | xxhash64 (production)", "md5")]


@register_et("ChunkDocuments")
class ChunkDocuments(ETAlgorithm):
    """Split documents into overlapping token-window chunks (the
    context-window preparation step of an LLM training pipeline).

    `run docs as ChunkDocuments.`` where chunkSize="128" and overlap="16"`
    → one row per chunk: original columns + (chunk_index, chunk_text,
    chunk_tokens).

    Pure codegen: split → sequence of window starts → explode → slice +
    concat_ws.  Map-side only (the explode multiplies rows ~n_tokens /
    (chunkSize - overlap); no shuffle).
    """

    def train(self, df, path, params, context=None):
        col = params.get("contentCol", "text")
        size = get_int(params, "chunkSize", 128)
        overlap = get_int(params, "overlap", 0)
        if not 0 <= overlap < size:
            raise ValueError("ChunkDocuments: need 0 <= overlap < chunkSize")
        # spread the single-partition small-file scan (see LanguageID)
        df = ensure_parallelism(df)
        step = size - overlap
        toks = F.split(F.col(col), r"\s+")
        n = F.size(toks)
        starts = F.sequence(F.lit(1), F.greatest(n - overlap, F.lit(1)),
                            F.lit(step))
        out = (df.withColumn("__toks", toks)
               .withColumn("__start", F.explode(starts))
               .withColumn("chunk_index",
                           ((F.col("__start") - 1) / step).cast("long"))
               .withColumn("__chunk", F.slice(F.col("__toks"), F.col("__start"),
                                              size))
               .withColumn("chunk_text", F.concat_ws(" ", F.col("__chunk")))
               .withColumn("chunk_tokens", F.size("__chunk").cast("long"))
               .drop("__toks", "__start", "__chunk"))
        return out

    def explain_params(self):
        return [("contentCol", "text column", "text"),
                ("chunkSize", "tokens per chunk", "128"),
                ("overlap", "tokens shared between consecutive chunks", "0")]


@register_et("RepetitionScore")
class RepetitionScore(ETAlgorithm):
    """Gopher-style repetition filter (Rae et al. 2021 §A1.1: repetition
    heuristics over words, n-grams and lines): per document,

    - top_word_frac      max word multiplicity / n_tokens
    - frac_dup_2grams    instances of repeated 2-grams / n_2grams
    - frac_dup_3grams    instances of repeated 3-grams / n_3grams
    - frac_dup_lines     instances of repeated lines / n_lines
    - keep               all fractions under the (configurable) caps

    Fractions are rounded to 4 places (HALF_UP).  One Arrow-batched
    numpy kernel computes them: np.unique duplicate counts per row and
    vectorized np.char n-gram assembly, map-only.  Not a JVM fold:
    Spark higher-order functions are interpreted, not codegen, and a
    sort_array + aggregate fold per metric ran 5x slower (sf0.1,
    local[4]: 7.57 s vs 1.42 s).

    Reference precedent: FeatureExtractInPlace
    (SQLFeatureExtractInPlace.scala) extracts per-row text ratios."""

    def train(self, df, path, params, context=None):
        col = params.get("contentCol", "text")
        max_top = get_float(params, "maxTopWordFrac", 0.3)
        max_dup = get_float(params, "maxDupNgramFrac", 0.4)
        max_lines = get_float(params, "maxDupLineFrac", 0.3)
        # per-row cost is real (~0.15 ms/doc); a small-file scan
        # arrives as ONE partition and would serialize the corpus on one
        # core (measured 27s for 5k docs at sf0.1 before the spread).
        # At 100 TB the scan already yields partitions >> cores and this
        # is a no-op.
        from streamingpro_spark.operators.base import ensure_parallelism
        df = ensure_parallelism(df)

        def kernel(batches):
            import math as _math
            import re as _re

            import numpy as _np

            def _r4(x):
                # HALF_UP like Spark/DuckDB round(x, 4) — Python round()
                # is banker's and differs on exact .5 (e.g. 0.15625)
                return _math.floor(x * 10000 + 0.5) / 10000

            def _dup_frac(values):
                # instances of a repeated value / all instances (0 when
                # there are none)
                _, c = _np.unique(values, return_counts=True)
                return _r4(float(c[c > 1].sum()) / max(len(values), 1))

            def _fracs(text):
                if text is None:
                    # null text -> null metrics, like SQL's split(NULL)
                    return None, None, None, None
                # same semantics as Spark split(lower, '\\s+'):
                # Java \\s is ASCII-only, so re.ASCII here keeps
                # Unicode whitespace INSIDE tokens like Spark's split
                # and the RE2 oracle do; leading/trailing whitespace
                # yields empty tokens on both
                toks = _np.array(_re.split(r"\s+", text.lower(),
                                           flags=_re.ASCII), dtype=object)
                _, c = _np.unique(toks, return_counts=True)
                a = toks.astype(str)
                g2 = _np.char.add(_np.char.add(a[:-1], " "), a[1:])
                g3 = _np.char.add(_np.char.add(g2[:-1], " "), a[2:])
                lines = _np.array(text.split("\n"), dtype=object)
                return (_r4(float(c.max()) / len(toks)), _dup_frac(g2),
                        _dup_frac(g3), _dup_frac(lines))

            for pdf in batches:
                rows = [_fracs(text) for text in pdf[col]]
                pdf = pdf.copy()
                for k, name in enumerate(("top_word_frac", "frac_dup_2grams",
                                          "frac_dup_3grams",
                                          "frac_dup_lines")):
                    pdf[name] = [r[k] for r in rows]
                pdf["keep"] = [None if a is None else
                               (a <= max_top and b <= max_dup
                                and c <= max_dup and d <= max_lines)
                               for a, b, c, d in rows]
                yield pdf

        extra = ("top_word_frac double, frac_dup_2grams double, "
                 "frac_dup_3grams double, frac_dup_lines double, "
                 "keep boolean")
        schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                           for f in df.schema.fields) + ", " + extra
        return df.mapInPandas(kernel, schema)

    def explain_params(self):
        return [("contentCol", "text column", "text"),
                ("maxTopWordFrac", "cap on top-word token fraction", "0.3"),
                ("maxDupNgramFrac", "cap on duplicated 2/3-gram fraction",
                 "0.4"),
                ("maxDupLineFrac", "cap on duplicated line fraction", "0.3")]


@register_et("C4QualityFilter")
class C4QualityFilter(ETAlgorithm):
    """C4-style heuristic page cleaning (Raffel et al. 2020,
    arXiv:1910.10683 §2.2).  No reference counterpart — part of the
    training-data curation family alongside QualityScore (Gopher) and
    RepetitionScore.

    Line stage: keep only lines that end in terminal punctuation
    (. ! ? ") AND contain at least `minWordsPerLine` words; the
    surviving lines are rejoined as `text_clean`.
    Page stage (flags on the ORIGINAL text): at least `minSentences`
    sentence-final marks, no "lorem ipsum", no '{' (code), no word
    from the `badWords` list.  `keep` is the conjunction, requiring at
    least one surviving line.

    mode=annotate (default) returns every row with the flags;
    mode=filter returns only kept rows.

    Scale: entirely per-row whole-stage codegen (split / filter /
    rlike / array_join) — zero shuffles, zero Python; the filter is a
    narrow map over the corpus scan.
    """

    def train(self, df, path, params, context=None):
        col = params.get("contentCol", "text")
        refuse_scratch_collisions(df, "C4QualityFilter", {
            "__c4_lines": "line array", "__c4_good": "kept-line array"})
        # spread the single-partition small-file scan (see LanguageID)
        df = ensure_parallelism(df)
        min_words = get_int(params, "minWordsPerLine", 5)
        min_sent = get_int(params, "minSentences", 3)
        bad_words = [w.strip().lower()
                     for w in params.get("badWords", "").split(",") if w.strip()]
        mode = params.get("mode", "annotate")

        # null text behaves as empty (F.size(split(NULL)) is -1, which
        # would leak a negative n_lines and a non-deterministic keep)
        text = F.coalesce(F.col(col), F.lit(""))
        # line array and surviving-line array computed ONCE per row in
        # their own project — CollapseProject's cost check keeps these
        # multiply-referenced non-cheap aliases from being inlined
        # into each metric (optimization round 12, guide §1.2)
        df = (df.withColumn("__c4_lines", F.split(text, "\n"))
                .withColumn("__c4_good", F.filter(
                    F.col("__c4_lines"),
                    lambda l: l.rlike('[.!?"]\\s*$')
                    & (F.size(F.split(F.trim(l), "\\s+")) >= min_words))))
        lines = F.col("__c4_lines")
        good = F.col("__c4_good")
        n_sent = F.size(F.split(text, "[.!?]")) - 1
        lower = F.lower(text)
        has_lorem = lower.contains("lorem ipsum")
        has_brace = text.contains("{")
        if bad_words:
            # one split + arrays_overlap with the literal blocklist —
            # an OR-chain of array_contains would clone the split
            # subtree per entry (C4's real blocklist is ~400 words)
            words = F.split(F.regexp_replace(lower, "[^a-z0-9 ]", " "), "\\s+")
            has_bad = F.arrays_overlap(
                words, F.array(*[F.lit(w) for w in bad_words]))
        else:
            has_bad = F.lit(False)

        out = (df.withColumn("n_lines", F.size(lines).cast("long"))
                 .withColumn("n_kept_lines", F.size(good).cast("long"))
                 .withColumn("text_clean", F.array_join(good, "\n"))
                 .withColumn("n_sentences",
                             F.greatest(n_sent, F.lit(0)).cast("long"))
                 .withColumn("has_lorem", has_lorem)
                 .withColumn("has_brace", has_brace)
                 .withColumn("has_bad_word", has_bad)
                 .drop("__c4_lines", "__c4_good"))
        # keep the keep-filter (filter mode here, or a consumer's WHERE
        # in annotate mode) from inlining every flag back into one
        # giant pushed-down Filter condition (see base.pushdown_barrier)
        out = pushdown_barrier(out, "c4")
        out = out.withColumn("keep",
                             (F.col("n_kept_lines") > 0)
                             & (F.col("n_sentences") >= min_sent)
                             & ~F.col("has_lorem") & ~F.col("has_brace")
                             & ~F.col("has_bad_word"))
        if mode == "filter":
            out = out.filter(F.col("keep")).drop("keep")
        return out

    def explain_params(self):
        return [("contentCol", "text column", "text"),
                ("minWordsPerLine", "line word minimum", "5"),
                ("minSentences", "page sentence minimum", "3"),
                ("badWords", "comma-separated blocklist", ""),
                ("mode", "annotate | filter", "annotate")]


_SMART_PUNCT_FROM = "’‘‚“”„–—−\u00a0"
_SMART_PUNCT_TO = "'''\"\"\"--- "
_ACCENT_FROM = ("àáâãäåèéêë"
                "ìíîïòóôõö"
                "ùúûüçñýÿ"
                "ÀÁÂÃÄÅÈÉÊË"
                "ÌÍÎÏÒÓÔÕÖ"
                "ÙÚÛÜÇÑÝ")
_ACCENT_TO = ("aaaaaaeeee" "iiiiooooo" "uuuucnyy"
              "AAAAAAEEEE" "IIIIOOOOO" "UUUUCNY")


@register_et("TextNormalize")
class TextNormalize(ETAlgorithm):
    """CCNet-style text normalization (Wenzek et al. 2020,
    arXiv:1911.00359 §3.1 normalizes before hashing) — the cleanup
    step that belongs IN FRONT of ExactDedup / MinHashDedup /
    ParagraphDedup so near-identical byte variants hash together.  No
    reference counterpart — part of the training-data curation family.

    Fixed-order, individually gated steps (defaults in parens):

    1. stripControl (true)   remove C0/C1 control chars except
                             tab/newline/CR (those are whitespace and
                             fall to step 6)
    2. unifyPunct (true)     smart quotes -> ASCII quotes, en/em
                             dash and minus -> '-', NBSP -> space,
                             ellipsis char -> '...'
    3. stripAccents (false)  Latin-1 accented letters -> base letters
                             (codepoint translate, no ICU dependency)
    4. digitsToZero (false)  [0-9] -> '0' (CCNet digit unification)
    5. lowercase (true)
    6. collapseWhitespace (true)  \\s+ -> single space, then trim

    Writes `outputCol` (default: in-place on `contentCol`).  Null text
    stays null (every step propagates null), so pre-dedup chains keep
    their null semantics.

    Scale: per-row whole-stage codegen (translate / regexp_replace /
    lower) — zero shuffles, zero Python; a narrow map over the corpus
    scan, same posture as C4QualityFilter."""

    def train(self, df, path, params, context=None):
        col = params.get("contentCol", "text")
        out_col = params.get("outputCol", "") or col
        # spread the single-partition small-file scan (see LanguageID)
        df = ensure_parallelism(df)
        c = F.col(col)
        if params.get("stripControl", "true") == "true":
            c = F.regexp_replace(
                c, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x80-\x9F]", "")
        if params.get("unifyPunct", "true") == "true":
            c = F.translate(c, _SMART_PUNCT_FROM, _SMART_PUNCT_TO)
            c = F.replace(c, F.lit("…"), F.lit("..."))
        if params.get("stripAccents", "false") == "true":
            c = F.translate(c, _ACCENT_FROM, _ACCENT_TO)
        if params.get("digitsToZero", "false") == "true":
            c = F.regexp_replace(c, "[0-9]", "0")
        if params.get("lowercase", "true") == "true":
            c = F.lower(c)
        if params.get("collapseWhitespace", "true") == "true":
            c = F.trim(F.regexp_replace(c, r"\s+", " "))
        return df.withColumn(out_col, c)

    def explain_params(self):
        return [("contentCol", "text column", "text"),
                ("outputCol", "destination column (default in-place)", ""),
                ("stripControl", "drop C0/C1 control chars", "true"),
                ("unifyPunct",
                 "smart quotes/dashes/NBSP/ellipsis -> ASCII", "true"),
                ("stripAccents", "Latin-1 accents -> base letters", "false"),
                ("digitsToZero", "[0-9] -> 0 (CCNet)", "false"),
                ("lowercase", "lowercase", "true"),
                ("collapseWhitespace",
                 "whitespace runs -> single space + trim", "true")]


@register_et("GopherQualityFilter")
class GopherQualityFilter(ETAlgorithm):
    """Gopher quality rules (Rae et al. 2021, arXiv:2112.11446 §A1.1 —
    the non-repetition half; RepetitionScore covers the repetition
    half).  No reference counterpart — part of the training-data
    curation family alongside C4QualityFilter / QualityScore.

    Per document (fractions rounded to 4):

    - n_words              whitespace-split word count
    - mean_word_len        total non-whitespace chars / n_words
    - symbol_word_ratio    ('#' + '...' / '…' occurrences) / n_words
    - frac_bullet_lines    lines starting with a bullet glyph
    - frac_ellipsis_lines  lines ending with an ellipsis
    - frac_alpha_words     words containing >= 1 [A-Za-z]
    - n_required_stopwords distinct hits among the 8 Gopher stop words
                           (the, be, to, of, and, that, have, with;
                           token equality — punctuation-adjacent forms
                           don't count, chain TextNormalize-style
                           cleanup first if the corpus needs it)
    - keep                 the published conjunction: minWords <=
                           n_words <= maxWords, minMeanWordLen <=
                           mean_word_len <= maxMeanWordLen,
                           symbol_word_ratio <= maxSymbolWordRatio,
                           frac_bullet_lines <= maxBulletLineFrac,
                           frac_ellipsis_lines <= maxEllipsisLineFrac,
                           frac_alpha_words >= minAlphaWordFrac,
                           n_required_stopwords >= minStopwords

    mode=annotate (default) returns every row with the metrics;
    mode=filter returns only kept rows.

    Scale: per-row JVM expressions only (split / regexp_count / filter
    over the line array) — zero shuffles, zero Python; a narrow map
    over the corpus scan, same posture as C4QualityFilter.
    """

    REQUIRED_STOPWORDS = ["the", "be", "to", "of", "and",
                          "that", "have", "with"]

    def train(self, df, path, params, context=None):
        col = params.get("contentCol", "text")
        refuse_scratch_collisions(df, "GopherQualityFilter", {
            "__gq_words": "word array", "__gq_lines": "line array"})
        # spread the single-partition small-file scan (see LanguageID)
        df = ensure_parallelism(df)
        min_words = get_int(params, "minWords", 50)
        max_words = get_int(params, "maxWords", 100000)
        min_mwl = get_float(params, "minMeanWordLen", 3.0)
        max_mwl = get_float(params, "maxMeanWordLen", 10.0)
        max_sym = get_float(params, "maxSymbolWordRatio", 0.1)
        max_bullet = get_float(params, "maxBulletLineFrac", 0.9)
        max_ellip = get_float(params, "maxEllipsisLineFrac", 0.3)
        min_alpha = get_float(params, "minAlphaWordFrac", 0.8)
        min_stop = get_int(params, "minStopwords", 2)
        mode = params.get("mode", "annotate")

        text = F.coalesce(F.col(col), F.lit(""))
        # The word/line token arrays are computed ONCE per row in a
        # dedicated project: CollapseProject's cost check keeps a
        # non-cheap alias that is referenced more than once from being
        # inlined, so every metric below reads the same array instead
        # of re-splitting the text (optimization round 12, guide §1.2).
        #
        # drop empty split tokens: leading/trailing whitespace or a
        # terminal newline otherwise inflates n_words by 1 (and an
        # empty doc reports 1 word, not 0), skewing EVERY per-word
        # fraction near its threshold (round-8 review finding)
        tmp = (df.withColumn("__gq_words",
                             F.filter(F.split(text, r"\s+"),
                                      lambda w: w != ""))
                 .withColumn("__gq_lines", F.split(text, "\n")))
        words = F.col("__gq_words")
        lines = F.col("__gq_lines")
        n_words = F.size(words)
        d_words = F.greatest(n_words, F.lit(1))
        d_lines = F.greatest(F.size(lines), F.lit(1))

        def frac(numer):
            return F.round(numer.cast("double") / d_words, 4)

        # mean word length via ONE regexp_replace (total word chars),
        # not an interpreted aggregate fold over the array
        word_chars = F.length(F.regexp_replace(text, r"\s+", ""))
        n_symbols = (F.regexp_count(text, F.lit("#"))
                     + F.regexp_count(text, F.lit(r"\.\.\.|…")))
        bullet = F.size(F.filter(
            lines, lambda l: l.rlike(r"^\s*[-*•‣▪]")))
        ellip = F.size(F.filter(
            lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
        alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
        stops = F.size(F.array_intersect(
            F.array_distinct(F.split(F.lower(text), r"\s+")),
            F.array(*[F.lit(w) for w in self.REQUIRED_STOPWORDS])))

        out = (tmp
               .withColumn("n_words", n_words.cast("long"))
               .withColumn("mean_word_len", frac(word_chars))
               .withColumn("symbol_word_ratio", frac(n_symbols))
               .withColumn("frac_bullet_lines",
                           F.round(bullet.cast("double") / d_lines, 4))
               .withColumn("frac_ellipsis_lines",
                           F.round(ellip.cast("double") / d_lines, 4))
               .withColumn("frac_alpha_words", frac(alpha))
               .withColumn("n_required_stopwords", stops.cast("long"))
               .drop("__gq_words", "__gq_lines"))
        # barrier BEFORE the keep conjunction: without it, the keep
        # filter (here in filter mode, or applied later by a consumer
        # in annotate mode) is pushed through the metric project,
        # inlining every metric — and the whole upstream normalize
        # chain — once per predicate into a single codegen-hostile
        # Filter condition that then sinks below the parallelism
        # spread (see base.pushdown_barrier; measured on the lake
        # cache-build plan)
        out = pushdown_barrier(out, "gopher")
        keep = ((F.col("n_words") >= min_words)
                & (F.col("n_words") <= max_words)
                & (F.col("mean_word_len") >= min_mwl)
                & (F.col("mean_word_len") <= max_mwl)
                & (F.col("symbol_word_ratio") <= max_sym)
                & (F.col("frac_bullet_lines") <= max_bullet)
                & (F.col("frac_ellipsis_lines") <= max_ellip)
                & (F.col("frac_alpha_words") >= min_alpha)
                & (F.col("n_required_stopwords") >= min_stop))
        out = out.withColumn("keep", keep)
        if mode == "filter":
            out = out.filter(F.col("keep")).drop("keep")
        return out

    def explain_params(self):
        return [("contentCol", "text column", "text"),
                ("minWords", "minimum word count", "50"),
                ("maxWords", "maximum word count", "100000"),
                ("minMeanWordLen", "minimum mean word length", "3"),
                ("maxMeanWordLen", "maximum mean word length", "10"),
                ("maxSymbolWordRatio", "max (#|...)/words ratio", "0.1"),
                ("maxBulletLineFrac", "max bullet-start line frac", "0.9"),
                ("maxEllipsisLineFrac", "max ellipsis-end line frac", "0.3"),
                ("minAlphaWordFrac", "min frac words with a letter", "0.8"),
                ("minStopwords",
                 "min distinct required stop words present", "2"),
                ("mode", "annotate | filter", "annotate")]


@register_et("UrlFilter")
class UrlFilter(ETAlgorithm):
    """RefinedWeb-style URL curation (Penedo et al. 2023,
    arXiv:2306.01116 §3.1).  No reference counterpart — part of the
    training-data curation family alongside C4QualityFilter.

    Parses the URL with codegen regexps and attaches:
    `url_host` (lowercased authority minus userinfo/port),
    `url_domain` (host minus a leading www.), and `url_normalized`
    (lowercased, scheme/www/fragment stripped, trailing slashes
    trimmed — the canonical form RefinedWeb exact-URL dedup keys on;
    chain with `ExactDedup contentCol="url_normalized"`).  Flags:
    `bad_scheme` (scheme outside `allowedSchemes`), `blocked_domain`
    (url_domain equals or is a subdomain of a `blockedDomains` entry),
    `blocked_keyword` (a `blockedKeywords` substring anywhere in the
    lowercased URL — the C4/RefinedWeb word-blocklist filter), and
    `blocked_extension` (path ends in a `blockedExtensions` entry).
    `keep` requires a parseable host and no raised flag.
    mode=annotate (default) | filter, like C4QualityFilter.

    Scale: per-row whole-stage codegen (regexp_extract / exists over
    literal arrays) — zero shuffles, zero Python; a narrow map over
    the corpus scan.
    """

    def train(self, df, path, params, context=None):
        col = params.get("urlCol", "url")
        # spread the single-partition small-file scan (see LanguageID)
        df = ensure_parallelism(df)
        allowed = [s.strip().lower() for s in
                   params.get("allowedSchemes", "http,https").split(",")
                   if s.strip()]
        domains = [d.strip().lower() for d in
                   params.get("blockedDomains", "").split(",") if d.strip()]
        keywords = [k.strip().lower() for k in
                    params.get("blockedKeywords", "").split(",") if k.strip()]
        exts = [e.strip().lower().lstrip(".") for e in
                params.get("blockedExtensions", "").split(",") if e.strip()]
        mode = params.get("mode", "annotate")

        url = F.coalesce(F.col(col), F.lit(""))
        scheme = F.lower(F.regexp_extract(
            url, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
        auth = F.regexp_extract(
            url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
        host = F.lower(F.regexp_replace(
            F.regexp_replace(auth, "^[^@]*@", ""), ":[0-9]+$", ""))
        domain = F.regexp_replace(host, "^www\\.", "")
        path = F.lower(F.regexp_extract(
            url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)", 1))
        normalized = F.regexp_replace(F.regexp_replace(F.regexp_replace(
            F.lower(url),
            "^[a-z][a-z0-9+.-]*://", ""),      # scheme
            "#.*$", ""),                        # fragment
            "/+$", "")                          # trailing slashes
        normalized = F.regexp_replace(normalized, "^www\\.", "")

        def any_of(values, pred):
            if not values:
                return F.lit(False)
            return F.exists(F.array(*[F.lit(v) for v in values]), pred)

        bad_scheme = ~scheme.isin(allowed)
        blocked_domain = any_of(
            domains,
            lambda d: (F.col("url_domain") == d)
            | F.col("url_domain").endswith(F.concat(F.lit("."), d)))
        blocked_keyword = any_of(
            keywords, lambda k: F.lower(url).contains(k))
        blocked_ext = any_of(
            exts, lambda e: path.endswith(F.concat(F.lit("."), e)))

        out = (df.withColumn("url_host", host)
                 .withColumn("url_domain", domain)
                 .withColumn("url_normalized", normalized)
                 .withColumn("bad_scheme", bad_scheme)
                 .withColumn("blocked_domain", blocked_domain)
                 .withColumn("blocked_keyword", blocked_keyword)
                 .withColumn("blocked_extension", blocked_ext))
        # keep the keep-filter from inlining the regexp parse chain
        # once per flag into one pushed-down Filter condition (see
        # base.pushdown_barrier)
        out = pushdown_barrier(out, "url")
        out = out.withColumn("keep",
                             (F.col("url_host") != "")
                             & ~F.col("bad_scheme")
                             & ~F.col("blocked_domain")
                             & ~F.col("blocked_keyword")
                             & ~F.col("blocked_extension"))
        if mode == "filter":
            out = out.filter(F.col("keep")).drop("keep")
        return out

    def explain_params(self):
        return [("urlCol", "URL column", "url"),
                ("allowedSchemes", "comma-separated scheme allowlist",
                 "http,https"),
                ("blockedDomains", "comma-separated domain blocklist "
                 "(matches the domain and its subdomains)", ""),
                ("blockedKeywords", "comma-separated substrings blocked "
                 "anywhere in the URL", ""),
                ("blockedExtensions", "comma-separated blocked path "
                 "extensions", ""),
                ("mode", "annotate | filter", "annotate")]


@register_et("MainContentExtract")
class MainContentExtract(ETAlgorithm):
    """Boilerplate-aware main-content extraction from raw HTML — the
    step between a WARC/crawl scan and the text-curation chain.

    Method (public prior art: Kohlschütter et al. 2010 "Boilerplate
    Detection using Shallow Text Features"; Barbaresi 2021
    trafilatura): navigation, headers, footers and link farms are
    short and link-dense, article prose is long and link-sparse — so
    split the page into BLOCKS at block-level tags and keep a block
    only if it has at least ``minWords`` words AND fewer than one
    anchor per ``wordsPerLink`` words (integer compare: strictly
    n_links * wordsPerLink < n_words; exact in SQL on both engines).
    The reference's crawler_auto_extract_body UDF
    (MLSQLCrawlerFunctions, streamingpro crawler module) strips tags
    with no boilerplate judgement at all — and runs row-at-a-time in
    the JVM; this operator adds the block model and stays entirely in
    whole-stage codegen.

    Pipeline per row (all deterministic regex/list expressions —
    replayable in the DuckDB oracle):

    1. drop <script>/<style> elements and <!-- comments -->
    2. convert block-level tags (p, div, br, li, h1-h6, tr, td, th,
       section, article, ul, ol, table, blockquote, header, footer,
       nav) to newlines; split into blocks
    3. per block: strip inline tags, decode the common HTML entities
       (&amp; last, the single-pass order), collapse whitespace;
       count words and ``<a`` anchors (counted BEFORE tag-strip)
    4. keep prose blocks (the rule above); join survivors with \\n

    Output columns: ``main_content`` (NULL html → NULL, the visible
    pass-through convention), ``n_blocks_kept``, ``n_blocks_total``
    (non-empty blocks, NULL for NULL html).

    Numeric character references beyond &#39; are left undecoded by
    design (documented scope — a full entity table buys little for
    quality filtering and costs a reference-table join or a UDF).

    100 TB: per-row regex + higher-order-list expressions, ZERO
    exchanges, no Python (plan-gated) — extraction rides the WARC
    scan itself, the same posture as LanguageID/QualityScore.
    """

    #: block-level elements converted to block boundaries
    _BLOCK_TAGS = ("p|div|br|li|h[1-6]|tr|td|th|section|article|ul|ol"
                   "|table|blockquote|header|footer|nav")

    def train(self, df, path, params, context=None):
        in_col = params.get("inputCol", "html")
        out_col = params.get("outputCol", "main_content")
        min_words = get_int(params, "minWords", 5)
        words_per_link = get_int(params, "wordsPerLink", 5)
        if in_col not in df.columns:
            raise ValueError(
                f"MainContentExtract: inputCol {in_col!r} not in input "
                f"columns {df.columns}")
        if out_col == in_col:
            # the overwrite convention drops out_col first, which
            # would destroy the very column the expressions read
            # (review finding, round 11 — same class as GroupedSplit's
            # outputCol == groupCol)
            raise ValueError(
                f"MainContentExtract: outputCol and inputCol are both "
                f"{out_col!r} — the extracted content would overwrite "
                f"its own source; pick a different outputCol")
        if out_col in ("n_blocks_kept", "n_blocks_total"):
            raise ValueError(
                f"MainContentExtract: outputCol {out_col!r} collides "
                f"with the operator's count columns (n_blocks_kept, "
                f"n_blocks_total) — the content would be silently "
                f"overwritten; pick a different outputCol")
        if min_words < 1:
            raise ValueError(
                f"MainContentExtract: minWords must be >= 1, got "
                f"{min_words}")
        if words_per_link < 1:
            raise ValueError(
                f"MainContentExtract: wordsPerLink must be >= 1, got "
                f"{words_per_link}")
        # spread the single-partition small-file scan (see LanguageID):
        # measured 1.55s single-task for 5k pages at sf0.1 — the
        # heaviest per-row chain in the text family
        df = ensure_parallelism(df)
        html = F.col(in_col)
        cleaned = F.regexp_replace(
            html, r"(?is)<script\b[^>]*>.*?</script>", " ")
        cleaned = F.regexp_replace(
            cleaned, r"(?is)<style\b[^>]*>.*?</style>", " ")
        cleaned = F.regexp_replace(cleaned, r"(?s)<!--.*?-->", " ")
        cleaned = F.regexp_replace(
            cleaned, rf"(?i)</?(?:{self._BLOCK_TAGS})\b[^>]*>", "\n")
        blocks = F.split(cleaned, "\n")

        def block_text(b):
            t = F.regexp_replace(b, r"<[^>]+>", " ")
            # single-pass entity decode: &amp; strictly LAST
            for ent, ch in (("&nbsp;", " "), ("&lt;", "<"),
                            ("&gt;", ">"), ("&quot;", '"'),
                            ("&#39;", "'"), ("&amp;", "&")):
                t = F.replace(t, F.lit(ent), F.lit(ch))
            return F.trim(F.regexp_replace(t, r"\s+", " "))

        # one struct pass materializes (text, words, links) per block,
        # then every consumer reads the struct fields — Catalyst does
        # no CSE inside higher-order-function lambdas, so the naive
        # shape re-ran the 8-step block_text chain up to 4x per block
        # (review finding, round 11; this mirrors the DuckDB oracle's
        # judged/scored CTEs)
        judged = F.transform(
            blocks,
            lambda b: F.struct(
                block_text(b).alias("t"),
                F.regexp_count(b, F.lit(r"(?i)<a\b")).alias("l")))
        scored = F.transform(
            judged,
            lambda j: F.struct(
                j["t"].alias("t"),
                F.size(F.filter(F.split(j["t"], " "),
                                lambda w: w != "")).alias("w"),
                j["l"].alias("l")))
        keep = F.filter(
            scored,
            lambda s: (s["w"] >= F.lit(min_words))
            & (s["l"] * F.lit(words_per_link) < s["w"]))
        content = F.array_join(
            F.transform(keep, lambda s: s["t"]), "\n")
        non_empty = F.filter(scored, lambda s: s["w"] > 0)
        return (df.drop(out_col, "n_blocks_kept", "n_blocks_total")
                .withColumn(out_col,
                            F.when(html.isNull(),
                                   F.lit(None).cast("string"))
                             .otherwise(content))
                .withColumn("n_blocks_kept",
                            F.when(html.isNull(),
                                   F.lit(None).cast("int"))
                             .otherwise(F.size(keep).cast("int")))
                .withColumn("n_blocks_total",
                            F.when(html.isNull(),
                                   F.lit(None).cast("int"))
                             .otherwise(F.size(non_empty).cast("int"))))

    def explain_params(self):
        return [("inputCol", "raw HTML column", "html"),
                ("outputCol", "extracted main-content column "
                 "(overwritten if present)", "main_content"),
                ("minWords", "minimum words for a block to be prose",
                 "5"),
                ("wordsPerLink", "keep a block only if anchors * this "
                 "< words (link-density gate)", "5")]
