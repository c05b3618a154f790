"""Training-data pipeline operators beyond the reference's surface
(north-star family, joining dedup/similarity/text_analysis):

- NgramLMScore        CCNet-style bigram-LM quality score (self-trained)
- DSIRScore           importance score vs a target corpus (hashed n-grams)
- PerplexityBucket    CCNet head/middle/tail quantile bucketing of a score
- StratifiedSampleExt deterministic hash sampling per stratum (data mixing)
- WeightedSampleExt   deterministic per-row sampling by a weight column
- TokenBudgetSample   cap each stratum at a token budget, hash-ordered
- SequencePack        pack documents into fixed token-budget sequences
- BPETokenizer        real byte-pair-encoding: distributed word counts →
                      driver merge training → broadcast Arrow apply

Closest reference ops: RateSampler (per-category sampling,
SQLRateSampler.scala) and TfIdfInPlace (corpus-statistics featurization,
SQLTfIdfInPlace.scala); these four are their LLM-pipeline descendants.

Scale notes (100 TB): see each class docstring; SCALE.md has the
per-operator shuffle inventory.
"""

from __future__ import annotations

from collections import Counter
from typing import TYPE_CHECKING

import pandas as pd  # module-level: pandas_udf type hints must resolve
from pyspark.sql import Window, functions as F

from streamingpro_spark.operators.base import (ETAlgorithm, ensure_parallelism,
                                               get_float, get_int, local_table,
                                               refuse_scratch_collisions,
                                               script_cache)
from streamingpro_spark.operators.dedup import (hash_impl,
                                                portable_hash64, tokens_col,
                                                words_col,
                                                words_count_col)
from streamingpro_spark.operators.registry import register_et

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame


# ---------------------------------------------------------------------------
# The blocked prefix walk (TokenBudgetSample, DeterministicShard,
# SequencePack)
# ---------------------------------------------------------------------------

def prefix_scratch(bucket: bool) -> dict[str, str]:
    """The columns `prefix_before` creates (name → why), for the
    caller's `refuse_scratch_collisions` guard."""
    names = ("__before", "__cin", "__s", "__ob", "__boff") if bucket \
        else ("__before",)
    return {c: "created by the prefix walk" for c in names}


def prefix_before(df: "DataFrame", group: str, order: "list[Column]",
                  weight: "Column | None" = None,
                  bucket: str | None = None) -> "DataFrame":
    """`df` plus `__before`: the running total of `weight` (None = 1
    per row) over the rows before each row of its `group`, walked in
    ([bucket,] order) order.

    Without `bucket` this is one window per group.  With `bucket` (a
    non-NULL column) no task sorts a whole group: each (group, bucket)
    window keeps its own running total `__cin`, and a |groups| x
    |buckets| offset table adds the totals of the earlier buckets.
    The bucket totals are max(`__cin`) over the windowed stream (the
    last value of a non-negative running total is its total), so the
    aggregate shares the window's exchange: one corpus scan, one
    shuffle.  The offset table is broadcast back, and the group is
    matched null-safe, so a NULL group is one group."""
    keys = [group] + ([bucket] if bucket else [])
    w = (Window.partitionBy(*keys).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    step = F.lit(1) if weight is None else weight
    running = (F.row_number() if weight is None else F.sum(weight)).over(w)
    if not bucket:
        return df.withColumn("__before", running - step)
    walked = df.withColumn("__cin", running)
    tot = (walked.groupBy(F.col(group).alias("__s"),
                          F.col(bucket).alias("__ob"))
           .agg(F.max("__cin").alias("__tot")))
    earlier = (Window.partitionBy("__s").orderBy("__ob")
               .rowsBetween(Window.unboundedPreceding, -1))
    off = tot.select("__s", "__ob",
                     F.coalesce(F.sum("__tot").over(earlier), F.lit(0))
                      .alias("__boff"))
    return (walked.join(F.broadcast(off),
                        F.col(group).eqNullSafe(F.col("__s"))
                        & (F.col(bucket) == F.col("__ob")), "left")
            .withColumn("__before",
                        F.coalesce(F.col("__boff"), F.lit(0))
                        + F.col("__cin") - step)
            .drop("__cin", "__s", "__ob", "__boff"))


# ---------------------------------------------------------------------------
# NgramLMScore
# ---------------------------------------------------------------------------

@register_et("NgramLMScore")
class NgramLMScore(ETAlgorithm):
    """Bigram language-model score per document, trained on the corpus
    itself (the CCNet/Gopher-style "perplexity filter" shape: documents
    whose token transitions are unusual for the corpus score high).

    score = mean over bigrams of -ln P(w2 | w1), with add-k smoothing
    P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·V'), over a capped vocabulary:
    the top-`vocabSize` tokens by frequency (ties broken by token text),
    everything else mapped to '<unk>'; V' = |vocab| + 1.

    Plan (all DataFrame, no Python in the hot path):
      posexplode tokens → unigram counts (1 shuffle) → top-V via
      distributed TakeOrdered (no single-partition sort) → broadcast
      vocab join maps the token stream → window lead() forms bigrams
      (1 shuffle on doc id) → bigram counts (1 shuffle) → count joins
      (vocab/unigram side broadcast by size; bigram side left to AQE)
      → per-doc aggregate (1 shuffle).

    100 TB: ~4 shuffles of the token stream is inherent to corpus-wide
    LM scoring; `trainFraction` cuts the count-building passes to a
    deterministic hash-sample of documents (score ALL docs with counts
    from the sample — the standard production shape) while keeping the
    scoring pass map-side + one final per-doc aggregate.  The count
    tables are bounded: unigrams by vocabSize, bigrams by observed
    pairs over the capped vocab.
    """

    def train(self, df, path, params, context=None):
        id_col = params.get("idCol", "doc_id")
        col = params.get("contentCol", "text")
        vocab_size = get_int(params, "vocabSize", 10000)
        k = get_float(params, "addK", 0.1)
        train_fraction = get_float(params, "trainFraction", 1.0)
        df = ensure_parallelism(df)

        train_df = df
        if train_fraction < 1.0:
            # deterministic hash sample: portable, re-runnable, no RNG
            gate = int(train_fraction * 1_000_000)
            train_df = df.filter(
                F.pmod(portable_hash64(F.col(id_col).cast("string"), "lmtrain",
                                       hash_impl(params)),
                       F.lit(1_000_000)) < gate)

        def token_stream(src):
            return src.select(
                F.col(id_col).alias("__id"),
                F.posexplode(tokens_col(F.col(col))).alias("__pos", "__w"))

        ex_train = token_stream(train_df)
        uni_all = ex_train.groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
        # TakeOrderedAndProject: per-partition top-V, merged on the driver
        # side of the limit — never a global single-partition sort
        vocab = (uni_all.orderBy(F.desc("__c"), F.asc("__w"))
                 .limit(vocab_size))
        vocab = script_cache(vocab, context, "lm_vocab")

        # 1-row stats for the <unk> mass and V' (lazy; broadcast NLJ)
        vstats = vocab.agg(F.sum("__c").alias("__vsum"),
                           F.count(F.lit(1)).alias("__vn"))
        tstats = uni_all.agg(F.sum("__c").alias("__total"))
        unk_row = (vstats.crossJoin(tstats)
                   .select(F.lit("<unk>").alias("__w"),
                           (F.col("__total") - F.col("__vsum")).alias("__c")))
        cnt_w = vocab.select("__w", "__c").unionAll(unk_row)
        vprime = vstats.select((F.col("__vn") + F.lit(1)).alias("__vp"))

        def mapped_bigrams(src):
            ex = token_stream(src)
            m = (ex.join(F.broadcast(vocab.select(F.col("__w"),
                                                  F.lit(1).alias("__in"))),
                         on="__w", how="left")
                 .select("__id", "__pos",
                         F.when(F.col("__in").isNotNull(), F.col("__w"))
                          .otherwise(F.lit("<unk>")).alias("__wm")))
            w = Window.partitionBy("__id").orderBy("__pos")
            return (m.withColumn("__wm2", F.lead("__wm").over(w))
                    .filter(F.col("__wm2").isNotNull()))

        bi_train = mapped_bigrams(train_df)
        cbg = bi_train.groupBy("__wm", "__wm2").agg(
            F.count(F.lit(1)).alias("__c12"))

        bi_score = (mapped_bigrams(df) if train_fraction < 1.0
                    else bi_train)
        # unseen bigrams (only possible when trainFraction < 1) fall back
        # to the smoothing floor c12 = 0
        scored = (bi_score
                  .join(F.broadcast(cnt_w.withColumnRenamed("__w", "__wm")
                                    .withColumnRenamed("__c", "__c1")),
                        on="__wm", how="left")
                  .join(cbg, on=["__wm", "__wm2"], how="left")
                  .crossJoin(F.broadcast(vprime)))
        prob = ((F.coalesce(F.col("__c12"), F.lit(0)) + F.lit(k))
                / (F.coalesce(F.col("__c1"), F.lit(0)) + F.lit(k) * F.col("__vp")))
        per_doc = (scored.groupBy("__id")
                   .agg(F.count(F.lit(1)).alias("n_bigrams"),
                        F.round(F.avg(-F.log(prob)), 4).alias("lm_score")))
        out = (df.select(F.col(id_col).alias("__id"))
               .join(per_doc, on="__id", how="left")
               .select(F.col("__id").alias(id_col),
                       F.coalesce(F.col("n_bigrams"), F.lit(0))
                        .alias("n_bigrams"),
                       F.col("lm_score")))
        return out

    def explain_params(self):
        return [("idCol", "document id column", "doc_id"),
                ("contentCol", "text column", "text"),
                ("vocabSize", "top-N tokens kept; rest -> <unk>", "10000"),
                ("addK", "add-k smoothing constant", "0.1"),
                ("trainFraction",
                 "hash-sample fraction for count building (score all)",
                 "1.0"),
                ("hashImpl", "md5 (oracle) | xxhash64 (production)", "md5")]


# ---------------------------------------------------------------------------
# DSIRScore
# ---------------------------------------------------------------------------

@register_et("DSIRScore")
class DSIRScore(ETAlgorithm):
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score each raw document by how target-like its
    hashed n-gram distribution is —
    score = Σ_f c_doc(f) · [ln p_target(f) − ln p_raw(f)] over hashed
    n-gram feature buckets f, with add-k smoothing
    p(f) = (count(f) + k) / (total + k·numBuckets).  High score =
    looks like the target corpus; feed the score to PerplexityBucket
    (tiers) or rank-gate it into WeightedSampleExt for the actual
    resampling step.

    Plan: TWO bounded count aggregates (target + raw n-gram streams,
    map-side combined to ≤ numBuckets rows each) joined into one
    broadcast log-ratio table, then the per-doc pass: explode features
    → broadcast-join the ratios → ONE groupBy(doc) sum.  No Python
    anywhere.

    100 TB: the feature space is fixed at `numBuckets` regardless of
    corpus size (the hashing trick — DSIR's own design); the only
    corpus-sized shuffle is the per-doc score aggregate, map-side
    combinable.  The target corpus is usually small (wiki/books
    probes); its count pass is one scan.  The corpus feature stream is
    RECOMPUTED for the scoring pass rather than cached — a persisted
    (id, bucket) stream runs ~5x the raw text bytes, so two scans is
    the 100 TB choice (locally it costs ~2x, visible in the bench
    floor).  `cacheFeatures="true"` (round-9) persists the stream for
    the script's lifetime instead — the right call when the corpus is
    small enough that 5x its feature bytes fit in cluster memory.
    """

    def train(self, df, path, params, context=None):
        id_col = params.get("idCol", "doc_id")
        col = params.get("contentCol", "text")
        target_tbl = params.get("targetTable")
        if not target_tbl:
            raise ValueError(
                'DSIRScore needs targetTable="..." — the corpus whose '
                'distribution documents are scored against (e.g. a '
                'wiki/books probe)')
        num_buckets = get_int(params, "numBuckets", 4096)
        k = get_float(params, "addK", 0.5)
        n_list = [int(x) for x in params.get("ngrams", "1,2").split(",")]
        if any(n < 1 for n in n_list):
            raise ValueError(f"DSIRScore: ngrams must be >= 1, "
                             f"got {n_list!r}")
        impl = hash_impl(params)
        spark = df.sparkSession
        # spread BOTH feature streams before the explode+md5 passes: a
        # small-file scan arrives as ONE partition (single-row-group
        # parquet cannot be split), serializing the n-gram hashing on
        # one core — profiled 7.2s + 5.1s single-task stages for the
        # two corpus passes at sf0.1 (optimization round 11).  At
        # 100 TB the scan yields partitions >> cores and this is a
        # no-op, preserving the documented two-scan design.
        df = ensure_parallelism(df)
        target = ensure_parallelism(spark.table(target_tbl))
        if col not in target.columns:
            raise ValueError(
                f"DSIRScore: contentCol {col!r} not in targetTable "
                f"{target_tbl!r} columns {target.columns}")

        def feature_stream(src, *extra_cols):
            toks = tokens_col(F.col(col))

            arrs = []
            for n in n_list:
                if n == 1:
                    arrs.append(toks)
                else:
                    # n-grams by zipping n shifted slices and
                    # concatenating element-wise (optimization round
                    # 11): the per-position slice(toks, i, n) inside
                    # the transform lambda was an interpreted array
                    # copy PER GRAM — this form does n slices per DOC,
                    # measured ~3x faster with identical output.  Docs
                    # shorter than n still emit NO n-gram (round-9
                    # fix preserved by the when-gate).
                    length = F.size(toks) - (n - 1)
                    parts = [F.slice(toks, j + 1, length)
                             for j in range(n)]
                    # closure factory, NOT a default-arg lambda: a
                    # two-parameter lambda would be called as
                    # (element, index) by F.transform
                    def gram_of(_n):
                        return lambda s: F.concat_ws(
                            " ", *[s[str(j)] for j in range(_n)])
                    grams = F.transform(F.arrays_zip(*parts),
                                        gram_of(n))
                    arrs.append(F.when(F.size(toks) >= n, grams)
                                .otherwise(F.array()
                                           .cast("array<string>")))
            feats = arrs[0]
            for a in arrs[1:]:
                feats = F.concat(feats, a)
            ex = (src.select(*extra_cols, F.explode(feats).alias("__f"))
                  # empty/null text degenerates to '' features — not a
                  # distribution signal, and they would give empty docs
                  # a nonzero score
                  .filter(F.col("__f") != ""))
            return ex.withColumn(
                "__fb", F.pmod(portable_hash64(F.col("__f"), "dsir", impl),
                               F.lit(num_buckets)))

        tcnt = (feature_stream(target)
                .groupBy("__fb").agg(F.count(F.lit(1)).alias("__tc")))
        corpus_feats = feature_stream(df, F.col(id_col).alias("__id"))
        if params.get("cacheFeatures", "false") == "true":
            # small-corpus path: one scan + a persisted (id, bucket)
            # stream shared by the count pass and the scoring pass;
            # script-lifetime so a REST session can't leak executor
            # memory.  Default stays two-scan (the 100 TB choice).
            corpus_feats = script_cache(corpus_feats, context,
                                        "dsir_feats")
        rcnt = (corpus_feats
                .groupBy("__fb").agg(F.count(F.lit(1)).alias("__rc")))
        counts = tcnt.join(rcnt, "__fb", "full")
        totals = counts.agg(
            F.coalesce(F.sum("__tc"), F.lit(0)).alias("__T"),
            F.coalesce(F.sum("__rc"), F.lit(0)).alias("__R"))
        kb = k * num_buckets
        ratios = (counts.crossJoin(F.broadcast(totals))
                  .select("__fb",
                          (F.log((F.coalesce(F.col("__tc"), F.lit(0)) + k)
                                 / (F.col("__T") + kb))
                           - F.log((F.coalesce(F.col("__rc"), F.lit(0)) + k)
                                   / (F.col("__R") + kb))).alias("__lr")))
        scores = (corpus_feats
                  .join(F.broadcast(ratios), "__fb")
                  .groupBy("__id")
                  .agg(F.round(F.sum("__lr"), 4).alias("dsir_score"),
                       F.count(F.lit(1)).alias("n_features")))
        return (df.join(scores.withColumnRenamed("__id", id_col),
                        [id_col], "left")
                .select(*[c for c in df.columns
                          if c not in ("dsir_score", "n_features")],
                        F.col("dsir_score"),
                        F.coalesce(F.col("n_features"), F.lit(0))
                         .alias("n_features")))

    def explain_params(self):
        return [("targetTable", "corpus defining the TARGET "
                 "distribution (wiki/books probe)", "-"),
                ("contentCol", "text column (both tables)", "text"),
                ("idCol", "document id column", "doc_id"),
                ("numBuckets", "hashed n-gram feature buckets (fixed "
                 "feature space at any corpus size)", "4096"),
                ("addK", "add-k smoothing over the bucket space", "0.5"),
                ("ngrams", "word n-gram orders, comma list", "1,2"),
                ("cacheFeatures", "persist the corpus feature stream "
                 "for the scoring pass (small-corpus path; default "
                 "recomputes — the at-scale choice)", "false"),
                ("hashImpl", "md5 (oracle) | xxhash64 (production)",
                 "md5")]


# ---------------------------------------------------------------------------
# StratifiedSampleExt
# ---------------------------------------------------------------------------

@register_et("StratifiedSampleExt")
class StratifiedSampleExt(ETAlgorithm):
    """Deterministic per-stratum sampling for data mixing: keep a row iff
    pmod(md5-hash(id), 1e6) < fraction(stratum)·1e6.

    The reference's RateSampler (SQLRateSampler.scala) samples per label
    for train/test splits; this is the LLM-data-mixing version: fractions
    keyed by a stratum column value (`ratio.<value>="0.3"`), hash-based so
    the sample is reproducible across runs/engines and requires NO
    shuffle, no RNG state, and no per-stratum counting pass.

    100 TB: map-only — the filter is a codegen'd md5 + compare per row;
    survives any scale-up untouched.  Changing fractions re-selects a
    superset/subset (hash gates are nested), the property that makes
    hash-sampling the production standard for reproducible mixing.
    """

    def train(self, df, path, params, context=None):
        strata_col = params.get("strataCol", "source")
        id_col = params.get("idCol", "doc_id")
        default_frac = get_float(params, "defaultFraction", 1.0)
        ratios: dict[str, float] = {}
        for pk, pv in params.items():
            if pk.startswith("ratio."):
                ratios[pk[len("ratio."):]] = float(pv)
        # a fraction > 1 means EPOCHS (row replication), which a filter
        # gate cannot express — silently capping at 100% would skew the
        # realized mixture, so reject with the remedy
        over = {k: v for k, v in sorted(ratios.items()) if v > 1.0}
        if default_frac > 1.0 or over:
            raise ValueError(
                f"StratifiedSampleExt samples by FILTERING — fractions "
                f"above 1 (got {over or default_frac}) need row "
                f"replication; use DataMixing with maxEpochs and "
                f'apply="true" for epoch upsampling')
        gate = F.lit(int(default_frac * 1_000_000))
        for value, frac in sorted(ratios.items()):
            gate = F.when(F.col(strata_col) == value,
                          F.lit(int(frac * 1_000_000))).otherwise(gate)
        bucket = F.pmod(portable_hash64(F.col(id_col).cast("string"), "strat",
                                        hash_impl(params)),
                        F.lit(1_000_000))
        # spread before the per-row md5 gate: a small-file scan arrives
        # as ONE partition (single-row-group parquet cannot be split)
        # and would serialize the hashing on one core; no-op at scale
        # (optimization round 11, same idiom as RepetitionScore)
        return ensure_parallelism(df).filter(bucket < gate)

    def explain_params(self):
        return [("strataCol", "stratum column", "source"),
                ("idCol", "id column the hash gate keys on", "doc_id"),
                ("defaultFraction", "fraction for unlisted strata", "1.0"),
                ("ratio.<value>", "fraction for stratum <value>", "-"),
                ("hashImpl", "md5 (oracle) | xxhash64 (production)", "md5")]


# ---------------------------------------------------------------------------
# WeightedSampleExt
# ---------------------------------------------------------------------------

@register_et("WeightedSampleExt")
class WeightedSampleExt(ETAlgorithm):
    """Deterministic PER-ROW weighted sampling: keep a row iff
    pmod(hash(id), 1e6) < weight·1e6, with the weight read from a
    COLUMN — the realization step for soft-dedup (SoftDedup emits
    sample_weight = 1/|cluster|; sampling by it keeps one doc per
    near-dup cluster in expectation, uniformly at random over the
    cluster) or any other per-document weight a scorer produced.
    StratifiedSampleExt is the per-STRATUM special case of this.

    Weights are clamped to [0, 1] (a weight above 1 means replication,
    which a filter cannot express — DataMixing maxEpochs covers that);
    NULL weights drop the row, deterministically.

    100 TB: map-only — one codegen'd hash + compare per row, ZERO
    exchange; reproducible across runs and engines (md5 default).
    """

    def train(self, df, path, params, context=None):
        id_col = params.get("idCol", "doc_id")
        weight_col = params.get("weightCol", "sample_weight")
        if weight_col not in df.columns:
            raise ValueError(
                f"WeightedSampleExt: weightCol {weight_col!r} not in "
                f"input columns {df.columns} — run SoftDedup (or "
                f"another weigher) first, or set weightCol")
        w = F.least(F.greatest(F.col(weight_col).cast("double"),
                               F.lit(0.0)), F.lit(1.0))
        bucket = F.pmod(portable_hash64(F.col(id_col).cast("string"),
                                        "wsample", hash_impl(params)),
                        F.lit(1_000_000))
        # spread before the per-row md5 gate (see StratifiedSampleExt)
        return ensure_parallelism(df).filter(
            bucket < (w * 1_000_000).cast("long"))

    def explain_params(self):
        return [("idCol", "id column the hash gate keys on", "doc_id"),
                ("weightCol", "per-row keep probability in [0,1] "
                 "(clamped; NULL drops the row)", "sample_weight"),
                ("hashImpl", "md5 (oracle) | xxhash64 (production)",
                 "md5")]


# ---------------------------------------------------------------------------
# SequencePack
# ---------------------------------------------------------------------------

@register_et("SequencePack")
class SequencePack(ETAlgorithm):
    """Assign documents to fixed token-budget training sequences.

    Two modes:

    - ``mode="chunk"`` (default; the 100 TB path): documents are laid
      out end-to-end per bucket (deterministic hash bucket of the id,
      ordered by id) and the token stream is cut every `budget` tokens —
      documents may straddle a cut (the T5/GPT "concat-and-chunk"
      packing).  Output per doc: bucket, n_tokens, start_offset,
      seq_first, seq_last.  Pure window cumsum — ONE shuffle on the
      bucket key, no Python, no driver state; buckets are independent so
      the plan is embarrassingly parallel at any scale.
    - ``mode="greedy"``: first-fit-in-order packing WITHOUT splitting
      documents (each doc fully inside one sequence; a doc longer than
      the budget gets its own sequence).  Running state per bucket →
      applyInPandas per bucket.  Scale bound: one bucket must fit in
      executor memory — size `numBuckets` ≥ corpus_tokens/budget/10⁴ at
      the target SF.  Guarded (round-9): a pre-check counts docs per
      bucket and raises a rendered error with the numBuckets remedy
      when any bucket exceeds `maxBucketRows` (default 5M), instead of
      an opaque executor OOM.  Chunk mode is the recommended path at
      scale.
    """

    def train(self, df, path, params, context=None):
        id_col = params.get("idCol", "doc_id")
        col = params.get("contentCol", "text")
        budget = get_int(params, "budget", 512)
        num_buckets = get_int(params, "numBuckets", 8)
        mode = params.get("mode", "chunk")
        base = df.select(
            F.col(id_col).alias("doc_id_"),
            F.pmod(portable_hash64(F.col(id_col).cast("string"), "pack",
                                   hash_impl(params)),
                   F.lit(num_buckets)).alias("bucket"),
            words_count_col(F.coalesce(F.col(col), F.lit("")))
             .alias("n_tokens"))
        if mode == "chunk":
            before = F.col("__before")
            return prefix_before(base, "bucket", [F.col("doc_id_")],
                                 F.col("n_tokens")).select(
                F.col("doc_id_").alias(id_col), "bucket", "n_tokens",
                before.alias("start_offset"),
                F.floor(before / budget).alias("seq_first"),
                F.floor((before + F.col("n_tokens") - 1) / budget)
                 .alias("seq_last"))
        if mode == "greedy":
            # rendered guard on the documented memory bound (round-9):
            # each bucket is materialized as ONE pandas frame on one
            # executor, so an undersized numBuckets used to surface as
            # an opaque executor OOM mid-job.  One cheap count over the
            # already-built base (id/bucket/n_tokens only) converts
            # that into the engine's standard rendered error + remedy
            # BEFORE the packing job is launched.
            max_rows = get_int(params, "maxBucketRows", 5_000_000)
            # the guard's count and the pack job share ONE input scan:
            # base is tiny per row (id, bucket, n_tokens) and
            # script-lifetime cached, so the pre-check is not a second
            # full pass over the corpus text
            base = script_cache(base, context, "seqpack_greedy_base")
            top = (base.groupBy("bucket").count()
                   .orderBy(F.desc("count")).limit(1).collect())
            if top and top[0]["count"] > max_rows:
                import math as _math
                # hash spread is near-even but not exact: size the
                # remedy from the observed WORST bucket with ~20%
                # headroom so the suggested count doesn't trip the
                # guard again on the next skewed bucket
                suggest = _math.ceil(
                    top[0]["count"] * num_buckets * 1.2 / max_rows)
                raise ValueError(
                    f"SequencePack greedy mode materializes each bucket "
                    f"as one in-memory pandas frame, and bucket "
                    f"{top[0]['bucket']} has {top[0]['count']:,} docs > "
                    f"maxBucketRows={max_rows:,} — this would risk an "
                    f"executor OOM.  Remedies: raise numBuckets to "
                    f"~{suggest} (worst observed bucket x 1.2 hash-skew "
                    f"headroom), switch "
                    f'to mode="chunk" (the windowed 100 TB path, no '
                    f"per-bucket materialization), or raise "
                    f"maxBucketRows if the executors have headroom.")

            def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
                pdf = pdf.sort_values("doc_id_").reset_index(drop=True)
                seq_ids, seq, used = [], 0, 0
                for n in pdf["n_tokens"]:
                    if used > 0 and used + n > budget:
                        seq += 1
                        used = 0
                    seq_ids.append(seq)
                    used += n
                pdf["seq_id"] = seq_ids
                return pdf

            id_t = df.schema[id_col].dataType.simpleString()
            schema = (f"doc_id_ {id_t}, bucket long, n_tokens int, "
                      "seq_id long")
            packed = base.groupBy("bucket").applyInPandas(pack, schema)
            return packed.select(F.col("doc_id_").alias(id_col),
                                 "bucket", "n_tokens", "seq_id")
        raise ValueError(f'unknown mode {mode!r}; use "chunk" or "greedy"')

    def explain_params(self):
        return [("idCol", "document id column", "doc_id"),
                ("contentCol", "text column", "text"),
                ("budget", "tokens per training sequence", "512"),
                ("numBuckets", "independent packing streams", "8"),
                ("mode", "chunk (split docs at cuts) | greedy (no splits)",
                 "chunk"),
                ("maxBucketRows", "greedy mode: rendered-error bound on "
                 "docs per bucket (one in-memory frame each)", "5000000"),
                ("hashImpl", "md5 (oracle) | xxhash64 (production)", "md5")]


# ---------------------------------------------------------------------------
# PerplexityBucket
# ---------------------------------------------------------------------------

@register_et("PerplexityBucket")
class PerplexityBucket(ETAlgorithm):
    """CCNet-style perplexity bucketing: split a corpus into quality
    tiers (head/middle/tail by default) at per-stratum quantiles of a
    score column — lower score = better, the convention of perplexity
    and of NgramLMScore's lm_score, which this is built to consume
    (CCNet buckets each language's documents at the 1/3 and 2/3
    perplexity points; Wenzek et al. 2020 §4.3).

    Plan: ONE aggregate pass computes the cut thresholds per stratum
    (map-side combinable with the default approx sketch) to a
    |strata| × |cuts| table, broadcast back, then a map-side CASE
    assigns the bucket label.  No per-row shuffle, no Python.

    100 TB: the default `exact="false"` uses approx_percentile
    (positional-error ≤ 1/accuracy, partial-aggregable — the only
    choice at scale); `exact="true"` uses the exact percentile
    aggregate, which buffers each stratum's scores in one aggregation
    task — the oracle/test path, documented as such.  Scores are
    rounded to 6 decimals before comparison so the boundary docs land
    deterministically on either engine.
    """

    def train(self, df, path, params, context=None):
        score_col = params.get("scoreCol", "lm_score")
        strata_col = params.get("strataCol", "")
        out_col = params.get("outputCol", "ppl_bucket")
        cuts = [float(x) for x in
                params.get("cuts", "0.3333,0.6667").split(",")]
        labels = [s.strip() for s in
                  params.get("labels", "head,middle,tail").split(",")]
        if len(labels) != len(cuts) + 1:
            raise ValueError(
                f"PerplexityBucket: {len(cuts)} cuts need exactly "
                f"{len(cuts) + 1} labels, got {len(labels)} "
                f"({labels!r})")
        if (any(b <= a for a, b in zip(cuts, cuts[1:]))
                or not all(0.0 < c < 1.0 for c in cuts)):
            # duplicates are as wrong as descending order: equal cuts
            # make the later bucket label unreachable, silently
            raise ValueError(
                f"PerplexityBucket: cuts must be strictly increasing "
                f"and strictly inside (0, 1), got {cuts!r}")
        if score_col not in df.columns:
            raise ValueError(
                f"PerplexityBucket: scoreCol {score_col!r} not in input "
                f"columns {df.columns} — run NgramLMScore (or another "
                f"scorer) first, or set scoreCol")
        exact = params.get("exact", "false").lower() == "true"
        accuracy = get_int(params, "accuracy", 10000)
        score = F.col(score_col).cast("double")
        if exact:
            th_exprs = [F.round(F.percentile(score, F.lit(c)), 6)
                         .alias(f"__t{i}") for i, c in enumerate(cuts)]
        else:
            th_exprs = [F.round(F.percentile_approx(score, F.lit(c),
                                                    F.lit(accuracy)), 6)
                         .alias(f"__t{i}") for i, c in enumerate(cuts)]
        if strata_col:
            th = (df.groupBy(F.col(strata_col).alias("__s"))
                    .agg(*th_exprs))
            joined = df.join(F.broadcast(th),
                             on=df[strata_col] == th["__s"], how="left")
        else:
            joined = df.crossJoin(F.broadcast(df.agg(*th_exprs)))
        rs = F.round(score, 6)
        # null score OR null thresholds (a NULL stratum matches no
        # threshold row) -> null bucket, never a silent tail assignment
        bucket = F.when(score.isNull() | F.col("__t0").isNull(),
                        F.lit(None).cast("string"))
        for i, lab in enumerate(labels[:-1]):
            bucket = bucket.when(rs <= F.col(f"__t{i}"), F.lit(lab))
        bucket = bucket.otherwise(F.lit(labels[-1]))
        # overwrite an existing outputCol instead of appending a
        # duplicate name (re-bucketing an already-bucketed table)
        base_cols = [c for c in df.columns if c != out_col]
        return joined.select(*base_cols, bucket.alias(out_col))

    def explain_params(self):
        return [("scoreCol", "score column (lower = better; e.g. "
                 "NgramLMScore's lm_score)", "lm_score"),
                ("strataCol", "bucket within this column's strata "
                 "(CCNet: per language); empty = global", ""),
                ("cuts", "ascending quantile cut points in (0,1)",
                 "0.3333,0.6667"),
                ("labels", "bucket labels, len = cuts + 1",
                 "head,middle,tail"),
                ("exact", "true = exact percentile (test/oracle path; "
                 "buffers each stratum in one task)", "false"),
                ("accuracy", "approx_percentile accuracy (positional "
                 "error <= 1/accuracy)", "10000"),
                ("outputCol", "bucket label output column",
                 "ppl_bucket")]


# ---------------------------------------------------------------------------
# TokenBudgetSample
# ---------------------------------------------------------------------------

@register_et("TokenBudgetSample")
class TokenBudgetSample(ETAlgorithm):
    """Cap each stratum at a TOKEN budget (not a row fraction): keep
    documents in deterministic hash order until the stratum's running
    token total reaches `budget.<value>` — the "take N tokens of web,
    M tokens of code" step of pretraining-mix construction, complement
    to DataMixing (which plans fractions) and StratifiedSampleExt
    (which gates on fractions).  The document straddling the budget
    line is KEPT (realized tokens ≥ budget when supply suffices), so a
    budget is never undershot by one doc.

    Plan: documents are ordered per stratum by (hash bucket, hash, id)
    — deterministic, reproducible, engine-portable.  The running total
    is the blocked prefix walk `prefix_before`: a window cumsum WITHIN
    each (stratum, hash-bucket) partition plus a broadcast per-bucket
    offset, so no stratum ever sorts in a single task.

    Input columns named like its scratch columns (``__h``, ``__bk``,
    ``__nt`` and the walk's ``prefix_scratch``) are a rendered error:
    they would be overwritten.

    100 TB: the per-row shuffle partitions on (stratum, bucket) —
    bounded at corpus/|strata|/numBuckets rows each, sized by
    `numBuckets`; the offset table is |strata| × numBuckets rows,
    broadcast.  Raising numBuckets re-orders the sample (ordering is
    bucket-major) but keeps it deterministic for a fixed setting.

    NULL-id rows have no hash, hence no deterministic position in the
    walk — they are excluded (dropped in filter mode, keep=false with
    null tokens_before in annotate).  A NULL stratum is a stratum: its
    rows group together and take defaultBudget.
    """

    def train(self, df, path, params, context=None):
        strata_col = params.get("strataCol", "source")
        id_col = params.get("idCol", "doc_id")
        col = params.get("contentCol", "text")
        num_buckets = get_int(params, "numBuckets", 32)
        default_budget = int(float(params.get("defaultBudget", "-1")))
        budgets: dict[str, int] = {}
        for pk, pv in params.items():
            if pk.startswith("budget."):
                budgets[pk[len("budget."):]] = int(float(pv))
        if not budgets and default_budget < 0:
            raise ValueError(
                'TokenBudgetSample needs at least one budget.<value> '
                'param (tokens to keep for stratum <value>, e.g. '
                'budget.web="1000000") or a non-negative defaultBudget; '
                'defaultBudget="-1" alone would keep everything')
        mode = params.get("mode", "filter")
        if mode not in ("filter", "annotate"):
            raise ValueError(
                f'TokenBudgetSample: mode must be "filter" or '
                f'"annotate", got {mode!r}')
        refuse_scratch_collisions(df, "TokenBudgetSample", {
            "__h": "the order hash", "__bk": "the hash bucket",
            "__nt": "the token count", **prefix_scratch(True)})
        df = ensure_parallelism(df)
        h = portable_hash64(F.col(id_col).cast("string"), "budget",
                            hash_impl(params))
        n_tokens = (words_count_col(F.coalesce(F.col(col),
                                                   F.lit("")))
                     .cast("long"))
        # a NULL id has no hash, hence no deterministic position in the
        # budget walk (all NULL-id rows would be an unordered tie whose
        # keep set varies with partition layout) — exclude them from
        # the walk: dropped in filter mode, keep=false in annotate
        null_ids = df.filter(F.col(id_col).isNull())
        df_walk = df.filter(F.col(id_col).isNotNull())
        base = (df_walk.withColumn("__h", h)
                  .withColumn("__bk", F.pmod(F.col("__h"),
                                             F.lit(num_buckets)))
                  .withColumn("__nt", n_tokens))
        # a NULL stratum is one stratum: the walk matches groups
        # null-safe, so its budget holds per stratum, not per bucket
        joined = prefix_before(base, strata_col,
                               [F.col("__h"), F.col(id_col)],
                               F.col("__nt"), "__bk")
        gate = F.lit(default_budget).cast("long")
        for value, b in sorted(budgets.items()):
            gate = F.when(F.col(strata_col) == value,
                          F.lit(b).cast("long")).otherwise(gate)
        keep = (gate < 0) | (F.col("__before") < gate)
        if mode == "annotate":
            # overwrite same-named input columns (a prior annotate ET
            # may have left its own `keep`) — appending would emit a
            # duplicate name and downstream references become AMBIGUOUS
            base_cols = [c for c in df.columns
                         if c not in ("n_tokens", "tokens_before", "keep")]
            walked = joined.select(*base_cols,
                                   F.col("__nt").alias("n_tokens"),
                                   F.col("__before").alias("tokens_before"),
                                   keep.alias("keep"))
            excluded = null_ids.select(
                *base_cols, n_tokens.alias("n_tokens"),
                F.lit(None).cast("long").alias("tokens_before"),
                F.lit(False).alias("keep"))
            return walked.unionByName(excluded)
        return joined.filter(keep).select(*df.columns)

    def explain_params(self):
        return [("strataCol", "stratum column the budgets key on",
                 "source"),
                ("idCol", "id column for the deterministic hash order",
                 "doc_id"),
                ("contentCol", "text column (whitespace token counts)",
                 "text"),
                ("budget.<value>", "token budget for stratum <value>",
                 "-"),
                ("defaultBudget", "budget for unlisted strata; -1 = "
                 "unlimited (keep all)", "-1"),
                ("numBuckets", "parallel cumsum streams per stratum "
                 "(partition bound at scale)", "32"),
                ("mode", "filter (drop over-budget rows) | annotate "
                 "(add n_tokens/tokens_before/keep)", "filter"),
                ("hashImpl", "md5 (oracle) | xxhash64 (production)",
                 "md5")]


# ---------------------------------------------------------------------------
# BPETokenizer
# ---------------------------------------------------------------------------

def _bpe_train(word_counts: list[tuple[str, int]],
               num_merges: int) -> list[tuple[str, str]]:
    """Classic BPE merge training over a word-frequency table (Sennrich
    et al. 2016 — the algorithm only needs word counts, never the
    corpus).  Deterministic: ties on pair count break lexicographically.
    Driver-side by design: the word table is capped (maxWords) so this
    is O(maxWords · num_merges) independent of corpus size."""
    words: list[tuple[list[str], int]] = [
        (list(w) + ["</w>"], c) for w, c in word_counts if w]
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in words:
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        max_c = max(pairs.values())
        # ties on count -> lexicographically smallest pair
        best = min(p for p, c in pairs.items() if c == max_c)
        merges.append(best)
        merged = best[0] + best[1]
        for i, (syms, c) in enumerate(words):
            j = 0
            out = []
            while j < len(syms):
                if (j < len(syms) - 1 and syms[j] == best[0]
                        and syms[j + 1] == best[1]):
                    out.append(merged)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            words[i] = (out, c)
    return merges


def _bpe_apply(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode one word with a trained merge table (lowest-rank pair
    first — the standard BPE apply loop)."""
    syms = list(word) + ["</w>"]
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i, pair in enumerate(zip(syms, syms[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i < 0:
            break
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


@register_et("BPETokenizer")
class BPETokenizer(ETAlgorithm):
    """Real byte-pair encoding, Spark-first:

    train: word frequencies via ONE groupBy shuffle (the only
    corpus-sized stage) → top-`maxWords` words (distributed TakeOrdered)
    collected to the driver → classic merge-loop training (O(maxWords ·
    numMerges), independent of corpus size — the standard scalable BPE
    recipe) → merges saved as parquet at `path`.

    batch_predict / register: merges broadcast to executors; an
    Arrow-batched pandas UDF encodes each document (per-batch word
    memoization — natural-language batches repeat most words, so the
    merge loop runs once per DISTINCT word per batch).  Map-only.

    The reference has no BPE; its TfIdf/word2vec ops
    (SQLTfIdfInPlace.scala, SQLWord2Vec.scala) are the corpus-statistics
    precedent.  Output of train: summary row; model artifact:
    `{path}/merges.parquet` (rank, left, right).
    """

    model_type = "algorithm"

    def train(self, df, path, params, context=None):
        col = params.get("contentCol", "text")
        num_merges = get_int(params, "numMerges", 200)
        max_words = get_int(params, "maxWords", 30000)
        spark = df.sparkSession
        df = ensure_parallelism(df)
        wc = (df.select(F.explode(tokens_col(F.col(col))).alias("__w"))
              .filter(F.col("__w") != "")
              .groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
              .orderBy(F.desc("__c"), F.asc("__w"))
              .limit(max_words))
        word_counts = [(r["__w"], r["__c"]) for r in wc.collect()]
        merges = _bpe_train(word_counts, num_merges)
        merges_df = local_table(
            spark, [(i, a, b) for i, (a, b) in enumerate(merges)],
            "rank: int, left: string, right: string")
        merges_df.coalesce(1).write.mode("overwrite").parquet(
            f"{path}/merges.parquet")
        return local_table(
            spark, [(len(word_counts), len(merges),
              " ".join(a + b for a, b in merges[:10]))],
            "distinct_words: long, num_merges: long, first_merges: string")

    def _load_ranks(self, spark, path) -> dict[tuple[str, str], int]:
        rows = spark.read.parquet(f"{path}/merges.parquet").collect()
        return {(r["left"], r["right"]): r["rank"] for r in rows}

    def _encode_udf(self, ranks: dict[tuple[str, str], int]):
        @F.pandas_udf("array<string>")
        def bpe_encode(texts: pd.Series) -> pd.Series:
            cache: dict[str, list[str]] = {}

            import re as _re

            def enc(text):
                if text is None:
                    return []
                out = []
                # the SAME split as the training word counts
                # (tokens_col → Java \s+, ASCII): Python str.split()
                # would split Unicode whitespace the trainer kept inside
                # words, so apply-time words would miss the merge table
                for w in _re.split(r"\s+", text.lower(), flags=_re.ASCII):
                    if not w:
                        continue
                    toks = cache.get(w)
                    if toks is None:
                        toks = _bpe_apply(w, ranks)
                        cache[w] = toks
                    out.extend(toks)
                return out

            return texts.map(enc)

        return bpe_encode

    def batch_predict(self, df, path, params):
        col = params.get("contentCol", "text")
        ranks = self._load_ranks(df.sparkSession, path)
        enc = self._encode_udf(ranks)
        return (df.withColumn("bpe_tokens", enc(F.col(col)))
                .withColumn("n_bpe_tokens", F.size("bpe_tokens")))

    def load(self, spark, path, params, context=None):
        return self._load_ranks(spark, path)

    def predict(self, spark, model, name, params):
        return spark.udf.register(name, self._encode_udf(model))

    def explain_params(self):
        return [("contentCol", "text column", "text"),
                ("numMerges", "BPE merge operations to learn", "200"),
                ("maxWords", "word-frequency table cap (driver)", "30000")]


# ---------------------------------------------------------------------------
# DataMixing
# ---------------------------------------------------------------------------

@register_et("DataMixing")
class DataMixing(ETAlgorithm):
    """Mixture planner for pretraining data: given target WEIGHTS per
    stratum (fraction of the final token mass — `weight.<value>="0.5"`),
    compute the per-stratum sampling fractions that hit the target:
    the achievable total is capped by the scarcest stratum
    (T = min over strata of n_tokens·maxEpochs/weight), and
    sample_fraction = weight·T / n_tokens.

    `maxEpochs` (default 1.0 = no upsampling) lets scarce strata repeat
    up to that many passes — the standard pretraining-mix practice of
    running rare high-quality strata (books, wiki) for 2-3 epochs while
    web data stays sub-sampled; fractions above 1 mean epochs.

    Output (plan mode, default): one row per stratum —
    (stratum, n_docs, n_tokens, target_weight, sample_fraction).  With
    maxEpochs=1 every fraction is <= 1 and the plan feeds
    StratifiedSampleExt's `ratio.<value>` gates directly; fractions
    above 1 (epochs) need row REPLICATION, which only `apply="true"`
    implements (StratifiedSampleExt rejects them rather than silently
    capping at 100%).  Apply mode samples in the same pass: rows kept
    by the deterministic hash gate at the computed fractions; a
    fraction f > 1 materializes floor(f) exact copies of every row plus
    a hash-gated f−floor(f) remainder (map-side explode — no shuffle).

    Scale: ONE aggregate shuffle over the corpus (per-stratum token
    sums — map-side combined to |strata| rows); the plan math is a
    |strata|-row DataFrame, no driver loop in plan mode; apply mode
    collects only the |strata| fractions to build the filter gate.
    Strata without a weight get fraction 0 (excluded from the mix).
    """

    def train(self, df, path, params, context=None):
        strata_col = params.get("strataCol", "source")
        col = params.get("contentCol", "text")
        id_col = params.get("idCol", "doc_id")
        weights: dict[str, float] = {}
        for pk, pv in params.items():
            if pk.startswith("weight."):
                weights[pk[len("weight."):]] = float(pv)
        if not weights:
            raise ValueError('DataMixing needs at least one weight.<value> '
                             'param, e.g. weight.web="0.6"')
        total_w = sum(weights.values())
        weights = {k: v / total_w for k, v in weights.items()}  # normalize
        max_epochs = get_float(params, "maxEpochs", 1.0)
        if max_epochs < 1.0:
            raise ValueError(
                f"DataMixing: maxEpochs must be >= 1 (1 = no "
                f"upsampling), got {max_epochs}")
        spark = df.sparkSession
        counts = script_cache(
            (df.groupBy(F.col(strata_col).alias("stratum"))
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.sum(words_count_col(
                        F.coalesce(F.col(col), F.lit(""))))
                     .alias("n_tokens"))),
            context, "datamix_counts")  # consumed by the missing-weight
        # check, the cap agg, and the plan join — one corpus scan, not 3
        wdf = local_table(
            spark, sorted(weights.items()), "stratum: string, target_weight: double")
        joined = counts.join(wdf, on="stratum", how="left")
        # a weight key that matches NO data (typo'd stratum name) would
        # silently skew the realized mixture: the other strata still
        # normalize over it while its mass never materializes
        present = {r["stratum"] for r in counts.select("stratum").collect()}
        missing = sorted(set(weights) - present)
        if missing:
            raise ValueError(
                f"DataMixing: weight keys {missing} match no rows in "
                f"{strata_col!r} — present strata: {sorted(present)[:20]}")
        cap = (joined.filter(F.col("target_weight").isNotNull())
               .agg(F.min(F.col("n_tokens") * F.lit(max_epochs)
                          / F.col("target_weight"))
                    .alias("__cap")))
        plan = (joined.crossJoin(F.broadcast(cap))
                .select("stratum", "n_docs",
                        F.col("n_tokens").cast("long").alias("n_tokens"),
                        F.coalesce(F.col("target_weight"), F.lit(0.0))
                         .alias("target_weight"),
                        F.round(F.coalesce(
                            F.col("target_weight") * F.col("__cap")
                            / F.col("n_tokens"), F.lit(0.0)), 4)
                         .alias("sample_fraction")))
        if params.get("apply", "false").lower() != "true":
            return plan
        fracs = {r["stratum"]: r["sample_fraction"]
                 for r in plan.collect()}          # |strata| rows only
        gate = F.lit(0)
        full = F.lit(0)
        for value, frac in sorted(fracs.items()):
            # no-upsampling path: the whole fraction rides the hash
            # gate (frac == 1.0 must keep every row, not 1 copy + an
            # empty remainder)
            n_full = int(frac) if max_epochs > 1.0 else 0
            rem = frac - n_full
            gate = F.when(F.col(strata_col) == value,
                          F.lit(int(round(rem * 1_000_000))))\
                    .otherwise(gate)
            full = F.when(F.col(strata_col) == value,
                          F.lit(n_full)).otherwise(full)
        # hash seed differs from StratifiedSampleExt's "strat" ON
        # PURPOSE: chaining the two samplers must compose as independent
        # gates, not intersect on the same hash (which would keep 100%
        # of an already-sampled stratum — review finding, round 4)
        bucket = F.pmod(portable_hash64(F.col(id_col).cast("string"),
                                        "datamix", hash_impl(params)),
                        F.lit(1_000_000))
        remainder = df.filter(bucket < gate)
        if max_epochs <= 1.0:
            return remainder
        # epoch copies: floor(frac) exact replicas per row, map-side
        # explode (empty array when the stratum needs no full epoch —
        # explode drops those rows, no shuffle anywhere)
        replicas = (df.withColumn(
            "__ep", F.explode(F.when(full >= 1,
                                     F.sequence(F.lit(1), full))
                              .otherwise(F.array().cast("array<int>"))))
            .drop("__ep"))
        return replicas.unionByName(remainder)

    def explain_params(self):
        return [("strataCol", "stratum column", "source"),
                ("contentCol", "text column (token mass)", "text"),
                ("idCol", "id column for the apply-mode hash gate",
                 "doc_id"),
                ("weight.<value>", "target mixture weight for <value> "
                 "(normalized over listed strata)", "-"),
                ("apply", "true = return sampled rows, not the plan",
                 "false"),
                ("maxEpochs", "let scarce strata repeat up to this many "
                 "passes (fractions > 1 = epochs); 1 = no upsampling",
                 "1.0"),
                ("hashImpl", "md5 (oracle) | xxhash64 (production)", "md5")]


# ---------------------------------------------------------------------------
# DeterministicShard
# ---------------------------------------------------------------------------

def _shard_hash(id_col: str, impl: str) -> "Column":
    """The hash a document's shard is drawn from (NULL for a NULL id)."""
    return portable_hash64(F.col(id_col).cast("string"), "shard", impl)


def _shard_gate(h: "Column", num_shards: int) -> "Column":
    """The shard of a document whose `_shard_hash` is `h`."""
    return F.pmod(h, F.lit(num_shards)).cast("int")


def layout_manifest(layout: "DataFrame") -> "DataFrame":
    """A layout's append manifest: one (shard, next_pos, n_rows) row per
    non-NULL shard (LayoutManifest; DeterministicShard's refTable)."""
    return (layout.where(F.col("shard").isNotNull())
            .groupBy("shard")
            .agg((F.max("shard_pos") + 1).alias("next_pos"),
                 F.count(F.lit(1)).alias("n_rows")))


@register_et("DeterministicShard")
class DeterministicShard(ETAlgorithm):
    """Final training-data layout: assign every document a stable shard
    and a stable position within it, so the written training set is
    byte-reproducible across runs and engines and a training job can
    resume from (shard, position) without any RNG state.

    No reference counterpart — part of the training-data curation
    family: this is the step AFTER dedup/budget/packing that decides
    where each document physically lands (the layout T5/GPT-style
    loaders consume as `shard-00042` files read in position order).

    - ``shard``      = pmod(hash(id), numShards) — the same portable
      md5/xxhash64 gate every sampler in this engine uses, so layout
      is reproducible in SQL (oracle) and stable under re-runs.
    - ``shard_pos``  = dense 0-based rank of hash(id) within the shard
      (ties broken by id) — hash order inside a shard is an unbiased
      global shuffle of the corpus, exactly what LM pretraining wants
      (no accidental curriculum from source file order).
    - ``orderCol``   (optional): order within each shard by this
      column FIRST (hash breaks ties) — an explicit curriculum (e.g. a
      quality or perplexity score: easy -> hard within every shard).

    Write with ``save sharded as parquet.`...` partitionBy shard`` and
    the layout is done.

    100 TB: ONE corpus shuffle keyed by (shard, layout bucket);
    within-shard position = rank within the (shard, bucket) window
    plus a broadcast per-bucket offset (`prefix_before`, the walk
    TokenBudgetSample and SequencePack also use),
    so NO single task ever sorts a whole shard — parallelism is
    numShards x layoutBuckets regardless of shard size.  Within-shard
    order is (bucket, hash, id): still a deterministic unbiased
    shuffle of the corpus.  The `orderCol` curriculum path needs a
    total order per shard: curriculumMode="exact" (default) keeps the
    one-window-per-shard shape (size numShards accordingly);
    curriculumMode="bucketed" range-buckets orderCol by quantile VALUE
    thresholds — a monotone assignment, so positions are provably
    identical to exact mode (approximation affects only bucket
    balance) while parallelism returns to numShards x layoutBuckets,
    at the cost of one approxQuantile pass.  No Python, no driver state,
    no global sort (the classic layout mistake: orderBy(rand()) is a
    whole-corpus range sort AND non-reproducible).

    Re-running over already-sharded input overwrites shard/shard_pos
    (the engine's annotator overwrite convention).  A NULL id has no
    hash, hence no deterministic placement: the row passes through
    with shard = shard_pos = NULL (visible, never silently dropped) —
    same convention as TokenBudgetSample's NULL-id exclusion.

    ``epochSeed`` (round-10): multi-epoch LM training should not see
    the SAME document order every epoch — a fixed layout replays one
    permutation forever, a known quality loss vs per-epoch reshuffle.
    Setting epochSeed (any string, e.g. "epoch1") keeps the shard
    ASSIGNMENT stable (same hash gate — shard sizes, file mapping and
    refTable offsets stay valid) but draws the within-shard order from
    a seed-mixed hash, so each epoch's layout is a fresh, byte-
    reproducible permutation of the same shards.  Default "" is the
    legacy order (byte-identical to round-9 layouts).

    ``refTable`` (incremental append): the previous layout — the new
    batch keeps the SAME hash-gate shard assignment (stable by
    construction) and its positions continue from each shard's current
    max, so a daily curated increment (e.g. the incremental lake's
    day-N kept rows) extends the training set without touching, or
    even reading, the documents already laid out.  One |shards|-row
    offset aggregate over the previous layout, broadcast back.  The
    caller is responsible for the increment being disjoint from the
    reference (that's what the dedup chain upstream guarantees);
    numShards must match the reference layout's.

    ``epochSeed`` x ``refTable`` (round-11, on the round-10 verdict):
    the MEANINGFUL combination is appending an increment into a layout
    built with the SAME epochSeed — shard assignment is seed-invariant,
    so the offsets line up and the increment extends that epoch's
    permutation at each shard's tail (pinned by
    test_deterministic_shard_epoch_reshuffle).  What this is NOT is a
    reshuffle of the union: re-permuting existing documents for a new
    epoch is a FULL-corpus rebuild by design (examples/15 rebuilds
    epoch 2 from all_shards) — an append can never retroactively
    interleave into already-laid-out positions.  A layout table carries
    no record of the seed that built it, so the operator cannot detect
    a seed mismatch; like increment-disjointness, seed consistency
    between the reference layout and the append is the caller's
    contract.

    Column hygiene (round-11): the operator reserves the scratch names
    it will create for the chosen mode (always ``__sh``; ``__ho`` when
    epochSeed is set; the walk bucket ``__qb`` on the bucketed
    curriculum path and ``__bv`` on the hash-order path; the walk's
    own ``prefix_scratch``; ``__off`` when refTable is set) and raises
    a rendered error if an input column collides — the pre-round-11
    behavior silently overwrote and then dropped such a column.  A
    scratch name a given run does NOT create (e.g. ``__ho`` without
    epochSeed) still passes through untouched.
    """

    def train(self, df, path, params, context=None):
        id_col = params.get("idCol", "doc_id")
        num_shards = get_int(params, "numShards", 64)
        order_col = params.get("orderCol", "")
        ref_tbl = params.get("refTable", "")
        epoch = params.get("epochSeed", "")
        cmode = params.get("curriculumMode", "exact")
        if num_shards < 1:
            raise ValueError(
                f"DeterministicShard: numShards must be >= 1, got "
                f"{num_shards}")
        if order_col and order_col not in df.columns:
            raise ValueError(
                f"DeterministicShard: orderCol {order_col!r} not in "
                f"input columns {df.columns}")
        impl = hash_impl(params)
        if order_col and cmode not in ("exact", "bucketed"):
            raise ValueError(
                f"DeterministicShard: unknown curriculumMode "
                f'{cmode!r}; use "exact" or "bucketed"')
        # the walk's bucket: hash streams (__bv) on the hash-order path,
        # orderCol range buckets (__qb) on the bucketed curriculum, none
        # on the exact curriculum (one window per shard)
        bucket = ("__bv" if not order_col else
                  "__qb" if cmode == "bucketed" else None)
        if bucket == "__qb":
            dt = df.schema[order_col].dataType.simpleString()
            if dt not in ("tinyint", "smallint", "int", "bigint",
                          "float", "double") \
                    and not dt.startswith("decimal"):
                raise ValueError(
                    f'DeterministicShard: curriculumMode="bucketed"'
                    f" needs a numeric orderCol for quantile "
                    f"bucketing; {order_col!r} is {dt} — use "
                    f'curriculumMode="exact"')
        if bucket:
            n_bkts = get_int(params, "layoutBuckets", 32)
            if n_bkts < 1:
                raise ValueError(
                    f"DeterministicShard: layoutBuckets must be >= 1, "
                    f"got {n_bkts}")
        # scratch-column collision guard (round-11, ADVICE): exactly
        # the scratch names the CHOSEN mode creates — a user column of
        # such a name used to be silently overwritten and dropped.
        # Names a run does NOT create keep passing through (the
        # round-10 unseeded-`__ho` regression test).
        scratch: dict[str, str] = {"__sh": "always created"}
        if epoch:
            scratch["__ho"] = "created by epochSeed"
        if bucket:
            scratch[bucket] = "the layout bucket"
        scratch.update(prefix_scratch(bucket is not None))
        if ref_tbl:
            scratch["__off"] = "created by refTable"
        refuse_scratch_collisions(df, "DeterministicShard", scratch)
        # the position-hash domain tag: seed-mixed for per-epoch
        # reshuffle; the bare legacy tag otherwise (layouts stay
        # byte-identical to pre-epochSeed runs)
        pos_tag = f"shardpos[{epoch}]" if epoch else "shardpos"
        in_cols = [c for c in df.columns if c not in ("shard",
                                                      "shard_pos")]
        base = (df.drop("shard", "shard_pos")
                  .withColumn("__sh", _shard_hash(id_col, impl))
                  .withColumn("shard",
                              _shard_gate(F.col("__sh"), num_shards)))
        # the within-shard order key: the shard-gate hash by default;
        # the seeded position hash under epochSeed (ONE draw decides
        # both the bucket and the order, so the permutation is fully
        # seed-determined)
        pos_hash = portable_hash64(F.col(id_col).cast("string"), pos_tag,
                                   impl)
        if epoch:
            base = base.withColumn("__ho", pos_hash)
            pos_hash = F.col("__ho")
        order = [pos_hash if epoch else F.col("__sh"), F.col(id_col)]
        if order_col:
            order = [F.col(order_col).asc_nulls_last()] + order
        if bucket == "__bv":
            # the position hash splits each shard into layoutBuckets
            # streams
            base = base.withColumn("__bv", F.pmod(pos_hash, F.lit(n_bkts)))
        if bucket == "__qb":
            # range-bucket orderCol by value thresholds (approx
            # quantiles → balance).  Bucket assignment is a MONOTONE
            # function of the orderCol VALUE, so the composed order
            # (qbucket, orderCol, hash, id) equals exact mode's
            # (orderCol, hash, id) total order: the positions are
            # IDENTICAL to exact mode for ANY boundary choice (pytest
            # parity gate) — quantile approximation only affects bucket
            # balance, never the layout, so the operator's
            # byte-reproducibility promise survives approxQuantile's
            # merge-order sensitivity.
            probs = [i / n_bkts for i in range(1, n_bkts)]
            bnds = sorted(set(
                df.where(F.col(order_col).isNotNull())
                  .select(F.col(order_col).cast("double").alias("__oc"))
                  .stat.approxQuantile("__oc", probs, 0.001))) \
                if probs else []
            barr = F.array(*[F.lit(float(b)) for b in bnds]) \
                if bnds else F.array().cast("array<double>")
            oc = F.col(order_col).cast("double")
            # NULLs sort last in exact mode; the top bucket holds both
            # above-last-boundary values and NULLs — the within-bucket
            # asc_nulls_last order keeps them last
            base = base.withColumn("__qb", F.when(
                F.col(order_col).isNull(), F.lit(len(bnds))).otherwise(
                F.size(F.filter(barr, lambda b: b <= oc))))
        # a NULL id has no hash gate: the layout convention (shard =
        # shard_pos = NULL, visible pass-through) is applied explicitly,
        # since the walk would give the NULL-shard group positions too
        # (nondeterministic on orderCol ties)
        out = prefix_before(base, "shard", order, bucket=bucket).select(
            *in_cols, "shard",
            F.when(F.col(id_col).isNull(), F.lit(None).cast("long"))
             .otherwise(F.col("__before").cast("long")).alias("shard_pos"))
        if ref_tbl:
            prev = df.sparkSession.table(ref_tbl)
            cols = set(prev.columns)
            if "next_pos" not in cols and {"shard", "shard_pos"} <= cols:
                # full-layout form: reduce it to its manifest — a
                # column-pruned scan of two int columns over the
                # history (fine for daily lakes; hand a manifest for
                # truly huge layouts)
                prev = layout_manifest(prev)
            elif not {"shard", "next_pos"} <= cols:
                raise ValueError(
                    f"DeterministicShard: refTable {ref_tbl!r} is "
                    f"neither a layout (shard, shard_pos) nor a "
                    f"manifest (shard, next_pos) — it must be a prior "
                    f"DeterministicShard output, or its per-shard "
                    f"manifest, with the same numShards")
            # manifest form — the O(|shards|) at-scale path: a per-shard
            # (shard, next_pos) table (LayoutManifest's output), so a
            # daily append never re-scans the full layout history
            offsets = prev.select(
                "shard", F.col("next_pos").cast("long").alias("__off"))
            # numShards-mismatch guard (round-10 advisor finding): a
            # reference built with a DIFFERENT numShards used to
            # coalesce silently to offset 0 for the missing shards and
            # produce positions colliding with the existing layout.
            # The |shards|-row aggregate comes to the driver anyway for
            # this check, so reuse it as a LITERAL local relation — the
            # broadcast join then costs no recompute of the history
            # scan.  NULL-shard rows (the operator's own NULL-id
            # pass-through convention) are excluded BEFORE the bound:
            # they carry no offset and must not count against
            # numShards.  limit(numShards+1) bounds the collect: if it
            # fills, the reference provably has more distinct shards
            # than numShards and the rendered error below fires.
            off_rows = (offsets.where(F.col("shard").isNotNull()
                                      & F.col("__off").isNotNull())
                        .limit(num_shards + 1).collect())
            try:
                typed = [(int(r["shard"]), int(r["__off"]))
                         for r in off_rows]
            except (TypeError, ValueError):
                raise ValueError(
                    f"DeterministicShard: refTable {ref_tbl!r} has a "
                    f"non-integer shard/next_pos column — a layout or "
                    f"manifest round-tripped through a typeless format "
                    f"(e.g. csv)?  Cast shard to int and the position "
                    f"column to bigint first.")
            bad = [s for s, _ in typed if not 0 <= s < num_shards]
            # duplicate-manifest-row guard (round-11, ADVICE): a
            # manifest with two rows for one shard would either trip
            # the misleading numShards-mismatch message below (when
            # the dup pushes the collect over the bound) or pass the
            # guard and FAN OUT the broadcast join, silently
            # multiplying output rows.  Out-of-range shards are
            # diagnosed first (that IS a numShards mismatch); in-range
            # duplicates get their own error.  The full-layout form
            # can't dupe (it aggregates by shard) — only a
            # caller-maintained manifest can.
            dup_shards = sorted(s for s, n in Counter(
                s for s, _ in typed).items() if n > 1)
            if not bad and dup_shards:
                raise ValueError(
                    f"DeterministicShard: refTable {ref_tbl!r} has "
                    f"multiple rows for shard(s) {dup_shards[:5]} — a "
                    f"manifest must carry exactly one (shard, "
                    f"next_pos) row per shard (joining a duplicated "
                    f"manifest would multiply output rows).  "
                    f"Re-aggregate it: select shard, max(next_pos) as "
                    f"next_pos ... group by shard.")
            if len(typed) > num_shards or bad:
                seen = (f"shard id {bad[0]}" if bad else
                        f"> {num_shards} distinct shards")
                raise ValueError(
                    f"DeterministicShard: refTable {ref_tbl!r} was "
                    f"built with a different numShards (it has {seen}, "
                    f"this run uses numShards={num_shards}) — appending "
                    f"would assign positions that collide with the "
                    f"existing layout.  Pass the numShards the "
                    f"reference layout was built with.")
            offsets = local_table(
                df.sparkSession, typed, "shard int, __off long")
            out = (out.join(F.broadcast(offsets), "shard", "left")
                   .withColumn("shard_pos",
                               F.col("shard_pos")
                               + F.coalesce(F.col("__off"), F.lit(0)))
                   # the join key moves `shard` to the front — restore
                   # the no-ref column order (input cols, shard,
                   # shard_pos) so the two generations union cleanly
                   .select(*in_cols, "shard", "shard_pos"))
        return out

    def explain_params(self):
        return [("idCol", "document id column", "doc_id"),
                ("numShards", "shard count (size so corpus/numShards "
                 "is a sane file size)", "64"),
                ("orderCol", "optional within-shard curriculum order "
                 "column (hash breaks ties)", ""),
                ("curriculumMode", "exact (one window per shard) | "
                 "bucketed (quantile range-buckets restore numShards x "
                 "layoutBuckets parallelism; positions identical to "
                 "exact for any boundary choice)", "exact"),
                ("layoutBuckets", "parallel position streams per "
                 "shard (hash-order path; no whole-shard sort)", "32"),
                ("refTable", "previous layout (shard, shard_pos) or "
                 "per-shard manifest (shard, next_pos): keep the "
                 "shard assignment and continue positions "
                 "(incremental append)", ""),
                ("epochSeed", "per-epoch reshuffle: same shards, "
                 "seed-mixed within-shard order ('' = legacy order)",
                 ""),
                ("hashImpl", "md5 (oracle) | xxhash64 (production)",
                 "md5")]


# ---------------------------------------------------------------------------
# LayoutAudit / LayoutManifest / GroupedSplit (round 11) — the rest of
# the training-set layout lifecycle around DeterministicShard: verify a
# layout's invariants before training reads it, maintain the O(|shards|)
# append manifest as a first-class op instead of hand-rolled SQL
# (examples/15), and split by group hash without cross-split leakage.
# ---------------------------------------------------------------------------

@register_et("LayoutAudit")
class LayoutAudit(ETAlgorithm):
    """Validate a DeterministicShard layout's invariants, per shard.

    A training loader consumes a layout on faith: positions 0..n-1
    contiguous and unique per shard, every document in the shard its id
    hashes to, NULL-id rows carrying NULL shard/pos.  After any
    composed day-N append (DeterministicShard refTable over a curated
    increment) those invariants are exactly what a corrupted manifest,
    a numShards drift, or a double-appended increment would break —
    this is the data-quality gate to run before a training job resumes
    from (shard, position).

    One row per shard (the NULL-shard group audits the NULL-id
    convention):

    - ``n_rows``, ``n_distinct_pos``, ``min_pos``, ``max_pos``
    - ``contiguous_ok``  — positions are exactly 0..n_rows-1 (unique,
      gapless, zero-based); for the NULL-shard group: all positions
      NULL
    - ``gate_ok``        — every row sits in pmod(hash(id), numShards)
      (hashImpl must match the layout's)
    - ``convention_ok``  — NULL id  ⇔  NULL shard AND NULL pos
    - ``xor_sig``        — order-insensitive per-shard content
      signature: bit_xor of hash(id:pos).  Two layout generations (or
      the same layout read back from disk, or replayed on another
      engine) carry identical xor_sig per shard iff every document
      sits at the same position — the cheap byte-reproducibility
      check the operator's determinism promise is about.  XOR is
      commutative, so the signature is scan-order-free and computable
      map-side; BIGINT on both engines (no sum-overflow semantics to
      reconcile).

    100 TB: map-only boolean expressions + ONE groupBy(shard)
    aggregation (|shards| result rows; countDistinct is Spark's
    standard two-phase partial-distinct — no window, no join, no
    driver state).  Runs as a full-scan audit by design: auditing a
    100 TB layout costs one pass, the same as reading it.
    """

    def train(self, df, path, params, context=None):
        id_col = params.get("idCol", "doc_id")
        num_shards = get_int(params, "numShards", 64)
        impl = hash_impl(params)
        if num_shards < 1:
            raise ValueError(
                f"LayoutAudit: numShards must be >= 1, got {num_shards}")
        missing = [c for c in (id_col, "shard", "shard_pos")
                   if c not in df.columns]
        if missing:
            raise ValueError(
                f"LayoutAudit: input is not a layout — missing "
                f"column(s) {missing} (expect a DeterministicShard "
                f"output with {id_col!r}, shard, shard_pos)")
        gate = _shard_gate(_shard_hash(id_col, impl), num_shards)
        id_null = F.col(id_col).isNull()
        gate_bad = (~id_null & (F.col("shard").isNull()
                                | (F.col("shard") != gate))).cast("int")
        convention_bad = F.when(
            id_null, (F.col("shard").isNotNull()
                      | F.col("shard_pos").isNotNull()).cast("int")
        ).otherwise((F.col("shard").isNull()
                     | F.col("shard_pos").isNull()).cast("int"))
        # concat null-propagates: a NULL id or pos contributes nothing
        # (bit_xor skips NULLs in both engines)
        sig = portable_hash64(
            F.concat(F.col(id_col).cast("string"), F.lit(":"),
                     F.col("shard_pos").cast("string")), "sig", impl)
        agg = (df.groupBy("shard")
               .agg(F.count(F.lit(1)).alias("n_rows"),
                    F.countDistinct("shard_pos").alias("n_distinct_pos"),
                    F.min("shard_pos").alias("min_pos"),
                    F.max("shard_pos").alias("max_pos"),
                    F.sum(gate_bad).alias("__gb"),
                    F.sum(convention_bad).alias("__cb"),
                    F.bit_xor(sig).alias("xor_sig")))
        contiguous = F.when(
            F.col("shard").isNull(), F.col("n_distinct_pos") == 0
        ).otherwise((F.col("n_distinct_pos") == F.col("n_rows"))
                    & (F.col("min_pos") == 0)
                    & (F.col("max_pos") == F.col("n_rows") - 1))
        return (agg
                .withColumn("contiguous_ok", contiguous)
                .withColumn("gate_ok", F.col("__gb") == 0)
                .withColumn("convention_ok", F.col("__cb") == 0)
                .drop("__gb", "__cb"))

    def explain_params(self):
        return [("idCol", "document id column", "doc_id"),
                ("numShards", "shard count the layout was built with",
                 "64"),
                ("hashImpl", "md5 (oracle) | xxhash64 (production); "
                 "must match the layout's", "md5")]


@register_et("LayoutManifest")
class LayoutManifest(ETAlgorithm):
    """Reduce a layout to its per-shard append manifest: one
    (shard, next_pos, n_rows) row per shard — the O(|shards|) refTable
    form DeterministicShard appends against, so a daily increment
    never re-scans the full layout history (examples/15 hand-rolled
    this aggregate; it is the thing a caller should persist alongside
    each layout generation).

    NULL-shard rows (the NULL-id pass-through convention) carry no
    position and are excluded — they must not produce a manifest row
    (DeterministicShard's refTable guard would ignore it anyway, but a
    manifest is also read by humans and loaders).

    By construction one row per shard: the manifest this op emits can
    never trip DeterministicShard's duplicate-manifest-row guard.

    100 TB: ONE column-pruned aggregation over (shard, shard_pos) —
    two int columns — to |shards| rows.  Maintain it incrementally:
    manifest(gen N) = per-shard max of manifest(gen N-1) and the
    increment's own manifest, so steady state never reads old layout
    data at all.
    """

    def train(self, df, path, params, context=None):
        missing = [c for c in ("shard", "shard_pos") if c not in df.columns]
        if missing:
            raise ValueError(
                f"LayoutManifest: input is not a layout — missing "
                f"column(s) {missing} (expect a DeterministicShard "
                f"output with shard, shard_pos)")
        return layout_manifest(df)

    def explain_params(self):
        return []


@register_et("GroupedSplit")
class GroupedSplit(ETAlgorithm):
    """Leakage-safe train/validation/test split: every row's split is
    decided by a portable hash of a GROUP key, so all rows sharing the
    key (a url domain, a source document's id, a dedup cluster id)
    land in the SAME split — near-duplicates within a group can never
    straddle the train/eval boundary, the classic contamination bug of
    row-level random splits (Lee et al. 2022 "Deduplicating Training
    Data Makes Language Models Better" measures exactly this leak).

    ``splits`` is "name:ratio,..." (ratios sum to 1); assignment is
    pmod(hash(group), 1e6) compared against INTEGER cumulative
    thresholds (round(cum*1e6)) — integer compares are bit-portable
    across engines, so the split is reproducible in SQL (oracle) and
    stable across runs, engines and numShards choices.  A NULL group
    key has no hash: split = NULL, visible pass-through (the engine's
    NULL-id convention).  Re-running overwrites an existing output
    column (annotator overwrite convention).

    100 TB: map-only — one hash + a CASE chain, ZERO exchanges
    (plan-gated); ratios hold per group-population by the law of large
    numbers exactly like every hash sampler in this engine
    (StratifiedSampleExt's contract).
    """

    def train(self, df, path, params, context=None):
        group_col = params.get("groupCol", "doc_id")
        out_col = params.get("outputCol", "split")
        impl = hash_impl(params)
        if group_col not in df.columns:
            raise ValueError(
                f"GroupedSplit: groupCol {group_col!r} not in input "
                f"columns {df.columns}")
        if out_col == group_col:
            # the overwrite convention drops out_col before adding it,
            # which would destroy the very column the hash reads
            # (review finding, round 11: this used to surface as a raw
            # unresolved-column AnalysisException)
            raise ValueError(
                f"GroupedSplit: outputCol and groupCol are both "
                f"{out_col!r} — the split label would overwrite its "
                f"own group key; pick a different outputCol")
        spec = params.get("splits", "train:0.98,validation:0.01,test:0.01")
        names, ratios = [], []
        for part in spec.split(","):
            part = part.strip()
            if not part:
                continue
            if ":" not in part:
                raise ValueError(
                    f"GroupedSplit: splits entry {part!r} is not "
                    f"name:ratio (e.g. "
                    f'splits="train:0.9,validation:0.05,test:0.05")')
            name, _, ratio = part.partition(":")
            try:
                r = float(ratio)
            except ValueError:
                raise ValueError(
                    f"GroupedSplit: ratio {ratio!r} for split "
                    f"{name.strip()!r} is not a number")
            if r <= 0:
                raise ValueError(
                    f"GroupedSplit: ratio for split {name.strip()!r} "
                    f"must be > 0, got {r}")
            names.append(name.strip())
            ratios.append(r)
        if len(names) < 2:
            raise ValueError(
                f"GroupedSplit: need at least 2 splits, got {names}")
        if len(set(names)) != len(names):
            raise ValueError(
                f"GroupedSplit: duplicate split names in {names}")
        if abs(sum(ratios) - 1.0) > 1e-6:
            raise ValueError(
                f"GroupedSplit: ratios must sum to 1.0, got "
                f"{sum(ratios)} from {spec!r}")
        denom = 1_000_000
        hv = F.pmod(portable_hash64(F.col(group_col).cast("string"),
                                    "split", impl), F.lit(denom))
        # integer cumulative thresholds: the LAST split absorbs any
        # rounding residue so every non-null hash lands somewhere
        cum, bounds = 0.0, []
        for r in ratios[:-1]:
            cum += r
            bounds.append(int(round(cum * denom)))
        # every split must own a non-empty hash range at the 1e6
        # resolution (review finding, round 11: a ratio like 1e-7
        # passed the > 0 check but rounded to a ZERO-width bucket —
        # an unreachable split with no error)
        for i, b in enumerate(bounds):
            prev_b = bounds[i - 1] if i else 0
            if b <= prev_b:
                raise ValueError(
                    f"GroupedSplit: split {names[i]!r} "
                    f"(ratio {ratios[i]}) rounds to an EMPTY hash "
                    f"range at the 1/{denom} assignment resolution — "
                    f"no row could ever receive it; use a ratio of at "
                    f"least {1.0 / denom}")
        if bounds and bounds[-1] >= denom:
            raise ValueError(
                f"GroupedSplit: split {names[-1]!r} "
                f"(ratio {ratios[-1]}) rounds to an EMPTY hash range "
                f"at the 1/{denom} assignment resolution — no row "
                f"could ever receive it; use a ratio of at least "
                f"{1.0 / denom}")
        expr = F.lit(names[-1])
        for name, b in zip(reversed(names[:-1]), reversed(bounds)):
            expr = F.when(hv < F.lit(b), F.lit(name)).otherwise(expr)
        expr = F.when(F.col(group_col).isNull(),
                      F.lit(None).cast("string")).otherwise(expr)
        return df.drop(out_col).withColumn(out_col, expr)

    def explain_params(self):
        return [("groupCol", "leakage group key: all rows sharing it "
                 "get the same split", "doc_id"),
                ("splits", "name:ratio list summing to 1",
                 "train:0.98,validation:0.01,test:0.01"),
                ("outputCol", "split label column (overwritten if "
                 "present)", "split"),
                ("hashImpl", "md5 (oracle) | xxhash64 (production)",
                 "md5")]
