"""Text-analysis operators for LLM training-data curation.

All pure map-side Column expressions (split/filter/aggregate over the
token array) — no shuffles except the final small aggregations, no UDFs:

- ``token_stats``      : per-document token counting (whitespace words
                         + a BPE-ish pre-tokenizer regex), unique
                         counts, type-token ratio.
- ``tfidf_top_terms``  : per-document top-k terms by smoothed tf-idf
                         (deterministic integer ranking).
- ``language_id``      : n-gram/stopword-profile language heuristic —
                         scores each candidate language's stopword hits
                         and takes the argmax (deterministic tie-break).
- ``quality_scores``   : heuristic quality signals (length, punctuation
                         density, digit density, stopword ratio) and a
                         keep/review routing decision.
- ``doc_fingerprints`` : order-sensitive rolling-hash fingerprint
                         (content-defined identity for exact-ish dedup
                         and incremental re-crawl detection).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import planutil as PU
from ..functions import texthash as TH

# Public stopword profiles (tiny on purpose: the operator's shape is the
# point; swap in real profiles for production).
STOPWORDS = {
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "en": ["the", "and", "of", "to", "in", "is", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une"],
    "zh": ["de5", "shi4", "bu4", "le5", "zai4", "ren2", "you3", "wo3"],
}
LANGS = sorted(STOPWORDS)


# GPT-2-style pre-tokenizer split, minus the lookahead RE2 can't do:
# letter runs, digit runs, punctuation runs (each with optional leading
# space), residual whitespace. Java regex and RE2 (DuckDB) produce
# identical match counts for this subset — verified over unicode,
# CJK, and punctuation fixtures.
BPE_SPLIT_PATTERN = r" ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(text_col: str) -> F.Column:
    """BPE-ish pre-tokenizer token count (the LLM-cost estimator)."""
    pat = BPE_SPLIT_PATTERN.replace("\\", "\\\\")
    return F.size(F.expr(f"regexp_extract_all({text_col}, '{pat}', 0)"))


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    toks = TH.tokens(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
        bpe_token_count(text_col).cast("long").alias("n_tokens_bpe"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_unique_tokens"),
        TH.quantized6(
            F.size(F.array_distinct(toks)) / F.size(toks).cast("double")
        ).alias("type_token_ratio"),
        TH.quantized6(
            F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
            / F.size(toks).cast("double")
        ).alias("avg_token_len"),
    )


def _lang_score(toks: F.Column, lang: str) -> F.Column:
    """Occurrence count of the language's stopwords in the token stream."""
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def predicted_lang_over_scores() -> F.Column:
    """Argmax over pre-computed ``s_<lang>`` score columns; ties -> first
    lang alphabetically, all-zero -> 'und'. The when-chain runs in LANGS
    (alphabetical) order so earlier langs win ties — shared by
    ``language_id``, the batch curation pipeline, and the streaming
    curation path (a pure Column expression, stream-safe)."""
    best = F.greatest(*[F.col(f"s_{lang}") for lang in LANGS])
    chain = None
    for lang in LANGS:
        cond = (F.col(f"s_{lang}") == best) & (best > 0)
        chain = F.when(cond, F.lit(lang)) if chain is None else chain.when(cond, F.lit(lang))
    return chain.otherwise(F.lit("und"))


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-profile language ID; argmax score, ties -> first lang
    alphabetically, all-zero -> 'und' (undetermined)."""
    toks = TH.tokens(F.col(text_col))
    scored = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col("lang").alias("labeled_lang"),
        *[_lang_score(toks, lang).alias(f"s_{lang}") for lang in LANGS],
    )
    return (
        scored.withColumn("predicted_lang", predicted_lang_over_scores())
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


def quality_scores(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    text = F.col(text_col)
    toks = TH.tokens(text)
    n_chars = F.length(text)
    # nullif guards: an EMPTY document (real crawls contain them) has
    # n_chars = 0, and under Spark 4's default ANSI mode a bare x/0 is
    # a runtime DIVIDE_BY_ZERO, not inf — ratios become NULL and the
    # keep predicate (NULL < 0.2 → NULL → otherwise-branch) routes the
    # doc to 'review'. DuckDB's nullif mirrors exactly.
    n_chars_d = F.nullif(n_chars, F.lit(0)).cast("double")
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    stop_hits = _lang_score(toks, "en")
    stop_ratio = stop_hits / F.size(toks).cast("double")
    keep = (
        (F.size(toks) >= 10)
        & (punct / n_chars_d < 0.2)
        & (digits / n_chars_d < 0.5)
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_chars.cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        TH.quantized6(punct / n_chars_d).alias("punct_ratio"),
        TH.quantized6(digits / n_chars_d).alias("digit_ratio"),
        TH.quantized6(stop_ratio).alias("stopword_ratio"),
        F.when(keep, F.lit("keep")).otherwise(F.lit("review")).alias("quality_route"),
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document top-``k`` terms with smoothed tf-idf scores.

    Classic corpus statistics for LLM-data curation (term importance,
    boilerplate detection). Plan shape at scale: explode -> partial-agg
    ``groupBy(doc, term)`` (shuffle ∝ tokens, map-side combined), a
    term-level ``groupBy`` for document frequency (shuffle ∝ distinct
    terms), corpus size joined in as a broadcast scalar, and a per-doc
    ``row_number`` window (shuffle on doc_id — bounded, one partition
    per hash bucket of docs, never global).

    idf uses the sklearn-style smooth form ``ln((1+N)/(1+df)) + 1``.
    Ranking is by the tf-idf score *quantized to an integer 1e-6 grid*
    (``CAST(round(tfidf*1e6) AS BIGINT) DESC``) with ``(tf DESC, df
    ASC, term ASC)`` as the tiebreak — true tf-idf order, yet still
    deterministic across engines: ranking by the raw double would let
    a 1-ulp ``ln`` difference flip near-ties between Spark and the
    DuckDB oracle, whereas flipping the quantized key needs the
    pre-rounded values to straddle a grid line within 1 ulp
    (negligible). The reported ``tfidf`` column is the quantized score
    divided back (``score_q / 1e6``) so the displayed value sorts
    identically to the rank on both engines.
    """
    from pyspark.sql import Window

    term_rows = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(TH.tokens(F.col(text_col))).alias("term"),
    )
    tf = term_rows.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score_q",
            F.round(
                F.col("tf")
                * (F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0)
                * 1e6
            ).cast("long"),
        )
        .withColumn("tfidf", F.col("score_q").cast("double") / F.lit(1e6))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_q").desc(),
        F.col("tf").desc(),
        F.col("df").asc(),
        F.col("term").asc(),
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


def bigram_logprob(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document average bigram log-likelihood under the corpus' own
    bigram model — the KenLM-style fluency filter, one order up from
    ``unigram_logprob`` (word-salad that passes the unigram screen
    still scores low here, because its *transitions* are corpus-rare).

    ``avg(ln c(prev,cur) - ln c(prev,*))`` — maximum-likelihood
    P(cur|prev), with both ``ln`` arguments integers (corpus counts),
    so the per-pair values are bit-identical across engines and only
    the final avg needs the 1e-6 grid snap. Plan shape: explode
    adjacent pairs (rows ∝ tokens) -> two partial-agged ``groupBy``s
    (bigram counts, prefix counts; shuffle ∝ distinct grams) -> joins
    back on the gram keys -> one ``groupBy(doc)``. The same tf-idf-
    class plan, scale-safe. Docs with < 2 tokens have no bigrams and
    drop out (filter them upstream with ``token_stats``).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), TH.tokens(F.col(text_col)).alias("_t")
    )
    pairs = toks.filter(F.size("_t") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_t") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("_t"), i).alias("prev"),
                    F.element_at(F.col("_t"), i + 1).alias("cur"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
    c2 = pairs.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    c1 = pairs.groupBy("prev").agg(F.count("*").alias("c1"))
    return (
        pairs.join(c2, ["prev", "cur"])
        .join(c1, "prev")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            TH.quantized6(
                F.avg(F.log(F.col("c2").cast("double")) - F.log(F.col("c1").cast("double")))
            ).alias("avg_bigram_logprob"),
        )
    )


def doc_fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Order-sensitive rolling hash over the token-hash sequence."""
    toks = TH.tokens(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        TH.doc_fingerprint(TH.token_hashes(toks)).alias("fingerprint"),
    )


def bpe_merge_candidates(
    docs: DataFrame, k: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-``k`` adjacent character-pair frequencies over the corpus'
    token stream — the merge-selection statistic of BPE tokenizer
    training (each BPE round merges the most frequent adjacent pair;
    this computes round 1's candidate table at corpus scale).

    Unicode-safe: characters come from ``regexp_extract_all(tok, '.')``
    (one codepoint per element in both Spark and the DuckDB oracle —
    byte-splitting would shred multibyte characters). The char array is
    staged through a projection boundary before ``element_at`` indexing
    (the ``texthash.shingle_hashes_from`` rule). Plan: explode ->
    partial-agged ``groupBy(pair)`` (shuffle is one row per distinct
    pair — bounded by the squared alphabet, tiny), and the final
    ordering window runs over that bounded table, so the single
    partition it implies is safe at any corpus size.
    """
    from pyspark.sql import Window

    toks = docs.select(F.explode(TH.tokens(F.col(text_col))).alias("tok"))
    chars = toks.select(F.expr("regexp_extract_all(tok, '.', 0)").alias("ch")).filter(
        F.size("ch") >= 2
    )
    pairs = chars.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ch") - 1),
                lambda i: F.concat(F.element_at(F.col("ch"), i), F.element_at(F.col("ch"), i + 1)),
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("pair").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("pair", "n", "rank")
    )


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    word 3-grams that are repeats of an earlier one, and the share of
    the single most frequent word 2-gram — the standard cheap detectors
    for loop/boilerplate text that inflates LLM training loss.

    Pure-integer ppm outputs (BIGINT multiply-then-div — no doubles
    anywhere, so no cross-engine rounding surface at all). Plan: the
    3-gram stats are a narrow map over the token array (size vs
    array_distinct size); the top-2-gram share explodes 2-grams into a
    partial-agged ``groupBy(doc, gram)`` then ``groupBy(doc)`` max/sum
    (shuffle ∝ 2-grams, map-side combined).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), TH.tokens(F.col(text_col)).alias("_t")
    )
    # Stage the 3-gram list through a projection so size/distinct read
    # a materialized array instead of re-running the shingle transform.
    g3 = toks.select(
        "doc_id", TH.shingles(F.col("_t"), 3).alias("_g3")
    ).select(
        "doc_id",
        F.size(F.col("_g3")).cast("long").alias("n_3grams"),
        F.size(F.array_distinct(F.col("_g3"))).alias("d3"),
    ).select(
        "doc_id",
        "n_3grams",
        F.expr(
            "((n_3grams - d3) * CAST(1000000 AS BIGINT)) div n_3grams"
        ).alias("dup_3gram_ppm"),
    )
    g2 = (
        toks.select("doc_id", F.explode(TH.shingles(F.col("_t"), 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
        .select(
            "doc_id",
            F.expr("(mx * CAST(1000000 AS BIGINT)) div tot").alias(
                "top_2gram_ppm"
            ),
        )
    )
    return g3.join(g2, "doc_id")


def char_entropy(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy of the character distribution —
    the classic gibberish/degenerate-text detector (keyboard mash and
    single-char floods score near 0; natural text sits in a band).

    ``H = ln(n) - sum(c*ln(c))/n`` over per-character counts ``c``
    (algebraically identical to ``-sum(p*ln(p))``, but every ``ln``
    argument is an integer — the same value on both engines). Plan:
    explode characters -> partial-agged ``groupBy(doc, char)`` (shuffle
    ∝ chars, combined map-side to one row per (doc, char)) -> one
    ``groupBy(doc)``. Output snapped to the 1e-6 grid (engine rule for
    accumulation-order-dependent double aggregates).
    """
    chars = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.expr(f"regexp_extract_all({text_col}, '.', 0)")).alias("ch"),
    )
    per_char = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    return per_char.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars"),
        F.count("*").alias("n_distinct_chars"),
        TH.quantized6(
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / F.sum("c")
        ).alias("char_entropy"),
    )


def unigram_logprob(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document average unigram log-likelihood under the corpus'
    own unigram model — the classic cheap fluency/gibberish filter for
    training-data curation (documents full of corpus-rare tokens score
    far more negative than documents of common ones).

    Plan shape at scale: explode -> partial-agged ``groupBy(term)`` for
    corpus term frequencies (shuffle ∝ distinct terms), the corpus
    total joined in as a broadcast scalar, then one ``groupBy(doc_id)``
    averaging the per-token log-probabilities (shuffle ∝ tokens,
    map-side combined). No UDFs, no windows, no driver loops.

    The average is snapped to the integer 1e-6 grid
    (``texthash.quantized6``) per the engine-wide rule for
    accumulation-order-dependent double aggregates (see PERF.md).
    """
    term_rows = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(TH.tokens(F.col(text_col))).alias("term"),
    )
    ctf = term_rows.groupBy("term").agg(F.count("*").alias("ctf"))
    total = term_rows.agg(F.count("*").alias("total_tokens"))
    return (
        term_rows.join(ctf, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            TH.quantized6(
                F.avg(F.log(F.col("ctf") / F.col("total_tokens")))
            ).alias("avg_unigram_logprob"),
        )
    )


PERCENTILES = (25, 50, 75, 90, 99)


def length_percentiles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    pcts: tuple[int, ...] = PERCENTILES,
) -> DataFrame:
    """Per-group token-length distribution report (the corpus-audit
    "what does this source look like" query).

    Discrete percentiles by construction: the p-th percentile is the
    value at rank ``ceil(p * n / 100)`` under the total order
    ``(n_tokens, doc_id)``. Everything is BIGINT — rank targets via
    ``(p*n + 99) div 100`` — so the report is bit-identical across
    engines (interpolating ``percentile_cont`` would re-introduce the
    double-arithmetic divergence the 1e-6 quantization rule exists to
    kill, and on integer token counts a fractional percentile is not
    meaningful anyway).

    Plan: one shuffle on the group key for the rank window, then a
    partial-agged groupBy on the SAME key (no second exchange). Group
    cardinality is languages/sources — small — but each group's rank
    sort is a single-reducer sort at extreme scale; for a 100 TB corpus
    swap the exact rank for a t-digest/approx_percentile sketch (the
    report loses exactness, which is the documented trade).

    Returns ``(group, n_docs, p25, p50, p75, p90, p99)``.
    """
    from pyspark.sql import Window

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(group_col).alias("group"),
        F.size(TH.tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("group").orderBy("n_tokens", "doc_id")
    ranked = base.withColumn("rn", F.row_number().over(w).cast("long")).withColumn(
        "n", F.count("*").over(Window.partitionBy("group"))
    )
    aggs = [F.count("*").alias("n_docs")]
    for p in pcts:
        target = F.expr(f"greatest(({p} * n + 99) div 100, 1)")
        aggs.append(
            F.min(F.when(F.col("rn") == target, F.col("n_tokens"))).alias(f"p{p}")
        )
    return ranked.groupBy("group").agg(*aggs)


VOCAB_K = 500


def vocab_coverage(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_k: int = VOCAB_K,
) -> DataFrame:
    """Tokenizer-vocabulary coverage: induce the top-``vocab_k`` terms
    by corpus frequency, then score every document's out-of-vocabulary
    token rate — the go/no-go metric for sizing a tokenizer vocab
    against a corpus.

    Vocabulary induction is ``orderBy(freq desc, term).limit(k)`` —
    TakeOrdered (per-partition heaps merged at the driver, k rows),
    never a global sort; the deterministic (freq, term) tie-break makes
    the boundary cut engine-stable. The induced vocab broadcasts back
    onto the exploded token postings; OOV counting is then a
    partial-agged groupBy(doc).

    Returns ``(doc_id, n_tokens, n_oov, oov_ppm)`` with the ppm as
    exact BIGINT arithmetic.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(TH.tokens(F.col(text_col))).alias("term")
    )
    vocab = (
        toks.groupBy("term")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("term"))
        .limit(vocab_k)
        .select("term", F.lit(True).alias("_in_vocab"))
    )
    flagged = toks.join(F.broadcast(vocab), "term", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("(n_oov * CAST(1000000 AS BIGINT)) div n_tokens").alias("oov_ppm"),
        )
    )


# Hashed linear classifier ("fastText-shaped" quality model inference).
# Weights are a deterministic pseudo-model generated from the bucket id
# so Spark and the oracle embed the same table; production swaps in a
# trained weight parquet with the identical plan.
CLS_BUCKETS = 1024
CLS_A = 1_103_515_245
CLS_B = 12_345
CLS_W_RANGE = 1000  # weights lie in [-1000, 1000]


def classifier_weights(spark) -> DataFrame:
    """The synthetic weight table: ``(bucket, weight)`` for every
    feature bucket, weight = ((A*bucket + B) mod P) mod (2R+1) - R."""
    return spark.range(CLS_BUCKETS).select(
        F.col("id").alias("bucket"),
        F.expr(
            f"(({CLS_A} * id + {CLS_B}) % {TH.HASH_P}) % {2 * CLS_W_RANGE + 1}"
            f" - {CLS_W_RANGE}"
        ).alias("weight"),
    )


def hashed_classifier(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Linear text-classifier inference with the hashing trick: tokens
    hash into ``CLS_BUCKETS`` feature buckets, bucket counts dot a
    broadcast weight vector, and the integer logit routes the document
    — the standard quality/toxicity-filter inference shape of LLM data
    pipelines (fastText / logistic models over hashed n-grams).

    Scale shape: explode -> partial-agged groupBy((doc, bucket)) ->
    BROADCAST join the 1024-row weight table -> re-agg per doc. The
    weight table broadcasts at any corpus size (model size is fixed);
    the only big shuffle keys on (doc_id, bucket). All-integer logits
    — bit-exact across engines.

    Returns ``(doc_id, n_tokens, logit, cls_route)``.
    """
    toks = TH.tokens(F.col(text_col))
    bucket = (TH.token_hash(F.col("tok")) % CLS_BUCKETS).alias("bucket")
    counts = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("tok"))
        .select("doc_id", bucket)
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    w = F.broadcast(classifier_weights(docs.sparkSession))
    return (
        counts.join(w, "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("weight")).alias("logit"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "logit",
            F.when(F.col("logit") > 0, F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("cls_route"),
        )
    )


def ngram_diversity(
    docs: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source n-gram (trigram) diversity: distinct trigrams over
    total trigrams — the corpus-health signal that catches template
    farms and self-similar synthetic data (low diversity) that
    per-document repetition stats miss.

    Trigram construction is a narrow map over the token array; the
    distinct count is the only shuffle (partial-agged on (source,
    trigram) — at 100 TB, count distinct over a hashed trigram id, or
    the KMV sketch in ``sketches.py``, replaces exactness if the
    distinct set outgrows the cluster).

    Returns ``(source, n_trigrams, n_distinct_trigrams,
    diversity_ppm)``.
    """
    toks = TH.tokens(F.col(text_col))
    tri = F.when(
        F.size(toks) >= 3,
        F.expr(
            "transform(sequence(0, size(split(lower(trim("
            + text_col
            + ")), '\\\\s+')) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.withColumn("toks", toks)
        .select(F.col(source_col).alias("source"), F.explode(tri).alias("trigram"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_trigrams"),
            F.countDistinct("trigram").alias("n_distinct_trigrams"),
        )
        .select(
            "source",
            "n_trigrams",
            "n_distinct_trigrams",
            F.expr("n_distinct_trigrams * 1000000 div n_trigrams").alias(
                "diversity_ppm"
            ),
        )
    )


SEARCH_TERMS = ("spark", "join", "window")


def keyword_search(
    docs: DataFrame,
    terms: tuple[str, ...] = SEARCH_TERMS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Conjunctive (AND) keyword search: documents containing EVERY
    query term, with the total hit count as a relevance signal — the
    posting-list-intersection primitive under boolean retrieval.

    Scan-side form: explode -> filter to the (tiny, literal) term set
    -> per-doc distinct-term + hit counts -> ``n_terms == k``. The
    filter prunes the explode to query-term rows only, so the shuffle
    carries hits, not the corpus; the pre-built inverted-index variant
    (``curation.write_corpus``-style postings partitioned by term)
    serves the same plan from storage at 100 TB.

    Returns ``(doc_id, n_hits)`` for matching docs.
    """
    tok = F.explode(TH.tokens(F.col(text_col))).alias("tok")
    per_doc = (
        docs.select(F.col(id_col).alias("doc_id"), tok)
        .filter(F.col("tok").isin(*terms))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("tok").alias("n_terms"),
            F.count("*").alias("n_hits"),
        )
    )
    return per_doc.filter(F.col("n_terms") == len(terms)).select("doc_id", "n_hits")


BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10


def bm25_topk(
    docs: DataFrame,
    terms: tuple[str, ...] = SEARCH_TERMS,
    k: int = BM25_TOPK,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranked retrieval for a fixed query-term set — the scoring
    step above :func:`keyword_search`'s boolean intersection, and the
    retrieval primitive behind retrieval-based decontamination and
    quality mining over a training corpus (find the k docs most ON a
    topic, not just containing its words).

    Lucene-form BM25: ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``,
    per-term contribution ``idf · tf·(k1+1) / (tf + k1·(1-b+b·dl·N/T))``
    (the length norm folds avgdl = T/N as ``dl·N/T`` so both engines
    evaluate one division in the same order). Ranking is by the score
    QUANTIZED to the integer 1e-6 grid with ``(doc_id)`` tiebreak —
    same cross-engine-determinism discipline as
    :func:`tfidf_top_terms`.

    Plan at scale: one explode pass feeds BOTH the per-doc length
    table (shuffle ∝ docs) and the query-term postings (filter to the
    literal term set BEFORE the shuffle, so tf carries hits, not the
    corpus); df and the (N, T) scalars are query-term/corpus-level
    broadcasts; the final global top-k is ``ORDER BY … LIMIT k`` —
    Spark's distributed TakeOrdered, never a single-partition window.

    Returns ``(rank, doc_id, n_terms_matched, score_micro)``.
    """
    from pyspark.sql import Window

    term_rows = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(TH.tokens(F.col(text_col))).alias("tok"),
    )
    doclen = term_rows.groupBy("doc_id").agg(F.count("*").alias("dl"))
    corpus = doclen.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_tokens")
    )
    tf = (
        term_rows.filter(F.col("tok").isin(*terms))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.count("*").alias("df"))
    contrib = (
        tf.join(F.broadcast(df_t), "tok")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "_c",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            )
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1
                * (
                    (1.0 - b)
                    + b
                    * (F.col("dl") * F.col("n_docs"))
                    / F.col("total_tokens")
                )
            ),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_terms_matched"),
        F.round(F.sum("_c") * 1e6).cast("long").alias("score_micro"),
    )
    top = scored.orderBy(F.desc("score_micro"), "doc_id").limit(k)
    return top.withColumn(
        "rank",
        F.row_number()
        .over(Window.orderBy(F.desc("score_micro"), "doc_id"))
        .cast("long"),
    ).select("rank", "doc_id", "n_terms_matched", "score_micro")


BPE_TRAIN_MERGES = 8


def bpe_train(
    docs: DataFrame,
    n_merges: int = BPE_TRAIN_MERGES,
    text_col: str = "text",
) -> DataFrame:
    """Distributed BPE tokenizer TRAINING: the iterative greedy-merge
    loop itself (not just the first-round candidate counts of
    :func:`bpe_merge_candidates`) — each round counts adjacent symbol
    pairs over the word-frequency table, merges the most frequent pair
    everywhere (leftmost-first fold, the HuggingFace/GPT-2 convention),
    and repeats. The output merge table IS a trained tokenizer.

    Scale shape: training runs on the DISTINCT-WORD table (|vocab|
    rows, with corpus frequencies as weights), not the corpus — the
    one groupBy over raw text happens once. Per round: one explode +
    partial-agged pair count, a 1-ROW driver read (the argmax — the
    same sanctioned scalar collect as the watermark), and a narrow
    map (array fold) applying the merge; ``localCheckpoint`` caps the
    iterated lineage. Ties break (freq DESC, a, b) so the merge
    sequence is deterministic — which makes the whole LOOP
    oracle-checkable: the DuckDB twin unrolls every round.

    Returns ``(merge_rank, a, b, freq)`` — one row per learned merge.
    The merge table is JVM literals, so the trainer's last cached frame
    is released before returning.
    """
    merges, _, cached = _bpe_train_state(docs, n_merges, text_col)
    cached.unpersist()
    return _merge_table(docs.sparkSession, merges)


def _merge_table(spark, merges: list[tuple[int, str, str, int]]) -> DataFrame:
    """The learned merge list as a DataFrame built from JVM literals.

    ``createDataFrame(list)`` parallelizes the rows into a Python RDD,
    and the first scan of that RDD spawns a FULL python-worker wave
    just to unpickle 8 rows (round-13 profile: a 32-task, 1.6 s job on
    a cold pool — the single most expensive job of the whole query).
    An inline literal array keeps the tiny result JVM-local: no Python
    stage, no workers, constant-folds to rows at plan time. Column
    order and types match the old schema exactly.
    """
    if not merges:  # degenerate corpus: keep the typed empty frame
        return spark.createDataFrame(
            [], "merge_rank long, a string, b string, freq long"
        )
    return PU.inline_rows(
        spark,
        merges,
        [("merge_rank", "long"), ("a", "string"), ("b", "string"),
         ("freq", "long")],
    )


def _bpe_train_state(
    docs: DataFrame, n_merges: int, text_col: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame, DataFrame]:
    """The shared trainer loop: returns the learned merge list, the
    final distinct-word symbol table ``(w, cnt, syms)`` — the trained
    tokenizer's full state, which :func:`bpe_encode` applies to the
    corpus without re-deriving anything — and the one cached frame the
    final table still reads, which the caller unpersists when done.
    """
    words = (
        docs.select(F.explode(TH.tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = words.select(
        "w",
        "cnt",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").alias(
            "syms"
        ),
    )
    # Lazy persist per round (round 13): the eager localCheckpoint ran
    # ONE EXTRA JOB per merge round (materialize the checkpoint, then
    # the pair-count collect) — 2x the fixed job-scheduling cost of a
    # loop whose per-round data work is tiny. A lazy persist defers
    # materialization into the SAME job as the round's collect, halving
    # the job count, and — unlike lazy_local_checkpoint, whose AQE-off
    # Dataset→RDD conversion bakes full-width shuffle partitions — it
    # keeps AQE coalescing on the vocab-sized rounds (A/B-tested: the
    # baked-RDD variant ran 32-task rounds where AQE runs 1-2 tasks).
    # Plan growth stays LINEAR (not labelprop's 2^rounds): each round
    # references the previous frame exactly once, so the r12 nested-
    # plan pathology cannot arise here. One frame stays cached at a
    # time: a round's collect loads ``cur``, after which the frame it
    # was built from is unpersisted (its cache is no longer read). The
    # final fold is left unpersisted — the caller reads it at most once.
    cur = cached = vocab.persist()
    merges: list[tuple[int, str, str, int]] = []
    init = F.expr("cast(array() as array<string>)")

    def make_step(a: str, b: str, merged: str):
        def step(acc, x):
            hit = (
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b))
            )
            return F.when(
                hit,
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(F.lit(merged)),
                ),
            ).otherwise(F.concat(acc, F.array(x)))

        return step

    while len(merges) < n_merges:
        pairs = (
            cur.filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms)-2),"
                        " i -> struct(syms[i] as a, syms[i+1] as b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("freq"))
        )
        # One driver read per round; it also loads ``cur``'s cache.
        top = pairs.orderBy(F.col("freq").desc(), "a", "b").limit(1).collect()
        if cached is not cur:
            cached.unpersist()
            cached = cur
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((len(merges), a, b, int(top[0]["freq"])))
        cur = cur.withColumn("syms", F.aggregate("syms", init, make_step(a, b, a + b)))
        if len(merges) < n_merges:
            cur = cur.persist()
    return merges, cur, cached


def bpe_encode(
    docs: DataFrame,
    n_merges: int = BPE_TRAIN_MERGES,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply the trained BPE tokenizer to the corpus — the other half
    of the tokenizer story (:func:`bpe_train` learns the merges; this
    encodes with them) and the op a data pipeline runs over 100 TB,
    not the training.

    Scale shape: the merge folds run over the DISTINCT-WORD table only
    (|vocab| rows — encoding is a pure function of the word, so
    encoding the corpus directly would redo identical folds billions
    of times); the corpus then pays one explode + one hash join
    against the encoded vocab (broadcastable — a vocab is MBs) + one
    map-side-combined groupBy(doc). Per-document counts are all
    integers; ``compression_ppm`` = encoded symbols per million input
    characters, the number tokenizer evaluations report.

    Docs that tokenize to nothing carry no encodable content and are
    excluded (same inner semantics as ``unigram_logprob``).

    Returns ``(doc_id, n_words, n_chars, n_bpe_tokens,
    compression_ppm)``.
    """
    _, final_vocab, _ = _bpe_train_state(docs, n_merges, text_col)
    enc = final_vocab.select("w", F.size("syms").alias("n_sym"))
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(TH.tokens(F.col(text_col))).alias("w"),
    ).filter(F.length("w") > 0)
    return (
        tok.join(F.broadcast(enc), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
            F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars",
            "n_bpe_tokens",
            F.expr("(1000000 * n_bpe_tokens) div n_chars").alias(
                "compression_ppm"
            ),
        )
    )


def vocab_growth(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative distinct terms vs
    cumulative tokens in ``doc_id`` ingestion order — the corpus-health
    curve that flattens early when a crawl collapses into template spam
    and keeps climbing for genuinely diverse data.

    Exact and distributed: each term attributes to the FIRST document
    containing it (groupBy(term) -> min(doc_id) — the only corpus-size
    shuffle), new-term counts and token counts reduce to the doc grain,
    and the two running sums are windows over the |docs|-row aggregate,
    never raw tokens.

    Returns ``(doc_id, n_tokens, n_new_terms, cum_tokens, cum_vocab)``.
    """
    from pyspark.sql import Window

    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(TH.tokens(F.col(text_col))).alias("t")
    )
    first_seen = (
        tok.groupBy("t")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_new_terms"))
    )
    per_doc = tok.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    run = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_doc.join(first_seen, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_new_terms", F.lit(0)).cast("long").alias("n_new_terms"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(run).cast("long"))
        .withColumn("cum_vocab", F.sum("n_new_terms").over(run).cast("long"))
    )


# ---------------------------------------------------------------------------
# Round-5 additions: winnowing fingerprints + cross-doc repeated spans
# ---------------------------------------------------------------------------

WINNOW_K = 4  # tokens per k-gram
WINNOW_W = 5  # k-grams per winnowing window


def _ordered_kgram_hashes(
    docs: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(doc_id, kh): the IN-ORDER k-gram rolling hashes of each doc
    (positions kept, duplicates kept — unlike the distinct shingle sets
    the Jaccard family uses). Two projections on purpose: the
    token-hash array must be a stored column before the sliding-window
    combine indexes into it (texthash.shingle_hashes_from's warning).
    """
    th = docs.select(
        F.col(id_col).alias("doc_id"),
        TH.token_hashes(TH.tokens(F.col(text_col))).alias("_th"),
    )
    idx = F.sequence(
        F.lit(1), F.greatest(F.size(F.col("_th")) - (k - 1), F.lit(1))
    )

    def combine(i):
        # try_element_at: docs shorter than k tokens zero-pad (NULL →
        # 0) instead of raising INVALID_ARRAY_INDEX under ANSI mode
        # (plain element_at crashed 1-token docs — caught by
        # test_property_span_scrub_output_is_subsequence).
        acc = F.coalesce(F.try_element_at(F.col("_th"), i), F.lit(0))
        for j in range(1, k):
            nxt = F.coalesce(F.try_element_at(F.col("_th"), i + j), F.lit(0))
            acc = (acc * TH.DOC_B + nxt) % TH.HASH_P
        return acc

    return th.select("doc_id", F.transform(idx, combine).alias("kh"))


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): slide a ``w``-wide window over
    the in-order k-gram hashes and keep each window's MINIMUM; the
    distinct kept values are the doc's fingerprints.

    The winnowing guarantee: any substring match of at least
    ``w + k - 1`` tokens (8 here) between two documents produces at
    least one SHARED fingerprint — so fingerprint postings detect
    partial overlap/excerpting that whole-doc hashes miss, at a
    guaranteed density of ~2/(w+1) of positions instead of every
    k-gram. Selecting the min VALUE per window (not the canonical
    rightmost-position rule) keeps the same guarantee — the shared
    window selects the same value on both docs — and makes the
    operator order-insensitive within the window, hence exactly
    SQL-expressible on both engines.

    Pure narrow map per doc (two array transforms + explode); the only
    shuffle is the final distinct postings output. Returns
    ``(doc_id, fp_hash)`` long form.
    """
    kg = _ordered_kgram_hashes(docs, text_col, id_col, k)
    widx = F.sequence(
        F.lit(1), F.greatest(F.size(F.col("kh")) - (w - 1), F.lit(1))
    )
    mins = F.transform(widx, lambda i: F.array_min(F.slice(F.col("kh"), i, w)))
    return (
        kg.select("doc_id", F.explode(F.array_distinct(mins)).alias("fp_hash"))
    )


WINNOW_MIN_SHARED = 2


def winnow_matches(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints —
    the plagiarism/excerpt detector built on :func:`winnow_fingerprints`.

    Postings self-join on the fingerprint hash (the shingle-Jaccard
    plan shape: only pairs sharing a fingerprint are ever materialized,
    shuffle ∝ postings), then a count-HAVING per pair. Returns
    ``(doc_a, doc_b, n_shared)``.
    """
    fp = winnow_fingerprints(docs, text_col, id_col, k, w)
    a = fp.select(F.col("doc_id").alias("doc_a"), "fp_hash")
    b = fp.select(F.col("doc_id").alias("doc_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


SPAN_N = 8  # tokens per span-gram
SPAN_MIN_DOCS = 2


def repeated_ngram_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SPAN_N,
    min_docs: int = SPAN_MIN_DOCS,
) -> DataFrame:
    """Cross-document repeated n-gram spans — the memorization /
    boilerplate signal from Lee et al. 2022 (arXiv:2107.06499,
    "Deduplicating Training Data Makes Language Models Better"): long
    token spans appearing in more than one document are exactly what a
    model memorizes verbatim, and substring-level dedup targets them.

    This is the counting pass: in-order n-gram hashes (duplicates
    kept), exploded to postings, aggregated per gram — shuffle ∝
    total n-grams with map-side partial aggregation; the ``min_docs``
    HAVING cut keeps only cross-doc spans. The full suffix-array
    machinery of the paper is I/O-equivalent to this posting aggregate
    for fixed n.

    Returns ``(gram_hash, n_docs, n_occurrences)``.
    """
    kg = _ordered_kgram_hashes(docs, text_col, id_col, n)
    # docs shorter than n tokens emit one zero-padded gram each — two
    # such docs collide only if their full text matches, which IS a
    # repeated span; no special-casing needed on either engine.
    posts = kg.select("doc_id", F.explode("kh").alias("gram_hash"))
    return (
        posts.groupBy("gram_hash")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def repeated_span_coverage(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SPAN_N,
    min_docs: int = SPAN_MIN_DOCS,
) -> DataFrame:
    """Per-document coverage by cross-document repeated spans — the
    accounting half of substring-level dedup (Lee et al. 2022): once
    :func:`repeated_ngram_spans` identifies the corpus-frequent
    n-grams, this measures HOW MUCH of each document those spans cover
    (a token position counts if any frequent gram overlaps it), which
    is the per-doc "memorization mass" a span-scrubber would remove.

    Plan: in-order gram postings (positions kept, persisted once — the
    frequency cut and the coverage pass both read them) hash-join the
    frequent-gram set; coverage is then an INTERVAL UNION per document
    — a running-max window over hit start positions, each hit
    contributing ``max(0, end - max(start, prev_max_end + 1) + 1)``
    tokens — never a per-position explode. A first cut exploded every
    covered position and global-distinct'ed them; on a corpus where
    frequent grams are dense (this synthetic vocab — or any real
    boilerplate-heavy crawl) that multiplies the hit stream ×n and
    shuffles it twice, measured 40 s at sf0.1 vs ~3 s for the interval
    form. Work ∝ hit positions; one doc-keyed exchange feeds both the
    window and the final aggregate. All-integer output (ppm of the
    token count).

    Returns ``(doc_id, n_tokens, n_covered, covered_ppm)`` for every
    document, zero-coverage rows included.
    """
    from pyspark.sql import Window

    kg = _ordered_kgram_hashes(docs, text_col, id_col, n)
    sizes = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(TH.tokens(F.col(text_col))).alias("n_tokens"),
    )
    # One gram stream feeds BOTH the df>=min_docs cut and the coverage
    # join (persist: the two consumers would otherwise recompute the
    # full token-hash + k-gram scan twice).
    posts = kg.select(
        "doc_id", F.posexplode("kh").alias("p0", "gram_hash")
    ).persist()
    freq = (
        posts.groupBy("gram_hash")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram_hash")
    )
    hit = posts.join(freq, "gram_hash").join(sizes, "doc_id")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = hit.select(
        "doc_id",
        (F.col("p0") + 1).alias("start"),
        F.least(F.col("p0") + n, F.col("n_tokens")).alias("end"),
    ).withColumn("prev_end", F.max("end").over(w))
    covered = (
        spans.select(
            "doc_id",
            F.greatest(
                F.lit(0),
                F.col("end")
                - F.greatest(
                    F.col("start"), F.coalesce(F.col("prev_end"), F.lit(0)) + 1
                )
                + 1,
            ).alias("contrib"),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("n_covered"))
    )
    return sizes.join(covered, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce("n_covered", F.lit(0)).cast("long").alias("n_covered"),
        F.expr(
            "(coalesce(n_covered, 0) * CAST(1000000 AS BIGINT)) div n_tokens"
        ).alias("covered_ppm"),
    )


def perplexity_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020, arXiv:1911.00359): score every document with the corpus' own
    unigram LM, then split each language into equal thirds by score —
    ``head`` (most fluent), ``middle``, ``tail`` (likely gibberish /
    boilerplate soup). The bucket label is the knob curation pipelines
    filter or re-weight on.

    All ranking inputs are integers: the average log-probability is
    snapped to the 1e-6 grid AS AN INTEGER (``lp_micro``), so the
    per-language total order ``(lp_micro DESC, doc_id)`` — and with it
    every bucket boundary — is bit-identical across engines (the same
    argument as ``length_percentiles``; an interpolated percentile
    split would reintroduce double divergence).

    Plan shape: the unigram-LM scoring is the ``unigram_logprob``
    pipeline (shuffle ∝ tokens, map-side combined; corpus total as a
    broadcast scalar). Bucketing adds one shuffle on the language key
    for the rank window. Each language's rank sort is a single-reducer
    sort at extreme scale — the documented trade, same as
    ``length_percentiles``: at 100 TB swap the exact rank for
    approx-percentile thresholds and keep the comparison-only bucket
    assignment.

    Docs that tokenize to nothing carry no LM evidence and are
    excluded (identical inner-join semantics to ``unigram_logprob``).

    Returns ``(doc_id, lang, n_tokens, lp_micro, ppl_bucket)``.
    """
    from pyspark.sql import Window

    term_rows = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(TH.tokens(F.col(text_col))).alias("term"),
    )
    ctf = term_rows.groupBy("term").agg(F.count("*").alias("ctf"))
    total = term_rows.agg(F.count("*").alias("total_tokens"))
    perdoc = (
        term_rows.join(ctf, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("ctf") / F.col("total_tokens"))) * F.lit(1e6)
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang")
    ).join(perdoc, "doc_id")
    w = Window.partitionBy("lang").orderBy(F.desc("lp_micro"), "doc_id")
    ranked = base.withColumn(
        "rn", F.row_number().over(w).cast("long")
    ).withColumn("n", F.count("*").over(Window.partitionBy("lang")))
    return ranked.select(
        "doc_id",
        "lang",
        "n_tokens",
        "lp_micro",
        F.when(F.col("rn") * 3 <= F.col("n"), F.lit("head"))
        .when(F.col("rn") * 3 <= 2 * F.col("n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN_CENTI = 300   # mean word length >= 3.00 chars
GOPHER_MAX_MEAN_LEN_CENTI = 1000  # mean word length <= 10.00 chars
GOPHER_MAX_DUP3_PPM = 200_000     # <= 20% repeated word 3-grams
GOPHER_MAX_TOP2_PPM = 200_000     # top 2-gram <= 20% of all 2-grams
# Gopher's English rule wants >= 2 of a curated stopword list; our
# profile lists 8 words and the driver corpus is tech-term soup where
# even English docs carry only "the" — threshold 1 keeps the rule's
# mechanics (documents with zero stopword evidence drop) while leaving
# the gate non-vacuous on this corpus (Gopher-on-web would use 2+).
GOPHER_MIN_DISTINCT_STOPWORDS = 1


def gopher_filter(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style composite document filter (Rae et al. 2021,
    arXiv:2112.11446 §A1.1): the five classic rule families — word
    count bounds, mean word length bounds, repeated-3-gram share, top
    2-gram share, and minimum distinct-stopword evidence — evaluated
    together, with the per-rule signals exposed so a curation run can
    audit WHY a document dropped, not just that it did.

    Every signal is an integer (centi-chars, ppm, counts) and the
    verdict is pure integer comparisons — zero doubles, so the whole
    rule table is bit-identical across engines. Plan: one narrow map
    over the token array for counts/length/stopwords/3-gram stats, one
    explode + map-side-combined 2-gram groupBy (shuffle ∝ 2-grams),
    one join back on doc_id. Docs too short for any 2-gram keep a row
    (left join, 0 share).

    Returns ``(doc_id, n_tokens, mean_len_centi, dup_3gram_ppm,
    top_2gram_ppm, n_stopwords, rules_failed, verdict)``.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), TH.tokens(F.col(text_col)).alias("_t")
    )
    en = STOPWORDS["en"]
    base = (
        toks.select(
            "doc_id",
            F.size("_t").cast("long").alias("n_tokens"),
            F.expr(
                "aggregate(_t, CAST(0 AS BIGINT), (a, x) -> a + length(x))"
            ).alias("sum_len"),
            F.size(
                F.array_intersect(F.col("_t"), F.array(*[F.lit(w) for w in en]))
            )
            .cast("long")
            .alias("n_stopwords"),
            TH.shingles(F.col("_t"), 3).alias("_g3"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr(
                "CASE WHEN n_tokens > 0 THEN (100 * sum_len) div n_tokens"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("mean_len_centi"),
            "n_stopwords",
            F.size("_g3").cast("long").alias("n3"),
            F.size(F.array_distinct("_g3")).cast("long").alias("d3"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "mean_len_centi",
            "n_stopwords",
            F.expr(
                "CASE WHEN n3 > 0 THEN ((n3 - d3) * CAST(1000000 AS BIGINT))"
                " div n3 ELSE CAST(0 AS BIGINT) END"
            ).alias("dup_3gram_ppm"),
        )
    )
    g2 = (
        toks.select("doc_id", F.explode(TH.shingles(F.col("_t"), 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
        .select(
            "doc_id",
            F.expr("(mx * CAST(1000000 AS BIGINT)) div tot").alias(
                "top_2gram_ppm"
            ),
        )
    )
    joined = base.join(g2, "doc_id", "left").withColumn(
        "top_2gram_ppm", F.coalesce("top_2gram_ppm", F.lit(0).cast("long"))
    )
    fails = (
        (
            (F.col("n_tokens") < GOPHER_MIN_WORDS)
            | (F.col("n_tokens") > GOPHER_MAX_WORDS)
        ).cast("long")
        + (
            (F.col("mean_len_centi") < GOPHER_MIN_MEAN_LEN_CENTI)
            | (F.col("mean_len_centi") > GOPHER_MAX_MEAN_LEN_CENTI)
        ).cast("long")
        + (F.col("dup_3gram_ppm") > GOPHER_MAX_DUP3_PPM).cast("long")
        + (F.col("top_2gram_ppm") > GOPHER_MAX_TOP2_PPM).cast("long")
        + (F.col("n_stopwords") < GOPHER_MIN_DISTINCT_STOPWORDS).cast("long")
    )
    return joined.select(
        "doc_id",
        "n_tokens",
        "mean_len_centi",
        "dup_3gram_ppm",
        "top_2gram_ppm",
        "n_stopwords",
        fails.alias("rules_failed"),
        F.when(fails == 0, F.lit("keep")).otherwise(F.lit("drop")).alias(
            "verdict"
        ),
    )


def tokenizer_fertility(
    docs: DataFrame,
    n_merges: int = BPE_TRAIN_MERGES,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-language tokenizer fertility report (encoded symbols per
    word, ×1000) plus characters-per-symbol — THE cross-lingual equity
    metric for a tokenizer: languages the merge table under-serves pay
    more tokens per word, i.e. more compute per sentence. Builds on
    :func:`bpe_encode` (same trained merges), adds one join to the
    language label and a |langs|-row groupBy. All-integer outputs.

    Returns ``(lang, n_docs, n_words, n_bpe_tokens, fertility_milli,
    chars_per_token_centi)``.
    """
    enc = bpe_encode(docs, n_merges, text_col, id_col)
    labeled = docs.select(
        F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang")
    ).join(enc, "doc_id")
    return (
        labeled.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_bpe_tokens",
            F.expr("(1000 * n_bpe_tokens) div n_words").alias(
                "fertility_milli"
            ),
            F.expr("(100 * sum_chars) div n_bpe_tokens").alias(
                "chars_per_token_centi"
            ),
        )
    )


ZIPF_TOP_K = 100


def zipf_slope(
    docs: DataFrame,
    top_k: int = ZIPF_TOP_K,
    text_col: str = "text",
) -> DataFrame:
    """Zipf-law exponent of the corpus: the least-squares slope of
    ``ln(frequency)`` on ``ln(rank)`` over the top-``top_k`` terms —
    natural language sits near −1, and a corpus that drifts far from
    it is telling you something is wrong upstream (template floods
    flatten the curve; aggressive dedup of common phrases steepens it).
    The one-number distributional audit next to
    :func:`vocab_growth`'s Heaps curve.

    Determinism discipline: both log coordinates are quantized to the
    integer 1e-6 grid FIRST, then every regression moment (Σx, Σy,
    Σxy, Σx²) is an exact BIGINT sum — the closed-form slope is a
    ratio of integers, so no double accumulation ever crosses the
    engine boundary. Plan: term-count aggregate (shuffle ∝ distinct
    terms), a distributed ``ORDER BY … LIMIT top_k`` (TakeOrdered,
    never a global window), then a ``top_k``-row finish.

    Returns one row: ``(n_terms, slope_milli)``.
    """
    from pyspark.sql import Window

    term_rows = docs.select(
        F.explode(TH.tokens(F.col(text_col))).alias("term")
    )
    ctf = term_rows.groupBy("term").agg(F.count("*").alias("ctf"))
    top = ctf.orderBy(F.desc("ctf"), "term").limit(top_k)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("ctf"), "term")),
    ).select(
        F.round(F.log(F.col("rank").cast("double")) * 1e6)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("ctf").cast("double")) * 1e6)
        .cast("long")
        .alias("y"),
    )
    moments = ranked.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # slope = (n*sxy - sx*sy) / (n*sxx - sx^2); numerator is negative
    # for any Zipf-ish corpus — Spark div truncates toward zero, so the
    # oracle mirrors truncation explicitly
    return moments.select(
        "n_terms",
        F.expr(
            "CASE WHEN n_terms * sxx - sx * sx > 0 THEN"
            " (1000 * (n_terms * sxy - sx * sy))"
            " div (n_terms * sxx - sx * sx) END"
        ).alias("slope_milli"),
    )


def span_scrub(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = SPAN_N,
    min_docs: int = SPAN_MIN_DOCS,
) -> DataFrame:
    """The SCRUB stage of substring-level dedup (Lee et al. 2022,
    arXiv:2107.06499) — completes the pipeline whose detect stage is
    :func:`repeated_ngram_spans` and whose accounting stage is
    :func:`repeated_span_coverage`: rewrite every document with the
    tokens covered by cross-document repeated spans REMOVED, returning
    the cleaned text a training run would actually consume.

    Plan: the frequent-gram hits become per-doc intervals, the same
    running-max window as the coverage op MERGES overlapping intervals
    into a disjoint set (one doc-keyed sort shared by both windows),
    and the disjoint set collects into a per-doc array — so the final
    token filter is an in-row ``filter(toks, (tok, i) -> NOT
    exists(intervals, …))`` over a SMALL disjoint list, never a
    per-position explode of the hit stream (the 40 s trap the coverage
    docstring documents) and never per-token × per-hit work. Shuffles:
    gram postings aggregate + one doc-keyed exchange feeding windows
    and the interval collect.

    Returns ``(doc_id, n_tokens, n_kept, scrubbed_text)`` for every
    document; ``n_tokens − n_kept`` reconciles with the coverage op's
    ``n_covered`` (pinned by test).
    """
    from pyspark.sql import Window

    kg = _ordered_kgram_hashes(docs, text_col, id_col, n)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        TH.tokens(F.col(text_col)).alias("_toks"),
    ).withColumn("n_tokens", F.size("_toks").cast("long"))
    posts = kg.select(
        "doc_id", F.posexplode("kh").alias("p0", "gram_hash")
    ).persist()
    freq = (
        posts.groupBy("gram_hash")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram_hash")
    )
    spans = (
        posts.join(freq, "gram_hash")
        .join(base.select("doc_id", "n_tokens"), "doc_id")
        .select(
            "doc_id",
            (F.col("p0") + 1).cast("long").alias("start"),
            F.least(F.col("p0") + n, F.col("n_tokens")).cast("long").alias("end"),
        )
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grouped = (
        spans.withColumn("prev_end", F.max("end").over(w_prev))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev_end").isNull()
                | (F.col("start") > F.col("prev_end")),
                1,
            )
            .otherwise(0)
            .cast("long"),
        )
        .withColumn("grp", F.sum("is_new").over(w_cum))
    )
    merged = grouped.groupBy("doc_id", "grp").agg(
        F.min("start").alias("s"), F.max("end").alias("e")
    )
    ivs = merged.groupBy("doc_id").agg(
        F.collect_list(F.struct(F.col("s"), F.col("e"))).alias("_ivs")
    )
    joined = base.join(ivs, "doc_id", "left").withColumn(
        "_ivs",
        F.coalesce(
            F.col("_ivs"), F.expr("CAST(array() AS array<struct<s:bigint,e:bigint>>)")
        ),
    )
    kept = F.filter(
        F.col("_toks"),
        lambda tok, i: ~F.exists(
            F.col("_ivs"),
            lambda v: ((i + 1) >= v["s"]) & ((i + 1) <= v["e"]),
        ),
    )
    return joined.select(
        "doc_id",
        "n_tokens",
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, " ").alias("scrubbed_text"),
    )


def source_kl(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source unigram KL divergence from the corpus distribution —
    the mixing diagnostic that says HOW DIFFERENT each source's
    language is from the blend (a near-zero source adds nothing a
    temperature-weighted mix doesn't already have; a high-KL source is
    the one whose weight actually changes the model's input
    distribution).

    ``KL(source ‖ corpus) = Σ_t p_s(t)·ln(p_s(t)/p_c(t))`` needs no
    smoothing: every source term is a corpus term (support ⊆ support),
    and terms absent from the source contribute exactly 0 — so the sum
    runs over PRESENT (source, term) pairs only.

    Integer-exact accumulation (the ``zipf_slope`` discipline): each
    term's contribution is a per-row double expression — bit-identical
    across engines — quantized to integer MICRO-NATS before the sum,
    so the per-source total is an order-independent BIGINT, never an
    accumulation-order-dependent double. Plan: one explode →
    partial-agged groupBy(source, term) (shuffle ∝ distinct pairs),
    corpus term counts derived FROM that aggregate (no second scan),
    per-source and corpus totals as broadcast scalars.

    Returns ``(source, n_terms, n_tokens, kl_micro)`` — kl_micro in
    1e-6 nats, sorted-insensitive.
    """
    term_rows = docs.select(
        F.col(source_col).alias("source"),
        F.explode(TH.tokens(F.col(text_col))).alias("term"),
    )
    st = term_rows.groupBy("source", "term").agg(F.count("*").alias("cnt_st"))
    ct = st.groupBy("term").agg(F.sum("cnt_st").alias("cnt_t"))
    tot_s = st.groupBy("source").agg(F.sum("cnt_st").alias("tot_s"))
    tot_c = ct.agg(F.sum("cnt_t").alias("tot_c"))
    contrib = (
        st.join(ct, "term")
        .join(tot_s, "source")
        .crossJoin(F.broadcast(tot_c))
        .select(
            "source",
            "tot_s",
            # pure double ratios (never cnt*tot BIGINT products, which
            # overflow at 100 TB token counts); identical expression
            # tree in the oracle, so per-row bit-identical.
            F.round(
                (F.col("cnt_st") / F.col("tot_s"))
                * F.log(
                    (F.col("cnt_st") / F.col("tot_s"))
                    / (F.col("cnt_t") / F.col("tot_c"))
                )
                * F.lit(1e6)
            )
            .cast("long")
            .alias("c_micro"),
        )
    )
    return contrib.groupBy("source").agg(
        F.count("*").cast("long").alias("n_terms"),
        F.first("tot_s").cast("long").alias("n_tokens"),
        F.sum("c_micro").cast("long").alias("kl_micro"),
    )


def vocab_novelty(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Marginal vocabulary contribution per source under the greedy
    largest-first ordering — the data-mixing diagnostic behind "what
    does adding this source actually BUY": sources are ranked by token
    count (descending, the order a curator adds them), every distinct
    term is attributed to the FIRST source containing it, and each
    source reports the new-term count plus the cumulative share of the
    corpus vocabulary covered once it joins the mix. A source whose
    n_new_terms is near zero is lexically redundant with the bigger
    sources regardless of its size — prune or downweight it (the
    greedy step of facility-location/coverage-based source selection).

    Plan at 100 TB: one explode -> distinct (source, term) pairs
    (shuffle ∝ pairs), a per-term MIN of the source rank (shuffle ∝
    vocabulary, map-side partial agg), and every window runs on the
    |sources|-row frame. Integer end-to-end.

    Returns ``(src_rank, source, n_tokens, n_new_terms, cum_terms,
    vocab_coverage_ppm)``.
    """
    from pyspark.sql import Window

    term_rows = docs.select(
        F.col(source_col).alias("source"),
        F.explode(TH.tokens(F.col(text_col))).alias("term"),
    )
    sizes = term_rows.groupBy("source").agg(
        F.count("*").cast("long").alias("n_tokens")
    )
    w_rank = Window.orderBy(F.col("n_tokens").desc(), F.col("source"))
    ranks = sizes.withColumn(
        "src_rank", F.row_number().over(w_rank).cast("long")
    )
    st = term_rows.distinct()
    first = (
        st.join(F.broadcast(ranks.select("source", "src_rank")), "source")
        .groupBy("term")
        .agg(F.min("src_rank").alias("first_rank"))
    )
    novelty = first.groupBy("first_rank").agg(
        F.count("*").cast("long").alias("n_new_terms")
    )
    total = first.agg(F.count("*").alias("vocab_total"))
    w_cum = Window.orderBy("src_rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ranks.join(
            novelty, ranks.src_rank == novelty.first_rank, "left"
        )
        .select(
            "src_rank",
            "source",
            "n_tokens",
            F.coalesce(F.col("n_new_terms"), F.lit(0).cast("long")).alias(
                "n_new_terms"
            ),
        )
        .withColumn("cum_terms", F.sum("n_new_terms").over(w_cum).cast("long"))
        .crossJoin(F.broadcast(total))
        .select(
            "src_rank",
            "source",
            "n_tokens",
            "n_new_terms",
            "cum_terms",
            F.expr(
                "(cum_terms * CAST(1000000 AS BIGINT)) div vocab_total"
            ).alias("vocab_coverage_ppm"),
        )
    )


PMI_MIN_PAIR = 5
PMI_TOP_K = 50


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = PMI_MIN_PAIR,
    top_k: int = PMI_TOP_K,
) -> DataFrame:
    """Top-k adjacent-bigram collocations by pointwise mutual
    information — the phrase-vocabulary pass of word2vec-style
    training prep (Mikolov et al. 2013 "Distributed Representations",
    §4 phrase learning): pairs that co-occur far above chance
    (``ln p(ab) − ln p(a) − ln p(b)``) become merge candidates.
    Distinct from ``bigram_logprob``: that scores a language MODEL's
    transition probabilities; PMI measures association strength
    normalized by both unigrams.

    Determinism: every count is an exact BIGINT; the score is computed
    as ``ln(c_ab) + ln(N) − ln(c_a) − ln(c_b)`` — four ln calls over
    doubles derived from the same integers, combined in one fixed
    left-to-right order, identical across engines (the same ln parity
    ``zipf_slope`` has held driver-green since r7) — then snapped to
    the integer micro grid. The log-sum form also never materializes
    ``c_ab·N``, which would overflow int64 on a 10¹²-token corpus.

    Scale: pair derivation is a narrow map (no self-join — adjacent
    pairs come from one pass over each token array); pair counts are
    one shuffle with map-side partials; the ``min_count`` filter
    shrinks the scored side before the two vocabulary joins (AQE
    broadcasts the filtered side); N is a broadcast scalar rejoin and
    the top-k is a TakeOrdered, not a global sort.
    """
    toks = docs.select(TH.tokens(F.col(text_col)).alias("t"))
    pairs = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> struct(element_at(t, i) AS w1, "
                    "element_at(t, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    pc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    uni = toks.select(F.explode("t").alias("term"))
    uni_c = uni.groupBy("term").agg(F.count("*").alias("c"))
    n_tot = uni.agg(F.count("*").alias("n"))
    scored = (
        pc.join(uni_c.selectExpr("term AS w1", "c AS c1"), "w1")
        .join(uni_c.selectExpr("term AS w2", "c AS c2"), "w2")
        .crossJoin(F.broadcast(n_tot))
    )
    pmi = (
        F.log(F.col("n_pair").cast("double"))
        + F.log(F.col("n").cast("double"))
        - F.log(F.col("c1").cast("double"))
        - F.log(F.col("c2").cast("double"))
    )
    return (
        scored.select(
            "w1",
            "w2",
            "n_pair",
            F.round(pmi * F.lit(1e6)).cast("long").alias("pmi_micro"),
        )
        .orderBy(F.col("pmi_micro").desc(), "w1", "w2")
        .limit(top_k)
    )
