"""Corpus-curation operators for LLM training-data pipelines.

The operators a training-data team runs *after* analysis/dedup to cut
an actual training corpus, all expressed as narrow map-side plans (the
only shuffle in the composed pipeline is the exact-dup window):

- ``stratified_sample`` : deterministic hash-based sampling with a
                          per-stratum keep rate (rebalance languages /
                          sources without randomness — the same doc is
                          kept or dropped on every run and every
                          engine).
- ``pii_scrub``         : regex redaction of email addresses and phone
                          numbers with match counts (the audit trail).
- ``curation_pipeline`` : the composed cut — language ID, quality
                          gating, exact-dup canonicalization, and
                          stratified sampling in one plan.

Determinism notes: sampling decisions come from the md5-derived
arithmetic hash in ``functions.texthash`` (bit-identical in Spark and
DuckDB); regex patterns are restricted to the syntax subset Java regex
and RE2 interpret identically (character classes and bounded
quantifiers — no backreferences, no lookaround).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import texthash as TH
from . import dedup as DD
from . import text_analysis as TA

# Per-stratum keep rates in 1/SAMPLE_MOD units. The default rebalances
# the synthetic corpus: English is ~2x over-represented, so it keeps
# 20% while the rest keep 50%; undetermined-language docs are dropped.
SAMPLE_MOD = 1000
STRATUM_PERMILLE = {"de": 500, "en": 200, "es": 500, "fr": 500, "zh": 500}

# RE2-safe (and Java-regex-identical) PII patterns.
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
PHONE_PATTERN = "[+]?[0-9][0-9 ()./-]{7,}[0-9]"


def sample_hash(id_col: str = "doc_id") -> F.Column:
    """31-bit deterministic sampling hash of a document id.

    Salted with a fixed prefix so the sampling decision is independent
    of any other hash of the same id used elsewhere in the pipeline.
    """
    return TH.token_hash(F.concat(F.lit("s:"), F.col(id_col).cast("string")))


def _rate_for(stratum: F.Column) -> F.Column:
    """Per-stratum keep rate via a constant-folded literal map; strata
    without an entry keep nothing."""
    pairs: list[F.Column] = []
    for k in sorted(STRATUM_PERMILLE):
        pairs += [F.lit(k), F.lit(STRATUM_PERMILLE[k])]
    return F.coalesce(F.element_at(F.create_map(*pairs), stratum), F.lit(0))


def stratified_sample(
    docs: DataFrame, stratum_col: str = "lang", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic per-stratum sample: keep a doc iff its sampling
    hash falls under the stratum's keep rate.

    A pure map — no shuffle, no RNG state, no driver coordination —
    so it runs at any scale and reproduces exactly across engines and
    reruns. (A quota-exact variant would rank within each stratum; that
    windows on a handful of stratum keys and does not scale, which is
    why rate-based is the default.)
    """
    keep = (sample_hash(id_col) % SAMPLE_MOD) < _rate_for(F.col(stratum_col))
    return docs.filter(keep).select(
        F.col(id_col).alias("doc_id"),
        F.col(stratum_col).alias("stratum"),
        (sample_hash(id_col) % SAMPLE_MOD).alias("sample_bucket"),
    )



# Quota-exact sampling defaults: documents per stratum.
STRATUM_QUOTAS = {"de": 30, "en": 40, "es": 30, "fr": 30, "zh": 30}


def stratified_sample_exact(
    docs: DataFrame,
    quotas: dict[str, int] | None = None,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quota-EXACT stratified sample: precisely ``quotas[stratum]``
    documents per stratum (budgeted training mixes are specified this
    way — "exactly 100k docs per language"), chosen deterministically
    as the lowest sampling-hash documents of each stratum.

    The rank window shuffles by stratum, so each stratum lands on one
    reducer: correct and fast when strata are few and bounded
    (languages, source families — the only keys a mix is budgeted by).
    For rate-based thinning of huge/unbounded strata use
    ``stratified_sample``, which is a pure map. Ties cannot happen
    (hash then doc_id orders totally), so the sample is replay- and
    engine-stable.
    """
    from pyspark.sql import Window

    quotas = quotas if quotas is not None else STRATUM_QUOTAS
    pairs: list[F.Column] = []
    for k in sorted(quotas):
        pairs += [F.lit(k), F.lit(quotas[k])]
    quota = F.coalesce(
        F.element_at(F.create_map(*pairs), F.col("stratum")), F.lit(0)
    )
    w = Window.partitionBy("stratum").orderBy("sample_bucket", "doc_id")
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(stratum_col).alias("stratum"),
            (sample_hash(id_col) % SAMPLE_MOD).alias("sample_bucket"),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= quota)
    )


def pii_scrub(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Redact emails/phone numbers; report per-doc match counts.

    Emails are scrubbed before phones so digit runs inside an address
    can't double-count. Narrow map over the text column — the scrubbed
    corpus streams through without any shuffle.
    """
    text = F.col(text_col)
    no_email = F.regexp_replace(text, EMAIL_PATTERN, "[EMAIL]")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.expr(f"regexp_extract_all({text_col}, '{EMAIL_PATTERN}', 0)"))
        .cast("long")
        .alias("n_emails"),
        F.size(
            F.expr(
                f"regexp_extract_all(regexp_replace({text_col}, "
                f"'{EMAIL_PATTERN}', '[EMAIL]'), '{PHONE_PATTERN}', 0)"
            )
        )
        .cast("long")
        .alias("n_phones"),
        F.regexp_replace(no_email, PHONE_PATTERN, "[PHONE]").alias("scrubbed_text"),
    )


def write_corpus(
    docs: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("lang",),
    mode: str = "overwrite",
) -> None:
    """Write a (curated) corpus as parquet partitioned by its routing
    columns — the documents-domain twin of the event lake's
    status/loc/date layout.

    Training jobs consume corpora sliced by language/source; making the
    slice a partition *value* gives every downstream reader static
    partition pruning for free (a `lang='en'` read never opens other
    languages' files). At 100 TB, partition columns must be
    low-cardinality routing keys (language, source family, date) —
    never document ids.
    """
    docs.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def _source_weights(
    docs: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source token totals joined with the corpus totals — the
    shared integer base of ``source_mix`` and ``rebalanced_sample``.

    Plan: one scan -> partial-agged ``groupBy(source)`` (shuffle is one
    row per source) -> corpus totals joined back as a broadcast scalar.
    """
    per_source = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(TH.tokens(F.col(text_col)))).alias("n_tokens"),
    )
    # Corpus totals as an unpartitioned window over the per-source
    # frame, not a crossJoin(broadcast(agg)) — same values, one plan
    # branch instead of an aggregate chain + broadcast build per scalar
    # (round 13; see doremi_reweight). |sources| is domain count, so
    # the single-partition window is bounded at any corpus size.
    from pyspark.sql import Window

    _all = Window.partitionBy()
    return per_source.withColumn(
        "total_tokens", F.sum("n_tokens").over(_all)
    ).withColumn("n_sources", F.count("*").over(_all))


def source_mix(docs: DataFrame, text_col: str = "text", source_col: str = "source") -> DataFrame:
    """Per-source corpus composition + rebalancing weights.

    Training mixes are budgeted in *tokens per source*; this computes
    each source's document count, token count, token share, and the
    deterministic sampling weight that would equalize token budgets
    across sources (``min(1, fair_share / actual_tokens)``) — feed the
    weight into ``stratified_sample``-style hash thresholds to cut the
    rebalanced corpus.

    Shares and weights are emitted as integer parts-per-million
    (``token_share_ppm``, ``rebalance_weight_ppm``) computed with pure
    BIGINT arithmetic (multiply then integral ``div``) — never as
    rounded doubles, whose half-grid ties Spark (BigDecimal HALF_UP on
    the exact decimal expansion) and other engines (scaled binary
    rounding) resolve differently. Exact for sources up to ~9.2e12
    tokens (int64 / 1e6); beyond that, widen to decimal128.
    """
    million = F.lit(1_000_000).cast("long")
    return _source_weights(docs, text_col, source_col).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("(n_tokens * CAST(1000000 AS BIGINT)) div total_tokens").alias(
            "token_share_ppm"
        ),
        F.least(
            million,
            F.expr(
                "(total_tokens * CAST(1000000 AS BIGINT)) div (n_sources * n_tokens)"
            ),
        ).alias("rebalance_weight_ppm"),
    )


def rebalanced_sample(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Apply ``source_mix``'s rebalancing weights as a deterministic
    hash-threshold sample — the full mixing loop (measure composition
    -> cut the corpus) in one plan.

    A document survives iff ``hash(doc_id) mod SAMPLE_MOD`` falls under
    its source's ``rebalance_weight * SAMPLE_MOD``, so over-represented
    sources are thinned toward the equal-token budget and
    under-represented sources (weight 1) keep everything. The weight
    table is one row per source — a broadcast join — and the decision
    itself is the same pure map as ``stratified_sample``.

    The keep test is *exact integer arithmetic*: ``bucket < SAMPLE_MOD
    * min(1, total / (n_sources * n_tokens))`` is algebraically
    ``bucket * n_sources * n_tokens < SAMPLE_MOD * total_tokens`` (the
    ``min(1, .)`` clamp is implied, since ``bucket < SAMPLE_MOD``
    already), so corpus membership never depends on a rounded double —
    a weight landing near a 1/SAMPLE_MOD grid line cannot flip a
    document in or out between engines.
    """
    weights = _source_weights(docs, text_col, source_col).select(
        F.col("source").alias("_mix_source"),
        F.col("n_tokens").alias("_mix_tokens"),
        F.col("n_sources").alias("_mix_nsrc"),
        F.col("total_tokens").alias("_mix_total"),
    )
    bucket = sample_hash(id_col) % SAMPLE_MOD
    keep = (bucket * F.col("_mix_nsrc") * F.col("_mix_tokens")) < (
        F.col("_mix_total") * F.lit(SAMPLE_MOD).cast("long")
    )
    return (
        docs.join(F.broadcast(weights), F.col(source_col) == F.col("_mix_source"))
        .filter(keep)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("source"),
            bucket.alias("sample_bucket"),
        )
    )


def boilerplate_scrub(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document boilerplate removal (the C4 rule, adapted):
    a text *segment* appearing in >= ``min_docs`` distinct documents is
    boilerplate (headers, footers, license blurbs, templated spans) and
    is cut from every document; each document is reassembled from its
    surviving segments in order.

    C4 segments on newlines; this corpus is single-line, so segments
    are fixed ``seg_tokens``-token windows — same algorithm, different
    segmenter (swap the segment expression for ``split(text, '\\n')``
    on newline-structured corpora).

    Plan shape at scale: tokenize -> posexplode segments (rows ∝
    tokens/seg_tokens) -> ``groupBy(segment)`` with a countDistinct
    partial agg (shuffle ∝ segments) -> the boilerplate set is tiny by
    construction (segments repeated across documents) so it broadcasts
    back onto the postings -> per-doc reassembly via
    ``array_sort(collect_list(struct(pos, seg)))`` (shuffle ∝ kept
    segments; position-sorted, so reassembly is deterministic). At
    production scale, group on ``md5(seg)`` to keep the frequency
    shuffle fixed-width; the reassembly join carries segment text
    either way. The broadcast hint assumes a normal corpus (boilerplate
    = the small repeated tail); on an adversarial spam-flooded corpus
    where MOST segments repeat, drop the hint and let AQE pick the join
    — the rest of the plan is shape-identical.

    Returns ``(doc_id, n_segments, n_removed, cleaned_text)``.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), TH.tokens(F.col(text_col)).alias("_t")
    )
    nseg = F.expr(f"greatest((size(_t) + {seg_tokens - 1}) div {seg_tokens}, 1)")
    seg_list = F.transform(
        F.sequence(F.lit(1).cast("long"), nseg),
        lambda i: F.array_join(
            F.slice(F.col("_t"), (i - F.lit(1)) * seg_tokens + F.lit(1), F.lit(seg_tokens)),
            " ",
        ),
    )
    segs = toks.select("doc_id", F.posexplode(seg_list).alias("pos", "seg"))
    boiler = (
        segs.groupBy("seg")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("seg", F.lit(True).alias("_is_b"))
    )
    flagged = segs.join(F.broadcast(boiler), "seg", "left").select(
        "doc_id", "pos", "seg", F.coalesce(F.col("_is_b"), F.lit(False)).alias("_is_b")
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(F.when(F.col("_is_b"), 1).otherwise(0)).alias("n_removed"),
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("pos", "seg", "_is_b"))),
                    lambda x: ~x["_is_b"],
                ),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("cleaned_text"),
    )


def source_lang_matrix(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
) -> DataFrame:
    """(source x lang) corpus composition — the mix report a training
    run is budgeted against, one level finer than ``source_mix``.

    One scan -> partial-agged ``groupBy(source, lang)`` (shuffle is one
    row per cell) -> corpus totals as a broadcast scalar. Shares are
    integer ppm via BIGINT multiply-then-div (the ``source_mix`` rule:
    never rounded doubles).
    """
    cells = docs.groupBy(
        F.col(source_col).alias("source"), F.col(lang_col).alias("lang")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(TH.tokens(F.col(text_col)))).alias("n_tokens"),
    )
    # Unpartitioned-window scalars over the (source x lang) cell frame
    # (bounded cardinality) — see _source_weights (round 13).
    from pyspark.sql import Window

    _all = Window.partitionBy()
    return cells.withColumn(
        "total_docs", F.sum("n_docs").over(_all)
    ).withColumn("total_tokens", F.sum("n_tokens").over(_all)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.expr("(n_docs * CAST(1000000 AS BIGINT)) div total_docs").alias(
            "doc_share_ppm"
        ),
        F.expr("(n_tokens * CAST(1000000 AS BIGINT)) div total_tokens").alias(
            "token_share_ppm"
        ),
    )


CHUNK_TOKENS = 50
CHUNK_STRIDE = 25
PACK_SEQ_LEN = 512


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Sliding-window chunking for RAG/training prep: overlapping
    ``chunk_tokens``-token windows every ``stride`` tokens.

    Window count is ``1 + ceil(max(n - chunk, 0) / stride)`` so every
    token is covered and short docs yield exactly one chunk. Each chunk
    is reported by its deterministic rolling-hash fingerprint (the
    dedup-able identity of the chunk text) rather than the text itself,
    so the shuffle-free plan emits fixed-width rows: tokenize ->
    materialize token hashes (projection boundary — see
    ``texthash.shingle_hashes_from``) -> posexplode the window starts ->
    fold each ``slice``. Rows ∝ tokens/stride; zero shuffles, zero UDFs.

    Returns ``(doc_id, chunk_idx, chunk_start, n_chunk_tokens,
    chunk_fingerprint)`` — chunk_start is the 1-based token offset.
    """
    th = docs.select(
        F.col(id_col).alias("doc_id"),
        TH.token_hashes(TH.tokens(F.col(text_col))).alias("_th"),
    )
    # Integer ceil — (x + stride-1) div stride — so the window count is
    # exact BIGINT arithmetic on both engines (no double ceil).
    n = F.size("_th")
    n_windows = F.lit(1) + F.expr(
        f"(greatest(size(_th) - {chunk_tokens}, 0) + {stride - 1}) div {stride}"
    )
    starts = F.transform(
        F.sequence(F.lit(0), n_windows - 1), lambda i: i * stride + 1
    )
    exploded = th.select(
        "doc_id", "_th", F.posexplode(starts).alias("chunk_idx", "chunk_start")
    )
    piece = F.slice(F.col("_th"), F.col("chunk_start"), F.lit(chunk_tokens))
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        TH.doc_fingerprint(piece).alias("chunk_fingerprint"),
    )


def pack_sequences(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "source",
    seq_len: int = PACK_SEQ_LEN,
) -> DataFrame:
    """GPT-style sequence packing manifest: concatenate each shard's
    documents (in doc_id order) into one token stream and cut it into
    fixed ``seq_len``-token training sequences; report where every
    document lands.

    The recurrence-free formulation: a document's placement is a pure
    function of the running token prefix sum, so packing is ONE window
    (``sum over rows unbounded preceding``) per shard — no sequential
    driver loop, no UDF. Documents may straddle sequence boundaries
    (``n_seqs`` > 1), exactly like production pretraining packing.

    Scale shape: the prefix sum serializes *within* a shard, so the
    shard column must bound per-reducer volume. Source families are the
    natural unit here; at 100 TB you'd pack per (source, shard-bucket)
    with ``shard = hash(doc_id) % k`` folded into ``shard_col`` — the
    plan is identical, only the key widens.

    Returns ``(doc_id, shard, n_tokens, start_offset, first_seq,
    last_seq, n_seqs, offset_in_seq)`` — all BIGINT except shard.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(shard_col).alias("shard"),
        F.size(TH.tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum("n_tokens").over(w)
    return (
        base.withColumn("_cum", cum)
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            (F.col("_cum") - F.col("n_tokens")).alias("start_offset"),
            F.expr(f"(_cum - n_tokens) div {seq_len}").alias("first_seq"),
            F.expr(f"(_cum - 1) div {seq_len}").alias("last_seq"),
            (
                F.expr(f"(_cum - 1) div {seq_len}")
                - F.expr(f"(_cum - n_tokens) div {seq_len}")
                + 1
            ).alias("n_seqs"),
            F.expr(f"(_cum - n_tokens) % {seq_len}").alias("offset_in_seq"),
        )
    )


def curation_pipeline(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The composed training-corpus cut.

    Stages (one plan, evaluated lazily end-to-end):

    1. per-doc signals — predicted language (stopword argmax), token
       count, punctuation/digit densities, normalized-text digest, and
       the sampling hash: all map-side expressions over one scan;
    2. exact-dup canonicalization — ``min(doc_id)`` over docs sharing a
       text digest (the one shuffle, on a 128-bit key, carrying a
       handful of small columns — never document bodies);
    3. quality gate — the ``quality_scores`` keep rule;
    4. stratified sample by *predicted* language (deterministic hash
       rates, 'und' dropped).

    Output is the curated corpus manifest: ``(doc_id, predicted_lang,
    n_tokens)``.
    """
    text = F.col(text_col)
    toks = TH.tokens(text)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.length(text).alias("n_chars"),
        F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).alias("punct"),
        F.length(F.regexp_replace(text, r"[^0-9]", "")).alias("digits"),
        F.md5(DD.normalized(text)).alias("text_hash"),
        (sample_hash(id_col) % SAMPLE_MOD).alias("sample_bucket"),
        *[TA._lang_score(toks, lang).alias(f"s_{lang}") for lang in TA.LANGS],
    )
    labeled = base.withColumn("predicted_lang", TA.predicted_lang_over_scores())

    canon = labeled.withColumn(
        "canonical_id", F.min("doc_id").over(Window.partitionBy("text_hash"))
    )
    quality_keep = (
        (F.col("n_tokens") >= 10)
        & (F.col("punct") / F.col("n_chars").cast("double") < 0.2)
        & (F.col("digits") / F.col("n_chars").cast("double") < 0.5)
    )
    sampled = (
        quality_keep
        & (F.col("doc_id") == F.col("canonical_id"))
        & (F.col("sample_bucket") < _rate_for(F.col("predicted_lang")))
    )
    return canon.filter(sampled).select("doc_id", "predicted_lang", "n_tokens")


def chunk_dups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Chunk-level duplicate detection — the RAG-index dedup: two
    documents sharing a token window produce the same chunk
    fingerprint, so duplicated passages surface without any pair join
    (one groupBy on the fingerprint, shuffle carries 8-byte keys).

    Returns fingerprints seen more than once:
    ``(chunk_fingerprint, n_chunks, n_docs, canonical_doc_id)``.
    """
    chunks = chunk_documents(docs, text_col, id_col, chunk_tokens, stride)
    return (
        chunks.groupBy("chunk_fingerprint")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_chunks") > 1)
    )


# train/val/test permille boundaries over the split-hash bucket space.
SPLIT_TRAIN_PERMILLE = 980
SPLIT_VAL_PERMILLE = 990  # val = [980, 990), test = [990, 1000)


def split_hash(id_col: str = "doc_id") -> F.Column:
    """Split-assignment hash — salted differently from ``sample_hash``
    so split membership is independent of every sampling decision."""
    return TH.token_hash(F.concat(F.lit("sp:"), F.col(id_col).cast("string")))


def shuffle_key(id_col: str = "doc_id") -> F.Column:
    """Training-order shuffle hash (third independent salt)."""
    return TH.token_hash(F.concat(F.lit("sh:"), F.col(id_col).cast("string")))


def train_split(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic train/val/test assignment + training shuffle
    order — the last step before sequence packing in a training-data
    pipeline.

    Split membership is a pure per-row hash-bucket test (98/1/1 by
    permille bands), so it is stable under corpus growth: adding
    documents never reassigns an existing one (the property random
    splits lack). The shuffle order is a second independent hash: NOT
    a global ``row_number`` (a single-reducer scan at 100 TB) but a
    sort KEY: a writer realizes the total order with
    ``repartitionByRange(shuffle_key).sortWithinPartitions``, so
    ordering work distributes across executors.

    Returns ``(doc_id, split, split_bucket, shuffle_key)``.
    """
    bucket = split_hash(id_col) % SAMPLE_MOD
    split = (
        F.when(bucket < SPLIT_TRAIN_PERMILLE, F.lit("train"))
        .when(bucket < SPLIT_VAL_PERMILLE, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select(
        F.col(id_col),
        split.alias("split"),
        bucket.alias("split_bucket"),
        shuffle_key(id_col).alias("shuffle_key"),
    )


def pareto_frontier(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Pareto-frontier (skyline) curation: the documents not dominated
    on the (quality, length) plane — doc A dominates B when A is >= on
    both metrics and strictly better on at least one. Selecting the
    frontier instead of a single weighted score is how curation keeps
    BOTH the short-but-pristine and the long-but-decent documents.

    Metrics (all integer): ``stop_milli`` — English stopword hits per
    1000 tokens (fluency proxy) — and ``n_tokens``.

    Scale shape: the naive skyline is an O(n^2) self-join. Here the
    corpus first collapses to the per-quality-level maximum length
    (``groupBy(stop_milli)`` — at most 1001 groups, since the metric is
    a milli ratio), the strictly-better-quality running maximum runs as
    a window over THAT bounded table only, and the verdict broadcast-
    joins back: a doc is on the frontier iff it is the longest at its
    own quality level and strictly longer than every doc of strictly
    higher quality. No global sort of the corpus, no self-join; the
    full-data operations are one groupBy and one broadcast join.

    Returns ``(doc_id, stop_milli, n_tokens)`` — frontier rows only.
    """
    toks = TH.tokens(F.col(text_col))
    hits = F.size(F.filter(toks, lambda t: t.isin(*TA.STOPWORDS["en"])))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
        (hits * 1000).alias("hits_x1000"),
    ).select(
        "doc_id",
        "n_tokens",
        F.expr("hits_x1000 div n_tokens").alias("stop_milli"),
    )
    per_q = base.groupBy("stop_milli").agg(F.max("n_tokens").alias("max_t_q"))
    w_higher = (
        Window.orderBy("stop_milli").rangeBetween(1, Window.unboundedFollowing)
    )
    levels = per_q.withColumn("best_higher_t", F.max("max_t_q").over(w_higher))
    return (
        base.join(F.broadcast(levels), "stop_milli")
        .filter(
            (F.col("n_tokens") == F.col("max_t_q"))
            & (
                F.col("best_higher_t").isNull()
                | (F.col("n_tokens") > F.col("best_higher_t"))
            )
        )
        .select("doc_id", "stop_milli", "n_tokens")
    )


PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def profile_table(docs: DataFrame, cols: tuple[str, ...] = PROFILE_COLS) -> DataFrame:
    """Single-pass data profiler: per column, null count and exact
    distinct count, plus the total row count — the ingest-gate summary
    every corpus snapshot gets before entering the pipeline (schema
    drift and null-rate regressions show up here first).

    One aggregate over one scan; Spark compiles the multi-distinct
    into a single Expand + aggregate pair (no per-column jobs). At
    100 TB swap exact distinct counts for the KMV sketch in
    ``sketches.py`` with the same output contract.

    Returns ``(col, n_nulls, n_distinct)`` + one ``('*', 0, n_rows)``
    row.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"{c}__distinct"))
    wide = docs.agg(*aggs)
    rows = [
        F.struct(
            F.lit("*").alias("col"),
            F.lit(0).cast("long").alias("n_nulls"),
            F.col("n_rows").cast("long").alias("n_distinct"),
        )
    ]
    for c in cols:
        rows.append(
            F.struct(
                F.lit(c).alias("col"),
                F.col(f"{c}__nulls").cast("long").alias("n_nulls"),
                F.col(f"{c}__distinct").cast("long").alias("n_distinct"),
            )
        )
    return wide.select(F.explode(F.array(*rows)).alias("r")).select(
        "r.col", "r.n_nulls", "r.n_distinct"
    )


# ---------------------------------------------------------------------------
# Round-5 addition: quality-threshold retention sweep
# ---------------------------------------------------------------------------

SWEEP_BUCKET_MILLI = 100  # stopword-ratio deciles


def quality_retention_sweep(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Retention curve for a quality threshold: for each stopword-ratio
    decile, how many documents and tokens a >= cut at that decile keeps.
    This is the query run BEFORE picking a filter threshold on a new
    corpus — the knee of (threshold -> tokens retained) is the operating
    point, and eyeballing it needs the whole curve, not one cut.

    All-integer: the per-doc score is stopword-hits-per-mille of tokens
    (integer div), bucketed to deciles; the curve is a cumulative
    window DOWN the (<= 11)-row bucket aggregate, so the corpus is
    scanned once and the window runs on a trivially small frame.

    Returns ``(bucket_milli, n_docs, n_tokens, cum_docs_ge,
    cum_tokens_ge)`` — ``cum_*_ge`` = what a ``score >= bucket`` filter
    would retain.
    """
    toks = TH.tokens(F.col(text_col))
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*TA.STOPWORDS["en"]))
    )
    per_doc = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("n_tokens"),
        stop_hits.alias("stop_hits"),
    ).select(
        "doc_id",
        "n_tokens",
        (
            F.expr(f"((stop_hits * 1000) div n_tokens) div {SWEEP_BUCKET_MILLI}")
            * SWEEP_BUCKET_MILLI
        ).alias("bucket_milli"),
    )
    buckets = per_doc.groupBy("bucket_milli").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )
    w = Window.orderBy(F.col("bucket_milli").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return buckets.select(
        "bucket_milli",
        "n_docs",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.sum("n_docs").over(w).cast("long").alias("cum_docs_ge"),
        F.sum("n_tokens").over(w).cast("long").alias("cum_tokens_ge"),
    )


# budget = this per-mille of the corpus's total tokens, split uniformly
# across sources (relative budget -> the plan is meaningful at any SF)
BUDGET_PERMILLE = 500


def token_budget_plan(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    budget_permille: int = BUDGET_PERMILLE,
) -> DataFrame:
    """Training-mix planner: given a global token budget (a fraction of
    the corpus) split uniformly across sources, how hard must each
    source be down-sampled — or repeated — to hit its share?

    ``epochs_milli`` is the knob a data pipeline actually turns:
    < 1000 means sample that fraction of the source once, > 1000 means
    repeat the source (epochs_milli/1000 passes) — the
    repeat-vs-subsample decision from data-constrained scaling work
    (Muennighoff et al. 2023, arXiv:2305.16264). All integer: per-source
    token counts aggregate once (shuffle ∝ sources), the budget is a
    broadcast 1-row scalar, and every derived figure is an integer
    div — bit-identical on any engine.

    Returns ``(source, n_docs, n_tokens, target_tokens, epochs_milli)``.
    """
    toks = TH.tokens(F.col(text_col))
    per_source = (
        docs.select(F.col(source_col).alias("source"), F.size(toks).alias("n_toks"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
    )
    from pyspark.sql import Window

    _all = Window.partitionBy()
    return (
        per_source
        # window scalars over the per-source frame (round 13; see
        # _source_weights)
        .withColumn("corpus_tokens", F.sum("n_tokens").over(_all))
        .withColumn("n_sources", F.count("*").over(_all))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr(
                f"(corpus_tokens * {budget_permille} div 1000) div n_sources"
            ).alias("target_tokens"),
            F.expr(
                f"(((corpus_tokens * {budget_permille} div 1000) div n_sources)"
                " * 1000) div n_tokens"
            ).alias("epochs_milli"),
        )
    )


MIX_TEMPERATURE_MILLI = 700  # tau = 0.7 (mT5/multilingual convention)


def temperature_mix_plan(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    budget_permille: int = BUDGET_PERMILLE,
    temperature_milli: int = MIX_TEMPERATURE_MILLI,
) -> DataFrame:
    """Temperature-weighted training-mix planner: target share of
    source i ∝ ``n_tokens_i^τ`` (τ = 0.7) — the standard low-resource
    up-weighting between proportional sampling (τ=1, head sources
    drown the tail) and :func:`token_budget_plan`'s uniform split
    (τ=0, tail sources over-epoch into memorization).

    Determinism discipline: ``pow`` is a double, so each source's
    weight is quantized to the integer 1e-6 grid FIRST and every
    downstream figure (share, target, epochs) is integer arithmetic
    over the quantized weights — the cross-engine hash never sees a
    double SUM, whose accumulation order differs between engines.

    Plan: one token-count aggregate (shuffle ∝ sources), a broadcast
    1-row total, pure projection after. Returns ``(source, n_docs,
    n_tokens, weight_micro, share_ppm, target_tokens, epochs_milli)``.
    """
    tau = temperature_milli / 1000.0
    toks = TH.tokens(F.col(text_col))
    per_source = (
        docs.select(
            F.col(source_col).alias("source"), F.size(toks).alias("n_toks")
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
        .withColumn(
            "weight_micro",
            F.round(F.pow(F.col("n_tokens").cast("double"), F.lit(tau)) * 1e6)
            .cast("long"),
        )
    )
    from pyspark.sql import Window

    _all = Window.partitionBy()
    return per_source.withColumn(
        "w_total", F.sum("weight_micro").over(_all)
    ).withColumn("corpus_tokens", F.sum("n_tokens").over(_all)).select(
        "source",
        "n_docs",
        "n_tokens",
        "weight_micro",
        F.expr("(1000000 * weight_micro) div w_total").alias("share_ppm"),
        F.expr(
            f"((corpus_tokens * {budget_permille} div 1000)"
            " * weight_micro) div w_total"
        ).alias("target_tokens"),
        F.expr(
            f"(((corpus_tokens * {budget_permille} div 1000)"
            " * weight_micro) div w_total * 1000) div n_tokens"
        ).alias("epochs_milli"),
    )


# Length-weighted sampling: inclusion probability ∝ document length,
# saturating at the cap — the downsampler that keeps a doc-count
# reduction from collapsing the corpus's TOKEN mass toward short docs.
WEIGHTED_SAMPLE_CAP_CHARS = 2000
WEIGHTED_SAMPLE_MOD = 1_000_000


def length_weighted_sample_summary(
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    len_col: str = "n_chars",
    cap: int = WEIGHTED_SAMPLE_CAP_CHARS,
) -> DataFrame:
    """Bernoulli sampling with per-doc inclusion probability
    ``min(1, len/cap)`` — longer docs kept proportionally more often,
    docs at/over the cap always kept, so the expected surviving
    character mass of the sub-cap population is uniform per character
    rather than per document (uniform doc sampling would keep token
    mass ∝ 1/length-bias of the corpus).

    Entirely integer arithmetic: probability as ppm
    (``len * 1e6 div cap``), decision as ``md5-hash mod 1e6 < ppm`` —
    a pure deterministic map (no RNG state, replays exactly, both
    engines agree bit-for-bit), then one #sources-key aggregate.

    Returns per-source ``(source, n_docs, n_sampled, sum_chars,
    sum_chars_sampled)`` — the before/after doc and char mass.
    """
    h = TH.token_hash(
        F.concat(F.lit("w:"), F.col(id_col).cast("string"))
    ) % WEIGHTED_SAMPLE_MOD
    # integer div: `div` truncates like DuckDB's `//` on BIGINT
    p_ppm = F.expr(
        f"least(CAST({WEIGHTED_SAMPLE_MOD} AS BIGINT), "
        f"(CAST({len_col} AS BIGINT) * {WEIGHTED_SAMPLE_MOD}) div {cap})"
    )
    keep = (h < p_ppm).alias("keep")
    return (
        docs.select(F.col(source_col).alias("source"), F.col(len_col).alias("len"), keep)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_sampled"),
            F.sum("len").cast("long").alias("sum_chars"),
            F.sum(F.when(F.col("keep"), F.col("len")).otherwise(0))
            .cast("long")
            .alias("sum_chars_sampled"),
        )
    )


def curation_v2(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The modern curated-corpus cut, composing this round's quality
    stack end to end in ONE lazy plan: exact-dup canonicalization
    (normalized-text digest, min-id representative), the five-rule
    Gopher gate (:func:`text_analysis.gopher_filter`), and the CCNet
    perplexity split (:func:`text_analysis.perplexity_buckets`) with
    the gibberish 'tail' third dropped — the pipeline shape of a
    production pretraining cut (dedup → rules → LM filter).

    All three stages key on doc_id, so the composition is two hash
    joins over per-doc signal tables that each scale as documented in
    their own operators; no stage re-reads document bodies after its
    own scan. Output manifest: ``(doc_id, lang, ppl_bucket, n_tokens,
    lp_micro)``.
    """
    canon = docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(DD.normalized(F.col(text_col))).alias("text_hash"),
    ).withColumn(
        "canonical_id", F.min("doc_id").over(Window.partitionBy("text_hash"))
    )
    keep_ids = canon.filter(F.col("doc_id") == F.col("canonical_id")).select(
        "doc_id"
    )
    gopher_keep = (
        TA.gopher_filter(docs, text_col, id_col)
        .filter(F.col("verdict") == "keep")
        .select("doc_id", "n_tokens")
    )
    ppl = (
        TA.perplexity_buckets(docs, text_col, id_col)
        .filter(F.col("ppl_bucket") != "tail")
        .select("doc_id", "lang", "ppl_bucket", "lp_micro")
    )
    return keep_ids.join(gopher_keep, "doc_id").join(ppl, "doc_id").select(
        "doc_id", "lang", "ppl_bucket", "n_tokens", "lp_micro"
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): score every raw document by how much more likely
# its hashed n-gram profile is under a TARGET domain's n-gram
# distribution than under the raw corpus's, then keep the docs that
# look target-like. The reference pipeline has no data-selection
# stage; this is part of the mandated LLM-training-data extension
# (SURVEY.md §6 scope).
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024        # hashed-ngram feature space (fixed, scale-free)
DSIR_NGRAM = 2             # word bigrams, the paper's default feature
DSIR_TARGET_SOURCE = "src1"  # stand-in "curated domain" in the test corpus


def dsir_weights(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    target_source: str = DSIR_TARGET_SOURCE,
    n: int = DSIR_NGRAM,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Per-document DSIR importance weight and selection flag.

    Model: hash each word ``n``-gram (duplicates kept — counts, not
    presence) into ``n_buckets`` buckets; the target distribution is
    the bucket profile of the ``target_source`` docs, the raw
    distribution is the whole corpus's, both Laplace-smoothed
    (+1 / +n_buckets). A doc's weight is the MEAN per-gram log ratio
    ``ln p_target(b) − ln p_raw(b)`` (length-normalized, so long docs
    don't dominate); ``dsir_selected`` keeps docs likelier under the
    target than under raw (mean log ratio > 0) — the deterministic
    greedy form of the paper's Gumbel-noised resampling.

    Scale shape: one pass builds BOTH bucket profiles (conditional agg
    in the same groupBy — never two corpus scans); the bucket table is
    CONSTANT-bounded (≤ ``n_buckets`` rows) so the per-gram rejoin is
    a broadcast onto the gram stream; totals are a 1-row aggregate of
    the bucket table. Shuffles: grams→buckets (map-side combined to
    ≤ n_buckets keys) and the final groupBy(doc_id) — both ∝ grams,
    nothing ∝ corpus². The per-bucket ``ln`` runs on identical integer
    inputs in both engines; the per-doc mean snaps to the 1e-6 grid
    (``texthash.quantized6``) per the engine-wide rule for
    accumulation-order-dependent double aggregates.

    Returns ``(doc_id, n_grams, dsir_logratio_q6, dsir_selected)`` for
    every document (short docs emit one zero-padded gram, so none
    drop out).
    """
    th = docs.select(
        F.col(id_col).alias("doc_id"),
        (F.col(source_col) == target_source).alias("is_target"),
        TH.token_hashes(TH.tokens(F.col(text_col))).alias("_th"),
    )
    # second projection: _th must be a STORED column before the sliding
    # combine indexes into it (texthash.shingle_hashes_from's warning).
    idx = F.sequence(
        F.lit(1), F.greatest(F.size(F.col("_th")) - (n - 1), F.lit(1))
    )

    def combine(i):
        acc = F.coalesce(F.try_element_at(F.col("_th"), i), F.lit(0))
        for j in range(1, n):
            nxt = F.coalesce(F.try_element_at(F.col("_th"), i + j), F.lit(0))
            acc = (acc * TH.DOC_B + nxt) % TH.HASH_P
        return acc

    grams = th.select(
        "doc_id",
        "is_target",
        F.explode(F.transform(idx, combine)).alias("gh"),
    ).withColumn("bucket", F.col("gh") % n_buckets)

    stats = grams.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0))
        .cast("long")
        .alias("t_cnt"),
        F.count("*").alias("r_cnt"),
    )
    # Window scalars over the per-bucket frame (n_buckets is a config
    # constant) — round 13, see _source_weights.
    _all = Window.partitionBy()
    ratio = stats.withColumn("t_tot", F.sum("t_cnt").over(_all)).withColumn(
        "r_tot", F.sum("r_cnt").over(_all)
    ).select(
        "bucket",
        (
            F.log(
                (F.col("t_cnt") + 1).cast("double")
                / (F.col("t_tot") + n_buckets).cast("double")
            )
            - F.log(
                (F.col("r_cnt") + 1).cast("double")
                / (F.col("r_tot") + n_buckets).cast("double")
            )
        ).alias("lr"),
    )
    per_doc = (
        grams.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            TH.quantized6(F.avg("lr")).alias("dsir_logratio_q6"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "dsir_logratio_q6",
        (F.col("dsir_logratio_q6") > 0).alias("dsir_selected"),
    )


DSIR_RESAMPLE_PPM = 300_000  # keep the top 30% of docs by importance


def dsir_resample(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    target_source: str = DSIR_TARGET_SOURCE,
    keep_ppm: int = DSIR_RESAMPLE_PPM,
) -> DataFrame:
    """The RESAMPLE half of DSIR: keep exactly the top
    ``keep_ppm``-fraction of documents by importance weight — i.e. the
    exact ``ORDER BY weight DESC, doc_id LIMIT K`` set — computed
    WITHOUT a global sort (the single-partition window that would
    straggle at 10⁹ docs).

    Scale shape (the histogram-CDF top-K pattern, same discipline as
    ``ship_delay_percentiles``): weights land on the integer micro-nat
    grid and bucket to MILLI-nats — a BOUNDED domain (smoothed log
    ratios are bounded by ±ln(totals), a few tens of thousands of
    buckets at most) — so the cumulative window runs over the tiny
    bucket histogram, never the corpus. Docs strictly above the
    boundary bucket are selected by a narrow filter; only the ONE
    boundary bucket pays a per-doc (weight desc, doc_id) rank to fill
    the remaining quota — group size = docs in a single milli-nat
    bucket. Ties at the boundary break on smallest doc_id, matching
    the naive global ordering (the DuckDB oracle IS that naive
    ``ORDER BY … LIMIT K`` — same set by construction).

    Returns the selected docs: ``(doc_id, dsir_w_micro)``.
    """
    w = dsir_weights(
        docs, text_col, id_col, source_col, target_source
    ).select(
        "doc_id",
        F.round(F.col("dsir_logratio_q6") * 1e6).cast("long").alias("w_micro"),
    )
    b = w.withColumn(
        # floor division toward -inf for negative weights: Spark's
        # `div` truncates toward zero, which would fold buckets -0.999
        # and +0.999 together — use floor(x / 1000.0) on exact integers.
        "bkt",
        F.floor(F.col("w_micro") / F.lit(1000.0)).cast("long"),
    ).persist()  # lazy: K-count, histogram, and both selection branches
    #              all read the same weighted frame — one computation,
    #              not four (module cache policy: no unpersist on exit)
    # K derives from the PERSISTED frame, not the upstream `w` — an agg
    # on `w` would sidestep the cache and recompute the whole DSIR
    # gram/weight pipeline a second time.
    k_frame = b.agg(
        F.expr(f"(count(*) * CAST({keep_ppm} AS BIGINT)) div 1000000").alias("k")
    )
    hist = b.groupBy("bkt").agg(F.count("*").alias("n"))
    w_cum = (
        Window.orderBy(F.col("bkt").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("n").over(w_cum)).crossJoin(
        F.broadcast(k_frame)
    )
    boundary = cum.filter(F.col("cum") >= F.col("k")).agg(
        F.max("bkt").alias("bstar"),
        # docs strictly above the boundary bucket = cum(bstar) − n(bstar)
        F.max(F.struct(F.col("bkt"), (F.col("cum") - F.col("n")).alias("above")))[
            "above"
        ].alias("above"),
        F.max("k").alias("k"),
    )
    sel_above = (
        b.crossJoin(F.broadcast(boundary))
        .filter(F.col("bkt") > F.col("bstar"))
        .select("doc_id", "w_micro")
    )
    w_rank = Window.partitionBy("bkt").orderBy(
        F.col("w_micro").desc(), F.col("doc_id")
    )
    sel_boundary = (
        b.crossJoin(F.broadcast(boundary))
        .filter(F.col("bkt") == F.col("bstar"))
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= F.col("k") - F.col("above"))
        .select("doc_id", "w_micro")
    )
    return sel_above.unionByName(sel_boundary).select(
        "doc_id", F.col("w_micro").alias("dsir_w_micro")
    )


DOREMI_ETA_MILLI = 1000  # Group-DRO step size eta = 1.0


def doremi_reweight(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    eta_milli: int = DOREMI_ETA_MILLI,
) -> DataFrame:
    """One DoReMi-style Group-DRO domain-reweighting step (Xie et al.
    2023, "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    Pretraining"): up-weight the domains the current blend models
    WORST, ``w_i ∝ share_i · exp(η · excess_loss_i)``, then
    renormalize — the mixture-optimization move between a proxy run's
    losses and the next data mix.

    Without a trained proxy model, the per-domain loss is the
    corpus-unigram cross-entropy of the source — the average
    ``-ln p_corpus(t)`` over the source's tokens, i.e. how surprising
    the domain's text is under the blend's own unigram distribution
    (the same blend-vs-source lens as :func:`text_analysis.source_kl`,
    pointed at hardness instead of divergence). ``excess_i`` is the
    gap to the easiest domain, so weights are scale-free.

    Determinism discipline (house rules, all three applied): each
    DISTINCT term's ``-ln p`` quantizes to integer micro-nats BEFORE
    multiplying by its count (exact BIGINT accumulation, never a
    double sum); the one genuinely transcendental step — ``exp`` of
    the per-source excess — quantizes to the integer 1e-6 grid the
    instant it is computed (the ``temperature_mix_plan`` pow
    discipline); every share after that is multiply-then-integral-
    divide ppm arithmetic.

    Plan at 100 TB: one explode feeds a partial-agged
    ``groupBy(source, term)`` (shuffle ∝ distinct pairs); everything
    after runs on the |sources|-row frame with 1-row broadcast
    scalars — no second corpus pass, no window over data.

    Returns ``(source, n_tokens, loss_micro, excess_micro,
    factor_micro, base_share_ppm, doremi_share_ppm)``.
    """
    term_rows = docs.select(
        F.col(source_col).alias("source"),
        F.explode(TH.tokens(F.col(text_col))).alias("term"),
    )
    st = term_rows.groupBy("source", "term").agg(F.count("*").alias("cnt_st"))
    ct = st.groupBy("term").agg(F.sum("cnt_st").alias("cnt_t"))
    tot_c = ct.agg(F.sum("cnt_t").alias("tot_c"))
    # per (source, term): quantized -ln p_corpus(term) times the count —
    # integer product of an integer micro-nat and a BIGINT count.
    contrib = (
        st.join(ct, "term")
        .crossJoin(F.broadcast(tot_c))
        .select(
            "source",
            "cnt_st",
            (
                F.round(-F.log(F.col("cnt_t") / F.col("tot_c")) * F.lit(1e6))
                .cast("long")
                * F.col("cnt_st")
            ).alias("nats_micro"),
        )
    )
    per_source = contrib.groupBy("source").agg(
        F.sum("cnt_st").cast("long").alias("n_tokens"),
        F.sum("nats_micro").cast("long").alias("nats_total"),
    ).select(
        "source",
        "n_tokens",
        F.expr("nats_total div n_tokens").alias("loss_micro"),
    )
    # Source-level scalars as UNPARTITIONED WINDOWS (round 13): the old
    # shape crossJoined two broadcast scalar aggregates (loss floor /
    # token total, then the weight total), each adding an aggregate
    # chain + broadcast-build job chain per scalar — 43 AQE stage-jobs
    # for one query at sf0.1, most of its 3.8 s wall in stage/broadcast
    # round-trips (guide §2.6/§5). A window over the per-source frame
    # computes the same min/sum in place. The single-partition window
    # is scale-honest HERE because |sources| is domain count (a few
    # dozen rows at any corpus size); the corpus-level scalar (tot_c,
    # over |terms| rows) deliberately stays a broadcast crossJoin.
    from pyspark.sql import Window

    _all = Window.partitionBy()
    eta = eta_milli / 1000.0
    weighted = (
        per_source
        .withColumn("loss_floor", F.min("loss_micro").over(_all))
        .withColumn("corpus_tokens", F.sum("n_tokens").over(_all))
        .withColumn("excess_micro", F.col("loss_micro") - F.col("loss_floor"))
        .withColumn(
            "factor_micro",
            # exponent clip at 8 nats (practical DoReMi clips too): an
            # unclipped pathological excess (one-source-per-token
            # corpora) would push the ppm product past int64 and ANSI
            # mode would raise instead of returning a mix.
            F.round(
                F.exp(
                    F.lit(eta)
                    * F.least(F.col("excess_micro"), F.lit(8_000_000))
                    / F.lit(1e6)
                )
                * 1e6
            ).cast("long"),
        )
        .withColumn(
            "base_share_ppm",
            F.expr("(n_tokens * CAST(1000000 AS BIGINT)) div corpus_tokens"),
        )
        # /1000 headroom: share(<=1e6) x factor(e^excess x 1e6) x the
        # final x1e6 ppm step must stay under int64 — the milli grid
        # keeps the product exact to ~excess 9 nats, far past real mixes.
        .withColumn("w", F.expr("(base_share_ppm * factor_micro) div 1000"))
    )
    return weighted.withColumn("w_total", F.sum("w").over(_all)).select(
        "source",
        "n_tokens",
        "loss_micro",
        "excess_micro",
        "factor_micro",
        "base_share_ppm",
        F.expr("(w * CAST(1000000 AS BIGINT)) div w_total").alias(
            "doremi_share_ppm"
        ),
    )


# Candidate runs for checksum-validated PII (both patterns stay in the
# Java-regex/RE2 common subset: classes + bounded greedy quantifiers).
CC_CANDIDATE_PATTERN = "[0-9][0-9 -]{11,21}[0-9]"
IPV4_CANDIDATE_PATTERN = "([0-9]{1,3}[.]){3}[0-9]{1,3}"


def _luhn_ok(d: F.Column) -> F.Column:
    """Luhn checksum over a digit string Column — from the rightmost
    digit, every second digit doubles with 9-wrap; valid iff the total
    is divisible by 10. The 9-wrap is the branch-free identity
    ``x - 9*(x div 10)`` (x <= 18), so engine and oracle evaluate ONE
    integer expression per digit instead of mirrored CASE ladders."""
    n = F.length(d)

    def term(i: F.Column) -> F.Column:
        dig = F.substr(d, n - i + F.lit(1), F.lit(1)).cast("int")
        mult = F.when(i % 2 == 0, F.lit(2)).otherwise(F.lit(1))
        x = dig * mult
        return x - F.lit(9) * F.floor(x / F.lit(10)).cast("int")

    total = F.aggregate(
        F.sequence(F.lit(1), n), F.lit(0), lambda acc, i: acc + term(i)
    )
    return total % 10 == 0


def pii_scan_v2(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Checksum-VALIDATED PII scan — the audit pass production
    pipelines run beyond :func:`pii_scrub`'s pattern match: a 16-digit
    run is only a payment-card hit if it passes the Luhn checksum, and
    a dotted quad is only an IP if every octet is <= 255 (pattern-only
    scans over web text are mostly false positives; the validated
    counts are what a takedown/compliance report can actually use).

    Everything is nested higher-order Column expressions
    (regexp_extract_all -> transform/filter -> aggregate) — JVM-side,
    codegen'd, no UDF — and integer arithmetic end-to-end, so the scan
    is a pure narrow map at any scale and bit-identical on the DuckDB
    oracle (list_transform/list_filter/list_reduce mirrors).

    Returns ``(doc_id, n_emails, n_phones, n_cc_valid, n_ipv4)``.
    """
    text = F.col(text_col)
    cc_cands = F.expr(
        f"regexp_extract_all({text_col}, '{CC_CANDIDATE_PATTERN}', 0)"
    )
    cc_digits = F.transform(
        cc_cands, lambda c: F.regexp_replace(c, "[^0-9]", "")
    )
    cc_valid = F.filter(
        cc_digits,
        lambda d: (F.length(d) >= 13) & (F.length(d) <= 19) & _luhn_ok(d),
    )
    ip_cands = F.expr(
        f"regexp_extract_all({text_col}, '{IPV4_CANDIDATE_PATTERN}', 0)"
    )
    ip_valid = F.filter(
        ip_cands,
        lambda s: F.forall(
            F.split(s, "[.]"), lambda o: o.cast("int") <= 255
        ),
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.expr(f"regexp_extract_all({text_col}, '{EMAIL_PATTERN}', 0)"))
        .cast("long")
        .alias("n_emails"),
        F.size(
            F.expr(
                f"regexp_extract_all(regexp_replace({text_col}, "
                f"'{EMAIL_PATTERN}', '[EMAIL]'), '{PHONE_PATTERN}', 0)"
            )
        )
        .cast("long")
        .alias("n_phones"),
        F.size(cc_valid).cast("long").alias("n_cc_valid"),
        F.size(ip_valid).cast("long").alias("n_ipv4"),
    )


AES_SAMPLE_K = 100


def weighted_sample_aes(
    docs: DataFrame,
    k: int = AES_SAMPLE_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT-size weighted sample without replacement via the
    Efraimidis-Spirakis exponential-key scheme (Algorithm A-ES, IPL
    2006): each doc draws ``u ∈ (0,1]`` and competes with key
    ``u^(1/w)`` — the top-k keys are a weighted sample where inclusion
    probability is proportional to weight, with NO sequential pass and
    no replacement bookkeeping. The complement of the rate-based
    :func:`length_weighted_sample`: that one preserves expected token
    mass with a Bernoulli coin (size varies), this one hits an exact
    document budget.

    Determinism discipline: ``u`` is the salted md5 hash mapped to
    (0,1], the ranking key is ``ln(u)/w`` (monotone in u^(1/w), no pow)
    quantized to integer nano-nats the instant it is computed, and the
    top-k is ``ORDER BY key DESC, doc_id LIMIT k`` — Spark's
    distributed TakeOrdered, never a single-partition window; both
    engines rank the same BIGINTs.

    Weight = token count (the budget that matters for training mixes);
    zero-token docs carry no weight and are excluded, mirroring A-ES's
    w > 0 domain.

    Returns ``(doc_id, w_tokens, key_nano)`` for the k winners.
    """
    h = TH.token_hash(F.concat(F.lit("aes:"), F.col(id_col).cast("string")))
    u = (h + F.lit(1)).cast("double") / F.lit(float(TH.HASH_P))
    w = F.size(TH.tokens(F.col(text_col))).cast("long")
    keyed = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            w.alias("w_tokens"),
            F.round(F.log(u) / w.cast("double") * F.lit(1e9))
            .cast("long")
            .alias("key_nano"),
        )
        .filter(F.col("w_tokens") > 0)
    )
    return keyed.orderBy(F.col("key_nano").desc(), F.col("doc_id")).limit(k)


APPORTION_BATCH_DOCS = 100


def apportion_mixture(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    batch_docs: int = APPORTION_BATCH_DOCS,
    temperature_milli: int = MIX_TEMPERATURE_MILLI,
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of an integer batch
    across the temperature mixture — the scheduling step between a
    mixture WEIGHT vector (:func:`temperature_mix_plan`, DoReMi, ...)
    and an actual training batch: every source gets
    ``floor(batch * w_s / W)`` slots, and the ``batch − Σfloor``
    leftover slots go to the largest fractional remainders (ties
    broken by source name). The batch composition is therefore EXACT
    and deterministic — per-row weighted sampling only converges to
    the mixture in expectation, which a curriculum scheduler can't
    accept for small per-step batches (house discipline: no RNG,
    same reason the samplers hash instead of rand()).

    All arithmetic is integer over the already-quantized
    ``weight_micro`` values, so both engines agree bit-for-bit;
    plan is the one token-count aggregate (shuffle ∝ sources), two
    broadcast scalars and one |sources|-row rank window.

    Returns ``(source, weight_micro, base_alloc, remainder, alloc)``
    with ``Σ alloc == batch_docs`` exactly.
    """
    mix = temperature_mix_plan(
        docs, text_col, source_col, temperature_milli=temperature_milli
    )
    w = mix.select("source", "weight_micro")
    k = int(batch_docs)
    # Window scalars over the |sources| frame (round 13; see
    # _source_weights): one plan branch per scalar instead of an
    # aggregate chain + broadcast build each, and with every scalar
    # in-frame the old two-reference persist is no longer needed.
    _all = Window.partitionBy()
    scored = w.withColumn(
        "w_total", F.sum("weight_micro").over(_all).cast("long")
    ).select(
        "source",
        "weight_micro",
        F.expr(f"(CAST({k} AS BIGINT) * weight_micro) div w_total").alias(
            "base_alloc"
        ),
        F.expr(f"(CAST({k} AS BIGINT) * weight_micro) % w_total").alias(
            "remainder"
        ),
    )
    ranked = scored.withColumn(
        "base_total", F.sum("base_alloc").over(_all).cast("long")
    ).withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.col("remainder").desc(), "source")),
    )
    return ranked.select(
        "source",
        "weight_micro",
        "base_alloc",
        "remainder",
        (
            F.col("base_alloc")
            + F.when(
                F.col("rnk") <= (F.lit(k).cast("long") - F.col("base_total")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
    )
