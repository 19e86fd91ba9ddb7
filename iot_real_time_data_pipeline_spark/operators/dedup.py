"""Deduplication operators for LLM training-data pipelines.

Four families, each chosen for a different scale/recall tradeoff, all
expressed as native DataFrame plans (no UDFs, no driver-side loops):

- ``exact_dedup``         : hash-groupBy on normalized text. One shuffle
                            on a 128-bit digest, not the full text.
- ``shingle_jaccard_pairs``: *exact* n-gram Jaccard via an inverted-
                            postings self-join — the candidate join runs
                            only on shared shingles, never all-pairs.
- ``minhash_lsh_pairs``   : MinHash signatures + banded LSH. Signature
                            computation is a narrow map (array fold);
                            only docs sharing a band bucket are paired,
                            then verified with exact Jaccard. The 100 TB
                            path: cost is O(candidates), not O(n²).
- ``simhash_fingerprints``: 64-bit SimHash per doc (frequency-weighted;
                            32-bit oracle-mirror variant retained),
                            for hamming-distance bucketing.
- ``simhash_dup_pairs``   : Hamming-banded SimHash near-dup pairs. With
                            ``max_hamming <= SIMHASH_BANDS - 1`` the band
                            candidates are *exhaustive* (pigeonhole), so
                            the operator is exact, not approximate.
- ``dup_clusters``        : connected components over the MinHash
                            near-dup graph (iterative min-label
                            propagation), yielding a cluster id and a
                            canonical-representative flag per document.

Cross-engine determinism comes from ``functions.texthash`` (arithmetic
hashes both Spark and DuckDB compute bit-identically).

Persist lifetime policy: operators that return a *lazy* DataFrame
(``shingle_jaccard_pairs``, ``minhash_lsh_pairs``, ``simhash_dup_pairs``,
…) persist intermediates (shingle sets, band frames) that are read from
multiple plan branches. They deliberately do NOT unpersist: the cache
must outlive the function (the caller materializes the result later),
and Spark's CacheManager keys entries by analyzed plan, so *identical
intermediates are shared across queries in a session* (e.g.
``dup_clusters`` reuses the pair query's shingle cache instead of
recomputing it — measured as the difference between 1x and 2x the pair
cost). Eviction is the cache's LRU job; only operators that fully
materialize internally (``connected_components``'s per-round loop)
unpersist their own frames. Long-lived sessions composing MANY dedup
queries should call :func:`release_session_caches` at natural
boundaries (the bench does, between query families) to drop the
accumulated frames instead of waiting on LRU pressure.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import planutil as PU
from ..functions import texthash as TH

logger = logging.getLogger(__name__)

# Production default: 64-bit fingerprints in 4 x 16-bit Hamming bands
# (Manku et al.'s web-scale near-dup geometry). Band occupancy measured
# at sf0.01: 0.4% of all pairs become candidates at 64/16-bit vs 89% at
# 32/8-bit (PERF.md) — at corpus scale the narrow bands are the
# difference between a candidate join and an accidental all-pairs.
SIMHASH_BITS = 64
SIMHASH_BANDS = 4
# Cross-engine oracle mirror: 32-bit prints from the shared 31-bit
# token hash (the DuckDB twin reproduces these bit-exactly; md5-word
# extraction for the 64-bit path has no clean DuckDB integer form).
SIMHASH_ORACLE_BITS = 32
SIMHASH_ORACLE_BANDS = 4
SIMHASH_ORACLE_BAND_BITS = SIMHASH_ORACLE_BITS // SIMHASH_ORACLE_BANDS  # 8


def release_session_caches(spark) -> int:
    """Drop every SQL cache the session has accumulated (the operator-
    internal persists this module's lifetime policy leaves behind —
    shingle postings, band frames, fingerprints) and return the storage
    bytes that were held at release time.

    Call at natural session boundaries (after a burst of related
    queries, after a dedup campaign) — the policy that keeps caches
    alive for plan sharing within a burst of related queries is wrong
    for a session that moves on to unrelated work. The bench's one
    release rule (bench.py): every 25 items of a query family, after
    which the family's base tables are re-warmed, and at its end.
    """
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    held = int(sum(i.memSize() for i in infos))
    spark.catalog.clearCache()
    return held


def normalized(text: F.Column) -> F.Column:
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups over normalized text.

    Groups on ``md5(normalized)`` (both engines ship md5), keeping the
    minimum id as the canonical representative. At scale the shuffle
    carries a 32-char digest instead of document bodies; collision risk
    at 128 bits is negligible (and detectable downstream).
    """
    return (
        docs.select(F.col(id_col), F.md5(normalized(F.col(text_col))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("canonical_doc_id", "n_copies")
    )


def _doc_shingles(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    # Two projections on purpose: the token-hash array must be a stored
    # column before the sliding-window combine indexes into it, or each
    # element_at re-runs the whole token-hash transform (see
    # texthash.shingle_hashes_from).
    th = docs.select(
        F.col(id_col).alias("doc_id"),
        TH.token_hashes(TH.tokens(F.col(text_col))).alias("_th"),
    )
    return th.select(
        "doc_id",
        TH.shingle_hashes_from(F.col("_th")).alias("sh"),
    )


def shingle_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs via postings join.

    |A∩B| is computed by self-joining the exploded (doc, shingle)
    postings list on the shingle hash — only pairs sharing at least one
    shingle are ever materialized. Jaccard then needs only the two set
    sizes. This is the textbook scalable exact-Jaccard plan: shuffle is
    bounded by postings volume and true-pair count, not n².
    """
    # Persist: postings, sizes, and both ends of the size join all read
    # the shingle sets; without caching the (HOF-interpreted) hashing
    # would be recomputed four times.
    sh = _doc_shingles(docs, text_col, id_col).persist()
    postings = sh.select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("h"))

    # Length-ratio prune inside the join: J(A,B) <= min(|A|,|B|)/max(|A|,|B|),
    # so any pair violating the size ratio can never reach the threshold.
    # Exact-semantics-preserving, and it cuts the pair blowup on corpora
    # where a few shingles are near-universal.
    a, b = postings.alias("a"), postings.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") >= F.col("a.n") * threshold)
            & (F.col("a.n") >= F.col("b.n") * threshold),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sizes = sh.select("doc_id", F.size("sh").alias("n"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", TH.quantized6(F.col("jaccard")).alias("jaccard"))
    )


def shingle_containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
) -> DataFrame:
    """Asymmetric shingle containment: |A∩B| / |A| >= ``threshold``.

    Jaccard misses excerpts — a paragraph quoted inside a much longer
    document has low Jaccard but containment ~1 — and excerpt-level
    duplication is exactly what inflates a training corpus. Directional
    by construction: ``(doc_a, doc_b)`` means A's shingles are mostly
    inside B (identical docs appear in both directions).

    Same inverted-postings self-join as the Jaccard path, with the
    one-sided prune ``|B| >= threshold * |A|`` (B cannot contain
    ``threshold*|A|`` of A's shingles with fewer than that many of its
    own) — semantics-preserving, and it kills the long-tail of
    tiny-B candidates.
    """
    sh = _doc_shingles(docs, text_col, id_col).persist()
    postings = sh.select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("h"))
    a, b = postings.alias("a"), postings.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.col("b.n") >= F.col("a.n") * threshold),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sizes = sh.select(F.col("doc_id").alias("doc_a"), F.size("sh").alias("n_a"))
    return (
        inter.join(sizes, "doc_a")
        .withColumn("containment", F.col("n_common") / F.col("n_a"))
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", TH.quantized6(F.col("containment")).alias("containment"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified with exact Jaccard.

    Pipeline: (1) k=32 minhashes per doc — an array fold, no shuffle;
    (2) 8 bands × 4 rows; a band key is the 4 minhash values packed
    into one string; (3) docs sharing any band bucket become candidate
    pairs (self-join per band); (4) candidates are verified against the
    exact shingle-set Jaccard and thresholded.

    At 100 TB: signatures are 32 longs/doc regardless of doc size; the
    only joins run on band buckets (bounded by collision rate, tunable
    via bands×rows) and candidate verification reuses the stored
    shingle arrays via array_intersect — never a full postings join.
    """
    sh = _doc_shingles(docs, text_col, id_col).persist()
    sig = sh.select("doc_id", "sh", *[
        m.alias(f"mh{i}") for i, m in enumerate(TH.minhash_signature(F.col("sh")))
    ])

    band_keys = F.array(*[
        F.concat_ws(
            ":",
            F.lit(str(band)),
            *[F.col(f"mh{band * TH.LSH_ROWS + r}") for r in range(TH.LSH_ROWS)],
        )
        for band in range(TH.LSH_BANDS)
    ])
    # Persist: the self-join reads the band frame from both sides; the
    # cache boundary keeps the 32 minhash folds at once per doc.
    bands = sig.select("doc_id", F.explode(band_keys).alias("band_key")).persist()

    x, y = bands.alias("x"), bands.alias("y")
    candidates = (
        x.join(y, (F.col("x.band_key") == F.col("y.band_key"))
               & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )

    da = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    db = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        candidates.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", TH.quantized6(F.col("jaccard")).alias("jaccard"))
    )
    return verified


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_common: int = 2,
    same_corpus: bool = False,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at
    least ``min_common`` word-3-gram shingles with any eval-set
    document.

    The canonical pre-training hygiene step — eval answers leaking into
    the training corpus inflate benchmark scores — expressed as the
    shingle postings join: training postings join eval postings on the
    shingle hash, so only (train, eval) pairs that actually share an
    n-gram are ever materialized. The eval set is small by nature, so
    at 100 TB the join broadcasts the eval postings and the corpus
    streams through without shuffling.

    Returns ``(doc_id, eval_doc_id, n_common)`` — every contaminated
    (train, eval) pair with its shared-shingle count; anti-join the
    distinct doc_ids against the corpus to cut the clean set.

    Set ``same_corpus=True`` only when train and eval are slices of ONE
    id namespace (then a shared id really is the same document and
    self-pairs are noise). Train and eval normally come from
    independent corpora whose ids can coincide by accident — filtering
    ``doc_id != eval_doc_id`` there would silently drop a genuine
    contamination pair, so the default keeps every pair.
    """
    train = _doc_shingles(docs, text_col, id_col)
    ev = _doc_shingles(eval_docs, text_col, id_col)
    tp = train.select("doc_id", F.explode("sh").alias("h"))
    ep = ev.select(F.col("doc_id").alias("eval_doc_id"), F.explode("sh").alias("h"))
    joined = tp.join(F.broadcast(ep), "h")
    if same_corpus:
        joined = joined.filter(F.col("doc_id") != F.col("eval_doc_id"))
    return (
        joined.groupBy("doc_id", "eval_doc_id")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


def simhash_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Frequency-weighted SimHash fingerprint per document.

    Each token occurrence votes ±1 on each fingerprint bit according to
    its hash's bit; the fingerprint sets bits with positive vote sums.
    Explode + groupBy(doc) — partial aggregation compresses the shuffle
    to one row per (doc, ``bits`` counters).

    ``bits=64`` (default) is the production web-scale geometry (Manku
    et al.'s near-duplicate layout): votes come from two independent
    32-bit md5 words per token, and the fingerprint is assembled with
    shift-OR (bit 63 has no positive power-of-two long, so additive
    assembly would overflow). ``bits=32`` votes from the 31-bit
    cross-engine token hash and is what the DuckDB oracle mirrors
    (``SIMHASH_ORACLE_BITS`` — kept for the correctness gate).
    """
    if bits == 64:
        m = F.md5(F.col("_tok"))
        toks = (
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.explode(TH.tokens(F.col(text_col))).alias("_tok"),
            )
            .select(
                "doc_id",
                F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("w_hi"),
                F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("w_lo"),
            )
        )
        word = lambda j: F.col("w_lo") if j < 32 else F.col("w_hi")  # noqa: E731
        bit_of = lambda j: F.shiftright(word(j), j % 32).bitwiseAND(F.lit(1))  # noqa: E731
    elif bits == SIMHASH_ORACLE_BITS:
        toks = docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(TH.token_hashes(TH.tokens(F.col(text_col)))).alias("h"),
        )
        bit_of = lambda j: F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))  # noqa: E731
    else:
        raise ValueError(f"unsupported simhash width: {bits}")
    votes = [
        F.sum(F.when(bit_of(j) == 1, 1).otherwise(-1)).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    fingerprint = F.lit(0).cast("long")
    for j in range(bits):
        fingerprint = fingerprint.bitwiseOR(
            F.when(
                F.col(f"v{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)
            ).otherwise(F.lit(0).cast("long"))
        )
    return agg.select("doc_id", fingerprint.alias("simhash"))


SIMHASH_REFINE_MIN_DOCS = 20_000


def simhash_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int | None = None,
    bits: int = SIMHASH_BITS,
    bands: int = SIMHASH_BANDS,
    refine: bool | None = None,
) -> DataFrame:
    """SimHash near-dup pairs via Hamming-banded candidates.

    The fingerprint splits into ``bands`` equal bit-bands; documents
    sharing any band value become candidates, then candidates are
    verified with the exact Hamming distance (``bit_count(a XOR b)``).
    Pigeonhole guarantee: a pair differing in at most ``bands - 1``
    bits must agree on at least one whole band, so for the default
    ``max_hamming = bands - 1`` the candidate set is *exhaustive* and
    the result is exact — banding only prunes, never misses.

    Geometries: the default ``bits=64, bands=4`` is the production
    web-scale layout (Manku et al.) — 16-bit bands give 2^16 buckets
    per band, so random collisions (candidate occupancy) drop by ~2^8
    per band while the ham<=3 pigeonhole exactness is unchanged. The
    32-bit / 4 x 8-bit-band layout survives as the DuckDB oracle mirror
    (``SIMHASH_ORACLE_*``). Measured at sf0.01: 89%% of all pairs are
    candidates at 32/8-bit vs 0.4%% at 64/16-bit (see PERF.md).

    Scale: fingerprints are one long per doc; the only join runs on a
    small integer band key, and verification is two integer ops per
    candidate. HOT-BUCKET refinement (round 10): one-level banding is
    quadratic in band-bucket occupancy, and real corpora have hot
    buckets — boilerplate/templated documents whose fingerprints
    cluster (measured at the generated sf1.0: one 16-bit bucket held
    3,061 of 50,000 docs → 20.3M candidates for 15,363 true pairs).
    When ``max_hamming <= bands - 1`` the candidate key is therefore
    REFINED with a second pigeonhole over the complement (Manku et
    al.'s block-permutation idea, WWW'07): a pair within ``bands - 1``
    Hamming agrees on some full band i, and its <= bands-1 remaining
    mismatches all live in the other ``bits - band_bits`` bits — which,
    split into ``bands`` equal sub-bands, must leave some sub-band j
    clean too. Joining on (i, j, band_i value, sub_j value) is still
    EXHAUSTIVE (same output, oracle untouched), but the key carries
    band_bits + sub_bits of entropy, collapsing hot-bucket occupancy
    by ~2^sub_bits at the cost of bands² exploded rows per doc
    instead of bands. Refinement costs fixed overhead that only pays
    off once buckets heat up, so ``refine=None`` decides from a
    bounded corpus count: flat below SIMHASH_REFINE_MIN_DOCS (every
    gated SF keeps its exact current plan), refined above. Measured
    at the generated sf1.0: 36.8 s flat → 21.3 s refined, identical
    15,363-pair output (PERF.md round-10 scaling study).
    """
    if bits % bands != 0:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    band_bits = bits // bands
    if max_hamming is None:
        max_hamming = bands - 1
    fp = simhash_fingerprints(docs, text_col, id_col, bits=bits).persist()
    mask = (1 << band_bits) - 1
    # Arithmetic shiftright is safe even for negative 64-bit prints:
    # the AND mask strips the sign-extension bits.
    band_vals = [
        F.shiftright(F.col("simhash"), band * band_bits).bitwiseAND(F.lit(mask))
        for band in range(bands)
    ]
    comp_bits = bits - band_bits
    # Structural applicability first: the gated 32-bit/8-band variant
    # (28 % 8 != 0) can never refine, so it must not pay the count
    # action deciding a knob it cannot use.
    refinable = max_hamming <= bands - 1 and comp_bits % bands == 0
    if refine is None:
        # one column-pruned count — the established bounded-scalar
        # pattern (cheap next to any candidate join)
        refine = refinable and docs.count() >= SIMHASH_REFINE_MIN_DOCS
    if refine and refinable:
        # Two-level keys: (band i, sub-band j of i's complement).
        sub_bits = comp_bits // bands
        sub_mask = (1 << sub_bits) - 1
        keys = []
        for i in range(bands):
            # the 48-bit complement of band i, other bands low-to-high
            # (disjoint shifted spans, so + is bitwise-or)
            comp = None
            for t, k in enumerate(k for k in range(bands) if k != i):
                term = F.shiftleft(band_vals[k], t * band_bits)
                comp = term if comp is None else comp + term
            for j in range(bands):
                sub = F.shiftright(comp, j * sub_bits).bitwiseAND(F.lit(sub_mask))
                tag = (i * bands + j) << (band_bits + sub_bits)
                keys.append(
                    (
                        F.lit(tag)
                        + F.shiftleft(band_vals[i], sub_bits)
                        + sub
                    ).cast("long")
                )
        band_keys = F.array(*keys)
    else:
        # Flat banding: callers asking for ham > bands-1 accept the
        # documented recall loss; refinement would change it further.
        band_keys = F.array(*[
            (F.lit(band << band_bits) + band_vals[band]).cast("long")
            for band in range(bands)
        ])
    bands = fp.select("doc_id", F.explode(band_keys).alias("band_key"))
    x, y = bands.alias("x"), bands.alias("y")
    candidates = (
        x.join(y, (F.col("x.band_key") == F.col("y.band_key"))
               & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    return (
        candidates.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str,
    a_col: str,
    b_col: str,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of an undirected pair graph by iterative
    min-label propagation.

    Each round every node adopts the smallest cluster id among itself
    and its neighbors; a fixpoint is reached after ``diameter`` rounds
    (near-dup clusters are shallow, so typically 2-3). Every iteration
    is a distributed ``join`` + ``groupBy(min)`` on the edge list
    (shuffle proportional to edges, never n^2); the driver only checks
    a changed-row *count* per round, and ``localCheckpoint`` truncates
    the growing lineage. For adversarial long-chain graphs at 100 TB
    the drop-in upgrade is the large-star/small-star algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond")
    which converges in O(log n) rounds with the same join-shaped
    iterations.

    Returns one row per node: ``(<id_col>, cluster_id, is_canonical)``
    — singletons cluster with themselves, and the minimum id in each
    component is the canonical survivor.

    Only nodes that appear in ``pairs`` ride through the iterations:
    in a near-dup graph the overwhelming majority of a corpus is
    singleton, so propagating over the pair graph alone keeps the
    per-round joins proportional to *duplicates*, not corpus size —
    singletons join back in once at the end as their own cluster.
    """
    # Both edge directions from ONE pass over the pair pipeline: the
    # old shape (persist fwd, union fwd with its mirror) referenced the
    # fwd frame twice, and under AQE both leaf exchanges materialized
    # CONCURRENTLY — each computing the (expensive) pair pipeline
    # before the lazy cache had filled (r12 measurement: two identical
    # 1.8 s stage-jobs per clusters query). explode emits both
    # directions from a single scan, so there is nothing to race.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                ),
                F.struct(
                    F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst").persist()

    # Both edge directions exist, so `src` alone covers every node of
    # the pair graph. Rounds use the LAZY localCheckpoint
    # (functions/planutil.py): lineage still truncates to a LogicalRDD
    # per round (bounded driver planning), but the materialize-and-
    # checkpoint job and the changed-count job fuse into ONE action per
    # round — the count reads through the checkpoint-marked RDD,
    # storing its blocks as a side effect (half the per-round jobs of
    # the old eager form).
    labels = PU.lazy_local_checkpoint(
        edges.select(F.col("src").alias("_nid"))
        .distinct()
        .select("_nid", F.col("_nid").cast("long").alias("cluster_id"))
    )

    changed = 0
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels.withColumnRenamed("_nid", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        merged = PU.lazy_local_checkpoint(
            labels.join(nbr_min, labels["_nid"] == nbr_min["src"], "left")
            .select(
                labels["_nid"],
                labels["cluster_id"].alias("old_cluster"),
                F.least(
                    labels["cluster_id"],
                    F.coalesce(F.col("nbr_min"), labels["cluster_id"]),
                ).alias("cluster_id"),
            )
        )
        changed = merged.filter(F.col("cluster_id") < F.col("old_cluster")).count()
        labels = merged.select("_nid", "cluster_id")
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        # A silent partial fixpoint would split one component into
        # several internally inconsistent clusters (possible when the
        # graph diameter exceeds max_iter — e.g. a long dup chain).
        # Fall back to the O(log n)-round star algorithm, which cannot
        # hit this wall at any realistic max_iter.
        logger.warning(
            "connected_components: not converged after %d rounds "
            "(%d labels still changing) — falling back to "
            "connected_components_star",
            max_iter,
            changed,
        )
        return connected_components_star(nodes, pairs, id_col, a_col, b_col)
    return (
        nodes.select(F.col(id_col))
        .join(labels.withColumnRenamed("_nid", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col).cast("long")).alias(
                "cluster_id"
            ),
            (
                F.coalesce(F.col("cluster_id"), F.col(id_col).cast("long"))
                == F.col(id_col).cast("long")
            ).alias("is_canonical"),
        )
    )


def connected_components_star(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str,
    a_col: str,
    b_col: str,
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond" — the published O(log n)-round algorithm).

    Same output contract as ``connected_components``; use this variant
    when the pair graph may contain *long chains* (diameter ~ n), where
    min-label propagation needs diameter rounds but star contraction
    needs logarithmically many:

    - large-star: every node links its larger neighbors to the minimum
      of its closed neighborhood;
    - small-star: every node links its smaller neighbors (and itself)
      to that minimum.

    Each half-round is one ``groupBy(min)`` + one join on the edge
    list + ``distinct`` — the same shuffle shape as propagation, just
    contracting the graph geometrically instead of walking it. The
    fixpoint test (`exceptAll` both ways) is exact; at the fixpoint the
    edge set is a star forest pointing every node at its component
    minimum.
    """
    fwd = pairs.select(
        F.col(a_col).cast("long").alias("u"), F.col(b_col).cast("long").alias("v")
    ).persist()

    def _mins(e: DataFrame) -> DataFrame:
        return (
            e.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least(F.col("u"), F.col("mv")).alias("m"))
        )

    edges = (
        fwd.union(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    changed = 0
    for _ in range(max_iter):
        # large-star: (v, m(u)) for v in Γ(u), v > u
        m1 = _mins(edges)
        large = (
            edges.filter(F.col("v") > F.col("u"))
            .join(m1, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: (v, m(u)) for v in Γ(u), v <= u, plus (u, m(u))
        m2 = _mins(large)
        small = (
            large.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        sym = small.union(
            small.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct().localCheckpoint(eager=True)
        changed = (
            sym.exceptAll(edges).count() + edges.exceptAll(sym).count()
        )
        edges = sym
        if changed == 0:
            break
    if changed != 0:
        # O(log n) convergence makes this unreachable below ~2^max_iter
        # nodes; if it ever fires, the labeling below may split
        # components — surface it instead of returning silently.
        raise RuntimeError(
            f"connected_components_star: not converged after {max_iter} "
            f"rounds ({changed} edges still changing); raise max_iter"
        )
    # Star forest: every non-root points at its component minimum.
    labels = edges.filter(F.col("v") < F.col("u")).groupBy("u").agg(
        F.min("v").alias("cluster_id")
    )
    fwd.unpersist()
    return (
        nodes.select(F.col(id_col))
        .join(
            labels.select(F.col("u").alias(id_col), "cluster_id"), id_col, "left"
        )
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col).cast("long")).alias(
                "cluster_id"
            ),
            (
                F.coalesce(F.col("cluster_id"), F.col(id_col).cast("long"))
                == F.col(id_col).cast("long")
            ).alias("is_canonical"),
        )
    )


def dup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over the MinHash near-dup pair graph.

    Near-dup *pairs* are not a dedup decision: a-b and b-c dups must
    collapse to ONE surviving document, which requires the transitive
    closure — see ``connected_components`` for the propagation plan.
    ``is_canonical`` selects the deduplicated corpus.
    """
    pairs = minhash_lsh_pairs(docs, text_col, id_col, threshold)
    return connected_components(
        docs, pairs, id_col=id_col, a_col="doc_a", b_col="doc_b", max_iter=max_iter
    )


def decontaminated_corpus(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_common: int = 2,
) -> DataFrame:
    """The corpus CUT that :func:`decontaminate` reports on: drop every
    training document sharing >= ``min_common`` shingles with the eval
    set, keep the rest.

    Plan: the contaminated-id set (tiny — bounded by |flagged docs|)
    comes from the same broadcast postings join, then a LEFT ANTI join
    removes those ids from the training stream — the corpus is filtered
    in one pass and document bodies never shuffle. Returns
    ``(doc_id,)`` of surviving documents.
    """
    flagged = (
        decontaminate(train, eval_set, text_col, id_col, min_common=min_common)
        .select("doc_id")
        .distinct()
    )
    return train.select(F.col(id_col).alias("doc_id")).join(
        F.broadcast(flagged), "doc_id", "left_anti"
    )


def canonical_best(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Quality-aware canonical selection over the near-dup clusters:
    instead of ``dup_clusters``' min-id survivor, each cluster keeps
    its LONGEST member (ties -> smallest id) — the "keep the most
    complete version" curation policy (a truncated crawl of a page
    should lose to the full one).

    The argmax is a single ``max(struct(n_chars, -id))`` partial
    aggregate over the cluster id — no window, no self-join; cluster
    cardinality bounds the group size. The oracle states the same
    policy independently via ``row_number`` over the recursive-CTE
    closure.

    Returns ``(cluster_id, best_doc_id, best_n_chars, n_members)``.
    """
    clusters = dup_clusters(docs, text_col=text_col, id_col=id_col, threshold=threshold)
    meta = docs.select(F.col(id_col).alias("doc_id"), F.length(F.col(text_col)).alias("n_chars"))
    j = clusters.select("doc_id", "cluster_id").join(meta, "doc_id")
    return (
        j.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))).alias("b"),
        )
        .select(
            "cluster_id",
            (-F.col("b.neg_id")).alias("best_doc_id"),
            F.col("b.n_chars").cast("long").alias("best_n_chars"),
            "n_members",
        )
    )


PR_ITERS = 5
PR_DAMP_MILLI = 850  # damping factor in milli (0.85)
PR_TELEPORT_PPM = 150_000  # (1 - d) in ppm of the unit rank
PR_INIT_PPM = 1_000_000


def pagerank(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    iters: int = PR_ITERS,
) -> DataFrame:
    """Integer-exact PageRank over the MinHash near-dup graph — a
    centrality signal for canonical selection (the most-connected
    version of a duplicated page is usually the authoritative one) and
    the engine's iterative-graph-algorithm template beyond connected
    components.

    The recurrence is ALL-INTEGER so a fixed iteration count is
    bit-reproducible on any engine: ranks in ppm, per-edge contribution
    ``(850 * rank) div (1000 * degree)``, update
    ``150000 + sum(contribs)`` (the standard simplified teleport; mass
    lost to integer floors and dangling nodes is deliberately not
    redistributed — determinism over stochastic purity). The oracle
    UNROLLS the same recurrence as chained CTEs.

    Each iteration is one edge-join + one groupBy(dst) — shuffle
    proportional to edges, the same shape as ``connected_components``.
    Isolated nodes converge to the teleport floor immediately.

    Returns ``(doc_id, rank_ppm)`` for every document.
    """
    pairs = minhash_lsh_pairs(docs, text_col, id_col, threshold).select(
        "doc_a", "doc_b"
    )
    # Construction must stay action-free (plan audits, registry
    # enumeration, schema inspection), but each round's LOGICAL plan
    # must also stay round-sized: the previous lazy-persist scheme kept
    # execution incremental while the analyzed tree still inlined the
    # full upstream pipeline once per round, and the driver spent more
    # wall time re-analyzing/re-optimizing those nested trees than the
    # executors spent computing them (r12 measurement: jobs summed to
    # ~70% of wall on the first run and repeats got slower as the
    # cached-plan matcher accumulated entries). lazy_local_checkpoint
    # truncates each round to a LogicalRDD leaf with NO job at
    # construction — see functions/planutil.py for the mechanism and
    # the measured numbers.
    edges = PU.lazy_local_checkpoint(
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
    )
    deg = PU.lazy_local_checkpoint(
        edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    )
    nodes = docs.select(F.col(id_col).alias("doc_id"))
    ranks = nodes.withColumn("rank_ppm", F.lit(PR_INIT_PPM).cast("long"))
    for _ in range(iters):
        contribs = (
            edges.join(ranks, edges["src"] == ranks["doc_id"])
            .join(deg, "src")
            .select(
                F.col("dst"),
                F.expr(
                    f"({PR_DAMP_MILLI} * rank_ppm) div (1000 * outdeg)"
                ).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("incoming"))
        )
        ranks = PU.lazy_local_checkpoint(
            nodes.join(contribs, nodes["doc_id"] == contribs["dst"], "left")
            .select(
                "doc_id",
                (
                    F.lit(PR_TELEPORT_PPM) + F.coalesce(F.col("incoming"), F.lit(0))
                )
                .cast("long")
                .alias("rank_ppm"),
            )
        )
    return ranks


LP_ITERS = 4


def label_propagation(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    iters: int = LP_ITERS,
) -> DataFrame:
    """Community detection on the MinHash near-dup graph by synchronous
    label propagation (Raghavan et al., "Near linear time algorithm to
    detect community structures in large-scale networks") — the
    modularity-flavored complement to :func:`connected_components`:
    CC answers "is there ANY dup path between these docs", LP answers
    "which densely-duplicated neighborhood does this doc belong to",
    which splits bridge-connected mega-components into their dense
    cores (template families, mirror farms) for per-community
    canonical selection.

    Fully deterministic for the oracle: every node starts labeled with
    its own id; each synchronous round every node adopts the most
    frequent label in its CLOSED neighborhood (itself + neighbors),
    ties broken by SMALLEST label. The self-vote is the standard
    damper for synchronous LP's bipartite oscillation (a 2-node
    component would otherwise swap labels forever); it also means
    isolated nodes need no special case — their self-vote is the only
    one. A fixed iteration count (default 4) makes the recurrence
    engine-independent; the DuckDB twin UNROLLS the same rounds as
    chained CTEs.

    Each round is one edge-join + two hash aggregations — shuffle
    proportional to EDGES (the same shape as ``pagerank``), never
    all-pairs. Three plan-shape choices, all r12-measured
    (OPTIMIZATION_r12.md):

    - The self-vote is folded into the edge list as SELF-LOOPS (one
      ``(v, v)`` edge per node, added once before the loop) instead of
      a per-round ``unionByName(labels)``: the vote multiset per node
      is identical, but ``labels`` is referenced ONCE per round, so
      the logical tree grows linearly with rounds instead of doubling
      each round (the old plan was 4,506 formatted lines / 646
      Exchanges; see plans/r12/).
    - The per-node argmax is ``max(struct(c, -label))`` — a partially
      aggregated hash agg (map-side combine, no sort) — instead of a
      ``row_number`` window. Ties are impossible on (c, label) since
      (doc_id, label) rows are unique, so "max count, then smallest
      label" is exactly the old window's ``rn = 1`` row.
    - Each round is lineage-truncated with a lazy localCheckpoint
      (functions/planutil.py) so the driver analyzes round-sized
      plans; construction stays action-free.

    Returns ``(doc_id, community, n_members)`` for every document —
    singletons form their own size-1 community.
    """
    pairs = minhash_lsh_pairs(docs, text_col, id_col, threshold).select(
        "doc_a", "doc_b"
    )
    nodes = docs.select(F.col(id_col).alias("doc_id"))
    edges = PU.lazy_local_checkpoint(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .unionByName(  # self-loops carry the self-vote (see docstring)
            nodes.select(
                F.col("doc_id").alias("src"), F.col("doc_id").alias("dst")
            )
        )
    )
    labels = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(id_col).cast("long").alias("label"),
    )
    for _ in range(iters):
        votes = (
            edges.join(labels.withColumnRenamed("doc_id", "src"), "src")
            .select(F.col("dst").alias("doc_id"), "label")
            .groupBy("doc_id", "label")
            .agg(F.count("*").alias("c"))
        )
        labels = PU.lazy_local_checkpoint(
            votes.groupBy("doc_id")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("neg"))
                ).alias("m")
            )
            .select("doc_id", (-F.col("m.neg")).cast("long").alias("label"))
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("n_members"))
    return labels.join(sizes, "label").select(
        "doc_id", F.col("label").alias("community"), "n_members"
    )


def minhash_calibration(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Sketch-calibration report: for every verified near-dup pair,
    the MinHash ESTIMATE of Jaccard (matching signature components /
    k) next to the exact value — the measurement that justifies
    trusting the sketch when the corpus outgrows exact verification.
    E[matches/k] = J is the MinHash guarantee; this query measures the
    realized error on live data.

    All-integer outputs: exact Jaccard as ppm from shingle counts,
    estimate as matches-of-32 and ppm, absolute error in ppm.

    Returns ``(doc_a, doc_b, jac_ppm, est_match_k, est_ppm,
    abs_err_ppm)``.
    """
    sh = _doc_shingles(docs, text_col, id_col)
    sig = sh.select(
        "doc_id", F.array(*TH.minhash_signature(F.col("sh"))).alias("sig")
    )
    pairs = minhash_lsh_pairs(docs, text_col, id_col, threshold).select(
        "doc_a", "doc_b"
    )
    a_sh = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b_sh = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    a_sig = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    b_sig = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    j = pairs.join(a_sh, "doc_a").join(b_sh, "doc_b").join(a_sig, "doc_a").join(
        b_sig, "doc_b"
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    est = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    k = len(TH.MINHASH_AB)
    return (
        j.withColumn("n_common", inter)
        .withColumn(
            "n_union", F.size("sh_a") + F.size("sh_b") - F.col("n_common")
        )
        .withColumn("est_match_k", est.cast("long"))
        .select(
            "doc_a",
            "doc_b",
            F.expr("n_common * 1000000 div n_union").alias("jac_ppm"),
            "est_match_k",
            F.expr(f"est_match_k * 1000000 div {k}").alias("est_ppm"),
            F.expr(
                f"abs(est_match_k * 1000000 div {k}"
                " - n_common * 1000000 div n_union)"
            ).alias("abs_err_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Round-5 additions: delta-vs-corpus dedup + per-doc contamination score
# ---------------------------------------------------------------------------


def _band_frame(sh: DataFrame) -> DataFrame:
    """(doc_id, band_key) from a shingle frame — the minhash_lsh_pairs
    banding (8 bands x 4 rows, string-packed keys), factored so
    delta-vs-base dedup bands BOTH sides with identical keys."""
    sig = sh.select("doc_id", *[
        m.alias(f"mh{i}") for i, m in enumerate(TH.minhash_signature(F.col("sh")))
    ])
    band_keys = F.array(*[
        F.concat_ws(
            ":",
            F.lit(str(band)),
            *[F.col(f"mh{band * TH.LSH_ROWS + r}") for r in range(TH.LSH_ROWS)],
        )
        for band in range(TH.LSH_BANDS)
    ])
    return sig.select("doc_id", F.explode(band_keys).alias("band_key"))


def incremental_dedup(
    base: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Delta-vs-corpus near-dup detection — the DAILY-CRAWL shape: a
    new document batch (delta) checks itself against the accumulated
    corpus (base) WITHOUT re-pairing the corpus against itself.

    This is how dedup actually runs at 100 TB: the base corpus's
    signatures/bands are computed once and stored (here recomputed —
    the plan is identical when they come off parquet); the delta bands
    (tiny) hash-join against the base bands, so per-drop cost is
    O(delta x collision rate), never O(corpus^2) and never even
    O(corpus) shuffle — the base side shuffles only its band keys.
    Candidates verify with exact shingle Jaccard, same as
    :func:`minhash_lsh_pairs`.

    Returns ``(delta_doc_id, base_doc_id, jaccard)``.
    """
    bsh = _doc_shingles(base, text_col, id_col).persist()
    dsh = _doc_shingles(delta, text_col, id_col).persist()
    bb = _band_frame(bsh).select(
        F.col("doc_id").alias("base_doc_id"), "band_key"
    )
    db = _band_frame(dsh).select(
        F.col("doc_id").alias("delta_doc_id"), "band_key"
    )
    cand = db.join(bb, "band_key").select("delta_doc_id", "base_doc_id").distinct()
    da = dsh.select(F.col("doc_id").alias("delta_doc_id"), F.col("sh").alias("sh_d"))
    ba = bsh.select(F.col("doc_id").alias("base_doc_id"), F.col("sh").alias("sh_b"))
    return (
        cand.join(da, "delta_doc_id")
        .join(ba, "base_doc_id")
        .withColumn("n_common", F.size(F.array_intersect("sh_d", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("sh_d") + F.size("sh_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "delta_doc_id", "base_doc_id",
            TH.quantized6(F.col("jaccard")).alias("jaccard"),
        )
    )


def contamination_score(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Graded contamination: the fraction (ppm) of each training doc's
    distinct shingles that appear ANYWHERE in the eval set —
    :func:`decontaminate`'s binary verdict generalized to a score, so
    curation can cut at a chosen severity instead of all-or-nothing.

    The eval shingle SET (not postings) broadcasts; the corpus postings
    stream through one broadcast semi-join + per-doc count. Every doc
    is reported (LEFT join — zero-score rows included), all-integer.

    Returns ``(doc_id, n_shingles, n_shared, shared_ppm)``.
    """
    train = _doc_shingles(docs, text_col, id_col)
    ev_set = (
        _doc_shingles(eval_docs, text_col, id_col)
        .select(F.explode("sh").alias("h"))
        .distinct()
    )
    tp = train.select("doc_id", F.explode("sh").alias("h"))
    shared = (
        tp.join(F.broadcast(ev_set), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    sizes = train.select("doc_id", F.size("sh").alias("n_shingles"))
    return (
        sizes.join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.expr(
                "(coalesce(n_shared, 0) * CAST(1000000 AS BIGINT)) div n_shingles"
            ).alias("shared_ppm"),
        )
    )


def cross_source_dup_matrix(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate provenance matrix: for every unordered source
    pair, how many verified near-dup pairs cross it and their summed
    similarity — the audit that tells a corpus curator WHICH feeds
    duplicate each other (crawl-vs-crawl overlap, a mirror site, a
    dataset republished under two names) before choosing what to drop.

    Built on the banded-LSH pair generator (`minhash_lsh_pairs` — cost
    bounded by band collisions, never n²); the only additional work is
    joining the (small) verified-pair set against the 2-column
    ``doc_id → source`` projection, then a #sources²-key aggregate.
    Shuffle ∝ pairs + one pruned scan; similarity mass is summed as
    integer ppm, never a cross-engine double sum.

    Returns ``(src_lo, src_hi, n_pairs, sum_jaccard_ppm)``.
    """
    pairs = minhash_lsh_pairs(docs, text_col, id_col, threshold)
    src = docs.select(F.col(id_col).alias("doc_id"), F.col(source_col).alias("src"))
    labeled = (
        pairs.join(src.toDF("doc_a", "src_a"), "doc_a")
        .join(src.toDF("doc_b", "src_b"), "doc_b")
    )
    return (
        labeled.select(
            F.least("src_a", "src_b").alias("src_lo"),
            F.greatest("src_a", "src_b").alias("src_hi"),
            F.round(F.col("jaccard") * 1e6).cast("long").alias("j_ppm"),
        )
        .groupBy("src_lo", "src_hi")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("j_ppm").cast("long").alias("sum_jaccard_ppm"),
        )
    )


WJAC_DF_CAP = 16          # shingles in more docs than this weigh zero
WJAC_W_SCALE = 1_000_000
WJAC_THRESHOLD_PPM = 500_000


def weighted_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int = WJAC_DF_CAP,
    threshold_ppm: int = WJAC_THRESHOLD_PPM,
) -> DataFrame:
    """Inverse-df-WEIGHTED Jaccard near-dup pairs: each shingle weighs
    ``1e6 div df`` (its rarity), so two docs sharing distinctive
    content score high while docs agreeing only on corpus boilerplate
    (navigation chrome, license headers — high-df shingles) do NOT.
    Plain Jaccard treats both the same; weighted Jaccard is the
    similarity the curator usually means.

    Integer end-to-end: weights, per-doc totals, intersections and the
    final ppm ratio are all BIGINT — no cross-engine float drift.

    Scale: shingles with ``df > df_cap`` carry weight 0 and are
    DROPPED BEFORE the pair join — exact (they contribute nothing to
    either side of the ratio beyond union mass, which uses the same
    pruned weights) and it bounds the postings self-join at
    C(df_cap, 2) pairs per shingle, the same stop-shingle bound the
    plain-Jaccard plan gets from its length-ratio prune.

    Returns ``(doc_a, doc_b, wjac_ppm)`` for pairs at/above the
    threshold.
    """
    sh = _doc_shingles(docs, text_col, id_col)
    posts = sh.select("doc_id", F.explode("sh").alias("h"))
    dfreq = posts.groupBy("h").agg(F.count("*").alias("df"))
    w = dfreq.filter(F.col("df") <= df_cap).select(
        "h", F.expr(f"CAST({WJAC_W_SCALE} AS BIGINT) div df").alias("w")
    )
    # Persist (round 13): three plan branches read the weighted
    # postings (per-doc totals + both self-join sides); un-persisted,
    # each re-derived the shingle hash transform + df count + weight
    # join — the one operator in this family that skipped the module's
    # shared-subtree cache policy.
    wp = posts.join(w, "h").select("doc_id", "h", "w").persist()
    dw = wp.groupBy("doc_id").agg(F.sum("w").cast("long").alias("wtot"))

    a = wp.select(F.col("doc_id").alias("doc_a"), "h", "w")
    b = wp.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("w").cast("long").alias("w_inter"))
    )
    wa = dw.select(F.col("doc_id").alias("doc_a"), F.col("wtot").alias("w_a"))
    wb = dw.select(F.col("doc_id").alias("doc_b"), F.col("wtot").alias("w_b"))
    return (
        inter.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "(w_inter * CAST(1000000 AS BIGINT)) "
                "div (w_a + w_b - w_inter)"
            ).alias("wjac_ppm"),
        )
        .filter(F.col("wjac_ppm") >= threshold_ppm)
    )


def dedup_funnel(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Stage-wise dedup retention funnel — the audit table a corpus
    build publishes with every release: how many documents survive (a)
    raw, (b) exact dedup on normalized text, (c) near-dup collapse to
    MinHash-cluster canonicals. Retention is reported in ppm of raw so
    the three rows read as a funnel without a calculator.

    Each stage's count reuses the stage's own operator
    (:func:`exact_dedup`, :func:`dup_clusters`), so the funnel can
    never drift from what the pipeline actually does; the extra cost
    over running those operators is three global COUNTs (map-side
    combined single-row aggregates).

    Returns ``(stage_ord, stage, n_docs, retained_ppm)``.
    """
    n_raw = docs.agg(F.count("*").cast("long").alias("n_docs"))
    n_exact = exact_dedup(docs, text_col, id_col).agg(
        F.count("*").cast("long").alias("n_docs")
    )
    n_near = (
        dup_clusters(docs, text_col, id_col, threshold)
        .filter(F.col("is_canonical"))
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    stages = [
        (0, "raw", n_raw),
        (1, "exact_dedup", n_exact),
        (2, "near_dup_canonical", n_near),
    ]
    out = None
    for ord_, name, frame in stages:
        row = frame.select(
            F.lit(ord_).cast("long").alias("stage_ord"),
            F.lit(name).alias("stage"),
            "n_docs",
        )
        out = row if out is None else out.unionByName(row)
    base = n_raw.select(F.col("n_docs").alias("raw_docs"))
    return out.crossJoin(F.broadcast(base)).select(
        "stage_ord",
        "stage",
        "n_docs",
        # nullif: an empty corpus (raw_docs = 0) reports NULL retention
        # instead of an ANSI DIVIDE_BY_ZERO error.
        F.expr(
            "(n_docs * CAST(1000000 AS BIGINT)) div nullif(raw_docs, 0)"
        ).alias("retained_ppm"),
    )


def dup_graph_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Structure audit of the near-dup graph: triangle count, wedge
    count, and the global clustering coefficient — the one-row health
    report that distinguishes a corpus whose duplicates form tight
    mirror CLIQUES (clustering near 1; safe to collapse per cluster)
    from chain-like template drift (clustering near 0; collapsing a
    whole component would over-delete distinct documents).

    Scalable triangle plan: edges are canonical ``doc_a < doc_b``
    pairs, so each triangle ``a<b<c`` is counted exactly once by the
    two-path + closure join (``(a,b)⋈(b,c)⋈(a,c)``) — the standard
    ordered-edge enumeration whose shuffle is bounded by wedge count,
    never |V|². Wedges come from the integer degree aggregate
    (``Σ deg·(deg−1)/2``); all counters are BIGINT and the coefficient
    is integer milli (``3000·triangles div wedges``).

    Returns one row: ``(n_nodes, n_edges, n_wedges, n_triangles,
    global_clustering_milli)``.
    """
    # Persist (round 13): five plan branches read the verified pair
    # frame (degree build, edge count, and all three legs of the
    # triangle join); un-persisted, each re-ran the candidate verify
    # join outside contexts where the bench's primed-pairs cache
    # happens to cover it (the oracle gate, fresh sessions).
    edges = minhash_lsh_pairs(docs, text_col, id_col, threshold).select(
        "doc_a", "doc_b"
    ).persist()
    deg = (
        edges.select(F.col("doc_a").alias("node"))
        .unionAll(edges.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    node_stats = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.expr("deg * (deg - 1) div 2")).cast("long").alias("n_wedges"),
    )
    edge_stats = edges.agg(F.count("*").cast("long").alias("n_edges"))
    p1, p2, p3 = edges.alias("p1"), edges.alias("p2"), edges.alias("p3")
    tri = (
        p1.join(p2, F.col("p1.doc_b") == F.col("p2.doc_a"))
        .join(
            p3,
            (F.col("p3.doc_a") == F.col("p1.doc_a"))
            & (F.col("p3.doc_b") == F.col("p2.doc_b")),
        )
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return (
        node_stats.crossJoin(F.broadcast(edge_stats))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.expr("(3000 * n_triangles) div n_wedges"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("global_clustering_milli"),
        )
    )


def detector_agreement(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Detector evaluation against ground truth: precision/recall of
    each near-dup detector measured against the EXACT shingle-Jaccard
    pair set — the audit that decides which detector (and which
    band/radius settings) a 100 TB corpus can trust before exact
    verification becomes unaffordable. MinHash-LSH verifies candidates
    with exact Jaccard, so its precision is 1000 by construction and
    this report measures its band-miss RECALL; SimHash flags by
    Hamming radius — a different geometry — so both of its numbers are
    informative.

    Plan: the exact truth set is computed ONCE and persisted — it is
    read by three plan branches (the truth count and each detector's
    overlap join), and without the cache boundary every branch re-ran
    the full postings self-join (r12 measurement: the un-persisted
    form spent 30+ s across 48 jobs re-deriving it; see
    OPTIMIZATION_r12.md). Each detector then computes ``n_flagged``
    and ``n_overlap`` in ONE pass — a left join against the truth set
    with a match marker, counted by one aggregate — instead of two
    separate scalar-aggregate branches over the (expensive) flagged
    set. Flagged and truth pair sets are unique on (doc_a, doc_b), so
    the left join preserves row counts exactly. Returns one row per
    detector: ``(detector, n_flagged, n_true_pairs, n_overlap,
    precision_milli, recall_milli)``.
    """
    # Round 13 A/B (VERDICT r12 item 4, shrink the residual 1,152-line
    # plan by truncating the truth-set lineage): lazy_local_checkpoint
    # here was MEASURED WORSE than the persist — the un-materialized
    # checkpoint RDD is read by three CONCURRENT branches, and unlike
    # an InMemoryRelation (whose cachedPlan the concurrent AQE stages
    # share), racing jobs each computed the full postings pipeline
    # (twin 4.3 s jobs) and the baked subtree lost AQE coalescing
    # (7 stages x 193 fixed-width tasks). first/repeats 5.4/2.8 →
    # 8.3/5.3 s, so the persist stays; the big plan is driver text,
    # not runtime work.
    exact = (
        shingle_jaccard_pairs(docs, text_col, id_col, threshold)
        .select("doc_a", "doc_b")
        .persist()
    )
    truth_n = exact.agg(F.count("*").cast("long").alias("n_true_pairs"))
    detectors = {
        "minhash_lsh": minhash_lsh_pairs(
            docs, text_col, id_col, threshold
        ).select("doc_a", "doc_b"),
        # the oracle-geometry SimHash (32-bit, 4x8 bands) — the same
        # configuration docs_simhash_dup_pairs ships
        "simhash": simhash_dup_pairs(
            docs,
            text_col,
            id_col,
            bits=SIMHASH_ORACLE_BITS,
            bands=SIMHASH_ORACLE_BANDS,
        ).select("doc_a", "doc_b"),
    }
    rows = []
    for name, flagged in detectors.items():
        counts = (
            flagged.join(
                exact.withColumn("_hit", F.lit(1)), ["doc_a", "doc_b"], "left"
            )
            .agg(
                F.count("*").cast("long").alias("n_flagged"),
                F.count("_hit").cast("long").alias("n_overlap"),
            )
        )
        rows.append(
            counts.crossJoin(F.broadcast(truth_n))
            .select(
                F.lit(name).alias("detector"),
                "n_flagged",
                "n_true_pairs",
                "n_overlap",
                F.when(
                    F.col("n_flagged") > 0,
                    F.expr("(1000 * n_overlap) div n_flagged"),
                )
                .otherwise(F.lit(0).cast("long"))
                .alias("precision_milli"),
                F.when(
                    F.col("n_true_pairs") > 0,
                    F.expr("(1000 * n_overlap) div n_true_pairs"),
                )
                .otherwise(F.lit(0).cast("long"))
                .alias("recall_milli"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


SWEEP_FLOOR = 0.3                      # exact-pair pass threshold
SWEEP_MILLI = (300, 400, 500, 600, 700, 800, 900)


def jaccard_threshold_sweep(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    thresholds_milli: tuple[int, ...] = SWEEP_MILLI,
) -> DataFrame:
    """Dedup-threshold tuning curve: how many pairs (and how many
    distinct documents) a Jaccard cut at each threshold would flag —
    the measurement behind the single most consequential dedup knob.
    Read it as a survival curve: a cliff between two thresholds means
    a template family sits at that similarity; flat regions are safe
    places to put the cut.

    One EXACT pair pass at the floor threshold (postings join with the
    floor's length-ratio prune — everything above the floor is exact,
    the curve below it is out of scope by construction), then each
    threshold is a conditional aggregate over the same verified pair
    table: the sweep costs one pass however many thresholds it reports.
    Comparisons happen on the 1e-6-quantized Jaccard against exact
    milli literals — both engines bucket identically.

    Returns ``(threshold_milli, n_pairs, n_docs_flagged)``.
    """
    pairs = shingle_jaccard_pairs(
        docs, text_col, id_col, threshold=SWEEP_FLOOR
    ).persist()
    th = F.explode(
        F.array(*[F.lit(t).cast("long") for t in thresholds_milli])
    ).alias("threshold_milli")
    tagged = pairs.select("doc_a", "doc_b", "jaccard", th).filter(
        F.col("jaccard") >= F.col("threshold_milli") / 1000.0
    )
    docs_flagged = (
        tagged.select(
            "threshold_milli", F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .groupBy("threshold_milli")
        .agg(F.countDistinct("d").cast("long").alias("n_docs_flagged"))
    )
    pair_counts = tagged.groupBy("threshold_milli").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    return pair_counts.join(docs_flagged, "threshold_milli").select(
        "threshold_milli", "n_pairs", "n_docs_flagged"
    )
