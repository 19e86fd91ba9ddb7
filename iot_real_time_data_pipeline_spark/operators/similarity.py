"""Vector similarity search over an embedding column (array<float>).

Two paths, as a real 100 TB pipeline would ship them:

- ``cosine_topk``   : exact brute-force top-k — the correctness baseline.
                      The query set broadcasts; each partition scores its
                      own vectors independently (embarrassingly parallel),
                      and per-query top-k is a window over a pre-pruned
                      candidate set.
- ``ivf_topk``      : IVF-style approximate search. A cheap coarse
                      quantizer (sign bits of the leading dimensions)
                      assigns every vector to one of 2^b buckets; queries
                      probe only their own bucket. Scan cost drops by the
                      bucket count; recall is tunable via b.
- ``label_centroids``: per-label mean vector via positional explode —
                      the bulk "embedding aggregation" primitive
                      (cluster centroids, class prototypes).
- ``cosine_dup_pairs``: near-dup pair enumeration via random-hyperplane
                      LSH candidate generation + exact-cosine verify —
                      O(candidates), not O(n²). The all-pairs form
                      survives as ``cosine_dup_pairs_exact``, the
                      small-input recall baseline.

Dot products use ``zip_with`` + a left-to-right ``aggregate`` fold so the
accumulation order is deterministic and matches the DuckDB oracle
(list_reduce) bit-for-bit before the final 6 dp rounding.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import planutil as PU
from ..functions import texthash as TH

# IVF coarse-quantizer geometry: 2^IVF_BITS buckets, multi-probed out to
# Hamming IVF_PROBE_RADIUS. (5, 2) measured recall@3 = 0.90 vs exact at
# sf0.01 while scanning 16/32 bucket-probes (see PERF.md); the
# random-hyperplane quantizer measured strictly worse than leading-dim
# signs on this data at every geometry tried.
IVF_BITS = 5
IVF_PROBE_RADIUS = 2
RERANK_M = 16  # candidates per query surviving an int8 first pass

# Random-hyperplane LSH constants for near-dup candidate generation.
# Fixed seed so Spark and the DuckDB oracle embed the SAME hyperplanes;
# sign(dot(v, h)) matches bit-for-bit because both engines evaluate the
# identical left-to-right fold over the identical double constants.
EMB_DIM = 64
RH_BANDS = 8
# Extended 48 -> 64 in round 10 for the suffix scale knob, 64 -> 112
# in round 11 for PER-BAND suffix planes (8 bands x up to 8 extra
# planes past the deepest 48-bit banding). The planes draw
# sequentially from the seeded rng, so the first 64 (and every result
# that used them) are bit-identical to prior rounds.
RH_MAX_BITS = 112
_rh_rng = random.Random(20250813)
RH_PLANES = [
    [_rh_rng.uniform(-1.0, 1.0) for _ in range(EMB_DIM)]
    for _ in range(RH_MAX_BITS)
]
# Corpus size at which the shipped band geometry was calibrated: below
# this, band keys are exactly the pre-round-10 ones (every gated SF);
# above it, each data DOUBLING appends one per-band suffix bit to
# every band key, holding expected candidate volume LINEAR in n
# instead of quadratic (random-pair collision prob halves per bit).
RH_CALIB_N = 2000

# Literal-array Column memo (r12): building a 64-double array literal
# element-wise costs ~40 ms of py4j round-trips, and rh_candidate_pairs
# needs 16-112 of them PER CALL (~0.8 s of pure construction time per
# emb query). Column objects wrap session-independent JVM expression
# trees, so one process-wide Column per plane is safe to reuse across
# queries and sessions within the JVM. Keyed by (pool, index).
_PLANE_COL_MEMO: dict[tuple[str, int], F.Column] = {}


def _plane_lit(pool: str, planes, i: int) -> F.Column:
    col = _PLANE_COL_MEMO.get((pool, i))
    if col is None:
        col = F.lit(list(planes[i]))
        _PLANE_COL_MEMO[(pool, i)] = col
    return col


def rh_suffix_cap(rows: int, bands: int = RH_BANDS) -> int:
    """Per-band suffix plane budget: the planes past the band prefix,
    split evenly across bands (band i's suffix pool starts at
    ``bands*rows + i*cap`` — a FIXED stride, so growing m only appends
    bits and never relocates an existing one)."""
    return max(0, (RH_MAX_BITS - bands * rows) // bands)


def rh_suffix_bits(n_vectors: int, rows: int, bands: int = RH_BANDS) -> int:
    """Per-band suffix bits for ``n_vectors``: ceil(log2(n /
    RH_CALIB_N)) via exact integer arithmetic (``bit_length`` —
    mirrored in the DuckDB oracle as 1 + floor(log2)), capped by the
    per-band plane budget.

    Round-11 change (measured, LSH_RECALL_r11.json): suffix planes are
    per-BAND, not shared. A shared suffix multiplies recall ONCE by
    p^m (0.564 measured at the production 0.85 threshold with m=4);
    independent per-band suffixes keep band failures independent —
    recall = 1-(1-p^(rows+m))^bands ≈ 0.90 at the same workload — at
    the IDENTICAL expected candidate reduction (a random pair collides
    in band i with probability p_rand^(rows+m) either way)."""
    cap = rh_suffix_cap(rows, bands)
    if n_vectors <= RH_CALIB_N:
        return 0
    if cap == 0:
        # The per-band plane budget (RH_MAX_BITS - bands*rows)//bands
        # shrinks as rows_per_band grows; at rows >= 14 with 8 bands it
        # hits 0 and the scale knob silently disengages — candidate
        # volume goes quadratic above RH_CALIB_N with no visible
        # signal. Surface it loudly (VERDICT r11 watch item): a future
        # rh_rows_for tier change must widen RH_MAX_BITS, not silently
        # lose linearity.
        import warnings

        warnings.warn(
            f"rh suffix-plane budget exhausted (rows={rows}, "
            f"bands={bands}, RH_MAX_BITS={RH_MAX_BITS}): corpus of "
            f"{n_vectors} > calib {RH_CALIB_N} gets NO suffix bits; "
            "candidate volume grows quadratically. Raise RH_MAX_BITS.",
            RuntimeWarning,
            stacklevel=2,
        )
        return 0
    return min(((n_vectors - 1) // RH_CALIB_N).bit_length(), cap)


def rh_rows_for(threshold: float) -> int:
    """Bits per LSH band, tiered by threshold.

    sign-LSH collision probability is p = 1 - acos(cos)/pi; the
    recall/pruning tradeoff of ``b`` bands x ``r`` bits is
    ``1 - (1 - p^r)^b``. High thresholds afford more bits per band
    (sharper pruning); low thresholds are intrinsically near-unprunable
    (p1 approaches the random-pair p=0.5) and need shallow bands to
    keep recall.
    """
    if threshold >= 0.8:
        return 6
    if threshold >= 0.6:
        return 4
    return 2


def _fold_sum(arr: F.Column) -> F.Column:
    """Deterministic left fold sum of a double array."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: F.Column, b: F.Column) -> F.Column:
    return _fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def norm(a: F.Column) -> F.Column:
    return F.sqrt(_fold_sum(F.transform(a, lambda x: x * x)))


def as_double(a: F.Column) -> F.Column:
    return F.transform(a, lambda x: x.cast("double"))


def coarse_bucket(emb: F.Column, bits: int = IVF_BITS) -> F.Column:
    """Sign-bit quantizer over the first ``bits`` dimensions -> int.

    ``try_element_at``: vectors shorter than ``bits`` dims contribute 0
    for the missing bits (NULL > 0 is false) instead of raising under
    ANSI mode — mirroring SQL's out-of-range ``v[i]`` -> NULL.
    """
    bucket = F.lit(0)
    for i in range(bits):
        bucket = bucket + F.when(
            F.try_element_at(emb, F.lit(i + 1)) > 0, F.lit(2**i)
        ).otherwise(F.lit(0))
    return bucket


def _scored_pairs(queries: DataFrame, corpus: DataFrame, join_on=None) -> DataFrame:
    """Broadcast the query set against the corpus and score cosine.

    Norms are computed once per *vector* (a projection before the
    join), not once per pair — ``norm(v)`` is a pure function of the
    array, so the value is bit-identical to the per-pair form the
    DuckDB oracle uses, but the fold runs O(n+q) times instead of
    O(pairs) (the fold is an interpreted higher-order function, the
    dominant per-pair cost; measured ~2x on the top-k bench items).
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        as_double(F.col("embedding")).alias("qe"),
        *([F.col("bucket").alias("q_bucket")] if join_on == "bucket" else []),
    ).withColumn("qn", norm(F.col("qe")))
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double(F.col("embedding")).alias("ce"),
        *([F.col("bucket")] if join_on == "bucket" else []),
    ).withColumn("cn", norm(F.col("ce")))
    if join_on == "bucket":
        joined = c.join(F.broadcast(q), F.col("q_bucket") == F.col("bucket"), "inner")
    else:
        joined = c.crossJoin(F.broadcast(q))
    return (
        joined.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            dot(F.col("qe"), F.col("ce"))
            / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0)),
        )
        .select("query_id", "neighbor_id", "cosine")
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            TH.quantized6(F.col("cosine")).alias("cosine"),
        )
    )


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact brute-force cosine top-k for each query vector.

    At 100 TB: the query set is the broadcast side (typically thousands
    of probes), the corpus streams through in place — no shuffle of the
    corpus; the only shuffle is the per-query top-k reduction, whose
    input the window pre-prunes.
    """
    return _topk(_scored_pairs(queries, embeddings), k)


def probe_masks(bits: int, radius: int) -> list[int]:
    """XOR masks for all buckets within Hamming ``radius`` of a bucket,
    ordered by distance (exact enumeration — sum of C(bits, r) masks)."""
    from itertools import combinations

    masks = [0]
    for r in range(1, radius + 1):
        masks += [
            sum(1 << i for i in combo) for combo in combinations(range(bits), r)
        ]
    return masks


IVF_CALIB_N = 2000   # corpus size the (IVF_BITS, radius) default targets
IVF_MAX_BITS = 20    # bucket-id width cap (2^20 buckets)


def ivf_bits_for(n_vectors: int, base: int = IVF_BITS) -> int:
    """Bucket-bit count for a corpus of ``n_vectors``: the round-10
    scale knob. With fixed bits, bucket size grows ∝ n and a probe
    workload whose query set also grows with the corpus (the
    registered % QUERY_MOD probes) costs ∝ n² — measured alpha 1.53
    at the sf1->sf3 leg. One extra bit per data doubling past
    IVF_CALIB_N holds bucket size (and so per-probe cost) constant.
    Exact integer form (bit_length = 1 + floor(log2)), mirrored by the
    DuckDB oracle from count(*). Recall at a fixed radius falls as
    buckets shrink — ``probe_radius`` is the recall knob at scale,
    measured by emb_ivf_probe_sweep / emb_recall_audit."""
    if n_vectors <= IVF_CALIB_N:
        return base
    return min(base + ((n_vectors - 1) // IVF_CALIB_N).bit_length(), IVF_MAX_BITS)


def ivf_probe_radius_for(bits: int, base: int = IVF_PROBE_RADIUS) -> int:
    """Probe radius for a ``bits``-wide coarse quantizer: the round-11
    recall knob paired with :func:`ivf_bits_for`. At a fixed radius,
    recall falls as auto-bits grow (measured at the generated sf1.0:
    radius-2 recall@3 0.767 at 5 bits -> 0.333 at 9 bits, recovering
    to 0.833 at radius 4 — SCALE_IVF_r10.json). One extra radius per
    TWO extra bits keeps the probed-bucket fraction bounded by the
    calibrated 16/32 = 0.5 of the (5, 2) default: for bits = 5 + 2t
    and radius = 2 + t the probe set is exactly half the buckets
    (sum of C(2r+1, 0..r) = 2^(2r+1)/2), and even-bit steps probe
    strictly less (e.g. C(8, 0..3) = 93/256 = 0.36). Pure integer
    arithmetic, mirrored by the DuckDB oracle as
    ``base + greatest(0, bn - IVF_BITS) // 2``."""
    return base + max(0, bits - IVF_BITS) // 2


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    bits: int | None = None,
    probe_radius: int | None = None,
) -> DataFrame:
    """IVF-bucketed approximate top-k with multi-probe.

    The bucket id is a pure map-side expression, so the corpus join is
    a hash join on a tiny int key; within-bucket scoring is identical
    to the exact path. Multi-probe explodes the *query* side (tiny) to
    every bucket within Hamming ``probe_radius`` of its own — probing
    ``sum(C(bits, r))`` of the 2^bits buckets instead of one, which
    measurably recovers the recall the coarse sign quantizer loses
    (default (5, 2): recall@3 0.90 at a 16/32 bucket-probe fraction,
    vs 0.53 at radius 1 — PERF.md has the full grid); the corpus side
    is never replicated. Each corpus vector lives in exactly one bucket
    and probe masks are distinct, so no (query, neighbor) pair is
    scored twice.

    ``bits=None`` auto-sizes from a bounded corpus count
    (:func:`ivf_bits_for`): IVF_BITS below IVF_CALIB_N — every gated
    SF keeps its exact previous buckets — then one bit per doubling,
    keeping bucket size flat as the corpus grows.
    ``probe_radius=None`` then auto-scales the probe radius with the
    resolved bits (:func:`ivf_probe_radius_for`) so recall survives
    the bucket growth at a probed-bucket fraction that never exceeds
    the calibrated (5, 2) default's 0.5.
    """
    if bits is None:
        bits = ivf_bits_for(embeddings.count())
    if probe_radius is None:
        probe_radius = ivf_probe_radius_for(bits)
    eb = embeddings.withColumn("bucket", coarse_bucket(as_double(F.col("embedding")), bits))
    qb = queries.withColumn(
        "bucket",
        F.explode(
            F.array(*[
                coarse_bucket(as_double(F.col("embedding")), bits).bitwiseXOR(F.lit(m))
                for m in probe_masks(bits, probe_radius)
            ])
        ),
    )
    return _topk(_scored_pairs(qb, eb, join_on="bucket"), k)


MMR_CAND_N = 10  # exact-cosine candidate pool per query
MMR_K = 3        # diversified picks per query
# lambda = 0.5: score = 0.5*relevance - 0.5*max-sim-to-selected. The
# halves are exactly representable doubles, so the greedy argmax is
# bit-identical across engines.


def mmr_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = MMR_K,
    n_cand: int = MMR_CAND_N,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR'98) — the retrieval-quality step after raw ANN:
    from each query's exact-cosine top-``n_cand`` pool, greedily pick
    ``k`` results maximizing ``0.5*cos(q,d) - 0.5*max_{s in S}
    cos(d,s)``, so near-duplicate neighbors don't crowd the result
    list (RAG context building, eval-set selection).

    Scale shape: the candidate pool is ``n_cand`` rows per query (the
    brute-force scan that produces it is the corpus-streaming
    broadcast join of ``cosine_topk``); candidate-candidate sims are
    ``n_cand^2`` per query — both proportional to QUERIES, not corpus.
    The greedy loop is ``k`` fixed steps of join + window argmax, each
    a lazy ``persist()`` boundary (pagerank's plan-size lesson), and
    the DuckDB twin UNROLLS the same steps as chained CTEs.

    Ties break by smallest ``neighbor_id``; step 1 is the plain
    relevance argmax (its mmr_score is ``0.5*cosine`` by convention).

    Returns ``(query_id, step, neighbor_id, cosine, mmr_score)`` with
    the doubles quantized to 6 dp at the output boundary only.
    """
    from pyspark.sql import Window

    scored = _scored_pairs(queries, embeddings)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    cand = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_cand)
        .persist()
    )
    # candidate-candidate sims within each query's pool (n_cand^2 per
    # query; vectors re-joined from the corpus — AQE broadcasts the
    # tiny candidate side)
    ev = embeddings.select(
        F.col("vec_id"), as_double(F.col("embedding")).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    ca = cand.select("query_id", F.col("neighbor_id").alias("na"))
    cb = cand.select("query_id", F.col("neighbor_id").alias("nb"))
    psim = (
        ca.join(cb, "query_id")
        .filter(F.col("na") != F.col("nb"))
        .join(ev.select(F.col("vec_id").alias("na"),
                        F.col("v").alias("va"), F.col("nrm").alias("nna")), "na")
        .join(ev.select(F.col("vec_id").alias("nb"),
                        F.col("v").alias("vb"), F.col("nrm").alias("nnb")), "nb")
        .select(
            "query_id", "na", "nb",
            (dot(F.col("va"), F.col("vb"))
             / (F.col("nna") * F.col("nnb"))).alias("sim"),
        )
        .persist()
    )
    selected = (
        cand.filter(F.col("rn") == 1)
        .select(
            "query_id", F.lit(1).cast("long").alias("step"), "neighbor_id",
            "cosine", (F.lit(0.5) * F.col("cosine")).alias("mmr_score"),
        )
    )
    remaining = cand.filter(F.col("rn") > 1).select(
        "query_id", "neighbor_id", "cosine"
    )
    pick_w = Window.partitionBy("query_id").orderBy(
        F.col("mmr_score").desc(), F.col("neighbor_id")
    )
    for step in range(2, k + 1):
        rem = remaining.select(
            F.col("query_id").alias("r_qid"),
            F.col("neighbor_id").alias("r_nid"),
            F.col("cosine").alias("r_cos"),
        )
        sel_ids = selected.select(
            F.col("query_id").alias("r_qid"),
            F.col("neighbor_id").alias("s_nid"),
        )
        pen = (
            rem.join(sel_ids, "r_qid")
            .join(psim,
                  (psim["query_id"] == F.col("r_qid"))
                  & (psim["na"] == F.col("r_nid"))
                  & (psim["nb"] == F.col("s_nid")))
            .groupBy(F.col("r_qid").alias("query_id"),
                     F.col("r_nid").alias("neighbor_id"),
                     F.col("r_cos").alias("cosine"))
            .agg(F.max("sim").alias("penalty"))
        )
        pick = (
            pen.withColumn(
                "mmr_score",
                F.lit(0.5) * F.col("cosine") - F.lit(0.5) * F.col("penalty"),
            )
            .withColumn("prn", F.row_number().over(pick_w))
            .filter(F.col("prn") == 1)
            .select("query_id", F.lit(step).cast("long").alias("step"),
                    "neighbor_id", "cosine", "mmr_score")
        )
        selected = selected.unionByName(pick).persist()
        remaining = remaining.join(
            pick.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"], "left_anti",
        )
    return selected.select(
        "query_id", "step", "neighbor_id",
        TH.quantized6(F.col("cosine")).alias("cosine"),
        TH.quantized6(F.col("mmr_score")).alias("mmr_score"),
    )


def _verified_pairs(e: DataFrame, candidates: DataFrame, threshold: float) -> DataFrame:
    """Exact-cosine verify + threshold over a (vec_a, vec_b) candidate set.

    Norms come precomputed per vector (see ``_scored_pairs`` — same
    bits as the oracle's per-pair form, 3x fewer interpreted folds).
    """
    # Round-13 A/B: persisting this two-reader frame was MEASURED WORSE
    # (repeats 3.9/4.2 -> 4.3/4.0, first run 6.0 -> 8.6 s, jobs 9 -> 11:
    # the cache build adds a stage-job and both broadcast builds then
    # race the un-materialized cache). The duplicate norm fold is
    # cheaper than the cache boundary here — left un-persisted.
    en = e.withColumn("nrm", norm(F.col("v")))
    da = en.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("qe"),
                   F.col("nrm").alias("qn"))
    db = en.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("ce"),
                   F.col("nrm").alias("cn"))
    return (
        candidates.join(da, "vec_a")
        .join(db, "vec_b")
        .withColumn(
            "cosine",
            dot(F.col("qe"), F.col("ce"))
            / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0)),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", TH.quantized6(F.col("cosine")).alias("cosine"))
    )


def rh_candidate_pairs(
    embeddings: DataFrame,
    bands: int = RH_BANDS,
    rows: int = 2,
    suffix_bits: int = 0,
) -> DataFrame:
    """LSH candidate pairs from banded random-hyperplane sign bits.

    Each vector gets ``bands*rows`` sign bits (one aggregate fold per
    hyperplane — a narrow map); a band key packs ``rows`` bits; vectors
    sharing any band bucket become a candidate pair. The only joins run
    on band-bucket keys — O(candidates), never all-pairs — exactly the
    ``minhash_lsh_pairs`` plan shape with hyperplane signs instead of
    minhashes.

    ``suffix_bits`` appends that many PER-BAND sign bits (band i draws
    from its own fixed pool of planes, starting at plane
    ``bands*rows + i*rh_suffix_cap(rows)``) to each band key — the
    round-10 scale knob, upgraded round 11 from shared to per-band
    planes: with fixed geometry, random-pair candidates grow as
    n²·2^-rows (the sf1.0 scaling study measured alpha = 1.54, 119 s);
    each suffix bit halves the random collision rate, so
    ``rh_suffix_bits`` (one bit per data doubling past RH_CALIB_N)
    holds candidate volume linear in n. Per-band planes keep band
    failures INDEPENDENT: recall = 1-(1-p^(rows+m))^bands instead of
    the shared-suffix p^m·(1-(1-p^rows)^bands), measured 0.90 vs 0.56
    at the production 0.85 threshold (LSH_RECALL_r11.json) at the
    same expected candidate volume. Near-random thresholds remain
    intrinsically hard to prune (see ``rh_rows_for``).
    """
    cap = rh_suffix_cap(rows, bands)
    assert suffix_bits <= cap
    v = as_double(F.col("embedding"))
    nbits = bands * rows
    plane_ids = list(range(nbits)) + [
        nbits + band * cap + s
        for band in range(bands)
        for s in range(suffix_bits)
    ]
    bits = [
        (dot(v, _plane_lit("rh", RH_PLANES, i)) > 0)
        .cast("int")
        .alias(f"b{i}")
        for i in plane_ids
    ]
    sig = embeddings.select(F.col("vec_id"), *bits)
    band_keys = F.array(*[
        F.concat_ws(
            ":",
            F.lit(str(band)),
            *[F.col(f"b{band * rows + r}") for r in range(rows)],
            *[
                F.col(f"b{nbits + band * cap + s}")
                for s in range(suffix_bits)
            ],
        )
        for band in range(bands)
    ])
    # Persist: the self-join references the band frame from BOTH sides,
    # so without a cache boundary the bands*rows hyperplane folds run
    # twice per vector (the dup_clusters edge-list lesson). No
    # unpersist by design: the returned DataFrame is lazy (the cache
    # must outlive this function) and CacheManager's plan-keyed lookup
    # shares this frame with emb_dup_clusters' rerun of the same pair
    # query — see dedup.py's persist-lifetime note.
    bands_df = sig.select("vec_id", F.explode(band_keys).alias("band_key")).persist()
    x, y = bands_df.alias("x"), bands_df.alias("y")
    return (
        x.join(y, (F.col("x.band_key") == F.col("y.band_key"))
               & (F.col("x.vec_id") < F.col("y.vec_id")))
        .select(F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b"))
        .distinct()
    )


def cosine_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    bands: int = RH_BANDS,
    rows: int | None = None,
    suffix_bits: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the 100 TB scale path.

    Random-hyperplane LSH generates candidates (band-bucket join, cost
    O(candidates)); exact cosine verifies and thresholds them, so there
    are never false positives — recall (< 1 by LSH design) is the only
    approximation, tunable via ``bands``/``rows`` and measured against
    ``cosine_dup_pairs_exact`` in tests/PERF.md. Low thresholds near
    the random-pair cosine are intrinsically hard to prune (see
    ``rh_rows_for``); production embedding dedup at ~0.9 gets both
    recall and sharp pruning from the same machinery.

    ``suffix_bits=None`` auto-sizes the scale knob from a bounded
    corpus count (``rh_suffix_bits``): 0 below RH_CALIB_N — every
    gated SF keeps its exact pre-round-10 candidate set — then one
    per-band bit per data doubling, keeping candidates linear in n
    (the DuckDB oracle mirrors the same count-derived formula and the
    same per-band plane pools).
    """
    rows = rows if rows is not None else rh_rows_for(threshold)
    if suffix_bits is None:
        suffix_bits = rh_suffix_bits(embeddings.count(), rows, bands)
    e = embeddings.select(F.col("vec_id"), as_double(F.col("embedding")).alias("v"))
    return _verified_pairs(
        e, rh_candidate_pairs(embeddings, bands, rows, suffix_bits), threshold
    )


def emb_dup_clusters(
    embeddings: DataFrame, threshold: float = 0.45, max_iter: int = 25
) -> DataFrame:
    """Embedding-level dedup decision: connected components over the
    LSH-verified cosine near-dup pair graph (transitive closure — the
    same a-b / b-c collapse argument as ``dedup.dup_clusters``).
    ``is_canonical`` (minimum vec_id per component) selects the
    deduplicated embedding set.
    """
    from .dedup import connected_components

    pairs = cosine_dup_pairs(embeddings, threshold)
    return connected_components(
        embeddings, pairs, id_col="vec_id", a_col="vec_a", b_col="vec_b",
        max_iter=max_iter,
    )


def cosine_dup_pairs_exact(embeddings: DataFrame, threshold: float = 0.45) -> DataFrame:
    """All-pairs exact near-dup pairs — the small-input recall oracle.

    Scores every i<j pair: O(n²/2) by definition, so this is the test
    baseline ``cosine_dup_pairs``'s recall is measured against, never
    the corpus-scale path.
    """
    e = embeddings.select(
        F.col("vec_id"), as_double(F.col("embedding")).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("qe"),
                 F.col("nrm").alias("qn"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("ce"),
                 F.col("nrm").alias("cn"))
    return (
        b.crossJoin(F.broadcast(a))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cosine",
            dot(F.col("qe"), F.col("ce"))
            / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0)),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", TH.quantized6(F.col("cosine")).alias("cosine"))
    )


def emb_norm_stats(embeddings: DataFrame) -> DataFrame:
    """Per-vector L2 norm + parts-per-billion deviation from unit norm
    — the embedding-store hygiene screen run before similarity work
    (zero/degenerate vectors and un-normalized strays poison cosine
    math and ANN buckets; filter on ``l2_norm < eps`` or
    ``abs(unit_dev_ppb) > k``).

    A pure narrow map — no aggregate, no join, streams with the scan
    at any scale. Both outputs are bit-exact across engines: the norm
    is the deterministic left fold, and the ppb deviation is one IEEE
    subtract/multiply rounded to an integer. (A corpus z-score is the
    WRONG screen on a normalized store: the norm stddev here is ~4e-8,
    so dividing by it amplifies engine summation-order dust into the
    visible digits — measured 21/500 cross-engine flips at 6 dp before
    this design replaced it.)
    """
    e = embeddings.select(
        F.col("vec_id"), norm(as_double(F.col("embedding"))).alias("nrm")
    )
    return e.select(
        "vec_id",
        TH.quantized6(F.col("nrm")).alias("l2_norm"),
        F.round((F.col("nrm") - F.lit(1.0)) * F.lit(1e9)).cast("long").alias(
            "unit_dev_ppb"
        ),
    )


def int8_quantize(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the
    storage/ANN compression primitive (4x smaller vectors; distance
    math on int8 codes with one dequant scale per vector).

    ``code = round(x / scale * 127)`` with ``scale = max |x_i|`` — a
    pure narrow map (abs-max and codes are per-row array expressions;
    no aggregate, no shuffle except the output). Emitted in long form
    ``(vec_id, dim, code, scale)``: codes are exact integers on both
    engines (same IEEE divide/multiply on the same doubles, integer
    round), scale snaps to the 1e-6 grid for the report while the
    codes are computed from the UNsnapped scale.
    """
    e = embeddings.select(
        F.col("vec_id"), as_double(F.col("embedding")).alias("v")
    ).withColumn("scale", F.array_max(F.transform(F.col("v"), F.abs)))
    # Zero-vector guard: scale 0 would make the code NaN, and ANSI-mode
    # int cast of NaN throws — an all-zero vector quantizes to all-zero
    # codes instead of failing the corpus scan.
    coded = e.select(
        "vec_id",
        "scale",
        F.posexplode(
            F.transform(
                F.col("v"),
                lambda x: F.when(F.col("scale") == 0, F.lit(0))
                .otherwise(F.round(x / F.col("scale") * 127))
                .cast("int"),
            )
        ).alias("pos", "code"),
    )
    return coded.select(
        "vec_id",
        (F.col("pos") + 1).cast("long").alias("dim"),
        "code",
        TH.quantized6(F.col("scale")).alias("scale"),
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label mean embedding, long form (label, pos, centroid).

    posexplode + groupBy(label, pos): partial aggregation compresses the
    shuffle to one partial sum per (label, pos, partition) — the
    standard distributed centroid plan.
    """
    exploded = embeddings.select(
        "label", F.posexplode(as_double(F.col("embedding"))).alias("pos", "v")
    )
    return (
        exploded.groupBy("label", (F.col("pos") + 1).cast("long").alias("dim"))
        .agg(TH.quantized6(F.avg("v")).alias("centroid"))
    )


def cohort_drift(embeddings: DataFrame) -> DataFrame:
    """Embedding-distribution drift audit between two ingest cohorts
    (vec_id parity stands in for yesterday's-batch vs today's-batch):
    per label, the L1 and L-infinity distance between the cohorts'
    per-dimension mean vectors — the monitor that catches a retrained
    encoder, a units change, or a feed swap before downstream dedup
    and ANN quietly degrade.

    ALL-INTEGER: components are milli-quantized, per-(label, cohort,
    dim) sums are exact BIGINTs (posexplode + one partial-agged
    groupBy — ``label_centroids``' shuffle shape), per-dim means are
    floor divisions, and the L1/L-inf reductions are integer sum/max —
    order-independent, so the oracle reproduces every row bit-for-bit
    (no double accumulation anywhere).

    Labels present in only one cohort are excluded (no baseline to
    drift from). Returns ``(label, n_a, n_b, drift_l1_milli,
    drift_linf_milli)``.
    """
    vq = F.expr("CAST(round(v * 1000) AS BIGINT)")
    exploded = embeddings.select(
        "label",
        (F.col("vec_id") % 2).alias("cohort"),
        F.posexplode(as_double(F.col("embedding"))).alias("pos", "v"),
    ).select("label", "cohort", "pos", vq.alias("vq"))
    per_dim = (
        exploded.groupBy("label", "pos")
        .agg(
            F.sum(F.when(F.col("cohort") == 0, F.col("vq"))).alias("sum_a"),
            F.count(F.when(F.col("cohort") == 0, F.lit(1))).alias("n_a"),
            F.sum(F.when(F.col("cohort") == 1, F.col("vq"))).alias("sum_b"),
            F.count(F.when(F.col("cohort") == 1, F.lit(1))).alias("n_b"),
        )
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .select(
            "label", "n_a", "n_b",
            F.abs(
                F.expr("sum_a div n_a") - F.expr("sum_b div n_b")
            ).alias("dim_drift"),
        )
    )
    return per_dim.groupBy("label").agg(
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        F.sum("dim_drift").cast("long").alias("drift_l1_milli"),
        F.max("dim_drift").cast("long").alias("drift_linf_milli"),
    )


KMEANS_K = 8


def kmeans_assign(
    embeddings: DataFrame, k: int = KMEANS_K, centroids: DataFrame | None = None
) -> DataFrame:
    """One deterministic Lloyd assignment step: every vector to its
    nearest of ``k`` seed centroids by squared L2.

    Seeds are the ``k`` lowest ``vec_id`` vectors (deterministic init —
    the cross-engine analogue of a fixed random seed); clusters are
    numbered 0..k-1 in seed order. The centroid table is k rows, so the
    scoring join is a broadcast nested loop: the corpus streams in
    place, each partition scores independently — the same
    embarrassingly-parallel shape as ``cosine_topk``, and the building
    block of distributed k-means (iterate: assign -> ``label_centroids``
    on the assignment -> re-assign; each round is one broadcast +
    one partial-agged groupBy).

    Distances are the deterministic left fold over ``(x-y)^2`` terms, so
    the argmin ordering (d2, then cluster) is bit-identical across
    engines — no quantization needed before the comparison.

    Pass ``centroids`` — a ``(cluster, cv: array<double>)`` frame, e.g.
    from :func:`assignment_centroids` — to run the next Lloyd round
    against updated centers instead of the seeds.

    Returns ``(vec_id, cluster, dist2)`` with dist2 on the 1e-6 grid.
    """
    from pyspark.sql import Window

    vecs = embeddings.select(
        F.col("vec_id"), as_double(F.col("embedding")).alias("v")
    )
    if centroids is not None:
        cent = centroids.select("cluster", F.col("cv"))
    else:
        cent = (
            vecs.orderBy("vec_id")
            .limit(k)
            .withColumn(
                "cluster",
                (F.row_number().over(Window.orderBy("vec_id")) - 1).cast("long"),
            )
            .select("cluster", F.col("v").alias("cv"))
        )
    d2 = _fold_sum(F.zip_with(F.col("v"), F.col("cv"), lambda x, y: (x - y) * (x - y)))
    scored = vecs.crossJoin(F.broadcast(cent)).withColumn("d2", d2)
    # argmin via min(struct(d2, cluster)) — struct ordering IS the
    # (distance, cluster-id) tie-break, and unlike a rank window the
    # groupBy partial-aggregates map-side: each vector's k candidate
    # rows collapse to one row BEFORE the exchange (they are co-located
    # by construction — the centroid side is the broadcast), so the
    # shuffle carries n rows, not n*k, and there is no sort at all.
    best = scored.groupBy("vec_id").agg(
        F.min(F.struct("d2", "cluster")).alias("best")
    )
    return best.select(
        "vec_id",
        F.col("best.cluster").alias("cluster"),
        TH.quantized6(F.col("best.d2")).alias("dist2"),
    )


CORESET_QUOTA = 5


def cluster_coreset(
    embeddings: DataFrame, k: int = KMEANS_K, quota: int = CORESET_QUOTA
) -> DataFrame:
    """Diversity-preserving coreset: keep ``quota`` vectors from EACH
    k-means cluster — the cluster-balanced sampling used for data
    pruning (sample uniformly per region of embedding space instead of
    per row, so dense regions don't drown sparse ones; the selection
    rule behind cluster-stratified coresets in the data-pruning
    literature, e.g. Sorscher et al. 2022's per-cluster draws).

    The within-cluster draw is a salted deterministic hash of vec_id —
    a fixed "random" permutation both engines replay bit-identically
    (house discipline: no RNG, same reason the samplers in
    ``curation`` hash instead of rand()).

    Scale shape: assignment is the broadcast-centroid map-side argmin
    from :func:`kmeans_assign` (shuffle carries n rows, no sort); the
    quota pick is one rank window PARTITIONED BY cluster — group size
    = n/k per task. At 10⁹ vectors push k up (more, smaller clusters)
    or swap the window for the histogram-CDF boundary-bucket pattern
    (``curation.dsir_resample``) on the hash; semantics are unchanged
    because the hash IS the ordering.

    Returns ``(cluster, pick_rank, vec_id, dist2)``.
    """
    from pyspark.sql import Window

    assign = kmeans_assign(embeddings, k)
    h = TH.token_hash(
        F.concat(F.lit("cs:"), F.col("vec_id").cast("string"))
    )
    w = Window.partitionBy("cluster").orderBy(F.col("h"), F.col("vec_id"))
    return (
        assign.withColumn("h", h)
        .withColumn("pick_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("pick_rank") <= quota)
        .select("cluster", "pick_rank", "vec_id", "dist2")
    )


def assignment_centroids(embeddings: DataFrame, assignment: DataFrame) -> DataFrame:
    """Lloyd update step: mean vector per assigned cluster, re-packed as
    the ``(cluster, cv)`` frame :func:`kmeans_assign` accepts.

    Same partial-agged explode plan as ``label_centroids`` (shuffle is
    one partial sum per (cluster, dim, partition)), then the k-row
    result is re-assembled into arrays driver-free via
    ``array_sort(collect_list(struct(dim, val)))`` — k×dim rows, tiny.
    """
    joined = embeddings.join(assignment.select("vec_id", "cluster"), "vec_id")
    exploded = joined.select(
        "cluster", F.posexplode(as_double(F.col("embedding"))).alias("pos", "x")
    )
    per_dim = exploded.groupBy("cluster", "pos").agg(F.avg("x").alias("m"))
    return per_dim.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("cv")
    )


def kmeans_lloyd2(embeddings: DataFrame, k: int = KMEANS_K) -> DataFrame:
    """TWO full Lloyd rounds — assign, recompute centroids, re-assign —
    with a cross-engine-deterministic update step, reporting how the
    clustering moved: per cluster, round-1/round-2 populations, how
    many vectors ARRIVED in round 2, and the round-2 inertia.

    :func:`assignment_centroids` (the production update step) averages
    doubles, whose value depends on accumulation order — fine for
    training, impossible to oracle. Here the update is the house
    integer discipline (``cohort_drift``): components snap to the 1e-6
    grid as BIGINTs, per-(cluster, dim) sums are exact, and the mean is
    a truncated integer division — so both engines derive bit-identical
    round-2 centroids and the re-assignment argmin agrees exactly.

    Scale shape per round: one broadcast-centroid map-side argmin
    (shuffle carries n rows — ``kmeans_assign``'s plan) plus one
    partial-agged posexplode groupBy for the update (shuffle is one
    partial sum per (cluster, dim, partition)). Iterating to
    convergence is this body in a loop; two rounds is the smallest
    instance that exercises assign AND update, which is what the
    oracle contract needs to pin.

    Returns ``(cluster, n_round1, n_round2, n_arrivals,
    inertia_r2_micro)`` — all BIGINT (driver-stable).
    """
    # Lazy persist: the round-1 assignment feeds the centroid update,
    # the round-1 population count, AND the movement join — three
    # references that would each re-run the corpus-wide argmin without
    # the cache marker (n rows, built once at first action;
    # release_session_caches() reclaims it).
    a1 = kmeans_assign(embeddings, k).persist()
    vecs = embeddings.select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    expl = (
        vecs.join(a1.select("vec_id", "cluster"), "vec_id")
        .select("cluster", F.posexplode("v").alias("pos", "x"))
        .withColumn("xq", F.round(F.col("x") * F.lit(1e6)).cast("long"))
    )
    per_dim = expl.groupBy("cluster", "pos").agg(
        F.sum("xq").alias("sx"), F.count("*").alias("n")
    )
    # Truncated integer mean (Spark `div` truncates toward zero; the
    # oracle mirrors it with an explicit CASE — cohort_drift's pattern).
    mean_dbl = (
        F.expr("sx div n").cast("double") / F.lit(1e6)
    ).alias("m")
    cent2 = (
        per_dim.select("cluster", "pos", mean_dbl)
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cv")
        )
    )
    a2 = kmeans_assign(embeddings, k, centroids=cent2)
    n1 = a1.groupBy("cluster").agg(F.count("*").alias("n_round1"))
    j = a1.select("vec_id", F.col("cluster").alias("c1")).join(a2, "vec_id")
    per2 = j.groupBy("cluster").agg(
        F.count("*").alias("n_round2"),
        F.sum(
            F.when(F.col("c1") != F.col("cluster"), F.lit(1)).otherwise(0)
        ).cast("long").alias("n_arrivals"),
        # dist2 sits on the 1e-6 grid already; re-scaling to the integer
        # grid makes the cross-row sum exact on both engines.
        F.sum(F.round(F.col("dist2") * F.lit(1e6)).cast("long")).alias(
            "inertia_r2_micro"
        ),
    )
    zero = F.lit(0).cast("long")
    return (
        n1.join(per2, "cluster", "full_outer")
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            F.coalesce("n_round1", zero).alias("n_round1"),
            F.coalesce("n_round2", zero).alias("n_round2"),
            F.coalesce("n_arrivals", zero).alias("n_arrivals"),
            F.coalesce("inertia_r2_micro", zero).alias("inertia_r2_micro"),
        )
    )


POWER_ITERS = 3


def power_iteration(embeddings: DataFrame, iters: int = POWER_ITERS) -> DataFrame:
    """Dominant principal direction by POWER ITERATION over the
    integer-exact Gram matrix — distributed PCA's first component,
    end-to-end deterministic (von Mises iteration; the PCA warm-up
    before whitening or low-rank probes).

    Every quantity is an exact integer: the Gram entries come from
    :func:`gram_matrix` (milli-quantized coordinates, int64 Q.T@Q),
    the start vector is the constant milli-unit vector, each matvec
    ``u = G v`` is an integer sum, and the renormalization divides by
    the L-infinity norm with truncation toward zero — so both engines
    walk bit-identical iterates and the sign/scale ambiguity of
    eigenvectors never arises.

    Scale shape: the Gram build is the ONE data-sized pass (map-side
    d² int64 partials per Arrow batch; n never re-enters). The d²-row
    result is then collected once — a bounded, corpus-size-independent
    32 KiB at d = 64 — and the ``iters`` matvecs fold driver-side in
    arbitrary-precision Python ints (microseconds on a 64×64 matrix;
    the same sanctioned constant-size step as :func:`pca_components`).
    This replaces the previous unrolled-DataFrame formulation, whose
    ~50 fixed-overhead micro-stages dominated wall time, and removes
    its int64 hazard: ``u*1000`` could exceed 2^63 near
    ``d · n · 1e9 · 1000`` (n ≈ 1.4e5 worst-case vectors at d = 64),
    where Spark's non-ANSI arithmetic would wrap silently. Driver ints
    never overflow; the remaining envelope is the int64 OUTPUT columns:
    gram entries need ``n · (|x|·1000)² < 2^63`` (n ≲ 9.2e12 at
    |x| ≤ 1) and ``gv = (G v)ᵢ`` needs ``d · max|gram| · 1000 < 2^63``
    (n ≲ 1.4e8 at d = 64) — both checked exactly by the DuckDB oracle,
    which errors rather than wraps. Beyond that, drop the final
    pre-division scale or widen gv to DECIMAL. At d ≳ 2048 the d²
    collect reaches ~10⁷ rows; re-distribute the matvec there.

    Returns ``(dim, v_milli, gv)``: the converged direction on the
    milli grid and its final unnormalized image ``(G v)`` — their
    per-dim ratio is the Rayleigh eigenvalue estimate, left as exact
    integers rather than one more division.
    """
    spark = embeddings.sparkSession
    d = EMB_DIM
    schema = "dim long, v_milli long, gv long"
    rows = gram_matrix(embeddings).collect()  # d² rows, constant-size
    if not rows:
        # Empty corpus: the oracle's gram CTE is empty too, so every
        # iterate joins away to nothing — return the same empty frame.
        return spark.createDataFrame([], schema)
    G = [[0] * d for _ in range(d)]
    for r in rows:
        G[r.i - 1][r.j - 1] = r.gram

    def _matvec(vec):
        return [sum(Gi[j] * vec[j] for j in range(d)) for Gi in G]

    def _tdiv(a: int, b: int) -> int:
        # Truncation toward zero, matching Spark's `div` / the oracle's
        # sign-split CASE (Python's // floors).
        return -((-a) // b) if a < 0 else a // b

    v = [1000] * d
    for _ in range(iters):
        u = _matvec(v)
        # L-inf renormalization back to the milli grid; max(…, 1)
        # keeps a degenerate all-zero corpus from dividing by zero.
        m = max(max(abs(x) for x in u), 1)
        v = [_tdiv(x * 1000, m) for x in u]
    gv = _matvec(v)
    # Inline literals, not createDataFrame: a parallelized d-row Python
    # RDD spawns a full python-worker wave to unpickle 64 rows (see
    # planutil.inline_rows).
    return PU.inline_rows(
        spark,
        [(i + 1, v[i], gv[i]) for i in range(d)],
        [("dim", "long"), ("v_milli", "long"), ("gv", "long")],
    )


def dim_stats(embeddings: DataFrame) -> DataFrame:
    """Per-DIMENSION corpus statistics on the integer 1e-6 grid: the
    anisotropy / dead-dimension audit run before trusting cosine
    geometry (a dimension with near-zero variance contributes nothing
    to similarity; one with an outsized mean makes cosine degenerate —
    the "common direction" pathology of contextual encoders, Ethayarajh
    2019). Downstream consumers: whitening decisions, PQ subspace
    splits, and embedding-provider regression checks (a provider change
    shows up here before recall audits catch it).

    ALL-INTEGER output (micro-grid sums / extremes and a truncated-
    division mean), so every row is exact on both engines. One
    posexplode + one partial-agged groupBy — shuffle is a partial sum
    per (dim, partition), independent of row count.

    Returns ``(dim, n, mean_micro, sum_micro, sumsq_milli2, min_micro,
    max_micro)``. Variance is ``(sumsq − sum²/n)/n`` downstream in
    double — the sums themselves stay the exact, MERGEABLE quantities.
    Two grids by overflow headroom: linear terms on the 1e-6 grid
    (|Σx| < 1e6·n → int64-safe past 10¹² rows at |x| < 1), squares on
    the 1e-3 grid (Σx² < 1e6·n — the micro square is 1e12 per element
    and would cap n near 10⁷; milli keeps the same 10¹²-row headroom).
    """
    expl = embeddings.select(
        F.posexplode(as_double(F.col("embedding"))).alias("pos", "x")
    ).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.round(F.col("x") * F.lit(1e6)).cast("long").alias("xq"),
        F.round(F.col("x") * F.lit(1e3)).cast("long").alias("xq3"),
    )
    agg = expl.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("xq").alias("sx"),
        F.sum(F.col("xq3") * F.col("xq3")).alias("sxx3"),
        F.min("xq").alias("min_micro"),
        F.max("xq").alias("max_micro"),
    )
    return agg.select(
        "dim",
        "n",
        F.expr("sx div n").alias("mean_micro"),
        F.col("sx").alias("sum_micro"),
        F.col("sxx3").alias("sumsq_milli2"),
        "min_micro",
        "max_micro",
    )



def _ivf_index_schema(like: DataFrame):
    """Explicit read schema for a persisted IVF index built from a
    frame shaped like ``like`` — an index built from an EMPTY corpus
    has no partition directories at all, and a bare parquet read would
    fail UNABLE_TO_INFER_SCHEMA instead of returning an empty index."""
    from pyspark.sql.types import (
        ArrayType, IntegerType, LongType, StructField, StructType,
    )

    return StructType(
        list(like.schema.fields)
        + [
            StructField("cc", ArrayType(LongType())),
            StructField("cn2", LongType()),
            StructField("bucket", IntegerType()),
        ]
    )


def build_ivf_index(
    embeddings: DataFrame, path: str, bits: int = IVF_BITS, mode: str = "overwrite"
) -> None:
    """Persist the IVF index as parquet PARTITIONED BY the coarse
    bucket — the storage layout that turns every subsequent ANN search
    into a partition-pruned read: a query touching p of the 2^bits
    buckets opens p directories and never lists the rest. This is the
    at-rest complement of ``ivf_topk`` (which quantizes on the fly):
    build once, probe many.

    Alongside the full vectors, each row stores its int8 codes and
    integer squared norm (``cc``, ``cn2``) — so a compressed first-pass
    scan (:func:`ivf_int8_rerank_topk`) reads the 4x-smaller code
    column and leaves the ``embedding`` column untouched until the
    exact re-rank (parquet is columnar: unread columns cost nothing).
    """
    eb = embeddings.withColumn(
        "bucket", coarse_bucket(as_double(F.col("embedding")), bits)
    ).withColumn("cc", _int8_codes(F.col("embedding")))
    eb = eb.withColumn("cn2", _fold_sum2(F.col("cc")))
    eb.write.mode(mode).partitionBy("bucket").parquet(path)


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    bits: int = IVF_BITS,
    probe_radius: int = IVF_PROBE_RADIUS,
) -> DataFrame:
    """Top-k search against a persisted IVF index with static partition
    pruning.

    The probe bucket set is collected to literals first — legitimately
    driver-side: its size is |queries| x sum(C(bits, r)), a plan
    constant independent of corpus size — so Catalyst prunes the
    parquet partitions at PLAN time (``PartitionFilters: [bucket IN
    (...)]``, asserted in tests): unprobed buckets are never listed,
    let alone read. Scoring and the per-query top-k are the same
    broadcast-query plan as ``ivf_topk``.
    """
    qb = queries.withColumn(
        "bucket",
        F.explode(
            F.array(*[
                coarse_bucket(as_double(F.col("embedding")), bits).bitwiseXOR(F.lit(m))
                for m in probe_masks(bits, probe_radius)
            ])
        ),
    )
    probe_buckets = sorted(
        {r.bucket for r in qb.select("bucket").distinct().collect()}
    )
    idx = (
        spark.read.schema(_ivf_index_schema(queries))
        .parquet(path)
        .filter(F.col("bucket").isin(probe_buckets))
    )
    return _topk(_scored_pairs(qb, idx, join_on="bucket"), k)


def ivf_int8_rerank_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    m: int = RERANK_M,
    bits: int = IVF_BITS,
    probe_radius: int = IVF_PROBE_RADIUS,
) -> DataFrame:
    """IVF-on-int8: the persisted index's partition pruning composed
    with the compressed-scan + exact-re-rank pipeline — the beyond-10⁹
    -vectors shape where even a full 1-byte-per-dim scan dominates.

    Three prunes multiply:
    (1) PARTITION: probe buckets collected to literals (plan-constant
        size, as in :func:`ivf_index_topk`) → unprobed bucket dirs are
        never listed;
    (2) COLUMN: stage 1 reads only ``(vec_id, cc, cn2)`` — the int8
        codes :func:`build_ivf_index` stored — so the probed rows cost
        ~1 byte/dim, not 8 (parquet never materializes the unread
        ``embedding`` column; the plan test pins ReadSchema);
    (3) ROW: the exact re-rank touches full vectors for only the ``m``
        int8 survivors per query (broadcast candidate join against the
        probed partitions).

    Bytes scanned ≈ probed_fraction × corpus × 1B/dim + |q|·m full
    vectors. Recall is CAPPED by the bucket probe (if the true neighbor
    lives in an unprobed bucket no re-rank recovers it) — on this
    corpus's isotropic embeddings that cap is the binding constraint
    (PERF.md grid); on clustered production embeddings the same
    composition keeps the measured int8-rerank recall at the probed
    fraction's ceiling.

    Returns ``(query_id, rank, neighbor_id, cosine)`` — exact cosine on
    the 1e-6 grid for the survivors, ranks 1..k.
    """
    from pyspark.sql import Window

    qb = queries.withColumn(
        "bucket",
        F.explode(
            F.array(*[
                coarse_bucket(as_double(F.col("embedding")), bits).bitwiseXOR(F.lit(mask))
                for mask in probe_masks(bits, probe_radius)
            ])
        ),
    )
    probe_buckets = sorted(
        {r.bucket for r in qb.select("bucket").distinct().collect()}
    )
    idx = (
        spark.read.schema(_ivf_index_schema(queries))
        .parquet(path)
        .filter(F.col("bucket").isin(probe_buckets))
    )

    # Stage 1: integer scoring over the pruned index's CODE columns.
    q1 = qb.select(
        F.col("vec_id").alias("query_id"),
        _int8_codes(F.col("embedding")).alias("qc"),
        F.col("bucket").alias("q_bucket"),
    ).withColumn("qn2", _fold_sum2(F.col("qc")))
    c1 = idx.select(
        F.col("vec_id").alias("neighbor_id"), "cc", "cn2", "bucket"
    )
    dot_i = F.aggregate(
        F.zip_with(F.col("qc"), F.col("cc"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    coarse = (
        c1.join(F.broadcast(q1), F.col("q_bucket") == F.col("bucket"), "inner")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "approx_cosine",
            dot_i.cast("double")
            / F.nullif(
                F.sqrt(F.col("qn2").cast("double"))
                * F.sqrt(F.col("cn2").cast("double")),
                F.lit(0.0),
            ),
        )
        .select("query_id", "neighbor_id", "approx_cosine")
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("approx_cosine").desc(), F.col("neighbor_id")
    )
    cand = (
        coarse.withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= m)
        .select("query_id", "neighbor_id")
    )

    # Stage 2: exact cosine for the survivors only — query vectors from
    # the query frame, neighbor vectors from the probed partitions.
    qfull = queries.select(
        F.col("vec_id").alias("query_id"),
        as_double(F.col("embedding")).alias("qe"),
    ).withColumn("qn", norm(F.col("qe")))
    nfull = idx.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double(F.col("embedding")).alias("ce"),
    ).withColumn("cn", norm(F.col("ce")))
    exact = (
        F.broadcast(cand)
        .join(F.broadcast(qfull), "query_id")
        .join(nfull, "neighbor_id")
        .withColumn(
            "cosine",
            dot(F.col("qe"), F.col("ce"))
            / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0)),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    return _topk(exact, k)


def _int8_codes(emb_col: F.Column) -> F.Column:
    """Per-vector int8 codes (same quantizer as ``int8_quantize``,
    array form), computed from the unsnapped abs-max scale."""
    v = as_double(emb_col)
    scale = F.array_max(F.transform(v, F.abs))
    return F.transform(
        v,
        lambda x: F.when(scale == 0, F.lit(0))
        .otherwise(F.round(x / scale * 127))
        .cast("long"),
    )


def int8_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Cosine top-k scored entirely on int8 codes — the compressed
    search path that pairs with ``int8_quantize`` storage (4x smaller
    vectors, integer arithmetic in the hot loop).

    Key identity: the per-vector scales cancel in the cosine, so the
    score is ``dot(codes_a, codes_b) / (||codes_a|| * ||codes_b||)`` —
    an INTEGER dot and two integer norms; the only floating-point ops
    are two sqrts and one division on exact integers, bit-identical
    across engines with no fold-order caveat at all. Plan shape is the
    exact-path broadcast (query codes broadcast, corpus streams).

    Returns ``(query_id, rank, neighbor_id, cosine)`` with the
    approximate cosine on the 1e-6 grid.
    """
    from pyspark.sql import Window

    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), _int8_codes(F.col("embedding")).alias("cc")
    ).withColumn("cn2", _fold_sum2(F.col("cc")))
    q = queries.select(
        F.col("vec_id").alias("query_id"), _int8_codes(F.col("embedding")).alias("qc")
    ).withColumn("qn2", _fold_sum2(F.col("qc")))
    dot_i = F.aggregate(
        F.zip_with(F.col("qc"), F.col("cc"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            dot_i.cast("double")
            / F.nullif(
                F.sqrt(F.col("qn2").cast("double"))
                * F.sqrt(F.col("cn2").cast("double")),
                F.lit(0.0),
            ),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", TH.quantized6(F.col("cosine")).alias("cosine"))
    )


def _fold_sum2(codes: F.Column) -> F.Column:
    """Integer sum of squares of a code array (exact BIGINT)."""
    return F.aggregate(
        F.transform(codes, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def int8_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    m: int = RERANK_M,
) -> DataFrame:
    """Two-stage top-k: int8-compressed first pass over the corpus,
    exact full-precision re-rank of the ``m`` survivors per query.

    WHY this is the production ANN path for this corpus: the testdata
    embeddings are ISOTROPIC (measured at sf0.1 — top-1 neighbor cosine
    0.41 vs bulk p99 0.287, labels uncorrelated with neighbors), so any
    partition-pruning index saturates: the measured grid over sign-bit
    IVF geometries tops out at recall@3 0.48 at a 23% scan and k-means
    IVF at 0.55 at 19% (PERF.md). On clusterless data the honest scale
    lever is bytes-per-candidate, not candidates-pruned: stage 1 scans
    every vector but on 4x-compressed integer codes (the identity in
    :func:`int8_topk` — scales cancel, the hot loop is an integer dot),
    stage 2 pays full-precision cost for only ``m``/corpus rows.
    Measured: recall@3 = 1.000 at sf0.01 AND sf0.1 with m=16 (an 0.8%
    exact-scan fraction at sf0.1), vs 0.73 for the best bucketed IVF at
    a 50% scan. For corpora that DO cluster, ``ivf_topk`` /
    ``ivf_index_topk`` remain the partition-pruned path and compose
    with this re-rank.

    Both stages are deterministic cross-engine (integer stage-1 scores,
    neighbor_id tie-breaks), so the whole operator has an exact DuckDB
    oracle twin.

    Returns ``(query_id, rank, neighbor_id, cosine)`` — exact cosine on
    the 1e-6 grid, ranks 1..k.
    """
    from pyspark.sql import Window

    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        _int8_codes(F.col("embedding")).alias("cc"),
    ).withColumn("cn2", _fold_sum2(F.col("cc")))
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _int8_codes(F.col("embedding")).alias("qc"),
    ).withColumn("qn2", _fold_sum2(F.col("qc")))
    dot_i = F.aggregate(
        F.zip_with(F.col("qc"), F.col("cc"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    coarse = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "approx_cosine",
            dot_i.cast("double")
            / F.nullif(
                F.sqrt(F.col("qn2").cast("double"))
                * F.sqrt(F.col("cn2").cast("double")),
                F.lit(0.0),
            ),
        )
        .select("query_id", "neighbor_id", "approx_cosine")
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("approx_cosine").desc(), F.col("neighbor_id")
    )
    cand = (
        coarse.withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= m)
        .select("query_id", "neighbor_id")
    )
    # Stage 2: exact cosine on the m survivors only. The candidate set
    # is tiny (|queries| * m rows), so both vector joins broadcast it.
    full = embeddings.select(
        F.col("vec_id"), as_double(F.col("embedding")).alias("fv")
    ).withColumn("fn", norm(F.col("fv")))
    exact = (
        F.broadcast(cand)
        .join(
            full.select(
                F.col("vec_id").alias("query_id"),
                F.col("fv").alias("qe"),
                F.col("fn").alias("qn"),
            ),
            "query_id",
        )
        .join(
            full.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("fv").alias("ce"),
                F.col("fn").alias("cn"),
            ),
            "neighbor_id",
        )
        .withColumn(
            "cosine",
            dot(F.col("qe"), F.col("ce"))
            / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0)),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    return _topk(exact, k)


SEMDEDUP_THRESHOLD = 0.45


def semantic_dedup(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    threshold: float = SEMDEDUP_THRESHOLD,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with k-means, then search for near-duplicates ONLY
    within each cluster — pairwise cosine never crosses a cluster
    boundary, turning the O(n^2) all-pairs problem into
    O(sum cluster_size^2).

    The cluster id is the join key: members co-locate on one exchange
    and the quadratic work is per-cluster-local. The published
    algorithm's scale contract applies — ``k`` grows with the corpus
    (k ~ n/10^4 keeps clusters bounded), so per-reducer work stays flat
    at 100 TB; the deterministic seed init here (first-k by vec_id, see
    :func:`kmeans_assign`) stands in for the paper's random init, and
    ``centroids`` accepts converged Lloyd centers for production use.

    A vector is a duplicate if some LOWER-id cluster-mate has cosine
    >= ``threshold`` (the paper keeps one exemplar per duplicate
    group; lowest-id is the deterministic choice). Returns only the
    dropped vectors: ``(vec_id, cluster, dup_of, n_dups)`` where
    ``dup_of`` is the lowest-id duplicate partner and ``n_dups`` the
    number of cluster-mates over the threshold.
    """
    assign = kmeans_assign(embeddings, k=k, centroids=centroids).select(
        "vec_id", "cluster"
    )
    vecs = embeddings.select("vec_id", as_double(F.col("embedding")).alias("v"))
    # Shared-subtree persist + pre-partition (round 13, VERDICT r12
    # item 3): both sides of the per-cluster self-join read the SAME
    # (vec_id, cluster, v, n) frame — un-persisted, the two join-leaf
    # exchanges materialized concurrently under AQE and each re-ran the
    # k-means scoring pass (the r12 "a/b stampede", ~1 s of the 3.9 s
    # item). Persisting is lazy (construction stays action-free; the
    # caller releases it through dedup.release_session_caches). Partitioning
    # BY THE JOIN KEY before the persist makes the cached layout the
    # one the join needs, so BOTH exchanges disappear outright (guide
    # §2.4 "two operations keyed the same way share one exchange"):
    # the self-join runs zero-shuffle over the cached frame, and the
    # single stage computes each cache partition once — no concurrent-
    # leaf stampede left. At 100 TB the same layout argument holds:
    # cluster is the only key this operator ever joins on.
    a = (
        vecs.join(assign, "vec_id")
        .withColumn("n", norm(F.col("v")))
        .repartition("cluster")
        .persist()
    )
    b = a.select(
        F.col("cluster").alias("cluster_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    pairs = a.join(
        b,
        (F.col("cluster") == F.col("cluster_b")) & (F.col("vec_b") < F.col("vec_id")),
    )
    cosine = dot(F.col("v"), F.col("vb")) / F.nullif(
        F.col("n") * F.col("nb"), F.lit(0.0)
    )
    return (
        pairs.withColumn("cosine", cosine)
        .filter(F.col("cosine") >= threshold)
        .groupBy("vec_id", "cluster")
        .agg(F.min("vec_b").alias("dup_of"), F.count("*").alias("n_dups"))
    )


# Johnson-Lindenstrauss random projection: EMB_DIM -> RP_DIM via a
# fixed seeded +/-1 sign matrix (embedded as literals in both engines,
# like RH_PLANES). Sign matrices satisfy the JL lemma with the same
# distortion bounds as Gaussian ones (Achlioptas 2003) and keep the
# arithmetic exactly reproducible.
RP_DIM = 8
_rp_rng = random.Random(20260814)
RP_SIGNS = [
    [float(_rp_rng.choice((-1.0, 1.0))) for _ in range(EMB_DIM)]
    for _ in range(RP_DIM)
]


def rand_projection(embs: DataFrame) -> DataFrame:
    """Random-projection dimensionality reduction of the embedding
    column: each output coordinate is ``dot(v, sign_row_i)`` for a
    fixed +/-1 row — the JL sketch that shrinks 100 TB of wide vectors
    to a fraction of the width while approximately preserving pairwise
    distances (preprocessing for clustering / coarse ANN / dedup).

    Pure narrow map: the sign matrix is a plan-time constant (no join,
    no broadcast variable), each projection is a deterministic
    left-to-right fold over the vector, and the scan's column pruning
    reads only (vec_id, embedding). Output coordinates are integer
    micro-units of the exact fold result — engine-exact.

    Returns ``(vec_id, p0_micro, ..., p{RP_DIM-1}_micro)``.
    """
    v = as_double(F.col("embedding"))
    cols = [F.col("vec_id")]
    for i in range(len(RP_SIGNS)):
        plane = _plane_lit("rp", RP_SIGNS, i)
        cols.append(
            F.round(dot(v, plane) * F.lit(1e6)).cast("long").alias(f"p{i}_micro")
        )
    return embs.select(*cols)


GRAM_SCALE = 1000  # embedding coordinates quantized to integer milli


def gram_matrix(embs: DataFrame) -> DataFrame:
    """Integer-exact Gram matrix of the embedding column:
    ``G[i][j] = sum over vectors of q_i * q_j`` with
    ``q = round(v * GRAM_SCALE)`` — the distributed primitive under
    PCA/SVD, whitening, and linear-probe training (the d x d
    uncentered second-moment matrix; eigendecomposition of the tiny
    result happens wherever you like).

    Two-stage determinism design:

    - QUANTIZATION happens as a JVM Column expression
      (``round(x * 1000)`` to BIGINT — the engine's proven cross-engine
      tie-away rounding), so the Python stage never touches a float;
    - the per-partition partial Gram is ONE int64 ``Q.T @ Q`` matmul
      per Arrow batch (``mapInPandas`` — the sanctioned vectorized
      path), and integer partials sum under a groupBy in any order.

    The shuffle therefore carries d^2-row partials per batch — never
    vectors — and the result is bit-exact regardless of partitioning.
    At 100 TB this is the textbook algebraic-aggregate shape: map-side
    combine does almost all the work, reduce adds a few thousand
    integers.

    Returns ``(i, j, gram)`` with 1-based dims, d^2 rows.
    """
    import numpy as np
    import pandas as pd

    d = EMB_DIM

    q = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * GRAM_SCALE).cast("long")
    )
    quant = embs.select(q.alias("q"))

    def _partial(batches):
        acc = np.zeros((d, d), dtype=np.int64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            acc += Q.T @ Q
            seen = True
        if seen:
            ii, jj = np.indices((d, d))
            yield pd.DataFrame(
                {
                    "i": (ii.ravel() + 1).astype("int64"),
                    "j": (jj.ravel() + 1).astype("int64"),
                    "partial": acc.ravel(),
                }
            )

    return (
        quant.mapInPandas(_partial, schema="i long, j long, partial long")
        .groupBy("i", "j")
        .agg(F.sum("partial").alias("gram"))
    )


def pca_components(gram_rows, k: int = 4) -> list[list[float]]:
    """Driver-side eigendecomposition of the (tiny, d x d) Gram matrix
    produced by :func:`gram_matrix`: returns the top-``k`` eigenvectors
    as plain float lists, descaled back to embedding units.

    This is the sanctioned driver-side step of distributed PCA: the
    cluster reduces 100 TB of vectors to d^2 integers; eigen-solving a
    64 x 64 symmetric matrix is microseconds anywhere. Deterministic
    up to eigenvector sign, which is fixed by forcing the
    largest-magnitude coordinate positive.
    """
    import numpy as np

    d = EMB_DIM
    G = np.zeros((d, d), dtype=np.float64)
    for r in gram_rows:
        G[r["i"] - 1, r["j"] - 1] = r["gram"]
    G /= float(GRAM_SCALE) ** 2
    vals, vecs = np.linalg.eigh(G)
    order = np.argsort(vals)[::-1][:k]
    out = []
    for idx in order:
        v = vecs[:, idx]
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        out.append([float(x) for x in v])
    return out


def pca_project(embs: DataFrame, components: list[list[float]]) -> DataFrame:
    """Distributed projection onto fixed principal components: the same
    shuffle-free literal-constant plan as :func:`rand_projection`, fed
    by :func:`pca_components` instead of random signs.

    Returns ``(vec_id, c0_micro, ..., c{k-1}_micro)``.
    """
    v = as_double(F.col("embedding"))
    cols = [F.col("vec_id")]
    for i, comp in enumerate(components):
        plane = F.lit([float(x) for x in comp])
        cols.append(
            F.round(dot(v, plane) * F.lit(1e6)).cast("long").alias(f"c{i}_micro")
        )
    return embs.select(*cols)


# ---------------------------------------------------------------------------
# Round-5 addition: product quantization (PQ) — the codebook compression
# family that completes the ANN set (exact / IVF / int8 scalar / int8+
# re-rank / PQ+ADC).
# ---------------------------------------------------------------------------

PQ_M = 8                    # subspaces
PQ_SUB = EMB_DIM // PQ_M    # dims per subspace (8)
PQ_K = 16                   # centroids per subspace -> 4-bit codes


def _sub_d2_micro(a: F.Column, b: F.Column) -> F.Column:
    """Squared L2 between two equal-length double arrays, quantized to
    integer micro-units. The integer form makes every downstream SUM
    accumulation-order-independent — the reason ADC distances below can
    aggregate with a plain groupBy on any engine."""
    d2 = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(d2 * F.lit(1e6)).cast("long")


def pq_codebook(embeddings: DataFrame) -> DataFrame:
    """Deterministic PQ codebook: the PQ_K lowest-vec_id vectors, each
    split into PQ_M subvectors (the same deterministic-seed convention
    as :func:`kmeans_assign` — the cross-engine analogue of a fixed
    random init; production would Lloyd-iterate per subspace, which
    changes the centroid VALUES but not one line of this plan).

    Returns ``(code, subspace, centroid)`` — PQ_K x PQ_M rows.
    """
    from pyspark.sql import Window

    w = Window.orderBy("vec_id")
    seeds = (
        embeddings.orderBy("vec_id")
        .limit(PQ_K)
        .select("vec_id", as_double(F.col("embedding")).alias("v"))
        .withColumn("code", (F.row_number().over(w) - 1).cast("long"))
    )
    sub = F.explode(
        F.array(*[
            F.struct(
                F.lit(m).cast("long").alias("subspace"),
                F.slice(F.col("v"), m * PQ_SUB + 1, PQ_SUB).alias("centroid"),
            )
            for m in range(PQ_M)
        ])
    )
    return seeds.select("code", sub.alias("s")).select(
        "code", "s.subspace", "s.centroid"
    )


def _subvectors(df: DataFrame, id_out: str) -> DataFrame:
    """(id, subspace, sub): every vector split into its M subvectors."""
    sub = F.explode(
        F.array(*[
            F.struct(
                F.lit(m).cast("long").alias("subspace"),
                F.slice(F.col("v"), m * PQ_SUB + 1, PQ_SUB).alias("sub"),
            )
            for m in range(PQ_M)
        ])
    )
    return (
        df.select(F.col("vec_id").alias(id_out), as_double(F.col("embedding")).alias("v"))
        .select(id_out, sub.alias("s"))
        .select(id_out, "s.subspace", "s.sub")
    )


def pq_codes(embeddings: DataFrame, codebook: DataFrame | None = None) -> DataFrame:
    """PQ encoding: each vector becomes PQ_M 4-bit codes (nearest
    centroid per subspace) — 64 doubles compress to 8 nibbles, a 64x
    storage cut vs float64.

    Plan: subvector explode (narrow, Mx rows) -> broadcast join with
    the PQ_K x PQ_M codebook -> per (vec, subspace) argmin via
    ``min(struct(d2, code))`` — a PARTIAL-aggregable min, so the Mx
    blowup collapses map-side before any shuffle. Ties break to the
    lowest code on both engines (struct ordering / ORDER BY d2, code).

    Returns ``(vec_id, subspace, code)`` long form.
    """
    cb = codebook if codebook is not None else pq_codebook(embeddings)
    j = _subvectors(embeddings, "vec_id").join(F.broadcast(cb), "subspace")
    best = (
        j.select(
            "vec_id",
            "subspace",
            F.struct(
                _sub_d2_micro(F.col("sub"), F.col("centroid")).alias("d"),
                F.col("code").alias("c"),
            ).alias("dc"),
        )
        .groupBy("vec_id", "subspace")
        .agg(F.min("dc").alias("b"))
    )
    return best.select("vec_id", "subspace", F.col("b.c").alias("code"))


def pq_topk(embeddings: DataFrame, queries: DataFrame, k: int = 3) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: queries stay full-precision,
    the corpus is scanned as 8-nibble codes; each query precomputes a
    PQ_M x PQ_K distance table and a corpus vector's distance is the
    sum of 8 table lookups (Jegou, Douze, Schmid 2011, "Product
    Quantization for Nearest Neighbor Search").

    Distances are integer micro-units end-to-end (``_sub_d2_micro``),
    so the per-(query, vec) SUM is order-independent — a plain
    partial-agged groupBy, no fold-order caveat. The distance table
    (|q| x M x K rows) broadcasts; the code table streams. Like int8,
    this is a compressed FULL scan (bytes-per-candidate lever, honest
    on this isotropic corpus — see PERF.md); compose with
    :func:`int8_rerank_topk`-style exact re-rank for production recall.

    Returns ``(query_id, rank, neighbor_id, adc_micro)``.
    """
    from pyspark.sql import Window

    cb = pq_codebook(embeddings)
    codes = pq_codes(embeddings, cb)
    dtab = (
        _subvectors(queries, "query_id")
        .join(F.broadcast(cb), "subspace")
        .select(
            "query_id",
            "subspace",
            "code",
            _sub_d2_micro(F.col("sub"), F.col("centroid")).alias("d2_micro"),
        )
    )
    adc = (
        codes.join(F.broadcast(dtab), ["subspace", "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2_micro").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_micro").asc(), F.col("neighbor_id")
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adc_micro")
    )


def ann_recall_audit(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    bits: int | None = None,
    probe_radius: int | None = None,
) -> DataFrame:
    """Per-query recall@k of the IVF multi-probe index against the
    exact brute-force ranking — the measurement that decides whether an
    approximate index is safe to deploy, expressed as a first-class
    oracle-checked query instead of a PERF.md footnote.

    Recall is integer-exact: both rankings break cosine ties on
    ``neighbor_id``, the hit count is a join on the (query, neighbor)
    pair, and ``recall_milli = 1000 * hits div k``. Queries whose probe
    set misses every true neighbor still appear (left join, 0 hits) —
    an audit that silently drops its failures is not an audit.

    Plan shape at scale: the two rankings are the already-bounded
    ``cosine_topk`` / ``ivf_topk`` outputs (≤ q·k rows each); the audit
    join broadcasts the approximate side, so the audit itself adds no
    corpus-sized shuffle. On a real deployment the exact side runs on a
    sampled query panel — recall estimation needs hundreds of queries,
    not the full corpus — and the panel size bounds the brute-force
    cost.

    ``bits``/``probe_radius`` default to None so the audited index is
    the SAME auto-sized geometry ``ivf_topk`` deploys (and the DuckDB
    oracle derives from count(*)) — an audit pinned to the 5-bit
    calibration geometry would stop measuring the production index the
    moment the auto-bits knob engages.
    """
    exact = cosine_topk(embeddings, queries, k).select("query_id", "neighbor_id")
    approx = (
        ivf_topk(embeddings, queries, k, bits, probe_radius)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(F.broadcast(approx), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            F.expr(f"(1000 * n_hits) div {k}").alias("recall_milli"),
        )
    )


MATRYOSHKA_DIMS = (32, 16, 8)  # prefix truncations audited against full-dim


def matryoshka_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    prefix_dims: tuple[int, ...] = MATRYOSHKA_DIMS,
) -> DataFrame:
    """Prefix-truncation recall audit (Matryoshka representation
    learning): per query and per prefix length d, the recall@k of
    exact cosine search over only the FIRST d dimensions against the
    full-dimension exact ranking — the measurement that decides how
    short a stored/search prefix can be before quality drops, i.e.
    whether the index can shrink 2-8x by truncation alone.

    One pass over the pair space: the query set broadcasts once, each
    (query, corpus) pair computes every prefix cosine from array
    slices of the SAME two vectors (slices share the scan and the
    join; the corpus is never re-enumerated per prefix), and a single
    window ranks all (query, prefix) groups together. Recall joins the
    bounded top-k frames only — the audit adds no corpus-sized
    shuffle beyond the one scoring pass.

    Determinism: left-to-right fold dots (DuckDB list_reduce mirror),
    ties broken on neighbor_id, recall as integer milli. Returns
    ``(query_id, prefix_dim, n_hits, recall_milli)``.
    """
    dims = [EMB_DIM, *prefix_dims]
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        as_double(F.col("embedding")).alias("qe"),
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double(F.col("embedding")).alias("ce"),
    )
    for d in dims:
        q = q.withColumn(f"qn_{d}", norm(F.slice(F.col("qe"), 1, d)))
        c = c.withColumn(f"cn_{d}", norm(F.slice(F.col("ce"), 1, d)))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(d).cast("long").alias("prefix_dim"),
                    # try_divide: a zero-norm PREFIX (all-zero leading
                    # dims) is a legal corpus state — cosine undefined
                    # -> NULL, ranked last on both engines.
                    F.try_divide(
                        dot(
                            F.slice(F.col("qe"), 1, d),
                            F.slice(F.col("ce"), 1, d),
                        ),
                        F.col(f"qn_{d}") * F.col(f"cn_{d}"),
                    ).alias("cosine"),
                )
                for d in dims
            ])
        ).alias("s"),
    ).select("query_id", "neighbor_id", F.col("s.prefix_dim").alias("prefix_dim"), F.col("s.cosine").alias("cosine"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id", "prefix_dim").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("neighbor_id")
    )
    ranked = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "prefix_dim", "neighbor_id")
    )
    full = (
        ranked.filter(F.col("prefix_dim") == EMB_DIM)
        .select("query_id", "neighbor_id")
        .withColumn(
            "prefix_dim",
            F.explode(F.array(*[F.lit(d).cast("long") for d in prefix_dims])),
        )
    )
    trunc = ranked.filter(F.col("prefix_dim") != EMB_DIM).withColumn(
        "hit", F.lit(1)
    )
    return (
        full.join(
            F.broadcast(trunc), ["query_id", "prefix_dim", "neighbor_id"], "left"
        )
        .groupBy("query_id", "prefix_dim")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hits"))
        .select(
            "query_id",
            "prefix_dim",
            "n_hits",
            F.expr(f"(1000 * n_hits) div {k}").alias("recall_milli"),
        )
    )


def label_diversity(embeddings: DataFrame) -> DataFrame:
    """Mean pairwise cosine similarity within each label group —
    the diversity number dataset builders watch when they balance a
    training mix — computed WITHOUT enumerating pairs via the
    algebraic identity  E[cos(u_i, u_j)] = (‖Σu‖² − n) / (n(n−1))
    for unit vectors (Σ‖u‖² = n).

    That identity turns an O(n²·d) pairwise job into one aggregation:
    normalize (narrow map), explode to (label, dim, value) and
    partial-agg per-dimension sums (shuffle ∝ n·d rows but map-side
    combined down to |labels|·d partials per partition), then a
    |labels|-row finish. The same shape survives a 100 TB corpus —
    the shuffle payload after combine is labels × dims doubles per
    partition, independent of n.

    Returns ``(label, n_vectors, mean_pairwise_cosine)`` (quantized
    1e-6; groups of one vector report NULL — no pairs exist).
    """
    un = (
        embeddings.select("label", as_double(F.col("embedding")).alias("v"))
        # zero vectors have no direction: they can't participate in a
        # mean-pairwise-cosine (and x/0 is an ANSI runtime error) —
        # exclude them from both the sums and the pair count.
        .filter(F.expr("aggregate(v, 0.0d, (a, y) -> a + y * y)") > 0)
        .select(
            "label",
            F.expr(
                "transform(v, x -> x / sqrt(aggregate(v, 0.0d, (a, y) -> a + y * y)))"
            ).alias("u"),
        )
    )
    ex = un.select("label", F.posexplode("u").alias("dim", "x"))
    sums = ex.groupBy("label", "dim").agg(F.sum("x").alias("s"))
    s2 = sums.groupBy("label").agg(F.sum(F.col("s") * F.col("s")).alias("s2"))
    n = un.groupBy("label").agg(F.count("*").cast("long").alias("n_vectors"))
    return (
        n.join(s2, "label")
        .select(
            "label",
            "n_vectors",
            TH.quantized6(
                F.when(
                    F.col("n_vectors") > 1,
                    (F.col("s2") - F.col("n_vectors"))
                    / (F.col("n_vectors") * (F.col("n_vectors") - F.lit(1))),
                )
            ).alias("mean_pairwise_cosine"),
        )
    )


def label_outliers(embeddings: DataFrame) -> DataFrame:
    """Mislabeled/anomalous-vector detector: squared L2 distance of
    every vector to its label centroid, flagged when it exceeds the
    label's mean + 2σ — the cheap first-pass audit dataset builders
    run before trusting classifier labels at scale.

    Determinism: the centroid is the 1e-6-quantized per-dimension mean
    (:func:`label_centroids` semantics) and each distance is quantized
    before the per-label mean/σ, so the flag threshold compares
    IEEE-identical doubles on both engines — no raw-accumulation
    comparisons anywhere.

    Plan: posexplode to (label, dim, x) with map-side-combined
    centroid aggregation (shuffle compresses to |labels|·d partials
    per partition), centroids broadcast back against the exploded
    frame, one groupBy(vec) for distances, a |labels|-row stats
    broadcast for the flag. Nothing scales with n² and the only
    n-proportional shuffle is the (vec_id, dim) distance reduce.

    Returns ``(vec_id, label, d2, is_outlier)``.
    """
    ex = embeddings.select(
        "vec_id",
        "label",
        F.posexplode(as_double(F.col("embedding"))).alias("pos", "x"),
    ).select(
        "vec_id", "label", (F.col("pos") + 1).cast("long").alias("dim"), "x"
    )
    cent = label_centroids(embeddings)
    d2 = (
        ex.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            TH.quantized6(
                F.sum((F.col("x") - F.col("centroid")) * (F.col("x") - F.col("centroid")))
            ).alias("d2")
        )
    )
    stats = d2.groupBy("label").agg(
        TH.quantized6(F.avg("d2")).alias("mean_d2"),
        TH.quantized6(F.stddev_pop("d2")).alias("std_d2"),
    )
    return d2.join(F.broadcast(stats), "label").select(
        "vec_id",
        "label",
        "d2",
        (F.col("d2") > F.col("mean_d2") + 2 * F.col("std_d2")).alias(
            "is_outlier"
        ),
    )


KNN_K = 5  # neighbors per leave-one-out vote


def knn_label_audit(
    embeddings: DataFrame, queries: DataFrame, k: int = KNN_K
) -> DataFrame:
    """Leave-one-out kNN label-agreement audit: for each sampled query
    vector, do its k nearest neighbors (exact cosine, self excluded)
    vote for its OWN label? Per-label agreement is the standard cheap
    probe for label noise and class overlap in an embedding corpus —
    a label whose members' neighborhoods disagree with it is either
    mislabeled or not linearly separated, and both states poison a
    classifier trained on the split.

    Plan: the sampled query set broadcasts against the corpus (one
    scoring pass, no corpus self-join), a per-query window keeps the
    bounded top-k frame, the vote is a groupBy over k·|queries| rows,
    and the majority pick is a second window over ≤ |labels| rows per
    query. Ties are deterministic: (votes DESC, label ASC) — the same
    argmax both engines compute. Agreement is integer milli.

    Returns ``(label, n_queries, n_agree, agreement_milli)``.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        as_double(F.col("embedding")).alias("qe"),
    ).withColumn("qn", norm(F.col("qe")))
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        as_double(F.col("embedding")).alias("ce"),
    ).withColumn("cn", norm(F.col("ce")))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "true_label",
        "neighbor_id",
        "neighbor_label",
        F.try_divide(
            dot(F.col("qe"), F.col("ce")), F.col("qn") * F.col("cn")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("neighbor_id")
    )
    topk = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    votes = topk.groupBy("query_id", "true_label", "neighbor_label").agg(
        F.count("*").alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("neighbor_label")
    )
    pred = (
        votes.withColumn("vrank", F.row_number().over(wv))
        .filter(F.col("vrank") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("neighbor_label").alias("predicted_label"),
        )
    )
    return (
        pred.groupBy(F.col("true_label").cast("long").alias("label"))
        .agg(
            F.count("*").cast("long").alias("n_queries"),
            F.sum(
                F.when(
                    F.col("predicted_label") == F.col("true_label"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_agree"),
        )
        .select(
            "label",
            "n_queries",
            "n_agree",
            F.expr("(1000 * n_agree) div n_queries").alias("agreement_milli"),
        )
    )


def pq_distortion(
    embeddings: DataFrame, codebook: DataFrame | None = None
) -> DataFrame:
    """PQ reconstruction-distortion audit: per subspace, the summed /
    mean / worst quantization error of the WINNING code — the number
    that says whether 4-bit codes are faithful enough to trust the ADC
    scan, and which subspace needs more centroids when they are not
    (error concentrates where the data varies most).

    Same plan as :func:`pq_codes` (subvector explode -> broadcast
    codebook join -> partial-aggregable argmin keeping the distance),
    then a |subspaces|-row aggregate — the audit costs one extra
    column over the encode it audits. Integer micro-units throughout.

    Returns ``(subspace, n_vectors, sum_d2_micro, mean_d2_micro,
    max_d2_micro)``.
    """
    cb = codebook if codebook is not None else pq_codebook(embeddings)
    j = _subvectors(embeddings, "vec_id").join(F.broadcast(cb), "subspace")
    best = (
        j.select(
            "vec_id",
            "subspace",
            F.struct(
                _sub_d2_micro(F.col("sub"), F.col("centroid")).alias("d"),
                F.col("code").alias("c"),
            ).alias("dc"),
        )
        .groupBy("vec_id", "subspace")
        .agg(F.min("dc").alias("b"))
        .select("vec_id", "subspace", F.col("b.d").alias("d2m"))
    )
    return best.groupBy("subspace").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.sum("d2m").cast("long").alias("sum_d2_micro"),
        F.expr("sum(d2m) div count(*)").alias("mean_d2_micro"),
        F.max("d2m").cast("long").alias("max_d2_micro"),
    )


def ivf_balance(embeddings: DataFrame, k: int = KMEANS_K) -> DataFrame:
    """IVF/k-means partition-balance audit: per-cluster population,
    ppm share, and the skew factor vs a uniform split — the index
    health number that predicts ANN tail latency (a probe into a
    bucket holding 10x its uniform share costs 10x the scan) and
    flags when centroids need re-training as the corpus drifts.

    Plan: one assignment pass (broadcast centroid scoring, identical
    to :func:`kmeans_assign`) and a k-row aggregate with the corpus
    total broadcast back — audit cost is the assignment it audits.
    ``skew_milli = 1000·n·k div total`` (1000 = perfectly uniform).

    Returns ``(cluster, n_vectors, share_ppm, skew_milli)``.
    """
    assigned = kmeans_assign(embeddings, k)
    per = assigned.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_vectors")
    )
    # Window scalar over the k-row per-cluster frame (round 13): same
    # value, one plan branch instead of an aggregate + broadcast chain.
    from pyspark.sql import Window

    return per.withColumn(
        "total", F.sum("n_vectors").over(Window.partitionBy())
    ).select(
        F.col("cluster").cast("long").alias("cluster"),
        "n_vectors",
        F.expr("(1000000 * n_vectors) div total").alias("share_ppm"),
        F.expr(f"(1000 * n_vectors * {k}) div total").alias("skew_milli"),
    )


def hard_negatives(
    embeddings: DataFrame, queries: DataFrame, k: int = 3
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    ``k`` most cosine-similar corpus vectors with a DIFFERENT label —
    the near-misses that teach an encoder more than any random
    negative (in-batch randoms are trivially far in a large corpus;
    training signal lives at the decision boundary this op extracts).

    Same broadcast-scan shape as :func:`cosine_topk` with the label
    inequality fused into the pair filter BEFORE scoring, so same-
    label pairs never even pay the dot product. Deterministic
    tie-break on neighbor id; cosine quantized 1e-6. Returns
    ``(query_id, query_label, rank, neighbor_id, neighbor_label,
    cosine)``.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        as_double(F.col("embedding")).alias("qe"),
    ).withColumn("qn", norm(F.col("qe")))
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        as_double(F.col("embedding")).alias("ce"),
    ).withColumn("cn", norm(F.col("ce")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_label") != F.col("neighbor_label"))
        .withColumn(
            "cosine",
            dot(F.col("qe"), F.col("ce"))
            / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0)),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("query_label").cast("long").alias("query_label"),
            "rank",
            "neighbor_id",
            F.col("neighbor_label").cast("long").alias("neighbor_label"),
            TH.quantized6(F.col("cosine")).alias("cosine"),
        )
    )


def silhouette_audit(embeddings: DataFrame, k: int = KMEANS_K) -> DataFrame:
    """Per-cluster SIMPLIFIED SILHOUETTE — the centroid-based cluster-
    quality score (Hruschka et al.'s simplified silhouette; the O(n·k)
    form of Rousseeuw 1987 that replaces pairwise distances with
    distances to centroids — the only silhouette computable at 10⁹
    vectors): for each vector, ``a`` = L2 distance to its (nearest)
    centroid, ``b`` = distance to the closest OTHER centroid,
    ``s = (b − a) / max(a, b)``. Mean s per cluster is the audit
    number: near 1 = crisp, near 0 = boundary mush — the go/no-go
    check before trusting k-means buckets for SemDeDup or IVF.

    Plan: identical scoring shape to :func:`kmeans_assign` (k-row seed
    centroid table broadcast, corpus streams in place); per vector the
    k candidate rows collapse via ``array_sort(collect_list(...))`` —
    k ≤ a few dozen structs per vector, co-located by construction —
    then one tiny per-cluster aggregate. sqrt is IEEE-correctly-
    rounded on both engines; the per-cluster mean snaps to the 1e-6
    grid (`texthash.quantized6`).

    Returns ``(cluster, n_vectors, mean_sil_q6)``.
    """
    from pyspark.sql import Window

    vecs = embeddings.select(
        F.col("vec_id"), as_double(F.col("embedding")).alias("v")
    )
    cent = (
        vecs.orderBy("vec_id")
        .limit(k)
        .withColumn(
            "cluster",
            (F.row_number().over(Window.orderBy("vec_id")) - 1).cast("long"),
        )
        .select("cluster", F.col("v").alias("cv"))
    )
    d2 = _fold_sum(
        F.zip_with(F.col("v"), F.col("cv"), lambda x, y: (x - y) * (x - y))
    )
    scored = vecs.crossJoin(F.broadcast(cent)).withColumn("d2", d2)
    per_vec = scored.groupBy("vec_id").agg(
        F.array_sort(F.collect_list(F.struct("d2", "cluster"))).alias("arr")
    )
    # try_element_at, not arr[1]: a one-vector corpus seeds a single
    # centroid, so arr has one element and GetArrayItem(1) raises
    # INVALID_ARRAY_INDEX under ANSI mode. NULL b2 drops the row below,
    # mirroring the oracle's inner join on the rn=2 centroid.
    a2 = F.col("arr")[0]["d2"]
    b2 = F.try_element_at(F.col("arr"), F.lit(2))["d2"]
    sil = F.when(
        b2 > 0, (F.sqrt(b2) - F.sqrt(a2)) / F.sqrt(b2)
    ).otherwise(F.lit(0.0))
    return (
        per_vec.select(
            F.col("arr")[0]["cluster"].alias("cluster"),
            b2.alias("b2"),
            sil.alias("s"),
        )
        .filter(F.col("b2").isNotNull())
        .drop("b2")
        .groupBy("cluster")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            TH.quantized6(F.avg("s")).alias("mean_sil_q6"),
        )
    )


IVF_SWEEP_RADII = (0, 1, 2, 3)


def ivf_probe_sweep(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    bits: int = IVF_BITS,
    radii: tuple[int, ...] = IVF_SWEEP_RADII,
) -> DataFrame:
    """Recall@k as a function of the IVF multi-probe radius — the
    tuning curve that picks the probe budget (the ANN analogue of the
    dedup family's ``jaccard_threshold_sweep``): one row per radius
    with the bucket-probe cost and the aggregate recall against the
    exact brute-force ranking, so the operator answers "how many
    probes buy how much recall" in one oracle-checked query.

    ONE corpus pass for every radius: probe masks nest (radius r's
    buckets ⊂ radius r+1's), so the corpus joins the query side once
    at MAX radius with each probe tagged by its mask's Hamming weight,
    and radius r's ranking is a filter ``ham <= r`` over the shared
    scored-pair frame (lazy ``persist()`` — computed once at the first
    action, reused by every radius). The corpus side is never
    replicated and never re-scored.

    Returns ``(probe_radius, n_buckets_probed, n_exact_pairs, n_hits,
    recall_milli)`` — integers end-to-end.
    """
    from math import comb

    from pyspark.sql import Window

    max_r = max(radii)
    masks = probe_masks(bits, max_r)
    q = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            as_double(F.col("embedding")).alias("qe"),
        )
        .withColumn("qn", norm(F.col("qe")))
        .withColumn("qb0", coarse_bucket(F.col("qe"), bits))
    )
    qb = q.select(
        "query_id",
        "qe",
        "qn",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.col("qb0").bitwiseXOR(F.lit(m)).alias("q_bucket"),
                        F.lit(bin(m).count("1")).cast("long").alias("ham"),
                    )
                    for m in masks
                ]
            )
        ).alias("p"),
    ).select(
        "query_id", "qe", "qn",
        F.col("p.q_bucket").alias("q_bucket"),
        F.col("p.ham").alias("ham"),
    )
    c = (
        embeddings.select(
            F.col("vec_id").alias("neighbor_id"),
            as_double(F.col("embedding")).alias("ce"),
        )
        .withColumn("cn", norm(F.col("ce")))
        .withColumn("bucket", coarse_bucket(F.col("ce"), bits))
    )
    scored = (
        c.join(F.broadcast(qb), F.col("q_bucket") == F.col("bucket"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine", dot(F.col("qe"), F.col("ce"))
            / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0))
        )
        .select("query_id", "neighbor_id", "ham", "cosine")
        .persist()
    )
    exact = cosine_topk(embeddings, queries, k).select("query_id", "neighbor_id")

    # Single-pass sweep (round 13): the per-radius loop built one
    # window + broadcast-join + scalar-aggregate branch chain PER
    # RADIUS (|radii| unioned subtrees — 26 AQE stage-jobs at sf0.1,
    # most of the item's 3-4 s wall in driver/stage round-trips, guide
    # §2.6/§5). Radius r's candidate set is exactly the scored pairs
    # with ham <= r, so exploding each scored pair to the radii that
    # include it and ranking ONE window over (query_id, probe_radius)
    # reproduces every branch's ranking bit-for-bit — row_number over
    # the same (cosine DESC, neighbor_id) order within each radius
    # partition — in one window shuffle, one join, one groupBy.
    rs = sorted(radii)
    radii_col = F.array(*[F.lit(int(r)).cast("long") for r in rs])
    w = Window.partitionBy("query_id", "probe_radius").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    approx_all = (
        scored.select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.explode(
                F.filter(radii_col, lambda r: r >= F.col("ham"))
            ).alias("probe_radius"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "probe_radius")
        .withColumn("hit", F.lit(1))
    )
    exact_all = exact.select(
        "query_id", "neighbor_id", F.explode(radii_col).alias("probe_radius")
    )
    buckets = F.lit(None).cast("long")
    for r in rs:  # plan-time literal ladder: radius -> probe-mask count
        buckets = F.when(
            F.col("probe_radius") == r,
            F.lit(sum(comb(bits, i) for i in range(r + 1))).cast("long"),
        ).otherwise(buckets)
    return (
        exact_all.join(
            F.broadcast(approx_all),
            ["query_id", "neighbor_id", "probe_radius"],
            "left",
        )
        .groupBy("probe_radius")
        .agg(
            F.count("*").cast("long").alias("n_exact_pairs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
        # Degenerate corpus (no queries -> no exact pairs): grouped agg
        # over an empty frame yields no rows, matching the oracle's
        # GROUP BY; the filter keeps the old guard's semantics.
        .filter(F.col("n_exact_pairs") > 0)
        .select(
            F.col("probe_radius").cast("long").alias("probe_radius"),
            buckets.alias("n_buckets_probed"),
            "n_exact_pairs",
            "n_hits",
            F.expr("(1000 * n_hits) div n_exact_pairs").alias("recall_milli"),
        )
    )
