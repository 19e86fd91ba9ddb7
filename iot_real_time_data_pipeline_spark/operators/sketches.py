"""Distributed sketch operators over the events stream.

At 100 TB, "how many distinct users" and "how often does user X
appear" cannot afford an exact global distinct per ad-hoc question —
sketches answer them with bounded memory and one partial-aggregated
pass. Two families ship here:

- **Deterministic, oracle-checkable sketches** (KMV distinct-count,
  count-min frequency table): built from the same arithmetic hash
  family as ``functions.texthash`` (``(a*x + b) mod p``, fixed seeded
  constants), so Spark and the DuckDB oracle compute bit-identical
  sketch contents — the correctness gate covers not just the estimate
  but the full sketch state. Both are algebraic: k-smallest-hashes and
  per-cell counts merge associatively, so they partial-aggregate
  map-side and the shuffle carries sketch-sized state, never row
  volume.

- **Spark-native approximate aggregates** (`approx_count_distinct` =
  HyperLogLog++, `approx_percentile`): the built-in production path.
  Their estimates are implementation-defined (no cross-engine oracle
  possible), so they are verified by error-bound tests against exact
  answers instead (``tests/test_sketches.py``).

Reference parity note: the reference has no sketch layer at all — its
Lambda counts rows per batch (`lamda.py` batch summary). These are the
operators that keep those dashboards answerable at cluster scale.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.texthash import HASH_P

# Fixed hash constants — the SQL oracle embeds the same literals.
_rng = random.Random(20250814)
KMV_K = 64
KMV_A = _rng.randrange(1, HASH_P)
KMV_B = _rng.randrange(0, HASH_P)

CMS_DEPTH = 4
CMS_WIDTH = 64
CMS_AB = [
    (_rng.randrange(1, HASH_P), _rng.randrange(0, HASH_P)) for _ in range(CMS_DEPTH)
]


def _hash_long(col: F.Column, a: int, b: int) -> F.Column:
    """(a*x + b) mod p over a BIGINT key — products stay far below
    2^63 for a,b < p = 2^31-1 and x reduced mod p first."""
    return F.pmod(F.lit(a) * F.pmod(col, F.lit(HASH_P)) + F.lit(b), F.lit(HASH_P))


def kmv_distinct(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """K-minimum-values distinct-count sketch per event type
    (Bar-Yossef et al. 2002): hash every key, keep the k smallest
    DISTINCT hash values; the k-th smallest m estimates the distinct
    count as ``(k-1) * p / m`` (hashes ~ uniform on [0, p)).

    Everything is integer and deterministic, so the DuckDB oracle
    reproduces the estimate exactly — the rare sketch whose *estimate*
    sits in the correctness gate, not just its error bound.

    Plan: distinct (type, hash) partial-aggregates map-side (the only
    row-volume stage), then a row_number window on the per-type hash
    order — at most k rows per type survive to the final agg. Merging
    partitions' k-smallest sets is a k-smallest over the union:
    associative, no resort of raw data.

    Groups with fewer than k distinct keys report their exact count
    (the sketch is exact below saturation). Returns ``(event_type,
    n_hashes_kept, kmv_estimate)``.
    """
    hashed = events.select(
        "event_type", _hash_long(F.col("user_id"), KMV_A, KMV_B).alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    topk = hashed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return (
        topk.groupBy("event_type")
        .agg(F.count("*").alias("n_hashes_kept"), F.max("h").alias("m_k"))
        .select(
            "event_type",
            "n_hashes_kept",
            F.when(
                F.col("n_hashes_kept") < k, F.col("n_hashes_kept")
            )
            .otherwise(
                F.expr(f"(CAST({k - 1} AS BIGINT) * {HASH_P}) div m_k")
            )
            .cast("long")
            .alias("kmv_estimate"),
        )
    )


def cms_table(events: DataFrame, depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> DataFrame:
    """Count-min sketch of user event frequencies (Cormode &
    Muthukrishnan 2005): ``depth`` independent hash rows x ``width``
    counters; a key's frequency estimate is the MIN over its cells and
    never underestimates.

    The sketch table IS the result: ``depth*width`` rows regardless of
    input volume. Each event maps to ``depth`` cells (an in-row explode
    of a literal array — no join), and the groupBy partial-aggregates
    map-side, so the shuffle carries at most ``depth*width`` partial
    rows per task. Merging sketches across partitions/streams is cell
    addition — the algebraic property that makes CMS the standard
    streaming frequency sketch.

    Returns ``(depth, slot, n_events)`` (cells with zero count are
    absent — a sparse sketch; readers treat missing as 0).
    """
    cells = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("depth"),
                F.pmod(
                    _hash_long(F.col("user_id"), a, b), F.lit(width)
                ).alias("slot"),
            )
            for i, (a, b) in enumerate(CMS_AB[:depth])
        ]
    )
    return (
        events.select(F.explode(cells).alias("c"))
        .select(F.col("c.depth").alias("depth"), F.col("c.slot").alias("slot"))
        .groupBy("depth", "slot")
        .agg(F.count("*").alias("n_events"))
    )


def cms_estimate(events: DataFrame, keys: DataFrame) -> DataFrame:
    """Point-frequency estimates for a key set from the CMS: min over
    the key's ``depth`` cells. The sketch (bounded size) broadcasts;
    the probe side never shuffles. Returns ``(user_id, est_count)``
    with the CMS one-sided guarantee est >= true count.
    """
    sketch = cms_table(events)
    probes = keys.select("user_id").distinct()
    cells = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("depth"),
                F.pmod(_hash_long(F.col("user_id"), a, b), F.lit(CMS_WIDTH)).alias(
                    "slot"
                ),
            )
            for i, (a, b) in enumerate(CMS_AB)
        ]
    )
    probe_cells = probes.select(
        "user_id", F.explode(cells).alias("c")
    ).select("user_id", F.col("c.depth").alias("depth"), F.col("c.slot").alias("slot"))
    return (
        probe_cells.join(F.broadcast(sketch), ["depth", "slot"])
        .groupBy("user_id")
        .agg(F.min("n_events").alias("est_count"))
    )


def approx_user_stats(events: DataFrame) -> DataFrame:
    """The Spark-native approximate path: HyperLogLog++ distinct users
    and t-digest-style value percentiles per event type, in ONE
    partial-aggregated pass. Estimates are implementation-defined, so
    this operator is bound by error tests, not the SQL oracle.

    Returns ``(event_type, n_events, approx_users, p50, p95)``.
    """
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("p50"),
        F.percentile_approx("value", 0.95).alias("p95"),
    )


def kmv_daily_merge(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """KMV mergability, demonstrated end-to-end: build an independent
    k-minimum-values sketch PER DAY, then merge the day sketches
    (k-smallest over the union of kept hashes) into one global
    estimate. The merge theorem — k-min of the per-partition k-mins
    equals k-min of everything, because a hash beaten by k smaller
    hashes in its own day is beaten by the same k globally — is what
    makes KMV a distributed-aggregation-safe sketch; the pytest twin
    asserts merged == direct (`kmv_distinct`) exactly.

    Plan: distinct (day, type, hash) partial-aggregates map-side; the
    per-day window keeps <= k rows per (day, type); the merge is a
    second window over at most ``days x k`` rows per type. At 100 TB
    the first stage is the only row-volume stage — exactly the shape of
    a daily-rollup pipeline that stores per-day sketches and answers
    "distinct over any date range" by merging.

    Returns ``(event_type, n_days, n_hashes_kept, kmv_estimate)``.
    """
    # integer day number from the epoch-second column (with_ts_sec) —
    # cross-engine exact, independent of the nanos-vs-timestamp read path
    hashed = (
        events.select(
            F.expr("ts_sec div 86400").alias("day"),
            "event_type",
            _hash_long(F.col("user_id"), KMV_A, KMV_B).alias("h"),
        )
        .distinct()
    )
    wd = Window.partitionBy("day", "event_type").orderBy("h")
    daily = hashed.withColumn("rn", F.row_number().over(wd)).filter(F.col("rn") <= k)
    n_days = daily.groupBy("event_type").agg(
        F.count_distinct("day").alias("n_days")
    )
    union = daily.select("event_type", "h").distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    topk = union.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    est = (
        topk.groupBy("event_type")
        .agg(F.count("*").alias("n_hashes_kept"), F.max("h").alias("m_k"))
        .select(
            "event_type",
            "n_hashes_kept",
            F.when(F.col("n_hashes_kept") < k, F.col("n_hashes_kept"))
            .otherwise(F.expr(f"(CAST({k - 1} AS BIGINT) * {HASH_P}) div m_k"))
            .cast("long")
            .alias("kmv_estimate"),
        )
    )
    return est.join(n_days, "event_type").select(
        "event_type", "n_days", "n_hashes_kept", "kmv_estimate"
    )


def kmv_set_ops(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """Distinct-count estimates for set EXPRESSIONS over KMV sketches
    (Beyer et al., "On synopses for distinct value estimation under
    multiset operations"): for every pair of event types, the distinct
    users of A∪B, A∩B, A∖B and B∖A — from the per-type sketches alone,
    never rescanning the raw data.

    The estimator: combine the two k-min sets, keep the k smallest →
    that IS the KMV sketch of A∪B, so ``union_est = (k-1)p/m_k``; the
    fraction rho of combined-sketch hashes present in BOTH per-type
    sketches is an unbiased Jaccard estimate, so ``inter_est = rho *
    union_est`` (and the one-sided fractions give the differences).
    Below saturation (n_kept < k) the combined sketch holds EVERY hash
    of A∪B, so using ``n_kept`` as the denominator makes all four
    numbers exact. All-integer arithmetic → the oracle reproduces the
    estimates bit-for-bit.

    Plan shape at 100 TB: the distinct-hash stage is the only one that
    touches row volume (map-side partial); per-type windows emit ≤ k
    rows per type, and everything pairwise operates on ``types² × k``
    rows — driver-free, broadcast-sized.

    Returns ``(type_a, type_b, n_kept, union_est, inter_est,
    a_only_est, b_only_est)`` for each unordered pair (type_a <
    type_b).
    """
    hashed = events.select(
        "event_type", _hash_long(F.col("user_id"), KMV_A, KMV_B).alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    sk = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("event_type", "h")
        .persist()
    )
    types = sk.select("event_type").distinct()
    prs = (
        types.select(F.col("event_type").alias("type_a"))
        .join(
            types.select(F.col("event_type").alias("type_b")),
            F.col("type_a") < F.col("type_b"),
        )
    )
    from_a = prs.join(
        sk.withColumnRenamed("event_type", "type_a"), "type_a"
    ).select("type_a", "type_b", "h")
    from_b = prs.join(
        sk.withColumnRenamed("event_type", "type_b"), "type_b"
    ).select("type_a", "type_b", "h")
    comb = from_a.unionByName(from_b).distinct()
    w2 = Window.partitionBy("type_a", "type_b").orderBy("h")
    kk = (
        comb.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .select("type_a", "type_b", "h")
    )
    flag_a = sk.select(
        F.col("event_type").alias("type_a"), "h", F.lit(1).alias("fa")
    )
    flag_b = sk.select(
        F.col("event_type").alias("type_b"), "h", F.lit(1).alias("fb")
    )
    flagged = (
        kk.join(flag_a, ["type_a", "h"], "left")
        .join(flag_b, ["type_b", "h"], "left")
        .select(
            "type_a", "type_b", "h",
            F.coalesce("fa", F.lit(0)).alias("in_a"),
            F.coalesce("fb", F.lit(0)).alias("in_b"),
        )
    )
    agg = flagged.groupBy("type_a", "type_b").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.max("h").alias("m_k"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("inter_cnt"),
        F.sum(F.col("in_a") * (1 - F.col("in_b"))).cast("long").alias("a_only_cnt"),
        F.sum((1 - F.col("in_a")) * F.col("in_b")).cast("long").alias("b_only_cnt"),
    )
    return (
        agg.withColumn(
            "union_est",
            F.when(F.col("n_kept") < k, F.col("n_kept"))
            .otherwise(F.expr(f"(CAST({k - 1} AS BIGINT) * {HASH_P}) div m_k"))
            .cast("long"),
        )
        .select(
            "type_a", "type_b", "n_kept", "union_est",
            F.expr("(inter_cnt * union_est) div n_kept").cast("long").alias("inter_est"),
            F.expr("(a_only_cnt * union_est) div n_kept").cast("long").alias("a_only_est"),
            F.expr("(b_only_cnt * union_est) div n_kept").cast("long").alias("b_only_est"),
        )
    )


# HyperLogLog geometry: 2^HLL_B registers over the 31-bit hash; the
# remainder carries HLL_W bits, so rho in [1, HLL_W + 1]. SCALE makes
# every 2^-rho term an exact BIGINT (2^(SCALE - rho), SCALE > max rho).
HLL_B = 6            # 64 registers
HLL_M = 1 << HLL_B
HLL_W = 31 - HLL_B   # 25 remainder bits
HLL_SCALE = 30
# alpha_64 = 0.709 (Flajolet et al. 2007) as an integer ratio
HLL_ALPHA_NUM, HLL_ALPHA_DEN = 709, 1000
# NO linear (a*x+b) mod p hash here: HLL reads the BIT PATTERN of the
# hash (leading zeros), and a linear map of sequential ids produces an
# arithmetic progression whose leading-zero counts are wildly
# non-geometric (measured: estimate 294 for a true 150). KMV/CMS only
# need rank/slot uniformity and tolerate it; HLL needs the md5 mixer.


def _rho_ladder(rem: F.Column) -> F.Column:
    """Position of the leftmost 1-bit of the HLL_W-bit remainder
    (1-based; all-zero remainder -> HLL_W + 1). A pure integer CASE
    ladder — no log2/clz, so Spark and the SQL oracle agree bit-exactly."""
    expr = F.lit(HLL_W + 1)
    for k in range(HLL_W, 0, -1):
        # descending thresholds: k=1 <=> rem >= 2^(HLL_W-1)
        expr = F.when(rem >= F.lit(1 << (HLL_W - k)), F.lit(k)).otherwise(expr)
    return expr


def hll_distinct(events: DataFrame) -> DataFrame:
    """HyperLogLog distinct-count per event type with an INTEGER-EXACT
    core (Flajolet, Fusy, Gandouet, Meunier 2007): bucket = top
    ``HLL_B`` hash bits, register = max leftmost-1-bit position of the
    remainder, and the harmonic-mean denominator ``sum(2^-rho_j)`` is
    scaled by 2^HLL_SCALE so every term — and therefore the SUM, in any
    accumulation order — is an exact BIGINT. The raw estimate
    ``alpha * m^2 / sum`` is then one integer division: the whole
    estimate sits in the cross-engine correctness gate, like KMV and
    unlike any native HLL implementation. The standard small-range
    linear-counting correction (``m * ln(m / V)`` when the raw estimate
    is under 2.5m and empty registers exist) is the one real-valued
    output, reported on the 1e-6 grid.

    Plan: one partial-aggregated groupBy((type, bucket)) -> max(rho) —
    shuffle carries at most ``m`` rows per type — then a per-type
    m-row aggregate. Registers merge by MAX, so the sketch is
    algebraic and daily-merge-safe exactly like ``kmv_daily_merge``.

    Returns ``(event_type, n_buckets_hit, sum_scaled, hll_raw_estimate,
    hll_estimate)``.
    """
    from ..functions import texthash as TH

    h = TH.token_hash(F.col("user_id").cast("string"))
    bucketed = events.select(
        "event_type",
        F.shiftright(h, HLL_W).alias("bucket"),
        h.bitwiseAND(F.lit((1 << HLL_W) - 1)).alias("rem"),
    ).select("event_type", "bucket", _rho_ladder(F.col("rem")).alias("rho"))
    regs = bucketed.groupBy("event_type", "bucket").agg(F.max("rho").alias("rho"))
    per_type = regs.groupBy("event_type").agg(
        F.count("*").alias("n_buckets_hit"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_SCALE} - rho)")).alias(
            "sum_hit"
        ),
    )
    m, sc = HLL_M, HLL_SCALE
    sum_scaled = (
        F.col("sum_hit")
        + (F.lit(m) - F.col("n_buckets_hit")) * F.lit(1 << sc)
    ).cast("long")
    raw = F.expr(
        f"(CAST({HLL_ALPHA_NUM} AS BIGINT) * {m} * {m} * CAST({1 << sc} AS BIGINT))"
        f" div ({HLL_ALPHA_DEN} * sum_scaled)"
    )
    zeros = F.lit(m) - F.col("n_buckets_hit")
    corrected = F.when(
        (F.col("hll_raw_estimate") * 2 < F.lit(5 * m)) & (zeros > 0),
        TH.quantized6(F.lit(float(m)) * F.log(F.lit(m).cast("double") / zeros.cast("double"))),
    ).otherwise(F.col("hll_raw_estimate").cast("double"))
    return (
        per_type.withColumn("sum_scaled", sum_scaled)
        .withColumn("hll_raw_estimate", raw.cast("long"))
        .withColumn("hll_estimate", corrected)
        .select(
            "event_type",
            "n_buckets_hit",
            "sum_scaled",
            "hll_raw_estimate",
            "hll_estimate",
        )
    )


HIST_BIN_WIDTH = 8.0
HIST_QUANTILES = (50, 90, 99)


def hist_quantile_audit(
    events: DataFrame,
    value_col: str = "value",
    bin_width: float = HIST_BIN_WIDTH,
    quantiles: tuple = HIST_QUANTILES,
) -> DataFrame:
    """Histogram-CDF quantile estimation, audited against the exact
    order statistic — the QUANTILE member of the sketch family next to
    KMV/HLL/CMS (none of which answer "what's the p99").

    Sketch side: ``bin = floor(value / bin_width)`` -> count per bin.
    The state is one counter per occupied bin — fixed-size, algebraic
    (bins merge by addition), so it partial-aggregates map-side and
    the shuffle carries histogram-sized state, never row volume; this
    is the estimator you actually run at 100 TB, and the same shape
    ``curation.dsir_resample`` uses for its boundary buckets. The
    estimate for quantile q is the upper edge of the first bin whose
    cumulative count reaches ``k = ceil(q/100 * N)`` — error bounded
    by bin_width by construction.

    Exact side: the k-th smallest value via one global rank — the
    audit's ground truth. At full scale you'd sample it or skip it;
    it exists here to MEASURE the sketch's error the way
    ``emb_recall_audit`` grounds IVF recall.

    All selection arithmetic is integer (``ceil`` as ``(q*n + 99) div
    100``); the reported values are raw data doubles and exact bin
    edges, so every row is bit-identical across engines.

    Returns ``(q_pct, n, k, exact_value, approx_upper, err_micro)``.
    """
    vals = events.filter(F.col(value_col).isNotNull()).select(
        F.col("event_id"), F.col(value_col).alias("v")
    )
    n_tot = vals.agg(F.count("*").alias("n"))
    hist = (
        vals.select(
            F.floor(F.col("v") / F.lit(float(bin_width))).cast("long").alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").alias("c"))
    )
    cum = hist.withColumn(
        "cum",
        F.sum("c").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    qrows = n_tot.select(
        F.explode(F.array(*[F.lit(int(q)) for q in quantiles])).alias("q_pct"),
        "n",
    ).withColumn("k", F.expr("(q_pct * n + 99) div 100"))
    approx = (
        qrows.join(F.broadcast(cum), F.col("cum") >= F.col("k"))
        .groupBy("q_pct", "n", "k")
        .agg(F.min("bin").alias("bin"))
        .withColumn(
            "approx_upper",
            (F.col("bin") + 1).cast("double") * F.lit(float(bin_width)),
        )
        .drop("bin")
    )
    ranked = vals.select(
        "v",
        F.row_number()
        .over(Window.orderBy("v", "event_id"))
        .alias("rn"),
    )
    return (
        approx.join(ranked, F.col("rn") == F.col("k"))
        .select(
            "q_pct",
            "n",
            "k",
            F.col("v").alias("exact_value"),
            "approx_upper",
            F.round((F.col("approx_upper") - F.col("v")) * F.lit(1e6))
            .cast("long")
            .alias("err_micro"),
        )
    )
