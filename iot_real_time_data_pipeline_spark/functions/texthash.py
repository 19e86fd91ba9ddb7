"""Deterministic, cross-engine text hashing.

The LLM-data operators (dedup, fingerprinting, MinHash) need a hash
both Spark and the DuckDB oracle can compute bit-identically. Neither
engine's native hash family matches the other (xxhash64 vs murmur) —
but both ship md5 over UTF-8 strings, so:

    token_hash(t)  = int(first 8 hex chars of md5(t)) mod P
    minhash_i(set) = min over s in set of (a_i * h(s) + b_i) mod P

with P = 2^31 - 1 (Mersenne prime). All intermediates fit in int64:
h < P, so a_i*h + b_i < 2^62. md5 runs JVM-side in Spark (native,
codegen-friendly); an earlier per-character polynomial fold was
bit-identical too but *nested* higher-order functions evaluate
interpreted per-element and cost ~10 ms/doc — 50× slower.

Everything here is a *narrow map over arrays* — single-level
`transform`/`aggregate` on the token array, zero shuffles, zero UDFs,
fully pipelined with the scan at any scale.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_P = 2_147_483_647  # 2^31 - 1
DOC_B = 257

# MinHash permutation constants — fixed seed so Spark and the SQL
# oracle embed the same (a, b) pairs.
MINHASH_K = 32
_rng = random.Random(20240813)
MINHASH_AB = [(_rng.randrange(1, HASH_P), _rng.randrange(0, HASH_P)) for _ in range(MINHASH_K)]
LSH_BANDS = 8
LSH_ROWS = MINHASH_K // LSH_BANDS  # 4


def quantized6(col: Column) -> Column:
    """Cross-engine-stable 6-dp double: round to the integer 1e-6 grid,
    then divide back.

    ``round(x, 6)`` is NOT bit-stable across engines — Spark rounds the
    exact decimal expansion of the double (BigDecimal HALF_UP) while
    DuckDB rounds scaled binary, and the two disagree whenever the
    expansion lands on/near a 6th-digit half-grid point (the
    ``docs_source_mix`` driver failure). ``round(x * 1e6)`` to an
    *integer* is algorithmically identical on both engines (both round
    the exact value of the same IEEE product, ties away from zero —
    probed in round 4), and dividing the same integer by 1e6 is one
    IEEE division — bit-identical. Pair with :func:`sql_quantized6`.
    """
    return F.round(col * F.lit(1e6)).cast("long") / F.lit(1e6)


def sql_quantized6(expr: str) -> str:
    """DuckDB mirror of :func:`quantized6` (1e6 literals are DOUBLE in
    scientific notation; ``1000000.0`` would parse as DECIMAL and change
    the division)."""
    return f"(CAST(round(({expr}) * 1e6) AS BIGINT) / 1e6)"


def tokens(text: Column) -> Column:
    """Whitespace tokenization of trimmed, lowercased text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def token_hash(tok: Column) -> Column:
    """md5-derived 31-bit hash of a token (cross-engine deterministic)."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long") % HASH_P


def token_hashes(toks: Column) -> Column:
    """array<string> -> array<long> of per-token hashes (order kept)."""
    return F.transform(toks, token_hash)


def shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles as strings, in document order.

    Docs shorter than ``n`` tokens contribute their full token string
    as a single shingle so they still participate in dedup
    (``try_element_at``: past-the-end reads are NULL — which
    ``concat_ws`` skips — not an ANSI-mode ArrayIndexOutOfBounds).
    """
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    make = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.try_element_at(toks, i + j) for j in range(n)]
    )
    return F.transform(idx, make)


def shingle_hashes_from(th: Column, n: int = 3) -> Column:
    """Distinct shingle hashes (the MinHash input set) from a
    *materialized* token-hash array.

    CRITICAL: ``th`` must be a plain column reference (a stored
    array<long>), NOT a live ``transform(...)`` expression — each
    ``element_at`` re-evaluates its argument expression, so passing the
    lazy token-hash transform makes every shingle re-hash the whole
    document (measured 15x slow-down). Materialize via a projection
    boundary first (see ``dedup._doc_shingles``).
    """
    idx = F.sequence(F.lit(1), F.greatest(F.size(th) - (n - 1), F.lit(1)))

    def combine(i: Column) -> Column:
        # try_element_at: NULL (not an ANSI error) past the end, then
        # coalesce to 0 — short docs hash their full prefix.
        acc = F.coalesce(F.try_element_at(th, i), F.lit(0))
        for j in range(1, n):
            nxt = F.coalesce(F.try_element_at(th, i + j), F.lit(0))
            acc = (acc * DOC_B + nxt) % HASH_P
        return acc

    return F.array_distinct(F.transform(idx, combine))


def minhash_signature(hash_set: Column) -> list[Column]:
    """k min-hash values over a set of element hashes."""
    return [
        F.array_min(F.transform(hash_set, lambda h: (F.lit(a) * h + F.lit(b)) % HASH_P))
        for a, b in MINHASH_AB
    ]


def doc_fingerprint(hashes_in_order: Column) -> Column:
    """Order-sensitive rolling hash over per-token hashes."""
    return F.aggregate(
        hashes_in_order,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * DOC_B + h) % HASH_P,
    )


# --- SQL (DuckDB) mirrors -------------------------------------------------
# Emitted as strings so oracle queries embed the same constants.


def sql_tokens(text_expr: str) -> str:
    return f"string_split_regex(lower(trim({text_expr})), '\\s+')"


def sql_token_hash(tok_expr: str) -> str:
    return (
        f"(CAST(('0x' || substr(md5({tok_expr}), 1, 8)) AS BIGINT) % {HASH_P})"
    )


def sql_shingles(toks_col: str, n: int = 3) -> str:
    """Shingle-list expression over an existing list column ``toks_col``
    (use inside a CTE that has already materialized the token list)."""
    # concat_ws (not ||): skips the NULLs that out-of-range indexing
    # yields for docs shorter than n tokens — matching Spark concat_ws.
    parts = ", ".join(f"{toks_col}[i+{j}]" for j in range(n))
    return (
        f"list_transform(range(1, greatest(len({toks_col}) - {n - 1}, 1) + 1), "
        f"i -> concat_ws(' ', {parts}))"
    )


def sql_shingle_hashes(token_hashes_col: str, n: int = 3) -> str:
    """Mirror of ``shingle_hashes_from``: combine per-token hashes over an
    existing ``array<bigint>`` column (hash each char exactly once)."""
    acc = f"coalesce({token_hashes_col}[i], 0)"
    for j in range(1, n):
        nxt = f"coalesce({token_hashes_col}[i+{j}], 0)"
        acc = f"(({acc}) * {DOC_B} + {nxt}) % {HASH_P}"
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({token_hashes_col}) - {n - 1}, 1) + 1), "
        f"i -> {acc}))"
    )


def sql_minhash(hashes_expr: str, a: int, b: int) -> str:
    return (
        f"list_min(list_transform({hashes_expr}, "
        f"h -> (CAST({a} AS BIGINT) * h + {b}) % {HASH_P}))"
    )


def sql_doc_fingerprint(hashes_expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {hashes_expr}), "
        f"(acc, h) -> (acc * {DOC_B} + h) % {HASH_P})"
    )
