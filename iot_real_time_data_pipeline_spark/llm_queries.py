"""Driver-facing LLM-training-data queries over documents/embeddings,
each with a DuckDB oracle twin.

The oracle SQL mirrors the Spark plans structurally (same postings
joins, same arithmetic hashes from ``functions.texthash``, same
left-fold accumulation order for dot products) so values match
bit-for-bit before the final 6 dp rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .driver_queries import QueryFn
from .entrypoints import read_table
from .functions import texthash as TH
from .operators import curation as CUR
from .operators import dedup as DD
from .operators import multimodal as MM
from .operators import similarity as SIM
from .operators import text_analysis as TA

QUERY_MOD = 50  # vec_id % QUERY_MOD == 0 -> similarity query vector
JACCARD_THRESHOLD = 0.8


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "embeddings")


def _emb_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _emb(spark, sf_dir).filter(F.col("vec_id") % QUERY_MOD == 0)


# ---------------------------------------------------------------------------
# Spark callables
# ---------------------------------------------------------------------------


def q_exact_dedup(spark, sf_dir):
    return DD.exact_dedup(_docs(spark, sf_dir))


def q_shingle_jaccard(spark, sf_dir):
    return DD.shingle_jaccard_pairs(_docs(spark, sf_dir), threshold=JACCARD_THRESHOLD)


def q_minhash_lsh(spark, sf_dir):
    return DD.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=JACCARD_THRESHOLD)


CONTAINMENT_THRESHOLD = 0.9


def q_containment(spark, sf_dir):
    return DD.shingle_containment_pairs(
        _docs(spark, sf_dir), threshold=CONTAINMENT_THRESHOLD
    )


def q_simhash(spark, sf_dir):
    # bits=32: the cross-engine oracle mirror geometry. The production
    # default (64-bit, 4 x 16-bit bands — DD.SIMHASH_BITS) is pinned by
    # test_simhash64_dup_pairs_exhaustive_at_ham3 instead; its md5-word
    # extraction has no DuckDB integer equivalent to oracle against.
    return DD.simhash_fingerprints(_docs(spark, sf_dir), bits=DD.SIMHASH_ORACLE_BITS)


def q_simhash_dup_pairs(spark, sf_dir):
    return DD.simhash_dup_pairs(
        _docs(spark, sf_dir),
        bits=DD.SIMHASH_ORACLE_BITS,
        bands=DD.SIMHASH_ORACLE_BANDS,
    )


def q_simhash_dup_pairs_prod(spark, sf_dir):
    """The PRODUCTION 64-bit / 4x16-bit-band geometry (round 10): the
    round-10 scaling study measured the 32-bit oracle-mirror variant
    above at alpha 2.3-2.4 — with 8-bit bands (256 buckets) its
    candidate set approaches all-pairs by construction (PERF.md round
    4: 89 % of pairs are candidates at 32/8 vs 0.4 % at 64/16), so the
    gate-geometry line item is NOT the scale path. This registers the
    production default (md5-word votes, 2^16 buckets/band, hot-bucket
    sub-band refinement past 20k docs) with its own full DuckDB oracle
    — the 'no clean DuckDB integer form' note on the 32-bit mirror
    predates the hex-cast idiom the multimodal oracle established."""
    return DD.simhash_dup_pairs(_docs(spark, sf_dir))


EVAL_MOD = 50  # doc_id % EVAL_MOD == 0 -> stand-in eval/benchmark set


def q_decontaminate(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return DD.decontaminate(
        docs.filter(F.col("doc_id") % EVAL_MOD != 0),
        docs.filter(F.col("doc_id") % EVAL_MOD == 0),
    )


def q_decontaminated_corpus(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return DD.decontaminated_corpus(
        docs.filter(F.col("doc_id") % EVAL_MOD != 0),
        docs.filter(F.col("doc_id") % EVAL_MOD == 0),
    )


def q_dup_clusters(spark, sf_dir):
    return DD.dup_clusters(_docs(spark, sf_dir), threshold=JACCARD_THRESHOLD)


def q_stratified_sample(spark, sf_dir):
    return CUR.stratified_sample(_docs(spark, sf_dir))


def q_stratified_sample_exact(spark, sf_dir):
    return CUR.stratified_sample_exact(_docs(spark, sf_dir))


def q_pii_scrub(spark, sf_dir):
    return CUR.pii_scrub(_docs(spark, sf_dir))


def q_curation(spark, sf_dir):
    return CUR.curation_pipeline(_docs(spark, sf_dir))


def q_source_mix(spark, sf_dir):
    return CUR.source_mix(_docs(spark, sf_dir))


def q_rebalanced_sample(spark, sf_dir):
    return CUR.rebalanced_sample(_docs(spark, sf_dir))


def q_token_stats(spark, sf_dir):
    return TA.token_stats(_docs(spark, sf_dir))


def q_language_id(spark, sf_dir):
    return TA.language_id(_docs(spark, sf_dir))


def q_quality(spark, sf_dir):
    return TA.quality_scores(_docs(spark, sf_dir))


def q_fingerprints(spark, sf_dir):
    return TA.doc_fingerprints(_docs(spark, sf_dir))


def q_unigram_logprob(spark, sf_dir):
    return TA.unigram_logprob(_docs(spark, sf_dir))


def q_bpe_merges(spark, sf_dir):
    return TA.bpe_merge_candidates(_docs(spark, sf_dir), k=50)


def q_tfidf(spark, sf_dir):
    return TA.tfidf_top_terms(_docs(spark, sf_dir))


def q_cosine_topk(spark, sf_dir):
    return SIM.cosine_topk(_emb(spark, sf_dir), _emb_queries(spark, sf_dir), k=5)


def q_ivf_topk(spark, sf_dir):
    return SIM.ivf_topk(_emb(spark, sf_dir), _emb_queries(spark, sf_dir), k=3)


COSINE_DUP_THRESHOLD = 0.45


def q_cosine_dup_pairs(spark, sf_dir):
    return SIM.cosine_dup_pairs(_emb(spark, sf_dir), threshold=COSINE_DUP_THRESHOLD)


def q_emb_dup_clusters(spark, sf_dir):
    return SIM.emb_dup_clusters(_emb(spark, sf_dir), threshold=COSINE_DUP_THRESHOLD)


def q_label_centroids(spark, sf_dir):
    return SIM.label_centroids(_emb(spark, sf_dir))


def q_multimodal_features(spark, sf_dir):
    return MM.extract_features(MM.with_binary_payload(_docs(spark, sf_dir)))


def q_frame_sample(spark, sf_dir):
    return MM.sample_frames(MM.with_binary_payload(_docs(spark, sf_dir)))


def q_payload_sniff(spark, sf_dir):
    return MM.payload_sniff(MM.with_binary_payload(_docs(spark, sf_dir)))


def _sql_payload_sniff() -> str:
    # hex of the first utf-8 BYTE (prefix of the encoded blob) — the
    # Spark side hexes substring(payload, 1, 1).
    return """
WITH enc AS (
  SELECT CAST(octet_length(encode(text)) AS BIGINT) AS blen,
         substr(hex(encode(text)), 1, 2) AS h
  FROM documents
),
cls AS (
  SELECT blen,
         -- NULL text mirrors the Spark side's isNull branch: class
         -- 'empty' with blen left NULL (sum/max skip it on both engines)
         CASE WHEN blen IS NULL OR blen = 0 THEN 'empty'
              WHEN h = '7B' THEN 'json-like'
              WHEN h = '3C' THEN 'markup-like'
              WHEN h BETWEEN '30' AND '39' THEN 'digit-led'
              WHEN h BETWEEN '41' AND '5A' THEN 'upper-led'
              WHEN h BETWEEN '61' AND '66' THEN 'lower-af'
              WHEN h BETWEEN '67' AND '6D' THEN 'lower-gm'
              WHEN h BETWEEN '6E' AND '73' THEN 'lower-ns'
              WHEN h BETWEEN '74' AND '7A' THEN 'lower-tz'
              ELSE 'other' END AS content_class
  FROM enc
)
SELECT content_class, count(*) AS n_items,
       CAST(sum(blen) AS BIGINT) AS total_bytes,
       CAST(max(blen) AS BIGINT) AS max_bytes
FROM cls GROUP BY content_class"""


def q_boilerplate_scrub(spark, sf_dir):
    return CUR.boilerplate_scrub(_docs(spark, sf_dir))


def q_source_lang_matrix(spark, sf_dir):
    return CUR.source_lang_matrix(_docs(spark, sf_dir))


def q_repetition_stats(spark, sf_dir):
    return TA.repetition_stats(_docs(spark, sf_dir))


def q_char_entropy(spark, sf_dir):
    return TA.char_entropy(_docs(spark, sf_dir))


def q_emb_norm_stats(spark, sf_dir):
    return SIM.emb_norm_stats(_emb(spark, sf_dir))


def q_bigram_logprob(spark, sf_dir):
    return TA.bigram_logprob(_docs(spark, sf_dir))


def q_int8_quantize(spark, sf_dir):
    return SIM.int8_quantize(_emb(spark, sf_dir))


def q_kmeans_assign(spark, sf_dir):
    return SIM.kmeans_assign(_emb(spark, sf_dir))


def q_int8_topk(spark, sf_dir):
    return SIM.int8_topk(_emb(spark, sf_dir), _emb_queries(spark, sf_dir), k=5)


def q_int8_rerank_topk(spark, sf_dir):
    return SIM.int8_rerank_topk(
        _emb(spark, sf_dir), _emb_queries(spark, sf_dir), k=3
    )


def _ivf_index_dir(sf_dir: str) -> str:
    """Content-fingerprinted cache dir for the persisted IVF index
    (same pattern as driver_queries._lake_dir): regenerated source
    parquet gets a fresh index instead of stale rows."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "embeddings.parquet")
    paths = []
    if os.path.isdir(src):
        for dp, _dn, fns in os.walk(src):
            paths += [
                os.path.join(dp, f)
                for f in fns
                if not f.startswith((".", "_"))
            ]
    elif os.path.exists(src):
        paths = [src]
    h = hashlib.sha256()
    for p in sorted(paths):
        st = os.stat(p)
        h.update(f"{p}|{st.st_mtime_ns}|{st.st_size}\n".encode())
    tag = sf_dir.rstrip("/").replace("/", "_")
    return os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_ivf{tag}_{h.hexdigest()[:12]}",
    )


def q_ivf_int8_rerank_topk(spark, sf_dir):
    """IVF-on-int8 over the PERSISTED index: partition-pruned probes +
    compressed stage-1 scan of the stored int8 codes + exact re-rank —
    the composed production ANN path (similarity.ivf_int8_rerank_topk).
    The index builds once per (sf, content) into a fingerprinted temp
    dir, published by atomic rename."""
    import os
    import shutil
    import tempfile

    path = _ivf_index_dir(sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        scratch = tempfile.mkdtemp(prefix="spark_graft_ivf_build_")
        build_dir = os.path.join(scratch, "idx")
        SIM.build_ivf_index(_emb(spark, sf_dir), build_dir)
        try:
            os.rename(build_dir, path)
        except OSError:
            pass  # concurrent builder won; same fingerprint ⇒ same rows
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    return SIM.ivf_int8_rerank_topk(
        spark, path, _emb_queries(spark, sf_dir), k=3
    )


def q_semantic_dedup(spark, sf_dir):
    return SIM.semantic_dedup(_emb(spark, sf_dir))


def q_train_split(spark, sf_dir):
    return CUR.train_split(_docs(spark, sf_dir))


def q_chunks(spark, sf_dir):
    return CUR.chunk_documents(_docs(spark, sf_dir))


def q_pack_sequences(spark, sf_dir):
    return CUR.pack_sequences(_docs(spark, sf_dir))


def q_length_percentiles(spark, sf_dir):
    return TA.length_percentiles(_docs(spark, sf_dir))


def q_vocab_coverage(spark, sf_dir):
    return TA.vocab_coverage(_docs(spark, sf_dir))


def q_chunk_dups(spark, sf_dir):
    return CUR.chunk_dups(_docs(spark, sf_dir))


def llm_queries() -> dict[str, QueryFn]:
    return {
        "docs_exact_dedup": q_exact_dedup,
        "docs_shingle_jaccard_pairs": q_shingle_jaccard,
        "docs_minhash_lsh_pairs": q_minhash_lsh,
        "docs_containment_pairs": q_containment,
        "docs_simhash": q_simhash,
        "docs_simhash_dup_pairs": q_simhash_dup_pairs,
        "docs_simhash_dup_pairs_prod": q_simhash_dup_pairs_prod,
        "docs_decontaminate": q_decontaminate,
        "docs_decontaminated_corpus": q_decontaminated_corpus,
        "docs_dup_clusters": q_dup_clusters,
        "docs_stratified_sample": q_stratified_sample,
        "docs_stratified_sample_exact": q_stratified_sample_exact,
        "docs_pii_scrub": q_pii_scrub,
        "docs_boilerplate_scrub": q_boilerplate_scrub,
        "docs_curation": q_curation,
        "docs_source_mix": q_source_mix,
        "docs_source_lang_matrix": q_source_lang_matrix,
        "docs_rebalanced_sample": q_rebalanced_sample,
        "docs_train_split": q_train_split,
        "docs_repetition_stats": q_repetition_stats,
        "docs_char_entropy": q_char_entropy,
        "docs_unigram_logprob": q_unigram_logprob,
        "docs_bigram_logprob": q_bigram_logprob,
        "docs_bpe_merge_candidates": q_bpe_merges,
        "docs_token_stats": q_token_stats,
        "docs_language_id": q_language_id,
        "docs_quality": q_quality,
        "docs_fingerprints": q_fingerprints,
        "docs_tfidf_top_terms": q_tfidf,
        "emb_cosine_topk": q_cosine_topk,
        "emb_ivf_topk": q_ivf_topk,
        "emb_cosine_dup_pairs": q_cosine_dup_pairs,
        "emb_dup_clusters": q_emb_dup_clusters,
        "emb_label_centroids": q_label_centroids,
        "emb_norm_stats": q_emb_norm_stats,
        "emb_int8_quantize": q_int8_quantize,
        "emb_int8_topk": q_int8_topk,
        "emb_int8_rerank_topk": q_int8_rerank_topk,
        "emb_kmeans_assign": q_kmeans_assign,
        "emb_semantic_dedup": q_semantic_dedup,
        "docs_chunks": q_chunks,
        "docs_pack_sequences": q_pack_sequences,
        "docs_length_percentiles": q_length_percentiles,
        "docs_vocab_coverage": q_vocab_coverage,
        "docs_chunk_dups": q_chunk_dups,
        "docs_hashed_classifier": q_hashed_classifier,
        "docs_ngram_diversity": q_ngram_diversity,
        "docs_pareto_frontier": q_pareto_frontier,
        "emb_rand_projection": q_rand_projection,
        "emb_gram_matrix": q_gram_matrix,
        "docs_keyword_search": q_keyword_search,
        "docs_canonical_best": q_canonical_best,
        "docs_pagerank": q_pagerank,
        "docs_minhash_calibration": q_minhash_calibration,
        "docs_bpe_train": q_bpe_train,
        "docs_profile": q_profile,
        "docs_vocab_growth": q_vocab_growth,
        "docs_winnow_fingerprints": q_winnow_fingerprints,
        "docs_winnow_matches": q_winnow_matches,
        "docs_repeated_spans": q_repeated_spans,
        "docs_quality_sweep": q_quality_sweep,
        "emb_pq_codes": q_pq_codes,
        "emb_pq_topk": q_pq_topk,
        "docs_token_budget": q_token_budget,
        "docs_incremental_dedup": q_incremental_dedup,
        "docs_contamination_score": q_contamination_score,
        "docs_source_dup_matrix": q_source_dup_matrix,
        "docs_length_weighted_sample": q_length_weighted_sample,
        "docs_span_coverage": q_span_coverage,
        "docs_weighted_jaccard_pairs": q_weighted_jaccard,
        "docs_perplexity_buckets": q_perplexity_buckets,
        "docs_bpe_encode": q_bpe_encode,
        "emb_recall_audit": q_recall_audit,
        "mm_image_features": q_multimodal_features,
        "mm_frame_sample": q_frame_sample,
        "mm_payload_sniff": q_payload_sniff,
        "mm_wav_features": q_wav_features,
        "mm_bmp_features": q_bmp_features,
        "mm_bmp_resize_features": q_bmp_resize_features,
        "mm_wav_decimate_features": q_wav_decimate_features,
        "docs_gopher_filter": q_gopher_filter,
        "emb_label_diversity": q_label_diversity,
        "docs_tokenizer_fertility": q_tokenizer_fertility,
        "emb_label_outliers": q_label_outliers,
        "docs_curation_v2": q_curation_v2,
        "docs_dedup_funnel": q_dedup_funnel,
        "emb_ivf_int8_topk": q_ivf_int8_rerank_topk,
        "docs_labelprop_communities": q_labelprop_communities,
        "emb_mmr_topk": q_mmr_topk,
        "emb_cohort_drift": q_cohort_drift,
        "emb_matryoshka_recall": q_matryoshka_recall,
        "docs_bm25_topk": q_bm25_topk,
        "emb_knn_label_audit": q_knn_label_audit,
        "mm_wav_frame_energy": q_wav_frame_energy,
        "docs_dup_graph_stats": q_dup_graph_stats,
        "docs_detector_agreement": q_detector_agreement,
        "emb_pq_distortion": q_pq_distortion,
        "mm_image_dup_stats": q_image_dup_stats,
        "docs_temperature_mix": q_temperature_mix,
        "emb_ivf_balance": q_ivf_balance,
        "docs_zipf_slope": q_zipf_slope,
        "docs_jaccard_threshold_sweep": q_jaccard_threshold_sweep,
        "emb_hard_negatives": q_hard_negatives,
        "docs_dsir_weights": q_dsir_weights,
        "docs_span_scrub": q_span_scrub,
        "emb_silhouette": q_silhouette,
        "docs_source_kl": q_source_kl,
        "emb_ivf_probe_sweep": q_ivf_probe_sweep,
        "docs_dsir_resample": q_dsir_resample,
        "docs_rrf_fusion": q_rrf_fusion,
        "emb_cluster_coreset": q_cluster_coreset,
        "docs_doremi_reweight": q_doremi_reweight,
        "docs_pii_scan_v2": q_pii_scan_v2,
        "docs_vocab_novelty": q_vocab_novelty,
        "docs_weighted_sample_aes": q_weighted_sample_aes,
        "emb_kmeans_lloyd2": q_kmeans_lloyd2,
        "emb_dim_stats": q_dim_stats,
        "docs_pmi_collocations": q_pmi_collocations,
        "emb_power_iteration": q_power_iteration,
        "docs_mixture_apportion": q_mixture_apportion,
    }


# ---------------------------------------------------------------------------
# Oracle SQL
# ---------------------------------------------------------------------------

_P = TH.HASH_P

# Shared CTEs: tokenized docs + distinct shingle-hash sets.
_TOKS_CTE = f"""
toks AS (
  SELECT doc_id, lang, text, {TH.sql_tokens('text')} AS t FROM documents
)"""

_SHINGLE_CTE = f"""
th AS (
  SELECT doc_id, list_transform(t, tok -> {TH.sql_token_hash('tok')}) AS thl
  FROM toks
),
sh AS (
  SELECT doc_id, {TH.sql_shingle_hashes('thl')} AS shl
  FROM th
)"""


def _jaccard_ctes(pair_src: str) -> str:
    """sizes + jac CTEs over a (doc_a, doc_b, n_common) CTE."""
    return f"""
sizes AS (SELECT doc_id, len(shl) AS n FROM sh),
jac AS (
  SELECT doc_a, doc_b,
         n_common / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
  FROM {pair_src}
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
)"""


def _jaccard_tail(pair_src: str) -> str:
    """Join sizes + jaccard threshold over a (doc_a, doc_b, n_common) CTE."""
    return f"""{_jaccard_ctes(pair_src)}
SELECT doc_a, doc_b, {TH.sql_quantized6('jaccard')} AS jaccard
FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}"""


def _sql_exact_dedup() -> str:
    return """
WITH hashed AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
  FROM documents
)
SELECT min(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies
FROM hashed GROUP BY h"""


def _sql_shingle_jaccard() -> str:
    # Same length-ratio prune as the Spark plan (semantics-preserving).
    t = JACCARD_THRESHOLD
    return f"""
WITH {_TOKS_CTE}, {_SHINGLE_CTE},
post AS (SELECT doc_id, len(shl) AS n, unnest(shl) AS h FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM post a JOIN post b
    ON a.h = b.h AND a.doc_id < b.doc_id
   AND b.n >= a.n * {t} AND a.n >= b.n * {t}
  GROUP BY 1, 2
),
{_jaccard_tail('inter')}"""


def _sql_containment() -> str:
    t = CONTAINMENT_THRESHOLD
    return f"""
WITH {_TOKS_CTE}, {_SHINGLE_CTE},
post AS (SELECT doc_id, len(shl) AS n, unnest(shl) AS h FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM post a JOIN post b
    ON a.h = b.h AND a.doc_id != b.doc_id AND b.n >= a.n * {t}
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id AS doc_a, len(shl) AS n_a FROM sh)
SELECT doc_a, doc_b,
       {TH.sql_quantized6('n_common / CAST(n_a AS DOUBLE)')} AS containment
FROM inter JOIN sizes USING (doc_a)
WHERE n_common / CAST(n_a AS DOUBLE) >= {t}"""


def _minhash_inter_ctes() -> str:
    """CTE chain from documents through `inter` (candidate pairs with
    exact intersection sizes) — shared by the pair and cluster oracles."""
    mh_exprs = ",\n         ".join(
        f"{TH.sql_minhash('shl', a, b)} AS mh{i}"
        for i, (a, b) in enumerate(TH.MINHASH_AB)
    )
    band_keys = ", ".join(
        "concat_ws(':', '{b}', {cols})".format(
            b=band,
            cols=", ".join(
                f"mh{band * TH.LSH_ROWS + r}" for r in range(TH.LSH_ROWS)
            ),
        )
        for band in range(TH.LSH_BANDS)
    )
    return f"""{_TOKS_CTE}, {_SHINGLE_CTE},
sig AS (
  SELECT doc_id,
         {mh_exprs}
  FROM sh
),
bands AS (
  SELECT doc_id, unnest([{band_keys}]) AS band_key FROM sig
),
candidates AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band_key = y.band_key AND x.doc_id < y.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(a.shl, b.shl)) AS n_common
  FROM candidates c
  JOIN sh a ON c.doc_a = a.doc_id
  JOIN sh b ON c.doc_b = b.doc_id
)"""


def _sql_minhash_lsh() -> str:
    return f"""
WITH {_minhash_inter_ctes()},
{_jaccard_tail('inter')}"""


def _sql_decontaminate(min_common: int = 2) -> str:
    return f"""
WITH {_TOKS_CTE}, {_SHINGLE_CTE},
tp AS (
  SELECT doc_id, unnest(shl) AS h FROM sh WHERE doc_id % {EVAL_MOD} != 0
),
ep AS (
  SELECT doc_id AS eval_doc_id, unnest(shl) AS h FROM sh
  WHERE doc_id % {EVAL_MOD} = 0
)
SELECT tp.doc_id, ep.eval_doc_id, count(*) AS n_common
FROM tp JOIN ep USING (h)
GROUP BY 1, 2
HAVING count(*) >= {min_common}"""


def _sql_decontaminated_corpus(min_common: int = 2) -> str:
    return f"""
WITH contaminated AS (
  SELECT DISTINCT doc_id FROM ({_sql_decontaminate(min_common)})
)
SELECT d.doc_id FROM documents d
WHERE d.doc_id % {EVAL_MOD} != 0
  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)"""


def _sql_dup_clusters() -> str:
    # Transitive closure of the minhash near-dup graph: min reachable
    # doc_id per doc via a recursive CTE (UNION dedups the frontier),
    # mirroring the Spark side's min-label propagation fixpoint.
    return f"""
WITH RECURSIVE {_minhash_inter_ctes()},
{_jaccard_ctes('inter')},
pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.doc_id
)
SELECT doc_id, min(r) AS cluster_id, (doc_id = min(r)) AS is_canonical
FROM reach GROUP BY doc_id"""


def _simhash_fp_ctes() -> str:
    """CTE chain from documents through `fp` (doc_id, simhash) — shared
    by the fingerprint and Hamming-pair oracles. Mirrors the 32-bit
    ORACLE geometry (the registered queries pass bits=32 explicitly;
    the 64-bit production default has no clean DuckDB integer form)."""
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(DD.SIMHASH_ORACLE_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)"
        for j in range(DD.SIMHASH_ORACLE_BITS)
    )
    return f"""{_TOKS_CTE},
th AS (
  SELECT doc_id, unnest(list_transform(t, tok -> {TH.sql_token_hash('tok')})) AS h
  FROM toks
),
agg AS (
  SELECT doc_id,
         {votes}
  FROM th GROUP BY doc_id
),
fp AS (
  SELECT doc_id, {fp} AS simhash FROM agg
)"""


def _simhash64_fp_ctes() -> str:
    """(doc_id, simhash) under the PRODUCTION 64-bit geometry: votes
    from the two leading 32-bit words of md5(token) — md5 hex is
    engine-identical for identical UTF-8 bytes, and the '0x'||substr
    hex cast is the established idiom (multimodal oracle). Fingerprint
    assembly is additive over disjoint bit values, with bit 63 as the
    explicit two's-complement min-long term, matching Spark's
    shiftleft(1L, 63) | ... byte for byte."""
    votes = ",\n         ".join(
        "sum(CASE WHEN ({w} >> {sh}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}".format(
            w="w_hi" if j >= 32 else "w_lo", sh=j % 32, j=j
        )
        for j in range(64)
    )
    fp_terms = " + ".join(
        f"(CASE WHEN v{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(63)
    )
    min_long = "CAST(-9223372036854775807 - 1 AS BIGINT)"
    return f"""{_TOKS_CTE},
tw AS (
  SELECT doc_id,
         CAST(('0x' || substr(m, 1, 8)) AS BIGINT) AS w_hi,
         CAST(('0x' || substr(m, 9, 8)) AS BIGINT) AS w_lo
  FROM (SELECT doc_id, md5(unnest(t)) AS m FROM toks)
),
agg AS (
  SELECT doc_id,
         {votes}
  FROM tw GROUP BY doc_id
),
fp AS (
  SELECT doc_id,
         {fp_terms}
         + (CASE WHEN v63 > 0 THEN {min_long} ELSE CAST(0 AS BIGINT) END)
           AS simhash
  FROM agg
)"""


def _sql_simhash_dup_pairs_prod() -> str:
    # Candidates are exhaustive for ham <= bands-1 under ANY of the
    # engine's banding levels, so the oracle verifies the OUTPUT
    # contract directly: flat 16-bit bands -> exact Hamming verify.
    bb = DD.SIMHASH_BITS // DD.SIMHASH_BANDS
    mask = (1 << bb) - 1
    band_exprs = ", ".join(
        f"({band << bb} + ((simhash >> {band * bb}) & {mask}))"
        for band in range(DD.SIMHASH_BANDS)
    )
    return f"""
WITH {_simhash64_fp_ctes()},
bands AS (
  SELECT doc_id, unnest([{band_exprs}]) AS band_key FROM fp
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band_key = y.band_key AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM cand
JOIN fp a ON doc_a = a.doc_id
JOIN fp b ON doc_b = b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {DD.SIMHASH_BANDS - 1}"""


def _sql_simhash() -> str:
    return f"""
WITH {_simhash_fp_ctes()}
SELECT doc_id, simhash FROM fp"""


def _sql_simhash_dup_pairs() -> str:
    # Mirrors simhash_dup_pairs: byte-wide Hamming bands -> candidate
    # pairs -> exact bit_count(xor) verify (exhaustive for ham <= 3).
    mask = (1 << DD.SIMHASH_ORACLE_BAND_BITS) - 1
    band_exprs = ", ".join(
        f"({band << DD.SIMHASH_ORACLE_BAND_BITS}"
        f" + ((simhash >> {band * DD.SIMHASH_ORACLE_BAND_BITS}) & {mask}))"
        for band in range(DD.SIMHASH_ORACLE_BANDS)
    )
    return f"""
WITH {_simhash_fp_ctes()},
bands AS (
  SELECT doc_id, unnest([{band_exprs}]) AS band_key FROM fp
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band_key = y.band_key AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM cand
JOIN fp a ON doc_a = a.doc_id
JOIN fp b ON doc_b = b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {DD.SIMHASH_ORACLE_BANDS - 1}"""


def _sql_token_stats() -> str:
    return f"""
WITH {_TOKS_CTE}
SELECT doc_id,
       len(t) AS n_tokens,
       len(regexp_extract_all(text, '{TA.BPE_SPLIT_PATTERN}')) AS n_tokens_bpe,
       len(list_distinct(t)) AS n_unique_tokens,
       {TH.sql_quantized6('len(list_distinct(t)) / CAST(len(t) AS DOUBLE)')}
         AS type_token_ratio,
       {TH.sql_quantized6('''list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(t, x -> CAST(len(x) AS BIGINT))), (a, x) -> a + x)
             / CAST(len(t) AS DOUBLE)''')} AS avg_token_len
FROM toks"""


def _sql_tfidf(k: int = 5) -> str:
    # Ranking is by the integer-quantized tf-idf score (round(tfidf*1e6)
    # as BIGINT) — true tf-idf order, immune to 1-ulp ln() differences
    # between engines — with (tf, df, term) as the tiebreak; tfidf is
    # the quantized score divided back so it sorts like the rank.
    return f"""
WITH {_TOKS_CTE},
term_rows AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf FROM term_rows GROUP BY doc_id, term),
df_t AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df_t.df,
         CAST(round(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + df_t.df)) + 1.0) * 1e6)
              AS BIGINT) AS score_q
  FROM tf JOIN df_t USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, df,
         CAST(score_q AS DOUBLE) / 1e6 AS tfidf,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY score_q DESC, tf DESC, df ASC, term ASC
         ) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rank FROM ranked WHERE rank <= {k}"""


def _sql_language_id() -> str:
    scores = ",\n         ".join(
        "len(list_filter(t, x -> x IN ({words}))) AS s_{lang}".format(
            lang=lang,
            words=", ".join(f"'{w}'" for w in TA.STOPWORDS[lang]),
        )
        for lang in TA.LANGS
    )
    best = "greatest({})".format(", ".join(f"s_{lang}" for lang in TA.LANGS))
    whens = " ".join(
        f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'" for lang in TA.LANGS
    )
    return f"""
WITH {_TOKS_CTE},
scored AS (
  SELECT lang AS labeled_lang,
         {scores}
  FROM toks
),
withbest AS (SELECT *, {best} AS best FROM scored)
SELECT labeled_lang,
       CASE {whens} ELSE 'und' END AS predicted_lang,
       COUNT(*) AS n_docs
FROM withbest GROUP BY 1, 2"""


def _sql_quality() -> str:
    en = ", ".join(f"'{w}'" for w in TA.STOPWORDS["en"])
    return f"""
WITH {_TOKS_CTE},
base AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(t) AS n_tokens,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
         len(list_filter(t, x -> x IN ({en}))) AS stop_hits
  FROM toks
)
SELECT doc_id, n_chars, n_tokens,
       {TH.sql_quantized6('punct / CAST(nullif(n_chars, 0) AS DOUBLE)')} AS punct_ratio,
       {TH.sql_quantized6('digits / CAST(nullif(n_chars, 0) AS DOUBLE)')} AS digit_ratio,
       {TH.sql_quantized6('stop_hits / CAST(n_tokens AS DOUBLE)')} AS stopword_ratio,
       CASE WHEN n_tokens >= 10
             AND punct / CAST(nullif(n_chars, 0) AS DOUBLE) < 0.2
             AND digits / CAST(nullif(n_chars, 0) AS DOUBLE) < 0.5
            THEN 'keep' ELSE 'review' END AS quality_route
FROM base"""


def _sql_fingerprints() -> str:
    hashes = f"list_transform(t, tok -> {TH.sql_token_hash('tok')})"
    return f"""
WITH {_TOKS_CTE}
SELECT doc_id, {TH.sql_doc_fingerprint(hashes)} AS fingerprint FROM toks"""


def _sql_bpe_merges(k: int = 50) -> str:
    return f"""
WITH {_TOKS_CTE},
tok_rows AS (SELECT unnest(t) AS tok FROM toks),
ch AS (SELECT regexp_extract_all(tok, '.') AS c FROM tok_rows),
pairs AS (
  SELECT unnest(list_transform(range(1, len(c)), i -> c[i] || c[i+1])) AS pair
  FROM ch WHERE len(c) >= 2
),
counts AS (SELECT pair, count(*) AS n FROM pairs GROUP BY pair)
SELECT pair, n, rank FROM (
  SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair ASC) AS rank
  FROM counts
) WHERE rank <= {k}"""


def _sql_unigram_logprob() -> str:
    return f"""
WITH {_TOKS_CTE},
term_rows AS (SELECT doc_id, unnest(t) AS term FROM toks),
ctf AS (SELECT term, count(*) AS ctf FROM term_rows GROUP BY term),
tot AS (SELECT count(*) AS total_tokens FROM term_rows)
SELECT doc_id, count(*) AS n_tokens,
       {TH.sql_quantized6('avg(ln(ctf / CAST(total_tokens AS DOUBLE)))')}
         AS avg_unigram_logprob
FROM term_rows JOIN ctf USING (term) CROSS JOIN tot
GROUP BY doc_id"""


_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])), (a, x) -> a + x)"
)
_NORM_Q = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(qv, x -> x * x)), (a, x) -> a + x))"
)
_NORM_C = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(cv, x -> x * x)), (a, x) -> a + x))"
)

_EMB_CTE = """
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)"""


def _sql_cosine_topk(k: int = 5) -> str:
    return f"""
WITH {_EMB_CTE},
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % {QUERY_MOD} = 0),
scored AS (
  SELECT qid AS query_id, e.vec_id AS neighbor_id, e.v AS cv, qv,
         {_DOT} / nullif({_NORM_Q} * {_NORM_C}, 0.0) AS cosine
  FROM e CROSS JOIN q
  WHERE e.vec_id <> qid
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, {TH.sql_quantized6('cosine')} AS cosine
FROM ranked WHERE rank <= {k}"""


def q_hard_negatives(spark, sf_dir):
    return SIM.hard_negatives(
        _emb(spark, sf_dir), _emb_queries(spark, sf_dir)
    )


def _sql_hard_negatives(k: int = 3) -> str:
    return f"""
WITH el AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (SELECT vec_id AS qid, label AS ql, v AS qv FROM el
      WHERE vec_id % {QUERY_MOD} = 0),
scored AS (
  SELECT qid AS query_id, ql AS query_label,
         el.vec_id AS neighbor_id, el.label AS neighbor_label,
         el.v AS cv, qv,
         {_DOT} / nullif({_NORM_Q} * {_NORM_C}, 0.0) AS cosine
  FROM el CROSS JOIN q
  WHERE el.vec_id <> qid AND el.label <> ql
),
ranked AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, CAST(query_label AS BIGINT) AS query_label,
       CAST(rank AS BIGINT) AS rank, neighbor_id,
       CAST(neighbor_label AS BIGINT) AS neighbor_label,
       {TH.sql_quantized6('cosine')} AS cosine
FROM ranked WHERE rank <= {k}"""


def q_mmr_topk(spark, sf_dir):
    return SIM.mmr_topk(_emb(spark, sf_dir), _emb_queries(spark, sf_dir))


def _sql_mmr_topk() -> str:
    # The SAME greedy MMR recurrence as the Spark loop, UNROLLED: per
    # step a penalty CTE (max sim to everything already selected), a
    # window argmax pick, an accumulator union, and a NOT EXISTS
    # shrink of the remaining pool.
    n, k = SIM.MMR_CAND_N, SIM.MMR_K
    pair_dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(1, len(va) + 1), i -> va[i] * vb[i])), "
        "(a, x) -> a + x)"
    )
    norm_a = (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(va, x -> x * x)), (a, x) -> a + x))"
    )
    norm_b = (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(vb, x -> x * x)), (a, x) -> a + x))"
    )
    steps = []
    for s in range(2, k + 1):
        steps.append(
            f"""pen{s} AS (
  SELECT r.query_id, r.neighbor_id, r.cosine, max(p.sim) AS penalty
  FROM rem{s - 1} r
  JOIN acc{s - 1} a ON a.query_id = r.query_id
  JOIN psim p ON p.query_id = r.query_id
             AND p.na = r.neighbor_id AND p.nb = a.neighbor_id
  GROUP BY r.query_id, r.neighbor_id, r.cosine
),
pick{s} AS (
  SELECT query_id, CAST({s} AS BIGINT) AS step, neighbor_id, cosine,
         0.5 * cosine - 0.5 * penalty AS mmr_score
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id
      ORDER BY 0.5 * cosine - 0.5 * penalty DESC, neighbor_id) AS prn
    FROM pen{s}
  ) WHERE prn = 1
),
acc{s} AS (SELECT * FROM acc{s - 1} UNION ALL SELECT * FROM pick{s}),
rem{s} AS (
  SELECT r.* FROM rem{s - 1} r
  WHERE NOT EXISTS (SELECT 1 FROM pick{s} p
                    WHERE p.query_id = r.query_id
                      AND p.neighbor_id = r.neighbor_id)
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH {_EMB_CTE},
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % {QUERY_MOD} = 0),
scored AS (
  SELECT qid AS query_id, e.vec_id AS neighbor_id, e.v AS cv, qv,
         {_DOT} / nullif({_NORM_Q} * {_NORM_C}, 0.0) AS cosine
  FROM e CROSS JOIN q
  WHERE e.vec_id <> qid
),
pool AS (
  SELECT query_id, neighbor_id, cosine, rn FROM (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rn
    FROM scored
  ) WHERE rn <= {n}
),
psim AS (
  SELECT a.query_id, a.neighbor_id AS na, b.neighbor_id AS nb,
         {pair_dot} / ({norm_a} * {norm_b}) AS sim
  FROM pool a
  JOIN pool b ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
  JOIN (SELECT vec_id, v AS va FROM e) ea ON ea.vec_id = a.neighbor_id
  JOIN (SELECT vec_id, v AS vb FROM e) eb ON eb.vec_id = b.neighbor_id
),
acc1 AS (
  SELECT query_id, CAST(1 AS BIGINT) AS step, neighbor_id, cosine,
         0.5 * cosine AS mmr_score
  FROM pool WHERE rn = 1
),
rem1 AS (SELECT query_id, neighbor_id, cosine FROM pool WHERE rn > 1),
{chain}
SELECT query_id, step, neighbor_id,
       {TH.sql_quantized6('cosine')} AS cosine,
       {TH.sql_quantized6('mmr_score')} AS mmr_score
FROM acc{k}"""


def q_cohort_drift(spark, sf_dir):
    return SIM.cohort_drift(_emb(spark, sf_dir))


def _sql_cohort_drift() -> str:
    # Spark's `div` truncates toward zero; DuckDB's `//` floors. Sums
    # can be negative, so the oracle mirrors truncation explicitly.
    tdiv_a = "CASE WHEN sum_a < 0 THEN -((-sum_a) // n_a) ELSE sum_a // n_a END"
    tdiv_b = "CASE WHEN sum_b < 0 THEN -((-sum_b) // n_b) ELSE sum_b // n_b END"
    return f"""
WITH x AS (
  SELECT label, vec_id % 2 AS cohort,
         unnest(list_transform(range(1, len(embedding) + 1),
                i -> {{'pos': i, 'vq': CAST(round(CAST(embedding[i] AS DOUBLE)
                                                 * 1000) AS BIGINT)}})) AS u
  FROM embeddings
),
per_dim AS (
  SELECT label, u.pos AS pos,
         sum(CASE WHEN cohort = 0 THEN u.vq END) AS sum_a,
         count(CASE WHEN cohort = 0 THEN 1 END) AS n_a,
         sum(CASE WHEN cohort = 1 THEN u.vq END) AS sum_b,
         count(CASE WHEN cohort = 1 THEN 1 END) AS n_b
  FROM x GROUP BY label, u.pos
),
dd AS (
  SELECT label, n_a, n_b,
         abs(({tdiv_a}) - ({tdiv_b})) AS dim_drift
  FROM per_dim WHERE n_a > 0 AND n_b > 0
)
SELECT label, CAST(min(n_a) AS BIGINT) AS n_a, CAST(min(n_b) AS BIGINT) AS n_b,
       CAST(sum(dim_drift) AS BIGINT) AS drift_l1_milli,
       CAST(max(dim_drift) AS BIGINT) AS drift_linf_milli
FROM dd GROUP BY label"""


def q_matryoshka_recall(spark, sf_dir):
    return SIM.matryoshka_recall(
        _emb(spark, sf_dir), _emb_queries(spark, sf_dir), k=3
    )


def _sql_matryoshka_recall(k: int = 3) -> str:
    # One scored branch per prefix length; dots/norms fold the SAME
    # left-to-right index order as the Spark slices.
    def _dot(d: int) -> str:
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {d} + 1), i -> qv[i] * cv[i])), "
            "(a, x) -> a + x)"
        )

    def _norm(v: str, d: int) -> str:
        return (
            "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {d} + 1), i -> {v}[i] * {v}[i])), "
            "(a, x) -> a + x))"
        )

    dims = [SIM.EMB_DIM, *SIM.MATRYOSHKA_DIMS]
    branches = "\n  UNION ALL\n".join(
        f"  SELECT query_id, neighbor_id, CAST({d} AS BIGINT) AS prefix_dim,\n"
        f"         {_dot(d)} / nullif({_norm('qv', d)} * {_norm('cv', d)}, 0)"
        " AS cosine\n"
        f"  FROM pairs"
        for d in dims
    )
    pdims = ", ".join(str(d) for d in SIM.MATRYOSHKA_DIMS)
    return f"""
WITH {_EMB_CTE},
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % {QUERY_MOD} = 0),
pairs AS (
  SELECT qid AS query_id, e.vec_id AS neighbor_id, qv, e.v AS cv
  FROM e CROSS JOIN q WHERE e.vec_id <> qid
),
scored AS (
{branches}
),
ranked AS (
  SELECT query_id, prefix_dim, neighbor_id,
         row_number() OVER (PARTITION BY query_id, prefix_dim
                            ORDER BY cosine DESC NULLS LAST,
                                     neighbor_id) AS rank
  FROM scored
),
topk AS (
  SELECT query_id, prefix_dim, neighbor_id FROM ranked WHERE rank <= {k}
),
fx AS (
  SELECT f.query_id, f.neighbor_id, d.prefix_dim
  FROM (SELECT query_id, neighbor_id FROM topk
        WHERE prefix_dim = {SIM.EMB_DIM}) f
  CROSS JOIN (SELECT CAST(unnest([{pdims}]) AS BIGINT) AS prefix_dim) d
)
SELECT fx.query_id, fx.prefix_dim,
       CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       (1000 * CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT)) // {k} AS recall_milli
FROM fx LEFT JOIN topk t
  ON t.query_id = fx.query_id AND t.prefix_dim = fx.prefix_dim
 AND t.neighbor_id = fx.neighbor_id
GROUP BY fx.query_id, fx.prefix_dim"""


def q_knn_label_audit(spark, sf_dir):
    return SIM.knn_label_audit(
        _emb(spark, sf_dir), _emb_queries(spark, sf_dir)
    )


def _sql_knn_label_audit(k: int = None) -> str:
    k = SIM.KNN_K if k is None else k
    return f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (
  SELECT vec_id AS qid, label AS tl, v AS qv FROM e
  WHERE vec_id % {QUERY_MOD} = 0
),
pairs AS (
  SELECT qid, tl, e.vec_id AS nid, e.label AS nl, qv, e.v AS cv
  FROM e CROSS JOIN q WHERE e.vec_id <> qid
),
scored AS (
  SELECT qid, tl, nid, nl,
         {_DOT} / nullif({_NORM_Q} * {_NORM_C}, 0) AS cosine
  FROM pairs
),
topk AS (
  SELECT qid, tl, nl FROM (
    SELECT qid, tl, nl,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC NULLS LAST, nid) AS rank
    FROM scored
  ) WHERE rank <= {k}
),
votes AS (
  SELECT qid, tl, nl, count(*) AS n_votes FROM topk GROUP BY qid, tl, nl
),
pred AS (
  SELECT qid, tl, nl FROM (
    SELECT qid, tl, nl,
           row_number() OVER (PARTITION BY qid
                              ORDER BY n_votes DESC, nl) AS vr
    FROM votes
  ) WHERE vr = 1
)
SELECT CAST(tl AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN nl = tl THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
       (1000 * CAST(sum(CASE WHEN nl = tl THEN 1 ELSE 0 END) AS BIGINT))
         // count(*) AS agreement_milli
FROM pred GROUP BY tl"""


def _sql_bucket(col: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN {col}[{i + 1}] > 0 THEN {2**i} ELSE 0 END)"
        for i in range(SIM.IVF_BITS)
    )
    return f"({terms})"


def _sql_ivf_topk(k: int = 3) -> str:
    # Mirrors ivf_topk's round-10 auto-bits knob: `nb` derives the
    # bucket width from count(*) with ivf_bits_for's exact integer
    # formula, the bucket packs the first bn sign bits via a dynamic
    # list fold, and the probe set enumerates ALL masks with
    # bit_count <= radius below 2^bn — the same set Spark's
    # probe_masks() explodes (order-free under the join). The radius
    # itself mirrors the round-11 ivf_probe_radius_for knob: one extra
    # probe radius per two auto-bits (pure integer arithmetic).
    bucket_fold = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(range(1, bn + 1), "
        "i -> CASE WHEN v[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1)) "
        "ELSE CAST(0 AS BIGINT) END)), (a, x) -> a + x)"
    )
    return f"""
WITH {_EMB_CTE},
nb AS (
  SELECT CASE WHEN count(*) <= {SIM.IVF_CALIB_N} THEN {SIM.IVF_BITS}
              ELSE LEAST({SIM.IVF_BITS} + 1
                         + CAST(FLOOR(LOG2((count(*) - 1) // {SIM.IVF_CALIB_N}))
                                AS INT), {SIM.IVF_MAX_BITS}) END AS bn
  FROM embeddings
),
eb AS (SELECT vec_id, v, {bucket_fold} AS bucket FROM e CROSS JOIN nb),
masks AS (
  SELECT m FROM (
    SELECT unnest(range(0, (CAST(1 AS BIGINT) << (SELECT bn FROM nb)))) AS m
  ) WHERE bit_count(m) <= {SIM.IVF_PROBE_RADIUS}
                          + greatest(0, (SELECT bn FROM nb) - {SIM.IVF_BITS}) // 2
),
q AS (SELECT vec_id AS qid, v AS qv, xor(bucket, m) AS q_bucket
      FROM eb CROSS JOIN masks
      WHERE vec_id % {QUERY_MOD} = 0),
scored AS (
  SELECT qid AS query_id, eb.vec_id AS neighbor_id, eb.v AS cv, qv,
         {_DOT} / nullif({_NORM_Q} * {_NORM_C}, 0.0) AS cosine
  FROM eb JOIN q ON eb.bucket = q.q_bucket
  WHERE eb.vec_id <> qid
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, {TH.sql_quantized6('cosine')} AS cosine
FROM ranked WHERE rank <= {k}"""


def _sql_rh_bit(i: int) -> str:
    """Sign bit of dot(v, hyperplane_i): same double constants and the
    same left-to-right accumulation order as the Spark side ->
    bit-identical. Unrolled as a flat `+` chain (left-associative, so
    (((v1*c1 + v2*c2) + ...) — exactly the fold's sequence after the
    0.0 seed, which is exact) instead of a list_reduce lambda: DuckDB
    interprets nested lambdas per element (~800 us per 64-dim fold,
    measured at sf0.3), while a flat expression chain is vectorized —
    the 112-plane sig CTE went from ~540 s to seconds at sf0.3."""
    return (
        "CASE WHEN ("
        + " + ".join(
            f"v[{d + 1}] * {SIM.RH_PLANES[i][d]!r}"
            for d in range(SIM.EMB_DIM)
        )
        + ") > 0 THEN 1 ELSE 0 END"
    )


def _cosine_pair_ctes() -> str:
    """CTE chain from embeddings through `scored` (LSH candidates with
    exact cosine) — shared by the pair and cluster oracles. Mirrors
    cosine_dup_pairs: banded random-hyperplane LSH candidates +
    exact-cosine verify (same planes, same band keys), INCLUDING the
    auto-suffix scale knob: `nr` derives the per-band suffix width m
    from count(*) with the same exact-integer formula as
    ``SIM.rh_suffix_bits`` (bit_length(v) = 1 + floor(log2 v); log2 of
    a power of two is IEEE-exact, and non-integer values never sit on
    the floor boundary), so both engines append the same m sign bits
    from the same per-band planes to every band key at every corpus
    size."""
    rows = SIM.rh_rows_for(COSINE_DUP_THRESHOLD)
    nbits = SIM.RH_BANDS * rows
    # Round-11: per-band suffix planes (band i's pool starts at plane
    # nbits + i*cap, fixed stride) — one sbN array per band, each band
    # key appends ITS OWN first m suffix bits, mirroring
    # rh_candidate_pairs exactly. Shared planes multiplied recall once
    # by p^m; per-band planes keep band failures independent (measured
    # 0.90 vs 0.56 at thr 0.85, LSH_RECALL_r11.json) at identical
    # expected candidate volume.
    cap = SIM.rh_suffix_cap(rows)
    bit_exprs = ",\n         ".join(f"{_sql_rh_bit(i)} AS b{i}" for i in range(nbits))
    suffix_arrays = ",\n         ".join(
        "[{exprs}] AS sb{band}".format(
            band=band,
            exprs=", ".join(
                _sql_rh_bit(nbits + band * cap + s) for s in range(cap)
            ),
        )
        for band in range(SIM.RH_BANDS)
    )
    band_keys = ", ".join(
        "concat_ws(':', '{band}', {cols})"
        " || CASE WHEN m = 0 THEN '' "
        "ELSE ':' || array_to_string(sb{band}[1:m], ':') END".format(
            band=band,
            cols=", ".join(f"b{band * rows + r}" for r in range(rows)),
        )
        for band in range(SIM.RH_BANDS)
    )
    return f"""{_EMB_CTE},
nr AS (
  SELECT CASE WHEN count(*) <= {SIM.RH_CALIB_N} THEN 0
              ELSE LEAST(1 + CAST(FLOOR(LOG2((count(*) - 1) // {SIM.RH_CALIB_N}))
                         AS INT), {cap}) END AS m
  FROM embeddings
),
sig AS (
  SELECT vec_id,
         {bit_exprs},
         {suffix_arrays}
  FROM e
),
bands AS MATERIALIZED (
  -- MATERIALIZED: DuckDB inlines plain CTEs, so the self-join below
  -- would otherwise re-evaluate every hyperplane fold on BOTH sides
  -- (measured: the 2-query sf0.3 check went from >80 min/query to
  -- seconds once the folds run exactly once per vector — the same
  -- persist-before-self-join lesson as the Spark side's band frame).
  SELECT vec_id, unnest([{band_keys}]) AS band_key FROM sig CROSS JOIN nr
),
cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM bands x JOIN bands y ON x.band_key = y.band_key AND x.vec_id < y.vec_id
),
pairs AS (
  SELECT vec_a, vec_b, a.v AS qv, b.v AS cv
  FROM cand JOIN e a ON vec_a = a.vec_id JOIN e b ON vec_b = b.vec_id
),
scored AS (
  SELECT vec_a, vec_b, {_DOT} / nullif({_NORM_Q} * {_NORM_C}, 0.0) AS cosine
  FROM pairs
)"""


def _sql_cosine_dup_pairs() -> str:
    return f"""
WITH {_cosine_pair_ctes()}
SELECT vec_a, vec_b, {TH.sql_quantized6('cosine')} AS cosine
FROM scored WHERE cosine >= {COSINE_DUP_THRESHOLD}"""


def _sql_emb_dup_clusters() -> str:
    # Transitive closure of the cosine near-dup graph (min reachable
    # vec_id), mirroring emb_dup_clusters' label-propagation fixpoint.
    return f"""
WITH RECURSIVE {_cosine_pair_ctes()},
dup AS (SELECT vec_a, vec_b FROM scored WHERE cosine >= {COSINE_DUP_THRESHOLD}),
edges AS (
  SELECT vec_a AS s, vec_b AS d FROM dup
  UNION ALL
  SELECT vec_b AS s, vec_a AS d FROM dup
),
reach(vec_id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e2.s, reach.r FROM edges e2 JOIN reach ON e2.d = reach.vec_id
)
SELECT vec_id, min(r) AS cluster_id, (vec_id = min(r)) AS is_canonical
FROM reach GROUP BY vec_id"""


def _sql_label_centroids() -> str:
    return f"""
SELECT label, i AS dim,
       {TH.sql_quantized6('avg(CAST(embedding[CAST(i AS INT)] AS DOUBLE))')} AS centroid
FROM embeddings
CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
GROUP BY 1, 2"""


def _sql_multimodal() -> str:
    # first_byte is the first UTF-8 *byte* (hex of the encoded blob),
    # not ascii()'s Unicode code point — 0xC3=195 for 'é', matching the
    # Spark side's payload[0]. Empty text mirrors decode_stub's
    # deterministic sentinel row.
    return """
WITH enc AS (
  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS blen,
         hex(encode(text)) AS bhex
  FROM documents
)
SELECT doc_id,
       blen AS byte_len,
       CASE WHEN blen = 0 THEN -1
            ELSE CAST(('0x' || substr(bhex, 1, 2)) AS INT) END AS first_byte,
       CASE WHEN blen = 0 THEN CAST(0 AS BIGINT)
            ELSE blen // 1024 + 1 END AS n_frames,
       CASE WHEN blen = 0 THEN 'application/x-empty'
            ELSE 'application/octet-stream' END AS mime
FROM enc"""


def _sql_train_split() -> str:
    hb = TH.sql_token_hash("concat('sp:', CAST(doc_id AS VARCHAR))")
    hs = TH.sql_token_hash("concat('sh:', CAST(doc_id AS VARCHAR))")
    return f"""
WITH s AS (
  SELECT doc_id, {hb} % {CUR.SAMPLE_MOD} AS split_bucket, {hs} AS shuffle_key
  FROM documents
)
SELECT doc_id,
       CASE WHEN split_bucket < {CUR.SPLIT_TRAIN_PERMILLE} THEN 'train'
            WHEN split_bucket < {CUR.SPLIT_VAL_PERMILLE} THEN 'val'
            ELSE 'test' END AS split,
       split_bucket, shuffle_key
FROM s"""


def _sql_stratified_sample() -> str:
    h = TH.sql_token_hash("concat('s:', CAST(doc_id AS VARCHAR))")
    rates = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(CUR.STRATUM_PERMILLE.items())
    )
    return f"""
WITH s AS (
  SELECT doc_id, lang, {h} % {CUR.SAMPLE_MOD} AS sample_bucket FROM documents
)
SELECT doc_id, lang AS stratum, sample_bucket
FROM s
WHERE sample_bucket < (CASE lang {rates} ELSE 0 END)"""


def _sql_stratified_sample_exact() -> str:
    h = TH.sql_token_hash("concat('s:', CAST(doc_id AS VARCHAR))")
    quotas = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(CUR.STRATUM_QUOTAS.items())
    )
    return f"""
WITH s AS (
  SELECT doc_id, lang AS stratum, {h} % {CUR.SAMPLE_MOD} AS sample_bucket
  FROM documents
),
ranked AS (
  SELECT doc_id, stratum, sample_bucket,
         row_number() OVER (PARTITION BY stratum
                            ORDER BY sample_bucket, doc_id) AS rnk
  FROM s
)
SELECT doc_id, stratum, sample_bucket, rnk
FROM ranked
WHERE rnk <= (CASE stratum {quotas} ELSE 0 END)"""


def _sql_pii_scrub() -> str:
    e, p = CUR.EMAIL_PATTERN, CUR.PHONE_PATTERN
    return f"""
WITH scrub AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{e}')) AS n_emails,
         regexp_replace(text, '{e}', '[EMAIL]', 'g') AS no_email
  FROM documents
)
SELECT doc_id, n_emails,
       len(regexp_extract_all(no_email, '{p}')) AS n_phones,
       regexp_replace(no_email, '{p}', '[PHONE]', 'g') AS scrubbed_text
FROM scrub"""


def _source_weight_ctes() -> str:
    """CTE chain through `mix` (per-source token totals + corpus totals,
    all integers) — shared by the source-mix and rebalanced-sample
    oracles. Shares/weights are integer ppm via multiply-then-integral-
    divide, mirroring the Spark side's BIGINT `div` arithmetic exactly
    (rounded doubles are NOT cross-engine stable — this query is where
    the driver gate proved it)."""
    toks = TH.sql_tokens("text")
    return f"""per_source AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({toks})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT sum(n_tokens) AS total_tokens, count(*) AS n_sources FROM per_source),
mix AS (
  SELECT source, n_docs, n_tokens, n_sources, total_tokens,
         CAST((n_tokens * 1000000) // total_tokens AS BIGINT) AS token_share_ppm,
         CAST(least(1000000, (total_tokens * 1000000) // (n_sources * n_tokens))
              AS BIGINT) AS rebalance_weight_ppm
  FROM per_source CROSS JOIN tot
)"""


def _sql_source_mix() -> str:
    return f"""
WITH {_source_weight_ctes()}
SELECT source, n_docs, n_tokens, token_share_ppm, rebalance_weight_ppm FROM mix"""


def _sql_rebalanced_sample() -> str:
    # Exact-integer keep test (bucket * n_sources * n_tokens <
    # SAMPLE_MOD * total) — same algebra as curation.rebalanced_sample.
    h = TH.sql_token_hash("concat('s:', CAST(doc_id AS VARCHAR))")
    return f"""
WITH {_source_weight_ctes()}
SELECT d.doc_id, d.source, {h} % {CUR.SAMPLE_MOD} AS sample_bucket
FROM documents d JOIN mix ON d.source = mix.source
WHERE ({h} % {CUR.SAMPLE_MOD}) * mix.n_sources * mix.n_tokens
      < mix.total_tokens * {CUR.SAMPLE_MOD}"""


def _sql_boilerplate_scrub(seg_tokens: int = 10, min_docs: int = 2) -> str:
    # Fixed-width token segments; parallel unnest zips (pos, seg)
    # positionally. list_slice takes inclusive END index (Spark's slice
    # takes LENGTH) — (i-1)*w+1 .. i*w spans the same window.
    w = seg_tokens
    nseg = f"greatest((len(t) + {w - 1}) // {w}, 1)"
    return f"""
WITH {_TOKS_CTE},
seg AS (
  SELECT doc_id,
         unnest(range(1, {nseg} + 1)) AS pos,
         unnest(list_transform(range(1, {nseg} + 1),
                i -> array_to_string(list_slice(t, (i-1)*{w} + 1, i*{w}), ' '))) AS seg
  FROM toks
),
freq AS (SELECT seg, count(DISTINCT doc_id) AS nd FROM seg GROUP BY seg),
flagged AS (
  SELECT s.doc_id, s.pos, s.seg, (f.nd >= {min_docs}) AS is_b
  FROM seg s JOIN freq f USING (seg)
)
SELECT doc_id, count(*) AS n_segments,
       CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       coalesce(string_agg(CASE WHEN NOT is_b THEN seg END, ' ' ORDER BY pos), '')
         AS cleaned_text
FROM flagged GROUP BY doc_id"""


def _sql_source_lang_matrix() -> str:
    toks = TH.sql_tokens("text")
    return f"""
WITH cells AS (
  SELECT source, lang, count(*) AS n_docs,
         CAST(sum(len({toks})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source, lang
),
tot AS (SELECT sum(n_docs) AS total_docs, sum(n_tokens) AS total_tokens FROM cells)
SELECT source, lang, n_docs, n_tokens,
       CAST((n_docs * 1000000) // total_docs AS BIGINT) AS doc_share_ppm,
       CAST((n_tokens * 1000000) // total_tokens AS BIGINT) AS token_share_ppm
FROM cells CROSS JOIN tot"""


def _sql_repetition_stats() -> str:
    return f"""
WITH {_TOKS_CTE},
g AS (
  SELECT doc_id, {TH.sql_shingles('t', 3)} AS g3, {TH.sql_shingles('t', 2)} AS g2
  FROM toks
),
s3 AS (
  SELECT doc_id, len(g3) AS n_3grams,
         CAST(((len(g3) - len(list_distinct(g3))) * 1000000) // len(g3) AS BIGINT)
           AS dup_3gram_ppm
  FROM g
),
c2 AS (SELECT doc_id, unnest(g2) AS gram FROM g),
t2 AS (
  SELECT doc_id, CAST((max(c) * 1000000) // sum(c) AS BIGINT) AS top_2gram_ppm
  FROM (SELECT doc_id, gram, count(*) AS c FROM c2 GROUP BY doc_id, gram)
  GROUP BY doc_id
)
SELECT doc_id, n_3grams, dup_3gram_ppm, top_2gram_ppm
FROM s3 JOIN t2 USING (doc_id)"""


def _sql_char_entropy() -> str:
    h = "ln(CAST(sum(c) AS DOUBLE)) - sum(c * ln(CAST(c AS DOUBLE))) / sum(c)"
    return f"""
WITH ch AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS ch FROM documents
),
pc AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars, count(*) AS n_distinct_chars,
       {TH.sql_quantized6(h)} AS char_entropy
FROM pc GROUP BY doc_id"""


def _sql_bigram_logprob() -> str:
    # Parallel unnest of the two shifted slices zips (prev, cur)
    # positionally — the SQL mirror of the Spark pair transform.
    return f"""
WITH {_TOKS_CTE},
pairs AS (
  SELECT doc_id,
         unnest(list_slice(t, 1, len(t) - 1)) AS prev,
         unnest(list_slice(t, 2, len(t))) AS cur
  FROM toks WHERE len(t) >= 2
),
c2 AS (SELECT prev, cur, count(*) AS c2 FROM pairs GROUP BY prev, cur),
c1 AS (SELECT prev, count(*) AS c1 FROM pairs GROUP BY prev)
SELECT doc_id, count(*) AS n_bigrams,
       {TH.sql_quantized6(
           'avg(ln(CAST(c2 AS DOUBLE)) - ln(CAST(c1 AS DOUBLE)))'
       )} AS avg_bigram_logprob
FROM pairs JOIN c2 USING (prev, cur) JOIN c1 USING (prev)
GROUP BY doc_id"""


def _sql_int8_quantize() -> str:
    return f"""
WITH {_EMB_CTE},
s AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e
)
SELECT vec_id,
       CAST(unnest(range(1, len(v) + 1)) AS BIGINT) AS dim,
       unnest(list_transform(v, x -> CASE WHEN scale = 0 THEN 0
              ELSE CAST(round(x / scale * 127) AS INT) END)) AS code,
       {TH.sql_quantized6('scale')} AS scale
FROM s"""


def _sql_emb_norm_stats() -> str:
    nrm = (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(v, x -> x * x)), (a, x) -> a + x))"
    )
    return f"""
WITH {_EMB_CTE},
n AS (SELECT vec_id, {nrm} AS nrm FROM e)
SELECT vec_id, {TH.sql_quantized6('nrm')} AS l2_norm,
       CAST(round((nrm - 1.0) * 1e9) AS BIGINT) AS unit_dev_ppb
FROM n"""


def _sql_curation() -> str:
    h = TH.sql_token_hash("concat('s:', CAST(doc_id AS VARCHAR))")
    scores = ",\n         ".join(
        "len(list_filter(t, x -> x IN ({words}))) AS s_{lang}".format(
            lang=lang,
            words=", ".join(f"'{w}'" for w in TA.STOPWORDS[lang]),
        )
        for lang in TA.LANGS
    )
    best = "greatest({})".format(", ".join(f"s_{lang}" for lang in TA.LANGS))
    whens = " ".join(
        f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'" for lang in TA.LANGS
    )
    rates = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(CUR.STRATUM_PERMILLE.items())
    )
    return f"""
WITH {_TOKS_CTE},
base AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS text_hash,
         {h} % {CUR.SAMPLE_MOD} AS sample_bucket,
         {scores}
  FROM toks
),
withbest AS (SELECT *, {best} AS best FROM base),
labeled AS (
  SELECT *, CASE {whens} ELSE 'und' END AS predicted_lang FROM withbest
),
canon AS (
  SELECT *, min(doc_id) OVER (PARTITION BY text_hash) AS canonical_id
  FROM labeled
)
SELECT doc_id, predicted_lang, n_tokens
FROM canon
WHERE n_tokens >= 10
  AND punct / CAST(nullif(n_chars, 0) AS DOUBLE) < 0.2
  AND digits / CAST(nullif(n_chars, 0) AS DOUBLE) < 0.5
  AND doc_id = canonical_id
  AND sample_bucket < (CASE predicted_lang {rates} ELSE 0 END)"""


def _sql_frame_sample() -> str:
    fb, st = MM.FRAME_BYTES, MM.FRAME_STRIDE
    return f"""
WITH b AS (
  SELECT doc_id, octet_length(encode(text)) AS n FROM documents
),
f AS (
  SELECT doc_id, n,
         unnest(range(0, (n + {fb - 1}) // {fb}, {st})) AS frame_idx
  FROM b
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(frame_idx * {fb} AS BIGINT) AS frame_offset,
       CAST(least({fb}, n - frame_idx * {fb}) AS BIGINT) AS frame_len
FROM f"""


def _sql_int8_topk() -> str:
    codes = (
        "list_transform(v, x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT) "
        "ELSE CAST(round(x / scale * 127) AS BIGINT) END)"
    )
    isum = lambda arr: (  # noqa: E731
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {arr}), (a, x) -> a + x)"
    )
    dot_i = isum("list_transform(range(1, len(qc) + 1), i -> qc[i] * cc[i])")
    n2 = lambda col: isum(f"list_transform({col}, x -> x * x)")  # noqa: E731
    return f"""
WITH {_EMB_CTE},
coded AS (
  SELECT vec_id, {codes.replace('scale', 'list_max(list_transform(v, x -> abs(x)))')} AS c
  FROM e
),
q AS (SELECT vec_id AS query_id, c AS qc FROM coded WHERE vec_id % {QUERY_MOD} = 0),
scored AS (
  SELECT query_id, coded.vec_id AS neighbor_id,
         CAST({dot_i} AS DOUBLE)
           / (sqrt(CAST({n2('qc')} AS DOUBLE)) * sqrt(CAST({n2('cc')} AS DOUBLE)))
           AS cosine
  FROM q, (SELECT vec_id, c AS cc FROM coded) AS coded
  WHERE query_id <> coded.vec_id
),
r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, {TH.sql_quantized6('cosine')} AS cosine
FROM r WHERE rank <= 5"""


def _sql_int8_rerank_topk() -> str:
    # Stage 1 mirrors _sql_int8_topk's integer scoring (rank <= M via
    # the same DESC cosine + neighbor_id tie-break as the Spark window);
    # stage 2 re-scores the M survivors with the exact double cosine.
    m, k = SIM.RERANK_M, 3
    codes = (
        "list_transform(v, x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT) "
        "ELSE CAST(round(x / scale * 127) AS BIGINT) END)"
    )
    isum = lambda arr: (  # noqa: E731
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {arr}), (a, x) -> a + x)"
    )
    dot_i = isum("list_transform(range(1, len(qc) + 1), i -> qc[i] * cc[i])")
    n2 = lambda col: isum(f"list_transform({col}, x -> x * x)")  # noqa: E731
    dsum = lambda arr: (  # noqa: E731
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {arr}), (a, x) -> a + x)"
    )
    dot_d = dsum("list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])")
    nrm = lambda col: (  # noqa: E731
        f"sqrt({dsum(f'list_transform({col}, x -> x * x)')})"
    )
    return f"""
WITH {_EMB_CTE},
coded AS (
  SELECT vec_id, {codes.replace('scale', 'list_max(list_transform(v, x -> abs(x)))')} AS c
  FROM e
),
q AS (SELECT vec_id AS query_id, c AS qc FROM coded WHERE vec_id % {QUERY_MOD} = 0),
coarse AS (
  SELECT query_id, coded.vec_id AS neighbor_id,
         CAST({dot_i} AS DOUBLE)
           / (sqrt(CAST({n2('qc')} AS DOUBLE)) * sqrt(CAST({n2('cc')} AS DOUBLE)))
           AS approx_cosine
  FROM q, (SELECT vec_id, c AS cc FROM coded) AS coded
  WHERE query_id <> coded.vec_id
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY approx_cosine DESC, neighbor_id) AS crank
    FROM coarse
  ) WHERE crank <= {m}
),
ex AS (
  SELECT c.query_id, c.neighbor_id,
         {dot_d} / ({nrm('qv')} * {nrm('cv')}) AS cosine
  FROM cand c
  JOIN (SELECT vec_id, v AS qv FROM e) a ON c.query_id = a.vec_id
  JOIN (SELECT vec_id, v AS cv FROM e) b ON c.neighbor_id = b.vec_id
),
r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM ex
)
SELECT query_id, rank, neighbor_id, {TH.sql_quantized6('cosine')} AS cosine
FROM r WHERE rank <= {k}"""


def _sql_ivf_int8_rerank_topk() -> str:
    # The IVF-on-int8 composition: _sql_int8_rerank_topk's two-stage
    # integer-then-exact scoring, with stage 1 restricted to the probed
    # coarse buckets (the partition prune the Spark side gets from the
    # persisted index layout — semantically a bucket-equality join).
    m, k = SIM.RERANK_M, 3
    masks = ", ".join(
        f"xor(bucket, {mm})"
        for mm in SIM.probe_masks(SIM.IVF_BITS, SIM.IVF_PROBE_RADIUS)
    )
    codes = (
        "list_transform(v, x -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT) "
        "ELSE CAST(round(x / scale * 127) AS BIGINT) END)"
    ).replace("scale", "list_max(list_transform(v, x -> abs(x)))")
    isum = lambda arr: (  # noqa: E731
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {arr}), (a, x) -> a + x)"
    )
    dot_i = isum("list_transform(range(1, len(qc) + 1), i -> qc[i] * cc[i])")
    n2 = lambda col: isum(f"list_transform({col}, x -> x * x)")  # noqa: E731
    dsum = lambda arr: (  # noqa: E731
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {arr}), (a, x) -> a + x)"
    )
    dot_d = dsum("list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])")
    nrm = lambda col: (  # noqa: E731
        f"sqrt({dsum(f'list_transform({col}, x -> x * x)')})"
    )
    return f"""
WITH {_EMB_CTE},
eb AS (SELECT vec_id, v, {_sql_bucket('v')} AS bucket FROM e),
coded AS (SELECT vec_id, bucket, {codes} AS c FROM eb),
qp AS (SELECT vec_id AS query_id, unnest([{masks}]) AS q_bucket
       FROM eb WHERE vec_id % {QUERY_MOD} = 0),
q AS (SELECT vec_id AS query_id, c AS qc FROM coded
      WHERE vec_id % {QUERY_MOD} = 0),
coarse AS (
  SELECT qp.query_id, cd.vec_id AS neighbor_id,
         CAST({dot_i} AS DOUBLE)
           / (sqrt(CAST({n2('qc')} AS DOUBLE)) * sqrt(CAST({n2('cc')} AS DOUBLE)))
           AS approx_cosine
  FROM qp
  JOIN (SELECT vec_id, bucket, c AS cc FROM coded) cd ON cd.bucket = qp.q_bucket
  JOIN q ON q.query_id = qp.query_id
  WHERE qp.query_id <> cd.vec_id
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY approx_cosine DESC, neighbor_id) AS crank
    FROM coarse
  ) WHERE crank <= {m}
),
ex AS (
  SELECT c.query_id, c.neighbor_id,
         {dot_d} / ({nrm('qv')} * {nrm('cv')}) AS cosine
  FROM cand c
  JOIN (SELECT vec_id, v AS qv FROM e) a ON c.query_id = a.vec_id
  JOIN (SELECT vec_id, v AS cv FROM e) b ON c.neighbor_id = b.vec_id
),
r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM ex
)
SELECT query_id, rank, neighbor_id, {TH.sql_quantized6('cosine')} AS cosine
FROM r WHERE rank <= {k}"""


def _kmeans_ctes() -> str:
    """Shared CTE chain: deterministic-seed k-means assignment
    (mirrors ``similarity.kmeans_assign``). Terminal CTE ``kassign`` is
    ``(vec_id, cluster, d2)``."""
    k = SIM.KMEANS_K
    d2 = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(1, len(v) + 1), "
        "i -> (v[i] - cv[i]) * (v[i] - cv[i]))), (a, x) -> a + x)"
    )
    return f"""{_EMB_CTE},
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
         v AS cv
  FROM e ORDER BY vec_id LIMIT {k}
),
kscored AS (
  SELECT e.vec_id, cent.cluster, {d2} AS d2 FROM e, cent
),
kassign AS (
  SELECT vec_id, cluster, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
    FROM kscored
  ) WHERE rn = 1
)"""


def _sql_kmeans_assign() -> str:
    return f"""
WITH {_kmeans_ctes()}
SELECT vec_id, cluster, {TH.sql_quantized6('d2')} AS dist2
FROM kassign"""


def q_zipf_slope(spark, sf_dir):
    return TA.zipf_slope(_docs(spark, sf_dir))


def _sql_zipf_slope() -> str:
    k = TA.ZIPF_TOP_K
    num = "(n_terms * sxy - sx * sy)"
    den = "(n_terms * sxx - sx * sx)"
    return f"""
WITH {_TOKS_CTE},
term_rows AS (SELECT unnest(t) AS term FROM toks),
ctf AS (SELECT term, count(*) AS ctf FROM term_rows GROUP BY term),
top AS (SELECT * FROM ctf ORDER BY ctf DESC, term LIMIT {k}),
ranked AS (
  SELECT CAST(round(ln(CAST(row_number()
           OVER (ORDER BY ctf DESC, term) AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         CAST(round(ln(CAST(ctf AS DOUBLE)) * 1e6) AS BIGINT) AS y
  FROM top
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM ranked
)
SELECT n_terms,
       CASE WHEN {den} > 0 THEN
         CASE WHEN {num} < 0
              THEN -((-(1000 * {num})) // {den})
              ELSE (1000 * {num}) // {den} END
       END AS slope_milli
FROM m"""


def q_ivf_balance(spark, sf_dir):
    return SIM.ivf_balance(_emb(spark, sf_dir))


def _sql_ivf_balance() -> str:
    k = SIM.KMEANS_K
    return f"""
WITH {_kmeans_ctes()},
per AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors
  FROM kassign GROUP BY cluster
),
t AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total FROM per)
SELECT CAST(cluster AS BIGINT) AS cluster, n_vectors,
       (1000000 * n_vectors) // total AS share_ppm,
       (1000 * n_vectors * {k}) // total AS skew_milli
FROM per CROSS JOIN t"""


def _sql_semantic_dedup() -> str:
    dot_ab = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(1, len(av) + 1), i -> av[i] * bv[i])), (a, x) -> a + x)"
    )
    norm_of = (
        "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform({0}, x -> x * x)), (a, x) -> a + x))"
    )
    return f"""
WITH {_kmeans_ctes()},
av AS (
  SELECT e.vec_id, kassign.cluster, e.v, {norm_of.format('e.v')} AS n
  FROM e JOIN kassign ON e.vec_id = kassign.vec_id
),
pairs AS (
  SELECT a.vec_id, a.cluster, b.vec_id AS vec_b,
         a.v AS av, b.v AS bv, a.n * b.n AS nn
  FROM av a JOIN av b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
),
sscored AS (
  SELECT vec_id, cluster, vec_b, {dot_ab} / nn AS cosine FROM pairs
)
SELECT vec_id, cluster, min(vec_b) AS dup_of, count(*) AS n_dups
FROM sscored WHERE cosine >= {SIM.SEMDEDUP_THRESHOLD}
GROUP BY vec_id, cluster"""


def _sql_chunks() -> str:
    chunk, stride = CUR.CHUNK_TOKENS, CUR.CHUNK_STRIDE
    fp = TH.sql_doc_fingerprint("piece")
    return f"""
WITH {_TOKS_CTE},
th AS (
  SELECT doc_id, list_transform(t, tok -> {TH.sql_token_hash('tok')}) AS thl
  FROM toks
),
win AS (
  SELECT doc_id, thl,
         unnest(range(0, 1 + (greatest(len(thl) - {chunk}, 0) + {stride - 1})
                              // {stride})) AS chunk_idx
  FROM th
),
sliced AS (
  SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         CAST(chunk_idx * {stride} + 1 AS BIGINT) AS chunk_start,
         thl[chunk_idx * {stride} + 1 : chunk_idx * {stride} + {chunk}] AS piece
  FROM win
)
SELECT doc_id, chunk_idx, chunk_start,
       CAST(len(piece) AS BIGINT) AS n_chunk_tokens,
       {fp} AS chunk_fingerprint
FROM sliced"""


def _sql_pack_sequences() -> str:
    L = CUR.PACK_SEQ_LEN
    return f"""
WITH {_TOKS_CTE},
base AS (
  SELECT d.doc_id, d.source AS shard, CAST(len(t.t) AS BIGINT) AS n_tokens
  FROM documents d JOIN toks t ON d.doc_id = t.doc_id
),
c AS (
  SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM base
)
SELECT doc_id, shard, n_tokens,
       cum - n_tokens AS start_offset,
       (cum - n_tokens) // {L} AS first_seq,
       (cum - 1) // {L} AS last_seq,
       (cum - 1) // {L} - (cum - n_tokens) // {L} + 1 AS n_seqs,
       (cum - n_tokens) % {L} AS offset_in_seq
FROM c"""


def _sql_vocab_coverage() -> str:
    k = TA.VOCAB_K
    return f"""
WITH {_TOKS_CTE},
tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS c FROM tok GROUP BY term
    ORDER BY c DESC, term LIMIT {k}
  )
)
SELECT tok.doc_id, count(*) AS n_tokens,
       count(CASE WHEN vocab.term IS NULL THEN 1 END) AS n_oov,
       CAST((count(CASE WHEN vocab.term IS NULL THEN 1 END) * 1000000)
            // count(*) AS BIGINT) AS oov_ppm
FROM tok LEFT JOIN vocab ON tok.term = vocab.term
GROUP BY tok.doc_id"""


def _sql_chunk_dups() -> str:
    return f"""
WITH chunks AS ({_sql_chunks()})
SELECT chunk_fingerprint, count(*) AS n_chunks,
       count(DISTINCT doc_id) AS n_docs,
       min(doc_id) AS canonical_doc_id
FROM chunks GROUP BY chunk_fingerprint HAVING count(*) > 1"""


def _sql_length_percentiles() -> str:
    cols = ",\n       ".join(
        f"min(CASE WHEN rn = greatest(({p} * n + 99) // 100, 1) "
        f"THEN n_tokens END) AS p{p}"
        for p in TA.PERCENTILES
    )
    return f"""
WITH {_TOKS_CTE},
base AS (
  SELECT doc_id, lang AS "group", CAST(len(t) AS BIGINT) AS n_tokens FROM toks
),
r AS (
  SELECT *,
         CAST(row_number() OVER (PARTITION BY "group"
              ORDER BY n_tokens, doc_id) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY "group") AS BIGINT) AS n
  FROM base
)
SELECT "group", count(*) AS n_docs,
       {cols}
FROM r GROUP BY "group" """


def llm_oracle_sql() -> dict[str, str]:
    return {
        "docs_exact_dedup": _sql_exact_dedup(),
        "docs_shingle_jaccard_pairs": _sql_shingle_jaccard(),
        "docs_minhash_lsh_pairs": _sql_minhash_lsh(),
        "docs_containment_pairs": _sql_containment(),
        "docs_simhash": _sql_simhash(),
        "docs_simhash_dup_pairs": _sql_simhash_dup_pairs(),
        "docs_simhash_dup_pairs_prod": _sql_simhash_dup_pairs_prod(),
        "docs_decontaminate": _sql_decontaminate(),
        "docs_decontaminated_corpus": _sql_decontaminated_corpus(),
        "docs_dup_clusters": _sql_dup_clusters(),
        "docs_stratified_sample": _sql_stratified_sample(),
        "docs_stratified_sample_exact": _sql_stratified_sample_exact(),
        "docs_pii_scrub": _sql_pii_scrub(),
        "docs_boilerplate_scrub": _sql_boilerplate_scrub(),
        "docs_curation": _sql_curation(),
        "docs_source_mix": _sql_source_mix(),
        "docs_source_lang_matrix": _sql_source_lang_matrix(),
        "docs_rebalanced_sample": _sql_rebalanced_sample(),
        "mm_frame_sample": _sql_frame_sample(),
        "mm_payload_sniff": _sql_payload_sniff(),
        "emb_kmeans_assign": _sql_kmeans_assign(),
        "emb_int8_topk": _sql_int8_topk(),
        "emb_int8_rerank_topk": _sql_int8_rerank_topk(),
        "emb_ivf_int8_topk": _sql_ivf_int8_rerank_topk(),
        "emb_semantic_dedup": _sql_semantic_dedup(),
        "docs_train_split": _sql_train_split(),
        "docs_chunks": _sql_chunks(),
        "docs_pack_sequences": _sql_pack_sequences(),
        "docs_length_percentiles": _sql_length_percentiles(),
        "docs_vocab_coverage": _sql_vocab_coverage(),
        "docs_chunk_dups": _sql_chunk_dups(),
        "docs_repetition_stats": _sql_repetition_stats(),
        "docs_char_entropy": _sql_char_entropy(),
        "docs_token_stats": _sql_token_stats(),
        "docs_language_id": _sql_language_id(),
        "docs_quality": _sql_quality(),
        "docs_fingerprints": _sql_fingerprints(),
        "docs_unigram_logprob": _sql_unigram_logprob(),
        "docs_bigram_logprob": _sql_bigram_logprob(),
        "docs_bpe_merge_candidates": _sql_bpe_merges(),
        "docs_tfidf_top_terms": _sql_tfidf(),
        "emb_cosine_topk": _sql_cosine_topk(),
        "emb_ivf_topk": _sql_ivf_topk(),
        "emb_cosine_dup_pairs": _sql_cosine_dup_pairs(),
        "emb_dup_clusters": _sql_emb_dup_clusters(),
        "emb_label_centroids": _sql_label_centroids(),
        "emb_norm_stats": _sql_emb_norm_stats(),
        "emb_int8_quantize": _sql_int8_quantize(),
        "mm_image_features": _sql_multimodal(),
        # round-6+ additions (builders defined below)
        "docs_hashed_classifier": _sql_hashed_classifier(),
        "docs_ngram_diversity": _sql_ngram_diversity(),
        "docs_pareto_frontier": _sql_pareto_frontier(),
        "emb_rand_projection": _sql_rand_projection(),
        "emb_gram_matrix": _sql_gram_matrix(),
        "docs_keyword_search": _sql_keyword_search(),
        "docs_bm25_topk": _sql_bm25_topk(),
        "docs_canonical_best": _sql_canonical_best(),
        "docs_pagerank": _sql_pagerank(),
        "docs_minhash_calibration": _sql_minhash_calibration(),
        "docs_bpe_train": _sql_bpe_train(),
        "docs_profile": _sql_profile(),
        "docs_vocab_growth": _sql_vocab_growth(),
        "docs_winnow_fingerprints": _sql_winnow_fingerprints(),
        "docs_winnow_matches": _sql_winnow_matches(),
        "docs_repeated_spans": _sql_repeated_spans(),
        "docs_quality_sweep": _sql_quality_sweep(),
        "emb_pq_codes": _sql_pq_codes(),
        "emb_pq_topk": _sql_pq_topk(),
        "docs_token_budget": _sql_token_budget(),
        "docs_incremental_dedup": _sql_incremental_dedup(),
        "docs_contamination_score": _sql_contamination_score(),
        "docs_source_dup_matrix": _sql_source_dup_matrix(),
        "docs_length_weighted_sample": _sql_length_weighted_sample(),
        "docs_span_coverage": _sql_span_coverage(),
        "docs_weighted_jaccard_pairs": _sql_weighted_jaccard(),
        "mm_wav_features": _sql_wav_features(),
        "mm_bmp_features": _sql_bmp_features(),
        "docs_perplexity_buckets": _sql_perplexity_buckets(),
        "emb_recall_audit": _sql_recall_audit(),
        "mm_bmp_resize_features": _sql_bmp_resize_features(),
        "docs_bpe_encode": _sql_bpe_encode(),
        "docs_gopher_filter": _sql_gopher_filter(),
        "mm_wav_decimate_features": _sql_wav_decimate_features(),
        "mm_wav_frame_energy": _sql_wav_frame_energy(),
        "mm_image_dup_stats": _sql_image_dup_pairs(),
        "emb_label_diversity": _sql_label_diversity(),
        "docs_tokenizer_fertility": _sql_tokenizer_fertility(),
        "emb_label_outliers": _sql_label_outliers(),
        "docs_curation_v2": _sql_curation_v2(),
        "docs_dedup_funnel": _sql_dedup_funnel(),
        "docs_labelprop_communities": _sql_labelprop_communities(),
        "emb_mmr_topk": _sql_mmr_topk(),
        "emb_cohort_drift": _sql_cohort_drift(),
        "emb_matryoshka_recall": _sql_matryoshka_recall(),
        "emb_knn_label_audit": _sql_knn_label_audit(),
        "docs_dup_graph_stats": _sql_dup_graph_stats(),
        "docs_detector_agreement": _sql_detector_agreement(),
        "emb_pq_distortion": _sql_pq_distortion(),
        "docs_temperature_mix": _sql_temperature_mix(),
        "emb_ivf_balance": _sql_ivf_balance(),
        "docs_zipf_slope": _sql_zipf_slope(),
        "docs_jaccard_threshold_sweep": _sql_jaccard_threshold_sweep(),
        "emb_hard_negatives": _sql_hard_negatives(),
        "docs_dsir_weights": _sql_dsir_weights(),
        "docs_span_scrub": _sql_span_scrub(),
        "emb_silhouette": _sql_silhouette(),
        "docs_source_kl": _sql_source_kl(),
        "emb_ivf_probe_sweep": _sql_ivf_probe_sweep(),
        "docs_dsir_resample": _sql_dsir_resample(),
        "docs_rrf_fusion": _sql_rrf_fusion(),
        "emb_cluster_coreset": _sql_cluster_coreset(),
        "docs_doremi_reweight": _sql_doremi_reweight(),
        "docs_pii_scan_v2": _sql_pii_scan_v2(),
        "docs_vocab_novelty": _sql_vocab_novelty(),
        "docs_weighted_sample_aes": _sql_weighted_sample_aes(),
        "emb_kmeans_lloyd2": _sql_kmeans_lloyd2(),
        "emb_dim_stats": _sql_dim_stats(),
        "docs_pmi_collocations": _sql_pmi_collocations(),
        "emb_power_iteration": _sql_power_iteration(),
        "docs_mixture_apportion": _sql_mixture_apportion(),
    }


# ---------------------------------------------------------------------------
# Round-6 additions: hashed classifier, n-gram diversity, Pareto
# frontier, random projection
# ---------------------------------------------------------------------------


def q_hashed_classifier(spark, sf_dir):
    return TA.hashed_classifier(_docs(spark, sf_dir))


def q_ngram_diversity(spark, sf_dir):
    return TA.ngram_diversity(_docs(spark, sf_dir))


def q_pareto_frontier(spark, sf_dir):
    return CUR.pareto_frontier(_docs(spark, sf_dir))


def q_rand_projection(spark, sf_dir):
    return SIM.rand_projection(_emb(spark, sf_dir))


def _sql_hashed_classifier() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({TH.sql_tokens('text')}) AS tok FROM documents
),
b AS (
  SELECT doc_id, {TH.sql_token_hash('tok')} % {TA.CLS_BUCKETS} AS bucket
  FROM tok
),
counts AS (SELECT doc_id, bucket, count(*) AS cnt FROM b GROUP BY doc_id, bucket),
w AS (
  SELECT range AS bucket,
         (({TA.CLS_A} * range + {TA.CLS_B}) % {_P}) % {2 * TA.CLS_W_RANGE + 1}
           - {TA.CLS_W_RANGE} AS weight
  FROM range({TA.CLS_BUCKETS})
),
g AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         CAST(sum(cnt * weight) AS BIGINT) AS logit
  FROM counts JOIN w USING (bucket) GROUP BY doc_id
)
SELECT doc_id, n_tokens, logit,
       CASE WHEN logit > 0 THEN 'keep' ELSE 'drop' END AS cls_route
FROM g"""


def _sql_ngram_diversity() -> str:
    return f"""
WITH d AS (
  SELECT source, {TH.sql_tokens('text')} AS t FROM documents
),
tri AS (
  SELECT source,
         unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS trigram
  FROM d
)
SELECT source, count(*) AS n_trigrams,
       count(DISTINCT trigram) AS n_distinct_trigrams,
       CAST((count(DISTINCT trigram) * 1000000) // count(*) AS BIGINT)
         AS diversity_ppm
FROM tri GROUP BY source"""


def _sql_pareto_frontier() -> str:
    # Deliberately the NAIVE dominance formulation (NOT EXISTS over all
    # pairs) — an independent statement of the skyline contract, not a
    # mirror of the Spark level-reduction plan.
    en = ", ".join(f"'{w}'" for w in TA.STOPWORDS["en"])
    return f"""
WITH d AS (
  SELECT doc_id, {TH.sql_tokens('text')} AS t FROM documents
),
m AS (
  SELECT doc_id,
         CAST((len(list_filter(t, x -> x IN ({en}))) * 1000) // len(t)
              AS BIGINT) AS stop_milli,
         len(t) AS n_tokens
  FROM d
)
SELECT doc_id, stop_milli, n_tokens FROM m a
WHERE NOT EXISTS (
  SELECT 1 FROM m b
  WHERE b.stop_milli >= a.stop_milli AND b.n_tokens >= a.n_tokens
    AND (b.stop_milli > a.stop_milli OR b.n_tokens > a.n_tokens))"""


def _sql_rand_projection() -> str:
    cols = []
    for i, row in enumerate(SIM.RP_SIGNS):
        lits = ", ".join(f"CAST({s} AS DOUBLE)" for s in row)
        fold = (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {SIM.EMB_DIM} + 1), "
            f"j -> v[j] * ([{lits}])[j])), (a, x) -> a + x)"
        )
        cols.append(f"CAST(round(({fold}) * 1e6) AS BIGINT) AS p{i}_micro")
    sel = ",\n       ".join(cols)
    return f"""
WITH {_EMB_CTE}
SELECT vec_id,
       {sel}
FROM e"""


def q_gram_matrix(spark, sf_dir):
    return SIM.gram_matrix(_emb(spark, sf_dir))


def _sql_gram_matrix() -> str:
    return f"""
WITH q AS (
  SELECT list_transform(embedding,
         x -> CAST(round(CAST(x AS DOUBLE) * {SIM.GRAM_SCALE}) AS BIGINT)) AS qv
  FROM embeddings
)
SELECT a.i AS i, b.j AS j, CAST(sum(qv[a.i] * qv[b.j]) AS BIGINT) AS gram
FROM q, range(1, {SIM.EMB_DIM} + 1) a(i), range(1, {SIM.EMB_DIM} + 1) b(j)
GROUP BY a.i, b.j"""


def q_keyword_search(spark, sf_dir):
    return TA.keyword_search(_docs(spark, sf_dir))


def q_canonical_best(spark, sf_dir):
    return DD.canonical_best(_docs(spark, sf_dir), threshold=JACCARD_THRESHOLD)


def q_bm25_topk(spark, sf_dir):
    return TA.bm25_topk(_docs(spark, sf_dir))


def _sql_bm25_topk() -> str:
    terms = ", ".join(f"'{t}'" for t in TA.SEARCH_TERMS)
    k1, b, k = TA.BM25_K1, TA.BM25_B, TA.BM25_TOPK
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({TH.sql_tokens('text')}) AS tok FROM documents
),
doclen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
corpus AS (
  SELECT count(*) AS n_docs, sum(dl) AS total_tokens FROM doclen
),
tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM tok
  WHERE tok IN ({terms}) GROUP BY doc_id, tok
),
df_t AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
contrib AS (
  SELECT tf.doc_id,
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * ({k1} + 1.0))
           / (tf + {k1} * ((1.0 - {b})
              + {b} * (dl * n_docs) / total_tokens)) AS c
  FROM tf JOIN df_t USING (tok)
  JOIN doclen USING (doc_id)
  CROSS JOIN corpus
),
scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
         CAST(round(sum(c) * 1e6) AS BIGINT) AS score_micro
  FROM contrib GROUP BY doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
            AS BIGINT) AS rank,
       doc_id, n_terms_matched, score_micro
FROM scored
ORDER BY score_micro DESC, doc_id
LIMIT {k}"""


def _sql_keyword_search() -> str:
    terms = ", ".join(f"'{t}'" for t in TA.SEARCH_TERMS)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({TH.sql_tokens('text')}) AS tok FROM documents
),
hits AS (SELECT doc_id, tok FROM tok WHERE tok IN ({terms})),
per_doc AS (
  SELECT doc_id, count(DISTINCT tok) AS n_terms, count(*) AS n_hits
  FROM hits GROUP BY doc_id
)
SELECT doc_id, n_hits FROM per_doc WHERE n_terms = {len(TA.SEARCH_TERMS)}"""


def _sql_canonical_best() -> str:
    # The dup_clusters recursive-CTE closure + an INDEPENDENT argmax
    # formulation (row_number) of the longest-wins policy.
    return f"""
WITH RECURSIVE {_minhash_inter_ctes()},
{_jaccard_ctes('inter')},
pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach(doc_id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.doc_id
),
clusters AS (
  SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY doc_id
),
jm AS (
  SELECT c.cluster_id, c.doc_id, length(d.text) AS n_chars
  FROM clusters c JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT cluster_id, doc_id, n_chars,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id) AS rnk,
         count(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM jm
)
SELECT cluster_id, doc_id AS best_doc_id,
       CAST(n_chars AS BIGINT) AS best_n_chars,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rnk = 1"""


def q_pagerank(spark, sf_dir):
    return DD.pagerank(_docs(spark, sf_dir), threshold=JACCARD_THRESHOLD)


def _sql_pagerank() -> str:
    # The SAME integer recurrence as the Spark loop, UNROLLED as
    # chained CTEs (fixed iteration count makes that possible — and
    # proves the distributed loop equals the closed-form dataflow).
    d, t = DD.PR_DAMP_MILLI, DD.PR_TELEPORT_PPM
    steps = []
    for i in range(DD.PR_ITERS):
        steps.append(
            f"""r{i + 1} AS (
  SELECT n.doc_id,
         CAST({t} + coalesce(sum(({d} * r.rank_ppm) // (1000 * dg.outdeg)), 0)
              AS BIGINT) AS rank_ppm
  FROM documents n
  LEFT JOIN edges e ON e.dst = n.doc_id
  LEFT JOIN r{i} r ON r.doc_id = e.src
  LEFT JOIN deg dg ON dg.src = e.src
  GROUP BY n.doc_id
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH {_minhash_inter_ctes()},
{_jaccard_ctes('inter')},
pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT doc_id, CAST({DD.PR_INIT_PPM} AS BIGINT) AS rank_ppm FROM documents),
{chain}
SELECT doc_id, rank_ppm FROM r{DD.PR_ITERS}"""


def q_labelprop_communities(spark, sf_dir):
    return DD.label_propagation(_docs(spark, sf_dir), threshold=JACCARD_THRESHOLD)


def _sql_labelprop_communities() -> str:
    # The SAME synchronous label-propagation recurrence as the Spark
    # loop (most-frequent label in the CLOSED neighborhood — the
    # self-vote damps bipartite oscillation — ties to the smallest
    # label), UNROLLED as chained CTEs.
    rounds = []
    for r in range(DD.LP_ITERS):
        rounds.append(
            f"""cnt{r} AS (
  SELECT doc_id, label, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT e.dst AS doc_id, l.label
    FROM edges e JOIN lp{r} l ON l.doc_id = e.src
    UNION ALL
    SELECT doc_id, label FROM lp{r}
  ) GROUP BY doc_id, label
),
lp{r + 1} AS (
  SELECT doc_id, CAST(label AS BIGINT) AS label FROM (
    SELECT doc_id, label,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, label) AS rn
    FROM cnt{r}
  ) WHERE rn = 1
)"""
        )
    chain = ",\n".join(rounds)
    n = DD.LP_ITERS
    return f"""
WITH {_minhash_inter_ctes()},
{_jaccard_ctes('inter')},
pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
lp0 AS (SELECT doc_id, CAST(doc_id AS BIGINT) AS label FROM documents),
{chain},
lp_sizes AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_members
  FROM lp{n} GROUP BY label
)
SELECT l.doc_id, l.label AS community, s.n_members
FROM lp{n} l JOIN lp_sizes s ON s.label = l.label"""


def q_dup_graph_stats(spark, sf_dir):
    return DD.dup_graph_stats(_docs(spark, sf_dir), threshold=JACCARD_THRESHOLD)


def _sql_dup_graph_stats() -> str:
    return f"""
WITH {_minhash_inter_ctes()},
{_jaccard_ctes('inter')},
pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT doc_a AS node FROM pairs
    UNION ALL
    SELECT doc_b AS node FROM pairs
  ) GROUP BY node
),
node_stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(coalesce(sum(deg * (deg - 1) // 2), 0) AS BIGINT) AS n_wedges
  FROM deg
),
edge_stats AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM pairs),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM pairs p1
  JOIN pairs p2 ON p2.doc_a = p1.doc_b
  JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0 THEN (3000 * n_triangles) // n_wedges
            ELSE 0 END AS global_clustering_milli
FROM node_stats CROSS JOIN edge_stats CROSS JOIN tri"""


def q_jaccard_threshold_sweep(spark, sf_dir):
    return DD.jaccard_threshold_sweep(_docs(spark, sf_dir))


def _sql_jaccard_threshold_sweep() -> str:
    floor = DD.SWEEP_FLOOR
    ths = ", ".join(str(t) for t in DD.SWEEP_MILLI)
    return f"""
WITH {_TOKS_CTE}, {_SHINGLE_CTE},
post AS (SELECT doc_id, len(shl) AS n, unnest(shl) AS h FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM post a JOIN post b
    ON a.h = b.h AND a.doc_id < b.doc_id
   AND b.n >= a.n * {floor} AND a.n >= b.n * {floor}
  GROUP BY 1, 2
),
{_jaccard_ctes('inter')},
pairs AS (
  SELECT doc_a, doc_b, {TH.sql_quantized6('jaccard')} AS jacq
  FROM jac WHERE jaccard >= {floor}
),
t AS (SELECT CAST(unnest([{ths}]) AS BIGINT) AS threshold_milli),
tagged AS (
  SELECT threshold_milli, doc_a, doc_b FROM pairs, t
  WHERE jacq >= threshold_milli / 1000.0
),
pc AS (
  SELECT threshold_milli, CAST(count(*) AS BIGINT) AS n_pairs
  FROM tagged GROUP BY threshold_milli
),
df AS (
  SELECT threshold_milli,
         CAST(count(DISTINCT d) AS BIGINT) AS n_docs_flagged
  FROM (SELECT threshold_milli, unnest([doc_a, doc_b]) AS d FROM tagged)
  GROUP BY threshold_milli
)
SELECT threshold_milli, n_pairs, n_docs_flagged
FROM pc JOIN df USING (threshold_milli)"""


def q_detector_agreement(spark, sf_dir):
    return DD.detector_agreement(
        _docs(spark, sf_dir), threshold=JACCARD_THRESHOLD
    )


def _sql_detector_agreement() -> str:
    # Detectors composed as derived tables (each carries its own WITH
    # chain) — same composition idiom as _sql_recall_audit.
    return f"""
WITH exact AS (SELECT doc_a, doc_b FROM ({_sql_shingle_jaccard()}) e),
mh AS (SELECT doc_a, doc_b FROM ({_sql_minhash_lsh()}) m),
sh2 AS (SELECT doc_a, doc_b FROM ({_sql_simhash_dup_pairs()}) s),
stats AS (
  SELECT 'minhash_lsh' AS detector,
         (SELECT count(*) FROM mh) AS n_flagged,
         (SELECT count(*) FROM exact) AS n_true_pairs,
         (SELECT count(*) FROM mh JOIN exact USING (doc_a, doc_b))
           AS n_overlap
  UNION ALL
  SELECT 'simhash',
         (SELECT count(*) FROM sh2),
         (SELECT count(*) FROM exact),
         (SELECT count(*) FROM sh2 JOIN exact USING (doc_a, doc_b))
)
SELECT detector, CAST(n_flagged AS BIGINT) AS n_flagged,
       CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
       CAST(n_overlap AS BIGINT) AS n_overlap,
       CASE WHEN n_flagged > 0 THEN (1000 * n_overlap) // n_flagged
            ELSE 0 END AS precision_milli,
       CASE WHEN n_true_pairs > 0 THEN (1000 * n_overlap) // n_true_pairs
            ELSE 0 END AS recall_milli
FROM stats"""


def q_minhash_calibration(spark, sf_dir):
    return DD.minhash_calibration(_docs(spark, sf_dir), threshold=JACCARD_THRESHOLD)


def _sql_minhash_calibration() -> str:
    k = len(TH.MINHASH_AB)
    sig_list = ", ".join(f"mh{i}" for i in range(k))
    return f"""
WITH {_minhash_inter_ctes()},
sizes AS (SELECT doc_id, len(shl) AS n FROM sh),
sigl AS (SELECT doc_id, [{sig_list}] AS sigv FROM sig),
verified AS (
  SELECT i.doc_a, i.doc_b, i.n_common,
         sa.n + sb.n - i.n_common AS n_union
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE i.n_common / CAST(sa.n + sb.n - i.n_common AS DOUBLE)
        >= {JACCARD_THRESHOLD}
),
m AS (
  SELECT v.doc_a, v.doc_b,
         CAST((v.n_common * 1000000) // v.n_union AS BIGINT) AS jac_ppm,
         CAST(len(list_filter(range(1, {k} + 1),
              i -> a.sigv[i] = b.sigv[i])) AS BIGINT) AS est_match_k
  FROM verified v
  JOIN sigl a ON v.doc_a = a.doc_id
  JOIN sigl b ON v.doc_b = b.doc_id
)
SELECT doc_a, doc_b, jac_ppm, est_match_k,
       CAST((est_match_k * 1000000) // {k} AS BIGINT) AS est_ppm,
       CAST(abs((est_match_k * 1000000) // {k} - jac_ppm) AS BIGINT)
         AS abs_err_ppm
FROM m"""


def q_bpe_train(spark, sf_dir):
    return TA.bpe_train(_docs(spark, sf_dir))


def _bpe_unrolled_ctes(carry_w: bool) -> str:
    # The ENTIRE training loop unrolled: per round, a pair-frequency
    # CTE, a 1-row argmax CTE, and a list-fold merge application that
    # references it — the same leftmost-first convention as the Spark
    # fold. ``carry_w`` threads the word through every round so the
    # final vocab CTE doubles as the trained encoder's lookup table.
    keep = "w, " if carry_w else ""
    rounds = []
    for r in range(TA.BPE_TRAIN_MERGES):
        rounds.append(
            f"""pf{r} AS (
  SELECT p.a AS a, p.b AS b, CAST(sum(cnt) AS BIGINT) AS freq
  FROM (
    SELECT cnt,
           unnest(list_transform(range(1, len(syms)),
                  i -> {{'a': syms[i], 'b': syms[i+1]}})) AS p
    FROM vocab{r} WHERE len(syms) >= 2
  ) GROUP BY p.a, p.b
),
top{r} AS (SELECT a, b, freq FROM pf{r} ORDER BY freq DESC, a, b LIMIT 1),
vocab{r + 1} AS (
  SELECT {keep}cnt, list_reduce(
    list_prepend(CAST([] AS VARCHAR[]), list_transform(syms, s -> [s])),
    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = t.a AND x[1] = t.b
                THEN list_append(acc[1:len(acc)-1], t.a || t.b)
                ELSE list_concat(acc, x) END
  ) AS syms
  FROM vocab{r}, top{r} t
)"""
        )
    chain = ",\n".join(rounds)
    return f"""words AS (
  SELECT tok AS w, count(*) AS cnt FROM (
    SELECT unnest({TH.sql_tokens('text')}) AS tok FROM documents
  ) WHERE len(tok) > 0 GROUP BY tok
),
vocab0 AS (
  SELECT {keep}cnt,
         list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS syms
  FROM words
),
{chain}"""


def _sql_bpe_train() -> str:
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, a, b, freq FROM top{r}"
        for r in range(TA.BPE_TRAIN_MERGES)
    )
    return f"""
WITH {_bpe_unrolled_ctes(carry_w=False)}
{finals}"""


def _sql_bpe_encode() -> str:
    last = TA.BPE_TRAIN_MERGES
    return f"""
WITH {_bpe_unrolled_ctes(carry_w=True)},
enc AS (SELECT w, len(syms) AS n_sym FROM vocab{last}),
tok AS (
  SELECT doc_id, unnest({TH.sql_tokens('text')}) AS w FROM documents
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(length(w)) AS BIGINT) AS n_chars,
       CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
       (1000000 * CAST(sum(n_sym) AS BIGINT))
         // CAST(sum(length(w)) AS BIGINT) AS compression_ppm
FROM tok JOIN enc USING (w)
WHERE len(w) > 0
GROUP BY doc_id"""


def q_profile(spark, sf_dir):
    return CUR.profile_table(_docs(spark, sf_dir))


def _sql_profile() -> str:
    selects = [
        "SELECT '*' AS col, CAST(0 AS BIGINT) AS n_nulls,"
        " count(*) AS n_distinct FROM documents"
    ]
    for c in CUR.PROFILE_COLS:
        selects.append(
            f"SELECT '{c}', count(CASE WHEN {c} IS NULL THEN 1 END),"
            f" count(DISTINCT {c}) FROM documents"
        )
    return "\nUNION ALL\n".join(selects)


def q_vocab_growth(spark, sf_dir):
    return TA.vocab_growth(_docs(spark, sf_dir))


# --- round-5 additions: winnowing, repeated spans, retention sweep --------


def q_winnow_fingerprints(spark, sf_dir):
    return TA.winnow_fingerprints(_docs(spark, sf_dir))


def q_winnow_matches(spark, sf_dir):
    return TA.winnow_matches(_docs(spark, sf_dir))


def q_repeated_spans(spark, sf_dir):
    return TA.repeated_ngram_spans(_docs(spark, sf_dir))


def q_quality_sweep(spark, sf_dir):
    return CUR.quality_retention_sweep(_docs(spark, sf_dir))


DELTA_MOD = 10  # doc_id % DELTA_MOD == 0 -> stand-in incoming crawl drop


def q_incremental_dedup(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return DD.incremental_dedup(
        docs.filter(F.col("doc_id") % DELTA_MOD != 0),
        docs.filter(F.col("doc_id") % DELTA_MOD == 0),
        threshold=JACCARD_THRESHOLD,
    )


def q_contamination_score(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return DD.contamination_score(
        docs.filter(F.col("doc_id") % EVAL_MOD != 0),
        docs.filter(F.col("doc_id") % EVAL_MOD == 0),
    )


def _sql_incremental_dedup() -> str:
    mh_exprs = ",\n         ".join(
        f"{TH.sql_minhash('shl', a, b)} AS mh{i}"
        for i, (a, b) in enumerate(TH.MINHASH_AB)
    )
    band_keys = ", ".join(
        "concat_ws(':', '{b}', {cols})".format(
            b=band,
            cols=", ".join(
                f"mh{band * TH.LSH_ROWS + r}" for r in range(TH.LSH_ROWS)
            ),
        )
        for band in range(TH.LSH_BANDS)
    )
    t = JACCARD_THRESHOLD
    return f"""
WITH {_TOKS_CTE}, {_SHINGLE_CTE},
sig AS (
  SELECT doc_id,
         {mh_exprs}
  FROM sh
),
bands AS (
  SELECT doc_id, unnest([{band_keys}]) AS band_key FROM sig
),
cand AS (
  SELECT DISTINCT d.doc_id AS delta_doc_id, b.doc_id AS base_doc_id
  FROM bands d JOIN bands b ON d.band_key = b.band_key
  WHERE d.doc_id % {DELTA_MOD} = 0 AND b.doc_id % {DELTA_MOD} != 0
),
ex AS (
  SELECT c.delta_doc_id, c.base_doc_id,
         len(list_intersect(a.shl, b.shl)) AS n_common,
         len(a.shl) AS n_d, len(b.shl) AS n_b
  FROM cand c
  JOIN sh a ON c.delta_doc_id = a.doc_id
  JOIN sh b ON c.base_doc_id = b.doc_id
),
jc AS (
  SELECT delta_doc_id, base_doc_id,
         n_common / CAST(n_d + n_b - n_common AS DOUBLE) AS jaccard
  FROM ex
)
SELECT delta_doc_id, base_doc_id, {TH.sql_quantized6('jaccard')} AS jaccard
FROM jc WHERE jaccard >= {t}"""


def _sql_contamination_score() -> str:
    return f"""
WITH {_TOKS_CTE}, {_SHINGLE_CTE},
tp AS (
  SELECT doc_id, unnest(shl) AS h FROM sh WHERE doc_id % {EVAL_MOD} != 0
),
ev AS (
  SELECT DISTINCT h FROM (
    SELECT unnest(shl) AS h FROM sh WHERE doc_id % {EVAL_MOD} = 0
  )
),
shared AS (
  SELECT doc_id, count(*) AS n_shared FROM tp JOIN ev USING (h) GROUP BY doc_id
),
sizes AS (
  SELECT doc_id, CAST(len(shl) AS BIGINT) AS n_shingles
  FROM sh WHERE doc_id % {EVAL_MOD} != 0
)
SELECT s.doc_id, s.n_shingles,
       CAST(coalesce(sh2.n_shared, 0) AS BIGINT) AS n_shared,
       CAST((coalesce(sh2.n_shared, 0) * 1000000) // s.n_shingles AS BIGINT)
         AS shared_ppm
FROM sizes s LEFT JOIN shared sh2 ON s.doc_id = sh2.doc_id"""


def q_pq_codes(spark, sf_dir):
    return SIM.pq_codes(_emb(spark, sf_dir))


def q_pq_topk(spark, sf_dir):
    return SIM.pq_topk(_emb(spark, sf_dir), _emb_queries(spark, sf_dir), k=3)


def q_token_budget(spark, sf_dir):
    return CUR.token_budget_plan(_docs(spark, sf_dir))


def _pq_ctes() -> str:
    """Shared PQ CTE chain through ``codes`` (vec_id, subspace, code) —
    mirrors similarity.pq_codebook/pq_codes (deterministic first-K
    seeds, integer-micro distances, lowest-code tiebreak)."""
    m, sub, k = SIM.PQ_M, SIM.PQ_SUB, SIM.PQ_K
    d2m = (
        "CAST(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {sub} + 1), "
        "j -> (sub[j] - centroid[j]) * (sub[j] - centroid[j]))), "
        "(a, x) -> a + x) * 1e6) AS BIGINT)"
    )
    return f"""{_EMB_CTE},
ms AS (SELECT CAST(unnest(range({m})) AS BIGINT) AS subspace),
seeds AS (
  SELECT v, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT {k})
),
cb AS (
  SELECT code, subspace,
         list_slice(v, subspace * {sub} + 1, subspace * {sub} + {sub}) AS centroid
  FROM seeds, ms
),
subs AS (
  SELECT vec_id, subspace,
         list_slice(v, subspace * {sub} + 1, subspace * {sub} + {sub}) AS sub
  FROM e, ms
),
pqscored AS (
  SELECT vec_id, s.subspace, cb.code, {d2m} AS d2m
  FROM subs s JOIN cb ON s.subspace = cb.subspace
),
codes AS (
  SELECT vec_id, subspace, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
              ORDER BY d2m, code) AS rn
    FROM pqscored
  ) WHERE rn = 1
)"""


def _sql_pq_codes() -> str:
    return f"""
WITH {_pq_ctes()}
SELECT vec_id, subspace, code FROM codes"""


def _sql_pq_topk() -> str:
    return f"""
WITH {_pq_ctes()},
dtab AS (
  SELECT vec_id AS query_id, subspace, code, d2m AS d2_micro
  FROM pqscored WHERE vec_id % {QUERY_MOD} = 0
),
adc AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         CAST(sum(d2_micro) AS BIGINT) AS adc_micro
  FROM codes c
  JOIN dtab d ON c.subspace = d.subspace AND c.code = d.code
  WHERE d.query_id <> c.vec_id
  GROUP BY 1, 2
),
r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY adc_micro, neighbor_id) AS BIGINT) AS rank
  FROM adc
)
SELECT query_id, rank, neighbor_id, adc_micro FROM r WHERE rank <= 3"""


def q_pq_distortion(spark, sf_dir):
    return SIM.pq_distortion(_emb(spark, sf_dir))


def _sql_pq_distortion() -> str:
    return f"""
WITH {_pq_ctes()},
best AS (
  SELECT vec_id, subspace, d2m FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
              ORDER BY d2m, code) AS rn
    FROM pqscored
  ) WHERE rn = 1
)
SELECT subspace, CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(d2m) AS BIGINT) AS sum_d2_micro,
       CAST(sum(d2m) // count(*) AS BIGINT) AS mean_d2_micro,
       CAST(max(d2m) AS BIGINT) AS max_d2_micro
FROM best GROUP BY subspace"""


def q_temperature_mix(spark, sf_dir):
    return CUR.temperature_mix_plan(_docs(spark, sf_dir))


def _sql_temperature_mix() -> str:
    b = CUR.BUDGET_PERMILLE
    tau = CUR.MIX_TEMPERATURE_MILLI / 1000.0
    return f"""
WITH d AS (
  SELECT source, len({TH.sql_tokens('text')}) AS n_toks FROM documents
),
per_source AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         CAST(round(pow(CAST(sum(n_toks) AS DOUBLE), {tau}) * 1e6)
              AS BIGINT) AS weight_micro
  FROM d GROUP BY source
),
t AS (SELECT CAST(sum(weight_micro) AS BIGINT) AS w_total,
             CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens
      FROM per_source)
SELECT source, n_docs, n_tokens, weight_micro,
       (1000000 * weight_micro) // w_total AS share_ppm,
       ((corpus_tokens * {b} // 1000) * weight_micro) // w_total
         AS target_tokens,
       (((corpus_tokens * {b} // 1000) * weight_micro) // w_total * 1000)
         // n_tokens AS epochs_milli
FROM per_source CROSS JOIN t"""


def _sql_token_budget() -> str:
    b = CUR.BUDGET_PERMILLE
    return f"""
WITH d AS (
  SELECT source, len({TH.sql_tokens('text')}) AS n_toks FROM documents
),
per_source AS (
  SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
  FROM d GROUP BY source
),
t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens,
             count(*) AS n_sources FROM per_source)
SELECT source, n_docs, n_tokens,
       CAST(corpus_tokens * {b} // 1000 // n_sources AS BIGINT) AS target_tokens,
       CAST((corpus_tokens * {b} // 1000 // n_sources) * 1000 // n_tokens
            AS BIGINT) AS epochs_milli
FROM per_source, t"""


def _sql_kgram_list(th_col: str, k: int) -> str:
    """Ordered (duplicates kept) k-gram rolling hashes over a stored
    token-hash list — the non-distinct sibling of sql_shingle_hashes."""
    acc = f"coalesce({th_col}[i], 0)"
    for j in range(1, k):
        acc = f"(({acc}) * {TH.DOC_B} + coalesce({th_col}[i+{j}], 0)) % {TH.HASH_P}"
    return (
        f"list_transform(range(1, greatest(len({th_col}) - {k - 1}, 1) + 1), "
        f"i -> {acc})"
    )


def _winnow_ctes() -> str:
    k, w = TA.WINNOW_K, TA.WINNOW_W
    return f"""{_TOKS_CTE},
th AS (
  SELECT doc_id, list_transform(t, tok -> {TH.sql_token_hash('tok')}) AS thl
  FROM toks
),
kg AS (SELECT doc_id, {_sql_kgram_list('thl', k)} AS kh FROM th),
fp AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, greatest(len(kh) - {w - 1}, 1) + 1),
                   i -> list_min(kh[i:i+{w - 1}]))
  )) AS fp_hash
  FROM kg
)"""


def _sql_winnow_fingerprints() -> str:
    return f"""
WITH {_winnow_ctes()}
SELECT doc_id, fp_hash FROM fp"""


def _sql_winnow_matches() -> str:
    return f"""
WITH {_winnow_ctes()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {TA.WINNOW_MIN_SHARED}"""


def _sql_repeated_spans() -> str:
    n = TA.SPAN_N
    return f"""
WITH {_TOKS_CTE},
th AS (
  SELECT doc_id, list_transform(t, tok -> {TH.sql_token_hash('tok')}) AS thl
  FROM toks
),
posts AS (
  SELECT doc_id, unnest({_sql_kgram_list('thl', n)}) AS gram_hash FROM th
)
SELECT gram_hash, count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occurrences
FROM posts GROUP BY gram_hash
HAVING count(DISTINCT doc_id) >= {TA.SPAN_MIN_DOCS}"""


def _sql_quality_sweep() -> str:
    en = ", ".join(f"'{s}'" for s in TA.STOPWORDS["en"])
    b = CUR.SWEEP_BUCKET_MILLI
    return f"""
WITH d AS (
  SELECT doc_id, {TH.sql_tokens('text')} AS t FROM documents
),
per_doc AS (
  SELECT doc_id, len(t) AS n_tokens,
         (((len(list_filter(t, x -> x IN ({en}))) * 1000) // len(t)) // {b})
           * {b} AS bucket_milli
  FROM d
),
buckets AS (
  SELECT bucket_milli, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
  FROM per_doc GROUP BY bucket_milli
)
SELECT bucket_milli, n_docs, n_tokens,
       CAST(sum(n_docs) OVER w AS BIGINT) AS cum_docs_ge,
       CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens_ge
FROM buckets
WINDOW w AS (ORDER BY bucket_milli DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""


def _sql_vocab_growth() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({TH.sql_tokens('text')}) AS t FROM documents
),
first_seen AS (
  SELECT doc_id, count(*) AS n_new_terms FROM (
    SELECT t, min(doc_id) AS doc_id FROM tok GROUP BY t
  ) GROUP BY doc_id
),
per_doc AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY doc_id),
base AS (
  SELECT p.doc_id, p.n_tokens,
         CAST(coalesce(f.n_new_terms, 0) AS BIGINT) AS n_new_terms
  FROM per_doc p LEFT JOIN first_seen f USING (doc_id)
)
SELECT doc_id, n_tokens, n_new_terms,
       CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
       CAST(sum(n_new_terms) OVER w AS BIGINT) AS cum_vocab
FROM base
WINDOW w AS (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""




# ---------------------------------------------------------------------------
# Continuation: cross-source near-dup provenance matrix.
# ---------------------------------------------------------------------------


def q_source_dup_matrix(spark, sf_dir):
    return DD.cross_source_dup_matrix(
        _docs(spark, sf_dir), threshold=JACCARD_THRESHOLD
    )


def _sql_source_dup_matrix() -> str:
    jq = TH.sql_quantized6("jaccard")
    return f"""
WITH {_minhash_inter_ctes()}, {_jaccard_ctes('inter')},
pairs AS (
  SELECT doc_a, doc_b, CAST(round(({jq}) * 1e6) AS BIGINT) AS j_ppm
  FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
),
lab AS (
  SELECT least(da.source, db.source) AS src_lo,
         greatest(da.source, db.source) AS src_hi, j_ppm
  FROM pairs JOIN documents da ON doc_a = da.doc_id
             JOIN documents db ON doc_b = db.doc_id
)
SELECT src_lo, src_hi, count(*) AS n_pairs,
       CAST(sum(j_ppm) AS BIGINT) AS sum_jaccard_ppm
FROM lab GROUP BY src_lo, src_hi"""


def q_length_weighted_sample(spark, sf_dir):
    return CUR.length_weighted_sample_summary(_docs(spark, sf_dir))


def _sql_length_weighted_sample() -> str:
    h = TH.sql_token_hash("concat('w:', CAST(doc_id AS VARCHAR))")
    mod = CUR.WEIGHTED_SAMPLE_MOD
    cap = CUR.WEIGHTED_SAMPLE_CAP_CHARS
    return f"""
WITH d AS (
  SELECT source, n_chars,
         (({h}) % {mod}) <
           least(CAST({mod} AS BIGINT),
                 (CAST(n_chars AS BIGINT) * {mod}) // {cap}) AS keep
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT)
         AS sum_chars_sampled
FROM d GROUP BY source"""


def q_span_coverage(spark, sf_dir):
    return TA.repeated_span_coverage(_docs(spark, sf_dir))


def _sql_span_coverage() -> str:
    n, md = TA.SPAN_N, TA.SPAN_MIN_DOCS
    return f"""
WITH {_TOKS_CTE},
th AS (
  SELECT doc_id, list_transform(t, tok -> {TH.sql_token_hash('tok')}) AS thl,
         len(t) AS n_tokens
  FROM toks
),
kg AS (SELECT doc_id, n_tokens, {_sql_kgram_list('thl', n)} AS kh FROM th),
posts AS (
  SELECT doc_id, n_tokens, unnest(kh) AS gram_hash,
         unnest(range(1, len(kh) + 1)) AS p
  FROM kg
),
freq AS (
  SELECT gram_hash FROM posts
  GROUP BY gram_hash HAVING count(DISTINCT doc_id) >= {md}
),
cov AS (
  SELECT DISTINCT doc_id, tpos FROM (
    SELECT doc_id,
           unnest(range(p, least(p + {n} - 1, n_tokens) + 1)) AS tpos
    FROM posts JOIN freq USING (gram_hash)
  )
),
ncov AS (SELECT doc_id, count(*) AS n_covered FROM cov GROUP BY doc_id)
SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(coalesce(n_covered, 0) AS BIGINT) AS n_covered,
       CAST((coalesce(n_covered, 0) * 1000000) // t.n_tokens AS BIGINT)
         AS covered_ppm
FROM th t LEFT JOIN ncov ON t.doc_id = ncov.doc_id"""


def q_weighted_jaccard(spark, sf_dir):
    return DD.weighted_jaccard_pairs(_docs(spark, sf_dir))


def _sql_weighted_jaccard() -> str:
    cap, scale, thr = DD.WJAC_DF_CAP, DD.WJAC_W_SCALE, DD.WJAC_THRESHOLD_PPM
    return f"""
WITH {_TOKS_CTE}, {_SHINGLE_CTE},
posts AS (SELECT doc_id, unnest(shl) AS h FROM sh),
dfreq AS (SELECT h, count(*) AS df FROM posts GROUP BY h),
w AS (
  SELECT h, CAST({scale} AS BIGINT) // df AS w
  FROM dfreq WHERE df <= {cap}
),
wp AS (SELECT doc_id, p.h, w FROM posts p JOIN w USING (h)),
dw AS (SELECT doc_id, CAST(sum(w) AS BIGINT) AS wtot FROM wp GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(a.w) AS BIGINT) AS w_inter
  FROM wp a JOIN wp b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST((w_inter * 1000000) // (wa.wtot + wb.wtot - w_inter) AS BIGINT)
         AS wjac_ppm
FROM inter
JOIN dw wa ON doc_a = wa.doc_id
JOIN dw wb ON doc_b = wb.doc_id
WHERE (w_inter * 1000000) // (wa.wtot + wb.wtot - w_inter) >= {thr}"""


def q_wav_features(spark, sf_dir):
    # Fused synth+decode: one Python eval node (see multimodal.py
    # "Stage fusion") — identical rows, half the worker pool, payload
    # bytes cross the Arrow boundary once instead of twice.
    return MM.wav_features_from_ids(_docs(spark, sf_dir))


def _sql_wav_features() -> str:
    # The oracle recomputes the features from the generative closed
    # form; Spark's side decodes the actual RIFF bytes — the hash
    # match proves the stdlib-wave decode is bit-exact.
    m, b = MM.WAV_SAMPLES_MOD, MM.WAV_BASE_SAMPLES
    return f"""
WITH ex AS (
  SELECT doc_id, unnest(range(0, {b} + doc_id % {m})) AS i
  FROM documents
),
s AS (
  SELECT doc_id, i,
         ((doc_id * 31 + i * 17) % 2048) - 1024 AS v,
         CASE WHEN i >= 1
              THEN ((doc_id * 31 + (i - 1) * 17) % 2048) - 1024 END AS vp
  FROM ex
)
SELECT doc_id,
       CAST({b} + doc_id % {m} AS BIGINT) AS n_samples,
       CAST({MM.WAV_SAMPLE_RATE} AS BIGINT) AS sample_rate,
       CAST(sum(v * v) AS BIGINT) AS sum_sq,
       CAST(max(abs(v)) AS BIGINT) AS peak_abs,
       CAST(sum(CASE WHEN vp IS NOT NULL AND v * vp < 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_zero_cross
FROM s GROUP BY doc_id"""


def q_wav_frame_energy(spark, sf_dir):
    return MM.wav_frame_energy_from_ids(_docs(spark, sf_dir))


def _sql_wav_frame_energy() -> str:
    # Closed-form recompute (see _sql_wav_features): Spark decodes the
    # real RIFF bytes and frames them; the oracle regenerates samples
    # and groups by i // frame_len.
    m, b = MM.WAV_SAMPLES_MOD, MM.WAV_BASE_SAMPLES
    fl, floor_sq = MM.WAV_FRAME_LEN, MM.WAV_SILENCE_SQ
    return f"""
WITH ex AS (
  SELECT doc_id, unnest(range(0, {b} + doc_id % {m})) AS i
  FROM documents
),
s AS (
  SELECT doc_id, i // {fl} AS frame_idx,
         ((doc_id * 31 + i * 17) % 2048) - 1024 AS v
  FROM ex
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(count(*) AS BIGINT) AS frame_len,
       CAST(sum(v * v) AS BIGINT) AS sum_sq,
       CAST(max(abs(v)) AS BIGINT) AS peak_abs,
       sum(v * v) < {floor_sq} * count(*) AS is_silent
FROM s GROUP BY doc_id, frame_idx"""


def q_image_dup_stats(spark, sf_dir):
    # the registered form is the bounded per-radius aggregate: the raw
    # pair list is quadratic in duplicate-class sizes (the synthetic
    # ramp images are perceptually flat, so classes are large) and a
    # driver collect of it would be the anti-pattern this repo bans
    pairs = MM.image_dup_pairs_from_ids(_docs(spark, sf_dir))
    return pairs.groupBy(F.col("hamming").cast("long").alias("hamming")).agg(
        F.count("*").cast("long").alias("n_pairs"),
    )


def _sql_image_dup_pairs() -> str:
    # Closed-form pixel recompute (see _sql_bmp_features): Spark
    # decodes real BMP bytes to the luma grid; the oracle regenerates
    # pixels and mirrors the dHash/banding integer arithmetic.
    g = MM.DHASH_GRID
    mask = (1 << MM.DHASH_BAND_BITS) - 1
    band_exprs = ", ".join(
        f"({band << MM.DHASH_BAND_BITS}"
        f" + ((dhash >> {band * MM.DHASH_BAND_BITS}) & {mask}))"
        for band in range(MM.DHASH_BANDS)
    )
    return f"""
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h FROM documents
),
grid AS (
  SELECT doc_id, gx.gx, gy.gy,
         ((doc_id + 3 * ((gx.gx * w) // {g}) + 7 * ((gy.gy * h) // {g})) % 256
          + (doc_id * 5 + ((gx.gx * w) // {g})) % 256
          + (((gy.gy * h) // {g}) * 11 + doc_id) % 256) // 3 AS luma
  FROM dims,
       LATERAL (SELECT unnest(range(0, {g})) AS gx) gx,
       LATERAL (SELECT unnest(range(0, {g})) AS gy) gy
),
bits AS (
  SELECT a.doc_id,
         CAST(coalesce(sum(CASE WHEN b.luma > a.luma
              THEN (CAST(1 AS BIGINT) << (a.gy * {g - 1} + a.gx))
              ELSE 0 END), 0) AS BIGINT) AS dhash
  FROM grid a
  JOIN grid b ON b.doc_id = a.doc_id AND b.gy = a.gy AND b.gx = a.gx + 1
  GROUP BY a.doc_id
),
bandsx AS (
  SELECT doc_id, dhash, unnest([{band_exprs}]) AS band_key FROM bits
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bandsx x JOIN bandsx y
    ON x.band_key = y.band_key AND x.doc_id < y.doc_id
)
SELECT CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM cand
JOIN bits a ON doc_a = a.doc_id
JOIN bits b ON doc_b = b.doc_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= {MM.DHASH_MAX_HAMMING}
GROUP BY 1"""


def q_bmp_features(spark, sf_dir):
    return MM.bmp_features_from_ids(_docs(spark, sf_dir))


def _sql_bmp_features() -> str:
    return """
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h FROM documents
),
px AS (
  SELECT doc_id, w, h, x.x, y.y,
         (doc_id + 3 * x.x + 7 * y.y) % 256 AS b,
         (doc_id * 5 + x.x) % 256 AS g,
         (y.y * 11 + doc_id) % 256 AS r
  FROM dims,
       LATERAL (SELECT unnest(range(0, w)) AS x) x,
       LATERAL (SELECT unnest(range(0, h)) AS y) y
)
SELECT doc_id,
       CAST(min(w) AS BIGINT) AS width,
       CAST(min(h) AS BIGINT) AS height,
       CAST(sum(b) AS BIGINT) AS sum_b,
       CAST(sum(g) AS BIGINT) AS sum_g,
       CAST(sum(r) AS BIGINT) AS sum_r,
       CAST(sum((x + w * y) * b) AS BIGINT) AS pos_checksum
FROM px GROUP BY doc_id"""


# ---------------------------------------------------------------------------
# Round-5 continuation: CCNet perplexity buckets + ANN recall audit
# ---------------------------------------------------------------------------


def q_perplexity_buckets(spark, sf_dir):
    return TA.perplexity_buckets(_docs(spark, sf_dir))


def q_recall_audit(spark, sf_dir):
    return SIM.ann_recall_audit(
        _emb(spark, sf_dir), _emb_queries(spark, sf_dir), k=3
    )


def _sql_perplexity_buckets() -> str:
    return f"""
WITH {_TOKS_CTE},
term_rows AS (SELECT doc_id, unnest(t) AS term FROM toks),
ctf AS (SELECT term, count(*) AS ctf FROM term_rows GROUP BY term),
tot AS (SELECT count(*) AS total_tokens FROM term_rows),
perdoc AS (
  SELECT doc_id, count(*) AS n_tokens,
         CAST(round(avg(ln(ctf / CAST(total_tokens AS DOUBLE))) * 1e6)
              AS BIGINT) AS lp_micro
  FROM term_rows JOIN ctf USING (term) CROSS JOIN tot
  GROUP BY doc_id
),
ranked AS (
  SELECT d.doc_id, d.lang, p.n_tokens, p.lp_micro,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY p.lp_micro DESC, d.doc_id) AS rn,
         count(*) OVER (PARTITION BY d.lang) AS n
  FROM documents d JOIN perdoc p ON d.doc_id = p.doc_id
)
SELECT doc_id, lang, n_tokens, lp_micro,
       CASE WHEN rn * 3 <= n THEN 'head'
            WHEN rn * 3 <= 2 * n THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM ranked"""


def _sql_recall_audit(k: int = 3) -> str:
    return f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({_sql_cosine_topk(k)}) x),
approx AS (SELECT query_id, neighbor_id, 1 AS hit FROM ({_sql_ivf_topk(k)}) i)
SELECT e.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(coalesce(a.hit, 0)) AS BIGINT) AS n_hits,
       (1000 * CAST(sum(coalesce(a.hit, 0)) AS BIGINT)) // {k} AS recall_milli
FROM exact e LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id"""


def q_bmp_resize_features(spark, sf_dir):
    # decode -> NN resample -> re-encode -> decode again: the feature
    # row attests every byte of both codec directions.
    # Fused into ONE Python eval node (was a 3-deep mapInPandas chain:
    # 96 concurrent workers cold; see multimodal.py "Stage fusion").
    return MM.bmp_resize_features_from_ids(_docs(spark, sf_dir))


def _sql_bmp_resize_features() -> str:
    tw, th = MM.BMP_RESIZE_W, MM.BMP_RESIZE_H
    return f"""
WITH dims AS (
  SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h FROM documents
),
px AS (
  SELECT doc_id, x.x AS tx, y.y AS ty,
         (doc_id + 3 * ((x.x * w) // {tw}) + 7 * ((y.y * h) // {th})) % 256 AS b,
         (doc_id * 5 + ((x.x * w) // {tw})) % 256 AS g,
         (((y.y * h) // {th}) * 11 + doc_id) % 256 AS r
  FROM dims,
       LATERAL (SELECT unnest(range(0, {tw})) AS x) x,
       LATERAL (SELECT unnest(range(0, {th})) AS y) y
)
SELECT doc_id,
       CAST({tw} AS BIGINT) AS width,
       CAST({th} AS BIGINT) AS height,
       CAST(sum(b) AS BIGINT) AS sum_b,
       CAST(sum(g) AS BIGINT) AS sum_g,
       CAST(sum(r) AS BIGINT) AS sum_r,
       CAST(sum((tx + {tw} * ty) * b) AS BIGINT) AS pos_checksum
FROM px GROUP BY doc_id"""


def q_bpe_encode(spark, sf_dir):
    return TA.bpe_encode(_docs(spark, sf_dir))


def q_gopher_filter(spark, sf_dir):
    return TA.gopher_filter(_docs(spark, sf_dir))


def _sql_gopher_filter() -> str:
    stop = ", ".join(f"'{w}'" for w in TA.STOPWORDS["en"])
    return f"""
WITH {_TOKS_CTE},
base AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(list_sum(list_prepend(0, list_transform(t, x -> length(x))))
              AS BIGINT) AS sum_len,
         CAST(len(list_intersect(t, [{stop}])) AS BIGINT) AS n_stopwords,
         {TH.sql_shingles('t', 3)} AS g3,
         {TH.sql_shingles('t', 2)} AS g2
  FROM toks
),
b2 AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_tokens > 0 THEN (100 * sum_len) // n_tokens
              ELSE CAST(0 AS BIGINT) END AS mean_len_centi,
         n_stopwords,
         CASE WHEN len(g3) > 0
              THEN ((CAST(len(g3) AS BIGINT) - len(list_distinct(g3)))
                    * 1000000) // len(g3)
              ELSE CAST(0 AS BIGINT) END AS dup_3gram_ppm,
         g2
  FROM base
),
t2 AS (
  SELECT doc_id, CAST((max(c) * 1000000) // sum(c) AS BIGINT) AS top_2gram_ppm
  FROM (
    SELECT doc_id, gram, count(*) AS c
    FROM (SELECT doc_id, unnest(g2) AS gram FROM base)
    GROUP BY doc_id, gram
  ) GROUP BY doc_id
),
j AS (
  SELECT b2.doc_id, n_tokens, mean_len_centi, dup_3gram_ppm,
         CAST(coalesce(t2.top_2gram_ppm, 0) AS BIGINT) AS top_2gram_ppm,
         n_stopwords
  FROM b2 LEFT JOIN t2 ON b2.doc_id = t2.doc_id
),
v AS (
  SELECT *,
         CAST(n_tokens < {TA.GOPHER_MIN_WORDS}
              OR n_tokens > {TA.GOPHER_MAX_WORDS} AS BIGINT)
         + CAST(mean_len_centi < {TA.GOPHER_MIN_MEAN_LEN_CENTI}
                OR mean_len_centi > {TA.GOPHER_MAX_MEAN_LEN_CENTI} AS BIGINT)
         + CAST(dup_3gram_ppm > {TA.GOPHER_MAX_DUP3_PPM} AS BIGINT)
         + CAST(top_2gram_ppm > {TA.GOPHER_MAX_TOP2_PPM} AS BIGINT)
         + CAST(n_stopwords < {TA.GOPHER_MIN_DISTINCT_STOPWORDS} AS BIGINT)
           AS rules_failed
  FROM j
)
SELECT doc_id, n_tokens, mean_len_centi, dup_3gram_ppm, top_2gram_ppm,
       n_stopwords, rules_failed,
       CASE WHEN rules_failed = 0 THEN 'keep' ELSE 'drop' END AS verdict
FROM v"""


def q_wav_decimate_features(spark, sf_dir):
    # decode -> decimate -> re-encode -> decode again; features attest
    # both codec directions, as with mm_bmp_resize_features.
    return MM.wav_decimate_features_from_ids(_docs(spark, sf_dir))


def _sql_wav_decimate_features() -> str:
    m, b = MM.WAV_SAMPLES_MOD, MM.WAV_BASE_SAMPLES
    f = MM.WAV_DECIMATE_FACTOR
    return f"""
WITH ex AS (
  SELECT doc_id,
         unnest(range(0, ({b} + doc_id % {m} + {f} - 1) // {f})) AS i
  FROM documents
),
s AS (
  SELECT doc_id, i,
         ((doc_id * 31 + (i * {f}) * 17) % 2048) - 1024 AS v,
         CASE WHEN i >= 1
              THEN ((doc_id * 31 + ((i - 1) * {f}) * 17) % 2048) - 1024
         END AS vp
  FROM ex
)
SELECT doc_id,
       CAST(({b} + doc_id % {m} + {f} - 1) // {f} AS BIGINT) AS n_samples,
       CAST({MM.WAV_SAMPLE_RATE} // {f} AS BIGINT) AS sample_rate,
       CAST(sum(v * v) AS BIGINT) AS sum_sq,
       CAST(max(abs(v)) AS BIGINT) AS peak_abs,
       CAST(sum(CASE WHEN vp IS NOT NULL AND v * vp < 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_zero_cross
FROM s GROUP BY doc_id"""


def q_label_diversity(spark, sf_dir):
    return SIM.label_diversity(_emb(spark, sf_dir))


def _sql_label_diversity() -> str:
    return f"""
WITH {_EMB_CTE},
el AS (
  SELECT label, v FROM (
    SELECT e.vec_id, e.v, emb.label
    FROM e JOIN embeddings emb ON e.vec_id = emb.vec_id
  )
),
un AS (
  SELECT label,
         list_transform(v, x -> x / sqrt(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE), list_transform(v, y -> y * y)),
           (a, z) -> a + z))) AS u
  FROM el
  WHERE list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE), list_transform(v, y -> y * y)),
          (a, z) -> a + z) > 0
),
ex AS (
  SELECT label, d.d AS dim, u[d.d] AS x
  FROM un, LATERAL (SELECT unnest(range(1, {SIM.EMB_DIM} + 1)) AS d) d
),
sums AS (SELECT label, dim, sum(x) AS s FROM ex GROUP BY label, dim),
s2 AS (SELECT label, sum(s * s) AS s2 FROM sums GROUP BY label),
n AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vectors FROM un GROUP BY label)
SELECT n.label, n.n_vectors,
       {TH.sql_quantized6('CASE WHEN n.n_vectors > 1 THEN (s2.s2 - n.n_vectors) / (n.n_vectors * (n.n_vectors - 1)) END')}
         AS mean_pairwise_cosine
FROM n JOIN s2 ON n.label = s2.label"""


def q_tokenizer_fertility(spark, sf_dir):
    return TA.tokenizer_fertility(_docs(spark, sf_dir))


def _sql_tokenizer_fertility() -> str:
    return f"""
WITH enc0 AS ({_sql_bpe_encode()}),
lab AS (
  SELECT d.lang, e.n_words, e.n_chars, e.n_bpe_tokens
  FROM documents d JOIN enc0 e ON d.doc_id = e.doc_id
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       CAST(sum(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       (1000 * CAST(sum(n_bpe_tokens) AS BIGINT))
         // CAST(sum(n_words) AS BIGINT) AS fertility_milli,
       (100 * CAST(sum(n_chars) AS BIGINT))
         // CAST(sum(n_bpe_tokens) AS BIGINT) AS chars_per_token_centi
FROM lab GROUP BY lang"""


def q_label_outliers(spark, sf_dir):
    return SIM.label_outliers(_emb(spark, sf_dir))


def _sql_label_outliers() -> str:
    return f"""
WITH {_EMB_CTE},
lab AS (
  SELECT e.vec_id, emb.label, e.v
  FROM e JOIN embeddings emb ON e.vec_id = emb.vec_id
),
ex AS (
  SELECT vec_id, label, d.d AS dim, v[d.d] AS x
  FROM lab, LATERAL (SELECT unnest(range(1, {SIM.EMB_DIM} + 1)) AS d) d
),
cent AS (
  SELECT label, dim, {TH.sql_quantized6('avg(x)')} AS centroid
  FROM ex GROUP BY label, dim
),
d2 AS (
  SELECT vec_id, ex.label,
         {TH.sql_quantized6('sum((x - centroid) * (x - centroid))')} AS d2
  FROM ex JOIN cent ON ex.label = cent.label AND ex.dim = cent.dim
  GROUP BY vec_id, ex.label
),
stats AS (
  SELECT label, {TH.sql_quantized6('avg(d2)')} AS mean_d2,
         {TH.sql_quantized6('stddev_pop(d2)')} AS std_d2
  FROM d2 GROUP BY label
)
SELECT vec_id, d2.label, d2,
       d2 > mean_d2 + 2 * std_d2 AS is_outlier
FROM d2 JOIN stats ON d2.label = stats.label"""


def q_curation_v2(spark, sf_dir):
    return CUR.curation_v2(_docs(spark, sf_dir))


def _sql_curation_v2() -> str:
    return f"""
WITH canon AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
           ) AS canonical_id
    FROM documents
  ) WHERE doc_id = canonical_id
),
g AS (
  SELECT doc_id, n_tokens FROM ({_sql_gopher_filter()})
  WHERE verdict = 'keep'
),
p AS (
  SELECT doc_id, lang, ppl_bucket, lp_micro
  FROM ({_sql_perplexity_buckets()})
  WHERE ppl_bucket <> 'tail'
)
SELECT c.doc_id, p.lang, p.ppl_bucket, g.n_tokens, p.lp_micro
FROM canon c
JOIN g ON c.doc_id = g.doc_id
JOIN p ON c.doc_id = p.doc_id"""


def q_dedup_funnel(spark, sf_dir):
    return DD.dedup_funnel(_docs(spark, sf_dir), threshold=JACCARD_THRESHOLD)


def _sql_dedup_funnel() -> str:
    return f"""
WITH raw AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
ex AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ({_sql_exact_dedup()})),
near AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM ({_sql_dup_clusters()})
  WHERE is_canonical
),
funnel AS (
  SELECT CAST(0 AS BIGINT) AS stage_ord, 'raw' AS stage, n FROM raw
  UNION ALL
  SELECT 1, 'exact_dedup', n FROM ex
  UNION ALL
  SELECT 2, 'near_dup_canonical', n FROM near
)
SELECT stage_ord, stage, n AS n_docs,
       (n * CAST(1000000 AS BIGINT)) // nullif((SELECT n FROM raw), 0) AS retained_ppm
FROM funnel"""


# ---------------------------------------------------------------------------
# Round-7 addition: DSIR importance weights (Xie et al. 2023)
# ---------------------------------------------------------------------------


def q_dsir_weights(spark, sf_dir):
    return CUR.dsir_weights(_docs(spark, sf_dir))


def _sql_dsir_weights() -> str:
    B, n, tgt = CUR.DSIR_BUCKETS, CUR.DSIR_NGRAM, CUR.DSIR_TARGET_SOURCE
    q6 = TH.sql_quantized6("avg(lr)")
    return f"""
WITH dt AS (
  SELECT doc_id, source, {TH.sql_tokens('text')} AS t FROM documents
),
th AS (
  SELECT doc_id, (source = '{tgt}') AS is_t,
         list_transform(t, tok -> {TH.sql_token_hash('tok')}) AS thl
  FROM dt
),
b AS (
  SELECT doc_id, is_t,
         unnest({_sql_kgram_list('thl', n)}) % {B} AS bucket
  FROM th
),
stats AS (
  SELECT bucket,
         CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS t_cnt,
         CAST(count(*) AS BIGINT) AS r_cnt
  FROM b GROUP BY bucket
),
tot AS (
  SELECT CAST(sum(t_cnt) AS BIGINT) AS t_tot,
         CAST(sum(r_cnt) AS BIGINT) AS r_tot
  FROM stats
),
ratio AS (
  SELECT bucket,
         ln((t_cnt + 1) / CAST(t_tot + {B} AS DOUBLE))
       - ln((r_cnt + 1) / CAST(r_tot + {B} AS DOUBLE)) AS lr
  FROM stats CROSS JOIN tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       {q6} AS dsir_logratio_q6,
       ({q6} > 0) AS dsir_selected
FROM b JOIN ratio USING (bucket)
GROUP BY doc_id"""


def q_span_scrub(spark, sf_dir):
    return TA.span_scrub(_docs(spark, sf_dir))


def _sql_span_scrub() -> str:
    n, md = TA.SPAN_N, TA.SPAN_MIN_DOCS
    return f"""
WITH {_TOKS_CTE},
th AS (
  SELECT doc_id, t, list_transform(t, tok -> {TH.sql_token_hash('tok')}) AS thl,
         len(t) AS n_tokens
  FROM toks
),
kg AS (SELECT doc_id, n_tokens, {_sql_kgram_list('thl', n)} AS kh FROM th),
posts AS (
  SELECT doc_id, n_tokens, unnest(kh) AS gram_hash,
         unnest(range(1, len(kh) + 1)) AS p
  FROM kg
),
freq AS (
  SELECT gram_hash FROM posts
  GROUP BY gram_hash HAVING count(DISTINCT doc_id) >= {md}
),
cov AS (
  SELECT DISTINCT doc_id, tpos FROM (
    SELECT doc_id,
           unnest(range(p, least(p + {n} - 1, n_tokens) + 1)) AS tpos
    FROM posts JOIN freq USING (gram_hash)
  )
),
covl AS (SELECT doc_id, list(tpos) AS covp FROM cov GROUP BY doc_id),
kept AS (
  SELECT th.doc_id, th.n_tokens,
         list_filter(
           list_transform(range(1, len(t) + 1),
             i -> CASE WHEN NOT list_contains(coalesce(covp, []), i)
                       THEN t[i] END),
           x -> x IS NOT NULL) AS k
  FROM th LEFT JOIN covl ON th.doc_id = covl.doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(len(k) AS BIGINT) AS n_kept,
       coalesce(array_to_string(k, ' '), '') AS scrubbed_text
FROM kept"""


def q_silhouette(spark, sf_dir):
    return SIM.silhouette_audit(_emb(spark, sf_dir))


def _sql_silhouette() -> str:
    sil = "CASE WHEN b2 > 0 THEN (sqrt(b2) - sqrt(a2)) / sqrt(b2) ELSE 0.0 END"
    return f"""
WITH {_kmeans_ctes()},
ranked AS (
  SELECT vec_id, cluster, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
  FROM kscored
),
ab AS (
  SELECT a.vec_id, a.cluster, a.d2 AS a2, b.d2 AS b2
  FROM ranked a JOIN ranked b ON a.vec_id = b.vec_id
  WHERE a.rn = 1 AND b.rn = 2
)
SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors,
       {TH.sql_quantized6(f'avg({sil})')} AS mean_sil_q6
FROM ab GROUP BY cluster"""


def q_source_kl(spark, sf_dir):
    return TA.source_kl(_docs(spark, sf_dir))


def _sql_source_kl() -> str:
    return f"""
WITH dt AS (
  SELECT source, unnest({TH.sql_tokens('text')}) AS term FROM documents
),
st AS (SELECT source, term, count(*) AS cnt_st FROM dt GROUP BY source, term),
ct AS (SELECT term, CAST(sum(cnt_st) AS BIGINT) AS cnt_t FROM st GROUP BY term),
tots AS (SELECT source, CAST(sum(cnt_st) AS BIGINT) AS tot_s FROM st GROUP BY source),
totc AS (SELECT CAST(sum(cnt_t) AS BIGINT) AS tot_c FROM ct),
contrib AS (
  SELECT st.source, tot_s,
         CAST(round((cnt_st / CAST(tot_s AS DOUBLE))
              * ln((cnt_st / CAST(tot_s AS DOUBLE))
                   / (cnt_t / CAST(tot_c AS DOUBLE)))
              * 1e6) AS BIGINT) AS c_micro
  FROM st JOIN ct USING (term) JOIN tots USING (source) CROSS JOIN totc
)
SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
       CAST(min(tot_s) AS BIGINT) AS n_tokens,
       CAST(sum(c_micro) AS BIGINT) AS kl_micro
FROM contrib GROUP BY source"""


def q_ivf_probe_sweep(spark, sf_dir):
    return SIM.ivf_probe_sweep(
        _emb(spark, sf_dir), _emb_queries(spark, sf_dir), k=3
    )


def _sql_ivf_probe_sweep(k: int = 3) -> str:
    from math import comb

    bits = SIM.IVF_BITS
    radii = sorted(SIM.IVF_SWEEP_RADII)
    max_r = radii[-1]
    masks = SIM.probe_masks(bits, max_r)
    mask_list = ", ".join(f"xor(bucket, {m})" for m in masks)
    ham_list = ", ".join(str(bin(m).count("1")) for m in masks)
    radius_rows = ", ".join(
        f"({r}, {sum(comb(bits, i) for i in range(r + 1))})" for r in radii
    )
    return f"""
WITH {_EMB_CTE},
eb AS (SELECT vec_id, v, {_sql_bucket('v')} AS bucket FROM e),
qp AS (
  SELECT vec_id AS qid, v AS qv,
         unnest([{mask_list}]) AS q_bucket,
         unnest([{ham_list}]) AS ham
  FROM eb WHERE vec_id % {QUERY_MOD} = 0
),
scored AS (
  SELECT qid AS query_id, eb.vec_id AS neighbor_id, ham,
         {_DOT.replace('cv', 'eb.v')} / nullif({_NORM_Q} * {_NORM_C.replace('cv', 'eb.v')}, 0.0) AS cosine
  FROM eb JOIN qp ON eb.bucket = qp.q_bucket
  WHERE eb.vec_id <> qid
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qid AS query_id, e2.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY qid ORDER BY
             {_DOT.replace('cv', 'e2.v')} / nullif({_NORM_Q} * {_NORM_C.replace('cv', 'e2.v')}, 0.0) DESC,
             e2.vec_id) AS rank
    FROM e e2 CROSS JOIN (SELECT vec_id AS qid, v AS qv FROM e
                          WHERE vec_id % {QUERY_MOD} = 0) q2
    WHERE e2.vec_id <> qid
  ) WHERE rank <= {k}
),
radii(probe_radius, n_buckets_probed) AS (VALUES {radius_rows}),
approx AS (
  SELECT r.probe_radius, query_id, neighbor_id FROM (
    SELECT radii.probe_radius, query_id, neighbor_id,
           row_number() OVER (PARTITION BY radii.probe_radius, query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored JOIN radii ON scored.ham <= radii.probe_radius
  ) r WHERE rank <= {k}
)
SELECT CAST(radii.probe_radius AS BIGINT) AS probe_radius,
       CAST(radii.n_buckets_probed AS BIGINT) AS n_buckets_probed,
       CAST(count(*) AS BIGINT) AS n_exact_pairs,
       CAST(sum(CASE WHEN approx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST((1000 * sum(CASE WHEN approx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS recall_milli
FROM radii
CROSS JOIN exact
LEFT JOIN approx ON approx.probe_radius = radii.probe_radius
                AND approx.query_id = exact.query_id
                AND approx.neighbor_id = exact.neighbor_id
GROUP BY 1, 2"""


def q_dsir_resample(spark, sf_dir):
    return CUR.dsir_resample(_docs(spark, sf_dir))


def _sql_dsir_resample() -> str:
    ppm = CUR.DSIR_RESAMPLE_PPM
    return f"""
WITH w AS (
  SELECT doc_id,
         CAST(round(dsir_logratio_q6 * 1e6) AS BIGINT) AS w_micro
  FROM ({_sql_dsir_weights()}) dsw
),
k AS (
  SELECT CAST((count(*) * {ppm}) // 1000000 AS BIGINT) AS k FROM w
)
SELECT doc_id, w_micro AS dsir_w_micro FROM (
  SELECT doc_id, w_micro,
         row_number() OVER (ORDER BY w_micro DESC, doc_id) AS rn
  FROM w
) CROSS JOIN k WHERE rn <= k"""


# ---------------------------------------------------------------------------
# Round-8 addition: RRF hybrid retrieval fusion
# ---------------------------------------------------------------------------


def q_rrf_fusion(spark, sf_dir):
    from .operators import retrieval as RET

    return RET.rrf_fusion(
        _docs(spark, sf_dir), _emb(spark, sf_dir), _emb_queries(spark, sf_dir)
    )


def _sql_rrf_fusion() -> str:
    from .operators import retrieval as RET

    toks = TH.sql_tokens("text")
    k, list_k = RET.RRF_TOPK, RET.RRF_LIST_K
    rrf_k, scale, df_cap = RET.RRF_K, RET.RRF_SCALE, RET.RRF_DF_CAP
    return f"""
WITH {_EMB_CTE},
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % {QUERY_MOD} = 0),
dscored AS (
  SELECT qid AS query_id, e.vec_id AS doc_id, e.v AS cv, qv,
         {_DOT} / nullif({_NORM_Q} * {_NORM_C}, 0.0) AS cosine
  FROM e CROSS JOIN q
  WHERE e.vec_id <> qid
),
dense AS (
  SELECT query_id, doc_id, dense_rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, doc_id) AS dense_rank
    FROM dscored
  ) WHERE dense_rank <= {list_k}
),
posts AS (
  SELECT doc_id, unnest(list_distinct({toks})) AS tok FROM documents
),
posts_nz AS (SELECT doc_id, tok FROM posts WHERE tok <> ''),
tdf AS (SELECT tok, count(*) AS df FROM posts_nz GROUP BY tok),
tw AS (
  SELECT tok, CAST(1000000 // df AS BIGINT) AS w
  FROM tdf WHERE df <= {df_cap}
),
wp AS (SELECT doc_id, posts_nz.tok, w FROM posts_nz JOIN tw USING (tok)),
qp AS (SELECT doc_id AS query_id, tok, w FROM wp
       WHERE doc_id % {QUERY_MOD} = 0),
sparse AS (
  SELECT query_id, doc_id, sparse_rank FROM (
    SELECT qp.query_id, wp.doc_id,
           row_number() OVER (PARTITION BY qp.query_id
                              ORDER BY CAST(sum(wp.w) AS BIGINT) DESC,
                                       wp.doc_id) AS sparse_rank
    FROM wp JOIN qp USING (tok)
    WHERE wp.doc_id <> qp.query_id
    GROUP BY qp.query_id, wp.doc_id
  ) WHERE sparse_rank <= {list_k}
),
fused AS (
  SELECT coalesce(dense.query_id, sparse.query_id) AS query_id,
         coalesce(dense.doc_id, sparse.doc_id) AS doc_id,
         CAST(coalesce({scale} // ({rrf_k} + dense_rank), 0)
              + coalesce({scale} // ({rrf_k} + sparse_rank), 0)
              AS BIGINT) AS rrf_ppb,
         CAST(coalesce(dense_rank, 0) AS BIGINT) AS dense_rank,
         CAST(coalesce(sparse_rank, 0) AS BIGINT) AS sparse_rank
  FROM dense
  FULL OUTER JOIN sparse
    ON dense.query_id = sparse.query_id AND dense.doc_id = sparse.doc_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf_ppb,
       dense_rank, sparse_rank
FROM (
  SELECT query_id, doc_id, rrf_ppb, dense_rank, sparse_rank,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_ppb DESC, doc_id) AS rank
  FROM fused
) WHERE rank <= {k}"""


# ---------------------------------------------------------------------------
# Round-8 addition: cluster-balanced coreset sampling
# ---------------------------------------------------------------------------


def q_cluster_coreset(spark, sf_dir):
    return SIM.cluster_coreset(_emb(spark, sf_dir))


def _sql_cluster_coreset() -> str:
    quota = SIM.CORESET_QUOTA
    pick_hash = TH.sql_token_hash("'cs:' || CAST(vec_id AS VARCHAR)")
    return f"""
WITH {_kmeans_ctes()},
sel AS (
  SELECT cluster, vec_id, {TH.sql_quantized6('d2')} AS dist2,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY {pick_hash}, vec_id) AS pick_rank
  FROM kassign
)
SELECT cluster, CAST(pick_rank AS BIGINT) AS pick_rank, vec_id, dist2
FROM sel WHERE pick_rank <= {quota}"""


# ---------------------------------------------------------------------------
# Round-8 addition: DoReMi-style domain reweighting step
# ---------------------------------------------------------------------------


def q_doremi_reweight(spark, sf_dir):
    return CUR.doremi_reweight(_docs(spark, sf_dir))


def _sql_doremi_reweight() -> str:
    toks = TH.sql_tokens("text")
    eta = CUR.DOREMI_ETA_MILLI / 1000.0
    return f"""
WITH term_rows AS (
  SELECT source, unnest({toks}) AS term FROM documents
),
st AS (
  SELECT source, term, count(*) AS cnt_st FROM term_rows GROUP BY source, term
),
ct AS (SELECT term, CAST(sum(cnt_st) AS BIGINT) AS cnt_t FROM st GROUP BY term),
tot AS (SELECT CAST(sum(cnt_t) AS BIGINT) AS tot_c FROM ct),
contrib AS (
  SELECT source, cnt_st,
         CAST(round(-ln(cnt_t / CAST(tot_c AS DOUBLE)) * 1e6) AS BIGINT)
           * cnt_st AS nats_micro
  FROM st JOIN ct USING (term) CROSS JOIN tot
),
per_source AS (
  SELECT source, CAST(sum(cnt_st) AS BIGINT) AS n_tokens,
         CAST(sum(nats_micro) AS BIGINT) AS nats_total
  FROM contrib GROUP BY source
),
ps AS (
  SELECT source, n_tokens,
         CAST(nats_total // n_tokens AS BIGINT) AS loss_micro
  FROM per_source
),
fl AS (
  SELECT CAST(min(loss_micro) AS BIGINT) AS loss_floor,
         CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens
  FROM ps
),
weighted AS (
  SELECT source, n_tokens, loss_micro,
         loss_micro - loss_floor AS excess_micro,
         CAST(round(exp({eta} * least(loss_micro - loss_floor, 8000000) / 1e6)
                    * 1e6) AS BIGINT) AS factor_micro,
         CAST((n_tokens * 1000000) // corpus_tokens AS BIGINT)
           AS base_share_ppm
  FROM ps CROSS JOIN fl
),
w2 AS (
  SELECT *, (base_share_ppm * factor_micro) // 1000 AS w FROM weighted
),
wt AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM w2)
SELECT source, n_tokens, loss_micro, excess_micro, factor_micro,
       base_share_ppm,
       CAST((w * 1000000) // w_total AS BIGINT) AS doremi_share_ppm
FROM w2 CROSS JOIN wt"""


# ---------------------------------------------------------------------------
# Round-8 addition: checksum-validated PII scan (Luhn cards + IPv4)
# ---------------------------------------------------------------------------


def q_pii_scan_v2(spark, sf_dir):
    return CUR.pii_scan_v2(_docs(spark, sf_dir))


def _sql_pii_scan_v2() -> str:
    e, p = CUR.EMAIL_PATTERN, CUR.PHONE_PATTERN
    cc, ip = CUR.CC_CANDIDATE_PATTERN, CUR.IPV4_CANDIDATE_PATTERN
    luhn_term = (
        "(CASE WHEN i % 2 = 0 THEN 2 ELSE 1 END)"
        " * CAST(substr(d, len(d) - i + 1, 1) AS INTEGER)"
    )
    return f"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{e}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(
      regexp_replace(text, '{e}', '[EMAIL]', 'g'), '{p}')) AS BIGINT)
    AS n_phones,
  CAST(len(list_filter(
    list_transform(regexp_extract_all(text, '{cc}'),
                   c -> regexp_replace(c, '[^0-9]', '', 'g')),
    d -> len(d) BETWEEN 13 AND 19 AND
         list_reduce(list_prepend(0, list_transform(range(1, len(d) + 1),
           i -> {luhn_term} - 9 * (({luhn_term}) // 10))),
           (a, x) -> a + x) % 10 = 0
  )) AS BIGINT) AS n_cc_valid,
  CAST(len(list_filter(regexp_extract_all(text, '{ip}', 0),
    s -> len(list_filter(string_split_regex(s, '[.]'),
                         o -> CAST(o AS INTEGER) > 255)) = 0
  )) AS BIGINT) AS n_ipv4
FROM documents"""


# ---------------------------------------------------------------------------
# Round-8 addition: per-source marginal vocabulary novelty
# ---------------------------------------------------------------------------


def q_vocab_novelty(spark, sf_dir):
    return TA.vocab_novelty(_docs(spark, sf_dir))


def _sql_vocab_novelty() -> str:
    toks = TH.sql_tokens("text")
    return f"""
WITH term_rows AS (
  SELECT source, unnest({toks}) AS term FROM documents
),
sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens
  FROM term_rows GROUP BY source
),
ranks AS (
  SELECT source, n_tokens,
         CAST(row_number() OVER (ORDER BY n_tokens DESC, source) AS BIGINT)
           AS src_rank
  FROM sizes
),
st AS (SELECT DISTINCT source, term FROM term_rows),
first AS (
  SELECT term, min(src_rank) AS first_rank
  FROM st JOIN ranks USING (source) GROUP BY term
),
novelty AS (
  SELECT first_rank, CAST(count(*) AS BIGINT) AS n_new_terms
  FROM first GROUP BY first_rank
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS vocab_total FROM first),
cum AS (
  SELECT src_rank, source, n_tokens,
         CAST(coalesce(n_new_terms, 0) AS BIGINT) AS n_new_terms,
         CAST(sum(coalesce(n_new_terms, 0)) OVER (
           ORDER BY src_rank
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_terms
  FROM ranks LEFT JOIN novelty ON ranks.src_rank = novelty.first_rank
)
SELECT src_rank, source, n_tokens, n_new_terms, cum_terms,
       CAST((cum_terms * 1000000) // vocab_total AS BIGINT)
         AS vocab_coverage_ppm
FROM cum CROSS JOIN tot"""


# ---------------------------------------------------------------------------
# Round-8 addition: Efraimidis-Spirakis exact-size weighted sample
# ---------------------------------------------------------------------------


def q_weighted_sample_aes(spark, sf_dir):
    return CUR.weighted_sample_aes(_docs(spark, sf_dir))


def _sql_weighted_sample_aes() -> str:
    toks = TH.sql_tokens("text")
    h = TH.sql_token_hash("'aes:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH keyed AS (
  SELECT doc_id,
         CAST(len({toks}) AS BIGINT) AS w_tokens,
         CAST(round(ln(({h} + 1) / CAST({TH.HASH_P} AS DOUBLE))
                    / CAST(len({toks}) AS DOUBLE) * 1e9) AS BIGINT)
           AS key_nano
  FROM documents
  WHERE len({toks}) > 0
)
SELECT doc_id, w_tokens, key_nano
FROM keyed ORDER BY key_nano DESC, doc_id LIMIT {CUR.AES_SAMPLE_K}"""


# ---------------------------------------------------------------------------
# Round-9 additions: two-round Lloyd k-means, per-dimension embedding
# stats
# ---------------------------------------------------------------------------


def q_kmeans_lloyd2(spark, sf_dir):
    return SIM.kmeans_lloyd2(_emb(spark, sf_dir))


def _sql_kmeans_lloyd2() -> str:
    # Round-2 CTE chain on top of _kmeans_ctes(): integer-quantized
    # centroid update (truncated division mirrors Spark's `div` —
    # cohort_drift's pattern), then the same scored argmin.
    d2 = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(1, len(v) + 1), "
        "i -> (v[i] - cv[i]) * (v[i] - cv[i]))), (a, x) -> a + x)"
    )
    tdiv = "CASE WHEN sx < 0 THEN -((-sx) // n) ELSE sx // n END"
    return f"""
WITH {_kmeans_ctes()},
xm AS (
  SELECT k.cluster,
         unnest(list_transform(range(1, len(e.v) + 1),
                i -> {{'pos': i, 'xq': CAST(round(e.v[i] * 1e6) AS BIGINT)}}))
           AS u
  FROM kassign k JOIN e USING (vec_id)
),
cm AS (
  SELECT cluster, u.pos AS pos,
         CAST(sum(u.xq) AS BIGINT) AS sx, CAST(count(*) AS BIGINT) AS n
  FROM xm GROUP BY 1, 2
),
cent2 AS (
  SELECT cluster,
         list(CAST(({tdiv}) AS DOUBLE) / 1e6 ORDER BY pos) AS cv
  FROM cm GROUP BY cluster
),
kscored2 AS (
  SELECT e.vec_id, cent2.cluster, {d2} AS d2 FROM e, cent2
),
kassign2 AS (
  SELECT vec_id, cluster, d2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster)
      AS rn
    FROM kscored2
  ) WHERE rn = 1
),
n1 AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_round1
  FROM kassign GROUP BY cluster
),
p2 AS (
  SELECT a2.cluster,
         CAST(count(*) AS BIGINT) AS n_round2,
         CAST(sum(CASE WHEN a1.cluster <> a2.cluster THEN 1 ELSE 0 END)
              AS BIGINT) AS n_arrivals,
         CAST(sum(CAST(round(
             (CAST(round(a2.d2 * 1e6) AS BIGINT) / 1e6) * 1e6)
           AS BIGINT)) AS BIGINT) AS inertia_r2_micro
  FROM kassign2 a2 JOIN kassign a1 USING (vec_id)
  GROUP BY a2.cluster
)
SELECT CAST(coalesce(n1.cluster, p2.cluster) AS BIGINT) AS cluster,
       coalesce(n_round1, CAST(0 AS BIGINT)) AS n_round1,
       coalesce(n_round2, CAST(0 AS BIGINT)) AS n_round2,
       coalesce(n_arrivals, CAST(0 AS BIGINT)) AS n_arrivals,
       coalesce(inertia_r2_micro, CAST(0 AS BIGINT)) AS inertia_r2_micro
FROM n1 FULL OUTER JOIN p2 ON n1.cluster = p2.cluster"""


def q_dim_stats(spark, sf_dir):
    return SIM.dim_stats(_emb(spark, sf_dir))


def _sql_dim_stats() -> str:
    tdiv = "CASE WHEN sx < 0 THEN -((-sx) // n) ELSE sx // n END"
    return f"""
WITH x AS (
  SELECT unnest(list_transform(range(1, len(embedding) + 1),
         i -> {{'dim': CAST(i AS BIGINT),
               'xq': CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6)
                          AS BIGINT),
               'xq3': CAST(round(CAST(embedding[i] AS DOUBLE) * 1e3)
                           AS BIGINT)}})) AS u
  FROM embeddings
),
agg AS (
  SELECT u.dim AS dim, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(u.xq) AS BIGINT) AS sx,
         CAST(sum(u.xq3 * u.xq3) AS BIGINT) AS sxx3,
         CAST(min(u.xq) AS BIGINT) AS min_micro,
         CAST(max(u.xq) AS BIGINT) AS max_micro
  FROM x GROUP BY 1
)
SELECT dim, n, CAST(({tdiv}) AS BIGINT) AS mean_micro,
       sx AS sum_micro, sxx3 AS sumsq_milli2, min_micro, max_micro
FROM agg"""


def q_pmi_collocations(spark, sf_dir):
    return TA.pmi_collocations(_docs(spark, sf_dir))


def _sql_pmi_collocations() -> str:
    return f"""
WITH {_TOKS_CTE},
pairs AS (
  SELECT unnest(list_transform(range(1, len(t)),
                i -> {{'w1': t[i], 'w2': t[i + 1]}})) AS u
  FROM toks
),
pc AS (
  SELECT u.w1 AS w1, u.w2 AS w2, CAST(count(*) AS BIGINT) AS n_pair
  FROM pairs GROUP BY 1, 2 HAVING count(*) >= {TA.PMI_MIN_PAIR}
),
unig AS (SELECT unnest(t) AS term FROM toks),
uc AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM unig GROUP BY 1),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM unig),
scored AS (
  SELECT w1, w2, n_pair,
         CAST(round((ln(CAST(n_pair AS DOUBLE)) + ln(CAST(n AS DOUBLE))
                     - ln(CAST(a.c AS DOUBLE)) - ln(CAST(b.c AS DOUBLE)))
                    * 1e6) AS BIGINT) AS pmi_micro
  FROM pc JOIN uc a ON pc.w1 = a.term
          JOIN uc b ON pc.w2 = b.term
          CROSS JOIN nt
)
SELECT w1, w2, n_pair, pmi_micro
FROM scored ORDER BY pmi_micro DESC, w1, w2 LIMIT {TA.PMI_TOP_K}"""


def q_power_iteration(spark, sf_dir):
    return SIM.power_iteration(_emb(spark, sf_dir))


def _sql_power_iteration() -> str:
    # Unrolled von Mises iterations over the integer gram CTE. The
    # renormalizing division mirrors Spark's `div` (truncation toward
    # zero) with the explicit CASE — DuckDB's `//` floors.
    tdiv = (
        "CASE WHEN u < 0 THEN -(((-u) * 1000) // m) "
        "ELSE (u * 1000) // m END"
    )
    steps = []
    prev = "v0"
    for t in range(1, SIM.POWER_ITERS + 1):
        steps.append(f"""
u{t} AS (
  SELECT g.i AS dim, CAST(sum(g.gram * {prev}.v) AS BIGINT) AS u
  FROM gram g JOIN {prev} ON g.j = {prev}.dim GROUP BY 1
),
m{t} AS (
  SELECT greatest(CAST(max(abs(u)) AS BIGINT), CAST(1 AS BIGINT)) AS m
  FROM u{t}
),
v{t} AS (
  SELECT dim, CAST(({tdiv}) AS BIGINT) AS v FROM u{t} CROSS JOIN m{t}
)""")
        prev = f"v{t}"
    return f"""
WITH q AS (
  SELECT list_transform(embedding,
         x -> CAST(round(CAST(x AS DOUBLE) * {SIM.GRAM_SCALE}) AS BIGINT)) AS qv
  FROM embeddings
),
gram AS (
  SELECT a.i AS i, b.j AS j, CAST(sum(qv[a.i] * qv[b.j]) AS BIGINT) AS gram
  FROM q, range(1, {SIM.EMB_DIM} + 1) a(i), range(1, {SIM.EMB_DIM} + 1) b(j)
  GROUP BY a.i, b.j
),
v0 AS (
  SELECT unnest(range(1, {SIM.EMB_DIM} + 1)) AS dim, CAST(1000 AS BIGINT) AS v
),{",".join(steps)},
gv AS (
  SELECT g.i AS dim, CAST(sum(g.gram * {prev}.v) AS BIGINT) AS gv
  FROM gram g JOIN {prev} ON g.j = {prev}.dim GROUP BY 1
)
SELECT CAST({prev}.dim AS BIGINT) AS dim, {prev}.v AS v_milli, gv.gv AS gv
FROM {prev} JOIN gv USING (dim)"""


def q_mixture_apportion(spark, sf_dir):
    return CUR.apportion_mixture(_docs(spark, sf_dir))


def _sql_mixture_apportion() -> str:
    k = CUR.APPORTION_BATCH_DOCS
    tau = CUR.MIX_TEMPERATURE_MILLI / 1000.0
    return f"""
WITH d AS (
  SELECT source, len({TH.sql_tokens('text')}) AS n_toks FROM documents
),
per_source AS (
  SELECT source,
         CAST(round(pow(CAST(sum(n_toks) AS DOUBLE), {tau}) * 1e6)
              AS BIGINT) AS weight_micro
  FROM d GROUP BY source
),
t AS (SELECT CAST(sum(weight_micro) AS BIGINT) AS w_total FROM per_source),
scored AS (
  SELECT source, weight_micro,
         (CAST({k} AS BIGINT) * weight_micro) // w_total AS base_alloc,
         (CAST({k} AS BIGINT) * weight_micro) % w_total AS remainder
  FROM per_source CROSS JOIN t
),
bt AS (SELECT CAST(sum(base_alloc) AS BIGINT) AS base_total FROM scored),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY remainder DESC, source) AS rnk
  FROM scored
)
SELECT source, weight_micro, base_alloc, remainder,
       CAST(base_alloc + CASE WHEN rnk <= (CAST({k} AS BIGINT) - base_total)
                              THEN 1 ELSE 0 END AS BIGINT) AS alloc
FROM ranked CROSS JOIN bt"""
